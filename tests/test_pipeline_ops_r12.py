"""Unit tests for the r12 pipeline operators: within-doc line dedup,
C4 line-shape filters, robots.txt politeness gate, per-group embedding
centroids/outliers, and the hashing-trick linear scorer."""

from __future__ import annotations

from conftest import count_hash_exchanges

import hashlib
import math
from datetime import datetime

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# intra_doc_line_dedup
# ---------------------------------------------------------------------------

def test_intra_doc_line_dedup_hand_computed(spark):
    from sap_data_pipeline_spark.operators.corpus import intra_doc_line_dedup

    df = spark.createDataFrame(
        [(1, "alpha\nbeta\nalpha\ngamma\nbeta"),
         (2, "only\nunique\nlines")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in intra_doc_line_dedup(df).collect()}
    r1 = got[1]
    assert r1["n_lines"] == 5 and r1["n_kept"] == 3
    assert r1["n_dupes_removed"] == 2
    assert r1["chars_removed"] == len("alpha") + len("beta")
    assert r1["clean_text"] == "alpha\nbeta\ngamma"  # first occurrences, in order
    r2 = got[2]
    assert r2["n_dupes_removed"] == 0
    assert r2["clean_text"] == "only\nunique\nlines"


def test_intra_doc_line_dedup_trims_and_skips_blank_lines(spark):
    from sap_data_pipeline_spark.operators.corpus import intra_doc_line_dedup

    df = spark.createDataFrame(
        [(1, "  a  \n\n a\nb\n   \nb ")], "doc_id long, text string"
    )
    [r] = intra_doc_line_dedup(df).collect()
    # blank lines never count; '  a  ' and ' a' are the same trimmed line
    assert r["n_lines"] == 4 and r["n_kept"] == 2
    assert r["clean_text"] == "a\nb"


def test_intra_doc_line_dedup_is_shuffle_free(spark):
    from sap_data_pipeline_spark.operators.corpus import intra_doc_line_dedup

    df = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("x\nx\ny").alias("text")
    )
    plan = intra_doc_line_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# c4_line_filters
# ---------------------------------------------------------------------------

def test_c4_line_filters_hand_computed(spark):
    from sap_data_pipeline_spark.operators.corpus import c4_line_filters

    text = "\n".join([
        "this line has plenty of words and ends well.",   # kept
        "too short",                                      # dropped: <3 words
        "many words but no terminal punctuation here",    # dropped: terminal
        'he said "stop right there!"',                    # kept (quote end)
        "ok?",                                            # dropped: <3 words (rule order)
        "is this a well formed question?",                # kept
    ])
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    [r] = c4_line_filters(df).collect()
    assert r["n_lines"] == 6
    assert r["n_kept"] == 3
    assert r["n_dropped_short"] == 2        # 'too short' and 'ok?'
    assert r["n_dropped_terminal"] == 1
    assert r["clean_text"].splitlines()[0].endswith("well.")


def test_c4_line_filters_counts_sum_to_lines(spark):
    from sap_data_pipeline_spark.operators.corpus import c4_line_filters

    df = spark.createDataFrame(
        [(i, "good sentence number %d.\nbad line\nanother fine sentence here."
          % i) for i in range(20)],
        "doc_id long, text string",
    )
    for r in c4_line_filters(df).collect():
        assert r["n_kept"] + r["n_dropped_short"] + r["n_dropped_terminal"] \
            == r["n_lines"]


def test_line_ops_emit_blank_docs(spark):
    """An all-blank doc must emit the zero row, not vanish — silent
    drops are pipeline bugs (r12 ADVICE)."""
    from sap_data_pipeline_spark.operators.corpus import (
        c4_line_filters,
        intra_doc_line_dedup,
    )

    df = spark.createDataFrame(
        [(1, "  \n \n"), (2, "a line that ends well.\na line that ends well.")],
        "doc_id long, text string",
    )
    idl = {r["doc_id"]: r for r in intra_doc_line_dedup(df).collect()}
    assert set(idl) == {1, 2}
    assert (idl[1]["n_lines"], idl[1]["n_kept"], idl[1]["n_dupes_removed"],
            idl[1]["chars_removed"], idl[1]["clean_text"]) == (0, 0, 0, 0, "")
    assert idl[2]["n_kept"] == 1
    c4 = {r["doc_id"]: r for r in c4_line_filters(df).collect()}
    assert set(c4) == {1, 2}
    assert (c4[1]["n_lines"], c4[1]["n_kept"], c4[1]["n_dropped_short"],
            c4[1]["n_dropped_terminal"], c4[1]["clean_text"]) == (0, 0, 0, 0, "")


# ---------------------------------------------------------------------------
# robots_disallow_gate
# ---------------------------------------------------------------------------

def _rules(spark):
    return spark.createDataFrame(
        [("h1", "/a", False), ("h1", "/a/pub", True),
         ("h1", "/dup", True), ("h1", "/dup", False)],
        "host string, path_prefix string, allow boolean",
    )


def test_robots_gate_precedence(spark):
    from sap_data_pipeline_spark.operators.corpus import robots_disallow_gate

    frontier = spark.createDataFrame(
        [("https://h1/a/x",),        # /a disallow
         ("https://h1/a/pub/ok",),   # /a/pub allow (longer wins)
         ("https://h1/dup/z",),      # equal-length tie -> allow wins
         ("https://h1/free",),       # host has rules, none match -> allow
         ("https://nobody/a/x",),    # rule-less host -> allow
         ("//h1/a/y",),              # protocol-relative
         ("h1/a/z",)],               # bare
        "url string",
    )
    got = {r["url"]: r for r in
           robots_disallow_gate(frontier, _rules(spark)).collect()}
    assert len(got) == 7
    assert got["https://h1/a/x"]["allowed"] is False
    assert got["https://h1/a/x"]["matched_prefix"] == "/a"
    assert got["https://h1/a/pub/ok"]["allowed"] is True
    assert got["https://h1/a/pub/ok"]["matched_prefix"] == "/a/pub"
    assert got["https://h1/dup/z"]["allowed"] is True
    assert got["https://h1/free"]["allowed"] is True
    assert got["https://h1/free"]["matched_prefix"] is None
    assert got["https://nobody/a/x"]["allowed"] is True
    assert got["//h1/a/y"]["allowed"] is False   # scheme-relative strips
    assert got["h1/a/z"]["allowed"] is False     # bare host parses too


def test_robots_gate_rfc9309_wildcards(spark):
    """RFC 9309 §2.2.3: '*' matches any character sequence, trailing
    '$' anchors to the path end; precedence ranks by rule length."""
    from sap_data_pipeline_spark.operators.corpus import robots_disallow_gate

    rules = spark.createDataFrame(
        [("h1", "/*.php", False),        # the RFC's own example
         ("h1", "/*.php$", True),        # anchored: exact .php end only
         ("h1", "/p*", False),
         ("h1", "/private/ok", True),    # longer literal beats wildcard
         ("h1", "/q$", False)],          # anchored exact path
        "host string, path_prefix string, allow boolean",
    )
    frontier = spark.createDataFrame(
        [("https://h1/index.php",),      # both .php rules match, equal
                                         # length -> allow ($-anchored) wins
         ("https://h1/index.php?x=1",),  # only the unanchored rule -> deny
         ("https://h1/sub/a.php",),      # '*' crosses '/' -> deny... but
                                         # anchored also matches -> allow
         ("https://h1/zphp",),           # no dot, not under /p -> no match
         ("https://h1/private/ok",),     # literal allow beats /p*
         ("https://h1/private/no",),     # /p* -> deny
         ("https://h1/q",),              # /q$ exact -> deny
         ("https://h1/q/sub",)],         # /q$ does NOT match below -> allow
        "url string",
    )
    got = {r["url"]: (r["allowed"], r["matched_prefix"]) for r in
           robots_disallow_gate(frontier, rules).collect()}
    assert got["https://h1/index.php"] == (True, "/*.php$")
    assert got["https://h1/index.php?x=1"] == (False, "/*.php")
    assert got["https://h1/sub/a.php"] == (True, "/*.php$")
    assert got["https://h1/zphp"] == (True, None)
    assert got["https://h1/private/ok"] == (True, "/private/ok")
    assert got["https://h1/private/no"] == (False, "/p*")
    assert got["https://h1/q"] == (False, "/q$")
    assert got["https://h1/q/sub"] == (True, None)


def test_robots_gate_dedups_frontier_and_broadcasts_rules(spark):
    from sap_data_pipeline_spark.operators.corpus import robots_disallow_gate

    frontier = spark.createDataFrame(
        [("https://h1/a/x",)] * 5, "url string"
    )
    out = robots_disallow_gate(frontier, _rules(spark))
    assert out.count() == 1  # rank-1 per url dedups replicas
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


# ---------------------------------------------------------------------------
# group_centroids / centroid_outliers
# ---------------------------------------------------------------------------

def test_group_centroids_hand_computed(spark):
    from sap_data_pipeline_spark.operators.similarity import group_centroids

    emb = spark.createDataFrame(
        [(1, "a", [1.0, 2.0]), (2, "a", [3.0, 4.0]), (3, "b", [5.0, -1.0])],
        "vec_id long, src string, embedding array<double>",
    )
    got = {r["src"]: r for r in group_centroids(emb, "src").collect()}
    assert got["a"]["centroid"] == [2.0, 3.0]
    assert got["a"]["n_members"] == 2
    assert got["b"]["centroid"] == [5.0, -1.0]


def test_centroid_outliers_flags_antipodal_member(spark):
    from sap_data_pipeline_spark.operators.similarity import centroid_outliers

    emb = spark.createDataFrame(
        [(1, "a", [1.0, 0.0]), (2, "a", [1.0, 0.1]),
         (3, "a", [-1.0, 0.0])],  # antipodal -> negative cosine
        "vec_id long, src string, embedding array<double>",
    )
    got = {r["vec_id"]: r for r in
           centroid_outliers(emb, "src", threshold=0.0).collect()}
    assert got[1]["is_outlier"] is False
    assert got[3]["is_outlier"] is True
    assert got[3]["cosine_to_centroid"] < 0


def test_group_centroids_quantization_grain(spark):
    """Components quantize at 1e-9: values differing below the grain
    collapse (documented), values above it do not."""
    from sap_data_pipeline_spark.operators.similarity import group_centroids

    emb = spark.createDataFrame(
        [(1, "a", [0.1234567891]), (2, "a", [0.1234567893])],
        "vec_id long, src string, embedding array<double>",
    )
    [r] = group_centroids(emb, "src").collect()
    assert math.isclose(r["centroid"][0], 0.123456789, rel_tol=0, abs_tol=1e-9)


# ---------------------------------------------------------------------------
# hashed_gram_buckets / hashed_linear_score
# ---------------------------------------------------------------------------

def _py_bucket(gram: str, seed: int, n: int) -> int:
    h = hashlib.md5(f"s{seed}:{gram}".encode()).hexdigest()
    return int(h[:15], 16) % n


def test_hashed_buckets_match_python_replica(spark):
    from sap_data_pipeline_spark.functions import text as X

    df = spark.createDataFrame([("the quick brown fox",)], ["text"])
    [r] = df.select(
        X.hashed_gram_buckets(X.tokens("text"), n_buckets=64, seed=5)
        .alias("b")
    ).collect()
    toks = ["the", "quick", "brown", "fox"]
    grams = toks + ["the quick", "quick brown", "brown fox"]
    assert r["b"] == [_py_bucket(g, 5, 64) for g in grams]


def test_hashed_linear_score_hand_computed(spark):
    from sap_data_pipeline_spark.functions import text as X

    w = [round(((b * 37 + 11) % 199) / 199.0 - 0.5, 6) for b in range(64)]
    df = spark.createDataFrame([("alpha beta",), ("",)], ["text"])
    rows = df.select(
        X.hashed_linear_score(X.tokens("text"), w, seed=5).alias("s")
    ).collect()
    grams = ["alpha", "beta", "alpha beta"]
    expect = round(sum(w[_py_bucket(g, 5, 64)] for g in grams) / 3, 6)
    assert rows[0]["s"] == expect
    assert rows[1]["s"] == 0.0  # empty token array scores 0


def test_hashed_score_query_is_shuffle_free(spark):
    from sap_data_pipeline_spark.plans import catalog_ext  # noqa: F401
    from sap_data_pipeline_spark.plans.catalog import QUERIES

    df = QUERIES["hashed_ngram_score"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the only Exchange is the reader's deliberate round-robin spread of
    # the single small parquet file — no KEYED shuffle anywhere
    assert count_hash_exchanges(plan) == 0, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "EvalPython" not in plan, plan
    # tokenizer and gram-hash each live in their own projection tier:
    # exactly one expansion of the tokenize regex chain per row
    assert plan.count("regexp_replace(lower(") == 1, plan


def test_c4_and_centroid_plan_shapes(spark):
    """c4_line_filters: zero keyed exchanges (pure per-row rewrite).
    source_centroid_outliers: exactly two keyed exchanges — the
    (group, dim) partial-aggregated sums and the groups-sized array
    rebuild — plus a broadcast join back onto the scan."""
    from sap_data_pipeline_spark.plans import catalog_ext  # noqa: F401
    from sap_data_pipeline_spark.plans.catalog import QUERIES

    sf = "/root/testdata/sf0.001"
    p1 = QUERIES["c4_line_filters"](spark, sf)._jdf.queryExecution() \
        .executedPlan().toString()
    assert count_hash_exchanges(p1) == 0, p1

    p2 = QUERIES["source_centroid_outliers"](spark, sf)._jdf \
        .queryExecution().executedPlan().toString()
    assert count_hash_exchanges(p2) == 2, p2
    assert "BroadcastHashJoin" in p2, p2
    assert "EvalPython" not in p2, p2


def test_apply_line_filters_rewrites_in_place_and_is_shuffle_free(spark):
    from sap_data_pipeline_spark.operators.corpus import apply_line_filters

    df = spark.createDataFrame(
        [(1, "h9", "a good long sentence here.\nshort\n"
                    "a good long sentence here.\nno terminal punct line"),
         (2, "h9", "nope\nshort")],  # every line fails the shape rules
        "doc_id long, host string, text string",
    )
    r, empty = sorted(apply_line_filters(df).collect(), key=lambda r: r["doc_id"])
    # all original columns survive, text rewritten in place
    assert r["host"] == "h9"
    assert r["text"] == "a good long sentence here."
    assert r["lines_removed"] == 3  # short + non-terminal + duplicate
    assert empty["text"] == "" and empty["lines_removed"] == 2
    plan = apply_line_filters(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert count_hash_exchanges(plan) == 0, plan


# ---------------------------------------------------------------------------
# pack_efficiency_report / crawl-delay capping
# ---------------------------------------------------------------------------

def test_pack_efficiency_report_hand_computed(spark):
    from sap_data_pipeline_spark.operators.sampling import (
        pack_by_offset,
        pack_efficiency_report,
    )

    # one shard, budget 10: sizes 4,4,4 -> offsets 0,4,8 -> bins 0,0,0
    # (bin 0 carries 12 units: overflow), then 7 -> offset 12 -> bin 1
    df = spark.createDataFrame(
        [(1, 0, 4), (2, 0, 4), (3, 0, 4), (4, 0, 7)],
        "doc_id long, shard long, n long",
    )
    packed = pack_by_offset(df, "n", budget=10, shard_col="shard",
                            order_by=["doc_id"])
    got = {r["bin"]: r for r in
           pack_efficiency_report(packed, budget=10, size_col="n").collect()}
    assert got[0]["n_docs"] == 3 and got[0]["units"] == 12
    assert got[0]["overflow"] is True and got[0]["fill"] == 1.2
    assert got[1]["n_docs"] == 1 and got[1]["overflow"] is False


def test_crawl_schedule_delay_cap_binds(spark):
    from sap_data_pipeline_spark.operators.temporal import crawl_schedule

    # one volatile host with 6 urls; budget 6 -> uncapped schedules 6;
    # crawl_delay 5 over a 10-second cycle caps the host at 2
    rows = []
    eid = 0
    for p in range(6):
        for f in range(3):
            eid += 1
            rows.append((eid, f"hA/p{p}", datetime(2026, 1, 1 + f), f"c{f}"))
    rows.append((999, "hZ/px", datetime(2026, 1, 9), "z"))
    hist = spark.createDataFrame(
        rows,
        "event_id long, url string, fetch_ts timestamp, content_hash string",
    )
    uncapped = crawl_schedule(hist, 6, order_tiebreak="event_id").collect()
    assert len(uncapped) == 6
    delays = spark.createDataFrame(
        [("hA", 5)], "host string, crawl_delay_sec int"
    )
    capped = crawl_schedule(
        hist, 6, order_tiebreak="event_id", delays=delays, cycle_seconds=10,
    ).collect()
    assert len(capped) == 2
    assert sorted(r["rank_in_host"] for r in capped) == [1, 2]
    # a host NOT in the delays frame stays uncapped
    other = spark.createDataFrame(
        [("hQ", 1)], "host string, crawl_delay_sec int"
    )
    assert len(crawl_schedule(
        hist, 6, order_tiebreak="event_id", delays=other, cycle_seconds=10,
    ).collect()) == 6


def test_crawl_schedule_duplicate_host_delays_collapse(spark):
    """parse_robots_txt emits one Crawl-delay row per (host, block);
    duplicate host rows must not duplicate scheduled URLs, and the
    SLOWEST delay wins (the polite reading of conflicting groups)."""
    from sap_data_pipeline_spark.operators.temporal import crawl_schedule

    rows = []
    eid = 0
    for p in range(6):
        for f in range(3):
            eid += 1
            rows.append((eid, f"hA/p{p}", datetime(2026, 1, 1 + f), f"c{f}"))
    rows.append((999, "hZ/px", datetime(2026, 1, 9), "z"))  # staleness anchor
    hist = spark.createDataFrame(
        rows,
        "event_id long, url string, fetch_ts timestamp, content_hash string",
    )
    delays = spark.createDataFrame(
        [("hA", 2), ("hA", 5), ("hA", 2)],  # two blocks + a replay
        "host string, crawl_delay_sec int",
    )
    capped = crawl_schedule(
        hist, 6, order_tiebreak="event_id", delays=delays, cycle_seconds=10,
    ).collect()
    # max(delay)=5 -> floor(10/5)=2 fetches; no row multiplication
    assert len(capped) == 2
    assert sorted(r["rank_in_host"] for r in capped) == [1, 2]


def test_crawl_schedule_delays_require_cycle(spark):
    import pytest

    from sap_data_pipeline_spark.operators.temporal import crawl_schedule

    hist = spark.createDataFrame(
        [(1, "hA/p0", datetime(2026, 1, 1), "c0")],
        "event_id long, url string, fetch_ts timestamp, content_hash string",
    )
    delays = spark.createDataFrame(
        [("hA", 5)], "host string, crawl_delay_sec int"
    )
    with pytest.raises(ValueError):
        crawl_schedule(hist, 5, delays=delays)


# ---------------------------------------------------------------------------
# parse_robots_txt
# ---------------------------------------------------------------------------

def test_parse_robots_txt_grammar(spark):
    from sap_data_pipeline_spark.operators.corpus import parse_robots_txt

    body = "\n".join([
        "User-agent: googlebot",      # non-star group
        "Disallow: /google-only",     # must NOT emit
        "",
        "# politeness section",
        "User-agent: *",
        "User-agent: testbot",        # consecutive UA: same group
        "Disallow: /a   # trailing comment",
        "Allow: /a/pub",
        "Crawl-delay: 5",
        "Disallow:",                  # empty value: allow-all, skipped
        "crawl-delay: oops",          # invalid number: ignored
        "DISALLOW: /caps",            # case-insensitive key
    ])
    df = spark.createDataFrame([("h1", body)], "host string, robots_txt string")
    rows = parse_robots_txt(df).collect()
    rules = {(r["path_prefix"], r["allow"]) for r in rows
             if r["path_prefix"] is not None}
    assert rules == {("/a", False), ("/a/pub", True), ("/caps", False)}
    delays = [r["crawl_delay_sec"] for r in rows
              if r["crawl_delay_sec"] is not None]
    assert delays == [5]
    assert not any(r["path_prefix"] == "/google-only" for r in rows)


def test_parse_robots_txt_directives_before_any_group_ignored(spark):
    from sap_data_pipeline_spark.operators.corpus import parse_robots_txt

    df = spark.createDataFrame(
        [("h1", "Disallow: /early\nUser-agent: *\nDisallow: /ok"),
         ("h2", "User-agent: other\nDisallow: /x")],
        "host string, robots_txt string",
    )
    rows = parse_robots_txt(df).collect()
    assert {(r["host"], r["path_prefix"]) for r in rows} == {("h1", "/ok")}


def test_parse_robots_feeds_gate_end_to_end(spark):
    """fetch robots.txt -> parse -> gate: the full politeness pipeline."""
    from sap_data_pipeline_spark.operators.corpus import (
        parse_robots_txt,
        robots_disallow_gate,
    )

    robots = spark.createDataFrame(
        [("h1", "User-agent: *\nDisallow: /private\nAllow: /private/pub")],
        "host string, robots_txt string",
    )
    rules = parse_robots_txt(robots).filter(
        "path_prefix IS NOT NULL").drop("crawl_delay_sec")
    frontier = spark.createDataFrame(
        [("https://h1/private/x",), ("https://h1/private/pub/y",),
         ("https://h1/open",)], "url string",
    )
    got = {r["url"]: r["allowed"] for r in
           robots_disallow_gate(frontier, rules).collect()}
    assert got == {"https://h1/private/x": False,
                   "https://h1/private/pub/y": True,
                   "https://h1/open": True}


# ---------------------------------------------------------------------------
# sitemap_url_extract
# ---------------------------------------------------------------------------

def test_sitemap_extract_grammar(spark):
    from sap_data_pipeline_spark.operators.corpus import sitemap_url_extract

    xml = (
        "<urlset>"
        "<url>\n  <loc> https://h1/a </loc>\n"
        "<lastmod>2024-03-05T10:00:00+00:00</lastmod>"
        "<priority>0.8</priority></url>"
        "<URL><LOC>https://h1/b</LOC><changefreq>DAILY</changefreq></URL>"
        "<url><priority>0.5</priority></url>"          # loc-less: skipped
        "<url><loc>https://h1/c</loc><priority>junk</priority></url>"
    )
    df = spark.createDataFrame([("h1", xml)], "host string, sitemap_xml string")
    got = {r["url"]: r for r in sitemap_url_extract(df).collect()}
    assert set(got) == {"https://h1/a", "https://h1/b", "https://h1/c"}
    a = got["https://h1/a"]
    assert a["lastmod"] == "2024-03-05" and a["priority"] == 0.8
    b = got["https://h1/b"]
    assert b["changefreq"] == "daily" and b["lastmod"] is None
    assert got["https://h1/c"]["priority"] is None  # junk degrades to NULL


def test_sitemap_extract_entities_and_cdata(spark):
    """Sitemaps protocol: <loc> URLs arrive entity-escaped — decode
    named + ASCII numeric refs; CDATA content is verbatim (XML decodes
    nothing inside CDATA); out-of-range refs pass through."""
    from sap_data_pipeline_spark.operators.corpus import sitemap_url_extract

    xml = (
        "<urlset>"
        "<url><loc>https://h1/s?a=1&amp;b=2&#47;c&#x2F;d&apos;e&#955;</loc>"
        "<lastmod>2024&#45;02-20T08:00:00Z</lastmod></url>"
        "<url><loc><![CDATA[https://h1/cd?x=1&y=2&amp;z]]></loc>"
        "<changefreq>&#87;EEKLY</changefreq></url>"
        "</urlset>"
    )
    df = spark.createDataFrame([("h1", xml)], "host string, sitemap_xml string")
    got = {r["url"]: r for r in sitemap_url_extract(df).collect()}
    esc = "https://h1/s?a=1&b=2/c/d'e&#955;"
    cd = "https://h1/cd?x=1&y=2&amp;z"
    assert set(got) == {esc, cd}
    assert got[esc]["lastmod"] == "2024-02-20"  # decode BEFORE substr
    assert got[cd]["changefreq"] == "weekly"    # decode BEFORE lower


def test_xml_unescape_single_pass(spark):
    """'&amp;#38;' must decode to '&#38;' and STOP — the sentinel-split
    single pass never cascades the way chained global replaces would."""
    from sap_data_pipeline_spark.functions.text import xml_unescape

    rows = [("&amp;#38;", "&#38;"), ("&#38;amp;", "&amp;"),
            ("&bogus;", "&bogus;"), ("tail&", "tail&"),
            ("&#999999999999;", "&#999999999999;")]
    df = spark.createDataFrame([(s,) for s, _ in rows], "s string")
    got = [r[0] for r in df.select(xml_unescape("s")).collect()]
    assert got == [e for _, e in rows]


def test_sitemap_extract_is_projection_only(spark):
    from sap_data_pipeline_spark.operators.corpus import sitemap_url_extract

    df = spark.createDataFrame(
        [("h1", "<url><loc>https://h1/x</loc></url>")],
        "host string, sitemap_xml string",
    )
    plan = sitemap_url_extract(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan, plan
