"""Seeded input generators for the benchmark workloads.

Everything the program under test reads is written here, from one
``numpy.random.Generator``: the same seed gives byte-identical files.
The program sees only the files; the truth tables returned alongside
them are what the output checks compare against.
"""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BANNER = "ZMB51 export\t\t\t\t\t\t\n{day} scheduled extract\t\t\t\t\t\t\n"
ZMB51_HEADER = "\tArticle\tSite\tPstng Date\tQuantity i\tAmount LC\tBUn\n"
TSV_HEADER = "Article\tSite\tDate\tQuantity\tCost\tBUn\n"
UNITS = ("EA", "CS", "KG", "PK", "BX")

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window order data column join small big customer query "
    "filter group stream vector is of and to in"
).split()
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.15), ("de", 0.14), ("fr", 0.12))


def _ts(days: np.ndarray, base: str) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Word-salad documents over a small vocabulary, with planted exact
    copies and one-word edits so the dedup stages have work to do."""
    lengths = rng.integers(8, 90, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    # copies are made of untouched documents only, so every duplicate
    # cluster is a star around its original: the clustering converges in
    # the same few rounds whatever the seed
    originals = []
    for i in range(n):
        roll = rng.random()
        if originals and roll < 0.04:  # exact re-post
            texts[i] = texts[originals[int(rng.integers(0, len(originals)))]]
        elif originals and roll < 0.12:  # near-duplicate: one word replaced
            toks = texts[originals[int(rng.integers(0, len(originals)))]].split()
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[i] = " ".join(toks)
        else:
            originals.append(i)
    lang_p = np.array([p for _, p in LANGS])
    langs = rng.choice([lg for lg, _ in LANGS], n, p=lang_p / lang_p.sum())
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_star(rng: np.random.Generator, out: str, *, sf: float, n_docs: int) -> None:
    """A TPC-H-shaped star schema plus the events/documents/embeddings
    tables, in the layout ``sources.readers.load_star`` reads."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_vec, dim = int(1_000_000 * sf), n_docs, 64

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = ["red", "blue", "small", "large", "hot", "old", "green", "shiny"]
    noun = ["ring", "plate", "widget", "rod", "bolt", "gear", "tube", "cap"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price,
    })
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(odays, "1995-01-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    okey = rng.integers(0, n_ord, n_line)
    pkey = rng.integers(0, n_part, n_line)
    skey = rng.integers(0, n_supp, n_line)
    # a few fast movers: articles sold at one store in most weeks, so the
    # store reorder-point review (which gates on weeks with sales) has rows
    hot = rng.random(n_line) < 0.05
    pkey[hot] = rng.integers(0, 12, int(hot.sum()))
    skey[hot] = 10 * rng.integers(0, n_supp // 10, int(hot.sum()))
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": okey.astype(np.int64),
        "l_partkey": pkey.astype(np.int64),
        "l_suppkey": skey.astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(odays[okey] + rng.integers(1, 122, n_line), "1995-01-01"),
    })
    secs = np.sort(rng.integers(0, 30 * 86400, n_events)) * 1_000_000
    _write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + secs.astype("timedelta64[us]")
                       + rng.integers(0, 1_000_000, n_events).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, n_cust // 10), n_events).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_events)],
        "value": np.round(rng.gamma(1.5, 40.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    pq.write_table(pa.Table.from_pandas(_documents(rng, n_docs), preserve_index=False),
                   os.path.join(out, "documents.parquet"))
    centers = rng.normal(0, 1, (10, dim))
    labels = rng.integers(0, 10, n_vec)
    vecs = (centers[labels] + rng.normal(0, 0.6, (n_vec, dim))).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def _dirty(v: Decimal, rng: np.random.Generator) -> str:
    """SAP number rendering: thousands commas, trailing minus."""
    s = f"{abs(v):,.2f}" if rng.random() < 0.7 else f"{abs(v):.2f}"
    return s + "-" if v < 0 else s


def _article(a: int, rng: np.random.Generator) -> str:
    return "0" * int(rng.integers(0, 4)) + str(a)


def write_sap_backlog(rng: np.random.Generator, out: str, *, n_days: int,
                      files_per_day: int, rows_per_file: int,
                      n_articles: int, n_sites: int) -> dict:
    """Daily ZMB51 goods-movement exports.

    Each day's batch posts to its own date and also carries late lines
    for earlier dates.  Late lines use articles no other batch posts on
    that date, so the keyed MERGE rewrites old partitions, and the
    replay of the whole backlog in one batch sums to the same fact.

    Returns the truth: every movement line as (article, site, date,
    quantity, cost, unit, day), plus the per-day file lists.
    """
    day0 = dt.date(2024, 1, 1)
    moves, days = [], []
    for d in range(n_days):
        mdir = os.path.join(out, f"day{d:03d}")
        os.makedirs(mdir)
        files = []
        for f in range(files_per_day):
            lines = []
            for _ in range(rows_per_file):
                if d > 0 and rng.random() < 0.1:  # a late line for an earlier date
                    art = n_articles + d * 1000 + int(rng.integers(0, 1000))
                    date = day0 + dt.timedelta(days=int(rng.integers(0, d)))
                else:
                    art = int(rng.integers(1000, n_articles))
                    date = day0 + dt.timedelta(days=d)
                site = str(1000 + int(rng.integers(0, n_sites)))
                qty = Decimal(int(rng.integers(-500, 5000))) / 2
                cost = Decimal(int(rng.integers(-50_000, 500_000))) / 100
                unit = UNITS[art % len(UNITS)]
                moves.append((art, site, date, qty, cost, unit, d))
                lines.append("\t".join((
                    "", _article(art, rng), site, date.strftime("%m/%d/%Y"),
                    _dirty(qty, rng), _dirty(cost, rng), unit,
                )))
            path = os.path.join(mdir, f"ZMB51_{d:03d}_{f:02d}.txt")
            with open(path, "w") as fh:
                fh.write(BANNER.format(day=d) + ZMB51_HEADER + "\n".join(lines) + "\n")
            files.append(path)
        days.append({"files": files})

    return {"days": days, "moves": moves}


def write_tsv_batches(rng: np.random.Generator, out: str, *, n_files: int,
                      rows_per_file: int, n_articles: int, n_sites: int) -> list:
    """Clean TSV micro-batch files for the streaming MERGE.  Keys are
    unique within a file and repeat across files, so later files update
    earlier rows.  Returns the truth rows in file order."""
    os.makedirs(out)
    truth = []
    day0 = dt.date(2024, 3, 1)
    for f in range(n_files):
        keys = set()
        while len(keys) < rows_per_file:
            keys.add((int(rng.integers(1000, n_articles)),
                      str(1000 + int(rng.integers(0, n_sites))),
                      day0 + dt.timedelta(days=int(rng.integers(0, 7)))))
        lines = []
        for art, site, date in sorted(keys):
            qty = Decimal(int(rng.integers(-500, 5000))) / 2
            cost = Decimal(int(rng.integers(-50_000, 500_000))) / 100
            truth.append((f, str(art), site, date, qty, cost, UNITS[art % len(UNITS)]))
            lines.append(f"{art}\t{site}\t{date.isoformat()}\t{qty}\t{cost}\t"
                         f"{UNITS[art % len(UNITS)]}")
        with open(os.path.join(out, f"part-{f:03d}.tsv"), "w") as fh:
            fh.write(TSV_HEADER + "\n".join(lines) + "\n")
    return truth


def write_decontam_set(rng: np.random.Generator, out: str, docs: pd.DataFrame, *,
                       share: float) -> str:
    """A benchmark set for span decontamination: passages of 12 words
    lifted from ``share`` of the documents (at least two), so the
    corpus build has leaked spans to remove."""
    os.makedirs(out, exist_ok=True)
    long_docs = docs[docs["text"].str.split().str.len() >= 12]
    pick = rng.choice(len(long_docs), max(2, int(len(docs) * share)), replace=False)
    texts = []
    for i in pick:
        toks = long_docs["text"].iat[int(i)].split()
        at = int(rng.integers(0, len(toks) - 11))
        texts.append(" ".join(toks[at:at + 12]))
    path = os.path.join(out, "decontam.parquet")
    pq.write_table(pa.table({"text": texts}), path)
    return path


def write_crawl_batch(rng: np.random.Generator, out: str, docs: pd.DataFrame, *,
                      n_crawl: int) -> str:
    """A crawl batch: re-crawls of corpus documents, within-batch copies
    and fresh pages, with the host derived from ``doc_id``."""
    os.makedirs(out, exist_ok=True)
    n = len(docs)
    fresh = _documents(rng, n_crawl)["text"].tolist()
    texts = []
    for i in range(n_crawl):
        roll = rng.random()
        if roll < 0.2:
            texts.append(docs["text"].iat[int(rng.integers(0, n))])  # re-crawl
        elif roll < 0.3 and texts:
            texts.append(texts[int(rng.integers(0, len(texts)))])  # copy in batch
        else:
            texts.append(fresh[i] + f" page {i}")
    ids = np.arange(n_crawl, dtype=np.int64) + 20_000_000
    crawl = pd.DataFrame({"doc_id": ids, "text": texts,
                          "host": [f"h{(i * 7) % 23}.example.com" for i in ids]})
    crawl_path = os.path.join(out, "crawl_batch.parquet")
    pq.write_table(pa.Table.from_pandas(crawl, preserve_index=False), crawl_path)
    return crawl_path
