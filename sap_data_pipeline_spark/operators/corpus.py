"""Corpus-level text operators: training-window chunking and TF-IDF.

Complements ``operators/sampling.py`` (split / mix / pack) on the
document-content side: chunking turns documents into model-context-sized
training windows; TF-IDF surfaces the terms that characterize each
document against the corpus (keyword extraction, quality triage,
lightweight retrieval).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sap_data_pipeline_spark.functions import text as X


def chunk_documents(df: DataFrame, *, budget: int = 64, overlap: int = 16,
                    text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Sliding-window chunking: split each document's token sequence into
    windows of ``budget`` tokens advancing by ``budget - overlap`` — the
    standard context-window preparation for training (overlap preserves
    cross-boundary context; the final window may be shorter).

    Returns (id, chunk_idx, start_tok, n_chunk_tokens, chunk_text).

    Scale shape: tokenize → ``sequence``/``posexplode`` for the window
    starts → ``slice`` per window — all per-row higher-order expressions
    inside codegen, ZERO shuffles; output size is corpus tokens ×
    (budget / step) with no driver involvement.  Pair with
    ``sampling.pack_by_offset`` to pack the emitted chunks into fixed
    training bins.
    """
    step = budget - overlap
    assert step > 0, "budget must exceed overlap"
    toks = df.select(F.col(id_col), X.tokens(text_col).alias("_t")).filter(
        F.size("_t") > 0
    )
    started = toks.select(
        F.col(id_col),
        F.col("_t"),
        F.posexplode(
            F.sequence(F.lit(0), F.size("_t") - 1, F.lit(step))
        ).alias("chunk_idx", "start_tok"),
    )
    chunk = F.slice(F.col("_t"), F.col("start_tok") + 1, budget)
    return started.select(
        F.col(id_col),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("start_tok").cast("int").alias("start_tok"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def dedup_lines(df: DataFrame, *, min_count: int = 2, line_sep: str = "\n",
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """C4-style line deduplication: drop every line that occurs at least
    ``min_count`` times across the CORPUS (boilerplate headers, cookie
    banners, navigation chrome), keeping document structure otherwise.

    Returns (id, cleaned_text, n_lines_kept, n_lines_removed) — one row
    per input document (a fully-boilerplate document keeps an empty
    cleaned_text rather than vanishing, so accounting stays exact).

    Scale shape: posexplode lines → ONE line-keyed window count (the
    canonical corpus-frequency shuffle — the window's exchange is the
    only line-keyed movement; a count-then-join would shuffle twice) →
    one doc-keyed groupBy that reassembles kept lines in original order
    via sort_array(collect_list(struct(idx, line))).  Line state per key
    is a single count — no text accumulates on the line key.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias("idx", "line"),
    )
    from pyspark.sql.window import Window

    counted = lines.withColumn(
        "_cnt", F.count(F.lit(1)).over(Window.partitionBy("line"))
    )
    keep = F.col("_cnt") < min_count
    return (
        counted.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct(F.col("idx"), F.col("line")))
                        )
                    ),
                    lambda s: s["line"],
                ),
                line_sep,
            ).alias("cleaned_text"),
            F.sum(keep.cast("long")).alias("n_lines_kept"),
            F.sum((~keep).cast("long")).alias("n_lines_removed"),
        )
    )


def host_boilerplate_removal(df: DataFrame, *, host_col: str = "host",
                             threshold_pct: int = 50, min_docs: int = 3,
                             line_sep: str = "\n", text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """Per-host boilerplate line removal: drop every line that appears in
    at least ``threshold_pct`` percent of a host's documents, for hosts
    with at least ``min_docs`` documents — the RefinedWeb / CCNet-style
    site-chrome filter (navigation menus, cookie banners, footers repeat
    on *one site's* pages without being corpus-global, so corpus-global
    line dedup — :func:`dedup_lines` — misses them, and a naive global
    threshold would nuke legitimately common short lines).

    Returns one row per input document: (id, host, n_lines,
    n_boilerplate_removed, cleaned_text) with surviving lines re-joined
    in original order.  ``threshold_pct`` is an integer percentage so
    the cut compares ``100·line_docs ≥ threshold_pct·host_docs`` in
    exact integer arithmetic — no float-boundary drift between engines.

    Scale shape: posexplode lines → distinct (host, line, doc) →
    ONE (host, line)-keyed count shuffle for line document-frequency and
    one host-keyed count for host size (narrow aggregates; per-key state
    is a single long).  The boilerplate verdict joins the two on the
    host key, and the per-line keep-flag comes from a LEFT join of lines
    against the boilerplate set on (host, line) — both shuffles are
    keyed by (host, line), so AQE coalesces them; a pathological
    mega-host skews only its own key range and is exactly the case
    where per-host thresholds shrink the flagged set.  Reassembly is
    the same doc-keyed sort_array(collect_list(struct)) as
    :func:`dedup_lines`.
    """
    if not 0 < threshold_pct <= 100:
        raise ValueError(f"threshold_pct must be in (0, 100]: {threshold_pct}")
    lines = df.select(
        F.col(id_col),
        F.col(host_col),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias("idx", "line"),
    )
    host_docs = (
        df.select(host_col, id_col)
        .distinct()
        .groupBy(host_col)
        .agg(F.count(F.lit(1)).alias("_host_docs"))
    )
    line_docs = (
        lines.select(host_col, "line", id_col)
        .distinct()
        .groupBy(host_col, "line")
        .agg(F.count(F.lit(1)).alias("_line_docs"))
    )
    boiler = (
        line_docs.join(host_docs, host_col)
        .filter(
            (F.col("_host_docs") >= min_docs)
            & (F.col("_line_docs") * 100 >= F.col("_host_docs") * threshold_pct)
        )
        .select(host_col, "line", F.lit(True).alias("_boiler"))
    )
    flagged = lines.join(boiler, [host_col, "line"], "left")
    keep = F.col("_boiler").isNull()
    return (
        flagged.groupBy(id_col)
        .agg(
            F.first(host_col).alias(host_col),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct(F.col("idx"), F.col("line")))
                        )
                    ),
                    lambda s: s["line"],
                ),
                line_sep,
            ).alias("cleaned_text"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum((~keep).cast("long")).alias("n_boilerplate_removed"),
        )
        .select(
            id_col, host_col, "n_lines", "n_boilerplate_removed", "cleaned_text"
        )
    )


def top_ngrams(df: DataFrame, *, n: int = 2, k: int = 20,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus-wide top-``k`` word n-grams by occurrence count (vocabulary
    building, boilerplate discovery, BPE-merge seeding).  Ties break to
    the lexicographically smaller n-gram for a deterministic cut.

    Scale shape: explode → ONE n-gram-keyed count (map-side partial
    aggregation absorbs the heavy hitters before the shuffle — heavy
    keys are exactly the ones partial agg compresses best) → global
    top-k, which Spark executes as TakeOrderedAndProject (per-partition
    heaps + driver merge of k rows), never a full sort.
    """
    grams = df.select(F.explode(X.word_ngrams(text_col, n)).alias("ngram"))
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(k)
    )


def tf_idf_top_terms(df: DataFrame, *, k: int = 5,
                     text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-``k`` TF-IDF terms per document.

    tf = term count / doc token count; idf = ln((N+1)/(df+1)) with N =
    corpus size, df = docs containing the term.  Scores are ROUNDED to 6
    decimals BEFORE ranking (ties → lexicographically smaller term) so
    the ranking is reproducible across engines — rank-then-round would
    let a 1-ulp ``ln`` difference reorder the boundary.

    Scale shape: THREE hash exchanges total (plan-pinned) — the
    (doc, term) count, a term-keyed window for document frequency, and
    a doc-keyed window for the doc length; the final top-k rank window
    REUSES the doc partitioning (sort only, no fourth exchange).  The
    join formulation of the same query costs six exchanges: every
    aggregate branches off and joins back with its own reshuffle.  The
    corpus size N rides in as a broadcast one-row frame.  Returns
    (id, term, tf_idf, rank).
    """
    from pyspark.sql.window import Window

    terms = df.select(F.col(id_col), F.explode(X.tokens(text_col)).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("cnt"))
    n_docs = df.select(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    scored = (
        tf.withColumn(
            "n_docs_with", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .withColumn("n_toks", F.sum("cnt").over(Window.partitionBy(id_col)))
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.col("term"),
            F.round(
                (F.col("cnt").cast("double") / F.col("n_toks").cast("double"))
                * F.log(
                    (F.col("_n_docs") + F.lit(1.0))
                    / (F.col("n_docs_with").cast("double") + F.lit(1.0))
                ),
                6,
            ).alias("tf_idf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tf_idf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf_idf", "rank")
    )


def unigram_logprob(df: DataFrame, *, text_col: str = "text",
                    id_col: str = "doc_id", vocab_size: int | None = None,
                    ) -> DataFrame:
    """Perplexity-proxy document scoring under the corpus's OWN unigram
    LM (the CCNet-style quality filter: rank documents by how "ordinary"
    their vocabulary is; gibberish, boilerplate, and wrong-language text
    score high).  Score = mean over tokens of ``-ln(c_term / N)`` with
    ``c_term`` the corpus count and ``N`` total corpus tokens.  Returns
    (id, n_tokens, avg_neg_logprob); scores round to 6 decimals so the
    value is reproducible across engines (a 1-ulp ``ln`` difference
    cannot move the rounded score).

    Scale shape (full vocabulary): THREE hash exchanges — the (doc,
    term) count, a term-keyed window for corpus term counts (reusing
    the tf frame, not a join back to raw tokens), and the final
    doc-keyed aggregate; ``N`` rides in as a broadcast one-row frame
    computed by a shuffle-free rescan.  With ``vocab_size`` set (the
    100 TB path), the LM is pruned to the top-V terms — broadcast-sized
    — and the term-keyed window is replaced by a broadcast join;
    out-of-vocabulary tokens take the floor probability ``1 / (N + 1)``
    (add-one smoothing's unseen mass), so scores stay finite and the
    full vocabulary never shuffles.
    """
    from pyspark.sql.window import Window

    tf = (
        df.select(F.col(id_col), F.explode(X.tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = df.select(
        F.sum(F.size(X.tokens(text_col))).cast("double").alias("_n_total")
    )
    if vocab_size is None:
        with_c = tf.withColumn(
            "c_term", F.sum("cnt").over(Window.partitionBy("term"))
        )
        logp = -F.log(F.col("c_term").cast("double") / F.col("_n_total"))
    else:
        vocab = (
            tf.groupBy("term")
            .agg(F.sum("cnt").alias("c_term"))
            .orderBy(F.desc("c_term"), F.asc("term"))
            .limit(vocab_size)
        )
        with_c = tf.join(F.broadcast(vocab), "term", "left")
        logp = -F.log(
            F.coalesce(F.col("c_term").cast("double"), F.lit(None))
            / F.col("_n_total")
        )
        logp = F.coalesce(logp, -F.log(F.lit(1.0) / (F.col("_n_total") + 1)))
    return (
        with_c.crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("cnt").cast("double") * logp) / F.sum(F.col("cnt").cast("double")),
                6,
            ).alias("avg_neg_logprob"),
        )
    )


def count_min_cells(df: DataFrame, *, text_col: str = "text",
                    depth: int = 4, width: int = 1024,
                    seed: int = 41) -> DataFrame:
    """Build a Count-Min sketch of corpus token frequencies as a
    (row, bucket, cnt) cell frame — ``depth × width`` cells regardless
    of vocabulary size, the fixed-memory mergeable alternative to an
    exact term-frequency table (mergeable: cell frames from corpus
    shards ADD — union + re-aggregate — which an exact top-k cannot).

    Scale shape: tokens explode map-side into ``depth`` (row, bucket)
    keys each; ONE hash exchange aggregates to at most depth·width
    cells.  Hashes are the portable md5-based ``hash64`` so an external
    engine (or the DuckDB oracle) reconstructs the sketch BIT-EXACTLY —
    the estimates, not just the contract, are cross-checkable.
    """
    toks = df.select(F.explode(X.tokens(text_col)).alias("term"))
    rows = toks.select(
        F.posexplode(
            F.array(*[
                F.pmod(X.hash64(F.col("term"), seed=seed + d), F.lit(width))
                for d in range(depth)
            ])
        ).alias("row", "bucket")
    )
    return rows.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def count_min_probe(cells: DataFrame, probes: DataFrame, *,
                    term_col: str = "term", depth: int = 4,
                    width: int = 1024, seed: int = 41) -> DataFrame:
    """Probe a Count-Min cell frame: estimate(term) = min over rows of
    the term's cell count.  Estimates NEVER undercount (each cell is a
    superset of the term's occurrences); overcount is bounded by
    collision mass ~ N/width per row, minimized across ``depth`` rows.
    The cell frame is depth·width rows → broadcast to the probe side.
    """
    keyed = probes.select(
        F.col(term_col),
        F.posexplode(
            F.array(*[
                F.pmod(X.hash64(F.col(term_col), seed=seed + d), F.lit(width))
                for d in range(depth)
            ])
        ).alias("row", "bucket"),
    )
    return (
        keyed.join(F.broadcast(cells), ["row", "bucket"], "left")
        .groupBy(term_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cms_estimate"))
    )


def sharded_distinct_estimate(df: DataFrame, col: str, *,
                              shard_col: str,
                              lg_k: int = 12) -> DataFrame:
    """Shard-parallel distinct counting with MERGEABLE HLL sketches
    (Apache DataSketches via Spark's ``hll_sketch_agg`` /
    ``hll_union_agg``): each shard sketches independently, sketches
    union associatively, and the estimate comes from the union — the
    only distinct-count shape that works when shards are processed at
    different times or sites (an exact distinct re-shuffles the union
    of all shards; ``approx_count_distinct`` cannot expose its sketch
    for reuse).

    Returns one row: (n_shards, merged_estimate).  Per-shard sketch is
    one partial-agg pass; the union reduces shard-count rows.
    """
    shard_sketches = df.groupBy(shard_col).agg(
        F.hll_sketch_agg(F.col(col).cast("string"), F.lit(lg_k)).alias("sk")
    )
    return shard_sketches.agg(
        F.count(F.lit(1)).cast("long").alias("n_shards"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias(
            "merged_estimate"
        ),
    )


def compression_ratio(df: DataFrame, *, text_col: str = "text",
                      id_col: str = "doc_id", level: int = 6) -> DataFrame:
    """Per-document zlib compression ratio — the Dolma/RedPajama-style
    repetition proxy: boilerplate-heavy or looping text compresses far
    below natural prose (ratio = compressed/raw bytes; natural English
    sits around 0.3–0.5, templated spam well under 0.2), and unlike the
    Gopher word-level metrics it also catches character-level and
    long-range repetition.

    Returns (id, n_bytes, n_compressed, compression_ratio).

    This is one of the repo's few Python stages: Spark has no
    compression expression, so the codec runs in an Arrow-batched
    ``mapInPandas`` (same legitimacy class as the multimodal decoders —
    C-speed zlib per document, batch transfer via Arrow, ZERO shuffles;
    the stage is a pure per-row map that pipelines with the scan).
    """
    import zlib

    from pyspark.sql import types as T

    schema = T.StructType([
        df.schema[id_col],
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("n_compressed", T.IntegerType()),
        T.StructField("compression_ratio", T.DoubleType()),
    ])

    def score(batches):
        import pandas as pd

        for pdf in batches:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            nb = raw.str.len()
            nc = raw.map(lambda b: len(zlib.compress(b, level)))
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "n_bytes": nb.astype("int32"),
                "n_compressed": nc.astype("int32"),
                "compression_ratio": (
                    nc / nb.where(nb > 0, other=pd.NA)
                ).astype("float64").fillna(0.0).round(6),
            })

    return df.select(id_col, text_col).mapInPandas(score, schema)


def _bpe_words(text: str) -> list[str]:
    r"""Word pre-tokenization shared by BPE ENCODING — lowercase, split on
    non-alphanumerics — chosen to coincide with the Spark-side
    ``functions.text.tokens`` used by TRAINING (``[^\p{L}\p{N}]+``
    split): training and billing must see the same words or punctuated
    corpora get systematically over-billed (an ``end.`` word would never
    fire the ``(d, </w>)`` merges learned from ``end``)."""
    import re

    return re.findall(r"[^\W_]+", text.lower(), re.UNICODE)


def _bpe_encode_word(word: str, ranks: dict) -> list[str]:
    """Greedy lowest-rank-first merge application to ONE word."""
    syms = [*list(word), "</w>"]
    while len(syms) > 1:
        ranked = [
            (ranks[(a, b)], i)
            for i, (a, b) in enumerate(zip(syms, syms[1:]))
            if (a, b) in ranks
        ]
        if not ranked:
            break
        _, i = min(ranked)
        syms[i:i + 2] = [syms[i] + syms[i + 1]]
    return syms


def bpe_train(df: DataFrame, *, text_col: str = "text",
              n_merges: int = 200, word_limit: int = 50_000,
              min_count: int = 2) -> list[tuple[str, str]]:
    """Train byte-pair-encoding merges (Sennrich et al. 2016) on the
    corpus; returns the ordered merge list (the tokenizer model).

    The distributed part is the single corpus pass that builds the
    WORD-FREQUENCY table (``functions.text.tokens`` words — the same
    pre-tokenization :func:`bpe_token_counts` applies at encode time);
    BPE's merge loop then runs driver-side over that table, which is
    the standard formulation: merge counts depend only on (word, freq)
    pairs, and the table is heavy-hitter bounded (``word_limit`` top
    words by frequency — the tail can't influence early merges),
    exactly the KMeans-on-a-sample trade the IVF/PQ trainers make.
    Words carry an end-of-word marker ``</w>`` so merges never cross
    word boundaries.
    """
    from sap_data_pipeline_spark.functions import text as X

    rows = (
        df.select(F.explode(X.tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_count)
        .orderBy(F.col("freq").desc(), F.col("w").asc())
        .limit(word_limit)
        .collect()
    )
    # driver-side classic BPE over the bounded word-freq table
    vocab: dict[tuple[str, ...], int] = {
        (*list(r["w"]), "</w>"): r["freq"] for r in rows
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, freq in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + freq
        if not pairs:
            break
        # deterministic argmax: count desc, then lexicographic pair
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab = {}
        for syms, freq in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == best[0] and syms[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = freq
        vocab = new_vocab
    return merges


def bpe_encode(text: str, merges: list[tuple[str, str]],
               _cache: dict | None = None) -> list[str]:
    """Apply trained merges to one text (greedy lowest-rank-first — the
    canonical BPE encoder), using the SAME word pre-tokenization as
    training.  Pure Python; exposed for tests — the distributed path is
    :func:`bpe_token_counts`."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    out: list[str] = []
    for w in _bpe_words(text):
        if _cache is not None and w in _cache:
            out.extend(_cache[w])
            continue
        syms = _bpe_encode_word(w, ranks)
        if _cache is not None:
            _cache[w] = syms
        out.extend(syms)
    return out


def bpe_token_counts(df: DataFrame, merges: list[tuple[str, str]], *,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document BPE token counts under a trained merge list —
    the REAL token budget a trained tokenizer would bill, vs the
    whitespace/regex proxies in ``functions.text``.

    Returns (id, n_bpe_tokens, n_words, tokens_per_word).

    Iterative merge application isn't expressible as a native column
    expression, so this is an Arrow-batched ``mapInPandas`` stage (the
    documented legitimate-Python class).  The merge-rank table is built
    ONCE per batch and a per-batch WORD cache makes encode cost
    proportional to distinct words per batch, not corpus length — Zipf
    does the heavy lifting; word counts come from the same single split
    the encoder uses (no second regex pass).
    """
    import pandas as pd

    from pyspark.sql import types as T

    schema = T.StructType([
        df.schema[id_col],
        T.StructField("n_bpe_tokens", T.IntegerType()),
        T.StructField("n_words", T.IntegerType()),
        T.StructField("tokens_per_word", T.DoubleType()),
    ])

    def count(batches):
        ranks = {pair: i for i, pair in enumerate(merges)}
        for pdf in batches:
            cache: dict = {}
            n_tok, n_words = [], []
            for txt in pdf[text_col].fillna(""):
                words = _bpe_words(txt)
                total = 0
                for w in words:
                    syms = cache.get(w)
                    if syms is None:
                        syms = _bpe_encode_word(w, ranks)
                        cache[w] = syms
                    total += len(syms)
                n_tok.append(total)
                n_words.append(len(words))
            nt = pd.Series(n_tok, dtype="int32")
            nw = pd.Series(n_words, dtype="int32")
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "n_bpe_tokens": nt,
                "n_words": nw,
                "tokens_per_word": (nt / nw.where(nw > 0, 1)).round(6),
            })

    return df.select(id_col, text_col).mapInPandas(count, schema)


def oov_drift(ref: DataFrame, cur: DataFrame, *, text_col: str = "text",
              group_col: str = "lang", min_count: int = 2,
              broadcast_vocab: bool = True) -> DataFrame:
    """Token-level drift: the share of current-snapshot token
    OCCURRENCES not covered by the reference vocabulary (tokens seen at
    least ``min_count`` times in the reference) — the tokenizer-
    coverage check run before admitting a new crawl (metadata PSI —
    :func:`operators.quality.drift_psi` — catches a flipped language
    mix; this catches the content shifting under a frozen tokenizer:
    new scripts, new jargon, emoji floods, encoding regressions).

    Occurrences count with multiplicity (a drifted corpus that uses one
    unseen token constantly is worse than one that uses many rare ones
    once).  Returns one row per ``group_col`` value: (group, n_tokens,
    n_oov, oov_rate) with the rate rounded to 6 decimals.

    Scale shape: the reference vocabulary is ONE token-keyed count
    aggregate (map-side partial absorbs heavy tokens) materializable
    once per reference snapshot — like the PSI reference counts, it is
    the persistable artifact, so scoring a new snapshot never rescans
    the reference.  The membership probe is a LEFT join carrying a hit
    marker (``broadcast_vocab=True`` for min_count-pruned vocabularies,
    which are heavy-tailed small; shuffle join otherwise), and totals +
    misses come out of ONE grouped aggregate — the
    :func:`~sap_data_pipeline_spark.operators.dedup.ngram_contamination`
    shape at token grain.
    """
    vocab = (
        ref.select(F.explode(X.tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_count)
        .select("tok", F.lit(1).alias("_known"))
    )
    if broadcast_vocab:
        vocab = F.broadcast(vocab)
    cur_toks = cur.select(
        F.col(group_col), F.explode(X.tokens(text_col)).alias("tok")
    )
    return (
        cur_toks.join(vocab, "tok", "left")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            (F.count(F.lit(1)) - F.count("_known")).cast("long").alias("n_oov"),
        )
        .select(
            group_col,
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
                6,
            ).alias("oov_rate"),
        )
    )


# Real-web HTML is sloppy (ADVICE r10): uppercase HREF, whitespace
# around `=`, single-quoted / unquoted attribute values, and
# protocol-relative `//host/...` links all occur and all carry host
# signal — so the pattern is case-insensitive, tolerates `\s*=\s*`, an
# optional quote of either kind, and an optional scheme.  The host
# group stops at `/`, either quote, whitespace, or `>` (the unquoted
# terminators).  RE2-compatible (no backrefs) so the DuckDB oracle
# replays it verbatim.  Known tolerance: a mismatched quote pair
# (`href="x'`) still extracts — acceptable for signal extraction.
LINK_HOST_RE = r'(?i)href\s*=\s*["\']?(?:https?:)?//([^/"\'\s>]+)'


def link_host_graph(df: DataFrame, *, html_col: str = "html",
                    src_host_col: str = "src_host") -> DataFrame:
    """Host-level link graph extraction — the web-graph construction
    pass that feeds the host-authority family (PageRank / LPA /
    triangle curation signals consume exactly this edge list).

    Absolute http(s) anchors are pulled with ONE regex pass per
    document (``regexp_extract_all`` group 1 = the authority up to the
    first ``/``); relative links (``href="/local"``) carry no
    host-graph signal and are excluded by the scheme anchor in the
    pattern.  Explode → count per (src, dst): the shuffle rows are
    narrow (two short host strings), partial aggregation collapses
    repeated edges map-side, and the result is edge-set-sized — at
    100 TB of HTML the output is the host graph (millions of rows),
    never the corpus.
    """
    edges = df.select(
        F.col(src_host_col),
        F.explode(
            F.regexp_extract_all(F.col(html_col), F.lit(LINK_HOST_RE), F.lit(1))
        ).alias("dst_host"),
    )
    return edges.groupBy(src_host_col, "dst_host").agg(
        F.count(F.lit(1)).alias("n_links")
    )


# Anchor-text needs the closing quote to find the tag end, so unquoted
# hrefs are out of scope here (they remain covered by LINK_HOST_RE for
# the edge list); case, whitespace, either quote kind, and
# protocol-relative links are all tolerated as above.
ANCHOR_RE = (
    r'(?i)href\s*=\s*["\'](?:https?:)?//([^/"\']+)[^"\']*["\'][^>]*>([^<]*)<'
)


def anchor_text_terms(df: DataFrame, *, html_col: str = "html",
                      k: int = 5) -> DataFrame:
    """Anchor-text index construction — the classic web-curation
    relevance signal: what the web CALLS a host (the terms inside
    ``<a>`` tags pointing at it) is a quality/topic feature the host's
    own content can't fake.  Returns the top-``k`` anchor terms per
    destination host: ``(dst_host, term, n, rank)``.

    Extraction is TWO aligned ``regexp_extract_all`` passes over the
    same pattern (group 1 = host, group 2 = anchor text) zipped
    positionally — one regex engine pass each, no per-anchor re-scan.
    Terms use the corpus tokenizer, so anchor vocabulary joins directly
    against the text-analysis family.  One (host, term) count exchange
    with map-side partial aggregation, then a per-host rank window that
    WindowGroupLimit cuts to k candidates per partition before the
    sort — the index is hosts×k-sized, never corpus-sized.
    """
    from sap_data_pipeline_spark.functions import text as X
    from pyspark.sql.window import Window

    pat = F.lit(ANCHOR_RE)
    pairs = df.select(
        F.explode(
            F.arrays_zip(
                F.regexp_extract_all(F.col(html_col), pat, F.lit(1)),
                F.regexp_extract_all(F.col(html_col), pat, F.lit(2)),
            )
        ).alias("z")
    ).select(
        F.col("z")["0"].alias("dst_host"),
        F.explode(X.tokens(F.col("z")["1"])).alias("term"),
    )
    counts = pairs.groupBy("dst_host", "term").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("dst_host").orderBy(
        F.col("n").desc(), F.col("term").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Bloom-filter seen-set gate (crawl-frontier membership at scale)
# ---------------------------------------------------------------------------

def _bloom_hash(expr, i: int, m_bits: int, seed: int):
    """Position i for one element: 60-bit md5-derived int mod m_bits.
    Engine-portable (md5 + hex substring + modulo — no xxhash), exactly
    the catalog's _hash64_sql recipe."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"b{seed}:{i}:"), expr)), 1, 15),
        16, 10,
    ).cast("long")
    return F.pmod(h, F.lit(m_bits))


def bloom_bitmap(seen: DataFrame, col: str, *, m_bits: int = 1 << 18,
                 k: int = 4, seed: int = 7) -> list[int]:
    """Build the Bloom bitmap for a seen-set column as a Python list of
    ``m_bits/64`` longs (collected: BOUNDED by m_bits, never by |seen| —
    the whole point; 2^18 bits = 4 096 words = 32 KiB).

    The classic frontier-scale membership structure: "have we fetched
    this URL before?" as an m-bit filter instead of an anti-join
    against the full fetched set.  False positives at the standard
    (1 - e^{-kn/m})^k rate (a false positive = one wasted dedup lookup
    or a skipped re-crawl — tunable via m); false NEGATIVES are
    impossible, so nothing already fetched is ever re-admitted.

    Build plan: k position rows per element → (word, bit) → per-word
    ``bit_or`` partial-aggregates map-side → ≤ m/64 rows collected.
    """
    n_words = m_bits // 64
    e = F.col(col)
    pos = seen.select(
        F.explode(F.array(*[
            _bloom_hash(e, i, m_bits, seed) for i in range(k)
        ])).alias("p")
    )
    words = (
        pos.select(
            (F.col("p") / F.lit(64)).cast("long").alias("w"),
            F.pmod(F.col("p"), F.lit(64)).cast("int").alias("bit"),
        )
        # shiftleft's bit-count arg must be a column here, which the
        # Python DSL does not take — the SQL form does
        .select("w", F.expr("shiftleft(CAST(1 AS BIGINT), bit)").alias("b"))
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    bitmap = [0] * n_words
    for r in words:
        bitmap[r["w"]] = r["bits"]
    return bitmap


def bloom_probe(candidates: DataFrame, bitmap: list[int], col: str, *,
                m_bits: int = 1 << 18, k: int = 4,
                seed: int = 7) -> DataFrame:
    """Probe candidates against a :func:`bloom_bitmap` — a PURE MAP
    projection: the bitmap ships as one array<long> literal (32 KiB at
    the default m) and each candidate tests its k bits with
    element_at/shift/AND.  Zero shuffles, zero joins: at 100 TB the
    frontier scan streams through unchanged, which is what makes the
    Bloom gate cheaper than the exact anti-join it approximates.

    Returns the input plus ``bloom_hits`` (0..k) and ``maybe_seen``
    (all k bits set).  ``maybe_seen=False`` is definitive (no false
    negatives); True means "check the exact store" or, for a frontier,
    "skip — at worst we skip a never-fetched URL at the documented
    false-positive rate".
    """
    from sap_data_pipeline_spark.functions.vectors import long_array_lit

    e = F.col(col)
    # one F.expr round-trip for the 4096-word bitmap literal — F.lit
    # pays one py4j call per word (~0.5 s of driver time; r13)
    out = candidates.withColumn("_bm", long_array_lit(bitmap))
    hits = None
    for i in range(k):
        out = out.withColumn(f"_p{i}", _bloom_hash(e, i, m_bits, seed))
        # shiftright's bit-count arg must be a column — SQL form only
        hit = F.expr(
            f"CAST(shiftright(element_at(_bm, CAST(_p{i} DIV 64 AS INT) + 1),"
            f" CAST(_p{i} % 64 AS INT)) & 1 AS INT)"
        )
        hits = hit if hits is None else hits + hit
    return (
        out.withColumn("bloom_hits", hits.cast("int"))
        .withColumn("maybe_seen", F.col("bloom_hits") == F.lit(k))
        .drop("_bm", *[f"_p{i}" for i in range(k)])
    )


def bigram_logprob(df: DataFrame, *, text_col: str = "text",
                   id_col: str = "doc_id",
                   lam: float = 0.75) -> DataFrame:
    """Interpolated-bigram perplexity proxy — the CCNet-style LM quality
    filter one order up from :func:`unigram_logprob`: word-ORDER
    gibberish (shuffled tokens, keyword-stuffed spam, wrong-language
    text run through a word list) has ordinary unigrams but improbable
    transitions, so it scores high here while passing the unigram gate.

    Per document, over its consecutive token pairs:
    ``p(w2|w1) = λ·c(w1,w2)/c(w1·) + (1−λ)·c(·w2)/N`` (λ default
    0.75 — chosen so 1−λ is exactly representable and the SQL twin can
    write the literal 0.25) with counts from
    the corpus's own bigram table (c(w1·)/c(·w2) = bigram first/second
    marginals, N = total bigrams — the interpolation means p > 0
    whenever w2 was ever seen as a successor, and the marginals
    guarantee that).  Score = mean of −ln p weighted by pair
    multiplicity, rounded 6dp (the unigram precedent: a 1-ulp ln
    difference cannot move the rounded value).  Documents with < 2
    tokens have no transitions and drop out.

    Scale shape: one (doc, w1, w2) count aggregate, then THREE keyed
    windows over that bigram frame (pair, first-marginal,
    second-marginal — windows reuse the frame instead of joining back
    to raw tokens), a broadcast one-row total, and the final doc-keyed
    aggregate.  At 100 TB prune to a top-V bigram table + broadcast
    join with a floor probability, exactly like unigram_logprob's
    ``vocab_size`` path.
    """
    from pyspark.sql.window import Window

    # the token array is referenced four times (two slices × source +
    # size bound) — bind it once per row or the tokenizer regex chain
    # evaluates 4× (r14; same defect class as ngrams_from, fixed the
    # same way; executed plan: 5 split/regexp chains → 2)
    def _bigrams(tt):
        n1 = F.greatest(F.size(tt) - 1, F.lit(0))
        return F.zip_with(
            F.slice(tt, 1, n1),
            F.slice(tt, 2, n1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )

    pairs = (
        df.select(
            F.col(id_col),
            F.explode(X.bind_once(X.tokens(text_col), _bigrams)).alias("bg"),
        )
        .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c12 = F.sum("cnt").over(Window.partitionBy("w1", "w2"))
    c1 = F.sum("cnt").over(Window.partitionBy("w1"))
    c2 = F.sum("cnt").over(Window.partitionBy("w2"))
    # N = Σ bigram counts = Σ_docs max(n_tokens − 1, 0) — the arithmetic
    # identity lets the broadcast one-row total come from a map-side
    # tokenize+size scan instead of re-running the whole bigram explode
    # + (doc, w1, w2) aggregate a second time (plan audit r13: the
    # `pairs.agg(sum(cnt))` branch duplicated the expensive chain;
    # Generate + 2-phase HashAggregate dropped from the total branch)
    total = df.select(
        F.greatest(F.size(X.tokens(text_col)) - 1, F.lit(0)).alias("_nb")
    ).agg(F.sum("_nb").cast("double").alias("_n_total"))
    scored = (
        pairs.withColumn("_c12", c12)
        .withColumn("_c1", c1)
        .withColumn("_c2", c2)
        .crossJoin(F.broadcast(total))
    )
    p = (
        F.lit(lam) * (F.col("_c12").cast("double") / F.col("_c1").cast("double"))
        + F.lit(1.0 - lam) * (F.col("_c2").cast("double") / F.col("_n_total"))
    )
    return scored.groupBy(id_col).agg(
        F.sum("cnt").cast("long").alias("n_bigrams"),
        F.round(
            F.sum(F.col("cnt").cast("double") * (-F.log(p)))
            / F.sum(F.col("cnt").cast("double")),
            6,
        ).alias("avg_neg_logprob"),
    )


# ---------------------------------------------------------------------------
# Within-document line dedup (C4-family curation, new r12)
# ---------------------------------------------------------------------------

def intra_doc_line_dedup(df: DataFrame, *, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Remove REPEATED lines within one document, keeping the first
    occurrence — the within-doc arm of the line-dedup family (scraped
    pages repeat nav blocks, cookie banners, and footer text several
    times in one page body).  Corpus-GLOBAL line frequency is
    ``line_dedup_c4``; per-HOST site chrome is
    ``host_boilerplate_lines``; this is the only operator that needs no
    cross-document context at all, so it is a pure per-row projection —
    zero shuffles, the cheapest curation pass in the pipeline and the
    one that scales to 100 TB by construction.

    Keep rule: line i survives iff the first index holding an equal
    trimmed line is i (``array_position`` = first occurrence, 1-based),
    expressed as an index-sequence filter so the DuckDB oracle replays
    it verbatim with ``generate_series``/``list_position``.

    The ``array_position`` scan is O(L²) comparisons per document, and
    that is the MEASURED-fastest shape (r13 A/B, SCALE.md): the O(L)
    map-accumulator fold (``aggregate`` with a seen-lines map,
    ``map_concat`` per insert) ran **4–10× slower at every L tested
    and the gap grows with L** (L=2000: 7.8 s vs 0.74 s for 500 docs)
    — map_concat rebuilds the accumulator map per insert, so the
    "O(L)" fold is itself quadratic in copies with far larger
    constants than this codegen'd tight scan.  Per-doc cost here at
    L=2000 is ~1.5 ms; a pathological 50k-line doc extrapolates to
    ~1 s, acceptable for a per-row tail case.

    Returns (id, n_lines, n_kept, n_dupes_removed, chars_removed,
    clean_text) — chars_removed counts the trimmed characters of the
    dropped duplicate lines (newline bookkeeping excluded, same
    convention both engines).  One row per INPUT document: an all-blank
    doc emits (n_lines=0, n_kept=0, clean_text='') rather than
    vanishing — silent drops are pipeline bugs, and the downstream
    quality gate, not this rewrite, decides a blank doc's fate.
    """
    from sap_data_pipeline_spark.functions import text as X

    lines = X.line_array(F.col(text_col))
    base = df.select(F.col(id_col), lines.alias("_l"))
    # slice(seq(1, max(n,1)), 1, n) = [1..n], and [] when n = 0 —
    # sequence(1, 0) alone would count DOWN to [1, 0] and the lambda's
    # element_at(_l, 0) would throw under ANSI.
    idx = F.slice(
        F.sequence(F.lit(1), F.greatest(F.size("_l"), F.lit(1))),
        F.lit(1), F.size("_l"),
    )
    keep_idx = F.filter(
        idx,
        lambda i: F.array_position(F.col("_l"), F.element_at(F.col("_l"), i)) == i,
    )
    kept = F.transform(keep_idx, lambda i: F.element_at(F.col("_l"), i))
    return (
        base
        .withColumn("_kept", kept)
        .select(
            id_col,
            F.size("_l").cast("long").alias("n_lines"),
            F.size("_kept").cast("long").alias("n_kept"),
            (F.size("_l") - F.size("_kept")).cast("long")
            .alias("n_dupes_removed"),
            (
                F.aggregate(F.col("_l"), F.lit(0).cast("long"),
                            lambda a, x: a + F.length(x))
                - F.aggregate(F.col("_kept"), F.lit(0).cast("long"),
                              lambda a, x: a + F.length(x))
            ).alias("chars_removed"),
            F.concat_ws("\n", F.col("_kept")).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# C4 line-shape filters (Raffel et al. 2020, §2.2 — public paper)
# ---------------------------------------------------------------------------

def c4_line_filters(df: DataFrame, *, text_col: str = "text",
                    id_col: str = "doc_id", min_words: int = 3) -> DataFrame:
    """The C4 line-level shape rules that run BEFORE any document-level
    scoring: keep a line only if it (a) ends in terminal punctuation
    (``.!?"`` — the "terminal punctuation" rule) and (b) carries at
    least ``min_words`` whitespace words.  Documents keep their
    surviving lines in order; the dropped-line accounting is what the
    curation dashboard tracks per source.

    Distinct from the Gopher battery (``gopher_signals`` gates whole
    DOCUMENTS on line-shape ratios): this REWRITES the document by
    dropping individual lines.  Pure per-row projection — no shuffle,
    no UDF; the oracle replays the same two rules with list ops.

    Returns (id, n_lines, n_kept, n_dropped_short, n_dropped_terminal,
    clean_text).  A line failing both rules counts toward the
    ``min_words`` bucket (rule order is part of the contract).  One
    row per INPUT document: an all-blank doc emits the all-zero row
    with clean_text='' rather than vanishing from the audit.
    """
    from sap_data_pipeline_spark.functions import text as X

    lines = X.line_array(F.col(text_col))
    base = df.select(F.col(id_col), lines.alias("_l"))
    n_words = lambda x: F.size(F.split(x, r"\s+", -1))  # noqa: E731
    is_short = lambda x: n_words(x) < min_words  # noqa: E731
    is_term = lambda x: x.rlike('[.!?"]$')  # noqa: E731
    kept = F.filter(F.col("_l"), lambda x: ~is_short(x) & is_term(x))
    return (
        base
        .select(
            id_col,
            F.size("_l").cast("long").alias("n_lines"),
            F.size(kept).cast("long").alias("n_kept"),
            F.size(F.filter(F.col("_l"), is_short)).cast("long")
            .alias("n_dropped_short"),
            F.size(F.filter(F.col("_l"), lambda x: ~is_short(x) & ~is_term(x)))
            .cast("long").alias("n_dropped_terminal"),
            F.concat_ws("\n", kept).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# robots.txt politeness gate (REP, RFC 9309 — public spec)
# ---------------------------------------------------------------------------

def robots_rule_regex(rule: Column) -> Column:
    """Translate an RFC 9309 path rule to an anchored regex (§2.2.3:
    crawlers MUST support ``*`` = any character sequence and a trailing
    ``$`` = end-of-path anchor; both are literal anywhere else, as is
    every regex metacharacter a rule may contain).  The output uses
    only ``^``, escaped literals, ``.*``, and an optional trailing
    ``$`` — a fragment Java regex and RE2 interpret identically, so
    the DuckDB oracle replays the same translation character for
    character (the catalog's ``_RB_RULE_RE_SQL``).
    """
    anchored = rule.endswith("$")
    body = F.when(
        anchored, F.substring(rule, F.lit(1), F.length(rule) - 1)
    ).otherwise(rule)
    esc = F.regexp_replace(body, r'([.+?(){}\[\]|^$\\])', r'\\$1')
    starred = F.regexp_replace(esc, r'\*', '.*')
    return F.concat(
        F.lit("^"), starred,
        F.when(anchored, F.lit("$")).otherwise(F.lit("")),
    )


def robots_disallow_gate(frontier: DataFrame, rules: DataFrame, *,
                         url_col: str = "url") -> DataFrame:
    """Gate a crawl frontier against per-host robots rules with the
    RFC 9309 / Googlebot precedence: the LONGEST matching rule wins
    (§2.2.2 "most octets", measured on the rule text); on equal
    length, allow beats disallow; no matching rule ⇒ allowed.  Rules
    carry the full §2.2.3 special characters — ``*`` matches any
    character sequence and a trailing ``$`` anchors the rule to the
    path end (``Disallow: /*.php`` and ``Disallow: /private*`` match
    as a crawler must, not as literal prefixes) — via
    :func:`robots_rule_regex`; rules without specials keep the
    JVM-native ``startswith`` fast path, so the regex engine only
    runs for wildcard-bearing rules.  The politeness pass every
    crawler runs between frontier scheduling and fetch.

    ``rules`` is (host, path_prefix, allow: boolean) — the parsed
    robots.txt corpus, hosts-sized (bounded by the crawl's host count,
    NOT the frontier), so it broadcasts; the per-rule regex is
    precomputed on that hosts-sized frame, never per candidate row.
    The frontier pays one broadcast join + one per-URL best-rule
    window; at 100 TB frontier scale the only data-sized cost is the
    scan itself.

    Returns (url, host, path, matched_prefix, allowed) with
    matched_prefix NULL for rule-less URLs.  Output is one row per
    DISTINCT url: duplicate frontier rows collapse through the rank-1
    window (the semi-join contract ``etl.admit_crawl_batch`` relies
    on) — re-join on url when per-row multiplicity must survive.
    """
    from pyspark.sql.window import Window

    host = F.regexp_extract(
        F.regexp_replace(F.col(url_col),
                         r"^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//", ""),
        r"^([^/]*)", 1,
    )
    path = F.concat(F.lit("/"), F.coalesce(F.regexp_extract(
        F.regexp_replace(F.col(url_col),
                         r"^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//", ""),
        r"^[^/]*/(.*)$", 1,
    ), F.lit("")))
    parsed = frontier.select(
        F.col(url_col), host.alias("host"), path.alias("path")
    )
    # Regexes are derived once on the hosts-sized rules frame; rules
    # without specials skip the regex engine entirely (plain prefix).
    plain = (
        ~F.col("path_prefix").contains("*")
        & ~F.col("path_prefix").endswith("$")
    )
    rules = rules.select(
        "host", "path_prefix", "allow", plain.alias("_plain"),
        robots_rule_regex(F.col("path_prefix")).alias("_re"),
    )
    # Non-matching rules are MASKED to null candidates, not filtered
    # out — a host whose rules all miss must still emit its URL with
    # the default-allow verdict.
    m = F.col("path_prefix").isNotNull() & F.when(
        F.col("_plain"), F.col("path").startswith(F.col("path_prefix"))
    ).otherwise(F.regexp_like(F.col("path"), F.col("_re")))
    cand = parsed.join(F.broadcast(rules), "host", "left").select(
        url_col, "host", "path",
        F.when(m, F.col("path_prefix")).alias("_mp"),
        F.when(m, F.col("allow")).alias("_al"),
    )
    w = Window.partitionBy(url_col).orderBy(
        F.length("_mp").desc_nulls_last(),
        # equal length: allow (true) sorts before disallow
        F.col("_al").desc_nulls_last(),
        # equal (length, verdict): lexicographic prefix — engines agree
        F.col("_mp").asc_nulls_last(),
    )
    return (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            url_col, "host", "path",
            F.col("_mp").alias("matched_prefix"),
            F.coalesce(F.col("_al"), F.lit(True)).alias("allowed"),
        )
    )


def apply_line_filters(df: DataFrame, *, text_col: str = "text",
                       min_words: int = 3) -> DataFrame:
    """The ingest-side line-cleanup REWRITE: compose the C4 shape rules
    (:func:`c4_line_filters`) and within-document keep-first dedup
    (:func:`intra_doc_line_dedup`) as ONE per-row projection that
    replaces ``text_col`` in place, preserving every other column —
    no joins, no shuffles, so it drops into any pipeline between
    snapshot dedup and quality scoring for free.

    Rule order matches the standalone operators: shape-filter first
    (a repeated nav line that also fails the shape rules counts as a
    shape drop), then first-occurrence dedup of the survivors.  Adds
    ``lines_removed`` (shape + duplicate drops) for the stage audit.
    Documents whose every line is dropped keep an empty string — the
    downstream quality gate, not this rewrite, decides their fate.
    """
    from sap_data_pipeline_spark.functions import text as X

    lines = X.line_array(F.col(text_col))
    n_words = lambda x: F.size(F.split(x, r"\s+", -1))  # noqa: E731
    shaped = F.filter(
        lines, lambda x: (n_words(x) >= min_words) & x.rlike('[.!?"]$')
    )
    # array_distinct keeps each line's first occurrence, in order
    return (
        df.withColumn("_afl_n", F.size(lines))
        .withColumn("_afl_k", F.array_distinct(shaped))
        .withColumn(text_col, F.concat_ws("\n", F.col("_afl_k")))
        .withColumn(
            "lines_removed",
            (F.col("_afl_n") - F.size("_afl_k")).cast("long"),
        )
        .drop("_afl_n", "_afl_k")
    )


def _robots_kv_lines(df: DataFrame, host_col: str,
                     txt_col: str) -> DataFrame:
    """robots.txt bodies → (host, idx, k, v) directive lines: lines
    posexplode with their index, ``#`` comments and blank lines drop,
    keys lowercase, keys and values trim.  Shared by
    :func:`parse_robots_txt` (group-scoped directives) and
    :func:`robots_sitemap_urls` (the group-independent Sitemap
    directive)."""
    lines = df.select(
        F.col(host_col),
        F.posexplode(F.split(F.col(txt_col), "\n", -1)).alias("idx", "raw"),
    ).select(
        host_col, "idx",
        # strip comments + whitespace
        F.trim(F.regexp_replace(F.col("raw"), "#.*$", "")).alias("line"),
    ).filter(F.col("line") != "")
    key = F.lower(F.trim(F.regexp_extract("line", r"^([^:]+):", 1)))
    val = F.trim(F.regexp_extract("line", r"^[^:]+:(.*)$", 1))
    return lines.select(host_col, "idx", key.alias("k"), val.alias("v"))


def robots_sitemap_urls(df: DataFrame, *, host_col: str = "host",
                        txt_col: str = "robots_txt") -> DataFrame:
    """Extract ``Sitemap:`` directives from robots.txt bodies — the
    crawl-seeding handshake's first hop (robots.txt NAMES the host's
    sitemaps; :func:`sitemap_url_extract` then turns their XML into
    frontier candidates).  Per the sitemaps protocol the directive is
    GROUP-INDEPENDENT — valid anywhere in the file, any number of
    times, regardless of which User-agent block surrounds it — so
    extraction skips the UA-block machinery entirely:
    :func:`parse_robots_txt` deliberately drops these lines and this
    operator is the one that reads them.

    Values are kept verbatim (absolute URLs per the protocol; a
    malformed relative value passes through for the fetcher to
    reject — degrade, never guess).  One row per DISTINCT (host, url):
    a file listing the same sitemap twice seeds it once.  Hosts-sized
    input, hosts-sized output — never corpus-sized.
    """
    kv = _robots_kv_lines(df, host_col, txt_col)
    return (
        kv.filter((F.col("k") == "sitemap") & (F.col("v") != ""))
        .select(F.col(host_col), F.col("v").alias("sitemap_url"))
        .distinct()
    )


def parse_robots_txt(df: DataFrame, *, host_col: str = "host",
                     txt_col: str = "robots_txt",
                     agent: str = "*") -> DataFrame:
    """Parse raw robots.txt bodies into the (host, path_prefix, allow,
    crawl_delay_sec) rules frame :func:`robots_disallow_gate` and the
    delay-capped scheduler consume — the missing first stage of the
    politeness pipeline (fetch robots.txt → THIS → gate/schedule).

    Grammar (the RFC 9309 subset a wildcard-agent crawler needs):
    ``User-agent`` lines open a group (consecutive UA lines share it),
    ``Disallow``/``Allow``/``Crawl-delay`` directives bind to the
    nearest preceding group, matching is case-insensitive, ``#``
    comments and blank lines are ignored, and only groups naming
    ``agent`` (default ``*``) emit rules.  An empty ``Disallow:``
    value means allow-all per the original REP and is skipped.  Rule
    VALUES pass through verbatim — the §2.2.3 specials (``*``,
    trailing ``$``) are preserved in ``path_prefix`` and interpreted
    by :func:`robots_disallow_gate` via :func:`robots_rule_regex`.
    ``Sitemap:`` lines are group-independent per the sitemaps protocol
    and deliberately NOT parsed here — :func:`robots_sitemap_urls`
    reads them.

    Fully relational — no per-file Python fold: lines posexplode with
    their index, a host-keyed window turns "UA line whose predecessor
    is not a UA line" into a running block id, a (host, block) aggregate
    decides star-membership, and directives join back to their block's
    verdict.  The only shuffles are host-keyed windows/aggregates over
    LINE rows (robots files are KiB-sized, hosts-sized row counts —
    never corpus-sized).  Crawl-delay emits one row per (host, block)
    with a NULL path_prefix; invalid delay values are ignored.
    """
    from pyspark.sql.window import Window

    typed = _robots_kv_lines(df, host_col, txt_col).filter(
        F.col("k").isin("user-agent", "disallow", "allow", "crawl-delay")
    )

    w = Window.partitionBy(host_col).orderBy("idx")
    is_ua = F.col("k") == "user-agent"
    block_start = is_ua & ~F.coalesce(
        F.lag(is_ua).over(w), F.lit(False)
    )
    blocked = typed.withColumn(
        "block", F.sum(block_start.cast("long")).over(w)
    ).filter(F.col("block") > 0)  # directives before any UA line: ignored

    star_blocks = (
        blocked.filter(is_ua)
        .groupBy(host_col, "block")
        .agg(F.max((F.lower(F.col("v")) == agent.lower()).cast("int"))
             .alias("_hit"))
        .filter(F.col("_hit") == 1)
        .select(host_col, "block")
    )
    directives = blocked.filter(~is_ua).join(star_blocks, [host_col, "block"])
    rules = directives.filter(
        F.col("k").isin("disallow", "allow") & (F.col("v") != "")
    ).select(
        host_col,
        F.col("v").alias("path_prefix"),
        (F.col("k") == "allow").alias("allow"),
        F.lit(None).cast("int").alias("crawl_delay_sec"),
    )
    delays = directives.filter(
        (F.col("k") == "crawl-delay") & F.col("v").rlike(r"^\d+$")
    ).select(
        host_col,
        F.lit(None).cast("string").alias("path_prefix"),
        F.lit(None).cast("boolean").alias("allow"),
        F.col("v").cast("int").alias("crawl_delay_sec"),
    )
    return rules.unionByName(delays)


# sitemap <url> entry blocks; (?is) = case-insensitive + DOTALL so
# multi-line entries and tag-case variation both parse (RE2-compatible,
# so the DuckDB twin replays the identical patterns)
SITEMAP_URL_BLOCK_RE = r"(?is)<url\b[^>]*>(.*?)</url>"
# loc inner is (.*?) not [^<]* — a CDATA section legally contains '<'
SITEMAP_LOC_RE = r"(?is)<loc\s*>\s*(.*?)\s*</loc>"
SITEMAP_CDATA_RE = r"(?s)^<!\[CDATA\[(.*)\]\]>$"
SITEMAP_LASTMOD_RE = r"(?is)<lastmod\s*>\s*([^<]*?)\s*</lastmod>"
SITEMAP_CHANGEFREQ_RE = r"(?is)<changefreq\s*>\s*([^<]*?)\s*</changefreq>"
SITEMAP_PRIORITY_RE = r"(?is)<priority\s*>\s*([^<]*?)\s*</priority>"


def sitemap_url_extract(df: DataFrame, *, xml_col: str = "sitemap_xml",
                        host_col: str = "host") -> DataFrame:
    """Extract frontier candidates from sitemap XML — the crawl-seeding
    companion of :func:`parse_robots_txt` (a crawler bootstraps a host
    from robots.txt + the sitemaps it names; the lastmod signal feeds
    the recrawl scheduler alongside ``url_change_rate``).

    One ``regexp_extract_all`` pass pulls the ``<url>`` entry blocks
    (case-insensitive, multi-line), then per-entry regexes read
    ``loc`` (required — entries without one are skipped), and the
    optional ``lastmod`` (first 10 chars kept as the ISO date string —
    the string form hashes identically across engines), ``changefreq``
    (lowercased), and ``priority`` (double; non-numeric → NULL).
    Pure per-row projection + explode — sitemap files are hosts-sized
    inputs, so at 100 TB this never touches the document corpus.

    Per the sitemaps protocol, URLs in ``<loc>`` MUST be XML
    entity-escaped, so text fields are decoded with
    :func:`functions.text.xml_unescape` (named entities + ASCII
    numeric references; without it a seeded ``?a=1&amp;b=2`` URL never
    joins against the same URL from href extraction or fetch logs).
    ``<loc><![CDATA[...]]></loc>`` (common generator output) unwraps
    to the CDATA content VERBATIM — XML performs no entity decoding
    inside CDATA, so neither do we.

    Returns (host, url, lastmod, changefreq, priority).
    """
    from sap_data_pipeline_spark.functions.text import xml_unescape

    entry = F.col("_entry")
    raw_loc = F.regexp_extract(entry, SITEMAP_LOC_RE, 1)
    loc = F.when(
        raw_loc.rlike(SITEMAP_CDATA_RE),
        F.regexp_extract(raw_loc, SITEMAP_CDATA_RE, 1),
    ).otherwise(xml_unescape(raw_loc))
    lastmod = F.nullif(
        F.substring(
            xml_unescape(F.regexp_extract(entry, SITEMAP_LASTMOD_RE, 1)),
            1, 10,
        ),
        F.lit(""),
    )
    changefreq = F.nullif(
        F.lower(xml_unescape(F.regexp_extract(entry, SITEMAP_CHANGEFREQ_RE, 1))),
        F.lit(""),
    )
    # try_cast: ANSI mode makes a plain cast THROW on junk like
    # <priority>abc</priority> — malformed sitemap fields must degrade
    # to NULL, never kill the seeding job
    priority = F.nullif(
        F.regexp_extract(entry, SITEMAP_PRIORITY_RE, 1), F.lit("")
    ).try_cast("double")
    return (
        df.select(
            F.col(host_col),
            F.explode(
                F.regexp_extract_all(
                    F.col(xml_col), F.lit(SITEMAP_URL_BLOCK_RE), F.lit(1)
                )
            ).alias("_entry"),
        )
        .select(
            host_col,
            loc.alias("url"),
            lastmod.alias("lastmod"),
            changefreq.alias("changefreq"),
            priority.alias("priority"),
        )
        .filter(F.col("url") != "")
    )


SITEMAP_INDEX_BLOCK_RE = r"(?is)<sitemap\b[^>]*>(.*?)</sitemap>"


def sitemap_index_extract(df: DataFrame, *, xml_col: str = "sitemap_xml",
                          host_col: str = "host") -> DataFrame:
    """Extract child-sitemap references from a sitemap INDEX file — the
    missing hop in the crawl-seeding handshake.  Large sites exceed the
    sitemaps protocol's 50k-URL/50MB per-file limits and MUST publish a
    ``<sitemapindex>`` of ``<sitemap><loc>…</loc><lastmod>…</lastmod>``
    blocks naming the child sitemaps; a seeder that only reads
    ``<urlset>`` files (:func:`sitemap_url_extract`) never discovers
    most of a big host's URLs.  Chain: robots.txt ``Sitemap:`` lines
    (:func:`robots_sitemap_urls`) → THIS (index → children, possibly
    repeated) → :func:`sitemap_url_extract` (children → frontier).

    Same relational shape as the urlset reader: one
    ``regexp_extract_all`` pass over the ``<sitemap>`` entry blocks,
    per-entry ``loc`` (required; XML-entity-decoded, CDATA unwrapped
    verbatim) and optional ``lastmod`` (first 10 chars, ISO date
    string) — the lastmod lets an incremental seeder skip child
    sitemaps unchanged since the last crawl.  Pure projection +
    explode over hosts-sized inputs; loc-less blocks are skipped.

    Returns (host, sitemap_url, lastmod).
    """
    from sap_data_pipeline_spark.functions.text import xml_unescape

    entry = F.col("_entry")
    raw_loc = F.regexp_extract(entry, SITEMAP_LOC_RE, 1)
    loc = F.when(
        raw_loc.rlike(SITEMAP_CDATA_RE),
        F.regexp_extract(raw_loc, SITEMAP_CDATA_RE, 1),
    ).otherwise(xml_unescape(raw_loc))
    lastmod = F.nullif(
        F.substring(
            xml_unescape(F.regexp_extract(entry, SITEMAP_LASTMOD_RE, 1)),
            1, 10,
        ),
        F.lit(""),
    )
    return (
        df.select(
            F.col(host_col),
            F.explode(
                F.regexp_extract_all(
                    F.col(xml_col), F.lit(SITEMAP_INDEX_BLOCK_RE), F.lit(1)
                )
            ).alias("_entry"),
        )
        .select(
            host_col,
            loc.alias("sitemap_url"),
            lastmod.alias("lastmod"),
        )
        .filter(F.col("sitemap_url") != "")
    )


# ---------------------------------------------------------------------------
# Crawler-trap detection (frontier hygiene — public heuristics: Heydon
# & Najork, "Mercator: A scalable, extensible Web crawler", WWW 1999
# §4.2 describes the trap problem; the signals below are the standard
# battery every production frontier applies before scheduling)
# ---------------------------------------------------------------------------

def url_trap_signals(frontier: DataFrame, *, url_col: str = "url",
                     max_depth: int = 12,
                     max_len: int = 512) -> DataFrame:
    """Flag probable crawler traps in a frontier — URL families that
    grow without bound (calendars that paginate forever, session ids
    that make one page look like infinitely many, symlink loops that
    repeat path segments) and would eat a host's politeness budget on
    junk.  Signals, each its own output column so the dashboard can
    attribute drops:

    * ``seg_repeats`` / ``repeat_trap`` — path segments minus distinct
      path segments; ≥ 2 (a segment occurring 3+ times, or two
      segments twice each) is the loop signature (``/a/b/a/b/a``);
    * ``too_deep`` — more than ``max_depth`` path segments;
    * ``too_long`` — URL longer than ``max_len`` characters;
    * ``session_id`` — a query value of 16+ hex chars (jsessionid /
      PHPSESSID and friends, matched by VALUE not name — names vary);
    * ``calendar`` — a ``/yyyy/mm`` (optionally ``/dd``) path walk,
      the endless-archive signature.

    ``is_trap`` = any signal.  Pure per-row projection (split +
    array ops + RE2-safe regexes — no shuffle, no UDF): at 100 TB
    frontier scale this is a scan-speed gate, and every expression has
    an exact DuckDB twin.  Scheme-ful, protocol-relative, and bare
    URLs all parse (the robots-gate host convention).
    """
    u = F.col(url_col)
    stripped = F.regexp_replace(u, r"^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//", "")
    path = F.regexp_replace(
        F.concat(F.lit("/"), F.coalesce(
            F.regexp_extract(stripped, r"^[^/]*/(.*)$", 1), F.lit("")
        )),
        r"[?#].*$", "",
    )
    segs = F.filter(F.split(path, "/", -1), lambda x: x != "")
    seg_repeats = (F.size(segs) - F.size(F.array_distinct(segs)))
    depth = F.size(segs)
    too_deep = depth > max_depth
    too_long = F.length(u) > max_len
    session_id = u.rlike(r"[?&][A-Za-z0-9_.-]*=[0-9a-fA-F]{16,}")
    calendar = path.rlike(r"/(19|20)[0-9]{2}/[0-9]{1,2}(/[0-9]{1,2})?(/|$)")
    out = frontier.select(
        u.alias("url"),
        depth.cast("long").alias("depth"),
        seg_repeats.cast("long").alias("seg_repeats"),
        (seg_repeats >= 2).alias("repeat_trap"),
        too_deep.alias("too_deep"),
        too_long.alias("too_long"),
        session_id.alias("session_id"),
        calendar.alias("calendar"),
    )
    return out.withColumn(
        "is_trap",
        F.col("repeat_trap") | F.col("too_deep") | F.col("too_long")
        | F.col("session_id") | F.col("calendar"),
    )


def global_line_keep_first(df: DataFrame, *, text_col: str = "text",
                           id_col: str = "doc_id",
                           line_sep: str = "\n") -> DataFrame:
    """Corpus-GLOBAL keep-first line dedup: every repeated line keeps
    exactly its first occurrence (ordered by (doc, line index)) and
    drops the rest — C4's actual dedup rule ("we discarded all but one
    of any three-sentence span occurring more than once", Raffel et
    al. 2020 §2.2, applied at line grain).  Completes the line-dedup
    family's coverage matrix: :func:`dedup_lines` drops ALL
    occurrences past a frequency threshold (loses the content
    entirely), ``host_boilerplate_removal`` conditions on the host,
    ``intra_doc_line_dedup`` never crosses a document — this is the
    only operator that keeps exactly ONE copy corpus-wide.

    Blank/whitespace lines are exempt (always kept): deduping them
    would collapse every paragraph break in the corpus onto the first
    document.

    Returns one row per input document: (id, n_lines, n_kept,
    n_dropped_dupes, cleaned_text), survivors re-joined in original
    order.

    Scale shape: posexplode lines → ONE line-keyed ``row_number``
    window (the canonical corpus-frequency exchange; per-key state is
    the rank counter only) → one doc-keyed groupBy reassembling via
    ``sort_array(collect_list(struct(idx, line)))``.  Two exchanges,
    both narrow; nothing driver-sized.
    """
    from pyspark.sql.window import Window

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), line_sep, -1))
        .alias("idx", "line"),
    )
    w = Window.partitionBy("line").orderBy(F.col(id_col), F.col("idx"))
    ranked = lines.withColumn("_rk", F.row_number().over(w))
    keep = (F.col("_rk") == 1) | (F.trim(F.col("line")) == "")
    return (
        ranked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(keep.cast("long")).alias("n_kept"),
            F.sum((~keep).cast("long")).alias("n_dropped_dupes"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct(F.col("idx"), F.col("line")))
                        )
                    ),
                    lambda s: s["line"],
                ),
                line_sep,
            ).alias("cleaned_text"),
        )
    )


def robots_disallow_gate_fold(frontier: DataFrame, rules: DataFrame, *,
                              url_col: str = "url") -> DataFrame:
    """Map-side variant of :func:`robots_disallow_gate` (the r12
    verdict #5 A/B): rules aggregate into a per-host ARRAY, the
    hosts-sized host→rules map broadcasts, and the best rule is picked
    by a higher-order fold over the array — no per-URL candidate rows,
    no rank window.  The one remaining exchange is the
    ``dropDuplicates`` that preserves the gate's distinct-URL output
    contract (the driver-hashed fixture contains duplicate frontier
    URLs); on an already-deduplicated frontier (the usual case, after
    ``url_seen_bloom``) that exchange carries verdict-sized rows, not
    candidate-sized ones.

    Semantics are identical to the window variant bit for bit: longest
    rule wins, allow beats disallow, lexicographically smallest rule
    breaks the remaining tie, no match ⇒ allowed, RFC 9309 wildcards
    via the same :func:`robots_rule_regex` translation.

    A/B VERDICT (r13, kept as the losing variant): at 20× frontier
    (2M URLs, 500 hosts × 9 rules incl. wildcards) this fold measured
    **9.3–9.6 s vs the window plan's 4.8–5.0 s** — ~1.9× SLOWER, three
    interleaved same-session runs each (SCALE.md r13).  The fold
    re-runs every host rule's regex per URL map-side, while the window
    plan's WindowGroupLimit already bounds the rank exchange to ~1 row
    per URL per map partition — the exchange this variant removes was
    never the bottleneck.  :func:`robots_disallow_gate` stays
    production.
    """
    host = F.regexp_extract(
        F.regexp_replace(F.col(url_col),
                         r"^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//", ""),
        r"^([^/]*)", 1,
    )
    path = F.concat(F.lit("/"), F.coalesce(F.regexp_extract(
        F.regexp_replace(F.col(url_col),
                         r"^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//", ""),
        r"^[^/]*/(.*)$", 1,
    ), F.lit("")))
    parsed = frontier.select(
        F.col(url_col), host.alias("host"), path.alias("path")
    )
    plain = (
        ~F.col("path_prefix").contains("*")
        & ~F.col("path_prefix").endswith("$")
    )
    per_host = (
        rules.select(
            "host",
            F.struct(
                F.col("path_prefix").alias("rule"),
                F.col("allow").alias("allow"),
                plain.alias("plain"),
                robots_rule_regex(F.col("path_prefix")).alias("re"),
            ).alias("_r"),
        )
        .groupBy("host")
        .agg(F.collect_list("_r").alias("_rules"))
    )
    joined = parsed.join(F.broadcast(per_host), "host", "left")
    p = F.col("path")
    matched = F.filter(
        F.coalesce(F.col("_rules"), F.array()),
        lambda r: F.when(r["plain"], p.startswith(r["rule"]))
                   .otherwise(F.regexp_like(p, r["re"])),
    )
    # best (len, allow): struct max — longest first, allow beats
    # disallow (true > false); then the lexicographically smallest rule
    # among the (len, allow) winners, matching the window's tie order.
    mx = F.array_max(F.transform(
        matched, lambda r: F.struct(F.length(r["rule"]).alias("len"),
                                    r["allow"].alias("al"))
    ))
    best_rule = F.array_min(F.transform(
        F.filter(matched,
                 lambda r: (F.length(r["rule"]) == mx["len"])
                 & (r["allow"] == mx["al"])),
        lambda r: r["rule"],
    ))
    return (
        joined.select(
            url_col, "host", "path",
            best_rule.alias("matched_prefix"),
            F.coalesce(mx["al"], F.lit(True)).alias("allowed"),
        )
        .dropDuplicates([url_col])
    )
