"""Text-analysis operators for large-scale training-data pipelines.

All pure built-in column expressions (JVM-side, whole-stage codegen) — at
100 TB these run at scan speed with full pushdown. Each has an exact ANSI
SQL twin in __spark_entry__.oracle_sql() checked by DuckDB.

Portable hash primitive: the first 15 hex chars of md5 as a bigint —
identical in Spark (conv/substring) and DuckDB ('0x'||substr cast).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

from ..session import spread

# language-marker stopwords for the n-gram-free heuristic language ID.
# Deterministic function of the text only (the corpus vocabulary is
# synthetic, so this checks the operator, not real-world accuracy).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "es": ("el", "la", "los", "que", "de", "es"),
    "fr": ("le", "la", "les", "et", "est", "une"),
}
ENGLISH_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
)


def words(text: Column) -> Column:
    """Whitespace tokenization, empty tokens removed."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda w: w != "")


def ordered_join(order: str, part: str) -> Column:
    """Aggregate: the group's ``part`` strings space-joined in ``order``
    order — the one re-join of ordered pieces (span texts, paragraphs)
    back into a document. Lambda-free: the sorted structs' field is
    extracted as an array, not through a transform."""
    return F.array_join(F.sort_array(F.collect_list(F.struct(order, part)))[part], " ")


def h64(c: Column) -> Column:
    """Portable 60-bit hash (md5-prefix as bigint)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: splits on word boundaries AND every 4
    characters inside long words (a cheap BPE stand-in for budget
    estimation; deterministic, SQL-expressible)."""
    ws = words(text)
    return F.aggregate(
        ws,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("long"),
    )


def stopword_ratio(text: Column) -> Column:
    # isin -> static InSet: an F.array literal inside the lambda would be
    # re-allocated per element (measured GC-bound ceiling; see CLAUDE.md).
    ws = words(text)
    return F.size(
        F.filter(ws, lambda w: F.lower(w).isin(list(ENGLISH_STOPWORDS)))
    ) / F.size(ws)


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: length band + low punctuation +
    healthy stopword presence. Integer-scaled to x1000 for exact
    cross-engine comparison."""
    n = token_count(text)
    len_ok = F.when((n >= 10) & (n <= 1000), F.lit(1.0)).otherwise(F.lit(0.3))
    sw = stopword_ratio(text)
    sw_ok = F.when((sw > 0.01) & (sw < 0.6), F.lit(1.0)).otherwise(F.lit(0.5))
    avg_word = F.aggregate(
        words(text), F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    ) / n
    word_ok = F.when((avg_word >= 2) & (avg_word <= 12), F.lit(1.0)).otherwise(F.lit(0.4))
    return F.round(len_ok * sw_ok * word_ok * 1000).cast("long")


def lang_id(text: Column) -> Column:
    """Heuristic language ID: CJK chars -> zh; else the language whose
    marker-word hit count is highest (ties broken de<es<fr); fallback en."""
    zh = F.length(F.regexp_replace(text, "[^一-鿿]", "")) > 0
    ws = words(text)

    def marker_hits(markers: tuple[str, ...]):
        # isin (static InSet) — not a per-invocation array literal.
        return F.size(F.filter(ws, lambda w: F.lower(w).isin(list(markers))))

    hits = {lang: marker_hits(markers) for lang, markers in LANG_MARKERS.items()}
    best = (
        F.when(zh, F.lit("zh"))
        .when(
            (hits["de"] > 0)
            & (hits["de"] >= hits["es"])
            & (hits["de"] >= hits["fr"]),
            F.lit("de"),
        )
        .when((hits["es"] > 0) & (hits["es"] >= hits["fr"]), F.lit("es"))
        .when(hits["fr"] > 0, F.lit("fr"))
        .otherwise(F.lit("en"))
    )
    return best


def trigrams(text: Column) -> Column:
    """Word 3-grams as strings ("w1 w2 w3"); empty array below 3 words.
    CASE is runtime-lazy, so sequence(1, n-2) never evaluates with an
    invalid range. JVM-only (whole-stage codegen) — the repetition
    signals built on this run at scan speed."""
    ws = words(text)
    n = F.size(ws)
    tg = F.transform(
        F.sequence(F.lit(1), n - F.lit(2)),
        lambda i: F.concat_ws(
            " ", F.element_at(ws, i), F.element_at(ws, i + 1), F.element_at(ws, i + 2)
        ),
    )
    return F.when(n >= 3, tg).otherwise(F.array().cast("array<string>"))


def sample_bucket_x1000(id_col: Column) -> Column:
    """Deterministic per-row sample bucket in [0, 1000): first 6 md5 hex
    chars of the id as an integer, mod 1000. Engine-portable (DuckDB:
    CAST('0x'||substr(md5(id),1,6) AS BIGINT) % 1000), stable across
    runs and cluster sizes — unlike df.sample(), whose RNG is seeded per
    partition and reshuffles membership whenever partitioning changes."""
    return F.conv(F.substring(F.md5(id_col.cast("string")), 1, 6), 16, 10).cast(
        "long"
    ) % 1000


def stratified_sample(
    df,
    id_col: str,
    strata: Column,
    rates_x1000: dict[str, int],
    default_x1000: int = 1000,
):
    """Deterministic stratified downsampling — the language/domain
    rebalancing step of a training-data pipeline (e.g. keep all zh, 30%
    of en). A row survives iff its hash bucket < its stratum's rate, so
    membership is a pure function of the id: reproducible, join-free,
    shuffle-free (narrow scan-speed filter at 10^12 docs), and strata
    sampled at the same rate keep NESTED samples when rates change
    (bucket < 300 is a subset of bucket < 500 — the standard md5-gate
    property rejection-free resampling relies on).

    Returns (id, stratum, bucket_x1000) for surviving rows."""
    out = df.select(
        F.col(id_col),
        strata.alias("stratum"),
        sample_bucket_x1000(F.col(id_col)).alias("bucket_x1000"),
    )
    rate = F.lit(int(default_x1000))
    for k in sorted(rates_x1000):  # deterministic CASE order
        rate = F.when(F.col("stratum") == k, F.lit(int(rates_x1000[k]))).otherwise(rate)
    return out.where(F.col("bucket_x1000") < rate)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of casefolded, whitespace-normalized text.
    (Exact-dedup key; the rolling-hash variant is h64 of the same.)"""
    return F.md5(F.concat_ws(" ", F.transform(words(text), F.lower)))


TFIDF_K = 3  # salient terms kept per document (tfidf_topk)


def tfidf_topk(df, id_col: str, text_col: str):
    """Per-document top-TFIDF_K salient terms by an integer-exact TF-IDF-style
    score: score_x1000 = tf * ((N_docs * 1000) DIV df) — monotone in
    tf/df, all integer arithmetic so the DuckDB twin matches
    bit-for-bit (a float log-idf would make rank ties engine-dependent).

    Scale shape: explode -> groupBy(doc, term) with map-side partial
    counts (the tf table), term document-frequencies aggregated FROM the
    tf table (one extra shuffle on term, input already deduped per doc),
    N via a 1-row broadcast aggregate (collect-free), tf x df an
    equi-join on term — strategy left to the planner (term dim is
    corpus-sized; at scale it stays a shuffle join, never forced
    broadcast) — then a per-doc window for top-k (bounded by the doc's
    distinct terms). Ties broken by term ASC: total order, stable rank.
    """
    from pyspark.sql.window import Window

    # r7: spread the raw rows first — the testdata parquet is ONE scan
    # partition, so the explode + map-side partial aggregation of every
    # occurrence used to run in a single task (measured: 3.0s of q56's
    # 5.1s at sf1.0). The aggregated tf frame is then localCheckpoint'ed:
    # it feeds BOTH the document-frequency aggregate and the scoring
    # join, and the join's pushed isnotnull(term) otherwise specializes
    # the two subtrees so no exchange is ever reused (the same effect
    # token_budget_select documents). sf1.0: 5.1s -> ~0.9s.
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    tf = (
        src.transform(spread, "id")
        .select("id", F.explode(words(F.lower(F.col("__text")))).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(
        F.count(F.lit(1)).cast("long").alias("_n_docs")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score_x1000", F.expr("tf * ((_n_docs * 1000) DIV df)"))
    )
    w = Window.partitionBy("id").orderBy(
        F.desc("score_x1000"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TFIDF_K)
        .select(
            F.col("id"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("score_x1000").cast("long").alias("score_x1000"),
            "rank",
        )
    )


QUANTILES_X1000 = (250, 500, 900)  # exact_group_quantiles' p25/p50/p90


def exact_group_quantiles(df, group_col: str, value_col: str):
    """Exact per-group quantiles (QUANTILES_X1000) of an INTEGER-valued
    metric — the corpus data-card stat (p25/p50/p90 token counts per
    language) computed exactly at any scale, where approx_percentile
    would give engine-dependent answers.

    Shape: value histogram groupBy(group, value) with map-side partial
    counts — bounded by |distinct values| per group (token counts,
    lengths, scores: thousands of distinct values, independent of row
    count; continuous metrics must be bucketed first) — then a
    per-group cumulative window over the AGGREGATED rows, and the
    lower-quantile element (smallest v with cum >= ceil(q*n/1000),
    quantile_disc semantics) via conditional min. ceil is the
    positive-only (a + b - 1) DIV b form, identical in Spark and
    DuckDB (negative integer division differs: Spark truncates,
    DuckDB floors).
    """
    from pyspark.sql.window import Window

    h = df.groupBy(group_col, value_col).agg(F.count(F.lit(1)).alias("_cnt"))
    n = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.asc(value_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ch = h.withColumn("_cum", F.sum("_cnt").over(w)).join(n, group_col)
    aggs = [F.min("_n").cast("long").alias("n_rows")]
    for q in QUANTILES_X1000:
        target = F.expr(f"({int(q)} * _n + 999) DIV 1000")
        aggs.append(
            F.min(F.when(F.col("_cum") >= target, F.col(value_col)))
            .cast("long")
            .alias(f"p{int(q)}")
        )
    return ch.groupBy(group_col).agg(*aggs)


def unigram_rarity(df, id_col: str, text_col: str, keep_max_x1000: int = 200_000):
    """CCNet-style language-model filtering stand-in: per-document mean
    token surprisal under a unigram LM fit on the corpus itself —
    high-rarity documents are gibberish/boilerplate-coded and get
    dropped before training (the perplexity gate every web pipeline
    runs; CCNet buckets pages by LM perplexity the same way).

    Integer-exact so the DuckDB twin matches bit-for-bit: a token's
    surprisal is least(10^6, (T*1000) DIV tf) — the saturated inverse
    relative frequency, monotone in -log p(token) per token (rank-
    preserving; a float log would make ties engine-dependent). The doc
    score is the integer mean. Saturation bounds every per-doc sum by
    10^6 * n_tokens regardless of corpus size; the unsaturated branch
    needs T*1000 < 2^63, i.e. T <= 9.2*10^15 corpus tokens — a 10^12-doc
    corpus at ~500 tokens/doc (5*10^14) fits with 18x headroom.

    Scale shape: occurrences explode -> tf by groupBy(term) (map-side
    partial counts collapse hot terms before the shuffle) -> T via a
    1-row broadcast aggregate (collect-free) -> occurrences join tf on
    term (shuffle join; hot-term skew handled by AQE skew split, never
    a forced broadcast of a corpus-sized dim) -> per-doc aggregate.

    Returns (id, n_tokens, rarity_x1000, keep) — keep=1 iff
    rarity <= keep_max_x1000 (CCNet keeps the LOW-perplexity side)."""
    # r7 (round-6 ADVICE: occ was derived three times; a first fix that
    # staged occ behind a repartition(term) exchange was itself measured
    # a non-win — hashing every occurrence by term collapses onto
    # |vocabulary| partitions, a skew own-goal). Final shape: spread the
    # RAW rows (the parquet is one scan partition), pre-aggregate to
    # per-document term counts (map-side partials collapse repeated
    # terms before any shuffle), and run everything downstream over that
    # aggregate: tf = sum(cnt) per term, T = sum(tf) (== count(occ),
    # same integer), and each (id, term) row contributes
    # cnt x surprisal — sum(_sur * cnt) over the aggregate equals
    # sum(_sur) over the occurrences EXACTLY (integer multiply), and
    # n_tokens = sum(cnt). One scan, one explode; the occurrence frame
    # itself never crosses a shuffle. sf1.0: 2.4s -> ~1.1s.
    occ = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
        .transform(spread, "id")
        .select("id", F.explode(words(F.lower(F.col("__text")))).alias("term"))
    )
    # materialized once: tfd feeds both the term-frequency aggregate and
    # the surprisal join (same staging discipline as tfidf_topk's tf)
    tfd = (
        occ.groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    tf = tfd.groupBy("term").agg(F.sum("cnt").alias("tf"))
    total = tf.select(F.sum("tf").cast("long").alias("_t"))
    sur = (
        tfd.join(tf, "term")
        .crossJoin(F.broadcast(total))
        .withColumn("_sur", F.expr("least(CAST(1000000 AS BIGINT), (_t * 1000) DIV tf)"))
    )
    return (
        sur.groupBy("id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.expr("CAST(sum(_sur * cnt) DIV sum(cnt) AS BIGINT)").alias(
                "rarity_x1000"
            ),
        )
        .withColumn(
            "keep",
            (F.col("rarity_x1000") <= F.lit(int(keep_max_x1000)))
            .cast("long")
            .alias("keep"),
        )
    )


CHUNK_TOKENS = 32  # tokens per retrieval chunk (chunk_documents)
CHUNK_STRIDE = 24  # tokens between chunk starts: 8-token overlap


def chunk_documents(df, id_col: str, text_col: str):
    """Retrieval chunking: cut each document's token stream into
    fixed-size windows with overlap (CHUNK_TOKENS tokens every
    CHUNK_STRIDE tokens) — the RAG-ingestion sibling of training-sequence
    packing (q55 packs a global stream; this emits per-document chunks with
    their text, the unit an embedding/retrieval index stores).

    Chunk count is 1 + ceil((n - c) / s) for n > c, else 1 (c, s the two
    constants)
    (empty documents emit no chunks); the final chunk is the tail
    remainder. Pure JVM expressions (sequence + slice inside a single
    projection — no explode-then-join, no python), so it runs at scan
    speed and parallelizes with the input partitioning at any corpus
    size.

    Returns (id, chunk_idx, n_tokens, chunk_text)."""
    c, s = CHUNK_TOKENS, CHUNK_STRIDE
    # round-6 ADVICE: stride > chunk silently skipped inter-chunk tokens
    # and could emit empty tail chunks; stride <= 0 looped forever in
    # spirit. Fail loudly — no valid caller wants either.
    if s <= 0 or s > c:
        raise ValueError(
            f"chunk_documents requires 0 < CHUNK_STRIDE <= CHUNK_TOKENS, got "
            f"CHUNK_STRIDE={s}, CHUNK_TOKENS={c}"
        )
    toks = df.select(
        F.col(id_col).alias("id"), words(F.col(text_col)).alias("_ws")
    ).where(F.size("_ws") > 0)  # F.sequence(1, 0) counts DOWN — guard empties
    # exact integer chunk count (round-6 ADVICE: the double-division +
    # floor form was float-fragile at extreme n; DIV is exact)
    n_chunks = F.when(F.size("_ws") <= c, F.lit(1).cast("long")).otherwise(
        F.expr(f"1L + (CAST(size(_ws) - {c} + {s - 1} AS BIGINT) DIV {s})")
    )
    base = toks.select(
        "id",
        "_ws",
        F.posexplode(
            F.sequence(F.lit(1), n_chunks.cast("int"))
        ).alias("_i", "_one"),
    )
    sl = F.slice(F.col("_ws"), F.col("_i") * s + 1, c)
    return base.select(
        "id",
        F.col("_i").cast("long").alias("chunk_idx"),
        F.size(sl).cast("long").alias("n_tokens"),
        F.array_join(sl, " ").alias("chunk_text"),
    )
