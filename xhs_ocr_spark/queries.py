"""Driver-contract query registry: Spark queries + DuckDB oracle SQL.

Every SURVEY.md §2 operator that is SQL-expressible gets a (queries,
oracle_sql) pair; the driver runs both at sf0.01 and compares row count,
schema, and order-insensitive value hash. Column names/types are aligned
on both sides by construction (explicit aliases + casts).

Non-SQL-expressible entries (the stand-in OCR flagship) have no oracle —
the driver records a rows-only check; pytest covers them against the
pure-Python oracle instead.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import lru_cache

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .extraction.datagen import corpus_from_documents
from .extraction.pipeline import extract_spans_flat
from .operators import pick_one, related_merge, unrelated_merge
from .operators import dedup_fuzzy as DF
from .operators import selection as SEL
from .operators import simsearch as SS
from .operators import textops as TX
from .session import spread

CUTOFF = "2024-01-24"  # S2 recent-date filter, fixed for determinism


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Extraction-relational family (reference §2 operators)
# ---------------------------------------------------------------------------


def q_recent_filter(spark, sf):
    """S2: partition-pruning date predicate (core/run.py:132-138)."""
    ev = _t(spark, sf, "events")
    return (
        ev.where(F.col("ts") >= F.lit(CUTOFF).cast("timestamp"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.min("event_id").alias("first_event"))
    )


SQL_RECENT_FILTER = f"""
SELECT event_type, count(*) AS n, min(event_id) AS first_event
FROM events WHERE ts >= TIMESTAMP '{CUTOFF} 00:00:00'
GROUP BY event_type
"""


def q_related_merge(spark, sf):
    """J1: full-outer related merge, last-non-empty-wins, '' fill
    (db/data_dms.py:166-225)."""
    ev = _t(spark, sf, "events")
    a = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").cast("string").alias("clicks"))
    )
    b = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("string").alias("purchases"),
            F.round(F.sum("value") * 100).cast("long").cast("string").alias("value_cents"),
        )
    )
    return related_merge([a, b], ["user_id"])


SQL_RELATED_MERGE = """
WITH a AS (
  SELECT user_id, CAST(count(*) AS VARCHAR) AS clicks
  FROM events WHERE event_type = 'click' GROUP BY user_id
), b AS (
  SELECT user_id, CAST(count(*) AS VARCHAR) AS purchases,
         CAST(CAST(round(sum(value) * 100) AS BIGINT) AS VARCHAR) AS value_cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT coalesce(a.user_id, b.user_id) AS user_id,
       coalesce(nullif(a.clicks, ''), '') AS clicks,
       coalesce(nullif(b.purchases, ''), '') AS purchases,
       coalesce(nullif(b.value_cents, ''), '') AS value_cents
FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
"""


def q_unrelated_merge(spark, sf):
    """J2: union-by-name with '' fill (db/data_dms.py:228-253)."""
    d = _t(spark, sf, "documents")
    a = d.select(F.col("doc_id").cast("string").alias("doc_id"), F.col("lang").alias("lang"))
    b = d.select(F.col("doc_id").cast("string").alias("doc_id"), F.col("source").alias("source"))
    return unrelated_merge([a, b])


SQL_UNRELATED_MERGE = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang, '' AS source FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR) AS doc_id, '' AS lang, source FROM documents
"""


def q_dedup_first_wins(spark, sf):
    """G7: INSERT OR IGNORE first-write-wins (db/__init__.py:110-116)."""
    ev = _t(spark, sf, "events").select("user_id", "event_type", "event_id")
    return pick_one(ev, ["user_id", "event_type"], ["event_id"])


SQL_DEDUP_FIRST = """
SELECT user_id, event_type, event_id FROM (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
  FROM events
) WHERE rn = 1
"""


def q_dedup_last_wins(spark, sf):
    """G8: upsert last-write-wins (db/data_dms.py:293-312)."""
    ev = _t(spark, sf, "events").select("user_id", "event_type", "event_id")
    return pick_one(ev, ["user_id", "event_type"], ["event_id"], last=True)


SQL_DEDUP_LAST = """
SELECT user_id, event_type, event_id FROM (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_mask_fallback_top1(spark, sf):
    """J3's success-selection shape: ordered alternatives per key, first
    passing a validation gate wins (core/run.py:375-501 as a relational
    plan: the smallest mask_order per key wins)."""
    ok = _t(spark, sf, "events").where(F.col("value") > 15)  # "OCR accepted" gate
    return pick_one(
        ok.select("user_id", "event_id", F.col("event_type").alias("winner_type")),
        ["user_id"],
        ["event_id"],
    )


SQL_MASK_FALLBACK = """
SELECT user_id, event_id, event_type AS winner_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events WHERE value > 15
) WHERE rn = 1
"""


def q_arity_gate(spark, sf):
    """F7/F8: arity validation — keep docs whose token count % 8 == 0
    (the traffic-analysis 8-text gate, core/run.py:478-490)."""
    d = _t(spark, sf, "documents")
    n = TX.token_count(F.col("text")).cast("long")
    return d.select("doc_id", n.alias("n_tokens")).where(F.col("n_tokens") % 8 == 0)


SQL_ARITY_GATE = r"""
SELECT doc_id, len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS n_tokens
FROM documents
WHERE len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) % 8 = 0
"""


def q_normalize_chain(spark, sf):
    """X5-X7: the exact replace chain over synthesized OCR-ish strings
    (core/run.py:468-476)."""
    d = _t(spark, sf, "documents")
    raw = F.concat(F.lit("<b>曝光数 "), F.substring("text", 1, 20), F.lit(" 5o秒</b>"))
    from .functions import normalize_ocr_col

    return d.select(
        "doc_id",
        normalize_ocr_col(raw, F.lit("note_data_overview_top"), F.lit("xhs")).alias("normalized"),
    )


SQL_NORMALIZE_CHAIN = """
SELECT doc_id,
  replace(replace(replace(replace(replace(
    regexp_replace('<b>曝光数 ' || substr(text, 1, 20) || ' 5o秒</b>', '[一-鿿]+', '', 'g'),
    '秒', ''), ' ', ''), 'o', '0'), '<b>', ''), '</b>', '') AS normalized
FROM documents
"""


def q_chinese_number(spark, sf):
    """X8: chinese-number conversion over derived strings
    (core/run.py:679-690)."""
    d = _t(spark, sf, "documents")
    from .functions import chinese_number_to_long

    s = F.when(
        F.col("n_chars") >= 300, F.concat(F.round(F.col("n_chars") / 10000.0, 2).cast("string"), F.lit("万"))
    ).otherwise(F.col("n_chars").cast("string"))
    return d.select("doc_id", s.alias("raw"), chinese_number_to_long(s).alias("converted"))


SQL_CHINESE_NUMBER = """
WITH s AS (
  SELECT doc_id,
         CASE WHEN n_chars >= 300
              THEN CAST(round(n_chars / 10000.0, 2) AS VARCHAR) || '万'
              ELSE CAST(n_chars AS VARCHAR) END AS raw
  FROM documents
)
SELECT doc_id, raw,
       CASE WHEN raw LIKE '%万%' AND TRY_CAST(regexp_replace(raw, '[^0-9.]', '', 'g') AS DOUBLE) IS NOT NULL
            THEN CAST(CAST(floor(TRY_CAST(regexp_replace(raw, '[^0-9.]', '', 'g') AS DOUBLE) * 10000) AS BIGINT) AS VARCHAR)
            ELSE raw END AS converted
FROM s
"""


def q_label_value_pairing(spark, sf):
    """X9: stride-2 label:value pairing of the first 8 tokens
    (core/run.py:479-483)."""
    d = _t(spark, sf, "documents")
    ws = TX.words(F.col("text"))
    first8 = F.slice(ws, 1, 8)
    from .functions import label_value_pairs

    return d.where(F.size(ws) >= 8).select("doc_id", label_value_pairs(first8).alias("paired"))


SQL_LABEL_VALUE = r"""
WITH w AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws FROM documents
)
SELECT doc_id,
       ws[1] || ':' || ws[2] || '|' || ws[3] || ':' || ws[4] || '|' ||
       ws[5] || ':' || ws[6] || '|' || ws[7] || ':' || ws[8] AS paired
FROM w WHERE len(ws) >= 8
"""


def q_content_type(spark, sf):
    """X10/X11: tag digit strip + content-type derivation
    (core/run.py:504-509)."""
    d = _t(spark, sf, "documents")
    from .functions import clean_tag, content_type_col

    tag = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("video_data_overview")).otherwise(
            F.lit("note_data_overview")
        ),
        (F.col("doc_id") % 10).cast("string"),
    )
    return d.select(
        "doc_id",
        clean_tag(tag).alias("tag"),
        content_type_col(tag, F.lit("xhs")).alias("content_type"),
    )


SQL_CONTENT_TYPE = """
WITH t AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'video_data_overview' ELSE 'note_data_overview' END)
           || CAST(doc_id % 10 AS VARCHAR) AS tag
  FROM documents
)
SELECT doc_id, regexp_replace(tag, '[0-9]+', '', 'g') AS tag,
       CASE WHEN tag LIKE '%video%' THEN 'video' ELSE 'note' END AS content_type
FROM t
"""


def q_merge_pipeline(spark, sf):
    """J5: the 4-stage merge DAG (db/pipeline.py:8-76) over six per-type
    event aggregates, related key = user_id."""
    ev = _t(spark, sf, "events")

    def agg_tbl(etype: str, col: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == etype)
            .groupBy(F.col("user_id").alias("user_id"))
            .agg(F.count("*").cast("string").alias(col))
        )

    from .plans import run_merge_pipeline

    return run_merge_pipeline(
        video_top=agg_tbl("click", "exposure"),
        video_bottom=agg_tbl("view", "likes"),
        note_top=agg_tbl("signup", "exposure"),
        note_bottom=agg_tbl("error", "likes"),
        note_traffic=agg_tbl("purchase", "source_homepage"),
        video_traffic=agg_tbl("click", "source_homepage"),
        keys=["user_id"],
    )


SQL_MERGE_PIPELINE = """
WITH vt AS (SELECT user_id, CAST(count(*) AS VARCHAR) AS exposure FROM events WHERE event_type='click' GROUP BY user_id),
     vb AS (SELECT user_id, CAST(count(*) AS VARCHAR) AS likes FROM events WHERE event_type='view' GROUP BY user_id),
     nt AS (SELECT user_id, CAST(count(*) AS VARCHAR) AS exposure FROM events WHERE event_type='signup' GROUP BY user_id),
     nb AS (SELECT user_id, CAST(count(*) AS VARCHAR) AS likes FROM events WHERE event_type='error' GROUP BY user_id),
     ntr AS (SELECT user_id, CAST(count(*) AS VARCHAR) AS source_homepage FROM events WHERE event_type='purchase' GROUP BY user_id),
     vtr AS (SELECT user_id, CAST(count(*) AS VARCHAR) AS source_homepage FROM events WHERE event_type='click' GROUP BY user_id),
     video_overview AS (
       SELECT coalesce(vt.user_id, vb.user_id) AS user_id,
              coalesce(nullif(vt.exposure,''),'') AS exposure,
              coalesce(nullif(vb.likes,''),'') AS likes
       FROM vt FULL OUTER JOIN vb ON vt.user_id = vb.user_id),
     note_overview AS (
       SELECT coalesce(nt.user_id, nb.user_id) AS user_id,
              coalesce(nullif(nt.exposure,''),'') AS exposure,
              coalesce(nullif(nb.likes,''),'') AS likes
       FROM nt FULL OUTER JOIN nb ON nt.user_id = nb.user_id),
     data_overview AS (
       SELECT * FROM note_overview UNION ALL SELECT * FROM video_overview),
     traffic AS (
       SELECT user_id, source_homepage FROM ntr UNION ALL SELECT user_id, source_homepage FROM vtr),
     final AS (
       SELECT coalesce(d.user_id, t.user_id) AS user_id,
              coalesce(nullif(d.exposure,''),'') AS exposure,
              coalesce(nullif(d.likes,''),'') AS likes,
              coalesce(nullif(t.source_homepage,''),'') AS source_homepage
       FROM data_overview d FULL OUTER JOIN traffic t ON d.user_id = t.user_id)
SELECT * FROM final
"""


def q_span_reorder(spark, sf):
    """O7 + the text route: chunk text into spans, drop empties, restore
    order by offset, reassemble (window/group semantics on real data)."""
    # corpus_from_documents spreads internally between split and chunking
    # (r7 — the inlining trap); a second outer exchange would be waste.
    # explode_OUTER (r7): a plain explode's implicit `size(spans) > 0`
    # guard is pushed below the exchange and re-evaluates the WHOLE span
    # derivation per row on the single scan partition (measured: the
    # dominant cost of this query). spans is never empty (split() yields
    # >= 1 token, so >= 1 chunk), and the kind/text filter below drops a
    # hypothetical null row, so outer-explode output is identical.
    docs = corpus_from_documents(_t(spark, sf, "documents"))
    flat = docs.select("doc_id", F.explode_outer("spans").alias("s")).select(
        "doc_id", F.col("s.kind").alias("kind"), F.col("s.text").alias("text"), F.col("s.offset").alias("offset")
    )
    text_spans = flat.where((F.col("kind") == "text") & (F.col("text") != ""))
    return (
        text_spans.groupBy("doc_id")
        .agg(TX.ordered_join("offset", "text").alias("reassembled"))
        .select(F.col("doc_id").cast("long").alias("doc_id"), "reassembled")
    )


SQL_SPAN_REORDER = r"""
WITH w AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws FROM documents
), chunks AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(0, CAST(ceil(len(ws)/7.0) AS BIGINT) - 1),
           g -> struct_pack(off := g, chunk := array_to_string(ws[(g*7+1):(g*7+7)], ' '))
         )) AS s
  FROM w
), spans AS (
  SELECT doc_id, s.off AS off, s.chunk AS chunk
  FROM chunks WHERE s.off % 3 <> 2 AND s.chunk <> ''
)
SELECT doc_id, string_agg(chunk, ' ' ORDER BY off) AS reassembled
FROM spans GROUP BY doc_id
"""


def q_sidecar_json(spark, sf):
    """S4: JSON sidecar parsing (core/run.py:213-341 reads json files per
    doc) — parse events.props with an explicit schema, aggregate."""
    ev = _t(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_SIDECAR_JSON = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events
WHERE json_extract(props, '$.k') IS NOT NULL
GROUP BY event_type
"""


def q_user_info_path(spark, sf):
    """K4 + X8 where the reference actually applies conversion: the
    user-info sidecar path (core/run.py:310-341) parses profile JSON,
    converts chinese-number counters (follows/fans/interaction), and
    upserts keyed on (account_id, collect_date). Emulated over documents:
    synthesize the profile dict deterministically, convert, dedup-first
    (INSERT OR IGNORE semantics of db/__init__.py:53-62)."""
    d = _t(spark, sf, "documents")
    from .functions import chinese_number_to_long

    fans_raw = F.when(
        F.col("n_chars") % 3 == 0,
        F.concat(((F.col("n_chars") % 90) / 10.0 + 1).cast("string"), F.lit("万")),
    ).otherwise((F.col("n_chars") * 7).cast("string"))
    account = F.concat(F.lit("acct"), (F.col("doc_id") % 50).cast("string"))
    profiles = d.select(
        account.alias("account_id"),
        F.col("doc_id").alias("doc_id"),
        chinese_number_to_long(fans_raw).alias("fans"),
    )
    return pick_one(profiles, ["account_id"], ["doc_id"]).select("account_id", "fans")


SQL_USER_INFO = """
WITH p AS (
  SELECT 'acct' || CAST(doc_id % 50 AS VARCHAR) AS account_id, doc_id,
         CASE WHEN n_chars % 3 = 0
              THEN CAST((n_chars % 90) / 10.0 + 1 AS VARCHAR) || '万'
              ELSE CAST(n_chars * 7 AS VARCHAR) END AS fans_raw
  FROM documents
), conv AS (
  SELECT account_id, doc_id,
         CASE WHEN fans_raw LIKE '%万%' AND TRY_CAST(regexp_replace(fans_raw, '[^0-9.]', '', 'g') AS DOUBLE) IS NOT NULL
              THEN CAST(CAST(floor(TRY_CAST(regexp_replace(fans_raw, '[^0-9.]', '', 'g') AS DOUBLE) * 10000) AS BIGINT) AS VARCHAR)
              ELSE fans_raw END AS fans
  FROM p
)
SELECT account_id, fans FROM (
  SELECT account_id, fans, row_number() OVER (PARTITION BY account_id ORDER BY doc_id) AS rn
  FROM conv
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Aggregation / join family (engine breadth; G9 metrics analog)
# ---------------------------------------------------------------------------


def q_count_metrics(spark, sf):
    """G9: per-group row counts + stats (db/data_dms.py:104-130)."""
    d = _t(spark, sf, "documents")
    return d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars")).cast("long").alias("avg_chars"),
        F.max("n_chars").alias("max_chars"),
    )


SQL_COUNT_METRICS = """
SELECT source, lang, count(*) AS n_docs,
       CAST(round(avg(n_chars)) AS BIGINT) AS avg_chars,
       max(n_chars) AS max_chars
FROM documents GROUP BY source, lang
"""


def q_lineitem_agg(spark, sf):
    """TPC-H Q1-shaped partial-aggregatable group agg."""
    li = _t(spark, sf, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity") * 100).cast("long").alias("sum_qty_x100"),
            F.round(F.sum("l_extendedprice") * 100).cast("long").alias("sum_price_x100"),
            F.count("*").alias("count_order"),
        )
    )


SQL_LINEITEM_AGG = """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(l_quantity) * 100) AS BIGINT) AS sum_qty_x100,
       CAST(round(sum(l_extendedprice) * 100) AS BIGINT) AS sum_price_x100,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_join_revenue(spark, sf):
    """Broadcast-dim star join: revenue per nation."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice") * 100).cast("long").alias("revenue_x100"),
            F.count("*").alias("n_orders"),
        )
    )


SQL_JOIN_REVENUE = """
SELECT n_name,
       CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS revenue_x100,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_window_topk(spark, sf):
    """Window top-k: 3 highest-value orders per order priority."""
    o = _t(spark, sf, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_orderpriority", F.col("rank").cast("long").alias("rank"), "o_orderkey")
    )


SQL_WINDOW_TOPK = """
SELECT o_orderpriority, CAST(rank AS BIGINT) AS rank, o_orderkey FROM (
  SELECT o_orderpriority, o_orderkey,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Training-data pipeline family
# ---------------------------------------------------------------------------


def q_token_stats(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        TX.token_count(F.col("text")).cast("long").alias("n_tokens"),
        TX.bpe_ish_token_count(F.col("text")).alias("n_subtokens"),
    )


SQL_TOKEN_STATS = r"""
WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws FROM documents)
SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(list_sum(list_transform(ws, x -> CAST(ceil(length(x)/4.0) AS BIGINT))) AS BIGINT) AS n_subtokens
FROM w
"""


def q_quality_score(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", TX.quality_score(F.col("text")).alias("quality_x1000"))


SQL_QUALITY_SCORE = r"""
WITH w AS (
  SELECT doc_id, text, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws FROM documents
), m AS (
  SELECT doc_id,
         len(ws) AS n,
         len(list_filter(ws, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], lower(x)))) / CAST(len(ws) AS DOUBLE) AS sw,
         list_sum(list_transform(ws, x -> length(x))) / CAST(len(ws) AS DOUBLE) AS avg_word
  FROM w
)
SELECT doc_id,
  CAST(round(
    (CASE WHEN n BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.3 END) *
    (CASE WHEN sw > 0.01 AND sw < 0.6 THEN 1.0 ELSE 0.5 END) *
    (CASE WHEN avg_word >= 2 AND avg_word <= 12 THEN 1.0 ELSE 0.4 END) * 1000
  ) AS BIGINT) AS quality_x1000
FROM m
"""


def q_repetition(spark, sf):
    """Gopher-style repetition quality signals: the fraction of word and
    word-3-gram occurrences that are repeats — high values mark boiler-
    plate/spam documents a training pipeline drops. Exact integer
    arithmetic ((count*1000) DIV total, no floating point) so Spark and
    DuckDB agree bit-for-bit; pure JVM expressions, scan-speed at 100 TB."""
    d = _t(spark, sf, "documents")
    ws = TX.words(F.col("text"))
    tg = TX.trigrams(F.col("text"))
    m = d.select(
        "doc_id",
        F.size(ws).alias("n"),
        F.size(F.array_distinct(ws)).alias("dw"),
        F.size(tg).alias("t"),
        F.size(F.array_distinct(tg)).alias("dt"),
    )
    return m.select(
        "doc_id",
        F.expr(
            "CAST(CASE WHEN n > 0 THEN ((n - dw) * 1000) DIV n ELSE 0 END AS BIGINT)"
        ).alias("dup_word_x1000"),
        F.expr(
            "CAST(CASE WHEN t > 0 THEN ((t - dt) * 1000) DIV t ELSE 0 END AS BIGINT)"
        ).alias("dup_trigram_x1000"),
    )


SQL_REPETITION = r"""
WITH w AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
  FROM documents
), m AS (
  SELECT doc_id, len(ws) AS n, len(list_distinct(ws)) AS dw,
         CASE WHEN len(ws) >= 3
              THEN list_transform(generate_series(1, len(ws) - 2),
                                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
              ELSE CAST([] AS VARCHAR[]) END AS tg
  FROM w
)
SELECT doc_id,
       CAST(CASE WHEN n > 0 THEN ((n - dw) * 1000) // n ELSE 0 END AS BIGINT) AS dup_word_x1000,
       CAST(CASE WHEN len(tg) > 0 THEN ((len(tg) - len(list_distinct(tg))) * 1000) // len(tg) ELSE 0 END AS BIGINT) AS dup_trigram_x1000
FROM m
"""


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
_URL_RE = "https?://[^ \\t\\n]+"


def q_pii_scrub(spark, sf):
    """PII/URL scrubbing — a first-class training-data op (emails and
    URLs are redacted before a corpus ships). Counts each occurrence and
    rewrites the text with [EMAIL]/[URL] placeholders. The regexes use
    only the class/quantifier subset that Java regex (Spark) and RE2
    (DuckDB) treat identically — no backrefs, no lookarounds, no {m,n}
    braces. URLs are scrubbed FIRST so an email-looking userinfo part
    inside a URL counts as URL, not email, in both engines."""
    d = _t(spark, sf, "documents")
    no_url = F.regexp_replace(F.col("text"), _URL_RE, "[URL]")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_URL_RE), 0))
        .cast("long")
        .alias("n_urls"),
        F.size(F.regexp_extract_all(no_url, F.lit(_EMAIL_RE), 0))
        .cast("long")
        .alias("n_emails"),
        F.regexp_replace(no_url, _EMAIL_RE, "[EMAIL]").alias("scrubbed"),
    )


SQL_PII_SCRUB = r"""
WITH u AS (
  SELECT doc_id, text,
         regexp_replace(text, 'https?://[^ \t\n]+', '[URL]', 'g') AS no_url
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, 'https?://[^ \t\n]+')) AS BIGINT) AS n_urls,
       CAST(len(regexp_extract_all(no_url, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS BIGINT) AS n_emails,
       regexp_replace(no_url, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '[EMAIL]', 'g') AS scrubbed
FROM u
"""


def q_decontam(spark, sf):
    """Benchmark decontamination (round-3 verdict item 3): every 11th
    document stands in for the eval/benchmark set; documents whose
    distinct word-3-gram overlap with the eval shingle set is >= 50% are
    flagged contaminated. Uses the broadcast-semi-join form. The eval
    shingle set here is ~16k shingles at sf0.1, and an earlier form that
    carried it in the plan as a static InSet probed inside a
    filter(shingles, s -> s IN (...)) lambda was measured at 10.8s vs
    0.2s for the join at sf0.1: interpreted HOF eval rebuilds the probe
    set PER LAMBDA INVOCATION, so that form only won for eval sets of a
    few hundred shingles, and it was removed."""
    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    ev = d.where(F.col("doc_id").cast("bigint") % 11 == 0)
    return DF.decontam_flags_join(
        d, "doc_id", "text", ev, threshold_x1000=500
    ).withColumnRenamed("id", "doc_id")


SQL_DECONTAM = r"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(doc_id AS BIGINT) AS did,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
  FROM documents
), sh AS (
  SELECT doc_id, did,
         list_distinct(list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
                                      i -> array_to_string(ws[i:(i+2)], ' '))) AS shs
  FROM w
), ev AS (
  SELECT DISTINCT unnest(shs) AS s FROM sh WHERE did % 11 = 0
), ex AS (
  SELECT doc_id, unnest(shs) AS s FROM sh
), h AS (
  SELECT ex.doc_id, count(*) AS hits FROM ex JOIN ev USING (s) GROUP BY ex.doc_id
)
SELECT sh.doc_id,
       CAST(len(shs) AS BIGINT) AS n_shingles,
       CAST(coalesce(hits, 0) AS BIGINT) AS n_eval_hits,
       CAST(CASE WHEN len(shs) > 0 AND (coalesce(hits, 0) * 1000) // len(shs) >= 500
                 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
FROM sh LEFT JOIN h USING (doc_id)
"""


def q_para_dedup(spark, sf):
    """Paragraph-level exact dedup (round-3 verdict item 6): documents
    exploded to 4-word-window 'paragraphs' (the corpus carries no
    newline structure), fingerprinted, first occurrence keeps."""
    d = _t(spark, sf, "documents")
    return DF.paragraph_dedup(d, "doc_id", "text")


SQL_PARA_DEDUP = r"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
  FROM documents
), p AS (
  SELECT doc_id, i - 1 AS para_idx, array_to_string(ws[(i-1)*4+1:i*4], ' ') AS para
  FROM w, unnest(generate_series(1, greatest(CAST(ceil(len(ws) / 4.0) AS BIGINT), 1))) AS t(i)
), f AS (
  SELECT doc_id, CAST(para_idx AS BIGINT) AS para_idx, md5(lower(para)) AS fp
  FROM p WHERE para <> ''
)
SELECT doc_id, para_idx, fp,
       CAST(CASE WHEN row_number() OVER (PARTITION BY fp ORDER BY doc_id, para_idx) = 1
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM f
"""


def q_stratified_sample(spark, sf):
    """Deterministic stratified sampling — the language-rebalancing step
    of a training-data pipeline: keep all zh, 30% of en, 50% of the
    rest. Membership is an md5-gate on doc_id (pure function of the id:
    reproducible across engines, runs, and cluster sizes — df.sample()
    is none of those), so the whole op is a narrow scan-speed filter."""
    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return TX.stratified_sample(
        d,
        "doc_id",
        TX.lang_id(F.col("text")),
        rates_x1000={"en": 300, "zh": 1000},
        default_x1000=500,
    )


SQL_STRATIFIED_SAMPLE = r"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
         list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''), x -> lower(x)) AS ws
  FROM documents
), m AS (
  SELECT doc_id,
         length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0 AS zh,
         len(list_filter(ws, x -> list_contains(['der','die','das','und','nicht','ist'], x))) AS de,
         len(list_filter(ws, x -> list_contains(['el','la','los','que','de','es'], x))) AS es,
         len(list_filter(ws, x -> list_contains(['le','la','les','et','est','une'], x))) AS fr
  FROM w
), s AS (
  SELECT doc_id,
    CASE WHEN zh THEN 'zh'
         WHEN de > 0 AND de >= es AND de >= fr THEN 'de'
         WHEN es > 0 AND es >= fr THEN 'es'
         WHEN fr > 0 THEN 'fr'
         ELSE 'en' END AS stratum,
    CAST(CAST(('0x' || substr(md5(doc_id), 1, 6)) AS BIGINT) % 1000 AS BIGINT) AS bucket_x1000
  FROM m
)
SELECT doc_id, stratum, bucket_x1000
FROM s
WHERE bucket_x1000 < CASE stratum WHEN 'en' THEN 300 WHEN 'zh' THEN 1000 ELSE 500 END
"""


def q_neardup_clusters(spark, sf):
    """LSH candidate pairs -> connected components -> dedup decisions:
    one row per doc that appears in any near-dup pair, labeled with its
    component (= min doc_id in the cluster) and keep = 1 iff it IS the
    representative. The Spark side is the iterative min-label
    propagation in dedup_fuzzy.neardup_components; the oracle is a
    recursive-CTE transitive closure over the same pair set."""
    d = _t(spark, sf, "documents")
    pairs = DF.lsh_candidate_pairs(d, "doc_id", "text")
    comp = DF.neardup_components(pairs)
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("component"),
        (F.col("id") == F.col("comp")).cast("long").alias("keep"),
    )


SQL_NEARDUP_CLUSTERS = r"""
WITH RECURSIVE w AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws FROM documents
), sh AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
                        i -> array_to_string(ws[i:(i+2)], ' ')) AS shingles
  FROM w
), sig AS (
  SELECT doc_id,
         list_transform(generate_series(0, 7),
                        i -> list_min(list_transform(shingles,
                               s -> substr(md5(CAST(i // 4 AS VARCHAR) || '|' || s), (i % 4) * 8 + 1, 8)))) AS sg
  FROM sh
), bands AS (
  SELECT doc_id, unnest(
    list_transform(generate_series(0, 3),
                   b -> md5(CAST(b AS VARCHAR) || '#' || array_to_string(sg[(b*2+1):(b*2+2)], ',')))) AS band
  FROM sig
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
), e AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b AS s, id_a AS d FROM pairs
), reach AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s WHERE e2.d <> r.s
)
SELECT s AS doc_id,
       CAST(least(s, min(d)) AS BIGINT) AS component,
       CAST(CASE WHEN least(s, min(d)) = s THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM reach GROUP BY s
"""


def q_lang_id(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", TX.lang_id(F.col("text")).alias("lang_guess"))


SQL_LANG_ID = r"""
WITH w AS (
  SELECT doc_id, text, list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''), x -> lower(x)) AS ws
  FROM documents
), m AS (
  SELECT doc_id,
         length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0 AS zh,
         len(list_filter(ws, x -> list_contains(['der','die','das','und','nicht','ist'], x))) AS de,
         len(list_filter(ws, x -> list_contains(['el','la','los','que','de','es'], x))) AS es,
         len(list_filter(ws, x -> list_contains(['le','la','les','et','est','une'], x))) AS fr
  FROM w
)
SELECT doc_id,
  CASE WHEN zh THEN 'zh'
       WHEN de > 0 AND de >= es AND de >= fr THEN 'de'
       WHEN es > 0 AND es >= fr THEN 'es'
       WHEN fr > 0 THEN 'fr'
       ELSE 'en' END AS lang_guess
FROM m
"""


def q_fingerprint(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        TX.fingerprint(F.col("text")).alias("fp"),
        TX.h64(F.col("text")).alias("rolling_h64"),
    )


SQL_FINGERPRINT = r"""
WITH w AS (SELECT doc_id, text, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws FROM documents)
SELECT doc_id,
       md5(array_to_string(list_transform(ws, x -> lower(x)), ' ')) AS fp,
       CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS rolling_h64
FROM w
"""


def q_minhash_signature(spark, sf):
    d = _t(spark, sf, "documents")
    sig = DF.minhash_signature(F.col("text"))
    return d.select("doc_id", F.array_join(sig, ",").alias("signature"))


SQL_MINHASH = r"""
WITH w AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws FROM documents
), sh AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
                        i -> array_to_string(ws[i:(i+2)], ' ')) AS shingles
  FROM w
)
SELECT doc_id,
       array_to_string(
         list_transform(generate_series(0, 7),
                        i -> list_min(list_transform(shingles,
                               s -> substr(md5(CAST(i // 4 AS VARCHAR) || '|' || s), (i % 4) * 8 + 1, 8)))),
         ',') AS signature
FROM sh
"""


def q_lsh_pairs(spark, sf):
    d = _t(spark, sf, "documents")
    return DF.lsh_candidate_pairs(d, "doc_id", "text")


SQL_LSH_PAIRS = r"""
WITH w AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws FROM documents
), sh AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
                        i -> array_to_string(ws[i:(i+2)], ' ')) AS shingles
  FROM w
), sig AS (
  SELECT doc_id,
         list_transform(generate_series(0, 7),
                        i -> list_min(list_transform(shingles,
                               s -> substr(md5(CAST(i // 4 AS VARCHAR) || '|' || s), (i % 4) * 8 + 1, 8)))) AS sg
  FROM sh
), bands AS (
  SELECT doc_id, unnest(
    list_transform(generate_series(0, 3),
                   b -> md5(CAST(b AS VARCHAR) || '#' || array_to_string(sg[(b*2+1):(b*2+2)], ',')))) AS band
  FROM sig
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
"""


def q_simhash(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", DF.simhash(F.col("text")).alias("simhash16"))


SQL_SIMHASH = r"""
WITH w AS (
  SELECT doc_id,
         list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''),
                        x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) AS hs
  FROM documents
)
SELECT doc_id,
  CAST(list_sum(list_transform(generate_series(0, 15), j ->
    CASE WHEN list_sum(list_transform(hs, h ->
           CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
         THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash16
FROM w
"""


def q_ngram_jaccard(spark, sf):
    d = _t(spark, sf, "documents")
    return DF.ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.12, scope_col="lang")


SQL_NGRAM_JACCARD = r"""
WITH w AS (
  SELECT doc_id, lang, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws FROM documents
), sh AS (
  SELECT doc_id, lang, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
                   i -> array_to_string(ws[i:(i+2)], ' ')))) AS sh
  FROM w
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       CAST(round(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) * 1000) AS BIGINT) AS jacc_x1000
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.12
"""


def q_cosine_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    return SS.cosine_topk(e, e.where(F.col("vec_id") < 10))


SQL_COSINE_TOPK = """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
           FROM embeddings),
     q AS (SELECT vec_id AS q_id, vec AS q_vec FROM v WHERE vec_id < 10),
     scored AS (
       SELECT q.q_id, c.vec_id AS n_id,
              list_cosine_similarity(q.q_vec, c.vec) AS cos
       FROM q, v c WHERE c.vec_id <> q.q_id
     )
SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank FROM (
  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
  FROM scored
) WHERE rank <= 3
"""


def q_embedding_neardup(spark, sf):
    """LSH-bucketed near-duplicate pairs over embeddings."""
    e = _t(spark, sf, "embeddings")
    return SS.lsh_near_neighbors(e, n_planes=4, min_cos=0.2)


def _sql_embedding_neardup() -> str:
    # Mirror q31: cast the FLOAT embedding to DOUBLE before any dot /
    # cosine so the >0 sign-bit and >=0.2 threshold agree with Spark,
    # which computes in double (ADVICE r1: data-dependent flips otherwise).
    planes = [SS.hyperplane(64, p) for p in range(4)]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(vec, {pl}) > 0 THEN {2**p} ELSE 0 END)"
        for p, pl in enumerate(planes)
    )
    return f"""
WITH v AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), b AS (
  SELECT id, vec, CAST({bucket} AS BIGINT) AS bucket FROM v
)
SELECT DISTINCT a.id AS id_a, b2.id AS id_b
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.id < b2.id
WHERE list_cosine_similarity(a.vec, b2.vec) >= 0.2
"""


def q_ivf_ann(spark, sf):
    """IVF approximate top-k (nprobe=1 coarse quantizer over the fixed
    deterministic centroids the oracle embeds), queries = first 5
    vectors."""
    e = _t(spark, sf, "embeddings")
    cents = [SS.centroid(64, c) for c in range(SS.N_CELLS)]
    return SS.ivf_topk_kmeans(
        e, e.where(F.col("vec_id") < 5), cents, nprobe=1, assign_cells=1
    )


def _sql_ivf_ann() -> str:
    cents = [SS.centroid(64, c) for c in range(SS.N_CELLS)]
    dots = ", ".join(
        f"list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), {c})"
        for c in cents
    )
    return f"""
WITH assigned AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
         list_position(d, list_max(d)) - 1 AS cell
  FROM (SELECT vec_id, embedding, [{dots}] AS d FROM embeddings)
), q AS (
  SELECT vec_id AS q_id, vec AS q_vec, cell FROM assigned WHERE vec_id < 5
), scored AS (
  SELECT q.q_id, a.vec_id AS n_id,
         list_cosine_similarity(q.q_vec, a.vec) AS cos
  FROM q JOIN assigned a ON a.cell = q.cell AND a.vec_id <> q.q_id
)
SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank FROM (
  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
  FROM scored
) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Flagship (non-SQL-expressible: stand-in OCR inside mapInArrow)
# ---------------------------------------------------------------------------


def q_extract_flagship(spark, sf):
    """Full interleaved extraction over a corpus derived from documents:
    media route (mapInArrow OCR over raw RGBA payloads: mask composite +
    pixel decode) + text route + offset re-merge.
    No SQL oracle (engine semantics live in Python); pytest checks it
    against the reference oracle instead."""
    from .extraction.datagen import attach_media_bytes

    # corpus_from_documents spreads internally between split and chunking
    # (r7 — the inlining trap); a second outer exchange would be waste
    docs = corpus_from_documents(_t(spark, sf, "documents"))
    # order -> bigint for the typed fixture-oracle hash (repo invariant:
    # bigint/string-only oracle outputs)
    return extract_spans_flat(attach_media_bytes(docs)).withColumn(
        "order", F.col("order").cast("long")
    )


def q_substring_dedup(spark, sf):
    """q49: exact substring dedup — flag ≥k-token windows duplicated
    across (or within) documents, the suffix-array-style duplicate-span
    primitive q45's aligned paragraphs cannot see (round-4 verdict item
    5). Per doc: total tokens, tokens covered by duplicate windows, and
    the removal ratio."""
    d = _t(spark, sf, "documents")
    return DF.substring_dedup_stats(d, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


SQL_SUBSTRING_DEDUP = r"""
WITH w AS (
  SELECT doc_id, list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''), x -> lower(x)) AS ws
  FROM documents
), win AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS win_idx, array_to_string(ws[i:(i+7)], ' ') AS win
  FROM w, unnest(generate_series(1, len(ws) - 7)) AS t(i)
  WHERE len(ws) >= 8
), f AS (
  SELECT doc_id, win_idx,
         row_number() OVER (PARTITION BY md5(win) ORDER BY doc_id, win_idx) = 1 AS first
  FROM win
), covered AS (
  SELECT doc_id, count(DISTINCT pos) AS n_dup
  FROM (SELECT doc_id, unnest(generate_series(win_idx, win_idx + 7)) AS pos
        FROM f WHERE NOT first)
  GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_tokens,
       CAST(CASE WHEN len(ws) > 0 THEN (coalesce(n_dup, 0) * 1000) // len(ws) ELSE 0 END AS BIGINT) AS dup_ratio_x1000
FROM w LEFT JOIN covered USING (doc_id)
"""


def q_model_quality(spark, sf):
    """q50: model-based quality scoring — a deterministic logistic
    stand-in classifier behind the same once-per-worker engine lifecycle
    as the OCR engine (round-4 verdict item 6): the proof-of-pattern for
    dropping a real fastText/ONNX quality model into the corpus
    pipeline. Integer logits, so the DuckDB twin matches bit-for-bit."""
    from .operators.model_scoring import model_quality_scores

    return model_quality_scores(spread(_t(spark, sf, "documents"), "doc_id"), "doc_id", "text")


SQL_MODEL_QUALITY = r"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
  FROM documents
), m AS (
  SELECT doc_id,
    -2000
    + 25 * len(ws)
    + 180 * len(list_filter(ws, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], lower(x))))
    - 150 * len(list_filter(ws, x -> length(x) > 12))
    - 90 * len(list_filter(ws, x -> regexp_matches(x, '[0-9]'))) AS logit
  FROM w
)
SELECT doc_id, CAST(logit AS BIGINT) AS logit_x1000,
       CAST(CASE WHEN logit > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM m
"""


def q_token_budget(spark, sf):
    """q51: token-budget corpus selection — take the highest-quality
    documents in a deterministic total order (quality DESC, md5-shard,
    doc_id) until a token budget is spent. The distributed shape is the
    two-level cumulative sum in selection.token_budget_select: the only
    unpartitioned window runs over a bounded (score x shard) aggregate,
    never over the corpus (a naive global-window cumsum is a
    single-task sort at 10^12 rows)."""
    d = _t(spark, sf, "documents")
    scored = d.select(
        "doc_id",
        TX.quality_score(F.col("text")).alias("quality_x1000"),
        TX.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return SEL.token_budget_select(
        scored, "doc_id", "quality_x1000", "n_tokens", budget=10_000
    )


SQL_TOKEN_BUDGET = r"""
WITH w AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws FROM documents
), m AS (
  SELECT doc_id, len(ws) AS n,
         len(list_filter(ws, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], lower(x)))) / CAST(len(ws) AS DOUBLE) AS sw,
         list_sum(list_transform(ws, x -> length(x))) / CAST(len(ws) AS DOUBLE) AS avg_word
  FROM w
), s AS (
  SELECT doc_id,
    CAST(round(
      (CASE WHEN n BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.3 END) *
      (CASE WHEN sw > 0.01 AND sw < 0.6 THEN 1.0 ELSE 0.5 END) *
      (CASE WHEN avg_word >= 2 AND avg_word <= 12 THEN 1.0 ELSE 0.4 END) * 1000
    ) AS BIGINT) AS quality_x1000,
    CAST(n AS BIGINT) AS n_tokens,
    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 1000) % 64 AS shard
  FROM m
), c AS (
  SELECT doc_id, quality_x1000, n_tokens,
         SUM(n_tokens) OVER (ORDER BY quality_x1000 DESC, shard ASC, doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM s
)
SELECT doc_id, quality_x1000, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
FROM c WHERE cum <= 10000
"""


def q_incremental_dedup(spark, sf):
    """q52: incremental dedup of an incoming batch against an existing
    corpus index — every 10th document stands in for today's delta, the
    rest for the already-indexed corpus. Status per incoming doc:
    'exact' (fingerprint already present), 'near' (>=1 MinHash LSH band
    collision), else 'new'. The steady-state production shape: O(batch
    + index probes), never re-pairing the whole corpus."""
    d = _t(spark, sf, "documents")
    new = d.where(F.col("doc_id") % 10 == 0)
    corpus = d.where(F.col("doc_id") % 10 != 0)
    return DF.incremental_dedup_status(
        new, corpus, "doc_id", "text"
    ).withColumnRenamed("id", "doc_id")


SQL_INCREMENTAL_DEDUP = r"""
WITH w AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws FROM documents
), fp AS (
  SELECT doc_id, md5(array_to_string(list_transform(ws, x -> lower(x)), ' ')) AS fp FROM w
), sh AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
                        i -> array_to_string(ws[i:(i+2)], ' ')) AS shingles
  FROM w
), sig AS (
  SELECT doc_id,
         list_transform(generate_series(0, 7),
                        i -> list_min(list_transform(shingles,
                               s -> substr(md5(CAST(i // 4 AS VARCHAR) || '|' || s), (i % 4) * 8 + 1, 8)))) AS sg
  FROM sh
), bands AS (
  SELECT doc_id, unnest(
    list_transform(generate_series(0, 3),
                   b -> md5(CAST(b AS VARCHAR) || '#' || array_to_string(sg[(b*2+1):(b*2+2)], ',')))) AS band
  FROM sig
), exact AS (
  SELECT DISTINCT n.doc_id FROM fp n JOIN fp c ON n.fp = c.fp
  WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
), near AS (
  SELECT DISTINCT n.doc_id FROM bands n JOIN bands c ON n.band = c.band
  WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
)
SELECT w.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
            WHEN nr.doc_id IS NOT NULL THEN 'near'
            ELSE 'new' END AS status
FROM w LEFT JOIN exact e ON w.doc_id = e.doc_id
       LEFT JOIN near nr ON w.doc_id = nr.doc_id
WHERE w.doc_id % 10 = 0
"""


def q_mix_resample(spark, sf):
    """q53: domain-mix resampling — downsample each language to hit a
    target mix (en 40%, zh 20%, de 15%, es 15%, fr 10%) at the largest
    feasible total, with deterministic md5-gate membership. Rates are
    derived from the data via two tiny broadcast aggregates (no
    collect); the row filter is a narrow scan-speed gate."""
    d = _t(spark, sf, "documents")
    return SEL.mix_resample(
        d,
        "doc_id",
        "lang",
        targets_x1000={"en": 400, "zh": 200, "de": 150, "es": 150, "fr": 100},
    )


SQL_MIX_RESAMPLE = r"""
WITH c AS (
  SELECT lang, count(*) AS n_domain,
         CASE lang WHEN 'en' THEN 400 WHEN 'zh' THEN 200 WHEN 'de' THEN 150
                   WHEN 'es' THEN 150 WHEN 'fr' THEN 100 ELSE 0 END AS t
  FROM documents GROUP BY lang
), c2 AS (
  SELECT * FROM c WHERE t > 0
), m AS (
  SELECT min((n_domain * 1000) // t) AS m_total FROM c2
), r AS (
  SELECT lang, n_domain,
         least(1000, (((m_total * t) // 1000) * 1000) // n_domain) AS rate_x1000
  FROM c2, m
)
SELECT d.doc_id, d.lang,
       CAST(r.n_domain AS BIGINT) AS n_domain,
       CAST(r.rate_x1000 AS BIGINT) AS rate_x1000,
       CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 1000 AS BIGINT) AS bucket_x1000
FROM documents d JOIN r USING (lang)
WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 1000 < r.rate_x1000
"""


def q_epoch_shuffle(spark, sf):
    """q54: deterministic epoch shuffle — a global 1-based training
    position for every document under the pseudo-random total order
    md5(salt||id). Reshuffle = change the salt; reproducible across
    runs and cluster sizes. The position is a two-level cumsum of 1s
    (grouping key = hex key prefix, so group order IS key order) — no
    global sort, no single-task window. The group cardinality is
    16**prefix_len (default 2 -> 256, right-sized for the sandbox; see
    two_level_cumsum's sizing math for 1e12 rows); the OUTPUT — and so
    the oracle — is prefix_len-invariant, and XHS_SHUFFLE_PREFIX_LEN
    lets the oracle harness prove that at a second cardinality."""
    d = _t(spark, sf, "documents")
    plen = int(os.environ.get("XHS_SHUFFLE_PREFIX_LEN", "2"))
    return SEL.epoch_shuffle_positions(d, "doc_id", prefix_len=plen)


SQL_EPOCH_SHUFFLE = r"""
SELECT doc_id,
       md5('epoch-0|' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
       CAST(row_number() OVER (ORDER BY md5('epoch-0|' || CAST(doc_id AS VARCHAR))) AS BIGINT) AS pos
FROM documents
"""


def q_pack_sequences(spark, sf):
    """q55: sequence packing — lay documents out in the epoch-shuffle
    order and cut the token stream into 1024-token training sequences;
    each doc reports the sequence its first token lands in and its
    offset there (the trainer's chunker handles docs spanning a
    boundary). Concatenate-and-chunk is the step between corpus
    assembly and the trainer in every LLM pretraining pipeline; here
    it is the two-level token cumsum — no global sort at any scale
    (group cardinality = 16**prefix_len, output prefix_len-invariant;
    XHS_SHUFFLE_PREFIX_LEN overrides for the two-cardinality oracle
    proof)."""
    d = _t(spark, sf, "documents")
    toks = d.select(
        "doc_id", TX.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    plen = int(os.environ.get("XHS_SHUFFLE_PREFIX_LEN", "2"))
    return SEL.pack_sequences(toks, "doc_id", "n_tokens", seq_len=1024, prefix_len=plen)


SQL_PACK_SEQUENCES = r"""
WITH w AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
         md5('epoch-0|' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start
  FROM w
)
SELECT doc_id, n_tokens,
       CAST(start // 1024 AS BIGINT) AS seq_id,
       CAST(start % 1024 AS BIGINT) AS offset_in_seq
FROM c
"""


def q_tfidf_topk(spark, sf):
    """q56: per-document top-3 salient terms by integer-exact TF-IDF
    (score = tf * ((N*1000) DIV df); float log-idf would make rank
    ties engine-dependent). The corpus df table is aggregated from the
    per-doc tf table; N is a 1-row broadcast aggregate (collect-free);
    the per-doc top-k window is bounded by a doc's distinct terms."""
    d = _t(spark, sf, "documents")
    return TX.tfidf_topk(d, "doc_id", "text").withColumnRenamed("id", "doc_id")


SQL_TFIDF_TOPK = r"""
WITH w AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, tf.tf * ((n.n_docs * 1000) // dfreq.df) AS score_x1000
  FROM tf JOIN dfreq USING (term), n
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
       CAST(score_x1000 AS BIGINT) AS score_x1000, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT doc_id, term, tf, score_x1000,
         row_number() OVER (PARTITION BY doc_id ORDER BY score_x1000 DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


def q_token_quantiles(spark, sf):
    """q57: corpus data card — exact per-language p25/p50/p90 token
    counts (plus row count). Exact at any scale via the value-histogram
    form in textops.exact_group_quantiles: the histogram is bounded by
    distinct token counts, not corpus size, and approx_percentile
    would be engine-dependent."""
    d = _t(spark, sf, "documents")
    v = d.select(
        "lang", TX.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return TX.exact_group_quantiles(v, "lang", "n_tokens")


SQL_TOKEN_QUANTILES = r"""
WITH v AS (
  SELECT lang,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
), h AS (
  SELECT lang, n_tokens, count(*) AS cnt FROM v GROUP BY lang, n_tokens
), n AS (
  SELECT lang, count(*) AS n_rows FROM v GROUP BY lang
), c AS (
  SELECT lang, n_tokens,
         SUM(cnt) OVER (PARTITION BY lang ORDER BY n_tokens
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM h
)
SELECT c.lang, CAST(min(n.n_rows) AS BIGINT) AS n_rows,
       CAST(min(CASE WHEN cum >= (250 * n.n_rows + 999) // 1000 THEN n_tokens END) AS BIGINT) AS p250,
       CAST(min(CASE WHEN cum >= (500 * n.n_rows + 999) // 1000 THEN n_tokens END) AS BIGINT) AS p500,
       CAST(min(CASE WHEN cum >= (900 * n.n_rows + 999) // 1000 THEN n_tokens END) AS BIGINT) AS p900
FROM c JOIN n USING (lang)
GROUP BY c.lang
"""


def q_sessionize(spark, sf):
    """q58: gap-based sessionization of the events stream (30-min
    silence closes a session). Window partitioned by user — bounded by
    one user's events at any scale, one shuffle on the key; exact
    integer epoch-second gap arithmetic on both engines."""
    ev = _t(spark, sf, "events")
    from .operators.sessionize import sessionize

    return sessionize(ev, "user_id", "ts", "event_id")


SQL_SESSIONIZE = r"""
WITH o AS (
  SELECT event_id, user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), f AS (
  SELECT event_id, user_id, ts,
         CASE WHEN prev IS NULL
                   -- floor() before the cast (round-5 ADVICE): DuckDB's
                   -- epoch() is DOUBLE and a bare BIGINT cast ROUNDS,
                   -- while Spark's unix_timestamp() FLOORS — the events
                   -- data has sub-second timestamps on every row, so
                   -- without the floor the parity is data-lucky.
                   OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM o
)
SELECT event_id, user_id,
       CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx,
       CAST(brk AS BIGINT) AS is_start
FROM f
"""


def q_sessionize_bucketed(spark, sf):
    """q59: skew-safe sessionization — identical semantics to q58 (and
    the SAME oracle SQL), but the per-key window is split into (user,
    1-hour-bucket) partitions and stitched on a per-bucket summary
    frame, so a hot key (bot account with 10^8 events) never funnels
    into one task. The 100x-scale form of q58."""
    ev = _t(spark, sf, "events")
    from .operators.sessionize import sessionize_bucketed

    return sessionize_bucketed(
        ev, "user_id", "ts", "event_id", bucket_sec=3600
    )


def q_source_reputation(spark, sf):
    """q60: source/domain reputation scoring — the web-pipeline gate
    that drops documents from low-quality domains wholesale. Per-source
    mean document quality (integer: sum DIV n) aggregated map-side,
    joined back to rows (strategy left to the planner: the source dim
    is corpus-derived, broadcast when small, shuffle at web scale),
    keep = source mean above threshold. All integer arithmetic."""
    d = _t(spark, sf, "documents")
    q = d.select(
        "doc_id", "source", TX.quality_score(F.col("text")).alias("q")
    )
    rep = q.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("src_n_docs"),
        F.expr("CAST(sum(q) DIV count(1) AS BIGINT)").alias("src_quality_x1000"),
    )
    return (
        q.join(rep, "source")
        .select(
            "doc_id",
            "source",
            "src_n_docs",
            "src_quality_x1000",
            F.when(F.col("src_quality_x1000") >= 700, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("keep"),
        )
    )


SQL_SOURCE_REPUTATION = r"""
WITH w AS (
  SELECT doc_id, source, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
  FROM documents
), m AS (
  SELECT doc_id, source, len(ws) AS n,
         len(list_filter(ws, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], lower(x)))) / CAST(len(ws) AS DOUBLE) AS sw,
         list_sum(list_transform(ws, x -> length(x))) / CAST(len(ws) AS DOUBLE) AS avg_word
  FROM w
), q AS (
  SELECT doc_id, source,
    CAST(round(
      (CASE WHEN n BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.3 END) *
      (CASE WHEN sw > 0.01 AND sw < 0.6 THEN 1.0 ELSE 0.5 END) *
      (CASE WHEN avg_word >= 2 AND avg_word <= 12 THEN 1.0 ELSE 0.4 END) * 1000
    ) AS BIGINT) AS q
  FROM m
), rep AS (
  SELECT source, CAST(count(*) AS BIGINT) AS src_n_docs,
         CAST(sum(q) // count(*) AS BIGINT) AS src_quality_x1000
  FROM q GROUP BY source
)
SELECT q.doc_id, q.source, rep.src_n_docs, rep.src_quality_x1000,
       CAST(CASE WHEN rep.src_quality_x1000 >= 700 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM q JOIN rep USING (source)
"""


def q_unigram_rarity(spark, sf):
    """q64: unigram-LM perplexity-filter stand-in (CCNet-style) — each
    document's mean token surprisal under a unigram model fit on the
    corpus itself, with keep = the low-perplexity side. Integer-exact
    saturated surprisal (least(10^6, (T*1000) DIV tf)) so the oracle
    matches bit-for-bit; see textops.unigram_rarity for the scale shape
    (map-side tf partials, broadcast 1-row total, AQE-skew-safe term
    join)."""
    d = _t(spark, sf, "documents")
    return TX.unigram_rarity(d, "doc_id", "text", keep_max_x1000=30_150)


SQL_UNIGRAM_RARITY = r"""
WITH occ AS (
  SELECT doc_id AS id,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT term, count(*) AS tf FROM occ GROUP BY term
), tot AS (
  SELECT count(*) AS t FROM occ
)
SELECT id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(least(1000000, (t * 1000) // tf)) // count(*) AS BIGINT) AS rarity_x1000,
       CAST(CASE WHEN sum(least(1000000, (t * 1000) // tf)) // count(*) <= 30150
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM occ JOIN tf USING (term) CROSS JOIN tot
GROUP BY id
"""


def q_chunk_documents(spark, sf):
    """q65: retrieval chunking — fixed-size token windows with overlap
    (32-token chunks, stride 24), the RAG-ingestion sibling of q55's
    training packing: per-document chunks WITH their text, the unit an
    embedding index stores. Pure JVM sequence+slice in one projection
    (no explode-then-join, no python) — scan-speed at any corpus size."""
    d = _t(spark, sf, "documents")
    return TX.chunk_documents(d, "doc_id", "text")


SQL_CHUNK_DOCUMENTS = r"""
WITH w AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
  FROM documents
), nn AS (
  SELECT id, ws, len(ws) AS n FROM w WHERE len(ws) > 0
), idx AS (
  SELECT id, ws, n,
         unnest(generate_series(0,
           CASE WHEN n <= 32 THEN 0 ELSE CAST(ceil((n - 32) / 24.0) AS BIGINT) END)) AS i
  FROM nn
)
SELECT id, CAST(i AS BIGINT) AS chunk_idx,
       CAST(len(ws[i*24+1:least(i*24+32, n)]) AS BIGINT) AS n_tokens,
       array_to_string(ws[i*24+1:least(i*24+32, n)], ' ') AS chunk_text
FROM idx
"""


def q_bpe_tokens(spark, sf):
    """q62: BPE-faithful token counting (round-5 verdict item 6) —
    whitespace vs tokenizer-unit counts per document under a
    deterministic merges table, Arrow-batched with the merges loaded
    once per worker (operators/bpe.py; same engine lifecycle as q50 and
    the OCR handle, reference core/ppocr_api.py:40-78). The oracle
    replays the IDENTICAL merges chain in DuckDB — the SQL is generated
    from the same BPE_MERGES constant the engine loads."""
    from .operators.bpe import bpe_token_counts

    d = _t(spark, sf, "documents")
    return bpe_token_counts(d, "doc_id", "text")


def _sql_bpe_tokens() -> str:
    from .operators.bpe import bpe_count_sql

    return rf"""
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_ws_tokens,
       CAST({bpe_count_sql("ws")} AS BIGINT) AS n_bpe_tokens
FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents)
"""


def q_bpe_budget(spark, sf):
    """q63: token-budget selection in TOKENIZER units — q51's two-level
    cumsum consuming the BPE counter instead of whitespace counts (the
    budget a trainer actually buys is tokenizer tokens). Demonstrates
    the selection/packing operators are counter-agnostic: the same
    token_budget_select, fed from the q62 python stage."""
    from .operators.bpe import bpe_token_counts

    d = _t(spark, sf, "documents")
    # ONE scan (r7): quality is computed JVM-side in the same projection
    # the tokenizer stage consumes and rides through it as a passthrough
    # column — the old shape scanned documents twice and broadcast-joined
    # the two halves back on doc_id. The exchange sits BELOW the quality
    # derivation (spread raw rows first — the parquet is one scan
    # partition; deriving above it would serialize the scoring on one
    # task), so bpe_token_counts must not add a second one (pre_spread).
    scored = bpe_token_counts(
        spread(d.select("doc_id", "text"), "doc_id").select(
            "doc_id", "text", TX.quality_score(F.col("text")).alias("quality_x1000")
        ),
        "doc_id",
        "text",
        keep_cols=["quality_x1000"],
        pre_spread=True,
    ).select("doc_id", "quality_x1000", "n_bpe_tokens")
    return SEL.token_budget_select(
        scored, "doc_id", "quality_x1000", "n_bpe_tokens", budget=15_000
    )


def _sql_bpe_budget() -> str:
    from .operators.bpe import bpe_count_sql

    return rf"""
WITH w AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws FROM documents
), m AS (
  SELECT doc_id, len(ws) AS n,
         CAST({bpe_count_sql("ws")} AS BIGINT) AS n_bpe_tokens,
         len(list_filter(ws, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], lower(x)))) / CAST(len(ws) AS DOUBLE) AS sw,
         list_sum(list_transform(ws, x -> length(x))) / CAST(len(ws) AS DOUBLE) AS avg_word
  FROM w
), s AS (
  SELECT doc_id,
    CAST(round(
      (CASE WHEN n BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.3 END) *
      (CASE WHEN sw > 0.01 AND sw < 0.6 THEN 1.0 ELSE 0.5 END) *
      (CASE WHEN avg_word >= 2 AND avg_word <= 12 THEN 1.0 ELSE 0.4 END) * 1000
    ) AS BIGINT) AS quality_x1000,
    n_bpe_tokens,
    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 1000) % 64 AS shard
  FROM m
), c AS (
  SELECT doc_id, quality_x1000, n_bpe_tokens,
         SUM(n_bpe_tokens) OVER (ORDER BY quality_x1000 DESC, shard ASC, doc_id ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM s
)
SELECT doc_id, quality_x1000, n_bpe_tokens, CAST(cum AS BIGINT) AS cum_tokens
FROM c WHERE cum <= 15000
"""


def q_corpus_pipeline(spark, sf):
    """q48: the full LLM-corpus pipeline composed end-to-end (round-4
    verdict item 1) — extraction (q30 path) -> quality -> repetition ->
    PII scrub -> exact dedup -> paragraph dedup -> near-dup clustering ->
    decontamination -> stratified sampling — returning funnel metrics
    (stage_idx, stage, n_docs). The oracle twin replays every stage in
    DuckDB starting from the precomputed extraction fixture (the same
    fixture q30 is checked against), so the row the driver hashes is the
    whole composed pipeline's behavior."""
    from .plans.corpus_pipeline import corpus_funnel, corpus_stages, doc_text_from_spans

    return corpus_funnel(corpus_stages(doc_text_from_spans(q_extract_flagship(spark, sf))))


def q_corpus_assembly(spark, sf):
    """q61: the corpus pipeline's ASSEMBLY tail composed end-to-end
    (round-5 verdict item 4) — the q48 funnel's survivor set -> quality
    scoring -> token-budget selection (q51 shape) -> epoch-shuffle
    sequence packing (q54/q55 shape), returning each selected document's
    training placement (doc_id, quality_x1000, n_tokens, cum_tokens,
    seq_id, offset_in_seq). Proves the round-5 selection/packing
    operators compose below the same checkpoint discipline as the
    funnel: one scan, one python stage, every window bounded. The
    oracle replays the WHOLE chain — all eight funnel stages plus the
    tail — in DuckDB from the flagship fixture and hashes per-row
    values, not counts."""
    from .plans.corpus_pipeline import corpus_assembly, doc_text_from_spans

    return corpus_assembly(doc_text_from_spans(q_extract_flagship(spark, sf)))


def _sql_corpus_ctes() -> str:
    """Shared DuckDB CTE chain replaying corpus_stages from the
    flagship fixture up through s7 (stratified sample) — the common
    prefix of the q48 funnel oracle and the q61 assembly oracle."""
    return f"""
WITH RECURSIVE doc_text AS (
  SELECT doc_id, string_agg(text, ' ' ORDER BY "order") AS text
  FROM read_parquet('{_flagship_fixture_path()}')
  WHERE kind = 'text' GROUP BY doc_id
), gates AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS ws
  FROM doc_text
), gmetrics AS (
  SELECT doc_id, text, len(ws) AS n, len(list_distinct(ws)) AS dw,
         len(list_filter(ws, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], lower(x)))) / CAST(len(ws) AS DOUBLE) AS sw,
         list_sum(list_transform(ws, x -> length(x))) / CAST(len(ws) AS DOUBLE) AS avg_word
  FROM gates
), flags AS (
  SELECT doc_id, text,
    CAST(round(
      (CASE WHEN n BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.3 END) *
      (CASE WHEN sw > 0.01 AND sw < 0.6 THEN 1.0 ELSE 0.5 END) *
      (CASE WHEN avg_word >= 2 AND avg_word <= 12 THEN 1.0 ELSE 0.4 END) * 1000) AS BIGINT) >= 501 AS q_ok,
    (CASE WHEN n > 0 THEN ((n - dw) * 1000) // n ELSE 0 END) <= 500 AS r_ok
  FROM gmetrics
), s2 AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(text, 'https?://[^ \\t\\n]+', '[URL]', 'g'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '[EMAIL]', 'g') AS text
  FROM flags WHERE q_ok AND r_ok
), efp AS (
  SELECT doc_id, text,
         md5(array_to_string(list_transform(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''), x -> lower(x)), ' ')) AS fp
  FROM s2
), s3 AS (
  SELECT doc_id, text FROM efp
  WHERE doc_id = (SELECT min(e2.doc_id) FROM efp e2 WHERE e2.fp = efp.fp)
), paras AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS para_idx,
         array_to_string(ws[(i-1)*4+1:i*4], ' ') AS para
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS ws FROM s3),
       unnest(generate_series(1, greatest(CAST(ceil(len(ws) / 4.0) AS BIGINT), 1))) AS t(i)
  WHERE array_to_string(ws[(i-1)*4+1:i*4], ' ') <> ''
), pkeep AS (
  SELECT doc_id, para_idx, para,
         row_number() OVER (PARTITION BY md5(lower(para)) ORDER BY doc_id, para_idx) = 1 AS keep
  FROM paras
), s4 AS (
  SELECT doc_id, string_agg(para, ' ' ORDER BY para_idx) AS text
  FROM pkeep WHERE keep GROUP BY doc_id
), sh AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
                        i -> array_to_string(ws[i:(i+2)], ' ')) AS shingles
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS ws FROM s4)
), sig AS (
  SELECT doc_id,
         list_transform(generate_series(0, 7),
                        i -> list_min(list_transform(shingles,
                               s -> substr(md5(CAST(i // 4 AS VARCHAR) || '|' || s), (i % 4) * 8 + 1, 8)))) AS sg
  FROM sh
), bands AS (
  SELECT doc_id, unnest(
    list_transform(generate_series(0, 3),
                   b -> md5(CAST(b AS VARCHAR) || '#' || array_to_string(sg[(b*2+1):(b*2+2)], ',')))) AS band
  FROM sig
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
), e AS (
  SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e3.d FROM reach r JOIN e AS e3 ON r.d = e3.s WHERE e3.d <> r.s
), comp AS (
  SELECT s AS doc_id, least(s, min(d)) AS comp FROM reach GROUP BY s
), s5 AS (
  SELECT s4.doc_id, s4.text FROM s4 LEFT JOIN comp ON s4.doc_id = comp.doc_id
  WHERE comp.doc_id IS NULL OR comp.comp = s4.doc_id
), evs AS (
  SELECT DISTINCT unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
                   i -> array_to_string(ws[i:(i+2)], ' ')))) AS s
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS ws
        FROM doc_text WHERE CAST(doc_id AS BIGINT) % 11 = 0)
), dsh AS (
  SELECT doc_id, text, list_distinct(
    list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
                   i -> array_to_string(ws[i:(i+2)], ' '))) AS shs
  FROM (SELECT doc_id, text, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS ws FROM s5)
), hits AS (
  SELECT d.doc_id, count(*) AS h
  FROM (SELECT doc_id, unnest(shs) AS s FROM dsh) d JOIN evs USING (s) GROUP BY d.doc_id
), s6 AS (
  SELECT dsh.doc_id, dsh.text FROM dsh LEFT JOIN hits USING (doc_id)
  WHERE NOT (len(shs) > 0 AND (coalesce(h, 0) * 1000) // len(shs) >= 500)
), langm AS (
  SELECT doc_id, text,
         length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0 AS zh,
         len(list_filter(ws, x -> list_contains(['der','die','das','und','nicht','ist'], x))) AS de,
         len(list_filter(ws, x -> list_contains(['el','la','los','que','de','es'], x))) AS es,
         len(list_filter(ws, x -> list_contains(['le','la','les','et','est','une'], x))) AS fr
  FROM (SELECT doc_id, text, list_transform(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''), x -> lower(x)) AS ws FROM s6)
), s7 AS (
  SELECT doc_id FROM (
    SELECT doc_id,
      CASE WHEN zh THEN 'zh'
           WHEN de > 0 AND de >= es AND de >= fr THEN 'de'
           WHEN es > 0 AND es >= fr THEN 'es'
           WHEN fr > 0 THEN 'fr' ELSE 'en' END AS stratum,
      CAST(CAST(('0x' || substr(md5(doc_id), 1, 6)) AS BIGINT) % 1000 AS BIGINT) AS bucket
    FROM langm)
  WHERE bucket < CASE stratum WHEN 'en' THEN 300 WHEN 'zh' THEN 1000 ELSE 500 END
)"""


def _sql_corpus_pipeline() -> str:
    return _sql_corpus_ctes() + r"""
SELECT * FROM (
  SELECT CAST(0 AS BIGINT) AS stage_idx, 'input' AS stage, count(*) AS n_docs FROM doc_text
  UNION ALL SELECT 1, 'quality_gate', count(*) FROM flags WHERE q_ok
  UNION ALL SELECT 2, 'repetition_gate', count(*) FROM flags WHERE q_ok AND r_ok
  UNION ALL SELECT 3, 'exact_dedup', count(*) FROM s3
  UNION ALL SELECT 4, 'paragraph_dedup', count(*) FROM s4
  UNION ALL SELECT 5, 'neardup_dedup', count(*) FROM s5
  UNION ALL SELECT 6, 'decontam', count(*) FROM s6
  UNION ALL SELECT 7, 'stratified_sample', count(*) FROM s7
) ORDER BY stage_idx
"""


def _sql_corpus_assembly() -> str:
    # Replays corpus_assembly: s7 survivors (with s6's rebuilt text) ->
    # quality/token scoring -> token-budget selection (the q51 shape:
    # SUM OVER (ORDER BY score DESC, md5-shard, doc_id)) -> epoch-shuffle
    # packing (the q55 shape: token cumsum under md5(salt|id) order).
    # doc_id is VARCHAR end-to-end (the fixture stores it as string, the
    # Spark side casts at the base), so the within-shard id order is
    # string order on both engines.
    return _sql_corpus_ctes() + r"""
, asm AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
  FROM s6 JOIN s7 USING (doc_id)
), asm_m AS (
  SELECT doc_id, len(ws) AS n,
         len(list_filter(ws, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], lower(x)))) / CAST(len(ws) AS DOUBLE) AS sw,
         list_sum(list_transform(ws, x -> length(x))) / CAST(len(ws) AS DOUBLE) AS avg_word
  FROM asm
), asm_s AS (
  SELECT doc_id,
    CAST(round(
      (CASE WHEN n BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.3 END) *
      (CASE WHEN sw > 0.01 AND sw < 0.6 THEN 1.0 ELSE 0.5 END) *
      (CASE WHEN avg_word >= 2 AND avg_word <= 12 THEN 1.0 ELSE 0.4 END) * 1000
    ) AS BIGINT) AS quality_x1000,
    CAST(n AS BIGINT) AS n_tokens,
    (CAST(('0x' || substr(md5(doc_id), 1, 6)) AS BIGINT) % 1000) % 64 AS shard
  FROM asm_m
), asm_c AS (
  SELECT doc_id, quality_x1000, n_tokens,
         SUM(n_tokens) OVER (ORDER BY quality_x1000 DESC, shard ASC, doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM asm_s
), asm_sel AS (
  SELECT doc_id, quality_x1000, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
  FROM asm_c WHERE cum_tokens <= 50000
), asm_pk AS (
  SELECT doc_id,
         SUM(n_tokens) OVER (ORDER BY md5('epoch-0|' || doc_id)
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start
  FROM asm_sel
)
SELECT s.doc_id, s.quality_x1000, s.n_tokens, s.cum_tokens,
       CAST(p.start // 512 AS BIGINT) AS seq_id,
       CAST(p.start % 512 AS BIGINT) AS offset_in_seq
FROM asm_sel s JOIN asm_pk p USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------
# Round-2 coverage closers: X12 / X15 / bilingual field mapping (item 7)
# ---------------------------------------------------------------------------


def q_link_unescape(spark, sf):
    """X12: screenshot filenames escape '/' as '*' in the embedded note
    link (core/run.py:517 splits 'tag#link.png'); the loader unescapes
    with replace('*', '/') at core/run.py:647."""
    from .functions.columns import unescape_link

    d = _t(spark, sf, "documents")
    escaped = F.concat(
        F.lit("https:**www.example.com**explore**"), F.col("doc_id").cast("string")
    )
    return d.select(
        "doc_id", escaped.alias("escaped"), unescape_link(escaped).alias("link")
    )


SQL_LINK_UNESCAPE = """
SELECT doc_id,
       'https:**www.example.com**explore**' || CAST(doc_id AS VARCHAR) AS escaped,
       replace('https:**www.example.com**explore**' || CAST(doc_id AS VARCHAR), '*', '/') AS link
FROM documents
"""


def q_source_type(spark, sf):
    """X15: per-app data-source constant stamped on every user-info row
    (db/__init__.py:46-50: xhs/weibo ids, '' otherwise)."""
    from .functions.columns import source_type_col

    d = _t(spark, sf, "documents")
    app = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("xhs"))
        .when(F.col("doc_id") % 3 == 1, F.lit("weibo"))
        .otherwise(F.lit("tiktok"))
    )
    return d.select("doc_id", app.alias("app"), source_type_col(app).alias("source_type"))


SQL_SOURCE_TYPE = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'xhs'
            WHEN doc_id % 3 = 1 THEN 'weibo' ELSE 'tiktok' END AS app,
       CASE WHEN doc_id % 3 = 0 THEN '1894230222988058625'
            WHEN doc_id % 3 = 1 THEN '1948663593734004737' ELSE '' END AS source_type
FROM documents
"""


def q_field_mapping(spark, sf):
    """S6/X13/X14: the bilingual field registry exercised end-to-end — a
    table with the reference's CHINESE column names (db/__init__.py:40-55
    creates them; config.ini:14-55 maps them) renamed to english through
    rename_with_mapping, the CN->EN direction db/data_sync.py:142-148
    applies when syncing."""
    from .functions.columns import FIELD_MAPPING_CN2EN, rename_with_mapping

    d = _t(spark, sf, "documents")
    cn = d.select(
        F.col("doc_id").alias("账号ID"),
        (F.col("n_chars") * 3).cast("long").alias("曝光数"),
        (F.col("n_chars") * 2).cast("long").alias("观看数"),
        (F.col("n_chars") % 100).cast("long").alias("点赞数"),
        F.col("source").alias("数据来源"),
    )
    en = rename_with_mapping(cn, FIELD_MAPPING_CN2EN)
    return en.groupBy("source_type").agg(
        F.count("*").alias("n"),
        F.sum("exposure_count").alias("exposure_sum"),
        F.sum("view_count").alias("view_sum"),
        F.max("likes").alias("likes_max"),
    )


SQL_FIELD_MAPPING = """
SELECT source AS source_type, count(*) AS n,
       CAST(sum(CAST(n_chars * 3 AS BIGINT)) AS BIGINT) AS exposure_sum,
       CAST(sum(CAST(n_chars * 2 AS BIGINT)) AS BIGINT) AS view_sum,
       CAST(max(n_chars % 100) AS BIGINT) AS likes_max
FROM documents GROUP BY source
"""


def q_ivf_kmeans(spark, sf):
    """IVF round 2 (verdict item 8): centroids FITTED by sampled k-means
    (hash-defined sample, deterministic Lloyd), queries probe nprobe=2
    cells. Oracle refits bit-identical centroids from the same sample in
    pure python and embeds them as literals."""
    e = _t(spark, sf, "embeddings")
    cents = SS.fit_centroids_spark(e)
    return SS.ivf_topk_kmeans(
        e, e.where(F.col("vec_id") < 5), cents, nprobe=2
    )


def _oracle_sf_dir() -> str:
    """Scale the oracles are built for. The driver's CORRECTNESS runs are
    always sf0.01 (the default); scripts/oracle_check.py exports this env
    var so the fixture/centroid oracles follow its sf_dir argument."""
    return os.environ.get("XHS_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@lru_cache(maxsize=4)
def _fit_centroids_oracle(sf_dir: str) -> tuple:
    """DuckDB-side twin of fit_centroids_spark: same count-derived sample
    modulus (ivf_sample_mod), same vec_id-hash sample, same Lloyd fitter.
    Cached — oracle_sql() is called repeatedly and the fit reads parquet
    + runs 8 Lloyd iterations."""
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchone()[0]
    rows = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
        f"WHERE vec_id % {SS.ivf_sample_mod(n)} = 0 ORDER BY vec_id"
    ).fetchall()
    return tuple(
        tuple(c) for c in SS.kmeans_centroids([list(r[0]) for r in rows], SS.N_CELLS)
    )


@lru_cache(maxsize=4)
def _sql_ivf_kmeans(sf_dir: str) -> str:
    cents = _fit_centroids_oracle(sf_dir)

    def clit(c):
        return "[" + ", ".join(repr(v) for v in c) + "]"

    probes = ", ".join(
        "{'nd': -list_dot_product(vec, %s), 'cell': %d}" % (clit(c), i)
        for i, c in enumerate(cents)
    )
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings
), assigned AS (
  -- multi-assignment: each corpus vector indexed under its 2 nearest
  -- cells (mirrors ivf_topk_kmeans assign_cells=2)
  SELECT vec_id, vec,
         unnest(list_transform(list_sort([{probes}])[1:2], s -> s.cell)) AS cell
  FROM v
), q AS (
  SELECT vec_id AS q_id, vec AS q_vec,
         unnest(list_transform(list_sort([{probes}])[1:2], s -> s.cell)) AS cell
  FROM v WHERE vec_id < 5
), scored AS (
  -- DISTINCT collapses pairs matching in >1 shared probed cell (the
  -- cosine is identical per pair, so DISTINCT == the Spark max(cos) agg)
  SELECT DISTINCT q.q_id, a.vec_id AS n_id,
         list_cosine_similarity(q.q_vec, a.vec) AS cos
  FROM q JOIN assigned a ON a.cell = q.cell AND a.vec_id <> q.q_id
)
SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank FROM (
  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
  FROM scored
) WHERE rank <= 3
"""


def q_simhash64(spark, sf):
    """SimHash widened to 64 bits via the documented pandas-UDF escape
    hatch (verdict item 10); q26 keeps the 16-bit pure-expression form."""
    d = _t(spark, sf, "documents")
    return d.select("doc_id", DF.simhash64_hex(F.col("text")).alias("sh64"))


def _sql_simhash64() -> str:
    def bit(j: int) -> str:
        return (
            f"(CASE WHEN list_sum(list_transform(hs, h -> "
            f"CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
            f"THEN 1 ELSE 0 END)"
        )

    digits = []
    for i in range(16):
        d = " + ".join(
            f"{w} * {bit(63 - 4 * i - b)}" for b, w in enumerate((8, 4, 2, 1))
        )
        digits.append(f"substr('0123456789abcdef', ({d}) + 1, 1)")
    hex_expr = " || ".join(digits)
    return rf"""
WITH w AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
  FROM documents
), hsx AS (
  SELECT doc_id, list_transform(ws, w -> CAST('0x' || substr(md5(w), 1, 16) AS UBIGINT)) AS hs
  FROM w
)
SELECT doc_id, {hex_expr} AS sh64 FROM hsx
"""


def _sidecar_table(spark, sf):
    """Synthesized sidecar rows (filename, app, account_id, device_ip,
    collect_date, props) covering all five reference flavors
    (core/run.py:208-341), derived deterministically from documents."""
    d = _t(spark, sf, "documents")
    flavor = F.col("doc_id") % 5
    filename = (
        F.when(flavor == 0, F.lit("user_info.json"))
        .when(flavor == 1, F.lit("post_data.json"))
        .when(flavor == 2, F.lit("weibo_data.json"))
        .when(flavor == 3, F.lit("user_info.json"))
        .otherwise(F.lit("profile_url.json"))
    )
    app = (
        F.when(flavor.isin(0, 1), F.lit("tiktok"))
        .when(flavor.isin(2, 3), F.lit("weibo"))
        .otherwise(F.lit("xhs"))
    )
    nickname = F.when(F.col("doc_id") % 13 == 0, F.lit("")).otherwise(
        F.concat(F.lit("nick"), (F.col("doc_id") % 97).cast("string"))
    )
    cn = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(((F.col("doc_id") % 90) / 10.0 + 1).cast("string"), F.lit("万")),
    ).otherwise((F.col("doc_id") % 500).cast("string"))
    ui_json = F.to_json(
        F.struct(
            F.concat(F.lit("https://t/"), F.col("doc_id").cast("string")).alias("share_link"),
            nickname.alias("nickname"),
            (F.col("doc_id") % 500).cast("string").alias("follow_count"),
            (F.col("doc_id") % 9000).cast("string").alias("follower_count"),
            (F.col("doc_id") % 70000).cast("string").alias("like_count"),
        )
    )
    xhs_json = F.to_json(
        F.struct(
            F.concat(F.lit("https://x/"), F.col("doc_id").cast("string")).alias("user_profile_url"),
            nickname.alias("nickname"),
            cn.alias("following_count"),
            (F.col("doc_id") % 9000).cast("string").alias("fans"),
            cn.alias("likes_collect_count"),
        )
    )
    posts_json = F.to_json(
        F.array(
            F.struct(
                (F.col("doc_id") * 2).alias("post_id"),
                F.col("n_chars").cast("long").alias("views"),
            ),
            F.struct(
                (F.col("doc_id") * 2 + 1).alias("post_id"),
                (F.col("n_chars") * 3).cast("long").alias("views"),
            ),
        )
    )
    props = (
        F.when(flavor == 4, xhs_json)
        .when(flavor.isin(1, 2), posts_json)
        .otherwise(ui_json)
    )
    return d.select(
        filename.alias("filename"),
        app.alias("app"),
        F.concat(F.lit("acct"), (F.col("doc_id") % 50).cast("string")).alias("account_id"),
        F.concat(F.lit("ip"), (F.col("doc_id") % 7).cast("string")).alias("device_ip"),
        F.concat(F.lit("2024-01-0"), (F.col("doc_id") % 9 + 1).cast("string")).alias("collect_date"),
        props.alias("props"),
    )


def q_sidecar_flavors(spark, sf):
    """The five per-(filename, app) sidecar JSON flavors routed through
    ONE operator (operators/sidecar.py): per-flavor key mapping, xhs
    chinese-number conversion, weibo's missing interaction, nickname
    gate (core/run.py:208-341)."""
    from .operators.sidecar import route_user_info

    return route_user_info(_sidecar_table(spark, sf))


# oracle computes the unified outputs straight from the seed expressions
# (the JSON round-trip is the Spark side's job; outputs must agree)
SQL_SIDECAR_FLAVORS = """
WITH base AS (
  SELECT doc_id, doc_id % 5 AS flavor,
         CASE WHEN doc_id % 13 = 0 THEN '' ELSE 'nick' || CAST(doc_id % 97 AS VARCHAR) END AS nickname,
         CASE WHEN doc_id % 2 = 0
              THEN CAST((doc_id % 90) / 10.0 + 1 AS VARCHAR) || '万'
              ELSE CAST(doc_id % 500 AS VARCHAR) END AS cn,
         'acct' || CAST(doc_id % 50 AS VARCHAR) AS account_id,
         '2024-01-0' || CAST(doc_id % 9 + 1 AS VARCHAR) AS collect_date
  FROM documents
), conv AS (
  SELECT *, CASE WHEN cn LIKE '%万%' AND TRY_CAST(regexp_replace(cn, '[^0-9.]', '', 'g') AS DOUBLE) IS NOT NULL
                 THEN CAST(CAST(floor(TRY_CAST(regexp_replace(cn, '[^0-9.]', '', 'g') AS DOUBLE) * 10000) AS BIGINT) AS VARCHAR)
                 ELSE cn END AS cn_conv
  FROM base
)
SELECT CASE WHEN flavor = 0 THEN 'tiktok' WHEN flavor = 3 THEN 'weibo' ELSE 'xhs' END AS app,
       account_id, collect_date, nickname,
       CASE WHEN flavor = 4 THEN cn_conv ELSE CAST(doc_id % 500 AS VARCHAR) END AS follows,
       CAST(doc_id % 9000 AS VARCHAR) AS fans,
       CASE WHEN flavor = 4 THEN cn_conv
            WHEN flavor = 0 THEN CAST(doc_id % 70000 AS VARCHAR)
            ELSE '' END AS interaction,
       CASE WHEN flavor = 4 THEN 'https://x/' || CAST(doc_id AS VARCHAR)
            ELSE 'https://t/' || CAST(doc_id AS VARCHAR) END AS profile_url
FROM conv WHERE flavor IN (0, 3, 4) AND nickname <> ''
"""


def q_sidecar_posts(spark, sf):
    """post_data.json / weibo_data.json flavors: list payload exploded,
    device_ip + collect_time stamped per row (core/run.py:245-278)."""
    from .operators.sidecar import route_posts

    return route_posts(_sidecar_table(spark, sf))


SQL_SIDECAR_POSTS = """
WITH base AS (
  SELECT doc_id, n_chars, doc_id % 5 AS flavor,
         'acct' || CAST(doc_id % 50 AS VARCHAR) AS account_id,
         'ip' || CAST(doc_id % 7 AS VARCHAR) AS device_ip,
         '2024-01-0' || CAST(doc_id % 9 + 1 AS VARCHAR) AS collect_time
  FROM documents WHERE doc_id % 5 IN (1, 2)
)
SELECT CASE WHEN flavor = 1 THEN 'tiktok' ELSE 'weibo' END AS app,
       account_id, device_ip, collect_time,
       CAST(p.post_id AS BIGINT) AS post_id, CAST(p.views AS BIGINT) AS views
FROM base, UNNEST([
  {'post_id': doc_id * 2, 'views': n_chars},
  {'post_id': doc_id * 2 + 1, 'views': n_chars * 3}
]) AS t(p)
"""


def q_media_metadata(spark, sf):
    """Multimodal decode as a first-class op: header metadata decoded
    FROM THE PIXELS of every media span's raw-RGBA payload
    (operators/multimodal.raw_media_metadata). The oracle cross-checks by
    deriving the same fields arithmetically from media_ref (the payload
    renderer is a deterministic function of the ref) — bytes in Spark vs
    arithmetic in DuckDB is a genuine two-sided check."""
    from .extraction.datagen import attach_media_bytes
    from .operators.multimodal import raw_media_metadata

    # corpus_from_documents spreads internally (r7)
    docs = attach_media_bytes(corpus_from_documents(_t(spark, sf, "documents")))
    media = (
        docs.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media")
        .select(
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.media_bytes").alias("media_bytes"),
        )
    )
    out = raw_media_metadata(media)
    return out.select(
        "media_ref", "tag", "app", "hw",
        F.col("n_blocks").cast("long").alias("n_blocks"), "n_bytes",
    )


def _sql_media_refs_derived() -> str:
    """Shared CTE prefix: enumerate the corpus media refs exactly as
    corpus_from_documents does (7-word chunks, every 3rd slot) and derive
    (tag_idx, app_i, extra) from the ref via the md5-prefix h64 scheme —
    used by BOTH the media-metadata and base64 oracles so the chunking /
    hash rules live in one place."""
    from .extraction.raw_image import HW_VALUES
    from .extraction.semantics import TAGS

    return rf"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
  FROM documents
), refs AS (
  SELECT 'mem://' || doc_id || '/' || CAST(g AS VARCHAR) AS media_ref
  FROM w, UNNEST(generate_series(0, CAST(ceil(len(ws)/7.0) AS BIGINT) - 1)) AS t(g)
  WHERE g % 3 = 2
), derived AS (
  SELECT media_ref,
         CAST(CAST('0x' || substr(md5('tag:' || media_ref), 1, 16) AS UBIGINT) % {len(TAGS)} AS BIGINT) AS tag_idx,
         CAST(CAST('0x' || substr(md5('app:' || media_ref), 1, 16) AS UBIGINT) % 5 = 0 AS BIGINT) AS app_i,
         CAST(CAST('0x' || substr(md5('doc:' || media_ref), 1, 16) AS UBIGINT) % 3 AS BIGINT) AS extra,
         CAST(CAST('0x' || substr(md5('hw:' || media_ref), 1, 16) AS UBIGINT) % {len(HW_VALUES)} AS BIGINT) AS hw_i
  FROM refs
)"""


def _sql_need_case() -> str:
    """CASE tag_idx -> expected block count ('need') per tag."""
    from .extraction.semantics import TAGS, arity

    return " ".join(f"WHEN {i} THEN {arity(t)}" for i, t in enumerate(TAGS))


def _sql_media_metadata() -> str:
    """Derive (tag, app, n_blocks, n_bytes) arithmetically from media_ref
    the way semantics.media_tag/media_app/run_standin_ocr do (md5-prefix
    h64 mod), over the same chunk-derived media refs as q13/q30."""
    from .extraction.raw_image import BH, HEADER_BANDS, HW_VALUES, W
    from .extraction.semantics import TAGS

    tag_case = " ".join(f"WHEN {i} THEN '{t}'" for i, t in enumerate(TAGS))
    hw_case = " ".join(f"WHEN {i} THEN '{h}'" for i, h in enumerate(HW_VALUES))
    need_case = _sql_need_case()
    row_bytes = W * 4 * BH
    return rf"""{_sql_media_refs_derived()}
SELECT media_ref,
       CASE tag_idx {tag_case} END AS tag,
       CASE WHEN app_i = 1 THEN 'tiktok' ELSE 'xhs' END AS app,
       CASE hw_i {hw_case} END AS hw,
       (CASE tag_idx {need_case} END) + 2 + extra AS n_blocks,
       ({HEADER_BANDS} + (CASE tag_idx {need_case} END) + 2 + extra) * {row_bytes} AS n_bytes
FROM derived
"""


def q_base64_roundtrip(spark, sf):
    """X17: base64 encode/decode of real binary payloads, JVM-side
    (reference base64s images for remote OCR, core/ppocr_api.py — in-proc
    the codec is only needed at serialization boundaries)."""
    from .extraction.datagen import attach_media_bytes

    # corpus_from_documents spreads internally (r7)
    docs = attach_media_bytes(corpus_from_documents(_t(spark, sf, "documents")))
    media = (
        docs.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"), F.col("s.media_bytes").alias("b"))
    )
    b64 = F.base64(F.col("b"))
    # NB: Spark's base64 emits MIME-chunked output (a line break every 76
    # chars) while DuckDB's is unchunked — so the cross-engine check uses
    # the DECODED byte count, not the encoded string length.
    return media.select(
        "media_ref",
        F.substring(b64, 1, 48).alias("b64_head"),
        F.length(F.unbase64(b64)).cast("long").alias("n_bytes"),
        (F.unbase64(b64) == F.col("b")).cast("long").alias("roundtrip_ok"),
    )


def _sql_base64() -> str:
    """Oracle: the first 36 payload bytes are the 6-byte header + 30 zero
    pad bytes, i.e. a pure function of (tag_idx, app, n_blocks) — so the
    first 48 base64 chars are precomputed in python per combination and
    CASE-selected on the ref-derived key. Length = 4*ceil(n_bytes/3)
    (RFC 4648 with padding, no line wraps); roundtrip is definitionally
    1 on both engines."""
    import base64 as b64mod

    from .extraction.raw_image import BH, HEADER_BANDS, HW_VALUES, MAGIC, VERSION, W
    from .extraction.semantics import TAGS, arity

    row_bytes = W * 4 * BH
    head_cases = []
    for ti, tag in enumerate(TAGS):
        need = arity(tag)
        for app_i in (0, 1):
            for extra in range(3):
                for hw_i in range(len(HW_VALUES)):
                    n_blocks = need + 2 + extra
                    # header byte 6 = hardware index (raw_image.HW_VALUES)
                    head = (
                        bytes([MAGIC[0], MAGIC[1], VERSION, ti, app_i, n_blocks, hw_i])
                        + b"\x00" * 29
                    )
                    lit = b64mod.b64encode(head).decode()[:48]
                    head_cases.append(
                        f"WHEN {ti * 1000 + app_i * 100 + extra * 10 + hw_i} THEN '{lit}'"
                    )
    need_case = _sql_need_case()
    return rf"""{_sql_media_refs_derived()}, meta AS (
  SELECT media_ref, tag_idx, app_i, extra, hw_i,
         (CASE tag_idx {need_case} END) + 2 + extra AS n_blocks
  FROM derived
)
SELECT media_ref,
       CASE tag_idx * 1000 + app_i * 100 + extra * 10 + hw_i {' '.join(head_cases)} END AS b64_head,
       CAST(({HEADER_BANDS} + n_blocks) * {row_bytes} AS BIGINT) AS n_bytes,
       CAST(1 AS BIGINT) AS roundtrip_ok
FROM meta
"""


_CN_KEYS = ["账号ID", "设备IP", "采集日期", "链接"]


def _cn_key_cols():
    """The reference's DEFAULT related key tuple derived deterministically
    from events: 账号ID/设备IP/采集日期/链接 (db/pipeline.py:21-74 passes
    related_key=["账号ID","设备IP","采集日期","链接"] to every merge step;
    db/data_dms.py:201 is the merge that consumes it)."""
    return [
        F.col("user_id").cast("string").alias("账号ID"),
        F.concat(F.lit("10.0."), (F.col("user_id") % 8).cast("string")).alias(
            "设备IP"
        ),
        F.date_format("ts", "yyyy-MM-dd").alias("采集日期"),
        F.concat(
            F.lit("https://www.example.com/explore/"),
            (F.col("user_id") % 50).cast("string"),
        ).alias("链接"),
    ]


def q_related_key_cn(spark, sf):
    """Round-2 verdict item 6: the reference's pipeline step 1 shape
    end-to-end — related_merge of a top/bottom table pair on the DEFAULT
    4-column key tuple 账号ID/设备IP/采集日期/链接 with CHINESE column
    names throughout (db/pipeline.py:21-74), the business_time_filter on
    采集日期 (applied per source read there; equivalent post-merge here
    because the date is a join key), and the CN->EN registry rename the
    sync step applies (db/data_sync.py:142-148). Exercises multi-key
    full-outer merge + last-non-empty-wins conflict + bilingual rename in
    ONE plan."""
    from .functions.columns import FIELD_MAPPING_CN2EN, rename_with_mapping
    from .operators.merges import related_merge

    ev = _t(spark, sf, "events")
    base = ev.select(*_cn_key_cols(), "event_type")
    n = F.count("*")
    top = (
        base.where(F.col("event_type") == "view")
        .groupBy(*_CN_KEYS)
        .agg(
            n.cast("string").alias("曝光数"),
            F.when(n % 3 == 0, F.lit(""))
            .otherwise(n.cast("string"))
            .alias("点赞数"),
        )
    )
    bottom = (
        base.where(F.col("event_type") == "click")
        .groupBy(*_CN_KEYS)
        .agg(
            F.when(n % 2 == 0, F.lit(""))
            .otherwise((n * 10).cast("string"))
            .alias("点赞数"),
            n.cast("string").alias("评论数"),
        )
    )
    merged = related_merge([top, bottom], _CN_KEYS)
    merged = merged.where(F.col("采集日期") >= "2024-01-04")
    return rename_with_mapping(merged, FIELD_MAPPING_CN2EN)


SQL_RELATED_KEY_CN = """
WITH base AS (
  SELECT CAST(user_id AS VARCHAR) AS account_id,
         '10.0.' || CAST(user_id % 8 AS VARCHAR) AS device_ip,
         strftime(ts, '%Y-%m-%d') AS collection_date,
         'https://www.example.com/explore/' || CAST(user_id % 50 AS VARCHAR) AS url,
         event_type
  FROM events
), top AS (
  SELECT account_id, device_ip, collection_date, url,
         CAST(count(*) AS VARCHAR) AS exposure_count,
         CASE WHEN count(*) % 3 = 0 THEN '' ELSE CAST(count(*) AS VARCHAR) END AS likes
  FROM base WHERE event_type = 'view' GROUP BY ALL
), bottom AS (
  SELECT account_id, device_ip, collection_date, url,
         CASE WHEN count(*) % 2 = 0 THEN '' ELSE CAST(count(*) * 10 AS VARCHAR) END AS likes,
         CAST(count(*) AS VARCHAR) AS comments
  FROM base WHERE event_type = 'click' GROUP BY ALL
)
SELECT coalesce(t.account_id, b.account_id) AS account_id,
       coalesce(t.device_ip, b.device_ip) AS device_ip,
       coalesce(t.collection_date, b.collection_date) AS collection_date,
       coalesce(t.url, b.url) AS url,
       coalesce(t.exposure_count, '') AS exposure_count,
       coalesce(nullif(b.likes, ''), nullif(t.likes, ''), '') AS likes,
       coalesce(b.comments, '') AS comments
FROM top t FULL OUTER JOIN bottom b
  ON t.account_id = b.account_id AND t.device_ip = b.device_ip
 AND t.collection_date = b.collection_date AND t.url = b.url
WHERE coalesce(t.collection_date, b.collection_date) >= '2024-01-04'
"""


def _flagship_fixture_path() -> str:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tag = os.path.basename(_oracle_sf_dir().rstrip("/"))
    return os.path.join(repo, "fixtures", f"expected_flagship_{tag}.parquet")


def _sql_flagship_fixture() -> str:
    """q30's driver oracle (round-2 item 3): the expected flagship output
    precomputed by the shared pure-Python semantics into a parquet fixture
    (scripts/build_fixtures.py), compared with a trivial SELECT. The
    fixture is chosen to match the oracle scale (driver default sf0.01;
    oracle_check exports XHS_ORACLE_SF_DIR to follow its sf_dir)."""
    return (
        f"SELECT doc_id, kind, text, media_ref, \"order\" "
        f"FROM read_parquet('{_flagship_fixture_path()}')"
    )


# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry ORDER (r7, round-6 verdict item 2): the driver's
    # CORRECTNESS artifact has capped at exactly 50 rows for two rounds
    # while the registry grew to 65, leaving q51-q65 driver-unverified.
    # queries() is insertion-ordered, so for THIS round the fifteen
    # newest entries lead and the long-stable q01-q15 (green for six
    # consecutive rounds) rotate to the back of the 50-row window.
    # Restore the numeric order once q51-q65 have driver-verified rows.
    # Every entry and its oracle SQL is unchanged — only dict order.
    return {
        "q51_token_budget": q_token_budget,
        "q52_incremental_dedup": q_incremental_dedup,
        "q53_mix_resample": q_mix_resample,
        "q54_epoch_shuffle": q_epoch_shuffle,
        "q55_pack_sequences": q_pack_sequences,
        "q56_tfidf_topk": q_tfidf_topk,
        "q57_token_quantiles": q_token_quantiles,
        "q58_sessionize": q_sessionize,
        "q59_sessionize_bucketed": q_sessionize_bucketed,
        "q60_source_reputation": q_source_reputation,
        "q61_corpus_assembly": q_corpus_assembly,
        "q62_bpe_tokens": q_bpe_tokens,
        "q63_bpe_budget": q_bpe_budget,
        "q64_unigram_rarity": q_unigram_rarity,
        "q65_chunk_documents": q_chunk_documents,
        "q01_recent_filter": q_recent_filter,
        "q02_related_merge": q_related_merge,
        "q03_unrelated_merge": q_unrelated_merge,
        "q04_dedup_first_wins": q_dedup_first_wins,
        "q05_dedup_last_wins": q_dedup_last_wins,
        "q06_mask_fallback_top1": q_mask_fallback_top1,
        "q07_arity_gate": q_arity_gate,
        "q08_normalize_chain": q_normalize_chain,
        "q09_chinese_number": q_chinese_number,
        "q10_label_value_pairing": q_label_value_pairing,
        "q11_content_type": q_content_type,
        "q12_merge_pipeline": q_merge_pipeline,
        "q13_span_reorder": q_span_reorder,
        "q14_count_metrics": q_count_metrics,
        "q15_lineitem_agg": q_lineitem_agg,
        "q16_join_revenue": q_join_revenue,
        "q17_window_topk": q_window_topk,
        "q18_sidecar_json": q_sidecar_json,
        "q19_user_info_path": q_user_info_path,
        "q20_token_stats": q_token_stats,
        "q21_quality_score": q_quality_score,
        "q22_lang_id": q_lang_id,
        "q23_fingerprint": q_fingerprint,
        "q24_minhash_signature": q_minhash_signature,
        "q25_lsh_pairs": q_lsh_pairs,
        "q26_simhash": q_simhash,
        "q27_ngram_jaccard": q_ngram_jaccard,
        "q28_cosine_topk": q_cosine_topk,
        "q29_embedding_neardup": q_embedding_neardup,
        "q30_extract_flagship": q_extract_flagship,
        "q31_ivf_ann": q_ivf_ann,
        "q32_link_unescape": q_link_unescape,
        "q33_source_type": q_source_type,
        "q34_field_mapping": q_field_mapping,
        "q35_ivf_kmeans": q_ivf_kmeans,
        "q36_simhash64": q_simhash64,
        "q37_sidecar_flavors": q_sidecar_flavors,
        "q38_sidecar_posts": q_sidecar_posts,
        "q39_media_metadata": q_media_metadata,
        "q40_base64_roundtrip": q_base64_roundtrip,
        "q41_related_key_cn": q_related_key_cn,
        "q42_repetition": q_repetition,
        "q43_pii_scrub": q_pii_scrub,
        "q44_decontam": q_decontam,
        "q45_para_dedup": q_para_dedup,
        "q46_stratified_sample": q_stratified_sample,
        "q47_neardup_clusters": q_neardup_clusters,
        "q48_corpus_pipeline": q_corpus_pipeline,
        "q49_substring_dedup": q_substring_dedup,
        "q50_model_quality": q_model_quality,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q01_recent_filter": SQL_RECENT_FILTER,
        "q02_related_merge": SQL_RELATED_MERGE,
        "q03_unrelated_merge": SQL_UNRELATED_MERGE,
        "q04_dedup_first_wins": SQL_DEDUP_FIRST,
        "q05_dedup_last_wins": SQL_DEDUP_LAST,
        "q06_mask_fallback_top1": SQL_MASK_FALLBACK,
        "q07_arity_gate": SQL_ARITY_GATE,
        "q08_normalize_chain": SQL_NORMALIZE_CHAIN,
        "q09_chinese_number": SQL_CHINESE_NUMBER,
        "q10_label_value_pairing": SQL_LABEL_VALUE,
        "q11_content_type": SQL_CONTENT_TYPE,
        "q12_merge_pipeline": SQL_MERGE_PIPELINE,
        "q13_span_reorder": SQL_SPAN_REORDER,
        "q14_count_metrics": SQL_COUNT_METRICS,
        "q15_lineitem_agg": SQL_LINEITEM_AGG,
        "q16_join_revenue": SQL_JOIN_REVENUE,
        "q17_window_topk": SQL_WINDOW_TOPK,
        "q18_sidecar_json": SQL_SIDECAR_JSON,
        "q19_user_info_path": SQL_USER_INFO,
        "q20_token_stats": SQL_TOKEN_STATS,
        "q21_quality_score": SQL_QUALITY_SCORE,
        "q22_lang_id": SQL_LANG_ID,
        "q23_fingerprint": SQL_FINGERPRINT,
        "q24_minhash_signature": SQL_MINHASH,
        "q25_lsh_pairs": SQL_LSH_PAIRS,
        "q26_simhash": SQL_SIMHASH,
        "q27_ngram_jaccard": SQL_NGRAM_JACCARD,
        "q28_cosine_topk": SQL_COSINE_TOPK,
        "q29_embedding_neardup": _sql_embedding_neardup(),
        "q31_ivf_ann": _sql_ivf_ann(),
        "q32_link_unescape": SQL_LINK_UNESCAPE,
        "q33_source_type": SQL_SOURCE_TYPE,
        "q34_field_mapping": SQL_FIELD_MAPPING,
        "q36_simhash64": _sql_simhash64(),
        "q37_sidecar_flavors": SQL_SIDECAR_FLAVORS,
        "q38_sidecar_posts": SQL_SIDECAR_POSTS,
        "q39_media_metadata": _sql_media_metadata(),
        "q40_base64_roundtrip": _sql_base64(),
        "q41_related_key_cn": SQL_RELATED_KEY_CN,
        "q42_repetition": SQL_REPETITION,
        "q43_pii_scrub": SQL_PII_SCRUB,
        "q44_decontam": SQL_DECONTAM,
        "q45_para_dedup": SQL_PARA_DEDUP,
        "q46_stratified_sample": SQL_STRATIFIED_SAMPLE,
        "q47_neardup_clusters": SQL_NEARDUP_CLUSTERS,
        "q49_substring_dedup": SQL_SUBSTRING_DEDUP,
        "q50_model_quality": SQL_MODEL_QUALITY,
        "q51_token_budget": SQL_TOKEN_BUDGET,
        "q52_incremental_dedup": SQL_INCREMENTAL_DEDUP,
        "q53_mix_resample": SQL_MIX_RESAMPLE,
        "q54_epoch_shuffle": SQL_EPOCH_SHUFFLE,
        "q55_pack_sequences": SQL_PACK_SEQUENCES,
        "q56_tfidf_topk": SQL_TFIDF_TOPK,
        "q57_token_quantiles": SQL_TOKEN_QUANTILES,
        "q58_sessionize": SQL_SESSIONIZE,
        # q59 is the skew-safe form of the SAME semantics — same oracle
        "q59_sessionize_bucketed": SQL_SESSIONIZE,
        "q60_source_reputation": SQL_SOURCE_REPUTATION,
        "q62_bpe_tokens": _sql_bpe_tokens(),
        "q63_bpe_budget": _sql_bpe_budget(),
        "q64_unigram_rarity": SQL_UNIGRAM_RARITY,
        "q65_chunk_documents": SQL_CHUNK_DOCUMENTS,
        # q30: expected output precomputed by the shared pure-Python
        # semantics into a parquet fixture (scripts/build_fixtures.py) —
        # committed only for the oracle scales (sf0.001/sf0.01); at any
        # other sf_dir degrade to the rows-only check instead of handing
        # DuckDB a missing path (ADVICE r2)
        **(
            {"q30_extract_flagship": _sql_flagship_fixture()}
            if os.path.exists(_flagship_fixture_path())
            else {}
        ),
        # q48/q61 replay the composed pipeline from the same fixture; at
        # any other sf_dir degrade to the rows-only check like q30
        **(
            {
                "q48_corpus_pipeline": _sql_corpus_pipeline(),
                "q61_corpus_assembly": _sql_corpus_assembly(),
            }
            if os.path.exists(_flagship_fixture_path())
            else {}
        ),
        # q35 refits centroids from the oracle-scale sample; degrade to a
        # rows-only check if the testdata isn't present in this env
        **(
            {"q35_ivf_kmeans": _sql_ivf_kmeans(_oracle_sf_dir())}
            if os.path.exists(os.path.join(_oracle_sf_dir(), "embeddings.parquet"))
            else {}
        ),
    }
