"""E2E correctness gate: Spark pipeline vs pure-Python reference oracle.

BASELINE.json invariant: per-document span-sequence equality on
(kind, text, media_ref, order), match rate 100%.
"""

import pyspark.sql.functions as F

from xhs_ocr_spark.extraction import datagen, oracle
from xhs_ocr_spark.extraction import semantics as S
from xhs_ocr_spark.extraction.pipeline import (
    CHUNK_SPANS,
    _spread_flat,
    extract_spans,
    extract_spans_flat,
    extract_spans_with_deadletter,
)
from xhs_ocr_spark.extraction.raw_image import render_media_image

N_DOCS = 400


def _expected():
    rows = [datagen.corpus_rows(i) for i in range(N_DOCS)]
    return oracle.extract_corpus(rows)


def test_span_sequence_equality(spark):
    docs = datagen.generate_corpus(spark, N_DOCS, partitions=8)
    got_rows = extract_spans(docs).collect()
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans_out"]]
        for r in got_rows
    }
    exp = _expected()
    exp = {k: v for k, v in exp.items() if v}  # docs with zero surviving spans produce no row
    assert set(got) == set(exp)
    mismatched = [d for d in exp if got[d] != exp[d]]
    assert mismatched == [], f"{len(mismatched)} docs mismatched; first: {mismatched[:3]}"


def test_flat_variant_matches(spark):
    docs = datagen.generate_corpus(spark, 100, partitions=4)
    flat = extract_spans_flat(docs)
    got = {}
    for r in flat.collect():
        got.setdefault(r["doc_id"], []).append((r["kind"], r["text"], r["media_ref"], r["order"]))
    exp = {k: v for k, v in oracle.extract_corpus([datagen.corpus_rows(i) for i in range(100)]).items() if v}
    for d, seq in exp.items():
        assert sorted(got[d], key=lambda t: t[3]) == seq


def test_skew_docs_are_spread(spark):
    """The pipeline's own spread cuts a media-heavy document into
    ceil(n / CHUNK_SPANS) chunk rows that land on more than one
    partition, next to the light datagen documents (one row each)."""
    n = 5 * CHUNK_SPANS
    heavy = [
        {"kind": "media", "text": "", "media_ref": f"mem://heavy/{j}", "offset": j, "media_bytes": None}
        for j in range(n)
    ]
    rows = [datagen.corpus_rows(i) for i in range(1, 40)] + [("doc-heavy", heavy)]
    docs = spark.createDataFrame(rows, datagen.DOCS_SCHEMA)
    spread = _spread_flat(docs, None).select(
        "doc_id", "chunk", F.size("spans").alias("n"), F.spark_partition_id().alias("pid")
    ).collect()
    chunks = [r for r in spread if r["doc_id"] == "doc-heavy"]
    assert sorted(r["chunk"] for r in chunks) == list(range(-(-n // CHUNK_SPANS)))
    assert sum(r["n"] for r in chunks) == n
    assert len({r["pid"] for r in chunks}) > 1
    assert len(spread) == len(chunks) + 39


def _boundary_span(doc: str, i: int, offset: int) -> dict:
    """Span i of a boundary document: plain or boilerplate text, or media
    with a rendered payload or without one (the ref path)."""
    ref = f"mem://{doc}/{i}"
    if i % 3 == 0:
        text = "nav menu footer" if i % 6 == 3 else f"words {i} kept"
        return {"kind": "text", "text": text, "media_ref": "", "offset": offset, "media_bytes": None}
    payload = render_media_image(ref) if i % 5 else None
    return {"kind": "media", "text": "", "media_ref": ref, "offset": offset, "media_bytes": payload}


def test_chunk_boundaries_match_oracle(spark):
    """Documents around the CHUNK_SPANS boundary, through extract_spans,
    the flat form and the dead letters, against oracle.extract_document:
    K-1, K, K+1 and 2K+1 spans, offsets out of order across a chunk
    boundary, duplicate offsets (which keep input order, as the oracle's
    stable sort does), a truncated payload (a corrupt_payload dead
    letter), empty and NULL span arrays, and a document whose every span
    drops."""
    K = CHUNK_SPANS
    rows = [(f"n{n}", [_boundary_span(f"n{n}", i, i) for i in range(n)]) for n in (K - 1, K, K + 1, 2 * K + 1)]
    rows.append(("shuffled", [_boundary_span("shuffled", i, (7 * i + 3) % (K + 9)) for i in range(K + 9)]))
    dups = [_boundary_span("dups", i, i // 3) for i in range(K + 5)]
    dups[4]["media_bytes"] = dups[4]["media_bytes"][:-3]
    rows.append(("dups", dups))
    failing = [r for r in (f"mem://drop/{i}" for i in range(200)) if S.extract_media_span(r) is None]
    rows.append(("all_drop", [
        {"kind": "media", "text": "", "media_ref": ref, "offset": j, "media_bytes": render_media_image(ref)}
        if j % 2 else
        {"kind": "text", "text": "nav menu", "media_ref": "", "offset": j, "media_bytes": None}
        for j, ref in enumerate(failing[: K + 2])
    ]))
    rows += [("empty", []), ("null", None)]
    docs = spark.createDataFrame(rows, datagen.DOCS_SCHEMA)

    exp = {}
    exp_dead = []
    for doc_id, spans in rows:
        out = oracle.extract_document(doc_id, spans or [])
        exp[doc_id] = out
        kept = {(t[2], t[3]) for t in out if t[0] == "media"}
        exp_dead += [
            (doc_id, s["media_ref"], s["offset"],
             "corrupt_payload" if s is dups[4] else "all_masks_failed")
            for s in spans or [] if s["kind"] == "media" and (s["media_ref"], s["offset"]) not in kept
        ]
    assert exp["all_drop"] == [] and exp["dups"] and exp_dead
    assert ("dups", dups[4]["media_ref"], 1, "corrupt_payload") in exp_dead

    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans_out"]]
        for r in extract_spans(docs).collect()
    }
    assert got == {d: v for d, v in exp.items() if v}
    ok, dead = extract_spans_with_deadletter(docs)
    flat = {}
    for r in ok.collect():
        flat.setdefault(r["doc_id"], []).append((r["kind"], r["text"], r["media_ref"], r["order"]))
    assert {d: sorted(v) for d, v in flat.items()} == {d: sorted(v) for d, v in got.items()}
    assert "all_drop" not in flat
    assert sorted(tuple(r) for r in dead.collect()) == sorted(exp_dead)
    assert _spread_flat(docs, None).count() == sum(-(-len(s or []) // K) for _, s in rows)


def test_span_sink_keeps_spans_that_share_an_offset(spark, tmp_path):
    """Offsets repeat within a document, so the span sink keys a span on
    its index in the document (pos), not its offset: the checkpoint's
    parquet and sink routes and the streaming writer all return the
    multiset of spans that extract_spans_flat returns."""
    import collections

    from xhs_ocr_spark.extraction.checkpointed import CheckpointedExtraction, make_span_sink
    from xhs_ocr_spark.streaming import extraction_stream

    docs = spark.createDataFrame(
        [("dups", [_boundary_span("dups", i, i // 3) for i in range(20)])], datagen.DOCS_SCHEMA
    )
    cols = ["doc_id", "kind", "text", "media_ref", "order"]

    def spans(df):
        return collections.Counter(tuple(r) for r in df.select(*cols).collect())

    want = spans(extract_spans_flat(docs))
    assert len({o for _, _, _, _, o in want}) < sum(want.values())  # offsets repeat
    for route in ("parquet", "sink"):
        sink = make_span_sink(spark, str(tmp_path / route / "table"), 4) if route == "sink" else None
        ck = CheckpointedExtraction(spark, str(tmp_path / route / "run"), n_buckets=4, waves=2, span_sink=sink)
        assert spans(ck.run(docs)) == want, route

    docs.write.parquet(str(tmp_path / "in" / "batch0"))
    sink = make_span_sink(spark, str(tmp_path / "stream" / "table"), 4)
    q = extraction_stream(spark, str(tmp_path / "in" / "*"), str(tmp_path / "stream" / "ck"), sink)
    q.trigger(availableNow=True).start().awaitTermination(300)
    assert spans(sink.read()) == want


def test_unknown_span_kinds_match_oracle(spark):
    """A span whose kind is neither text nor media, or is NULL, is dropped
    by the engine and the oracle alike — even when it carries plain text
    or a decodable payload."""

    def unknown(kind, offset):
        ref = f"mem://unknown/{offset}"
        return {
            "kind": kind, "text": "plain words that a text span would keep", "media_ref": ref,
            "offset": offset, "media_bytes": render_media_image(ref),
        }

    rows = []
    for i in range(1, 31):
        doc_id, spans = datagen.corpus_rows(i)
        rows.append((doc_id, spans + [unknown("video", len(spans)), unknown(None, len(spans) + 1)]))
    rows.append(("doc-unknown-only", [unknown("video", 0), unknown(None, 1)]))
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans_out"]]
        for r in extract_spans(spark.createDataFrame(rows, datagen.DOCS_SCHEMA)).collect()
    }
    exp = {k: v for k, v in oracle.extract_corpus(rows).items() if v}
    assert "doc-unknown-only" not in exp and len(exp) == 30
    assert got == exp
