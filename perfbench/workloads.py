"""The benchmark workloads: flagship extraction over two seeded corpora.

Each workload stages its seeded input during set-up (``stage``), then
runs one closed-loop operation at a time (``op``), each returning an
order-insensitive digest of its complete result. ``oracle_match_rate``
and ``problems`` are the per-run correctness checks. ``trace`` is the
traced run: it times calls into the program's layers from outside and
returns per-layer metrics keyed by the ``per_layer`` names of
``BENCHMARK.json``.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyspark.sql.functions as F

from xhs_ocr_spark.extraction import oracle
from xhs_ocr_spark.extraction import pipeline as P
from xhs_ocr_spark.extraction import raw_image as RI
from xhs_ocr_spark.extraction.checkpointed import CheckpointedExtraction, make_span_sink
from xhs_ocr_spark.operators import dedup_fuzzy as DF
from xhs_ocr_spark.operators import selection as SEL
from xhs_ocr_spark.operators import textops as TX
from xhs_ocr_spark.plans import corpus_pipeline as CP
from xhs_ocr_spark.sources.docs_table import read_docs

import inputs
from measure import digest, dir_mb, median, noop

ORACLE_SAMPLE = 96  # documents per run checked against the pure-Python oracle
RAW_SAMPLE = 256  # payloads timed through extract_from_bytes in the traced run
MIN_TRACED = 3  # traced iterations per traced run, at least
FLAT_COLS = ["doc_id", "kind", "text", "media_ref", "order"]


def _rows(df) -> int:
    return df.agg(F.count(F.lit(1))).first()[0]


def _spans_by_doc(rows) -> dict[str, list[tuple]]:
    """Collected ``extract_spans`` rows -> doc_id -> [(kind, text, media_ref, order)]."""
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans_out"]]
        for r in rows
    }


class Workload:
    """``extract_spans`` over a staged ``(doc_id, spans)`` corpus, read back
    through ``sources.docs_table``."""

    name = ""
    n_docs = 0

    def __init__(self, spark, seed: int, work: str) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.input_dir = os.path.join(work, "input")
        self.rng = np.random.default_rng(seed)
        self.trace_problems: list[str] = []

    def stage(self) -> None:
        """Generate the seeded input and write it to ``input_dir``."""
        raise NotImplementedError

    def open(self) -> None:
        """Read the staged input back; called once, after staging."""
        self.docs = read_docs(self.spark, self.input_dir)

    def op(self) -> tuple:
        """One operation, from staged input to the digest of its result."""
        return digest(P.extract_spans(self.docs))

    def problems(self) -> list[str]:
        """Failed checks of the traced run (the write path, the funnel)."""
        return self.trace_problems

    def must_sample(self) -> list[str]:
        """Doc ids every oracle sample includes."""
        return []

    def oracle_match_rate(self) -> float:
        """Share of a seeded document sample whose extracted span sequence
        equals ``oracle.extract_document`` on the same input spans."""
        ids = [str(x) for x in self.rng.choice(self.all_ids, ORACLE_SAMPLE, replace=False)]
        ids = sorted(set(ids) | set(self.must_sample()))
        want = F.broadcast(self.spark.createDataFrame([(i,) for i in ids], "doc_id string"))
        # extraction is per document, so the sample is extracted on its own
        sample = self.docs.join(want, "doc_id", "left_semi").localCheckpoint(eager=True)
        got = _spans_by_doc(P.extract_spans(sample).collect())
        ok = sum(
            oracle.extract_document(r["doc_id"], [s.asDict() for s in r["spans"]])
            == got.get(r["doc_id"], [])
            for r in sample.collect()
        )
        return ok / len(ids)

    def trace(self, rec, untraced_op, deadline: float) -> dict[str, float]:
        """Nested prefixes scan -> spread -> route -> reassemble, each
        materialised on its own; a layer's self time is the difference of
        consecutive prefix medians, so the layers sum to the full prefix."""
        untraced: list[float] = []
        i = 0
        while i < MIN_TRACED or time.perf_counter() < deadline:
            run = f"op{i}"
            untraced.append(untraced_op())
            with rec.span("extract", run):
                with rec.span("sources.scan", run):
                    noop(read_docs(self.spark, self.input_dir))
                with rec.span("pipeline.spread", run):
                    # the pipeline's own spread prefix: explode + size-aware
                    # repartition by (doc_id, offset)
                    noop(P._spread_flat(self.docs, None))
                with rec.span("pipeline.route", run):
                    noop(P.extract_spans_flat(self.docs))
                with rec.span("pipeline.reassemble", run):
                    self.op()
            i += 1
        scan, spread, route, full = (
            median(rec.durations(n)) for n in
            ("sources.scan", "pipeline.spread", "pipeline.route", "pipeline.reassemble")
        )
        m = {
            "sources.scan_s": scan,
            "sources.input_mb": dir_mb(self.input_dir),
            "pipeline.spread_s": spread - scan,
            "pipeline.route_s": route - spread,
            "pipeline.reassemble_s": full - route,
            "trace.wall_s": full,
            "trace.untraced_wall_s": median(untraced),
            "trace.layers_s": full,  # the four layer self times telescope to it
        }
        with rec.span("pipeline.counts", "counts"):
            m.update(self._span_counts())
        with rec.span("pipeline.spread_skew", "counts"):
            per_part = sorted(
                r["n"] for r in P._spread_flat(self.docs, None)
                .groupBy(F.spark_partition_id().alias("p"))
                .agg(F.count(F.lit(1)).alias("n")).collect()
            )
            m["pipeline.spread_skew"] = per_part[-1] / median(per_part)
        m.update(self._raw_image_costs())
        return m

    def _span_counts(self) -> dict[str, float]:
        ok, dead = P.extract_spans_with_deadletter(self.docs)
        kinds = {
            r["kind"]: r["n"]
            for r in ok.groupBy("kind").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        reasons = {
            r["reason"]: r["n"]
            for r in dead.groupBy("reason").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        spans_in, text_in = self.docs.select(
            F.sum(F.size("spans")),
            F.sum(F.size(F.filter("spans", lambda s: s["kind"] == "text"))),
        ).first()
        spans_out = sum(kinds.values())
        return {
            "pipeline.spans_in": spans_in,
            "pipeline.spans_out": spans_out,
            "pipeline.text_dropped": text_in - kinds.get("text", 0),
            "pipeline.dead_letters.corrupt_payload": reasons.get("corrupt_payload", 0),
            "pipeline.dead_letters.all_masks_failed": reasons.get("all_masks_failed", 0),
            "pipeline.survival_ratio": spans_out / spans_in,
        }

    def _raw_image_costs(self) -> dict[str, float]:
        """Per-image decode cost over a fixed seeded payload sample, in this
        one process: median of five passes after one that warms the mask
        cache."""
        rows = (
            P.explode_spans(self.docs)
            .where(F.col("kind") == "media")
            .orderBy(F.xxhash64(F.lit(self.seed), "media_ref"))
            .limit(RAW_SAMPLE)
            .select("media_bytes")
            .collect()
        )
        payloads = [bytes(r["media_bytes"]) for r in rows]
        masks = RI.masks_by_key(RI.mask_library())
        passes = []
        for _ in range(6):
            t0 = time.perf_counter()
            for p in payloads:
                RI.extract_from_bytes(p, masks)
            passes.append((time.perf_counter() - t0) / len(payloads) * 1e6)
        return {
            "raw_image.extract_us": median(passes[1:]),
            "raw_image.payload_kb": sum(map(len, payloads)) / len(payloads) / 1024,
        }


class _TimedSink:
    """Delegating proxy for the span sink that records every
    ``insert_ignore`` as a ``merge_table.insert_ignore`` span."""

    def __init__(self, sink, rec, run_id: str) -> None:
        self._sink = sink
        self._rec = rec
        self._run_id = run_id

    def insert_ignore(self, updates, keys=None):
        with self._rec.span("merge_table.insert_ignore", self._run_id):
            return self._sink.insert_ignore(updates, keys)

    def __getattr__(self, name):
        return getattr(self._sink, name)


class ExtractText(Workload):
    """The paper's headline path: documents replicated with seed-salted
    ids, media bytes attached (about 70% text spans).

    Its traced run also carries the layers no timed workload reaches:
    the write path once (checkpointed extraction into the merge-table
    sink, crashed after half its waves and resumed, checked exactly-once
    against the one-shot extraction) and the corpus funnel once."""

    name = "extract_text"
    BASE_DOCS = 2500
    REPLICATE = 2
    SINK_BUCKETS = 4
    SINK_WAVES = 2

    def stage(self) -> None:
        docs = inputs.documents_frame(self.seed, self.BASE_DOCS)
        inputs.interleaved_corpus(self.spark, docs, self.seed, self.REPLICATE).write.mode(
            "overwrite"
        ).parquet(self.input_dir)
        self.n_docs = self.BASE_DOCS * self.REPLICATE
        self.all_ids = [
            f"s{self.seed}#{d}#{r}" for d in docs["doc_id"] for r in range(self.REPLICATE)
        ]

    def trace(self, rec, untraced_op, deadline: float) -> dict[str, float]:
        m = super().trace(rec, untraced_op, deadline)
        m.update(self._resume_sink(rec))
        funnel, problems = _Funnel(self.spark, self.seed, os.path.join(self.work, "funnel")).trace(rec)
        self.trace_problems.extend(problems)
        m.update(funnel)
        return m

    def _resume_sink(self, rec) -> dict[str, float]:
        """One crash-and-resume of ``CheckpointedExtraction`` into
        ``make_span_sink`` on a fresh directory."""
        run = "resume_sink"
        out = os.path.join(self.work, "resume_sink")
        sink = make_span_sink(self.spark, os.path.join(out, "sink"), self.SINK_BUCKETS)
        ce = CheckpointedExtraction(
            self.spark, os.path.join(out, "ckpt"), n_buckets=self.SINK_BUCKETS,
            waves=self.SINK_WAVES, span_sink=_TimedSink(sink, rec, run),
        )
        with rec.span("checkpointed.crash_leg", run):
            try:
                ce.run(self.docs, fail_after_waves=self.SINK_WAVES // 2)
            except RuntimeError as e:
                if "simulated crash" not in str(e):
                    raise
            else:
                raise RuntimeError("the crash leg completed without crashing")
        before = {(r["bucket"], r["run_id"]) for r in ce.lineage().collect()}
        with rec.span("checkpointed.resume", run):
            table = ce.run(self.docs)
        with rec.span("merge_table.read", run):
            got = digest(table.select(*FLAT_COLS))
        lineage = ce.lineage().collect()
        crash_runs = {r for _, r in before}
        done = {b for b, _ in before}
        one_shot = digest(P.extract_spans_flat(self.docs).select(*FLAT_COLS))
        dups = _rows(
            sink.read().groupBy("doc_id", "order").agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1)
        )
        if got != one_shot:
            self.trace_problems.append(f"sink digest {got} != one-shot extraction {one_shot}")
        if dups:
            self.trace_problems.append(f"{dups} duplicate (doc_id, order) rows in the sink")
        m = {
            "checkpointed.crash_leg_s": rec.durations("checkpointed.crash_leg")[0],
            "checkpointed.resume_s": rec.durations("checkpointed.resume")[0],
            "checkpointed.wave_ms": median(r["wall_ms"] for r in lineage),
            "checkpointed.buckets_redone": len({
                r["bucket"] for r in lineage
                if r["bucket"] in done and r["run_id"] not in crash_runs
            }),
            "merge_table.insert_ignore_s": sum(rec.durations("merge_table.insert_ignore")),
            "merge_table.commits": len(sink.snapshot_ids()),
            "merge_table.rows": got[0],
            "merge_table.read_s": rec.durations("merge_table.read")[0],
        }
        shutil.rmtree(out, ignore_errors=True)
        return m


class ExtractMediaSkew(Workload):
    """Light three-span documents and every k-th document heavy with
    hundreds of noise-padded media payloads."""

    name = "extract_media_skew"
    N_DOCS = 2000
    HEAVY_EVERY = 100
    HEAVY_SPANS = 320
    NOISE_ROWS = 48

    def stage(self) -> None:
        inputs.skewed_corpus(
            self.spark, self.seed, self.N_DOCS, self.HEAVY_EVERY, self.HEAVY_SPANS,
            self.NOISE_ROWS,
        ).write.mode("overwrite").parquet(self.input_dir)
        self.n_docs = self.N_DOCS
        self.all_ids = [f"k{self.seed}-{i:07d}" for i in range(self.N_DOCS)]

    def must_sample(self) -> list[str]:
        return inputs.heavy_doc_ids(self.seed, self.N_DOCS, self.HEAVY_EVERY)[:2]


class _Funnel:
    """The corpus funnel, traced once inside the traced run of
    ``extract_text``: ``corpus_assembly`` over the text of ``N_DOCS``
    documents extracted during its own set-up. Their ids stay numeric,
    because the decontamination split uses ``doc_id % 11``."""

    N_DOCS = 800

    def __init__(self, spark, seed: int, work: str) -> None:
        corpus_dir = os.path.join(work, "corpus")
        text_dir = os.path.join(work, "doc_text")
        raw = inputs.documents_frame(seed, self.N_DOCS)
        inputs.interleaved_corpus(spark, raw, seed, 1).write.mode("overwrite").parquet(corpus_dir)
        corpus = read_docs(spark, corpus_dir)
        CP.doc_text_from_spans(P.extract_spans_flat(corpus)).write.mode("overwrite").parquet(
            text_dir
        )
        self.docs = read_docs(spark, text_dir)

    def trace(self, rec) -> tuple[dict[str, float], list[str]]:
        """One untraced warm-up ``corpus_assembly``; then ``corpus_stages``
        (eager checkpoints) and the whole ``corpus_assembly`` (tail = the
        difference); then each operator on its checkpointed stage input."""
        run = "corpus_funnel"
        digest(CP.corpus_assembly(self.docs))
        with rec.span("corpus_funnel", run):
            with rec.span("corpus_pipeline.stages", run) as st:
                stages = CP.corpus_stages(self.docs)
            with rec.span("corpus_pipeline.assembly", run) as asm:
                digest(CP.corpus_assembly(self.docs))
        stages_s = st["end"] - st["start"]
        m = {
            "corpus_pipeline.stages_s": stages_s,
            "corpus_pipeline.tail_s": asm["end"] - asm["start"] - stages_s,
        }
        m.update(self._operator_times(rec, run, stages))
        counts = {name: _rows(stages[name]) for name in CP.STAGES}
        m.update({f"corpus_pipeline.docs.{k}": v for k, v in counts.items()})
        removed = counts["paragraph_dedup"] - counts["neardup_dedup"]
        m["dedup_fuzzy.pair_yield"] = removed / m["dedup_fuzzy.candidate_pairs"]
        seq = [counts[s] for s in CP.STAGES]
        shrinking = all(b <= a for a, b in zip(seq, seq[1:])) and seq[-1] > 0
        return m, [] if shrinking else [f"funnel counts are not a shrinking non-empty sequence: {seq}"]

    def _operator_times(self, rec, run: str, stages) -> dict[str, float]:
        """Each funnel operator on its checkpointed stage input."""
        m = {}

        def timed(name, fn):
            with rec.span(name, run) as s:
                out = fn()
            m[f"{name}_s"] = s["end"] - s["start"]
            return out

        timed("dedup_fuzzy.paragraph_dedup", lambda: noop(
            DF.paragraph_dedup_rebuild(stages["exact_dedup"], "doc_id", "text", size=4)
        ))
        pairs = timed("dedup_fuzzy.lsh_pairs", lambda: DF.lsh_candidate_pairs(
            stages["paragraph_dedup"], "doc_id", "text"
        ).localCheckpoint(eager=True))
        m["dedup_fuzzy.candidate_pairs"] = _rows(pairs)
        timed("dedup_fuzzy.components", lambda: noop(DF.neardup_components(pairs)))
        ev = stages["input"].where(F.col("doc_id").cast("bigint") % CP.EVAL_MOD == 0)
        timed("dedup_fuzzy.decontam", lambda: noop(DF.decontam_flags_join(
            stages["neardup_dedup"], "doc_id", "text", ev, threshold_x1000=500
        )))
        # the scoring that corpus_assembly feeds the selection operators
        scored = stages["decontam"].join(
            stages["stratified_sample"].select("doc_id"), "doc_id", "left_semi"
        ).select(
            "doc_id",
            TX.quality_score(F.col("text")).cast("long").alias("quality_x1000"),
            TX.token_count(F.col("text")).cast("long").alias("n_tokens"),
        ).localCheckpoint(eager=True)
        sel = timed("selection.budget_select", lambda: SEL.token_budget_select(
            scored, "doc_id", "quality_x1000", "n_tokens", budget=CP.ASSEMBLY_BUDGET
        ).localCheckpoint(eager=True))
        timed("selection.pack", lambda: noop(SEL.pack_sequences(
            sel.select("doc_id", "n_tokens"), "doc_id", "n_tokens",
            seq_len=CP.ASSEMBLY_SEQ_LEN, prefix_len=2,
        )))
        return m


WORKLOADS = {w.name: w for w in (ExtractText, ExtractMediaSkew)}
