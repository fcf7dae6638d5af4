#!/usr/bin/env python
"""Benchmark harness — one JSON line on stdout.

Headline metric: docs/sec of the flagship interleaved-extraction pipeline
over a corpus derived from the sf documents table, amplified by
REPLICATE_DOCS copies (sf0.1 has 5k docs; amplification gives the ~50k+
docs needed for task counts >> cores so the measurement is compute-bound,
not scheduling-bound).

Also times the headline relational/training-data queries (wall sec each).

The JSON carries a `vm_calibration_sec` pair (pre/post): wall time of a
fixed Spark-free single-core md5 workload, measured before and after the
Spark work. This VM has documented multi-minute frequency bands where
ANY code runs 1.3-5x slower; the calibration pins which band the
recorded pass landed in, so two rounds' headlines can be compared
honestly (a fast-band calibration is ~0.16s; slow bands scale it up by
the same factor that scales the Spark timings). Certification is
ROUND-LEVEL since round 6: every interleaved round is bracketed by
single-core probes and followed by an 8-proc probe, a round certifies
iff all three are fast, per-query results take the min over certified
rounds, and an attempt earns band:"fast" iff >=1 round certified AND
the end-of-attempt sustained 32-proc probe is fast. Slow attempts
re-run (up to BENCH_BAND_RETRIES, waiting BENCH_BAND_WAIT_SEC between —
bands persist for minutes); every attempt's probes and timings land in
BENCH_DETAIL.json so nothing is hidden.

    SPARK_GRAFT_SF_DIR  input dir  (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS    local[N]   (default 32)
    BENCH_REPLICATE     corpus amplification factor (default 10)
    BENCH_ROUNDS        interleaved timed passes, best-of (default 3)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F  # noqa: E402

from xhs_ocr_spark import queries as Q  # noqa: E402
from xhs_ocr_spark.extraction.datagen import corpus_from_documents  # noqa: E402
from xhs_ocr_spark.extraction.pipeline import extract_spans_flat  # noqa: E402
from xhs_ocr_spark.session import get_spark, spread  # noqa: E402

BENCH_QUERIES = [
    "q02_related_merge",
    "q12_merge_pipeline",
    "q13_span_reorder",
    "q15_lineitem_agg",
    "q16_join_revenue",
    "q21_quality_score",
    "q24_minhash_signature",
    "q25_lsh_pairs",
    "q26_simhash",
    "q27_ngram_jaccard",
    "q28_cosine_topk",
    "q29_embedding_neardup",
    "q36_simhash64",
    "q42_repetition",
    "q43_pii_scrub",
    "q44_decontam",
    "q45_para_dedup",
    "q49_substring_dedup",
    "q50_model_quality",
    "q51_token_budget",
    "q52_incremental_dedup",
    "q53_mix_resample",
    "q54_epoch_shuffle",
    "q55_pack_sequences",
    "q56_tfidf_topk",
    "q57_token_quantiles",
    "q58_sessionize",
    "q59_sessionize_bucketed",
    "q60_source_reputation",
    "q62_bpe_tokens",
    "q63_bpe_budget",
    "q64_unigram_rarity",
    "q65_chunk_documents",
]

# Composed whole-pipeline queries are timed ONCE per attempt instead of
# riding the interleaved best-of-N rounds: q61 runs the entire funnel +
# assembly (~15s at sf0.1) — three interleaved copies would double the
# attempt wall-time and push the sustained-band drift the calibrations
# exist to catch. Still timed and recorded every attempt (the rule from
# round-5 verdict item 3: no query lands without a timing).
COMPOSED_ONCE = [
    "q61_corpus_assembly",
]


def amplified_corpus(spark, sf_dir: str, replicate: int, with_bytes: bool = True):
    """Derive the interleaved corpus, replicated with distinct doc_ids,
    media spans carrying their raw RGBA payloads.

    Order matters for scale: replicate + repartition the RAW (doc_id,
    text) rows first, and only then derive the span arrays — the sf
    parquet is one file (one scan partition), and deriving spans before
    the exchange would funnel every document through a single task (a
    measured ~30s serial head that capped scaling efficiency at 0.38)."""
    from xhs_ocr_spark.extraction.datagen import attach_media_bytes

    raw = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    if replicate > 1:
        reps = spark.range(replicate).select(F.col("id").alias("rep"))
        raw = raw.crossJoin(reps).select(
            F.concat_ws("#", "doc_id", "rep").alias("doc_id"), "text"
        )
    corpus = corpus_from_documents(spread(raw, "doc_id"))
    return attach_media_bytes(corpus) if with_bytes else corpus


def staged_corpus(spark, sf_dir: str, replicate: int, stage_dir: str, files: int = 64):
    """Materialize the amplified corpus to parquet once and read it back —
    the honest benchmark input shape (a real deployment scans an existing
    multi-file table, it does not synthesize documents in-plan). Reused
    across runs when the directory already exists."""
    import os

    marker = os.path.join(stage_dir, "_SUCCESS")
    if not os.path.exists(marker):
        amplified_corpus(spark, sf_dir, replicate).repartition(files).write.mode(
            "overwrite"
        ).parquet(stage_dir)
    return spark.read.parquet(stage_dir)


def _mc_md5_work(mb_each: int) -> int:
    import hashlib

    blob = b"\x5a" * (1 << 20)
    h = hashlib.md5()
    for _ in range(mb_each):
        h.update(blob)
    h.hexdigest()
    return 1


def vm_calibration_mc_sec(procs: int = 8, mb: int = 48) -> float:
    """Multi-core companion to vm_calibration_sec: wall seconds for
    ``procs`` concurrent md5 workers. The single-core calibration can
    read fast while the ALL-CORE frequency band is low (observed: two
    fast-single-core passes 25 min apart recorded 18.8k vs 15.4k
    docs/s) — this pins the band the parallel Spark stages actually ran
    in. Gated per ROUND since round 6 (fast ~0.11-0.15, threshold
    BENCH_CAL_MC_THRESHOLD=0.16)."""
    import multiprocessing as mp

    t0 = time.perf_counter()
    with mp.Pool(procs) as pool:
        pool.map(_mc_md5_work, [mb] * procs)
    return round(time.perf_counter() - t0, 3)


def vm_calibration_sustained_sec(procs: int = 32, mb: int = 48, reps: int = 3) -> float:
    """Sustained all-core calibration: ``reps`` back-to-back rounds of
    the ``procs``-worker md5 workload, reporting the LAST round. The
    brief 8-proc cal can read fast while the SUSTAINED all-core
    frequency has drooped (observed r05: flanking cals 0.151/0.157 and
    cal_mc 0.152 — all "fast" — around a timed section running ~1.55x
    slower than a morning run with near-identical cal readings; ~4 min
    of sustained 32-core load sits in a band the sub-second probes
    never enter). Recorded per attempt for characterization; once the
    bimodal values are pinned across rounds this becomes the third
    band-certificate gate, like cal_mc did in r04->r05."""
    import multiprocessing as mp

    last = 0.0
    with mp.Pool(procs) as pool:
        for _ in range(reps):
            t0 = time.perf_counter()
            pool.map(_mc_md5_work, [mb] * procs)
            last = time.perf_counter() - t0
    return round(last, 3)


def vm_calibration_sec(mb: int = 96) -> float:
    """Wall seconds for a fixed single-core md5 workload — Spark-free, so
    it measures only the VM's current per-core speed band (~0.16s on a
    fast band). Recorded pre/post so the JSON artifact itself shows which
    band the timed passes landed in."""
    import hashlib

    blob = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.md5()
    for _ in range(mb):
        h.update(blob)
    h.hexdigest()
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    replicate = int(os.environ.get("BENCH_REPLICATE", "10"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    cal_pre = vm_calibration_sec()

    spark = get_spark("xhs-ocr-spark-bench", cores=cores)

    # ---- flagship extraction throughput (materialized corpus: the real
    # deployment scans an existing table, it doesn't synthesize in-plan) ----
    import tempfile

    stage_dir = os.path.join(
        tempfile.gettempdir(), f"xhs_bench_corpus_v2_r{replicate}_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    corpus = staged_corpus(spark, sf_dir, replicate, stage_dir)
    n_docs = corpus.count()

    # ---- interleaved best-of-N timing (round-2 verdict item 2: a single
    # warm pass per query let one VM slow band poison the whole recorded
    # artifact — r02 recorded ~2x on payload-independent queries). One
    # warm-up pass (JIT + python workers + code cache), then ROUNDS timed
    # passes with the flagship and every query interleaved, so a slow
    # band hits at most one sample of each; best-of wins. The flagship
    # corpus is STAGED parquet (datagen rendered once, outside timing). ----
    rounds = int(os.environ.get("BENCH_ROUNDS", "3"))
    qs = Q.queries()
    extract_spans_flat(corpus).count()  # warm-up
    for name in BENCH_QUERIES:
        qs[name](spark, sf_dir).count()
    for name in COMPOSED_ONCE:
        qs[name](spark, sf_dir).count()

    cal_threshold = float(os.environ.get("BENCH_CAL_THRESHOLD", "0.17"))
    cal_mc_threshold = float(os.environ.get("BENCH_CAL_MC_THRESHOLD", "0.16"))

    def timed_section() -> dict:
        """One attempt = COMPOSED_ONCE pass + ROUNDS interleaved rounds,
        with ROUND-LEVEL band certification (round-6 methodology step,
        after r05's attempt-level certificate proved both too strict and
        too loose on choppy days: a fully-certified attempt carried a
        q27 sample 1.6x its neighbors — the dip fell between the
        flanking probes — while faster attempts were rejected for a
        hair-over mid probe in a round the best-of had already routed
        around). Every round is bracketed by single-core probes and
        followed by an 8-proc multi-core probe; a round is CERTIFIED iff
        both brackets and its mc probe are fast. Per-query results are
        the min over certified rounds (falling back to all rounds when
        none certify, marked); each recorded sample is thereby
        attributed to a round that was measurably fast on both band
        dimensions for its whole duration."""
        extract_secs: list[float] = []
        samples: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
        out_rows = 0
        composed: dict[str, float] = {}
        for name in COMPOSED_ONCE:
            # single pass per attempt (see COMPOSED_ONCE note), before
            # the rounds so its churn never sits right under a probe
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            composed[name] = round(time.time() - t0, 3)
        bounds = [vm_calibration_sec()]
        round_mcs: list[float] = []
        for _ in range(rounds):
            t0 = time.time()
            out_rows = extract_spans_flat(corpus).count()
            extract_secs.append(time.time() - t0)
            for name in BENCH_QUERIES:
                t0 = time.time()
                qs[name](spark, sf_dir).count()
                samples[name].append(time.time() - t0)
            bounds.append(vm_calibration_sec())
            round_mcs.append(vm_calibration_mc_sec())
        certified = [
            i
            for i in range(rounds)
            if bounds[i] <= cal_threshold
            and bounds[i + 1] <= cal_threshold
            and round_mcs[i] <= cal_mc_threshold
        ]
        use = certified if certified else list(range(rounds))
        extract_sec = min(extract_secs[i] for i in use)
        timings = {
            n: round(min(ts[i] for i in use), 3) for n, ts in samples.items()
        }
        timings["q30_extract_flagship"] = round(extract_sec, 3)
        timings.update(composed)
        # per-query max/min ratio over ALL rounds — the variance record
        spread = {n: round(max(ts) / min(ts), 2) for n, ts in samples.items()}
        spread["q30_extract_flagship"] = round(max(extract_secs) / min(extract_secs), 2)
        return {
            "docs_per_sec": n_docs / extract_sec,
            "timings": timings,
            "spread": spread,
            "out_rows": out_rows,
            "cal_bounds": bounds,
            "round_mcs": round_mcs,
            "certified_rounds": certified,
        }

    # fast-band-by-construction (round-3 verdict item; per-round
    # certification since round 6 — see timed_section). An attempt earns
    # band:"fast" iff at least one ROUND certified (single-core brackets
    # + per-round 8-proc mc, the two bands documented to move
    # independently) AND the end-of-attempt SUSTAINED 32-proc probe is
    # fast (the third band dimension; it varies on minutes-scale, so one
    # end probe covers the attempt). Bands persist for minutes, so
    # retries wait before remeasuring.
    max_attempts = int(os.environ.get("BENCH_BAND_RETRIES", "3"))
    attempts: list[dict] = []
    best = None
    band = "best_of_slow"  # ADVICE r4: mark fallback headlines explicitly
    chosen_attempt = -1
    for attempt in range(max_attempts):
        result = timed_section()
        a_sus = vm_calibration_sustained_sec()
        rec = {
            "cal_bounds": result["cal_bounds"],
            "round_mcs": result["round_mcs"],
            "certified_rounds": result["certified_rounds"],
            "cal_sustained_32p": a_sus,
            "docs_per_sec": round(result["docs_per_sec"], 2),
            # per-attempt per-query timings: a band artifact on ONE query
            # (the r04 q27 "regression") is visible against the other
            # attempts instead of masquerading as a code regression
            "timings": result["timings"],
        }
        attempts.append(rec)
        if best is None or result["docs_per_sec"] > best[0]["docs_per_sec"]:
            best = (result, attempt)
        # sustained-band gate: both modes characterized same-day
        # (fast 0.138 with a 15.3k headline vs slow 0.205-0.228 with
        # 11.0k), so 0.17 separates them like the other two gates
        cal_sus_threshold = float(
            os.environ.get("BENCH_CAL_SUS_THRESHOLD", "0.17")
        )
        if result["certified_rounds"] and a_sus <= cal_sus_threshold:
            best = (result, attempt)  # fast-band attempt wins outright
            band = "fast"
            break
        if attempt + 1 < max_attempts:
            time.sleep(float(os.environ.get("BENCH_BAND_WAIT_SEC", "25")))
    chosen, chosen_attempt = best
    docs_per_sec = chosen["docs_per_sec"]
    timings = chosen["timings"]
    spread = chosen["spread"]
    out_rows = chosen["out_rows"]

    # ---- IVF recall@3 vs brute-force ground truth (same query set) ----
    from xhs_ocr_spark.operators import simsearch as SS

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q_df = emb.where(F.col("vec_id") < 5)
    truth = {
        (r["q_id"], r["n_id"]) for r in SS.cosine_topk(emb, q_df).collect()
    }
    cents = SS.fit_centroids_spark(emb)

    def _recall(nprobe: int) -> float:
        got = {
            (r["q_id"], r["n_id"])
            for r in SS.ivf_topk_kmeans(emb, q_df, cents, nprobe=nprobe).collect()
        }
        return round(len(got & truth) / len(truth), 3)

    ivf_recall = {"nprobe1": _recall(1), "nprobe2": _recall(2), "nprobe4": _recall(4)}

    cal_post = vm_calibration_sec()

    # Artifact discipline (round-5 verdict item 1: BENCH_r05 recorded
    # "parsed": null — the summary line had grown past the driver's
    # stdout tail-capture window, so the head with metric/value was cut
    # off and json.loads failed). The contract now: the summary JSON is
    # COMPACT (per-attempt detail goes to a sidecar file), it is the
    # FINAL stdout line with nothing printed after it (spark.stop()
    # runs first), and the script asserts it round-trips through
    # json.loads and stays well under the capture window before
    # emitting it.
    detail = {
        "query_spread_maxmin": spread,
        "band_attempts": attempts,
        "sf": sf,
        "cores": cores,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)

    summary = {
        "metric": "docs_per_sec_extraction",
        "value": round(docs_per_sec, 2),
        "unit": "docs/sec",
        "queries": timings,
        "sf": sf,
        "n_docs": n_docs,
        "out_rows": out_rows,
        "cores": cores,
        "replicate": replicate,
        "rounds": rounds,
        "ivf_recall_at_3": ivf_recall,
        "vm_calibration_sec": {"pre": cal_pre, "post": cal_post},
        "certified_rounds": attempts[chosen_attempt]["certified_rounds"],
        "round_mcs": attempts[chosen_attempt]["round_mcs"],
        "cal_bounds": attempts[chosen_attempt]["cal_bounds"],
        "cal_sustained_32p": attempts[chosen_attempt]["cal_sustained_32p"],
        "band": band,
        "chosen_attempt": chosen_attempt,
        "n_attempts": len(attempts),
        "detail_file": "BENCH_DETAIL.json",
    }
    line = json.dumps(summary)
    assert json.loads(line)["value"] == summary["value"]
    assert len(line) < 2800, f"summary line too long ({len(line)} bytes)"

    spark.stop()
    sys.stdout.flush()
    print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
