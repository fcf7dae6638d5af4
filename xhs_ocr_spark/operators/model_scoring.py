"""Model-based quality scoring behind the per-worker engine lifecycle
(round-4 verdict item 6) — the batch-inference pattern a real
fastText / sklearn / ONNX quality classifier drops into: the model loads
ONCE per executor python worker (never per row or per Arrow batch), and
scoring is vectorized over each batch. This mirrors the reference's
one-subprocess-per-process OCR engine handle (U1, core/ppocr_api.py:
40-78), which the OCR stage keeps as per-worker mask state — swap
``_ScoringEngine._load_model`` for the real model load and everything
else stands.

The stand-in model is a logistic-regression-SHAPED scorer with PINNED
INTEGER weights over exact integer token features, so the DuckDB oracle
reproduces the logit bit-for-bit (no float exp/sigmoid crosses engines;
the logit is monotone in the probability, so thresholding the logit IS
thresholding the probability — the decision boundary is identical).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .textops import ENGLISH_STOPWORDS

# logit_x1000 = BIAS + sum(weight * integer feature); > 0 -> keep.
# Feature scale: documents here run 10-70 tokens with a handful of
# stopwords; weights put clean mid-length prose above 0 and stopword-free
# or digit-ridden strings below.
MODEL_WEIGHTS = {
    "bias": -2000,
    "n_tokens": 25,
    "n_stopwords": 180,
    "n_long_words": -150,  # tokens longer than 12 chars (garbage-ish)
    "n_digit_tokens": -90,  # tokens containing a digit
}

_WS = re.compile(r"\s+", re.ASCII)
_DIGIT = re.compile(r"[0-9]")


class _ScoringEngine:
    """Per-python-worker singleton; ``init_count`` observable by tests
    (a worker that re-initializes per batch would show > 1)."""

    _instance: "_ScoringEngine | None" = None
    init_count = 0

    def __init__(self) -> None:
        _ScoringEngine.init_count += 1
        self.weights = self._load_model()

    @staticmethod
    def _load_model() -> dict[str, int]:
        # the expensive step a real classifier pays here: deserialize
        # weights / mmap an embedding table / spin up an ONNX session
        return dict(MODEL_WEIGHTS)

    @classmethod
    def get(cls) -> "_ScoringEngine":
        if cls._instance is None:
            cls._instance = cls()
        return cls._instance

    def score_batch(self, texts: pd.Series) -> pd.Series:
        w = self.weights
        stop = set(ENGLISH_STOPWORDS)

        def one(t: str | None) -> int:
            if t is None:
                return w["bias"]
            ws = [x for x in _WS.split(t.strip()) if x]
            n_stop = sum(1 for x in ws if x.lower() in stop)
            n_long = sum(1 for x in ws if len(x) > 12)
            n_digit = sum(1 for x in ws if _DIGIT.search(x))
            return (
                w["bias"]
                + w["n_tokens"] * len(ws)
                + w["n_stopwords"] * n_stop
                + w["n_long_words"] * n_long
                + w["n_digit_tokens"] * n_digit
            )

        return texts.map(one)


def model_quality_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, logit_x1000, keep): Arrow-batched model inference with
    the engine initialized once per worker. One narrow python stage —
    no shuffle, scan-speed modulo the model's own throughput at 100 TB;
    the input is spread across workers by the caller's partitioning."""

    def infer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        engine = _ScoringEngine.get()  # BEFORE the batch loop (U1)
        for pdf in batches:
            logits = engine.score_batch(pdf["__text"])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["__id"],
                    "logit_x1000": logits.astype("int64"),
                    "keep": (logits > 0).astype("int64"),
                }
            )

    src = df.select(
        F.col(id_col).cast("string").alias("__id"), F.col(text_col).alias("__text")
    )
    return src.mapInPandas(
        infer, schema="doc_id string, logit_x1000 long, keep long"
    )
