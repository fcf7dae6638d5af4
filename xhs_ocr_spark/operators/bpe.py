"""Deterministic merges-table BPE tokenizer stand-in (round-5 verdict
item 6): real token budgets and packing decisions are made in TOKENIZER
units, not whitespace words — q51/q55/q57-style consumers need a counter
that behaves like a subword tokenizer (merges table, greedy merging,
counts grow for rare words and shrink for common ones).

The stand-in is the greedy-merge-chain form of BPE: each whitespace word
is split into characters and the merges are applied IN RANK ORDER, one
rule at a time left-to-right (the classic "apply the learned merges"
inference pass). The merge application is DEFINED as leftmost
non-overlapping replacement of ' a b ' over the space-joined token
string — chosen because Python str.replace and DuckDB replace() agree
on it exactly (scan resumes AFTER each replacement; pinned by a manual
index-walking reimplementation in tests), so the oracle replays the
SAME merges table bit-for-bit. One documented deviation from
token-level BPE: in a run of consecutive identical pairs (e.g. chars
't h t h' under rule t+h) the shared separator is consumed, so matches
merge alternately ('th t h', not 'th th') — rare in practice, identical
on both engines, and irrelevant to the counter's purpose (budget /
packing decisions in subword-ish units).

Execution shape is the one a REAL tokenizer (tiktoken / HF tokenizers)
drops into: the merges table loads ONCE per executor python worker
(`_BpeEngine`, same lifecycle as model_scoring._ScoringEngine and the
OCR engine handle — reference core/ppocr_api.py:40-78), scoring is
Arrow-batched via mapInPandas, and a per-worker word->count cache
memoizes repeated words (Zipf makes this a large constant-factor win, as
in real tokenizer deployments). Swap `_BpeEngine._load_merges` + the
merge loop for tiktoken and everything else stands.

No reference counterpart (the reference never tokenizes for training;
this is LLM-pipeline surface like q50-q57).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..session import spread

# The merges table, in rank order (earlier = higher priority, applied
# first). A tiny public-knowledge English-digraph table — a stand-in for
# a learned merges.txt; composed rules (e.g. ti+on) exercise multi-level
# merging. The DuckDB oracle SQL is GENERATED from this constant
# (bpe_count_sql), so both engines replay identical merges by
# construction.
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("a", "n"),
    ("an", "d"),
    ("e", "r"),
    ("o", "n"),
    ("r", "e"),
    ("h", "e"),
    ("a", "t"),
    ("e", "n"),
    ("o", "r"),
    ("e", "s"),
    ("t", "i"),
    ("ti", "on"),
    ("s", "t"),
    ("a", "r"),
    ("o", "u"),
    ("l", "l"),
    ("e", "d"),
    ("i", "s"),
    ("i", "t"),
    ("a", "l"),
    ("o", "f"),
    ("t", "o"),
    ("c", "h"),
    ("s", "h"),
    ("in", "g"),
]

_WS = re.compile(r"\s+", re.ASCII)
_CACHE_MAX = 1 << 16  # bound the per-worker word cache


def bpe_word_token_count(word: str) -> int:
    """Token count of one whitespace word under the merges table — the
    pure-Python ground truth the Arrow engine and the DuckDB oracle
    both replay."""
    s = " " + " ".join(word) + " "
    for a, b in BPE_MERGES:
        s = s.replace(f" {a} {b} ", f" {a}{b} ")
    return len(s.split())


def bpe_text_token_count(text: str | None) -> int:
    """Total BPE token count of a document (words tokenized
    independently; merges never cross whitespace)."""
    if text is None:
        return 0
    return sum(bpe_word_token_count(w) for w in _WS.split(text.strip()) if w)


class _BpeEngine:
    """Per-python-worker singleton; ``init_count`` observable by tests
    (a worker that re-initializes per batch would show > 1)."""

    _instance: "_BpeEngine | None" = None
    init_count = 0

    def __init__(self) -> None:
        _BpeEngine.init_count += 1
        self.merges = self._load_merges()
        self.cache: dict[str, int] = {}

    @staticmethod
    def _load_merges() -> list[tuple[str, str]]:
        # the expensive step a real tokenizer pays here: parse
        # merges.txt / load the tiktoken ranks blob
        return list(BPE_MERGES)

    @classmethod
    def get(cls) -> "_BpeEngine":
        if cls._instance is None:
            cls._instance = cls()
        return cls._instance

    def _word_count(self, word: str) -> int:
        n = self.cache.get(word)
        if n is None:
            n = bpe_word_token_count(word)
            if len(self.cache) < _CACHE_MAX:
                self.cache[word] = n
        return n

    def count_batch(self, texts: pd.Series) -> pd.Series:
        wc = self._word_count

        def one(t: str | None) -> int:
            if t is None:
                return 0
            return sum(wc(w) for w in _WS.split(t.strip()) if w)

        return texts.map(one)

    def count_tokenized(self, docs: list[list[str]]) -> list[int]:
        """BPE counts over pre-split word lists — the batch entry point
        (the caller splits once and reuses the lists for the whitespace
        count; count_batch stays as the per-text form tests pin)."""
        wc = self._word_count
        return [sum(wc(w) for w in ws) for ws in docs]


def bpe_token_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    keep_cols: list[str] | None = None,
    pre_spread: bool = False,
) -> DataFrame:
    """(id[, keep_cols...], n_ws_tokens, n_bpe_tokens): whitespace vs
    tokenizer-unit counts, Arrow-batched with the merges loaded once per
    worker. One narrow python stage — no shuffle; scan-speed modulo
    tokenizer throughput at 100 TB.

    ``keep_cols``: additional input columns passed through the python
    stage untouched (r7) — a consumer that needs (score, token_count)
    per row gets both from ONE scan instead of scanning twice and
    joining on the id (q63 previously ran a second full documents scan
    + a broadcast join just to attach quality_x1000)."""

    keep = list(keep_cols or [])

    def count(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        engine = _BpeEngine.get()  # BEFORE the batch loop (U1)
        for pdf in batches:
            # split each text ONCE (r7: the old form split per text for
            # the whitespace count AND re-split inside count_batch —
            # tokenization was ~half the python stage)
            docs = [
                [] if t is None else [x for x in _WS.split(t.strip()) if x]
                for t in pdf["__text"]
            ]
            out = {"__id": pdf["__id"]}
            for k in keep:
                out[k] = pdf[k]
            out["n_ws_tokens"] = pd.Series(
                [len(ws) for ws in docs], index=pdf.index, dtype="int64"
            )
            out["n_bpe_tokens"] = pd.Series(
                engine.count_tokenized(docs), index=pdf.index, dtype="int64"
            )
            yield pd.DataFrame(out)

    # spread before the python stage (r7, guide §4/§2): the documents
    # parquet is a single scan partition, so without an exchange the
    # whole tokenizer stage ran in ONE python worker (measured: q62 was
    # a 1-task stage). Hash-repartition on the id spreads the Arrow
    # batches across every worker. ``pre_spread=True`` skips it — the
    # caller already placed an exchange BELOW its keep_cols derivation
    # (computing heavy keep_cols above a 1-partition scan and only then
    # exchanging would serialize them on one task).
    src = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text"), *keep
    )
    if not pre_spread:
        src = spread(src, "__id")
    keep_schema = "".join(
        f", {k} {src.schema[k].dataType.simpleString()}" for k in keep
    )
    out_schema = (
        f"__id {src.schema['__id'].dataType.simpleString()}{keep_schema}, "
        "n_ws_tokens bigint, n_bpe_tokens bigint"
    )
    return src.mapInPandas(count, out_schema).withColumnRenamed("__id", id_col)


def bpe_count_sql(words_expr: str) -> str:
    """DuckDB expression: total BPE token count over ``words_expr`` (a
    VARCHAR[] of whitespace words) — the replace-chain replay of
    BPE_MERGES, generated from the same constant the engine loads."""
    s = "' ' || array_to_string(regexp_split_to_array(w, ''), ' ') || ' '"
    for a, b in BPE_MERGES:
        s = f"replace({s}, ' {a} {b} ', ' {a}{b} ')"
    per_word = f"len(list_filter(regexp_split_to_array(trim({s}), ' '), x -> x <> ''))"
    return (
        f"coalesce(list_sum(list_transform({words_expr}, w -> {per_word})), 0)"
    )
