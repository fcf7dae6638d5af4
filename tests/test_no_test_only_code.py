"""No library code that only tests call.

Every public top-level function and class under ``xhs_ocr_spark/`` must
be referenced in code (not in a string or docstring, not on an import
line) somewhere outside its own definition: in the package, ``scripts/``,
``perfbench/``, ``bench.py``, ``bench_extra.py`` or ``__spark_entry__.py``.
``tests/`` does not count. The exceptions are listed in ALLOWED, each
with its reason; an entry that gains a caller or stops existing fails
too, so the list cannot go stale.

Pure AST work: no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "xhs_ocr_spark"

ALLOWED = {
    # reference implementations that the parity tests compare against
    "reading_order_anchor": "reference spec for the reading-order parity tests",
    "convert_chinese_number": "reference spec for the Chinese-numeral parse tests",
    "bpe_text_token_count": "reference spec for the BPE token-count tests",
    "render_text": "reference spec for the tbpu render parity tests",
    "extract_corpus": "the span oracle the e2e equality tests compare against",
    "cosine": "reference for _rank_topk's precomputed-norm division",
    # library surface with no in-repo driver yet
    "apply_layout": "tbpu layout as a Spark stage (COVERAGE tbpu rows)",
    "write_docs_table": "S2 source: writes the partitioned docs table",
    "read_recent": "S2 source: the date-window read of the docs table",
    "extraction_stream": "streaming surface: the one incremental extraction writer",
    "streaming_corpus_funnel": "streaming surface: the corpus funnel as a stream",
    "ngram_df_drop_stats": "the audit q27's max_df drop warning tells a user to run",
    "generate_corpus": "synthetic docs table the e2e tests and the verify recipe run on",
}


def _scope_files() -> list[Path]:
    files = sorted(PACKAGE.rglob("*.py"))
    files += sorted((ROOT / "scripts").glob("*.py"))
    files += sorted((ROOT / "perfbench").rglob("*.py"))
    files += [ROOT / n for n in ("bench.py", "bench_extra.py", "__spark_entry__.py")]
    return [f for f in files if f.exists()]


def _definitions() -> dict[str, list[tuple[Path, int, int]]]:
    """name -> [(module, first line, last line)] of public top-level
    functions and classes in the package."""
    defs: dict[str, list[tuple[Path, int, int]]] = {}
    for f in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if not node.name.startswith("_"):
                    first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                    defs.setdefault(node.name, []).append((f, first, node.end_lineno))
    return defs


def _references() -> dict[str, list[tuple[Path, int]]]:
    """name -> [(file, line)] of every code reference: a loaded Name or
    an attribute access. Import statements and string constants are
    not Name/Attribute nodes, so they never count."""
    refs: dict[str, list[tuple[Path, int]]] = {}
    for f in _scope_files():
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                refs.setdefault(node.id, []).append((f, node.lineno))
            elif isinstance(node, ast.Attribute):
                refs.setdefault(node.attr, []).append((f, node.lineno))
    return refs


def _uncalled() -> set[str]:
    refs = _references()
    out = set()
    for name, sites in _definitions().items():
        outside = [
            (f, line)
            for f, line in refs.get(name, [])
            if not any(f == df and lo <= line <= hi for df, lo, hi in sites)
        ]
        if not outside:
            out.add(name)
    return out


def test_every_public_name_has_a_non_test_caller():
    bad = sorted(_uncalled() - set(ALLOWED))
    assert not bad, (
        "public names that only tests reference (delete them, give them a "
        f"caller, or allowlist them with a reason): {bad}"
    )


def test_allowlist_is_current():
    defined = set(_definitions())
    gone = sorted(set(ALLOWED) - defined)
    assert not gone, f"allowlisted names that no longer exist: {gone}"
    called = sorted(set(ALLOWED) - _uncalled())
    assert not called, f"allowlisted names that now have a caller: {called}"
