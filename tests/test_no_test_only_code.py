"""No library code that only tests call.

Every public top-level function and class under ``xhs_ocr_spark/`` must
be referenced in code (not in a string or docstring, not on an import
line) somewhere outside its own definition: in the package, ``scripts/``,
``perfbench/``, ``bench.py``, ``bench_extra.py`` or ``__spark_entry__.py``.
``tests/`` does not count. The exceptions are listed in ALLOWED, each
with its reason; an entry that gains a caller or stops existing fails
too, so the list cannot go stale.

Every public module-level assignment (a constant, a schema) must likewise
be read outside ``tests/`` and outside its own statement.

Every public method of those public classes must likewise be read as an
attribute of its name (``x.name``) outside ``tests/`` and outside its own
body; the exceptions are METHODS_ALLOWED, kept current the same way.
The match is by name only, so a method whose name is also a common
attribute (``read``, ``append``, ``exists``, ``run``) always counts as
called.

Every defaulted parameter of those functions must likewise be set (by
keyword or by position) by a call outside ``tests/`` to a value other
than its default: an option that only ever holds its default is a module
constant. Values compare as literals, module constants resolved by name
(``salt=EPOCH_SALT`` and ``salt="epoch-0"`` are the same value); a value
that is not a literal counts as another value. The exceptions are listed
in OPTIONS_ALLOWED, which is kept current the same way.

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
    "generate_corpus": "synthetic docs table the e2e tests and the verify recipe run on",
}

# "Class.method" -> why a public method nobody outside tests/ calls stays
METHODS_ALLOWED = {
    "ParquetMergeTable.expire_snapshots": "K7 retention cleanup (COVERAGE K7 row)",
}

# (function, parameter) -> why a default nobody outside tests/ overrides
# stays a parameter
_COLUMN = "column-name default of a public operator"
_SURFACE = "library surface with no in-repo driver yet (ROADMAP item 7)"
_BENCH = "perfbench/ passes it (its default); the benchmark's call shape stays"
OPTIONS_ALLOWED = {
    ("cosine_topk", "id_col"): _COLUMN,
    ("cosine_topk", "vec_col"): _COLUMN,
    ("fit_centroids_spark", "id_col"): _COLUMN,
    ("fit_centroids_spark", "vec_col"): _COLUMN,
    ("ivf_topk_kmeans", "id_col"): _COLUMN,
    ("ivf_topk_kmeans", "vec_col"): _COLUMN,
    ("lsh_near_neighbors", "id_col"): _COLUMN,
    ("lsh_near_neighbors", "vec_col"): _COLUMN,
    ("decontam_flags_join", "eval_text_col"): _COLUMN,
    ("apply_layout", "blocks_col"): _COLUMN,
    ("reading_order_anchor", "threshold"): "reference spec for the reading-order parity tests",
    ("neardup_components", "checkpoint_dir"): "deployment path: reliable checkpoints on HDFS/S3",
    ("package_zip", "dest_dir"): "deployment path, set by the Python heredoc in build_pyfiles_zip.sh",
    ("write_docs_table", "n_buckets"): _SURFACE,
    ("extraction_stream", "dedup_watermark"): _SURFACE,
    ("generate_corpus", "partitions"): _SURFACE,
    ("decontam_flags_join", "threshold_x1000"): _BENCH,
    ("paragraph_dedup_rebuild", "size"): _BENCH,
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


def _unread(definitions: dict[str, list[tuple[Path, int, int]]]) -> set[str]:
    """The names in ``definitions`` that no code reference outside their
    own definitions reads."""
    refs = _references()
    out = set()
    for name, sites in definitions.items():
        outside = [
            (f, line)
            for f, line in refs.get(name, [])
            if not any(f == df and lo <= line <= hi for df, lo, hi in sites)
        ]
        if not outside:
            out.add(name)
    return out


def _uncalled() -> set[str]:
    return _unread(_definitions())


def _public_constants() -> dict[str, list[tuple[Path, int, int]]]:
    """name -> [(module, first line, last line)] of the package's public
    module-level assignments."""
    out: dict[str, list[tuple[Path, int, int]]] = {}
    for f in sorted(PACKAGE.rglob("*.py")):
        for name, node in _assignments(ast.parse(f.read_text())):
            if not name.startswith("_"):
                out.setdefault(name, []).append((f, node.lineno, node.end_lineno))
    return out


def _methods() -> dict[str, tuple[Path, int, int]]:
    """"Class.method" -> (module, first line, last line) of every public
    method of a public top-level class in the package."""
    out: dict[str, tuple[Path, int, int]] = {}
    for f in sorted(PACKAGE.rglob("*.py")):
        for cls in ast.parse(f.read_text()).body:
            if not isinstance(cls, ast.ClassDef) or cls.name.startswith("_"):
                continue
            for node in cls.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not node.name.startswith("_"):
                    first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                    out[f"{cls.name}.{node.name}"] = (f, first, node.end_lineno)
    return out


def _uncalled_methods() -> set[str]:
    reads: dict[str, list[tuple[Path, int]]] = {}
    for f in _scope_files():
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                reads.setdefault(node.attr, []).append((f, node.lineno))
    return {
        qual
        for qual, (df, lo, hi) in _methods().items()
        if all(f == df and lo <= line <= hi for f, line in reads.get(qual.split(".")[1], []))
    }


def test_every_public_name_has_a_non_test_caller():
    bad = sorted(_uncalled() - set(ALLOWED)) + sorted(_uncalled_methods() - set(METHODS_ALLOWED))
    assert not bad, (
        "public names that only tests reference (delete them, give them a "
        f"caller, or allowlist them with a reason): {bad}"
    )


def test_every_public_constant_is_read():
    """A public module-level assignment that nothing outside tests/ reads
    (outside its own statement) is dead."""
    bad = sorted(_unread(_public_constants()))
    assert not bad, f"public module-level names nothing outside tests/ reads: {bad}"


def test_allowlist_is_current():
    gone = sorted(set(ALLOWED) - set(_definitions())) + sorted(set(METHODS_ALLOWED) - set(_methods()))
    assert not gone, f"allowlisted names that no longer exist: {gone}"
    called = sorted(set(ALLOWED) - _uncalled()) + sorted(set(METHODS_ALLOWED) - _uncalled_methods())
    assert not called, f"allowlisted names that now have a caller: {called}"


def _options() -> dict[str, list[dict[str, tuple[int | None, ast.expr]]]]:
    """name -> per definition, {defaulted parameter: (its position, or
    None for a keyword-only one; its default)} of public top-level
    functions in the package."""
    out: dict[str, list[dict[str, tuple[int | None, ast.expr]]]] = {}
    for f in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not node.name.startswith("_"):
                a = node.args
                pos = [p.arg for p in a.posonlyargs + a.args]
                first = len(pos) - len(a.defaults)
                opts = {p: (i, a.defaults[i - first]) for i, p in enumerate(pos) if i >= first}
                opts.update({p.arg: (None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
                out.setdefault(node.name, []).append(opts)
    return out


_UNKNOWN = "<not a literal>"


def _assignments(tree: ast.Module) -> list[tuple[str, ast.Assign | ast.AnnAssign]]:
    """(name, statement) of each module-level ``name = value``."""
    out = []
    for node in tree.body:
        if isinstance(node, ast.AnnAssign) and node.value is not None:
            targets = [node.target]
        else:
            targets = node.targets if isinstance(node, ast.Assign) else []
        out += [(t.id, node) for t in targets if isinstance(t, ast.Name)]
    return out


def _constants() -> dict[str, str]:
    """NAME -> repr of the literal value of the package's module-level
    ``NAME = <literal>`` assignments, for names that hold one value in
    every module that assigns them."""
    values: dict[str, set[str]] = {}
    for f in sorted(PACKAGE.rglob("*.py")):
        for name, node in _assignments(ast.parse(f.read_text())):
            values.setdefault(name, set()).add(_literal(node.value, {}))
    return {k: v.pop() for k, v in values.items() if len(v) == 1 and _UNKNOWN not in v}


def _literal(node: ast.expr, constants: dict[str, str]) -> str:
    """repr of the value ``node`` spells, module constants resolved by
    name; _UNKNOWN when it is not a literal."""
    if isinstance(node, (ast.Name, ast.Attribute)):
        return constants.get(node.id if isinstance(node, ast.Name) else node.attr, _UNKNOWN)
    try:
        return repr(ast.literal_eval(node))
    except ValueError:
        return _UNKNOWN


def _set_arguments(constants: dict[str, str]) -> dict[str, dict[str | int, set[str]]]:
    """name -> {keyword or position: the literal values (reprs) that calls
    outside tests/ pass there} for a function of that name (import
    aliases resolved)."""
    out: dict[str, dict[str | int, set[str]]] = {}
    for f in _scope_files():
        tree = ast.parse(f.read_text())
        alias = {
            a.asname: a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.asname
        }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
            got = out.setdefault(alias.get(name, name), {})
            for i, arg in enumerate(node.args):
                got.setdefault(i, set()).add(_literal(arg, constants))
            for k in node.keywords:
                if k.arg:
                    got.setdefault(k.arg, set()).add(_literal(k.value, constants))
    return out


def _unset_options() -> set[tuple[str, str]]:
    """Options that no call outside tests/ sets to a value other than the
    default: every value passed is the default's literal value. A value
    that is not a literal counts as another value."""
    constants = _constants()
    passed = _set_arguments(constants)
    out = set()
    for name, sigs in _options().items():
        for opts in sigs:
            for p, (i, default) in opts.items():
                values = passed.get(name, {}).get(p, set()) | passed.get(name, {}).get(i, set())
                if values <= {_literal(default, constants)} - {_UNKNOWN}:
                    out.add((name, p))
    return out


def test_every_option_is_set_outside_tests():
    unset = _unset_options()
    bad = sorted(unset - set(OPTIONS_ALLOWED))
    assert not bad, (
        "defaulted parameters that no call outside tests/ sets (make each a "
        f"module constant, or allowlist it with a reason): {bad}"
    )
    options = {(name, p) for name, sigs in _options().items() for opts in sigs for p in opts}
    gone = sorted(set(OPTIONS_ALLOWED) - options)
    assert not gone, f"allowlisted options that no longer exist: {gone}"
    now_set = sorted(set(OPTIONS_ALLOWED) - unset)
    assert not now_set, f"allowlisted options that a call now sets: {now_set}"
