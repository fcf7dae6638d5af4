"""The flagship's Arrow OCR stage: the vectorized batch decoder against
the per-payload extract_from_bytes oracle, the Arrow text classifier against
semantics.classify_text_span, span kinds and dead-letter reasons through
the mapInArrow stage, and the per-task zip re-read guard."""

import importlib
import os
import sys
import zipfile
import zipimport

import numpy as np
import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st

from xhs_ocr_spark import _zipguard
from xhs_ocr_spark.extraction import oracle
from xhs_ocr_spark.extraction import raw_image as RI
from xhs_ocr_spark.extraction import semantics as S
from xhs_ocr_spark.extraction.pipeline import classify_text_arrow, extract_spans_with_deadletter

MASKS = RI.masks_by_key(RI.mask_library())


def _altered_library() -> dict:
    """The full library with one fractional-alpha mask under every
    (xhs, aibox, tag) key and one binary but non-row-uniform mask under
    every (tiktok, futurecloud, tag) key — both force the fallback."""
    out = dict(MASKS)
    for tag in S.TAGS:
        key = ("xhs", "aibox", tag)
        m = RI.decode_image(out[key][1]).copy()
        m[:, :, 3] = np.where(m[:, :, 3] == 255, 200, 0)  # fractional alpha
        out[key] = [out[key][0], m.tobytes(), *out[key][2:]]
        key = ("tiktok", "futurecloud", tag)
        m = RI.decode_image(out[key][0]).copy()
        m[RI.HEADER_BANDS * RI.BH :, RI.W // 2 :, 3] = 0  # right half of every band
        out[key] = [m.tobytes(), *out[key][1:]]
    return out


ALTERED = _altered_library()


def _per_payload(p, masks):
    try:
        txt = RI.extract_from_bytes(p, masks)
    except Exception:
        return None, "corrupt_payload"
    return txt, (None if txt is not None else "all_masks_failed")


_payload = st.builds(
    lambda i, noise: RI.render_media_image(f"mem://doc-{i}/{i % 7}", noise_rows=noise),
    st.integers(0, 100_000),
    st.sampled_from([0, 0, 3, 40]),
)


@st.composite
def _mangled(draw):
    p = draw(_payload)
    n_blocks = p[5]
    op = draw(st.sampled_from(
        ["none", "flip", "header", "n_blocks", "marker", "band_meta", "truncate", "cut_bands",
         "empty", "null", "geometry"]
    ))
    b = bytearray(p)
    if op == "flip":
        b[draw(st.integers(0, len(b) - 1))] ^= 1 << draw(st.integers(0, 7))
    elif op == "header":  # magic, version, tag, app, n_blocks, hw bytes
        b[draw(st.integers(0, 7))] = draw(st.integers(0, 255))
    elif op == "n_blocks":  # trips the size guard or reads past the content
        b[5] = draw(st.integers(0, n_blocks + 3))
    elif op in ("marker", "band_meta"):  # MARKER, or geometry/score/text length
        band = RI.HEADER_BANDS + draw(st.integers(0, max(n_blocks - 1, 0)))
        at = 0 if op == "marker" else draw(st.integers(1, 9))
        b[band * RI.BH * RI.W * 4 + at] = draw(st.integers(0, 255))
    elif op == "geometry":  # block centers that tie, or chain within the 20 px row threshold
        for band in range(RI.HEADER_BANDS, RI.HEADER_BANDS + n_blocks):
            at = band * RI.BH * RI.W * 4
            b[at + 1 : at + 7] = bytes([
                draw(st.sampled_from([0, 8, 16])), 0,  # x
                draw(st.sampled_from([0, 5, 10, 19, 20, 21, 38, 40])), 0,  # y
                draw(st.sampled_from([0, 16, 40])),  # w
                draw(st.sampled_from([0, 2, 22])),  # h
            ])
    elif op == "truncate":
        return p[: draw(st.integers(0, len(p)))]
    elif op == "cut_bands":  # whole bands missing: too few for n_blocks
        return p[: RI.BH * RI.W * 4 * draw(st.integers(0, RI.HEADER_BANDS + n_blocks))]
    elif op == "empty":
        return b""
    elif op == "null":
        return None
    return bytes(b)


def _batch(payloads, masks):
    """extract_batch over the payloads as one Arrow binary column, as
    (text, reason) pairs."""
    text, reason = RI.extract_batch(pa.array(payloads, pa.binary()), masks)
    return list(zip(text.to_pylist(), reason.to_pylist()))


def _one_per_key() -> list[bytes]:
    """One rendered payload for each of the 24 (tag, app, hw) keys."""
    by_key = {}
    i = 0
    while len(by_key) < len(S.TAGS) * 2 * len(RI.HW_VALUES):
        ref = f"mem://key-{i}/0"
        by_key.setdefault((S.media_tag(ref), S.media_app(ref), RI.media_hw(ref)), ref)
        i += 1
    return [RI.render_media_image(ref) for _, ref in sorted(by_key.items())]


_KEYED = _one_per_key()
_BAND0 = RI.HEADER_BANDS * RI.BH * RI.W * 4  # first byte of region 0's band


def _rows_at_gap(p: bytes) -> bytes:
    """p with block r moved to y = ROW_GAP * r and x alternating 16 / 8:
    every block starts its own row, while a gap one pixel wider would
    chain them all into one row sorted by x."""
    b = bytearray(p)
    for r in range(p[5]):
        at = _BAND0 + r * RI.BH * RI.W * 4
        y = S.ROW_GAP * r
        b[at + 1 : at + 7] = bytes([16 - 8 * (r % 2), 0, y & 0xFF, y >> 8, 0, 0])
    return bytes(b)


def _with_s(p: bytes) -> bytes:
    """p with an "s" for the leading digit of every block's text (the
    stand-in never writes one; tiktok's chain strips it, xhs's keeps it)."""
    b = bytearray(p)
    for r in range(p[5]):
        at = _BAND0 + r * RI.BH * RI.W * 4 + RI._META_LEN
        if chr(b[at]).isdigit():
            b[at] = ord("s")
    return bytes(b)


# all 24 keys, each also with its blocks exactly ROW_GAP apart and with
# an "s" in its texts, interleaved with a bad magic byte, invalid UTF-8 in a band's text, a
# truncated payload, a cut to the header band, empty and NULL
_MIXED = [
    p for i, good in enumerate(_KEYED) for p in (
        good,
        _rows_at_gap(good),
        _with_s(good),
        [bytes([0]) + good[1:], good[: _BAND0 + RI._META_LEN] + b"\xff" + good[_BAND0 + 11 :],
         good[:-5], good[:_BAND0], b"", None][i % 6],
    )
]


@settings(max_examples=150, deadline=None)
@given(st.lists(_mangled(), min_size=1, max_size=25), st.booleans())
@example(_MIXED, False)
@example(_MIXED, True)
def test_batch_decoder_equals_per_payload_oracle(payloads, altered):
    masks = ALTERED if altered else MASKS
    assert _batch(payloads, masks) == [_per_payload(p, masks) for p in payloads]


@settings(max_examples=100, deadline=None)
@given(st.lists(_mangled(), min_size=1, max_size=25))
@example(_MIXED)
def test_read_headers_equals_read_header(payloads):
    """read_headers keeps exactly the payloads read_header decodes, with
    their first seven bytes."""
    idx, h = RI.read_headers(pa.array(payloads, pa.binary()))
    want = []
    for i, p in enumerate(payloads):
        try:
            RI.read_header(RI.decode_image(p))
        except Exception:
            continue
        want.append(i)
    assert idx.tolist() == want
    assert h.tolist() == [list(payloads[i][:7]) for i in want]


def test_batch_decoder_covers_both_routes():
    """The altered keys really take the fallback, the rest stay banded,
    and both agree with the oracle over a fixed rendered sample."""
    for tag in S.TAGS:
        assert RI._band_plan(ALTERED, ("xhs", "aibox", tag)) is None
        assert RI._band_plan(ALTERED, ("tiktok", "futurecloud", tag)) is None
        assert RI._band_plan(ALTERED, ("xhs", "futurecloud", tag)) is not None
        assert RI._band_plan(MASKS, ("xhs", "aibox", tag)) is not None
    payloads = [RI.render_media_image(f"mem://cov-{i}/{i % 5}") for i in range(400)]
    payloads += [p[:-1] for p in payloads[:20]] + [b"", None]
    for masks in (MASKS, ALTERED):
        got = _batch(payloads, masks)
        assert got == [_per_payload(p, masks) for p in payloads]
        reasons = {r for _, r in got}
        assert {None, "all_masks_failed", "corrupt_payload"} <= reasons


_SEPS = [" ", "  ", "\t", "\n", "\r\n", "\x0b", "\f", "\x1c", "\x1d", "\x1e", "\x1f",
         "\xa0", "\u3000"]
_WORDS = sorted(S.BOILERPLATE_TOKENS) + [
    "Nav", "MENU", "nav,", "(footer)", "cookie.", "spark", "join", "数据", "x",
]


@st.composite
def _span_text(draw):
    """Words (boilerplate ones too, in other case or with punctuation)
    between separators, leading and trailing ones included."""
    words = draw(st.lists(st.sampled_from(_WORDS), max_size=8))
    seps = draw(st.lists(st.sampled_from(_SEPS), min_size=len(words) + 1, max_size=len(words) + 1))
    return seps[0] + "".join(w + sep for w, sep in zip(words, seps[1:]))


_text_or_null = st.one_of(
    _span_text(),
    st.lists(st.sampled_from(["a", "nav", "é"] + _SEPS), max_size=12).map("".join),
    st.none(),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_text_or_null, max_size=30), st.integers(0, 3))
@example(
    ["", " ", "\x0b", "\t\x0b\r\n", None, "nav spark", "nav menu spark query", "nav menu spark",
     "\x0bnav\x0bspark\x0b", "nav\xa0menu spark", "Nav MENU spark", "x\x1cy \u3000 nav"],
    0,
)
def test_arrow_classifier_equals_semantics(texts, offset):
    """classify_text_arrow == classify_text_span per row (NULL reads as
    ""), also over a sliced array whose buffers start at an offset."""
    arr = pa.array(["nav menu"] * offset + texts, pa.string()).slice(offset)
    assert classify_text_arrow(arr).to_pylist() == [S.classify_text_span(t or "") for t in texts]


def _span(kind, off, ref="", payload=None, text=""):
    return {"kind": kind, "text": text, "media_ref": ref, "offset": off, "media_bytes": payload}


_DOCS_DDL = (
    "doc_id string, spans array<struct<kind string, text string, "
    "media_ref string, offset int, media_bytes binary>>"
)
_REFS = [f"mem://dl/{i}" for i in range(60)]
_GOOD = next(r for r in _REFS if S.extract_media_span(r) is not None)
_FAILING = next(r for r in _REFS if S.extract_media_span(r) is None)


def test_mixed_kinds_through_arrow_stage(spark):
    """Text, media and unknown-kind rows through the mapInArrow stage: text
    rows classified as the semantics rule says, media decoded, rows of any
    other or NULL kind in neither output."""
    texts = ["plain\x0bwords  kept ", "nav menu footer spark", "nav spark", "nav\xa0menu spark",
             " \x0b ", "", None, "Nav MENU footer"]
    spans = [_span("text", i, text=t) for i, t in enumerate(texts)]
    payload = RI.render_media_image(_GOOD)
    spans += [
        _span("media", 8, _GOOD, payload),
        _span("video", 9, _GOOD, payload, text="plain words"),
        _span(None, 10, text="plain words"),
        _span("media", 11, _FAILING, RI.render_media_image(_FAILING)),
    ]
    ok, dead = extract_spans_with_deadletter(spark.createDataFrame([("d1", spans)], _DOCS_DDL))
    got = sorted(
        ((r["kind"], r["text"], r["media_ref"], r["order"]) for r in ok.collect()),
        key=lambda t: t[3],
    )
    assert got == oracle.extract_document("d1", spans)
    assert [t[3] for t in got] == [0, 2, 3, 7, 8]
    assert [(r["order"], r["reason"]) for r in dead.collect()] == [(11, "all_masks_failed")]


def test_dead_letter_reasons_through_arrow_stage(spark):
    """corrupt_payload and all_masks_failed keep their reasons through
    extract_spans_with_deadletter's mapInArrow stage."""
    text = "plain words that survive the classifier"
    docs = spark.createDataFrame(
        [
            (
                "d1",
                [
                    _span("text", 0, text=text),
                    _span("media", 1, _GOOD, RI.render_media_image(_GOOD)),
                    _span("media", 2, _FAILING, RI.render_media_image(_FAILING)),
                    _span("media", 3, "bad:truncated", RI.render_media_image(_GOOD)[:-3]),
                    _span("media", 4, _FAILING),  # no payload: the ref path
                ],
            )
        ],
        _DOCS_DDL,
    )
    ok, dead = extract_spans_with_deadletter(docs)
    assert sorted((r["order"], r["text"]) for r in ok.collect()) == [
        (0, S.classify_text_span(text)),
        (1, S.extract_media_span(_GOOD)),
    ]
    assert sorted((r["order"], r["media_ref"], r["reason"]) for r in dead.collect()) == [
        (2, _FAILING, "all_masks_failed"),
        (3, "bad:truncated", "corrupt_payload"),
        (4, _FAILING, "all_masks_failed"),
    ]


def _write_zip(path, modules: dict) -> None:
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_zip_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    assert _zipguard.installed() == (sys.version_info < (3, 13))
    archive = tmp_path / "guarded.zip"
    _write_zip(archive, {"_zg_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("_zg_probe_a").X == 1
        importlib.invalidate_caches()  # the importer records its archive key

        reads = []
        real = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return real(path)

        monkeypatch.setattr(zipimport, "_read_directory", counted)
        importlib.invalidate_caches()
        assert reads == []  # no archive on sys.path changed

        _write_zip(archive, {"_zg_probe_a": "X = 1\n", "_zg_probe_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("_zg_probe_b").Y == 2
        assert str(archive) in reads
    finally:
        for name in ("_zg_probe_a", "_zg_probe_b"):
            sys.modules.pop(name, None)


def test_zip_guard_installed_in_every_worker(spark):
    """Every Python worker that runs a package function has the guard."""

    def probe(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "guarded": [_zipguard.installed()]}
        )

    rows = (
        spark.range(0, 64, numPartitions=8)
        .mapInArrow(probe, "pid long, guarded boolean")
        .collect()
    )
    assert len(rows) == 8
    assert all(r["guarded"] == (sys.version_info < (3, 13)) for r in rows)
