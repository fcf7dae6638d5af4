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
``semantics.extract_media_span(ref)`` byte-for-byte. The hash-derived
stand-in and the pixel path are two faces of one semantics definition:
they differ only in how a mask selects the visible blocks (region
indexes vs composite + pixel decode), and both hand those blocks to the
one mask-try body, ``semantics.masked_span``. ``extract_batch`` is the
same flow over a whole Arrow column, checked against
``extract_from_bytes`` payload by payload.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .semantics import (
    CJK_PATTERN,
    N_MASKS,
    REPLACE_STEPS,
    ROW_GAP,
    TAG_FIELDS,
    TAGS,
    TRAFFIC_PREFIX,
    arity,
    content_type,
    masked_span,
    media_app,
    media_tag,
    run_standin_ocr,
    strip_tag_digits,
    strips_cjk,
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
APPS = ("xhs", "tiktok")  # header byte 4 == 1 reads tiktok, anything else xhs


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
    header[4] = APPS.index(app)
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


def read_header(img: np.ndarray) -> tuple[str, str, str, int]:
    """(tag, app, hw, n_blocks) from the header band; raises on bad magic,
    version or tag. hw is the hardware that captured the screenshot
    (header byte 6, taken modulo len(HW_VALUES)). read_headers is the
    same read over an Arrow column."""
    h = img[_band_rows(0)].reshape(-1)[:7].tolist()  # python ints (r7)
    if (h[0], h[1]) != MAGIC or h[2] != VERSION:
        raise ValueError("not a raw media image")
    return TAGS[h[3]], APPS[h[4] == 1], HW_VALUES[h[6] % len(HW_VALUES)], h[5]


def read_headers(payloads: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """read_header over an Arrow binary column, with no per-row Python:
    ``(idx, h)``, the indexes of the payloads whose header decodes
    (non-NULL, whole pixel rows, at least the header band, MAGIC,
    VERSION and a known tag index) and their header bytes 0-6, one int64
    row per payload. The payloads read_header raises on are left out."""
    starts, lengths, data, valid = _binary_view(payloads)
    c = np.flatnonzero(
        valid & (lengths % _ROW_BYTES == 0) & (lengths >= HEADER_BANDS * _BAND_BYTES)
    )
    h = data[starts[c, None] + np.arange(7)].astype(np.int64)
    ok = (h[:, 0] == MAGIC[0]) & (h[:, 1] == MAGIC[1]) & (h[:, 2] == VERSION) & (h[:, 3] < len(TAGS))
    return c[ok], h[ok]


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
    need = arity(tag)
    lo = mask_order
    rows = (HEADER_BANDS + lo + need) * BH
    mask = np.zeros((rows, W, 4), dtype=np.uint8)
    mask[_band_rows(0), :, 3] = 255  # header survives (engine reads it first)
    for r in range(lo, lo + need):
        mask[_band_rows(HEADER_BANDS + r), :, 3] = 255
    return mask.tobytes()


def mask_library() -> list[dict]:
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
        for hw in HW_VALUES:
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
# the broadcast value (one object per worker).
_MASK_CACHE: dict = {}


def _mask_cache(masks) -> dict:
    cache = _MASK_CACHE.get(id(masks))
    if cache is None:
        cache = {}
        _MASK_CACHE.clear()  # one broadcast value per worker lifetime
        _MASK_CACHE[id(masks)] = cache
    return cache


def _decoded_masks(masks, key) -> list[np.ndarray]:
    """The alpha plane ``alpha / 255`` (float64, one row per pixel row)
    of each mask of ``key`` in mask order, decoded once per worker."""
    cache = _mask_cache(masks)
    if key not in cache:
        cache[key] = [decode_image(m)[:, :, 3] / 255.0 for m in masks.get(key, [])]
    return cache[key]


def extract_from_bytes(
    img_bytes: bytes,
    masks: dict[tuple[str, str, str], list[bytes]],
) -> str | None:
    """The reference's per-image flow over REAL bytes (core/run.py:375-501):
    ordered mask fallback, size guard, alpha composite, OCR-decode of the
    surviving regions, then semantics.masked_span (reading order,
    normalization, pairing + arity gates). The (app, hw, tag) mask lookup
    key comes entirely from the image header — like the reference derives
    it from the screenshot's directory placement (core/run.py:364-373).

    Must equal semantics.extract_media_span(media_ref) for images rendered
    by render_media_image(media_ref) — enforced by the differential test."""
    img = decode_image(img_bytes)
    tag, app, hw, n_blocks = read_header(img)
    content_rows = (HEADER_BANDS + n_blocks) * BH

    for alpha in _decoded_masks(masks, (app, hw, tag)):
        mask_rows = len(alpha)
        if mask_rows > content_rows:
            continue  # size guard (core/run.py:396-399): mask can't apply
        # THE reference pixel math (core/run.py:402-404): extract alpha,
        # normalize, multiply. Content rows beyond the mask extent are
        # zeroed (alpha 0), like regions outside the reference's mask.
        composited = np.zeros_like(img)
        composited[:mask_rows] = (img[:mask_rows] * alpha[:, :, np.newaxis]).astype(np.uint8)
        span = masked_span(decode_blocks(composited, n_blocks), tag, app)
        if span is not None:
            return span
    return None


def _band_plan(masks, key) -> list[tuple[int, tuple[int, ...]]] | None:
    """``(mask_rows, kept regions)`` per mask of ``key`` in mask order
    when EVERY mask's alpha plane is 0 or 1 and uniform over each band —
    then the composite is exactly band selection (a kept band is copied
    whole, every other band is zeroed, and a zeroed band can never show
    MARKER, which is non-zero). None otherwise."""
    plan = []
    for alpha in _decoded_masks(masks, key):
        mask_rows = len(alpha)
        if mask_rows % BH:
            return None
        per_band = alpha.reshape(mask_rows // BH, -1)
        if not (np.isin(per_band, (0.0, 1.0)).all() and (per_band == per_band[:, :1]).all()):
            return None
        kept = per_band[:, 0].tolist()
        plan.append(
            (mask_rows, tuple(r for r in range(len(kept) - HEADER_BANDS) if kept[HEADER_BANDS + r]))
        )
    return plan


def _arrow_tables(masks) -> dict:
    """Per worker, once per mask library: the Arrow decoder's lookup tables.

    Keys (app, hw, tag) are indexed ``ta * len(HW_VALUES) + hw_idx`` with
    ``ta = tag_idx * 2 + is_tiktok``:
    - ``vouched[key]``: the key's masks are pure band selection (_band_plan);
    - ``rows[key, j]`` / ``keep[key, j, r]``: mask j's height and its kept
      regions (a missing mask j never applies);
    - per ``ta``: the gate arity (semantics.arity) and ``leads``, the
      pieces semantics.masked_span puts before the p-th text (the span
      prefix and field name before the first), flat at ``ta * width + p``."""
    cache = _mask_cache(masks)
    if "arrow" not in cache:
        keys = [(app, hw, tag) for tag in TAGS for app in APPS for hw in HW_VALUES]
        plans = [_band_plan(masks, k) for k in keys]
        n_masks = max([1] + [len(p) for p in plans if p])
        n_regions = 1 + max([0] + [r for p in plans if p for _, rs in p for r in rs])
        rows = np.full((len(keys), n_masks), np.iinfo(np.int64).max)
        keep = np.zeros((len(keys), n_masks, n_regions), dtype=bool)
        for k, plan in enumerate(plans):
            for j, (mask_rows, regions) in enumerate(plan or ()):
                rows[k, j] = mask_rows
                keep[k, j, list(regions)] = True
        leads = []
        for tag in TAGS:
            for app in APPS:
                f = TAG_FIELDS[tag]
                head = f"{strip_tag_digits(tag)};{content_type(tag, app)};{f[0]}="
                if tag.startswith(TRAFFIC_PREFIX):  # 8 texts pair into f[0]
                    leads.append([head] + [":" if p % 2 else "|" for p in range(1, 8)])
                else:
                    leads.append([head] + [f"|{name}=" for name in f[1:]])
        width = max(map(len, leads))
        cache["arrow"] = {
            "vouched": np.array([p is not None for p in plans]),
            "rows": rows,
            "keep": keep,
            "arity": np.array([arity(tag) for tag in TAGS for _ in APPS]),
            "cjk": np.array([strips_cjk(tag, app) for tag in TAGS for app in APPS]),
            "width": width,
            "leads": pa.array([x for lead in leads for x in lead + [""] * (width - len(lead))]),
        }
    return cache["arrow"]


def _binary_view(arr: pa.Array):
    """(starts, lengths, data, valid) of a binary Arrow array as numpy
    views over its buffers."""
    _, offsets, data = arr.buffers()
    dtype = np.dtype(np.int64 if pa.types.is_large_binary(arr.type) else np.int32)
    o = np.frombuffer(offsets, dtype, len(arr) + 1, arr.offset * dtype.itemsize).astype(np.int64)
    data = np.zeros(0, np.uint8) if data is None else np.frombuffer(data, np.uint8)
    return o[:-1], np.diff(o), data, arr.is_valid().to_numpy(zero_copy_only=False)


def _gather(data: np.ndarray, starts: np.ndarray, lengths: np.ndarray) -> pa.Array:
    """The byte ranges [starts, starts + lengths) of ``data`` as one binary
    array."""
    ends = np.cumsum(lengths)
    pos = np.repeat(starts - (ends - lengths), lengths) + np.arange(lengths.sum())
    offsets = np.concatenate([[0], ends]).astype(np.int32)
    return pa.Array.from_buffers(
        pa.binary(), len(starts), [None, pa.py_buffer(offsets), pa.py_buffer(data[pos])]
    )


def _is_utf8(b: bytes) -> bool:
    try:
        b.decode("utf-8")
    except UnicodeDecodeError:
        return False
    return True


def _normalized(text: pa.Array, cjk: np.ndarray, tiktok: np.ndarray) -> pa.Array:
    """semantics.normalize_ocr_text per row: the CJK strip where ``cjk``,
    then the tiktok replace chain where ``tiktok``, else the xhs one."""
    for where, app in ((cjk, None), (~tiktok, "xhs"), (tiktok, "tiktok")):
        if where.any():
            mask = pa.array(where)
            sub = text.filter(mask)
            if app is None:
                sub = pc.replace_substring_regex(sub, CJK_PATTERN, "")
            else:
                for old, new in REPLACE_STEPS[app]:
                    sub = pc.replace_substring(sub, old, new)
            text = pc.replace_with_mask(text, mask, sub)
    return text


def extract_batch(payloads: pa.Array, masks) -> tuple[pa.Array, pa.Array]:
    """The OCR stage's batch decoder over an Arrow binary column: ``(text,
    reason)`` string arrays, per payload equal to extract_from_bytes —
    reason CORRUPT_PAYLOAD when it raises (bad magic, wrong length,
    mangled text bytes), ALL_MASKS_FAILED when every mask fails the gates,
    else NULL.

    The whole batch is decoded at once: header bytes, band markers and
    band text slices are numpy gathers over the column's buffers, the
    normalization chain runs as pc.replace_substring steps, the arity
    gate is a per-image count of non-empty visible texts, the chained
    reading order a stable lexsort plus a cumsum of ROW_GAP row breaks,
    and the span string one binary_join. Payloads it cannot vouch for
    (NULL, bad length, magic, version or tag, no blocks, too few bands, a
    mask that is not pure band selection, invalid UTF-8 in a band) take
    extract_from_bytes one by one."""
    n = len(payloads)
    if not n:
        return pa.nulls(0, pa.string()), pa.nulls(0, pa.string())
    tb = _arrow_tables(masks)
    starts, lengths, data, _ = _binary_view(payloads)
    c, h = read_headers(payloads)
    n_blocks = h[:, 5]
    ta = h[:, 3] * 2 + (h[:, 4] == 1)
    key = ta * len(HW_VALUES) + h[:, 6] % len(HW_VALUES)
    fast = np.zeros(n, dtype=bool)
    fast[c] = (
        (n_blocks > 0) & (lengths[c] >= (HEADER_BANDS + n_blocks) * _BAND_BYTES) & tb["vouched"][key]
    )

    # one element per band that carries MARKER, in (image, region) order;
    # regions no mask keeps are never decoded
    nb = np.where(fast[c], np.minimum(n_blocks, tb["keep"].shape[2]), 0)
    img = np.repeat(np.arange(len(c)), nb)
    region = np.arange(len(img)) - np.repeat(np.cumsum(nb) - nb, nb)
    band = starts[c][img] + (HEADER_BANDS + region) * _BAND_BYTES
    marked = data[band] == MARKER
    img, region, band = img[marked], region[marked], band[marked]
    raw = _gather(
        data, band + _META_LEN, np.minimum(data[band + 9], _BAND_BYTES - _META_LEN).astype(np.int64)
    )
    try:
        text = raw.cast(pa.string())
    except pa.ArrowInvalid:  # a mangled band: its image goes one by one
        bad = np.zeros(len(c), dtype=bool)
        bad[img[[not _is_utf8(b) for b in raw.to_pylist()]]] = True
        fast[c[bad]] = False
        kept = ~bad[img]
        img, region, band = img[kept], region[kept], band[kept]
        text = raw.filter(pa.array(kept)).cast(pa.string())

    text = _normalized(text, tb["cjk"][ta][img], (ta % 2 == 1)[img])
    nonempty = pc.not_equal(text, "").to_numpy(zero_copy_only=False)

    # arity gate: the first applicable mask whose kept regions hold exactly
    # arity non-empty texts wins
    shown = np.zeros((len(c), tb["keep"].shape[2]), dtype=bool)
    shown[img[nonempty], region[nonempty]] = True
    counts = (tb["keep"][key] & shown[:, None, :]).sum(axis=2)
    content_rows = (HEADER_BANDS + n_blocks) * BH
    passed = (tb["rows"][key] <= content_rows[:, None]) & (counts == tb["arity"][ta][:, None])
    won = passed.any(axis=1) & fast[c]
    mask_j = passed.argmax(axis=1)

    # the winning mask's visible bands in reading order (order_rows): a
    # stable sort by (y, x) center, a row break where y moves >= ROW_GAP,
    # then a stable sort by x within each row
    sel = won[img] & tb["keep"][key[img], mask_j[img], region]
    img, band, text, nonempty = img[sel], band[sel], text.filter(pa.array(sel)), nonempty[sel]
    x, x_hi, y, y_hi, w, hgt = (data[band + k].astype(np.int64) for k in range(1, 7))
    yc = (4 * (y | y_hi << 8) + 2 * hgt) / 4.0  # reading_order's box-corner sums, exact
    xc = (4 * (x | x_hi << 8) + 2 * w) / 4.0
    by_yx = np.lexsort((xc, yc, img))
    first = np.ones(len(by_yx), dtype=bool)
    first[1:] = (img[by_yx][1:] != img[by_yx][:-1]) | (np.abs(np.diff(yc[by_yx])) >= ROW_GAP)
    order = by_yx[np.lexsort((xc[by_yx], np.cumsum(first)))]
    order = order[nonempty[order]]

    # span string: lead piece + text per position, one binary_join per image
    per_img = np.bincount(img[order], minlength=len(c))[won]
    pos = np.arange(len(order)) - np.repeat(np.cumsum(per_img) - per_img, per_img)
    pieces = pc.binary_join_element_wise(
        tb["leads"].take(ta[img[order]] * tb["width"] + pos), text.take(order), ""
    )
    spans = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(np.concatenate([[0], np.cumsum(per_img)]), pa.int32()), pieces),
        "",
    )

    out_text = np.full(n, None, dtype=object)
    out_reason = np.full(n, None, dtype=object)
    out_text[c[won]] = spans.to_pylist()
    out_reason[c[fast[c] & ~won]] = ALL_MASKS_FAILED
    for i in np.flatnonzero(~fast):
        out_text[i], out_reason[i] = _per_payload(payloads[i].as_py(), masks)
    return pa.array(out_text, pa.string()), pa.array(out_reason, pa.string())


def _per_payload(p, masks) -> tuple[str | None, str | None]:
    """extract_from_bytes as (text, reason) for one payload."""
    try:
        txt = extract_from_bytes(p, masks)
    except Exception:
        # F10 dead letter, NOT a task failure — one bad image at
        # 10^12 docs must never abort the wave (the reference logs and
        # continues, core/run.py:640-642)
        return None, CORRUPT_PAYLOAD
    return txt, (None if txt is not None else ALL_MASKS_FAILED)
