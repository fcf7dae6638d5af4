"""Shared pure-Python extraction semantics — single source of truth.

Everything here is deterministic, import-safe on executors, and used
verbatim by BOTH the pure-Python reference oracle (tests) and the Spark
pipeline's vectorized UDFs. That guarantees the BASELINE.json invariant
(per-document span-sequence equality on (kind, text, media_ref, order))
is checked against one implementation of the rules, not two drifting ones.
The two faces of the media path (the hash-derived stand-in here and
raw_image's pixel path) differ only in how a mask selects blocks; both
run the one mask-try body, ``masked_span``, with the one tag arity,
``arity``.

Reference behaviors re-implemented (citations into /root/reference):
- tag -> ordered field list registry            config.ini:1-12
- OCR block protocol {code, data:[{box,score,text}]}  core/ppocr_api.py:87-111
- masked-region OCR with ordered mask fallback  core/run.py:364-501
- reading-order sort (paddle position)          core/ocr.py:58-108
- normalization chain (xhs / tiktok variants)   core/run.py:468-476, 622-627
- traffic-analysis label:value pairing          core/run.py:478-485
- arity validation vs field registry            core/run.py:486-490
- chinese-number conversion ("1.5万" -> 15000)   core/run.py:679-690
- content-type derivation + tag digit strip     core/run.py:504-509
"""

from __future__ import annotations

import hashlib
import re
from operator import itemgetter

# ---------------------------------------------------------------------------
# Tag / field registry (reference: config.ini [tags], same arities)
# ---------------------------------------------------------------------------

TAG_FIELDS: dict[str, list[str]] = {
    "note_data_overview_top": [
        "exposure", "views", "cover_ctr", "avg_watch", "new_followers",
    ],
    "note_data_overview_bottom": ["likes", "comments", "collects", "shares"],
    "video_data_overview_top": [
        "exposure", "views", "cover_ctr", "avg_watch",
        "completion_rate", "exit_2s", "new_followers",
    ],
    "video_data_overview_bottom": [
        "likes", "comments", "collects", "shares", "bullets",
    ],
    "note_traffic_analysis": ["source_homepage"],
    "video_traffic_analysis": ["source_homepage"],
}
TAGS: list[str] = sorted(TAG_FIELDS)

# traffic tags must OCR exactly 8 texts which pair into 1 field
# (reference: core/run.py:478-485 + config.ini:8)
TRAFFIC_PREFIX = "note_traffic_analysis"
_TRAFFIC_TAGS = {"note_traffic_analysis", "video_traffic_analysis"}

N_MASKS = 3  # masks per tag, tried in sorted order (core/run.py:364-373)

# boilerplate vocabulary for the text-span classifier (DOM-heuristic analog
# of the reference's sidecar-JSON routing; the classifier itself is new —
# required by BASELINE.json north_star "heuristic boilerplate classifier")
BOILERPLATE_TOKENS = frozenset(
    {
        "nav", "menu", "footer", "header", "copyright", "subscribe",
        "cookie", "login", "signup", "advertisement", "banner", "sidebar",
        "tracking", "share", "related", "comments",
    }
)
BOILERPLATE_MAX_RATIO = 0.5  # strictly-greater drops the span


def _h64(s: str) -> int:
    """Stable 64-bit hash (md5 prefix) — process/seed independent."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:16], 16)


# ---------------------------------------------------------------------------
# Deterministic stand-in OCR engine
# ---------------------------------------------------------------------------
# The real engine (PaddleOCR-json subprocess, core/ppocr_api.py) is not
# available in the sandbox; the stand-in derives the "image content" of a
# media_ref deterministically, preserving the engine's interface:
# bytes/ref in -> {"code": 100, "data": [{"box", "score", "text"}]}.
# A real engine drops in by replacing `run_standin_ocr` inside the same
# per-executor lifecycle (see pipeline.py).

_VALUE_STYLES = 6


def arity(tag: str) -> int:
    """OCR texts a mask of this tag must show: the field count, except
    that note_traffic_analysis needs the 8 texts that pair into its one
    field. The reference gates on filename.startswith (core/run.py:478),
    so video_traffic_analysis keeps its plain config arity (1)."""
    return 8 if tag.startswith(TRAFFIC_PREFIX) else len(TAG_FIELDS[tag])


def media_tag(media_ref: str) -> str:
    """Tag (screenshot kind) encoded by the media object."""
    return TAGS[_h64("tag:" + media_ref) % len(TAGS)]


def media_app(media_ref: str) -> str:
    """App route (xhs vs tiktok) — drives the normalization variant."""
    return "tiktok" if _h64("app:" + media_ref) % 5 == 0 else "xhs"


def _block_text(media_ref: str, i: int, tag: str) -> str:
    """Deterministic raw OCR text for block i, with artifacts the
    normalization chain must clean (CJK labels, 秒/s suffixes, 'o' for '0',
    stray spaces, <b> wrappers) — mirrors the input classes the reference
    normalizes at core/run.py:468-476."""
    h = _h64(f"blk:{media_ref}:{i}")
    if h % 7 == 0 and tag not in _TRAFFIC_TAGS:
        # pure-CJK block: normalizes to '' -> can break a mask's arity
        return "纯中文标签"
    style = h % _VALUE_STYLES
    n = h % 9999
    if style == 0:
        val = f"{n}"
    elif style == 1:
        val = f"{h % 100}%"
    elif style == 2:
        val = f"{(h % 999) / 10:.1f}万"
    elif style == 3:
        val = f"{h % 60}秒"
    elif style == 4:
        val = f"{h % 9}:{h % 60:02d}"
    else:
        val = f"1{h % 90}o"  # 'o' artifact -> '0'
    if h % 5 == 0:
        val = "曝光数 " + val  # CJK label + space
    if h % 11 == 0:
        val = f"<b>{val}</b>"
    return val


def run_standin_ocr(media_ref: str) -> dict:
    """Full-image OCR result for a media object (no mask applied).

    Blocks are laid out two per visual row with small y jitter (<20 px) so
    the reading-order sort (core/ocr.py:58-108) is genuinely exercised, and
    emitted in a deterministic shuffled order so the sort has work to do.
    Block i's 'region' is i — masks select region ranges.
    """
    h = _h64("doc:" + media_ref)
    tag = media_tag(media_ref)
    n_blocks = arity(tag) + 2 + h % 3
    blocks = []
    for i in range(n_blocks):
        hb = _h64(f"box:{media_ref}:{i}")
        row, col = divmod(i, 2)
        y = 40 * row + hb % 12          # same-row jitter < 20px threshold
        x = 300 * col + hb % 40
        w, hgt = 80 + hb % 40, 22
        box = [[x, y], [x + w, y], [x + w, y + hgt], [x, y + hgt]]
        blocks.append(
            {
                "box": box,
                "score": round(0.90 + (hb % 100) / 1000.0, 3),
                "text": _block_text(media_ref, i, tag),
                "region": i,
            }
        )
    # deterministic shuffle (emission order != reading order)
    blocks.sort(key=lambda b: _h64(f"shuf:{media_ref}:{b['region']}"))
    return {"code": 100, "data": blocks}


def mask_regions(tag: str, mask_order: int, n_blocks: int) -> list[int] | None:
    """Mask #mask_order for a tag keeps a contiguous region window.

    Models the reference's RGBA region masks (core/run.py:402-404): the
    alpha-composite keeps only known metric regions; here region indices.
    Returns None when the mask geometry can't apply (reference analog:
    size-mismatch guard, core/run.py:396-399).
    """
    need = arity(tag)
    lo = mask_order
    if lo + need > n_blocks:
        return None
    return list(range(lo, lo + need))


# ---------------------------------------------------------------------------
# Reading-order sort (re-implementation of core/ocr.py:58-108 semantics)
# ---------------------------------------------------------------------------


def reading_order(blocks: list[dict]) -> list[dict]:
    """Top-to-bottom, left-to-right sort with chained row grouping.

    Same observable behavior as the reference's paddle-position sort:
    pre-sort by (y_center, x_center); then a single pass where a block
    joins the current visual row iff |y_center - previous block's
    y_center| < ROW_GAP (the comparison anchor is the PREVIOUS block, not the
    row start — order-dependent, so this cannot be a pure sort key);
    each completed row is re-sorted by x_center.
    """
    # centers computed ONCE per block; the explicit 4-term adds keep
    # sum()'s left-fold float order (raw_image's Arrow decoder derives
    # the same centers straight from the band bytes)
    keyed = []
    for b in blocks:
        (x0, y0), (x1, y1), (x2, y2), (x3, y3) = b["box"]
        keyed.append(((((y0 + y1) + y2) + y3) / 4.0, (((x0 + x1) + x2) + x3) / 4.0, b))
    return order_rows(keyed)


_YX = itemgetter(0, 1)
_X = itemgetter(1)
ROW_GAP = 20  # px: a block starts a new visual row at |dy| >= ROW_GAP


def order_rows(keyed: list[tuple]) -> list:
    """The chained row grouping behind reading_order over ``(y_center,
    x_center, item)`` triples: a stable sort by (y, x), then a triple joins
    the current row iff |y - previous triple's y| < ROW_GAP, and each row is
    re-sorted (stably) by x. Returns the items; sorts ``keyed`` in place.
    raw_image's Arrow decoder runs the same rule as a lexsort over a
    whole batch, with the same ROW_GAP."""
    keyed.sort(key=_YX)
    out: list = []
    row: list[tuple] = []
    prev_y: float | None = None
    for t in keyed:
        if not (prev_y is None or abs(t[0] - prev_y) < ROW_GAP):
            row.sort(key=_X)
            out += [r[2] for r in row]
            row = []
        row.append(t)
        prev_y = t[0]
    row.sort(key=_X)
    out += [r[2] for r in row]
    return out


def reading_order_anchor(blocks: list[dict], threshold: float = 5.0) -> list[dict]:
    """O2 variant (core/ocr.py:110-144 semantics): group by bbox TOP edge
    against the GROUP ANCHOR (the first block's top, not the previous
    block's — unlike the chained paddle variant above), threshold 5;
    groups re-sorted by left edge."""
    def top(b):
        return min(p[1] for p in b["box"])

    def left(b):
        return min(p[0] for p in b["box"])

    pre = sorted(blocks, key=top)
    out: list[dict] = []
    group: list[dict] = []
    anchor: float | None = None
    for b in pre:
        if anchor is None or abs(top(b) - anchor) > threshold:
            if group:
                group.sort(key=left)
                out.extend(group)
            group = [b]
            anchor = top(b)
        else:
            group.append(b)
    group.sort(key=left)
    out.extend(group)
    return out


# ---------------------------------------------------------------------------
# Normalization chain (core/run.py:468-476 xhs; :622-627 tiktok)
# ---------------------------------------------------------------------------

# The two replace chains, in order, and the CJK strip that runs before the
# xhs chain (except on note_traffic_analysis tags). normalize_ocr_text and
# raw_image's Arrow decoder (pc.replace_substring steps) both read these.
CJK_PATTERN = "[\u4e00-\u9fff]+"
REPLACE_STEPS = {
    "xhs": (("秒", ""), (" ", ""), ("o", "0"), ("<b>", ""), ("</b>", "")),
    "tiktok": (("秒", ""), ("s", ""), (" ", ""), ("o", "0"), ("<b>", ""), ("</b>", "")),
}
_CJK_RE = re.compile(CJK_PATTERN)


def strips_cjk(tag: str, app: str) -> bool:
    """Whether normalization strips CJK runs for this (tag, app)."""
    return app != "tiktok" and not tag.startswith(TRAFFIC_PREFIX)


def normalize_ocr_text(text: str, tag: str, app: str) -> str:
    """Exact replace order matters and is preserved per app branch:
    - xhs (core/run.py:468-474): CJK strip unless the tag starts with
      note_traffic_analysis, then 秒 / space / o->0 / <b> / </b>;
    - tiktok (core/run.py:622-627): NO CJK strip, chain is
      秒 / s / space / o->0 / <b> / </b> (s removed before o->0)."""
    if strips_cjk(tag, app):
        text = _CJK_RE.sub("", text)
    for old, new in REPLACE_STEPS["tiktok" if app == "tiktok" else "xhs"]:
        text = text.replace(old, new)
    return text


def convert_chinese_number(text: str) -> str:
    """'1.5万' -> '15000' (int), passthrough otherwise (core/run.py:679-690).

    Matches the reference exactly: strip every non-digit/dot character,
    then float(); unparseable remainders ('', '1.2.3') pass through
    unchanged. Returned as string (the reference stores TEXT)."""
    if "万" in text:
        number_part = re.sub(r"[^\d.]", "", text)
        try:
            return str(int(float(number_part) * 10000))
        except ValueError:
            return text
    return text


def strip_tag_digits(tag: str) -> str:
    return re.sub(r"\d+", "", tag)


def content_type(tag: str, app: str) -> str:
    if app == "tiktok":
        return "tiktok_video"
    return "video" if "video" in tag else "note"


# ---------------------------------------------------------------------------
# Per-media extraction: mask fallback loop (core/run.py:375-501)
# ---------------------------------------------------------------------------


def extract_media_span(media_ref: str) -> str | None:
    """Run the full reference flow for one media object.

    Returns the extracted span text, or None when every mask fails
    (reference dead-letters the image at core/run.py:499-501).

    Output format: "<tag>;<content_type>;f1=v1|f2=v2|..." — field order is
    the registry order, mirroring the reference's positional
    zip(index_mapping_data, ocr_texts) at db/__init__.py:87-123.
    """
    tag = media_tag(media_ref)
    app = media_app(media_ref)
    full = run_standin_ocr(media_ref)
    if full["code"] != 100:  # F5 status gate (core/run.py:446-450)
        return None
    n_blocks = len(full["data"])
    by_region = {b["region"]: b for b in full["data"]}

    for mask_order in range(N_MASKS):
        regions = mask_regions(tag, mask_order, n_blocks)
        if regions is None:
            continue  # geometry guard — try next mask
        span = masked_span([by_region[r] for r in regions if r in by_region], tag, app)
        if span is not None:
            return span
    return None


def masked_span(visible: list[dict], tag: str, app: str) -> str | None:
    """One mask try over the blocks the mask leaves visible: reading
    order, normalization, empty texts dropped, the traffic pairing gate
    (note_traffic_analysis ONLY, core/run.py:478-485: exactly 8 texts ->
    1 combined value) and the F7 arity gate (core/run.py:486-490). None =
    a gate failed, try the next mask.

    Chinese-number conversion is NOT applied here: the reference applies
    it only on the JSON sidecar user-info path (core/run.py:320-323),
    never to OCR values."""
    texts = [t for b in reading_order(visible) if (t := normalize_ocr_text(str(b["text"]), tag, app))]
    if tag.startswith(TRAFFIC_PREFIX):
        texts = ["|".join(f"{texts[i]}:{texts[i+1]}" for i in range(0, 8, 2))] if len(texts) == 8 else []
    fields = TAG_FIELDS[tag]
    if len(texts) != len(fields):
        return None
    body = "|".join(f"{f}={v}" for f, v in zip(fields, texts))
    return f"{strip_tag_digits(tag)};{content_type(tag, app)};{body}"


# ---------------------------------------------------------------------------
# Text-span boilerplate classifier (vectorizable: token-ratio rule only)
# ---------------------------------------------------------------------------


# ASCII whitespace spelled out: Python's re.ASCII \s and Java's \s are
# exactly this class, RE2's \s (the Arrow kernels) lacks \x0b; str.split()
# would also split on \x1c-\x1f and Unicode spaces and silently diverge
WS_CLASS = r"[\t\n\x0b\f\r ]"
_WS_RE = re.compile(WS_CLASS + "+")


def classify_text_span(text: str) -> str | None:
    """Return cleaned main-content text, or None if boilerplate.

    Rule: tokenize on WS_CLASS runs; drop the span when the fraction of
    boilerplate-vocabulary tokens exceeds BOILERPLATE_MAX_RATIO; otherwise
    return whitespace-collapsed text. The Spark pipeline runs the SAME rule
    as Arrow compute inside its OCR stage (pipeline.classify_text_arrow).

    Span routing: kind 'text' takes this classifier, kind 'media' the OCR
    path; a span of any other kind, or a NULL kind, is dropped."""
    words = [w for w in _WS_RE.split(text) if w]
    if not words:
        return None
    hits = sum(1 for w in words if w in BOILERPLATE_TOKENS)
    if hits / len(words) > BOILERPLATE_MAX_RATIO:
        return None
    return " ".join(words)
