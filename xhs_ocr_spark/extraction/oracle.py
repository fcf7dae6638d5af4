"""Pure-Python reference extractor (differential oracle).

Single-process, no Spark: applies the exact shared semantics
(``semantics.py``) per document the way the reference's sequential loop
does (core/run.py:342-514). The Spark pipeline must produce per-document
span sequences equal to this on (kind, text, media_ref, order) — the
BASELINE.json correctness gate.
"""

from __future__ import annotations

from functools import lru_cache

from .semantics import classify_text_span, extract_media_span


@lru_cache(maxsize=1)
def _masks():
    from .raw_image import mask_library, masks_by_key

    return masks_by_key(mask_library())


def extract_document(doc_id: str, spans: list[dict]) -> list[tuple[str, str, str, int]]:
    """Reference extraction for one document.

    Returns ordered list of (kind, text, media_ref, order); order is the
    original span offset, and spans with equal offsets keep their input
    order (a stable sort); failed media spans (all masks exhausted, or a
    payload that cannot be decoded — the reference logs it and continues,
    core/run.py:640-642), boilerplate text spans and spans of any other
    (or NULL) kind are dropped, everything else keeps its offset.

    Media spans carrying a raw RGBA payload go through the BYTES path
    (mask composite + pixel decode, raw_image.extract_from_bytes) — the
    same route the Spark engine takes — so the e2e equality test proves
    the distributed pipeline against an oracle that consumed real bytes.
    """
    out = []
    for s in sorted(spans, key=lambda s: s["offset"]):
        if s["kind"] == "media":
            payload = s.get("media_bytes")
            if payload:
                from .raw_image import extract_from_bytes

                try:
                    txt = extract_from_bytes(bytes(payload), _masks())
                except Exception:  # any decode failure, as raw_image._per_payload
                    txt = None
            else:
                txt = extract_media_span(s["media_ref"])
            if txt is not None:
                out.append(("media", txt, s["media_ref"], s["offset"]))
        elif s["kind"] == "text":
            cleaned = classify_text_span(s["text"] or "")
            if cleaned is not None:
                out.append(("text", cleaned, "", s["offset"]))
    return out


def extract_corpus(rows: list[tuple[str, list[dict]]]) -> dict[str, list[tuple]]:
    return {doc_id: extract_document(doc_id, spans) for doc_id, spans in rows}
