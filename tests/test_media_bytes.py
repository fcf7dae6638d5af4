"""Binary media path (round-2 item 1): raw RGBA payloads through the
flagship, mask library as a broadcast dim table, alpha-composite pixel
math per /root/reference/core/run.py:402-404.

Key property: the byte path and the hash-derived stand-in are two faces
of ONE semantics definition — extract_from_bytes(render(ref)) must equal
extract_media_span(ref) for every ref, and the Spark engine must follow
the BYTES (tamper test), not the ref."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from xhs_ocr_spark.extraction import raw_image as RI
from xhs_ocr_spark.extraction import semantics as S
from xhs_ocr_spark.extraction.datagen import (
    attach_media_bytes,
    corpus_from_documents,
    generate_corpus,
)
from xhs_ocr_spark.extraction.pipeline import extract_spans_flat
from xhs_ocr_spark.sources.mask_library import broadcast_mask_library

MASKS = RI.masks_by_key(RI.mask_library())


def test_bytes_path_equals_ref_path():
    for i in range(500):
        ref = f"mem://doc-{i:06d}/{i % 7}"
        want = S.extract_media_span(ref)
        got = RI.extract_from_bytes(RI.render_media_image(ref), MASKS)
        assert got == want, ref


def test_noise_padding_is_semantically_inert():
    for i in range(50):
        ref = f"mem://pad-{i}/{i % 5}"
        a = RI.extract_from_bytes(RI.render_media_image(ref), MASKS)
        b = RI.extract_from_bytes(
            RI.render_media_image(ref, noise_rows=128), MASKS
        )
        assert a == b


def test_composite_is_reference_pixel_math():
    """img * (alpha/255) zeroes masked-out bands and preserves kept ones
    byte-for-byte (alpha is binary by construction)."""
    ref = "mem://pixel/0"
    img = RI.decode_image(RI.render_media_image(ref))
    tag, app, hw, n_blocks = RI.read_header(img)
    mask = RI.decode_image(MASKS[(app, hw, tag)][0])
    alpha = np.zeros(img.shape[:2])
    alpha[: mask.shape[0]] = mask[:, :, 3] / 255.0
    out = (img * alpha[:, :, np.newaxis]).astype(np.uint8)
    kept = alpha[:, 0] == 1.0
    assert (out[kept] == img[kept]).all()
    assert (out[~kept] == 0).all()
    assert kept.any() and (~kept).any()


def test_mask_size_guard():
    """For every tag and mask order: a mask taller than the image's content
    extent cannot apply — reference shape check core/run.py:396-399 ==
    mask_regions None — and an applicable mask keeps the header band and
    exactly mask_regions' block window."""
    trips = set()
    for tag in S.TAGS:
        need = S.arity(tag)
        assert need > 0
        for order in range(S.N_MASKS):
            mask = RI.decode_image(RI.render_mask(tag, order))
            kept = (mask[:, :, 3] == 255).reshape(-1, RI.BH * RI.W).all(axis=1)
            assert kept[: RI.HEADER_BANDS].all()
            for n_blocks in range(need + S.N_MASKS):
                guard_trips = mask.shape[0] > (RI.HEADER_BANDS + n_blocks) * RI.BH
                regions = S.mask_regions(tag, order, n_blocks)
                assert guard_trips == (regions is None)
                trips.add(guard_trips)
                if regions is not None:
                    assert np.flatnonzero(kept[RI.HEADER_BANDS :]).tolist() == regions
    assert trips == {True, False}


def test_mask_library_dim_table(spark):
    rows = RI.mask_library()
    assert all(
        set(r) == {"app", "hw", "tag", "mask_order", "mask_bytes"} for r in rows
    )
    # 2 apps x 2 hardware subtrees (aibox/futurecloud) x tags x orders
    assert len(rows) == 2 * len(RI.HW_VALUES) * len(S.TAGS) * S.N_MASKS
    assert {(r["app"], r["hw"], r["tag"], r["mask_order"]) for r in rows} == {
        (app, hw, tag, order)
        for app in ("xhs", "tiktok")
        for hw in RI.HW_VALUES
        for tag in S.TAGS
        for order in range(S.N_MASKS)
    }
    bc = broadcast_mask_library(spark)
    for hw in RI.HW_VALUES:
        assert len(bc.value[("xhs", hw, S.TAGS[0])]) == S.N_MASKS


def test_engine_follows_bytes_not_ref(spark):
    """Tamper test: give ref A the payload rendered for ref B — the
    pipeline's output text must be B's (the engine consumed pixels)."""
    # pick two refs whose extractions both succeed and differ
    ok = []
    for i in range(100):
        r = f"mem://tamper/{i}"
        if S.extract_media_span(r) is not None:
            ok.append(r)
        if len(ok) == 2 and S.extract_media_span(ok[0]) != S.extract_media_span(ok[1]):
            break
    ref_a, ref_b = ok[0], ok[1]
    assert S.extract_media_span(ref_a) != S.extract_media_span(ref_b)
    docs = spark.createDataFrame(
        [
            (
                "d1",
                [
                    {
                        "kind": "media",
                        "text": "",
                        "media_ref": ref_a,
                        "offset": 0,
                        "media_bytes": RI.render_media_image(ref_b),
                    }
                ],
            )
        ],
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset int, media_bytes binary>>",
    )
    out = extract_spans_flat(docs).collect()
    assert len(out) == 1
    assert out[0]["text"] == S.extract_media_span(ref_b)
    assert out[0]["media_ref"] == ref_a  # ref column is metadata, not input


def test_attach_media_bytes_payloads(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = attach_media_bytes(corpus_from_documents(docs))
    media = (
        corpus.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media")
        .select(F.length("s.media_bytes").alias("len"))
    )
    stats = media.agg(
        F.count("*").alias("n"), F.min("len").alias("lo"), F.max("len").alias("hi")
    ).collect()[0]
    assert stats["n"] > 0
    assert stats["lo"] is not None and stats["lo"] > 0


def test_generate_corpus_carries_bytes(spark):
    docs = generate_corpus(spark, 30, partitions=4)
    media = (
        docs.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media")
    )
    n_null = media.where(F.col("s.media_bytes").isNull()).count()
    assert n_null == 0


def test_raw_rgba_codec_real_ops(spark):
    """raw_media_metadata (q39) decodes the REAL raw-RGBA payload: its
    header fields equal read_header of the decoded pixels, and every
    payload read_header rejects is dropped, not a task failure."""
    from xhs_ocr_spark.operators.multimodal import raw_media_metadata

    refs = [f"mem://codec/{i}" for i in range(12)]
    payloads = {r: RI.render_media_image(r) for r in refs}
    good = payloads[refs[0]]
    bad = {
        "bad:junk": b"junkjunkjunkjunk" * 8,
        "bad:null": None,
        "bad:empty": b"",
        "bad:partial_row": good[:-1],
        "bad:version": good[:2] + bytes([RI.VERSION + 1]) + good[3:],
        "bad:tag": good[:3] + bytes([len(S.TAGS)]) + good[4:],
    }
    for payload in bad.values():
        with pytest.raises(Exception):
            RI.read_header(RI.decode_image(payload))
    media = spark.createDataFrame(
        [(r, payloads[r]) for r in refs] + list(bad.items()),
        "media_ref string, media_bytes binary",
    )
    got = {r["media_ref"]: r for r in raw_media_metadata(media).collect()}
    assert set(got) == set(refs)  # bad payloads dropped
    for ref in refs:
        img = RI.decode_image(payloads[ref])
        tag, app, hw, n_blocks = RI.read_header(img)
        row = got[ref]
        assert (row["tag"], row["app"], row["hw"], row["n_blocks"]) == (tag, app, hw, n_blocks)
        assert row["n_bytes"] == len(payloads[ref])
        # and the pixels carry what the renderer derived from the ref
        assert (tag, app) == (S.media_tag(ref), S.media_app(ref))
        assert row["hw"] == RI.media_hw(ref)
    assert {got[r]["hw"] for r in refs} == set(RI.HW_VALUES)  # both exercised


def test_corrupt_payload_dead_letters_not_crashes(spark):
    """A corrupt/truncated payload must become an F10 dead letter (NULL
    text), never a task failure — one bad image at corpus scale must not
    abort the wave (review finding, round 2)."""
    from xhs_ocr_spark.extraction.pipeline import extract_spans_with_deadletter

    good_ref = next(
        f"mem://ok/{i}" for i in range(50)
        if S.extract_media_span(f"mem://ok/{i}") is not None
    )
    span = lambda ref, off, payload: {
        "kind": "media", "text": "", "media_ref": ref, "offset": off,
        "media_bytes": payload,
    }
    docs = spark.createDataFrame(
        [
            (
                "d1",
                [
                    span(good_ref, 0, RI.render_media_image(good_ref)),
                    span("bad:magic", 1, b"\x00" * 128),          # bad magic
                    span("bad:len", 2, b"\xa7\x51\x01\x00\x00"),  # truncated
                    span("bad:tag", 3, bytes([0xA7, 0x51, 1, 99, 0, 2]) + b"\x00" * 122),  # tag idx out of range
                ],
            )
        ],
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset int, media_bytes binary>>",
    )
    ok, dead = extract_spans_with_deadletter(docs)
    ok_rows = ok.collect()
    dead_rows = dead.collect()
    assert [r["media_ref"] for r in ok_rows] == [good_ref]
    assert sorted(r["media_ref"] for r in dead_rows) == ["bad:len", "bad:magic", "bad:tag"]
    # decode failures carry their own reason, distinct from mask
    # exhaustion — the reference logs the two causes separately
    # (core/run.py:640-642 vs 499-501)
    assert all(r["reason"] == "corrupt_payload" for r in dead_rows)


def test_hw_dimension_lookup_is_real():
    """Round-2 verdict item 7: the (app, hw, tag) mask lookup must
    actually key on hw. A corpus hash-spreads across BOTH hardware
    values; a library missing one hw subtree must fail exactly that
    hw's refs (mask lookup miss -> None), and the full library must
    extract all of them."""
    refs = [f"mem://hw-{i:04d}/{i % 7}" for i in range(60)]
    hws = {r: RI.media_hw(r) for r in refs}
    assert set(hws.values()) == set(RI.HW_VALUES)  # both exercised

    full = RI.masks_by_key(RI.mask_library())
    aibox_only = RI.masks_by_key([m for m in RI.mask_library() if m["hw"] == "aibox"])
    for r in refs:
        want = S.extract_media_span(r)
        payload = RI.render_media_image(r)
        assert RI.extract_from_bytes(payload, full) == want
        got = RI.extract_from_bytes(payload, aibox_only)
        if hws[r] == "aibox":
            assert got == want
        else:
            assert got is None  # futurecloud masks absent -> dead letter
