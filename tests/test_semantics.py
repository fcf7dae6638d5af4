"""Unit tests for the shared pure-Python extraction semantics."""

from xhs_ocr_spark.extraction import semantics as S


def test_reading_order_rows_and_columns():
    # two visual rows; within-row emitted right-before-left
    def blk(x, y, t):
        return {"box": [[x, y], [x + 50, y], [x + 50, y + 20], [x, y + 20]], "score": 1.0, "text": t}

    blocks = [blk(300, 5, "b"), blk(0, 10, "a"), blk(0, 60, "c"), blk(300, 66, "d")]
    got = [b["text"] for b in S.reading_order(blocks)]
    assert got == ["a", "b", "c", "d"]


def test_reading_order_chained_anchor():
    # the 20px row threshold chains off the PREVIOUS block, not the row
    # start (core/ocr.py:91-101): y = 0, 15, 30 all join one row even
    # though 0 vs 30 differ by 30.
    def blk(x, y, t):
        return {"box": [[x, y], [x + 10, y], [x + 10, y + 4], [x, y + 4]], "score": 1.0, "text": t}

    blocks = [blk(200, 0, "p"), blk(100, 15, "q"), blk(0, 30, "r")]
    got = [b["text"] for b in S.reading_order(blocks)]
    assert got == ["r", "q", "p"]  # one row, sorted by x


def test_order_rows_ties_and_row_threshold():
    # equal (y, x) centers keep their input order (stable sorts), a gap of
    # exactly 20 starts a new row, and a chain of < 20 steps stays one row
    keyed = [(39.0, 3.0, "d"), (0.0, 5.0, "b"), (59.0, 0.0, "e"), (0.0, 5.0, "a"), (19.5, 1.0, "c")]
    assert S.order_rows(keyed) == ["c", "d", "b", "a", "e"]


def test_reading_order_anchor_variant():
    # anchor semantics: y = 0, 4, 8 — chained would group all three
    # (each step <5), anchored groups only 0 and 4 (8 is >5 from anchor 0)
    def blk(x, y, t):
        return {"box": [[x, y], [x + 10, y], [x + 10, y + 3], [x, y + 3]], "score": 1.0, "text": t}

    blocks = [blk(200, 0, "a"), blk(100, 4, "b"), blk(0, 8, "c")]
    got = [b["text"] for b in S.reading_order_anchor(blocks, threshold=5)]
    assert got == ["b", "a", "c"]  # group {a,b} x-sorted, then c alone


def test_normalize_chain_order():
    # CJK stripped first (non-traffic), then 秒/space/o/<b> replacements
    assert S.normalize_ocr_text("曝光数 1o0秒", "note_data_overview_top", "xhs") == "100"
    assert S.normalize_ocr_text("<b>5o</b>", "likes", "xhs") == "50"
    # traffic tags keep CJK
    assert S.normalize_ocr_text("首页 12", "note_traffic_analysis", "xhs") == "首页12"
    # tiktok strips 's' but NEVER CJK (core/run.py:622-627 has no re.sub)
    assert S.normalize_ocr_text("12s", "video_data_overview_top", "tiktok") == "12"
    assert S.normalize_ocr_text("中文5s", "note_data_overview_top", "tiktok") == "中文5"


def test_chinese_number_conversion():
    assert S.convert_chinese_number("1.5万") == "15000"
    assert S.convert_chinese_number("23万") == "230000"
    assert S.convert_chinese_number("85%") == "85%"
    assert S.convert_chinese_number("123") == "123"
    # reference parity: strip-all-non-digits, try/except passthrough
    assert S.convert_chinese_number("1 2万") == "120000"
    assert S.convert_chinese_number("1.2.3万") == "1.2.3万"
    assert S.convert_chinese_number("万") == "万"


def test_standin_ocr_protocol_and_determinism():
    r1 = S.run_standin_ocr("mem://doc-1/0")
    r2 = S.run_standin_ocr("mem://doc-1/0")
    assert r1 == r2
    assert r1["code"] == 100
    for b in r1["data"]:
        assert set(b) == {"box", "score", "text", "region"}
        assert len(b["box"]) == 4


def test_extract_media_span_deterministic_and_formatted():
    seen_none = seen_some = 0
    for i in range(200):
        ref = f"mem://doc-{i:08d}/1"
        out = S.extract_media_span(ref)
        assert out == S.extract_media_span(ref)
        if out is None:
            seen_none += 1
            continue
        seen_some += 1
        tag, ctype, body = out.split(";", 2)
        assert tag in S.TAG_FIELDS
        if tag == "note_traffic_analysis":
            # single field whose value is the 8->4 '|'-paired string (X9);
            # the reference pairs ONLY note_traffic (core/run.py:478)
            assert body.startswith("source_homepage=")
            assert body.count("|") == 3
        elif tag == "video_traffic_analysis":
            # plain arity-1 extraction, no pairing
            assert body.startswith("source_homepage=")
            assert "|" not in body
        else:
            fields = [kv.split("=", 1)[0] for kv in body.split("|")]
            assert fields == S.TAG_FIELDS[tag]
    # corpus must exercise both the success path and dead-lettering
    assert seen_some > 100
    assert seen_none > 0


def test_classify_text_span():
    assert S.classify_text_span("spark  joins   tables") == "spark joins tables"
    assert S.classify_text_span("nav menu footer cookie spark") is None  # 4/5 boiler
    assert S.classify_text_span("nav spark query join") == "nav spark query join"  # 1/4
    assert S.classify_text_span("   ") is None
