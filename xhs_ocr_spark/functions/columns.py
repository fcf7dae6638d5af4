"""Scalar column functions — reference §2.3 (X5-X15), all built-in exprs.

Every function here stays inside whole-stage codegen: no Python UDFs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..extraction.semantics import CJK_PATTERN, REPLACE_STEPS, TRAFFIC_PREFIX


def normalize_ocr_col(text: Column, tag: Column, app: Column) -> Column:
    """X5-X7: exact replace chains per app branch, the column form of
    semantics.normalize_ocr_text over the same REPLACE_STEPS (no step
    holds a regex metacharacter, so regexp_replace replaces literally).

    xhs (core/run.py:468-474): CJK strip unless note_traffic tag, then
    秒/space/o/<b>/</b>; tiktok (core/run.py:622-627): no CJK strip,
    秒/s/space/o/<b>/</b> (s before o->0)."""

    def chain(c: Column, app_name: str) -> Column:
        for pat, rep in REPLACE_STEPS[app_name]:
            c = F.regexp_replace(c, pat, rep)
        return c

    xhs_in = F.when(tag.startswith(TRAFFIC_PREFIX), text).otherwise(
        F.regexp_replace(text, CJK_PATTERN, "")
    )
    return F.when(app == F.lit("tiktok"), chain(text, "tiktok")).otherwise(chain(xhs_in, "xhs"))


def chinese_number_to_long(c: Column) -> Column:
    """X8: '1.5万' -> 15000, passthrough otherwise (string-typed, matching
    the reference's TEXT storage; core/run.py:679-690: strip all
    non-digit/dot chars, float() in try/except — unparseable remainders
    like '1.2.3' pass through)."""
    num = F.regexp_replace(c, r"[^0-9.]", "").try_cast("double")
    converted = (num * 10000).cast("long").cast("string")
    return F.when(c.contains("万") & num.isNotNull(), converted).otherwise(c)


def label_value_pairs(texts: Column) -> Column:
    """X9: 8 texts -> 'l1:v1|l2:v2|l3:v3|l4:v4' (core/run.py:479-483)."""
    pairs = F.transform(
        F.sequence(F.lit(0), F.lit(3)),
        lambda i: F.concat(
            F.element_at(texts, i * 2 + 1), F.lit(":"), F.element_at(texts, i * 2 + 2)
        ),
    )
    return F.array_join(pairs, "|")


def clean_tag(tag: Column) -> Column:
    """X11: strip digits from tag before table naming (core/run.py:504)."""
    return F.regexp_replace(tag, r"\d+", "")


def content_type_col(tag: Column, app: Column) -> Column:
    """X10: content-type derivation (core/run.py:504-509, 649)."""
    return (
        F.when(app == F.lit("tiktok"), F.lit("tiktok_video"))
        .when(tag.contains("video"), F.lit("video"))
        .otherwise(F.lit("note"))
    )


def rename_with_mapping(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """X13/X14: bulk column rename per field-mapping registry
    (db/data_sync.py:142-148; config.ini [fields])."""
    return df.select([F.col(c).alias(mapping.get(c, c)) for c in df.columns])


def unescape_link(link: Column) -> Column:
    """X12: note links are filesystem-escaped with '*' standing in for '/'
    in screenshot filenames (core/run.py:517 splits the name, :647 does
    ``note_link.replace('*', "/")``)."""
    return F.replace(link, F.lit("*"), F.lit("/"))


def source_type_col(app: Column) -> Column:
    """X15: per-app data-source constant injected into every user-info
    upsert (db/__init__.py:46-50: xhs/weibo ids, empty otherwise)."""
    return (
        F.when(app == F.lit("xhs"), F.lit("1894230222988058625"))
        .when(app == F.lit("weibo"), F.lit("1948663593734004737"))
        .otherwise(F.lit(""))
    )


# The reference's bilingual field registry (config.ini:14-55 [fields]):
# english identifier -> chinese storage column. db/data_sync.py:142-148
# maps the CHINESE sqlite column names to english when syncing to MySQL,
# i.e. the runtime direction is CN -> EN (FIELD_MAPPING_CN2EN); tables
# written by the OCR loop use the chinese names (db/__init__.py:40-55).
FIELD_MAPPING_EN2CN: dict[str, str] = {
    "id": "数据ID",
    "device_ip": "设备IP",
    "title": "作品标题",
    "collection_date": "采集日期",
    "collection_time": "采集时间",
    "account_id": "账号ID",
    "url": "链接",
    "type": "内容类型",
    "exposure_count": "曝光数",
    "view_count": "观看数",
    "click_rate": "封面点击率",
    "avg_watch_duration": "平均观看时长",
    "exit_rate_2s": "2秒退出率",
    "followers_gained": "涨粉数",
    "likes": "点赞数",
    "comments": "评论数",
    "collects": "收藏数",
    "shares": "分享数",
    "source_type": "数据来源",
    "follows": "关注数",
    "fans": "粉丝数",
    "interaction": "获赞与收藏",
    "nickname": "账号昵称",
    "source_homepage": "观看来源-首页推荐",
    "completion_rate": "完播率",
    "bullet": "弹幕数",
}
FIELD_MAPPING_CN2EN: dict[str, str] = {v: k for k, v in FIELD_MAPPING_EN2CN.items()}
