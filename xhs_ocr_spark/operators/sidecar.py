"""Sidecar JSON flavor routing — the reference's five per-(filename, app)
JSON branches (core/run.py:208-341) as ONE declarative operator.

Reference flavors:
| filename         | app    | url key            | follows          | fans            | interaction          | cn-convert |
|------------------|--------|--------------------|------------------|-----------------|----------------------|------------|
| user_info.json   | tiktok | share_link         | follow_count     | follower_count  | like_count           | no         |
| user_info.json   | weibo  | share_link         | follow_count     | follower_count  | (absent, weibo has none) | no     |
| profile_url.json | xhs    | user_profile_url   | following_count  | fans            | likes_collect_count  | YES (core/run.py:320-323) |
| post_data.json   | tiktok | — post list: stamp device_ip + collect_time per row (core/run.py:245-257) |
| weibo_data.json  | weibo  | — same shape (core/run.py:260-278)                                        |

All built-in expressions (get_json_object / from_json / CASE); the
nickname-present gate mirrors core/run.py's `user_info.get('nickname')`
check before sync. At 100 TB the sidecars are a table of (filename, app,
props) rows like any other; routing is a projection, not a file walk.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame

from ..functions.columns import chinese_number_to_long

POST_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("post_id", T.LongType()),
            T.StructField("views", T.LongType()),
        ]
    )
)


def _is(filename: str, app: str) -> Column:
    return (F.col("filename") == filename) & (F.col("app") == app)


def route_user_info(sidecars: DataFrame) -> DataFrame:
    """(filename, app, account_id, device_ip, collect_date, props) ->
    unified user-info rows, one per surviving sidecar.

    Per-flavor key mapping + xhs chinese-number conversion + the
    nickname gate; weibo emits interaction '' (core/run.py:292: xhs-only
    field, commented out for weibo)."""
    is_xhs = _is("profile_url.json", "xhs")
    is_tk = _is("user_info.json", "tiktok")
    is_wb = _is("user_info.json", "weibo")

    def j(key: str) -> Column:
        return F.get_json_object(F.col("props"), f"$.{key}")

    url = F.when(is_xhs, j("user_profile_url")).otherwise(j("share_link"))
    follows = F.when(is_xhs, chinese_number_to_long(j("following_count"))).otherwise(
        j("follow_count")
    )
    fans = F.when(is_xhs, chinese_number_to_long(j("fans"))).otherwise(
        j("follower_count")
    )
    interaction = (
        F.when(is_xhs, chinese_number_to_long(j("likes_collect_count")))
        .when(is_tk, j("like_count"))
        .otherwise(F.lit(""))  # weibo: no interaction metric
    )
    nickname = j("nickname")
    return (
        sidecars.where(is_xhs | is_tk | is_wb)
        .select(
            "app",
            "account_id",
            "collect_date",
            nickname.alias("nickname"),
            follows.alias("follows"),
            fans.alias("fans"),
            interaction.alias("interaction"),
            url.alias("profile_url"),
        )
        .where(F.col("nickname").isNotNull() & (F.col("nickname") != ""))
    )


def route_posts(sidecars: DataFrame) -> DataFrame:
    """post_data.json / weibo_data.json: the props payload is a LIST of
    post objects; explode and stamp device_ip + collect_time on every row
    (core/run.py:249-252, 267-270)."""
    is_post = _is("post_data.json", "tiktok") | _is("weibo_data.json", "weibo")
    return (
        sidecars.where(is_post)
        .select(
            "app",
            "account_id",
            F.col("device_ip"),
            F.col("collect_date").alias("collect_time"),
            F.explode(F.from_json(F.col("props"), POST_SCHEMA)).alias("p"),
        )
        .select(
            "app",
            "account_id",
            "device_ip",
            "collect_time",
            F.col("p.post_id").alias("post_id"),
            F.col("p.views").alias("views"),
        )
    )
