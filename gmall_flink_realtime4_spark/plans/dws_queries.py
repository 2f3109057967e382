"""DWS-layer queries: stateful dedup + tumbling-window aggregates.

Each query re-expresses one reference DWS app (SURVEY.md §2.5/§2.6/§2.9)
over driver testdata: events plays the behavior log, lineitem/orders the
trade facts, part/supplier/nation/region the dim chain. Windows use
``F.window`` (streaming-capable as-is); oracles reproduce buckets with
tz-independent epoch arithmetic.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .. import tables as T
from .catalog import query


def _bucket(col: str, secs: int, plus: int = 0) -> str:
    """DuckDB SQL for the start/end of `col`'s `secs`-second tumbling window
    (tz-independent; equals Spark's F.window on TIMESTAMP_NTZ)."""
    return (
        f"TIMESTAMP '1970-01-01' + (CAST(floor(epoch({col})/{secs})*{secs} AS BIGINT)"
        f" + {plus}) * INTERVAL '1 second'"
    )


# ---------------------------------------------------------------------------
# DwsTrafficSourceKeywordPageViewWindow — UDTF split U1 + lateral join J7 +
# windowed count A3 (batch twin: corpus-wide keyword counts)
# ---------------------------------------------------------------------------
@query(
    "dws_traffic_source_keyword_page_view_window",
    oracle="""
SELECT kw.keyword                 AS keyword,
       COUNT(*)                   AS keyword_count,
       COUNT(DISTINCT d.doc_id)   AS doc_count
FROM documents d,
     unnest(list_distinct(string_split(d.text, ' '))) AS kw(keyword)
WHERE length(kw.keyword) >= 4
GROUP BY kw.keyword
""",
    tags=("U1", "J7", "A3", "A7"),
)
def dws_traffic_source_keyword_page_view_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Keyword segmentation + per-keyword counts.

    Reference: DwsTrafficSourceKeywordPageViewWindow.java:30-62 — filters
    keyword-search pages, splits the search string with the KwSplit UDTF
    (IK segmenter, KwSplit.java:47-56 — returns a **HashSet**, so tokens are
    deduped per document; preserved here via array_distinct) through a
    LATERAL TABLE join (J7), then TUMBLE-window counts (A3). Spark-first:
    split + array_distinct + explode; no Python UDF in the hot path.
    """
    d = T.load(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("keyword"),
        )
        .filter(F.length("keyword") >= 4)
        .groupBy("keyword")
        .agg(
            F.count(F.lit(1)).alias("keyword_count"),
            F.countDistinct("doc_id").alias("doc_count"),
        )
    )


# ---------------------------------------------------------------------------
# DwsTrafficVcChArIsNewPageViewWindow — multi-dim windowed reduce A4
# ---------------------------------------------------------------------------
@query(
    "dws_traffic_vc_ch_ar_is_new_page_view_window",
    oracle=f"""
SELECT {_bucket('e.ts', 3600)}                          AS stt,
       {_bucket('e.ts', 3600, 3600)}                    AS edt,
       'v' || CAST(CAST(CASE WHEN regexp_matches(json_extract_string(e.props, '$.k'), '^-?[0-9]+$') THEN json_extract_string(e.props, '$.k') END AS INTEGER) % 3 AS VARCHAR)
                                                        AS vc,
       e.event_type                                     AS ch,
       CAST(e.user_id % 5 AS VARCHAR)                   AS ar,
       CASE WHEN CAST(CASE WHEN regexp_matches(json_extract_string(e.props, '$.k'), '^-?[0-9]+$') THEN json_extract_string(e.props, '$.k') END AS INTEGER) < 50
            THEN '1' ELSE '0' END                       AS is_new,
       COUNT(*)                                         AS pv_ct,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum
FROM events e
GROUP BY 1, 2, 3, 4, 5, 6
""",
    tags=("A4", "F-json1", "W1"),
)
def dws_traffic_vc_ch_ar_is_new_page_view_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Four-dimension traffic page-view window aggregate.

    Reference: DwsTrafficVcChArIsNewPageViewWindow.java:93-148 — keyBy
    (vc, ch, ar, is_new), 10 s tumbling windows, reduce summing
    uv/sv/pv/dur (A4). Here: dims derived from events (vc/ar/is_new
    synthesized from props/user_id), 1 h tumbling window, pv count + duration
    sum. Streaming twin: identical plan + withWatermark("ts", "3 seconds").
    """
    e = T.load(spark, sf_dir, "events")
    # ANSI-safe integral guard (see p1_json_parse_validity_filter): a
    # non-integral k yields NULL dims on BOTH engines instead of raising
    # here / rounding in DuckDB
    ks = F.get_json_object("props", "$.k")
    k = F.when(ks.rlike("^-?[0-9]+$"), ks.cast("int"))
    return (
        e.groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.concat(F.lit("v"), (k % 3).cast("string")).alias("vc"),
            F.col("event_type").alias("ch"),
            (F.col("user_id") % 5).cast("string").alias("ar"),
            F.when(k < 50, "1").otherwise("0").alias("is_new"),
        )
        .agg(
            F.count(F.lit(1)).alias("pv_ct"),
            F.sum(F.col("value").cast(T.MONEY)).cast("double").alias("dur_sum"),
        )
        .select(
            F.col("w.start").alias("stt"),
            F.col("w.end").alias("edt"),
            "vc",
            "ch",
            "ar",
            "is_new",
            "pv_ct",
            "dur_sum",
        )
    )


# ---------------------------------------------------------------------------
# DwsTrafficHomeDetailPageViewWindow — two-state first-today dedup A8
# ---------------------------------------------------------------------------
@query(
    "dws_traffic_home_detail_page_view_window",
    oracle="""
SELECT strftime(ts, '%Y-%m-%d')                          AS cur_date,
       COUNT(DISTINCT CASE WHEN event_type = 'view'  THEN user_id END)
                                                          AS home_uv_ct,
       COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
                                                          AS good_detail_uv_ct
FROM events
WHERE event_type IN ('view', 'click')
GROUP BY 1
""",
    tags=("A8", "A5", "P7"),
)
def dws_traffic_home_detail_page_view_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Home/good-detail unique-visitor counts per day.

    Reference: DwsTrafficHomeDetailPageViewWindow.java:42-143 — page filter
    ``page_id in ('home','good_detail')`` (P7), two keyed ValueStates holding
    each mid's last home / detail visit date (first-today dedup, A8), then
    10 s windowAll sums (A5). Batch twin: conditional distinct counts per
    day — identical result, no per-record state needed.
    """
    e = T.load(spark, sf_dir, "events", spread=False).filter(
        F.col("event_type").isin("view", "click")
    )
    return (
        e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("cur_date"))
        .agg(
            F.countDistinct(
                F.when(F.col("event_type") == "view", F.col("user_id"))
            ).alias("home_uv_ct"),
            F.countDistinct(
                F.when(F.col("event_type") == "click", F.col("user_id"))
            ).alias("good_detail_uv_ct"),
        )
    )


# ---------------------------------------------------------------------------
# DwsUserUserLoginWindow — first-today dedup A8 + 7-day-returning flag
# ---------------------------------------------------------------------------
@query(
    "dws_user_user_login_window",
    oracle=f"""
WITH firsts AS (
    SELECT user_id, CAST(ts AS DATE) AS d, MIN(ts) AS first_ts
    FROM events
    GROUP BY 1, 2
), flagged AS (
    SELECT user_id, d, first_ts,
           LAG(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d
    FROM firsts
)
SELECT {_bucket('first_ts', 10)}        AS stt,
       {_bucket('first_ts', 10, 10)}    AS edt,
       COUNT(*)                         AS uu_ct,
       CAST(SUM(CASE WHEN prev_d IS NOT NULL AND date_diff('day', prev_d, d) > 7
                     THEN 1 ELSE 0 END) AS BIGINT) AS back_ct
FROM flagged
GROUP BY 1, 2
""",
    tags=("A8", "A5", "W4"),
)
def dws_user_user_login_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique-login + 7-day-returning counts in 10 s tumbling windows.

    Reference: DwsUserUserLoginWindow.java:73-129 — keyed ValueState
    lastLoginDate: emit uu only on first login of the day (A8); emit back=1
    when the gap since the previous login exceeds 7 days
    (DwsUserUserLoginWindow.java:96-100); then 10 s windowAll sums (A5).
    Batch twin: first event per (user, day) + LAG over login days — the same
    state machine expressed relationally.
    """
    e = T.load(spark, sf_dir, "events", spread=False)
    firsts = e.groupBy(
        F.col("user_id"), F.to_date("ts").alias("d")
    ).agg(F.min("ts").alias("first_ts"))
    prev = Window.partitionBy("user_id").orderBy("d")
    flagged = firsts.withColumn("prev_d", F.lag("d").over(prev))
    return (
        flagged.groupBy(F.window("first_ts", "10 seconds").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("uu_ct"),
            F.sum(
                F.when(
                    F.col("prev_d").isNotNull()
                    & (F.datediff(F.col("d"), F.col("prev_d")) > 7),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("back_ct"),
        )
        .select(
            F.col("w.start").alias("stt"),
            F.col("w.end").alias("edt"),
            "uu_ct",
            "back_ct",
        )
    )


# ---------------------------------------------------------------------------
# DwsUserUserRegisterWindow — global windowed count A5
# ---------------------------------------------------------------------------
@query(
    "dws_user_user_register_window",
    oracle=f"""
SELECT {_bucket('ts', 5)}      AS stt,
       {_bucket('ts', 5, 5)}   AS edt,
       COUNT(*)                AS register_ct
FROM events
WHERE event_type = 'signup'
GROUP BY 1, 2
""",
    tags=("A5",),
)
def dws_user_user_register_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registration counts in 5 s tumbling windows.

    Reference: DwsUserUserRegisterWindow.java:39-82 — reads dwd_user_register,
    5 s tumbling windowAll count (A5). Spark has no parallelism-1 constraint
    for un-keyed windows: partial aggregation distributes, the final merge is
    per-window. Streaming twin adds withWatermark("ts", "5 seconds").
    """
    e = T.load(spark, sf_dir, "events", spread=False).filter(
        F.col("event_type") == "signup"
    )
    return (
        e.groupBy(F.window("ts", "5 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("register_ct"))
        .select(
            F.col("w.start").alias("stt"), F.col("w.end").alias("edt"), "register_ct"
        )
    )


# ---------------------------------------------------------------------------
# DwsTradeCartAddUuWindow — first-today dedup A8 (cart role)
# ---------------------------------------------------------------------------
@query(
    "dws_trade_cart_add_uu_window",
    oracle="""
SELECT strftime(ts, '%Y-%m-%d')   AS cur_date,
       COUNT(DISTINCT user_id)     AS cart_add_uu_ct
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
""",
    tags=("A8", "W4"),
)
def dws_trade_cart_add_uu_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cart-add unique users per day.

    Reference: DwsTradeCartAddUuWindow.java:76-119 — keyed ValueState
    lastCartDate with 1-day TTL: first cart-add of the day per user counts
    (A8), 10 s windowAll sum. Batch twin: distinct users per day. Streaming
    twin: dropDuplicates(["user_id","cur_date"]) under watermark.
    """
    e = T.load(spark, sf_dir, "events", spread=False).filter(
        F.col("event_type") == "purchase"
    )
    return e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("cur_date")).agg(
        F.countDistinct("user_id").alias("cart_add_uu_ct")
    )


# ---------------------------------------------------------------------------
# DwsTradePaymentSucWindow — A8 + derived new-payer flag
# ---------------------------------------------------------------------------
@query(
    "dws_trade_payment_suc_window",
    oracle="""
WITH pay AS (
    SELECT user_id, CAST(ts AS DATE) AS d
    FROM events WHERE event_type = 'purchase'
), ud AS (
    SELECT DISTINCT user_id, d FROM pay
), fd AS (
    SELECT user_id, MIN(d) AS first_d FROM pay GROUP BY user_id
)
SELECT strftime(ud.d, '%Y-%m-%d')                       AS cur_date,
       COUNT(*)                                        AS payment_suc_unique_user_count,
       CAST(SUM(CASE WHEN ud.d = fd.first_d THEN 1 ELSE 0 END) AS BIGINT)
                                                       AS payment_new_user_count
FROM ud JOIN fd ON ud.user_id = fd.user_id
GROUP BY ud.d
""",
    tags=("A8", "W4"),
)
def dws_trade_payment_suc_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily paying users + first-ever payers.

    Reference: DwsTradePaymentSucWindow.java:72-119 — keyed ValueState
    lastPayDate: uu on first payment of the day; new-user flag when the state
    was empty (first payment ever, :92-95). Batch twin: distinct (user, day)
    plus min-day-per-user join — same state machine relationally.
    """
    pay = (
        T.load(spark, sf_dir, "events", spread=False)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("d"))
    )
    ud = pay.distinct()
    fd = pay.groupBy("user_id").agg(F.min("d").alias("first_d"))
    return (
        ud.join(fd, "user_id")
        .groupBy(F.date_format("d", "yyyy-MM-dd").alias("cur_date"))
        .agg(
            F.count(F.lit(1)).alias("payment_suc_unique_user_count"),
            F.sum(F.when(F.col("d") == F.col("first_d"), 1).otherwise(0))
            .cast("bigint")
            .alias("payment_new_user_count"),
        )
    )


# ---------------------------------------------------------------------------
# DwsTradeOrderWindow — A5 + A8 over the order fact
# ---------------------------------------------------------------------------
@query(
    "dws_trade_order_window",
    oracle="""
SELECT strftime(o_orderdate, '%Y-%m-%d') AS cur_date,
       COUNT(*)                        AS order_ct,
       COUNT(DISTINCT o_custkey)       AS order_uu_ct,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                       AS order_amount
FROM orders
GROUP BY 1
""",
    tags=("A5", "A8", "A2"),
)
def dws_trade_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order counts, unique purchasers, order amount.

    Reference: DwsTradeOrderWindow.java:75-133 — keyed ValueState for
    first-order-of-day dedup (A8; reference bug at :91 compares full
    datetime — intent [date compare] implemented, bug not replicated),
    10 s windowAll sums (A5). Batch twin over the orders fact.
    """
    o = T.load(spark, sf_dir, "orders", spread=False)
    return (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("cur_date"))
        .agg(
            F.count(F.lit(1)).alias("order_ct"),
            F.countDistinct("o_custkey").alias("order_uu_ct"),
            F.sum(F.col("o_totalprice").cast(T.MONEY))
            .cast("double")
            .alias("order_amount"),
        )
    )


# ---------------------------------------------------------------------------
# DwsTradeSkuOrderWindow — FLAGSHIP: dedup A1 + windowed sums A2 + dim chain J5
# ---------------------------------------------------------------------------
@query(
    "dws_trade_sku_order_window",
    oracle="""
WITH od AS (
    SELECT DISTINCT ON (l_orderkey * 8 + l_linenumber)
           l_orderkey * 8 + l_linenumber AS id,
           l_orderkey, l_partkey, l_quantity, l_extendedprice, l_discount,
           l_shipdate
    FROM lineitem
    ORDER BY l_orderkey * 8 + l_linenumber,
             l_orderkey NULLS FIRST, l_partkey NULLS FIRST,
             l_quantity NULLS FIRST, l_extendedprice NULLS FIRST,
             l_discount NULLS FIRST, l_shipdate NULLS FIRST
             -- NULLS FIRST matches Spark's min(struct(...)) keeper,
             -- which sorts NULL struct fields first; DuckDB's default
             -- ASC ordering is NULLS LAST
)
SELECT date_trunc('day', od.l_shipdate)                 AS stt,
       date_trunc('day', od.l_shipdate) + INTERVAL 1 DAY AS edt,
       p.p_brand                                        AS trademark_name,
       p.p_type                                         AS category_name,
       COUNT(DISTINCT od.l_orderkey)                    AS order_count,
       CAST(SUM(CAST(od.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                                                        AS sku_num,
       CAST(SUM(CAST(od.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                                                        AS original_amount,
       CAST(SUM(CAST(od.l_extendedprice AS DECIMAL(18,2))
                * CAST(od.l_discount AS DECIMAL(18,2))) AS DOUBLE)
                                                        AS activity_reduce_amount,
       CAST(SUM(CAST(od.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(od.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                                                        AS order_amount
FROM od
JOIN part p ON od.l_partkey = p.p_partkey
GROUP BY 1, 2, 3, 4
""",
    tags=("A1", "A2", "A7", "J5", "W1"),
)
def dws_trade_sku_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP — sku-grain order window with dim enrichment.

    Reference: DwsTradeSkuOrderWindow.java:44-194 — keyed diff-state dedup of
    re-emitted order_detail upserts (A1, :77-118), 10 s tumbling sums of four
    BigDecimal amounts (A2, :120-149), then the sku->spu->trademark->category
    dim chain via Redis/HBase async lookups (J5, Async/SyncCache variants).
    Spark-first: a deterministic keeper per id under watermark replaces
    diff-state (the reference's dedup exists to net out duplicate upsert
    emissions). min(struct(payload)) is the keeper rule: unlike
    dropDuplicates (arbitrary row, partition-order dependent) it is stable
    under any partitioning AND partial-aggregable — map-side combine
    shrinks the dedup shuffle, no window sort. ONE broadcast hash join
    against the dim table replaces cache+async I/O; 1-day tumbling windows
    by trademark/category.
    """
    payload = ["order_id", "sku_id", "sku_num", "order_price", "discount",
               "create_time"]
    # Explicit hash distribution by id: collapses the loader's spread
    # shuffle (CollapseRepartition) and makes the dedup a single-phase agg
    # on already-distributed data — upsert re-emissions are rare, so a
    # map-side partial pass over mostly-unique ids is wasted work.
    od = (
        T.order_detail(spark, sf_dir, spread=False)
        .repartition(F.col("id"))
        .groupBy("id")
        .agg(F.min(F.struct(*payload)).alias("s"))
        .select("id", "s.*")
    )
    p = T.load(spark, sf_dir, "part", spread=False)
    return (
        od.join(F.broadcast(p), od.sku_id == p.p_partkey)
        .groupBy(
            F.window("create_time", "1 day").alias("w"),
            F.col("p_brand").alias("trademark_name"),
            F.col("p_type").alias("category_name"),
        )
        .agg(
            F.countDistinct("order_id").alias("order_count"),
            F.sum("sku_num").cast("double").alias("sku_num"),
            F.sum("order_price").cast("double").alias("original_amount"),
            F.sum(F.col("order_price") * F.col("discount"))
            .cast("double")
            .alias("activity_reduce_amount"),
            F.sum(F.col("order_price") * (F.lit(1) - F.col("discount")))
            .cast("double")
            .alias("order_amount"),
        )
        .select(
            F.col("w.start").alias("stt"),
            F.col("w.end").alias("edt"),
            "trademark_name",
            "category_name",
            "order_count",
            "sku_num",
            "original_amount",
            "activity_reduce_amount",
            "order_amount",
        )
    )


# ---------------------------------------------------------------------------
# DwsTradeProvinceOrderWindow — A2 + distinct-set count A7 + dim chain J5
# ---------------------------------------------------------------------------
@query(
    "dws_trade_province_order_window",
    oracle="""
SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS cur_month,
       n.n_name                                         AS province_name,
       r.r_name                                         AS region_name,
       COUNT(DISTINCT o.o_orderkey)                     AS order_count,
       COUNT(DISTINCT o.o_custkey)                      AS user_count,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                                        AS order_amount
FROM orders o
JOIN customer c ON o.o_custkey   = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2, 3
""",
    tags=("A2", "A7", "J5"),
)
def dws_trade_province_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Province-grain monthly order aggregate with distinct order count.

    Reference: DwsTradeProvinceOrderWindow.java:82-155 — diff-state dedup,
    10 s windows summing amounts + an ``orderIdSet`` whose size is the
    distinct order count (A7), then base_province async lookup (J5). Here:
    customer->nation->region is the dim chain (broadcast joins), monthly
    buckets, COUNT(DISTINCT) replaces the hand-built set union.
    """
    o = T.load(spark, sf_dir, "orders", spread=False)
    c = T.load(spark, sf_dir, "customer", spread=False)
    n = T.load(spark, sf_dir, "nation", spread=False)
    r = T.load(spark, sf_dir, "region", spread=False)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("cur_month"),
            F.col("n_name").alias("province_name"),
            F.col("r_name").alias("region_name"),
        )
        .agg(
            F.countDistinct("o_orderkey").alias("order_count"),
            F.countDistinct("o_custkey").alias("user_count"),
            F.sum(F.col("o_totalprice").cast(T.MONEY))
            .cast("double")
            .alias("order_amount"),
        )
    )


# ---------------------------------------------------------------------------
# DwsTradeTrademarkCategoryUserRefundWindow — A7 + J5 over refunds
# ---------------------------------------------------------------------------
@query(
    "dws_trade_trademark_category_user_refund_window",
    oracle="""
SELECT date_trunc('day', l.l_shipdate)                  AS stt,
       date_trunc('day', l.l_shipdate) + INTERVAL 1 DAY AS edt,
       p.p_brand                                        AS trademark_name,
       COUNT(DISTINCT l.l_orderkey)                     AS refund_order_count,
       COUNT(DISTINCT o.o_custkey)                      AS refund_user_count,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                                                        AS refund_amount
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p   ON l.l_partkey  = p.p_partkey
WHERE l.l_returnflag = 'R'
GROUP BY 1, 2, 3
""",
    tags=("A7", "J5", "P4"),
)
def dws_trade_trademark_category_user_refund_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trademark-grain daily refund aggregate.

    Reference: DwsTradeTrademarkCategoryUserRefundWindow.java:52-189 —
    refund stream keyed by (trademark, category, user), orderIdSet union for
    distinct orders (A7), 5 s windows, then trademark/category dim lookups
    (J5 chain). Here: returned lineitems (l_returnflag='R'), part broadcast
    join for the trademark dim, daily windows.
    """
    l = T.load(spark, sf_dir, "lineitem", spread=False).filter(F.col("l_returnflag") == "R")
    o = T.load(spark, sf_dir, "orders", spread=False)
    p = T.load(spark, sf_dir, "part", spread=False)
    # orders is a fact: shuffle_hash (see dwd_trade_order_detail's scale
    # note); only the part dim stays broadcast
    return (
        l.join(o.hint("shuffle_hash"), l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(
            F.window("l_shipdate", "1 day").alias("w"),
            F.col("p_brand").alias("trademark_name"),
        )
        .agg(
            F.countDistinct("l_orderkey").alias("refund_order_count"),
            F.countDistinct("o_custkey").alias("refund_user_count"),
            F.sum(F.col("l_extendedprice").cast(T.MONEY))
            .cast("double")
            .alias("refund_amount"),
        )
        .select(
            F.col("w.start").alias("stt"),
            F.col("w.end").alias("edt"),
            "trademark_name",
            "refund_order_count",
            "refund_user_count",
            "refund_amount",
        )
    )
