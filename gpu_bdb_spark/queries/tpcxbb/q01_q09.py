"""TPCx-BB q01–q09 (semantics per SURVEY.md §2.11; parameters are the
reference defaults cited per query).

The reference computes in float64 (decimals downcast,
load_test/gpu_bdb_load_test.py:30-44); these implementations keep the
stored DecimalType and cast money sums to double at the edge — verified
with the reference's 6-significant-digit tolerance (utils.py:449-477).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gpu_bdb_spark.operators.pairs import pair_counts
from gpu_bdb_spark.operators.sessionize import sessionize
from gpu_bdb_spark.queries.tpcxbb.base import Tables, click_timestamp, date_to_days
from gpu_bdb_spark.queries.tpcxbb.registry import register_q


@register_q(1)
def q01(spark: SparkSession, tables: Tables, *, category_ids=(1, 2, 3),
        store_sks=(10, 20, 33, 40, 50), min_count=50, limit=100) -> DataFrame:
    """Items frequently bought together in given stores/categories
    (reference q01:76-141; params q01_utils.py:21-25).

    Sort-parity quirk kept: ties on cnt break by the STRING form of the
    item sks (reference q01:126-141, issue #36).
    """
    ss = tables("store_sales", ["ss_item_sk", "ss_store_sk", "ss_ticket_number"],
                broadcast=False)
    item = tables("item", ["i_item_sk", "i_category_id"])
    baskets = (
        ss.filter(F.col("ss_store_sk").isin(*store_sks))
        .join(item.filter(F.col("i_category_id").isin(*category_ids)),
              ss.ss_item_sk == item.i_item_sk)
        .select("ss_ticket_number", "ss_item_sk")
    )
    pairs = pair_counts(baskets, "ss_ticket_number", "ss_item_sk", "item_sk")
    return (
        pairs.filter(F.col("cnt") > min_count)
        .orderBy(F.desc("cnt"),
                 F.col("item_sk_1").cast("string"),
                 F.col("item_sk_2").cast("string"))
        .limit(limit)
    )


def _sessionized_clicks(tables: Tables, timeout_s: int = 3600) -> DataFrame:
    """Clickstream with (user, session_seq) from timeout sessionization —
    replaces reference shuffle+per-partition kernel (q02:103-119)."""
    wcs = tables("web_clickstreams",
                 ["wcs_user_sk", "wcs_click_date_sk", "wcs_click_time_sk",
                  "wcs_item_sk"], broadcast=False)
    clicks = (
        wcs.filter(F.col("wcs_user_sk").isNotNull()
                   & F.col("wcs_item_sk").isNotNull())
        .withColumn("tstamp_inSec",
                    click_timestamp("wcs_click_date_sk", "wcs_click_time_sk"))
        .withColumn("ts", F.timestamp_seconds(F.col("tstamp_inSec")))
    )
    return sessionize(clicks, "wcs_user_sk", "ts", timeout_s,
                      tiebreak_col="wcs_item_sk")


@register_q(2)
def q02(spark: SparkSession, tables: Tables, *, item_sk=10001,
        timeout_s=3600, limit=30) -> DataFrame:
    """Items viewed in the same session as item `item_sk`
    (reference q02:60-129).

    Sessions containing `item_sk` are flagged by a window over
    (user, session), which reuses the sessionize window's user-key
    partitioning: no exchange, and the sessionize window runs once (a
    self semi-join would run it once per side).
    """
    in_session = Window.partitionBy("wcs_user_sk", "session_seq")
    return (
        _sessionized_clicks(tables, timeout_s)
        .withColumn("has_item",
                    F.max(F.col("wcs_item_sk") == item_sk).over(in_session))
        .filter(F.col("has_item") & (F.col("wcs_item_sk") != item_sk))
        .select("wcs_user_sk", "session_seq", "wcs_item_sk").distinct()
        .groupBy(F.col("wcs_item_sk").alias("item_sk_1"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("item_sk_2", F.lit(item_sk).cast("long"))
        .select("item_sk_1", "item_sk_2", "cnt")
        .orderBy(F.desc("cnt"), F.asc("item_sk_1"))
        .limit(limit)
    )


@register_q(3)
def q03(spark: SparkSession, tables: Tables, *, purchased_item=10001,
        viewed_categories=(2, 3), lookback_rows=5, within_s=864_000,
        limit=100) -> DataFrame:
    """Items viewed within the previous `lookback_rows` clicks and
    `within_s` seconds before a purchase of `purchased_item` — the Spark
    form of the reference's CUDA kernel (q03_utils.py:54-170): a
    rowsBetween(-5,-1) window + time filter, no kernel.
    """
    wcs = tables("web_clickstreams",
                 ["wcs_user_sk", "wcs_click_date_sk", "wcs_click_time_sk",
                  "wcs_item_sk", "wcs_sales_sk"], broadcast=False)
    item = tables("item", ["i_item_sk", "i_category_id"])
    clicks = (
        wcs.filter(F.col("wcs_user_sk").isNotNull()
                   & F.col("wcs_item_sk").isNotNull())
        .withColumn("ts", click_timestamp("wcs_click_date_sk",
                                          "wcs_click_time_sk"))
    )
    w = (
        Window.partitionBy("wcs_user_sk")
        .orderBy(F.col("ts").asc(), F.col("wcs_item_sk").asc())
        .rowsBetween(-lookback_rows, -1)
    )
    prev = F.collect_list(
        F.struct(F.col("ts").alias("v_ts"),
                 F.col("wcs_item_sk").alias("viewed_sk"))).over(w)
    purchases = (
        clicks.withColumn("prev", prev)
        .filter(F.col("wcs_sales_sk").isNotNull()
                & (F.col("wcs_item_sk") == purchased_item))
        .select(F.col("wcs_item_sk").alias("purchased_item"),
                F.col("ts").alias("p_ts"), "prev")
        .withColumn(
            "prev",
            F.filter("prev", lambda v: (F.col("p_ts") - v["v_ts"]) <= within_s),
        )
        .select("purchased_item", F.explode("prev").alias("v"))
        .select("purchased_item", F.col("v.viewed_sk").alias("lastviewed_item"))
    )
    viewed_ok = tables("item").filter(
        F.col("i_category_id").isin(*viewed_categories)).select("i_item_sk")
    return (
        purchases.join(F.broadcast(viewed_ok),
                       purchases.lastviewed_item == viewed_ok.i_item_sk,
                       "left_semi")
        .groupBy("purchased_item", "lastviewed_item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("lastviewed_item"))
        .limit(limit)
    )


@register_q(4)
def q04(spark: SparkSession, tables: Tables, *, timeout_s=3600) -> DataFrame:
    """Average pages per abandoned-cart session: sessions restricted to
    order/dynamic pages whose LAST such page is 'dynamic'
    (reference q04_utils.py:52-95). 1×1 result."""
    wp = tables("web_page", ["wp_web_page_sk", "wp_type"])
    wcs = tables("web_clickstreams",
                 ["wcs_user_sk", "wcs_click_date_sk", "wcs_click_time_sk",
                  "wcs_web_page_sk", "wcs_sales_sk"], broadcast=False)
    clicks = (
        wcs.filter(F.col("wcs_web_page_sk").isNotNull()
                   & F.col("wcs_user_sk").isNotNull()
                   & F.col("wcs_sales_sk").isNull())
        .withColumn("tstamp_inSec",
                    click_timestamp("wcs_click_date_sk", "wcs_click_time_sk"))
        .withColumn("ts", F.timestamp_seconds("tstamp_inSec"))
        .join(wp, F.col("wcs_web_page_sk") == wp.wp_web_page_sk)
    )
    sess = sessionize(clicks, "wcs_user_sk", "ts", timeout_s,
                      tiebreak_col="wcs_web_page_sk")
    per_session = sess.groupBy("wcs_user_sk", "session_seq").agg(
        F.count(F.lit(1)).alias("pagecount"),
        # last order/dynamic page by timestamp (reference's string-concat
        # argmax trick q04_utils.py:59-75 → max_by; ties resolve toward
        # the lexicographically larger type, matching the code-order sort)
        F.max_by(
            F.when(F.col("wp_type").isin("order", "dynamic"), F.col("wp_type")),
            F.when(F.col("wp_type").isin("order", "dynamic"),
                   F.struct(F.col("tstamp_inSec"), F.col("wp_type"))),
        ).alias("last_cart_type"),
    )
    abandoned = per_session.filter(F.col("last_cart_type") == "dynamic")
    return abandoned.agg(
        (F.sum("pagecount").cast("double") / F.count(F.lit(1))).alias(
            "sum(pagecount)/count(*)")
    )


@register_q(5)
def q05(spark: SparkSession, tables: Tables, *, category="Books",
        features_only=False):
    """Logistic regression for interest in `category` (reference q05:60-88
    one-hot + q05_utils.py:35-123 model). Returns dict payload:
    {'metrics': DataFrame, 'model': fitted model}.

    `features_only=True` returns the deterministic labeled feature frame
    (the ETL half, oracled vs DuckDB in tests/test_tpcxbb_oracle.py); the
    model itself stays metric-verified, the reference's own policy
    (utils.py:548-581)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    wcs = tables("web_clickstreams", ["wcs_item_sk", "wcs_user_sk"],
                 broadcast=False).filter(
        F.col("wcs_user_sk").isNotNull() & F.col("wcs_item_sk").isNotNull())
    item = tables("item", ["i_item_sk", "i_category", "i_category_id"])
    cust = tables("customer", ["c_customer_sk", "c_current_cdemo_sk"])
    demo = tables("customer_demographics",
                  ["cd_demo_sk", "cd_gender", "cd_education_status"])

    cat_ids = list(range(1, 8))  # i_category_id domain (reference q05:60-88)
    clicks = wcs.join(item, wcs.wcs_item_sk == item.i_item_sk)
    per_user = (
        clicks.groupBy("wcs_user_sk")
        .pivot("i_category_id", cat_ids)
        .count()
        .na.fill(0)
    )
    clicks_in_cat = (
        clicks.filter(F.col("i_category") == category)
        .groupBy("wcs_user_sk")
        .agg(F.count(F.lit(1)).alias("clicks_in_category"))
    )
    feats = (
        per_user.join(clicks_in_cat, "wcs_user_sk", "left").na.fill(0)
        .join(cust, F.col("wcs_user_sk") == cust.c_customer_sk)
        .join(demo, cust.c_current_cdemo_sk == demo.cd_demo_sk)
        .withColumn(
            "college_education",
            F.when(F.col("cd_education_status").isin(
                "Advanced Degree", "College", "4 yr Degree", "2 yr Degree"),
                1.0).otherwise(0.0))
        .withColumn("male", F.when(F.col("cd_gender") == "M", 1.0).otherwise(0.0))
    )
    # label = clicks_in_category > mean(clicks_in_category) (reference
    # q05:129-137). Global mean via broadcast 1-row agg — a partitionless
    # window would funnel every row through one task at scale.
    mean_clicks = feats.agg(
        F.avg("clicks_in_category").alias("_mean_clicks"))
    feats = feats.crossJoin(F.broadcast(mean_clicks)).withColumn(
        "label",
        F.when(F.col("clicks_in_category") > F.col("_mean_clicks"),
               1.0).otherwise(0.0))
    feature_cols = ["college_education", "male"] + [str(c) for c in cat_ids]
    if features_only:
        return feats.select(
            "wcs_user_sk", *[F.col(str(c)).cast("long").alias(str(c))
                             for c in cat_ids],
            F.col("clicks_in_category").cast("long").alias(
                "clicks_in_category"),
            "college_education", "male", "label")
    # VectorAssembler names each input it casts to double after its own
    # random uid, and the name lands in the generated code: hand it
    # doubles so that a warm call reuses the compiled classes.
    assembled = VectorAssembler(
        inputCols=feature_cols, outputCol="raw_features").transform(
        feats.withColumns({c: F.col(c).cast("double") for c in feature_cols}))
    scaled = StandardScaler(
        inputCol="raw_features", outputCol="features", withMean=True,
        withStd=True).fit(assembled).transform(assembled)
    lr = LogisticRegression(maxIter=100, regParam=0.0, labelCol="label")
    model = lr.fit(scaled)
    pred = model.transform(scaled)
    auc = BinaryClassificationEvaluator(
        labelCol="label", metricName="areaUnderROC").evaluate(pred)
    confusion = pred.groupBy("label", "prediction").count()
    metrics = spark.createDataFrame(
        [(float(auc),)], "auc double")
    return {"metrics": metrics, "confusion": confusion, "model": model}


@register_q(6)
def q06(spark: SparkSession, tables: Tables, *, year=2001, limit=100) -> DataFrame:
    """Customers with largest web-vs-store spend ratio shift year/year
    (reference q06:43-202; q06_YEAR=2001)."""
    dd = tables("date_dim", ["d_date_sk", "d_year"]).filter(
        F.col("d_year").isin(year, year + 1))

    def yearly(df, date_sk, cust_sk, list_price, wholesale, discount,
               sales_price, channel):
        amount = (F.col(list_price) - F.col(wholesale)
                  - F.col(discount) + F.col(sales_price)) / 2
        j = df.join(dd, F.col(date_sk) == dd.d_date_sk)
        return j.groupBy(F.col(cust_sk).alias("customer_sk")).agg(
            F.sum(F.when(F.col("d_year") == year, amount).otherwise(0))
            .cast("double").alias(f"{channel}_first_year_total"),
            F.sum(F.when(F.col("d_year") == year + 1, amount).otherwise(0))
            .cast("double").alias(f"{channel}_second_year_total"),
        )

    ws = yearly(
        tables("web_sales",
               ["ws_sold_date_sk", "ws_bill_customer_sk", "ws_ext_list_price",
                "ws_ext_wholesale_cost", "ws_ext_discount_amt",
                "ws_ext_sales_price"], broadcast=False),
        "ws_sold_date_sk", "ws_bill_customer_sk", "ws_ext_list_price",
        "ws_ext_wholesale_cost", "ws_ext_discount_amt", "ws_ext_sales_price",
        "web")
    ss = yearly(
        tables("store_sales",
               ["ss_sold_date_sk", "ss_customer_sk", "ss_ext_list_price",
                "ss_ext_wholesale_cost", "ss_ext_discount_amt",
                "ss_ext_sales_price"], broadcast=False),
        "ss_sold_date_sk", "ss_customer_sk", "ss_ext_list_price",
        "ss_ext_wholesale_cost", "ss_ext_discount_amt", "ss_ext_sales_price",
        "store")
    cust = tables("customer",
                  ["c_customer_sk", "c_customer_id", "c_first_name",
                   "c_last_name", "c_preferred_cust_flag", "c_birth_country",
                   "c_login", "c_email_address"])
    joined = (
        ws.filter(F.col("web_first_year_total") > 0)
        .join(ss.filter(F.col("store_first_year_total") > 0), "customer_sk")
        .withColumn("web_sales_increase_ratio",
                    F.col("web_second_year_total")
                    / F.col("web_first_year_total"))
        .withColumn("store_sales_increase_ratio",
                    F.col("store_second_year_total")
                    / F.col("store_first_year_total"))
        .join(cust, F.col("customer_sk") == cust.c_customer_sk)
    )
    return (
        joined.select(
            "web_sales_increase_ratio", "c_customer_sk", "c_first_name",
            "c_last_name", "c_preferred_cust_flag", "c_birth_country",
            "c_login", "c_email_address")
        .orderBy(F.desc("web_sales_increase_ratio"), F.asc("c_customer_sk"))
        .limit(limit)
    )


@register_q(7)
def q07(spark: SparkSession, tables: Tables, *, year=2004, month=7,
        price_ratio=1.2, having_count=10, limit=10) -> DataFrame:
    """States with ≥10 customers buying items priced ≥1.2× category average
    in a month (reference q07:32-114)."""
    item = tables("item", ["i_item_sk", "i_current_price", "i_category"],
                  broadcast=False)
    avg_price = item.groupBy("i_category").agg(
        F.avg("i_current_price").alias("avg_price"))
    pricey_items = (
        item.join(F.broadcast(avg_price), "i_category")
        .filter(F.col("i_current_price") > F.col("avg_price") * price_ratio)
        .select("i_item_sk")
    )
    dd = tables("date_dim", ["d_date_sk", "d_year", "d_moy"]).filter(
        (F.col("d_year") == year) & (F.col("d_moy") == month))
    ss = tables("store_sales", ["ss_item_sk", "ss_customer_sk",
                                "ss_sold_date_sk"], broadcast=False)
    cust = tables("customer", ["c_customer_sk", "c_current_addr_sk"])
    addr = tables("customer_address", ["ca_address_sk", "ca_state"]).filter(
        F.col("ca_state").isNotNull())
    return (
        ss.join(dd, ss.ss_sold_date_sk == dd.d_date_sk)
        .join(F.broadcast(pricey_items), ss.ss_item_sk == pricey_items.i_item_sk)
        .join(cust, ss.ss_customer_sk == cust.c_customer_sk)
        .join(addr, cust.c_current_addr_sk == addr.ca_address_sk)
        .groupBy("ca_state")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= having_count)
        .orderBy(F.desc("cnt"), F.asc("ca_state"))
        .limit(limit)
    )


@register_q(8)
def q08(spark: SparkSession, tables: Tables, *, start_date="2001-09-02",
        end_date="2002-09-02", seconds_before_purchase=259_200) -> DataFrame:
    """Web sales from sessions that read reviews ≤3 days prior (reference
    q08_utils.py:92-168 review-bounded sessions → window expressions).

    Review-session logic: keep clicks at/after each user's first review;
    session start = latest review timestamp ≤ click; a sale counts as
    'reviewed' when it happens ≤ `seconds_before_purchase` after that
    review. Output: 1 row (q08_review_sales_amount,
    no_q08_review_sales_amount) as ints (reference q08:139-147).
    """
    dd = (
        tables("date_dim", ["d_date_sk", "d_date"])
        .withColumn("d_days", date_to_days("d_date"))
        .filter(F.col("d_days").between(
            date_to_days(F.lit(start_date)), date_to_days(F.lit(end_date))))
        .select("d_date_sk")
    )
    wp = tables("web_page", ["wp_web_page_sk", "wp_type"])
    wcs = tables("web_clickstreams",
                 ["wcs_user_sk", "wcs_click_date_sk", "wcs_click_time_sk",
                  "wcs_web_page_sk", "wcs_sales_sk"], broadcast=False)
    clicks = (
        wcs.filter(F.col("wcs_user_sk").isNotNull())
        .join(dd, F.col("wcs_click_date_sk") == dd.d_date_sk)
        .join(wp, F.col("wcs_web_page_sk") == wp.wp_web_page_sk)
        .withColumn("ts", click_timestamp("wcs_click_date_sk",
                                          "wcs_click_time_sk"))
        .withColumn("is_review", F.col("wp_type") == "review")
    )
    w_all = Window.partitionBy("wcs_user_sk").orderBy(
        "ts", F.coalesce("wcs_sales_sk", F.lit(0)), "wp_type")
    first_review = F.min(F.when(F.col("is_review"), F.col("ts"))).over(
        Window.partitionBy("wcs_user_sk"))
    session_start = F.last(
        F.when(F.col("is_review"), F.col("ts")), ignorenulls=True
    ).over(w_all.rowsBetween(Window.unboundedPreceding, 0))
    reviewed_sales = (
        clicks.withColumn("first_review_ts", first_review)
        .withColumn("session_start", session_start)
        .filter(
            (F.col("ts") >= F.col("first_review_ts"))
            & F.col("wcs_sales_sk").isNotNull()
            & (F.col("wcs_sales_sk") != 0)
            & ~F.col("is_review")
            & ((F.col("ts") - F.col("session_start"))
               <= seconds_before_purchase)
        )
        .select("wcs_sales_sk")
        .distinct()
    )
    ws = tables("web_sales", ["ws_order_number", "ws_net_paid",
                              "ws_sold_date_sk"], broadcast=False)
    sales_in_year = ws.join(dd, ws.ws_sold_date_sk == dd.d_date_sk).select(
        "ws_order_number", "ws_net_paid")
    reviewed = sales_in_year.join(
        reviewed_sales,
        sales_in_year.ws_order_number == reviewed_sales.wcs_sales_sk,
        "left_semi")
    totals = sales_in_year.agg(
        F.sum("ws_net_paid").cast("double").alias("all_sales"))
    reviewed_total = reviewed.agg(
        F.sum("ws_net_paid").cast("double").alias("review_sales"))
    return reviewed_total.crossJoin(totals).select(
        F.coalesce(F.col("review_sales"), F.lit(0.0)).cast("long").alias(
            "q08_review_sales_amount"),
        (F.coalesce(F.col("all_sales"), F.lit(0.0))
         - F.coalesce(F.col("review_sales"), F.lit(0.0))).cast("long").alias(
            "no_q08_review_sales_amount"),
    )


@register_q(9)
def q09(spark: SparkSession, tables: Tables, *, year=2001) -> DataFrame:
    """Total store-sales quantity across 3 OR-ed demographic/price/profit
    slices (reference q09:68-160; params q09_utils.py:21-48). 1×1."""
    ss = tables("store_sales",
                ["ss_sold_date_sk", "ss_cdemo_sk", "ss_addr_sk",
                 "ss_quantity", "ss_sales_price", "ss_net_profit"],
                broadcast=False)
    dd = tables("date_dim", ["d_date_sk", "d_year"]).filter(
        F.col("d_year") == year)
    cd = tables("customer_demographics",
                ["cd_demo_sk", "cd_marital_status", "cd_education_status"])
    ca = tables("customer_address", ["ca_address_sk", "ca_country", "ca_state"])
    j = (
        ss.join(dd, ss.ss_sold_date_sk == dd.d_date_sk)
        .join(cd, ss.ss_cdemo_sk == cd.cd_demo_sk)
        .join(ca, ss.ss_addr_sk == ca.ca_address_sk)
    )
    demo = lambda ms, es, plo, phi: (  # noqa: E731
        (F.col("cd_marital_status") == ms)
        & (F.col("cd_education_status") == es)
        & F.col("ss_sales_price").between(plo, phi)
    )
    geo = lambda states, nlo, nhi: (  # noqa: E731
        (F.col("ca_country") == "United States")
        & F.col("ca_state").isin(*states)
        & F.col("ss_net_profit").between(nlo, nhi)
    )
    cond = (
        (demo("M", "4 yr Degree", 100, 150) & geo(("KY", "GA", "NM"), 0, 2000))
        | (demo("M", "4 yr Degree", 50, 200) & geo(("MT", "OR", "IN"), 150, 3000))
        | (demo("M", "4 yr Degree", 150, 200) & geo(("WI", "MO", "WV"), 50, 25000))
    )
    return j.filter(cond).agg(
        F.sum("ss_quantity").cast("long").alias("sum(ss_quantity)"))
