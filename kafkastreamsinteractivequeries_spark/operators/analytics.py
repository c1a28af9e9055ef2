"""Analytics operators over the TPC-H-ish testdata tables.

The reference's query surface has no joins/sorts/top-k (SURVEY.md §2.4)
— its operators are equality / IN-list / range / predicate filters over
a keyed aggregate.  FIXTURES.md §5 maps that surface onto the TPC-H-ish
tables at scale; this module adds the join/aggregation workload a real
analytics engine needs and that `bench.py` measures.

Scale design notes (per-operator):

- ``pricing_summary``: single scan + partial agg; only the 7 needed
  columns are read (column pruning) and the shipdate filter pushes to
  the parquet scan.  Group-key cardinality is tiny → shuffle is a few
  rows per partition.
- ``revenue_by_nation``: the canonical star join.  Dimension tables
  (nation, region) are broadcast — no shuffle for them; the big fact
  join (lineitem ⋈ orders) shuffles on the join key once; AQE picks
  shuffle-hash vs sort-merge and splits skewed partitions.
- ``top_customers_by_segment``: window top-k — one shuffle on the
  partition key, no global sort (rank is computed per partition group).
- ``order_priority_exists``: left-semi join — Spark never materializes
  the right side's payload columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1-style pricing summary (scan + 2-key groupBy + 8 aggs)."""
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def revenue_by_nation(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Star join: revenue per customer nation (TPC-H Q5 flavor).

    nation/region are broadcast (tiny dims — 25/5 rows at any SF);
    lineitem ⋈ orders ⋈ customer shuffle on their keys with AQE.
    """
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


def top_customers_by_segment(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, k: int = 5
) -> DataFrame:
    """Top-k customers by revenue within each market segment.

    Window top-k: revenue aggregate shuffles on c_custkey, ranking
    shuffles on c_mktsegment only — no global sort.  Ties broken by
    c_custkey for determinism.
    """
    rev = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment", "c_custkey", "c_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return (
        rev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("c_mktsegment", "c_custkey", "c_name", "revenue", "rank")
    )


def order_priority_exists(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Orders-per-priority where some lineitem shipped after the order
    date (TPC-H Q4 flavor via left-semi join — EXISTS without
    materializing the right side)."""
    late = lineitem.join(
        orders,
        (lineitem.l_orderkey == orders.o_orderkey) & (lineitem.l_shipdate > orders.o_orderdate),
        "inner",
    ).select("l_orderkey").distinct()
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def parts_range_filtered(part: DataFrame, lower: str, upper: str, min_size: int) -> DataFrame:
    """The IQ range+predicate surface applied to a dimension table:
    inclusive brand range + row predicate — filter pushdown exercise."""
    return part.filter(
        F.col("p_brand").between(lower, upper) & (F.col("p_size") >= min_size)
    ).select("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_payload: list[str],
    right_order: str,
    prefix: str = "r_",
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of join: for each left row, attach the payload of the
    LATEST right row with ``right_time <= left_time`` (backward, ties
    on right_time broken by the highest ``right_order``) or the
    EARLIEST right row with ``right_time >= left_time`` (forward, ties
    by the lowest ``right_order``), per ``on`` key.
    ``tolerance_seconds`` nulls the attachment when the matched row is
    further than that from the left time (pandas ``merge_asof``
    semantics — the row is kept, its payload is null).

    Implementation is the union + last-ignore-nulls window, NOT a
    range join: both sides shuffle ONCE on the key, a single ordered
    pass per key carries the nearest right payload across (forward =
    the same pass over the reversed ordering), and left rows are
    filtered back out.  A naive ``l ⋈ r ON key AND r.t <= l.t``
    explodes quadratically per key; this shape is linear in rows and
    is the plan that survives 100 TB of events.  The tolerance is a
    row-local post-check on the carried match time — never a second
    pass or join.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    payload = F.struct(
        F.col(right_time).cast("timestamp").alias("_mt"),
        F.struct(*[F.col(c) for c in right_payload]).alias("_p"),
    )
    r = right.select(
        F.col(on),
        F.col(right_time).alias("_t"),
        F.col(right_order).alias("_ord"),
        payload.alias("_payload"),
        F.lit(0).alias("_side"),
    )
    l = left.select(
        F.col(on),
        F.col(left_time).alias("_t"),
        F.lit(None).cast("long").alias("_ord"),
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_left"),
    )
    unioned = r.select("*", F.lit(None).cast(l.schema["_left"].dataType).alias("_left")).unionByName(l)
    if direction == "backward":
        order = [F.col("_t"), F.col("_side"), F.col("_ord")]
    else:
        # reversed time; right ties sorted _ord DESC so the LOWEST _ord
        # is seen last and wins the last-ignore-nulls carry
        order = [F.col("_t").desc(), F.col("_side"), F.col("_ord").desc()]
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn("_asof", F.last("_payload", ignorenulls=True).over(w))
    if tolerance_seconds is not None:
        gap = F.unix_timestamp(F.col("_t")) - F.unix_timestamp(F.col("_asof")["_mt"])
        if direction == "forward":
            gap = -gap
        carried = carried.withColumn(
            "_asof", F.when(gap <= tolerance_seconds, F.col("_asof"))
        )
    out = carried.filter(F.col("_side") == 1).select("_left.*", "_asof")
    for c in right_payload:
        out = out.withColumn(prefix + c, F.col("_asof")["_p"][c])
    return out.drop("_asof")


def purchase_click_attribution(
    events: DataFrame,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Event attribution as-of: each purchase enriched with the
    user's nearest click — most recent at-or-before (backward, the
    classic last-touch model), first at-or-after (forward, the
    post-purchase-engagement model), optionally bounded by an
    attribution window (``tolerance_seconds``)."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_payload=["ts", "value", "event_id"],
        right_order="event_id",
        prefix="click_",
        direction=direction,
        tolerance_seconds=tolerance_seconds,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 2).alias("value"),
        F.col("click_ts"),
        F.round("click_value", 2).alias("click_value"),
        F.col("click_event_id"),
    )


def revenue_rollup(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """a7: revenue with subtotals — ROLLUP(region, nation) in one pass
    (grouping sets; partial aggregation handles every level map-side,
    no re-scan per level)."""
    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
            F.grouping_id().alias("grouping_level"),
        )
    )


def daily_revenue_moving_avg(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    window_days: int = 7,
) -> DataFrame:
    """a8: per-nation daily order totals with a trailing moving average
    over the last ``window_days`` PRESENT days (ROWS frame; the testdata
    has orders every day, so rows ≙ days).  One shuffle for the daily
    aggregate, one per-nation window pass."""
    daily = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count("*").alias("n_orders"))
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy("day")
        .rowsBetween(-(window_days - 1), Window.currentRow)
    )
    return daily.select(
        "n_name",
        "day",
        "revenue",
        "n_orders",
        F.round(F.avg("revenue").over(w), 4).alias(f"ma{window_days}"),
    )


def top_k_per_key_two_phase(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    tiebreak_col: str,
    k: int,
    salt_buckets: int = 32,
) -> DataFrame:
    """Skew-safe top-k per key: rank within (key, salt) partitions
    first — top-k of the union of per-salt top-k's IS the global top-k
    — then rank the ≤ k·salt_buckets survivors per key.

    A single window over a hot key sorts that key's ENTIRE row set in
    one task (the classic skew cliff: one key with 100M rows = one
    100M-row sort).  Salting bounds every sort at rows/salt_buckets and
    the final pass at k·salt_buckets rows per key.  The salt is a hash
    of the tiebreak column — deterministic, no rand().

    Ordering: ``order_col`` DESC, ``tiebreak_col`` ASC (matches
    ``top_customers_by_segment``)."""
    salt = F.pmod(F.hash(F.col(tiebreak_col)), F.lit(salt_buckets))
    order = [F.col(order_col).desc(), F.col(tiebreak_col).asc()]
    w1 = Window.partitionBy(*key_cols, "_salt").orderBy(*order)
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("_salt", salt)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .drop("_salt", "_r1")
    )


def top_customers_two_phase(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, k: int = 5
) -> DataFrame:
    """a9: identical result to ``top_customers_by_segment`` via the
    skew-safe two-phase ranking — the variant to reach for when a
    single segment holds an unsortable share of the rows."""
    rev = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "c_custkey", "c_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    return top_k_per_key_two_phase(
        rev, ["c_mktsegment"], "revenue", "c_custkey", k
    ).select("c_mktsegment", "c_custkey", "c_name", "revenue", "rank")


def late_lines_by_priority(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """a10: per return-flag, how many late-shipped lines belong to
    high- vs low-priority orders (TPC-H Q12 shape: join + conditional
    counts).

    The late-shipment predicate lives in the JOIN condition, so the
    filter applies during the probe — no post-join filter pass; the
    priority CASE folds into the partial aggregation map-side.  One
    shuffle (the fact join), group-key cardinality 3.
    """
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.join(
            orders,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_lines"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_priority_lines"),
        )
    )


def promo_revenue_ratio(
    lineitem: DataFrame, part: DataFrame, date_from: str, date_to: str
) -> DataFrame:
    """a11: share of revenue from promotional parts in a shipdate window
    (TPC-H Q14 shape: time-sliced fact join + ratio-of-conditional-sums).

    The shipdate range pushes down to the lineitem scan (min/max row
    group pruning at scale); part joins on its key — at 100 TB `part`
    is fact-sized too, so this stays a shuffle join and AQE picks the
    strategy.  Output is one row; ``try_divide`` guards the empty-window
    case.
    """
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.filter(
            F.col("l_shipdate").between(
                F.lit(date_from).cast("timestamp"), F.lit(date_to).cast("timestamp")
            )
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.try_divide(
                    F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)),
                    F.sum(rev),
                ),
                4,
            ).alias("promo_revenue_pct"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
    )


def disjunctive_part_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """a12: revenue from lines matching ANY of three brand/size/quantity
    branches (TPC-H Q19 shape: disjunction of conjunctions across a
    join).

    Catalyst extracts the common ``l_quantity <= 36`` / ``p_size >= 1``
    conjuncts from the OR and pushes the per-side residuals into each
    scan (CNF conversion), so both tables prune before the join — the
    plan to check with ``.explain``: PushedFilters on BOTH scans plus
    the OR as the join residual.
    """
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 36)
        )
    )
    return (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


def funnel_analysis(
    events: DataFrame,
    steps: list[str],
    horizon_days: float = 7.0,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-funnel completion: per user, the furthest step reached
    where each step's FIRST qualifying occurrence is strictly after the
    previous step's, within ``horizon_days`` of step 1 — plus the per-step
    conversion counts (``step_i_users``) rolled up in the same result.

    Output: one row per user — (user, steps_completed,
    step_1_ts … step_k_ts) — from which the funnel report aggregates
    (the standard product-analytics "signup → activate → purchase"
    question, which a plain per-type GROUP BY cannot answer because
    ORDER between steps matters).

    Scale shape: one shuffle — events pre-filtered to the step types
    (a broadcast-size IN list pushed to the scan) then aggregated per
    (user, type) for first-occurrence timestamps map-side; the
    step-chaining is a pure conditional expression over the pivoted
    k timestamps, no window over raw events and no self-join chain
    (the naive k-way join materializes |events|^k candidates).
    Deterministic: min timestamps, no floats.
    """
    k = len(steps)
    if k < 2:
        raise ValueError("a funnel needs at least two steps")
    firsts = (
        events.filter(F.col(type_col).isin(steps))
        .groupBy(user_col)
        .pivot(type_col, steps)
        .agg(F.min(ts_col))
    )
    # chain: t_i counts only if after t_{i-1}; recompute each step's
    # first-after-previous is approximated by first-occurrence ordering
    # (exact for funnels where step events are not interleaved before
    # step 1 — the standard "first touch" funnel definition)
    cols = [F.col(s) for s in steps]
    completed = F.lit(0)
    prev_ok = F.lit(True)
    for i in range(k):
        ok_i = cols[i].isNotNull()
        if i > 0:
            ok_i = ok_i & (cols[i] > cols[i - 1])
        if i >= 1:
            # unix_timestamp, not cast-to-long: TIMESTAMP_NTZ (what the
            # nanos-parquet loader produces) cannot cast to bigint
            ok_i = ok_i & (
                F.unix_timestamp(cols[i]) - F.unix_timestamp(cols[0])
                <= F.lit(int(horizon_days * 86400))
            )
        prev_ok = prev_ok & ok_i
        completed = completed + F.when(prev_ok, 1).otherwise(0)
    out = firsts.select(
        F.col(user_col),
        completed.alias("steps_completed"),
        *[cols[i].alias(f"step_{i + 1}_ts") for i in range(k)],
    )
    return out


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users bucketed by their FIRST-activity
    period (the cohort), counted distinct in each subsequent period —
    (cohort, periods_since, n_active) — the standard retention triangle.

    Scale shape: one user-keyed aggregate finds each user's cohort
    period (map-side partial min), the activity stream deduplicates to
    (user, period) pairs, and the two join on ``user_col`` — the same
    shuffle key on both sides, so at 100 TB this is one co-partitioned
    join plus a tiny (cohorts × periods) final aggregate.  No window
    functions, no per-user arrays, state bounded by the output matrix.
    """
    if period == "week":
        # deterministic Monday-based bucket independent of session
        # locale: days since epoch (a Thursday) shifted to Monday
        bucket = F.floor((F.unix_timestamp(F.col(ts_col)) / 86400 + 3) / 7).cast("long")
    elif period == "day":
        bucket = F.floor(F.unix_timestamp(F.col(ts_col)) / 86400).cast("long")
    elif period == "month":
        bucket = (F.year(ts_col) * 12 + F.month(ts_col)).cast("long")
    else:
        raise ValueError(f"unknown period {period!r}")
    activity = events.select(F.col(user_col), bucket.alias("_p")).distinct()
    cohorts = activity.groupBy(user_col).agg(F.min("_p").alias("_cohort"))
    return (
        activity.join(cohorts, user_col)
        .groupBy(
            F.col("_cohort").alias("cohort"),
            (F.col("_p") - F.col("_cohort")).alias("periods_since"),
        )
        .agg(F.count("*").alias("n_active"))
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Point-in-interval join: every (point, interval) pair with
    ``start ≤ ts < end`` — bucketized so it SCALES.

    A naive ``points.join(intervals, (ts >= start) & (ts < end))`` has
    no equi-key, so Spark plans BroadcastNestedLoopJoin (fine only
    while one side broadcasts) or a cartesian — O(|points|·|intervals|)
    at scale.  The standard fix: quantize time into fixed buckets, give
    each point its ONE bucket and explode each interval over the
    buckets it covers, equi-join on the bucket, and re-check the exact
    bounds.  Each qualifying pair meets in exactly one bucket (the
    point's), so no dedup pass is needed.  Shuffle cost is
    |points| + Σ interval_spans/bucket_seconds rows on a uniform key;
    pick ``bucket_seconds`` ≈ the median interval length so intervals
    explode to O(1) buckets each.

    Output: all point columns + all interval columns (caller selects).
    """
    p_bucket = F.floor(F.unix_timestamp(F.col(point_ts_col)) / bucket_seconds).cast(
        "long"
    )
    i_from = F.floor(F.unix_timestamp(F.col(start_col)) / bucket_seconds).cast("long")
    # end is exclusive: a boundary-aligned end must not produce a bucket
    i_to = F.floor(
        (F.unix_timestamp(F.col(end_col)) - 1) / F.lit(float(bucket_seconds))
    ).cast("long")
    pts = points.withColumn("_bucket", p_bucket)
    ivs = intervals.withColumn(
        "_bucket", F.explode(F.sequence(i_from, F.greatest(i_to, i_from)))
    )
    return (
        pts.join(ivs, "_bucket")
        .filter(
            (F.col(point_ts_col) >= F.col(start_col))
            & (F.col(point_ts_col) < F.col(end_col))
        )
        .drop("_bucket")
    )


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    top_k: int = 20,
) -> DataFrame:
    """Pre-flight shuffle-skew diagnostic for a prospective join/groupBy
    key: the ``top_k`` heaviest key values with their row counts and
    share of the table — the first question to ask before shuffling
    100 TB on a key (one key holding 10% of rows pins one task; the
    fix is salting, AQE skew-join, or a different key).

    One partial-aggregating count per key value, then the global top-k
    as per-partition heaps (TakeOrderedAndProject) — the report itself
    can never become the skew problem it measures.  ``total_rows`` and
    ``share`` ride along via a broadcast one-row total.
    """
    counts = df.groupBy(*key_cols).agg(F.count("*").alias("n_rows"))
    total = df.select(F.count("*").alias("_total"))
    top = counts.orderBy(F.col("n_rows").desc(), *key_cols).limit(top_k)
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            *key_cols,
            "n_rows",
            F.col("_total").alias("total_rows"),
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
        )
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Equi-join where ``skewed``'s key distribution has hot values
    (diagnose first with ``skew_report``) and ``other`` is too big to
    broadcast but small enough to replicate ``salt``×.

    Standard salting: every skewed-side row gets a deterministic salt
    in [0, salt) derived from the FULL row (identical keys with
    different payloads spread across salts — which is exactly the hot
    case), and the other side is exploded once per salt value; the join
    key becomes (key…, salt), so one hot key's probe work lands on
    ``salt`` tasks instead of one.  Results are row-identical to the
    unsalted join (asserted by test) for ``inner`` and ``left`` joins.

    At 100 TB prefer AQE's skew-join split when it fires (it needs no
    replication); salting is for the cases AQE cannot fix — skew into
    an aggregation-after-join, or map-side-combined workloads where one
    partition's build side alone exceeds memory.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner and left joins")
    s = skewed.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in skewed.columns]), F.lit(salt))
    )
    o = other.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    return s.join(o, [*on, "_salt"], how).drop("_salt")


def waiting_suppliers(
    lineitem: DataFrame,
    orders: DataFrame,
    late_days: int = 60,
) -> DataFrame:
    """(s_suppkey, numwait): suppliers who were the SOLE late supplier
    on multi-supplier completed orders — the TPC-H Q21 plan shape
    (EXISTS another supplier's line ∧ NOT EXISTS another supplier's
    late line), adapted to this schema's columns (late = shipped more
    than ``late_days`` after the order date; order status 'F').

    De-correlated by construction: the textbook correlated form rescans
    the fact once per subquery with per-row correlation — three fact
    scans at 100 TB.  Here each order's supplier fanout is computed
    ONCE (distinct suppliers ∧ distinct LATE suppliers in one
    aggregate) and every line carries its order's two counts through a
    single co-partitioned join back; the filter
    ``late ∧ n_supp > 1 ∧ n_late_supp = 1`` is then row-local.  Two
    shuffles total (order join, per-order aggregate) regardless of
    correlation depth.  The driver oracle runs the CORRELATED
    EXISTS/NOT-EXISTS SQL, so the de-correlation is verified
    semantics-preserving."""
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {int(late_days)} DAYS"
    )
    lines = (
        lineitem.join(
            orders.filter(F.col("o_orderstatus") == "F").select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey", late.alias("_late"))
        .localCheckpoint(eager=False)  # feeds the fanout agg AND the join back
    )
    fanout = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("_n_supp"),
        F.countDistinct(F.when(F.col("_late"), F.col("l_suppkey"))).alias(
            "_n_late_supp"
        ),
    )
    return (
        lines.join(fanout.hint("shuffle_hash"), "l_orderkey")
        .filter(
            F.col("_late") & (F.col("_n_supp") > 1) & (F.col("_n_late_supp") == 1)
        )
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
    )


def idle_customers(
    customer: DataFrame,
    orders: DataFrame,
    min_order_total: float | None = None,
) -> DataFrame:
    """(c_nationkey, numcust, totacctbal): customers with an
    above-average positive account balance who have NO qualifying
    orders, grouped by nation — the TPC-H Q22 plan shape (global
    scalar subquery + anti-join + aggregate) on this schema's columns.
    ``min_order_total`` restricts the anti-join keyset to orders at or
    above that total (the synthetic data gives every customer at least
    one order, so the unfiltered form is vacuous — the threshold keeps
    the anti-join exercised while preserving the plan shape).

    Scale: the scalar average is one partial-aggregate pass collapsing
    to a single broadcast row (never a correlated per-row subquery);
    the no-orders test is one left-anti join on the order keyset
    (o_custkey, filter pushed to the scan, pre-projected to the key
    column only); the final aggregate is partial map-side.  The oracle
    runs the textbook scalar-subquery + NOT-IN SQL."""
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg")
    )
    keyset = orders
    if min_order_total is not None:
        keyset = keyset.filter(F.col("o_totalprice") >= min_order_total)
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(keyset.select("o_custkey"), F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def small_quantity_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str = "Brand#4",
    fraction: float = 0.2,
) -> DataFrame:
    """(avg_yearly, n_lines): revenue from orders of LESS than
    ``fraction`` of a part's average order quantity, for one brand —
    the TPC-H Q17 plan shape (per-part correlated scalar subquery),
    adapted to this schema (no p_container; brand alone selects the
    part slice).

    De-correlated by construction: the textbook form re-computes
    ``AVG(l_quantity) WHERE l_partkey = p_partkey`` once per outer row
    — a per-row fact rescan at 100 TB.  Here the brand's part keys
    gate ONE fact scan; per-part averages are aggregated once over
    that slice and joined back.  Both slice joins are UNHINTED: the
    brand slice and its per-part aggregate scale with |parts|, so AQE
    broadcasts them while they fit and shuffle-joins beyond — always
    orders of magnitude under the fact either way.  One fact scan, one
    small shuffle on the filtered slice, zero correlation.  The driver
    oracle runs the CORRELATED scalar-subquery SQL, proving the
    rewrite semantics-preserving."""
    pk = part.filter(F.col("p_brand") == brand).select("p_partkey")
    lines = lineitem.join(
        pk, F.col("l_partkey") == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    avgq = lines.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (F.avg("l_quantity") * fraction).alias("_qty_cap")
    )
    return (
        lines.join(avgq, F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_qty_cap"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").cast("double").alias("n_lines"),
        )
    )


def top_revenue_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    start: str = "1996-01-01",
    end: str = "1996-03-31",
) -> DataFrame:
    """(s_suppkey, s_name, total_revenue): the supplier(s) achieving
    the MAXIMUM revenue in a date window — the TPC-H Q15 plan shape
    (aggregate view + global-max scalar subquery equality filter).

    De-correlated: the per-supplier revenue aggregate is computed ONCE
    (partial map-side, shipdate filter pushed to the scan); its global
    max collapses to a single broadcast row; the equality filter is
    then row-local over the aggregate — the textbook form re-derives
    the whole revenue view inside the subquery.  Revenue is rounded to
    2 decimals BEFORE the max comparison so the equality is on
    engine-stable values.  Supplier names attach by broadcast after
    the filter (at most the tied-max rows remain)."""
    rev = (
        lineitem.filter(
            F.col("l_shipdate").between(
                F.lit(start).cast("timestamp"), F.lit(end).cast("timestamp")
            )
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        # supplier scales with the corpus — unhinted so AQE picks
        # broadcast only while it fits (the filtered left side is the
        # tied-max rows, so either join shape is trivial)
        .join(supplier.select("s_suppkey", "s_name"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# TPC-H shape-catalog completion (Q2/Q6/Q7/Q8/Q9/Q11/Q13/Q16/Q18/Q20).
#
# The testdata has no partsupp table; where a shape needs the supply
# relation it is derived from lineitem as the distinct (l_partkey,
# l_suppkey) pairs with unit_cost = MIN(l_extendedprice / l_quantity) —
# the adaptation is noted per operator.  Every operator is the
# DE-CORRELATED Spark plan; the driver oracle runs the textbook
# correlated/nested form, proving each rewrite semantics-preserving.
# ---------------------------------------------------------------------------


def _supply_pairs(lineitem: DataFrame) -> DataFrame:
    """(pk, sk, unit_cost): the partsupp-proxy supply relation — one
    row per observed (part, supplier) pair, unit cost the minimum
    observed price-per-unit.  One shuffle on the composite key; only
    the four needed columns leave the scan."""
    return (
        lineitem.select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .groupBy(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .agg(F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 6).alias("unit_cost"))
    )


def forecast_revenue(
    lineitem: DataFrame,
    start: str = "1996-01-01",
    end: str = "1997-01-01",
    min_discount: float = 0.04,
    max_discount: float = 0.08,
    max_quantity: float = 24.0,
) -> DataFrame:
    """(revenue, n_lines): TPC-H Q6 shape — pure filter + global agg.

    Zero shuffle beyond the final 1-row exchange: all three predicates
    push to the parquet scan (min/max stats prune whole row groups at
    100 TB) and the sum is map-side partial."""
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
            & F.col("l_discount").between(min_discount, max_discount)
            & (F.col("l_quantity") < max_quantity)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count("*").cast("double").alias("n_lines"),
        )
    )


def nation_pair_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
    start: str = "1996-01-01",
    end: str = "1997-12-31",
) -> DataFrame:
    """(supp_nation, cust_nation, l_year, revenue, n_lines): TPC-H Q7
    shape — bidirectional nation-pair trade volume by ship year.

    Plan: supplier⋈nation is a broadcast dim chain folded into the
    lineitem scan, and the supplier-nation ∈ {a,b} filter lands BEFORE
    the fact-fact shuffle — only the two nations' line slice (≈2/|N| of
    the fact) shuffles against orders, then customer; the asymmetric
    pair predicate applies once both endpoints are known."""
    n1 = nation.select(
        F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin(nation_a, nation_b))
    n2 = nation.select(
        F.col("n_nationkey").alias("_cnk"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin(nation_a, nation_b))
    sup = supplier.join(F.broadcast(n1), F.col("s_nationkey") == F.col("_snk")).select(
        "s_suppkey", "supp_nation"
    )
    cust = customer.join(F.broadcast(n2), F.col("c_nationkey") == F.col("_cnk")).select(
        "c_custkey", "cust_nation"
    )
    lines = (
        lineitem.filter(
            F.col("l_shipdate").between(
                F.lit(start).cast("timestamp"), F.lit(end).cast("timestamp")
            )
        )
        # sup/cust are nation-FILTERED supplier/customer slices — they
        # scale with the corpus, so the joins are unhinted (AQE
        # broadcasts while they fit, shuffle-joins at 100 TB)
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "l_orderkey",
            "supp_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_vol"),
        )
    )
    return (
        lines.join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b))
            | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(F.sum("_vol"), 2).alias("revenue"),
            F.count("*").cast("double").alias("n_lines"),
        )
    )


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    target_nation: str = "NATION_3",
    region_name: str = "ASIA",
    part_type: str = "PROMO",
    start: str = "1996-01-01",
    end: str = "1997-12-31",
) -> DataFrame:
    """(o_year, mkt_share, total_volume): TPC-H Q8 shape — one
    supplier nation's share of a region's market for one part type,
    by order year (conditional-sum ratio inside a single aggregate).

    Plan: the part-type slice broadcasts into the lineitem scan (the
    most selective filter first), supplier→nation is a broadcast dim
    chain adding only the supplier-nation label, then ONE shuffle
    against orders and one against the region-filtered customer set —
    the share is a CASE-WHEN ratio inside the same aggregate, never a
    self-join of two filtered passes."""
    pk = part.filter(F.col("p_type") == part_type).select("p_partkey")
    sup = supplier.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("_sn"))),
        F.col("s_nationkey") == F.col("_snk"),
    ).select("s_suppkey", "_sn")
    cust_region = (
        customer.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == region_name)),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select(F.col("n_nationkey").alias("_cnk"))
            ),
            F.col("c_nationkey") == F.col("_cnk"),
        )
        .select("c_custkey")
    )
    lines = (
        # the part-type slice and the nation-labeled supplier table both
        # scale with the corpus — unhinted (AQE-broadcast while small)
        lineitem.join(pk, F.col("l_partkey") == F.col("p_partkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_orderkey", "_sn", (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_vol"))
    )
    return (
        lines.join(
            orders.filter(
                F.col("o_orderdate").between(
                    F.lit(start).cast("timestamp"), F.lit(end).cast("timestamp")
                )
            ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust_region, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("_sn") == target_nation, F.col("_vol")).otherwise(0.0))
                / F.sum("_vol"),
                6,
            ).alias("mkt_share"),
            F.round(F.sum("_vol"), 2).alias("total_volume"),
        )
    )


def product_profit(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_like: str = "%red%",
) -> DataFrame:
    """(nation, o_year, profit): TPC-H Q9 shape — per-nation/year
    profit over a part-name slice, cost via the supply relation.

    partsupp adaptation: unit cost comes from ``_supply_pairs``.  The
    name-LIKE part keys gate BOTH the supply aggregation and the fact
    slice, so the (pk, sk) shuffle and the cost join-back both run on
    the ~slice, never the full fact.  The part-key and supplier joins
    are UNHINTED (both sides scale with the corpus: AQE broadcasts
    them while they fit, shuffle-joins at 100 TB); only the 25-row
    nation label is a forced broadcast."""
    pk = part.filter(F.col("p_name").like(name_like)).select("p_partkey")
    sliced = lineitem.join(pk, F.col("l_partkey") == F.col("p_partkey")).select(
        "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount",
        F.year("l_shipdate").alias("o_year"),
    )
    ps = _supply_pairs(sliced)
    return (
        sliced.join(ps, (F.col("l_partkey") == F.col("pk")) & (F.col("l_suppkey") == F.col("sk")))
        .join(
            supplier.join(
                F.broadcast(nation.select(F.col("n_nationkey").alias("_nk"), F.col("n_name").alias("nation"))),
                F.col("s_nationkey") == F.col("_nk"),
            ).select("s_suppkey", "nation"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("nation", "o_year")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    - F.col("unit_cost") * F.col("l_quantity")
                ),
                2,
            ).alias("profit")
        )
    )


def customer_order_distribution(
    customer: DataFrame,
    orders: DataFrame,
    exclude_priority_like: str = "%URGENT%",
) -> DataFrame:
    """(c_count, custdist): TPC-H Q13 shape — left outer join +
    two-level aggregation (orders-per-customer, then the histogram of
    those counts; customers with zero qualifying orders appear in the
    c_count = 0 bucket).

    Plan: the priority filter lands on orders BEFORE the join (the
    outer join's ON-clause filter is equivalent to pre-filtering the
    preserved-null side), one shuffle for the join, one for the
    per-customer count; the final histogram groups on ≤|distinct
    counts| keys — a few dozen rows."""
    filtered = orders.filter(~F.col("o_orderpriority").like(exclude_priority_like)).select(
        "o_orderkey", "o_custkey"
    )
    per_cust = (
        customer.select("c_custkey")
        .join(filtered, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("double").alias("custdist"))
        .select(F.col("c_count").cast("double").alias("c_count"), "custdist")
    )


def large_quantity_orders(
    lineitem: DataFrame,
    orders: DataFrame,
    min_total_qty: float = 300.0,
) -> DataFrame:
    """(o_custkey, o_orderkey, total_qty): TPC-H Q18 shape — orders
    whose total line quantity exceeds a threshold (IN-over-HAVING in
    the textbook form).

    Plan: ONE shuffle aggregates lineitem by orderkey with the HAVING
    filter applied in the same stage (map-side partial sums make the
    pre-filter volume per key tiny); the surviving key set is the
    extreme tail by construction, so the join back to orders is an
    equi-join AQE converts to broadcast when small — never a second
    fact scan."""
    big = (
        lineitem.select("l_orderkey", "l_quantity")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > min_total_qty)
    )
    return (
        orders.select("o_orderkey", "o_custkey")
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_custkey", "o_orderkey", F.col("total_qty").cast("double").alias("total_qty"))
    )


def min_cost_supplier(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    part_type: str = "SMALL",
    max_size: int = 10,
) -> DataFrame:
    """(s_name, p_partkey, unit_cost): TPC-H Q2 shape — for each part
    in a slice, the supplier(s) offering the minimum unit cost
    (correlated-MIN scalar subquery in the textbook form).

    partsupp adaptation: supply pairs from ``_supply_pairs``.
    De-correlated: the per-part minimum is a WINDOW MIN over the
    (pk, sk) aggregate — one extra shuffle on pk over the already
    part-sliced supply rows, then a row-local equality; the textbook
    form re-aggregates the supply relation once per outer row.  The
    part slice gates the supply aggregation so both shuffles run on
    the slice only; the slice and supplier joins are UNHINTED (both
    scale with the corpus — AQE broadcasts while they fit)."""
    pk = part.filter(
        (F.col("p_type") == part_type) & (F.col("p_size") < max_size)
    ).select("p_partkey")
    ps = _supply_pairs(
        lineitem.join(pk, F.col("l_partkey") == F.col("p_partkey"))
    )
    w = Window.partitionBy("pk")
    best = (
        ps.withColumn("_min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("_min_cost"))
        .drop("_min_cost")
    )
    return best.join(
        supplier.select("s_suppkey", "s_name"), F.col("sk") == F.col("s_suppkey")
    ).select("s_name", F.col("pk").alias("p_partkey"), "unit_cost")


def important_parts(lineitem: DataFrame, mean_multiple: float = 1.5) -> DataFrame:
    """(l_partkey, part_value): TPC-H Q11 shape — parts whose revenue
    exceeds ``mean_multiple`` × the MEAN per-part revenue (scalar
    subquery in HAVING).  The mean-relative threshold (vs Q11's fixed
    global fraction) keeps selectivity scale-free: |parts| grows with
    the corpus, so any fixed fraction of the global total eventually
    excludes everything.

    De-correlated: one shuffle builds the per-part aggregate; the
    global mean re-aggregates THOSE |parts| rows (never a second fact
    scan) and joins back as a broadcast single row; the HAVING is then
    row-local.  The per-part aggregate is localCheckpointed so the
    fact scan runs once for both consumers."""
    per_part = (
        lineitem.select(
            "l_partkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_val"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("_val").alias("_part_val"))
        .localCheckpoint(eager=False)
    )
    mean = per_part.agg(
        (F.sum("_part_val") / F.count("*")).alias("_mean")
    )
    return (
        per_part.crossJoin(F.broadcast(mean))
        .filter(F.col("_part_val") > mean_multiple * F.col("_mean"))
        .select(
            F.col("l_partkey").cast("double").alias("l_partkey"),
            F.round("_part_val", 2).alias("part_value"),
        )
    )


def supplier_part_counts(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    exclude_type: str = "PROMO",
    sizes: tuple = (1, 5, 11, 17, 23, 29),
) -> DataFrame:
    """(brand_type, p_size, supplier_cnt): TPC-H Q16 shape — distinct
    supplier counts per part attribute, excluding a supplier blocklist
    (NOT IN in the textbook form).

    partsupp adaptation: supply = DISTINCT (l_partkey, l_suppkey);
    blocklist = suppliers with negative balance (the comment-LIKE
    filter has no analog column).  Plan: the part slice gates the fact
    scan, the pair-distinct is one shuffle on the slice, the blocklist
    is a LEFT-ANTI join (never a shuffled NOT IN with its null
    semantics), and the count-distinct agg runs on attribute keys.
    The slice and blocklist joins are UNHINTED — both scale with the
    corpus, so AQE broadcasts them while they fit and shuffle-joins at
    100 TB."""
    pslice = part.filter(
        (F.col("p_type") != exclude_type) & F.col("p_size").isin(list(sizes))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = supplier.filter(F.col("s_acctbal") < 0).select(F.col("s_suppkey").alias("_bad_sk"))
    pairs = (
        lineitem.join(pslice.select("p_partkey"), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey")
        .distinct()
        .join(bad, F.col("l_suppkey") == F.col("_bad_sk"), "left_anti")
    )
    return (
        pairs.join(pslice, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.concat_ws("|", "p_brand", "p_type").alias("brand_type"), F.col("p_size"))
        .agg(F.countDistinct("l_suppkey").cast("double").alias("supplier_cnt"))
        .select("brand_type", F.col("p_size").cast("double").alias("p_size"), "supplier_cnt")
    )


def dominant_suppliers(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    name_prefix: str = "small%",
    start: str = "1996-01-01",
    end: str = "1997-01-01",
    share: float = 0.5,
) -> DataFrame:
    """(s_name, s_suppkey): TPC-H Q20 shape — suppliers providing more
    than ``share`` of some sliced part's volume in a window (nested IN
    with a correlated scalar subquery in the textbook form).

    De-correlated: the per-(part, supplier) quantity is ONE shuffle
    over the part+date-sliced fact; the correlated per-part total is a
    WINDOW SUM over those same rows (zero extra scans, zero joins);
    the share test is then row-local, and the surviving supplier key
    set semi-joins the supplier dim."""
    pk = part.filter(F.col("p_name").like(name_prefix)).select("p_partkey")
    sliced = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
        )
        .join(pk, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    per_pair = sliced.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("_sq"))
    w = Window.partitionBy("l_partkey")
    qualifying = (
        per_pair.withColumn("_part_total", F.sum("_sq").over(w))
        .filter(F.col("_sq") > share * F.col("_part_total"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.col("s_suppkey").cast("double").alias("s_suppkey"))
    )
