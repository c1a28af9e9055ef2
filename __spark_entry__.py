"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — one entry per implemented operator from SURVEY.md §2.
``oracle_sql()`` — DuckDB-dialect equivalent for each query.

Floating-point policy: every double-valued aggregate is rounded to 2
decimals IN BOTH the Spark query and the oracle SQL, so the driver's
value-hash comparison is stable against summation-order differences.
"""

from __future__ import annotations

import hashlib
import os
import threading
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kafkastreamsinteractivequeries_spark.operators.aggregation import aggregate_transactions
from kafkastreamsinteractivequeries_spark.operators.windows import windowed_aggregate
from kafkastreamsinteractivequeries_spark.plans.queries import (
    FilteredRangeQuery,
    KeyQuery,
    MultiKeyQuery,
    RangeQuery,
)
from kafkastreamsinteractivequeries_spark.plans.service import InteractiveQueryService
from kafkastreamsinteractivequeries_spark.sources.tables import (
    load_table,
    spread,
    transactions_from_events,
)

# ---------------------------------------------------------------------------
# Serving table: the reference's stock-aggregation state store rebuilt from
# the testdata `events` stream table (FIXTURES.md §5 mapping).
# ---------------------------------------------------------------------------


def _serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    agg = aggregate_transactions(transactions_from_events(events))
    return agg.select(
        "symbol",
        F.round("buys", 2).alias("buys"),
        F.round("sells", 2).alias("sells"),
        "number_shares",
    )


def _service(spark: SparkSession, sf_dir: str) -> InteractiveQueryService:
    return InteractiveQueryService(_serving(spark, sf_dir))


# DuckDB oracle CTE mirroring _serving exactly (same rounding).
_ORACLE_AGG_CTE = """
WITH txns AS (
  SELECT event_type AS symbol,
         (user_id % 2 = 0) AS buy,
         value AS amount,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS number_shares,
         ts AS event_time
  FROM events
),
agg AS (
  SELECT symbol,
         ROUND(SUM(CASE WHEN buy THEN amount ELSE 0.0 END), 2) AS buys,
         ROUND(SUM(CASE WHEN NOT buy THEN amount ELSE 0.0 END), 2) AS sells,
         CAST(SUM(number_shares) AS BIGINT) AS number_shares
  FROM txns GROUP BY symbol
)
"""

# Key universe in the events table: click / error / purchase / signup / view.


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the continuous per-key conditional-sum aggregate (T5)."""
    return _serving(spark, "/root/testdata/sf0.001")


# Bump when the s1 quantizer hyperparameters or the training algorithms
# change — stale cached indexes would otherwise serve old geometry.
# Train-once/serve-many memo for BOUNDED trained artifacts (models,
# codebooks, vocabularies, trajectories — never corpus-sized tables):
# the first build per (artifact, sf_dir) runs the training and caches
# the collected rows (+ schema when the artifact is a DataFrame);
# later builds recreate the identical DataFrame from the cache.  This
# is the production serving shape (ensure_knn_indexes persists the
# same way to parquet) applied to the in-process driver/bench path,
# where PySpark 4's localCheckpoint(eager=False) materializes the
# training plan at BUILD time — re-training a frozen model on every
# query construction is exactly what a serving layer must not do.
_TRAINED_MEMO: dict[tuple, object] = {}
# First-builds are serialized: two threads constructing the same query
# concurrently would otherwise both run the training (and, for the
# landed stores, both rmtree/re-land the same directory mid-read).
# Double-checked so the steady-state hit path stays lock-free-cheap.
_TRAINED_MEMO_LOCK = threading.Lock()
# Per-process tag for landed temp stores (qstream et al.): two
# PROCESSES benching the same sf_dir must not share an rmtree'd root —
# the memo only guards within-process (round-10 ADVICE).  pid alone can
# be reused after exit; the uuid suffix closes that.
_PROC_TAG = f"{os.getpid()}-{uuid.uuid4().hex[:8]}"


def _corpus_fp(d: str) -> str:
    """Cheap stat-only fingerprint of the sf_dir's documents corpus
    (size+mtime of every part).  Folded into every trained-artifact
    memo key so regenerating the data at the SAME path misses the
    cache instead of silently serving stale trained artifacts
    (round-10 ADVICE; same contract _knn_index_root already honors
    for the embeddings index)."""
    doc = os.path.join(d, "documents.parquet")
    parts = [doc]
    if os.path.isdir(doc):
        parts = sorted(
            os.path.join(doc, p) for p in os.listdir(doc) if p.endswith(".parquet")
        )
    h = hashlib.md5()
    for p in parts:
        try:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns};".encode())
        except OSError:
            h.update(f"{p}:missing;".encode())
    return h.hexdigest()[:12]


def _memo_key(key: tuple) -> tuple:
    """Fold the corpus fingerprint of any sf_dir appearing in the key."""
    return key + tuple(
        _corpus_fp(k) for k in key if isinstance(k, str) and os.path.isdir(k)
    )


def _memo(key: tuple, build: Callable[[], object]) -> object:
    key = _memo_key(key)
    got = _TRAINED_MEMO.get(key)
    if got is None:
        with _TRAINED_MEMO_LOCK:
            got = _TRAINED_MEMO.get(key)
            if got is None:
                got = _TRAINED_MEMO[key] = build()
    return got


def _memo_df(s: SparkSession, key: tuple, build_df: Callable[[], DataFrame]) -> DataFrame:
    """Memoize a BOUNDED DataFrame artifact as (rows, schema) and
    recreate it bit-identically (explicit schema — inference would
    widen ints and break the driver's schema compare)."""

    def _build():
        df = build_df()
        return (df.collect(), df.schema)

    rows, schema = _memo(key, _build)
    return s.createDataFrame(rows, schema)


_KNN_INDEX_CACHE_VERSION = "v2-pq8x16i2-ivfpq16x8x16i2-codes"


def _knn_index_root(d: str) -> str:
    import tempfile

    key = d.rstrip("/").replace("/", "_").strip("_")
    # Fold a cheap data fingerprint (size+mtime of every embeddings
    # parquet part) into the key: regenerating testdata at the SAME
    # path must miss the cache instead of serving stale index geometry
    # (round-7 ADVICE #4).  os.stat only — no data scan.
    emb = os.path.join(d, "embeddings.parquet")
    parts = [emb]
    if os.path.isdir(emb):
        parts = sorted(
            os.path.join(emb, p) for p in os.listdir(emb) if p.endswith(".parquet")
        )
    h = hashlib.md5()
    for p in parts:
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns};".encode())
    return os.path.join(
        tempfile.gettempdir(),
        f"ksiq_knn_index_{_KNN_INDEX_CACHE_VERSION}",
        f"{key}-{h.hexdigest()[:12]}",
    )


def ensure_knn_indexes(s: SparkSession, d: str) -> dict[str, DataFrame]:
    """Train-once / serve-many for the s1 quantizers AND the at-ingest
    code landings: the raw-vector PQ codebook, the IVF-PQ (coarse
    centroids, residual codebook), plus the landed ``pq_codes`` /
    ``ivfpq_codes`` tables the serving joins probe.

    Training and encoding are fully deterministic (seed vectors =
    lowest ids, means rounded to a fixed grid, argmin tie-breaks
    pinned), so a cache hit returns bit-identical tables to an in-key
    retrain+re-encode — pinned by
    ``test_knn_union_cached_index_matches_fresh_training``.  On a real
    cluster training is a separate job + ``save_index`` and codes land
    at ingest (``encode_all``-style); here the first invocation per
    sf_dir pays the 4 Lloyd iterations + two encode scans, and every
    later one (the driver's timed bench reps, each pytest session)
    loads the quantizers (KBs, broadcast) and the code tables (n×m
    skinny rows, the store a 100 TB deployment reads instead of raw
    vectors) — the serving-path cost the bench is meant to measure.
    The oracle still replays the full training trajectory AND the
    encode in SQL, so the driver hash check verifies cached ==
    retrained every round.
    """
    from kafkastreamsinteractivequeries_spark.operators import similarity as S

    root = _knn_index_root(d)
    if not os.path.exists(os.path.join(root, "_COMPLETE")):
        emb = spread(load_table(s, d, "embeddings")).localCheckpoint(eager=False)
        book = S.pq_train(emb, m=8, k=16, iterations=2)
        cent_t, book_r = S.ivfpq_train(emb, n_lists=16, m=8, k=16, iterations=2)
        stage = f"{root}~build{os.getpid()}"
        S.save_index(book, os.path.join(stage, "pq_book"))
        S.save_index(cent_t, os.path.join(stage, "ivfpq_centroids"))
        S.save_index(book_r, os.path.join(stage, "ivfpq_book"))
        S.save_index(S.pq_codes(emb, book), os.path.join(stage, "pq_codes"))
        S.save_index(
            S.ivfpq_codes(emb, cent_t, book_r), os.path.join(stage, "ivfpq_codes")
        )
        with open(os.path.join(stage, "_COMPLETE"), "w") as fh:
            fh.write(_KNN_INDEX_CACHE_VERSION + "\n")
        try:
            os.rename(stage, root)  # atomic publish
        except OSError:
            # another builder won the race; its output is bit-identical
            # (training is deterministic) — read theirs, drop ours so
            # the losing staging copy doesn't leak in /tmp
            import shutil

            shutil.rmtree(stage, ignore_errors=True)

    def _codes(name: str, cols: tuple[str, ...]) -> DataFrame:
        df = s.read.parquet(os.path.join(root, name))
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(f"bad landed code table {name}: missing {missing}")
        return df

    return {
        "pq_book": S.load_pq_codebook(s, os.path.join(root, "pq_book")),
        "ivfpq_centroids": S.load_ivf_centroids(
            s, os.path.join(root, "ivfpq_centroids")
        ),
        "ivfpq_book": S.load_pq_codebook(s, os.path.join(root, "ivfpq_book")),
        "pq_codes": _codes("pq_codes", ("vec_id", "codes")),
        "ivfpq_codes": _codes(
            "ivfpq_codes", ("vec_id", "list_id", "sub_id", "code")
        ),
    }


def knn_union(
    s: SparkSession, d: str, index: dict[str, DataFrame] | None = None
) -> DataFrame:
    """The six-branch kNN union (brute ⊕ srp16 ⊕ ivf16 ⊕ pq8x16 ⊕
    pq_rerank ⊕ ivfpq) BEFORE the localCheckpoint pin `_s1` adds for the recall
    branches.  Module-level so the plan-contract tests
    (`test_knn_union_no_corpus_shuffle`,
    `test_pq_adc_stays_columnar_with_broadcast_codebook`) can audit the
    full kNN lineage — the checkpoint boundary in the driver key
    truncates it to a Scan ExistingRDD.

    ``index``: pre-trained quantizer tables (``ensure_knn_indexes``
    shape).  Defaults to the train-once cache — the bench's timed reps
    measure the SERVING path (broadcast-load + probe + rerank), not 4
    Lloyd trainings per invocation; pass freshly-trained tables to pin
    cache == retrain (see the equality test)."""
    from kafkastreamsinteractivequeries_spark.operators import similarity as S

    if index is None:
        index = ensure_knn_indexes(s, d)
    emb = spread(load_table(s, d, "embeddings")).localCheckpoint(eager=False)
    qdf = (
        load_table(s, d, "embeddings")
        .filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
    )

    def tag(df: DataFrame, t: str, score_col: str) -> DataFrame:
        return df.select(
            F.lit(t).alias("variant"),
            "query_id",
            "vec_id",
            F.col(score_col).alias("score"),
            "rank",
        )

    brute = tag(S.knn_bruteforce(emb, qdf, k=10), "brute", "cosine")
    srp = tag(S.knn_srp(emb, qdf, k=10, num_planes=16, chunks=4), "srp16", "cosine")
    ivf = tag(S.knn_ivf(emb, qdf, k=10, n_lists=16, nprobe=4), "ivf16", "cosine")
    book = index["pq_book"]
    pq_landed = index.get("pq_codes")
    pq = tag(
        S.knn_pq_adc(emb, qdf, book, k=10, m=8, code_rows=pq_landed),
        "pq8x16",
        "adc_dist",
    )
    # the PRODUCTION PQ config: ADC candidate generation (top-40)
    # + exact cosine re-scoring of the survivors — the recall-0.97+
    # path recommended for serving, driver-verified alongside the
    # ADC-pure candidate generator.
    pqr = tag(
        S.knn_pq_adc(emb, qdf, book, k=10, m=8, rerank=40, code_rows=pq_landed),
        "pq_rerank",
        "cosine",
    )
    # the COMPOSED production index (Jégou IVF-PQ): trained coarse
    # quantizer + PQ codebook on residuals, nprobe=8/16 list pruning
    # inside the (list, sub, code) hash join, exact rerank of 100.
    # Codes come PRE-LANDED from the cache (the at-ingest landing job a
    # deployment runs once) — the serving joins probe the skinny code
    # store; raw vectors are touched only by the bounded rerank slice.
    cent_t, book_r = index["ivfpq_centroids"], index["ivfpq_book"]
    ivfpq = tag(
        S.knn_ivfpq(
            emb, qdf, cent_t, book_r, k=10, nprobe=8, m=8, rerank=100,
            code_rows=index.get("ivfpq_codes"),
        ),
        "ivfpq",
        "cosine",
    )
    return (
        brute.unionByName(srp)
        .unionByName(ivf)
        .unionByName(pq)
        .unionByName(pqr)
        .unionByName(ivfpq)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # T5 — the materialized continuous aggregate itself, widened into
    # the rollup-merge union (agg ⊕ daily ⊕ rolled ⊕ hllmerge): the
    # 100 TB maintenance half of the continuous-aggregate story.
    # 'agg' is the reference-shaped all-time state; 'daily' aggregates
    # raw directly at day grain; 'rolled' reaches the SAME rows by
    # merging hour-grain partials (operators/rollup.py) without
    # touching raw — daily and rolled share one oracle SELECT, so the
    # hash verifies merge == direct; 'hllmerge' folds hour-grain HLL
    # register tables to per-symbol estimates, hash-equal to the
    # direct-replay HLL oracle because max-merged registers ARE the
    # direct registers.
    def _t5(s: SparkSession, d: str) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators import (
            rollup as R,
            sketches as SK,
        )

        ev = load_table(s, d, "events")
        # Sums run in DECIMAL so hour-merged and direct-daily totals are
        # bit-identical (double summation is order-dependent and a
        # round-4 knife edge showed up at sf0.01); the final projection
        # casts back to double so both engines round the same bits.
        # decimal(18,6) holds sf-scale sums; widen precision at 100 TB.
        amt = F.col("amount").cast("decimal(18,6)")
        zero = F.lit(0).cast("decimal(18,6)")
        txns = transactions_from_events(ev).select(
            "symbol",
            "event_time",
            amt.alias("amount"),
            "number_shares",
            F.when(F.col("buy"), amt).otherwise(zero).alias("buy_amt"),
            F.when(~F.col("buy"), amt).otherwise(zero).alias("sell_amt"),
        )
        measures = {
            "buy_amt": ["sum"],
            "sell_amt": ["sum"],
            "amount": ["sum"],
            "number_shares": ["sum"],
        }

        def day_rows(tag: str, partials: DataFrame) -> DataFrame:
            return partials.select(
                F.lit(tag).alias("variant"),
                "symbol",
                F.date_format("bucket", "yyyy-MM-dd").alias("bucket"),
                F.round(F.col("buy_amt_sum").cast("double"), 2).alias("buys"),
                F.round(F.col("sell_amt_sum").cast("double"), 2).alias("sells"),
                F.col("number_shares_sum").cast("long").alias("number_shares"),
                # average in FLOORED MICRO-UNITS: the decimal sum scaled
                # to an exact integer, integer-divided by the count —
                # a double-division round-4 avg hit round-half edges
                # that Spark (BigDecimal HALF_UP) and DuckDB (scaled
                # double round) resolve differently.  amount ≥ 0 so
                # truncating and floor division agree.
                (F.col("amount_sum").cast("decimal(24,6)") * 1000000)
                .cast("long")
                .alias("_micros"),
                F.col("_n"),
            ).select(
                "variant",
                "symbol",
                "bucket",
                "buys",
                "sells",
                "number_shares",
                F.expr("CAST(_micros DIV _n AS DOUBLE)").alias("metric"),
            )

        agg = _serving(s, d).select(
            F.lit("agg").alias("variant"),
            "symbol",
            F.lit("all").alias("bucket"),
            "buys",
            "sells",
            "number_shares",
            F.lit(-1.0).alias("metric"),
        )
        daily = day_rows(
            "daily", R.partial_aggregate(txns, ["symbol"], "event_time", "day", measures)
        )
        rolled = day_rows(
            "rolled",
            R.merge_partials(
                R.partial_aggregate(txns, ["symbol"], "event_time", "hour", measures),
                ["symbol"],
                grain="day",
            ),
        )
        regs_hour = SK.hll_registers(
            ev.withColumn("hour", F.date_trunc("hour", "ts")),
            "user_id",
            ["event_type", "hour"],
            p=6,
        )
        hll = SK.hll_estimate(
            R.merge_hll_registers(regs_hour, ["event_type"]), ["event_type"], p=6
        ).select(
            F.lit("hllmerge").alias("variant"),
            F.col("event_type").alias("symbol"),
            F.lit("all").alias("bucket"),
            F.lit(-1.0).alias("buys"),
            F.lit(-1.0).alias("sells"),
            F.col("nonzero_buckets").cast("long").alias("number_shares"),
            F.col("distinct_estimate").alias("metric"),
        )
        return agg.unionByName(daily).unionByName(rolled).unionByName(hll)

    q["t5_stock_aggregation"] = _t5

    # Q1 — key query (point lookup), StockController.java:186-206.
    q["q1_key_query"] = lambda s, d: _service(s, d).execute(KeyQuery.with_key("purchase"))

    # Q2 — multi-key query, query/MultiKeyQuery.java:9-51.
    q["q2_multikey_query"] = lambda s, d: _service(s, d).execute(
        MultiKeyQuery.with_keys(["click", "purchase", "signup"])
    )

    # Q3 — range query, all bounded variants (QueryUtils.java:19-27) in
    # ONE tagged union so the driver's 50-key report cap still sees
    # every variant verified (no-bounds = q6 below).
    def _q3(s: SparkSession, d: str) -> DataFrame:
        svc = _service(s, d)
        variants = [
            ("both", RangeQuery.with_range("click", "signup")),
            ("lower_only", RangeQuery.with_lower_bound("error")),
            ("upper_only", RangeQuery.with_upper_bound("purchase")),
        ]
        out = None
        for tag, rq in variants:
            part = svc.execute(rq).select(F.lit(tag).alias("variant"), "*")
            out = part if out is None else out.unionByName(part)
        return out

    q["q3_range_query"] = _q3

    # Q6 — full scan (RangeQuery.withNoBounds), StoreDelegate.java:87-89.
    q["q6_full_scan"] = lambda s, d: _service(s, d).execute(RangeQuery.with_no_bounds())

    # Q4 — filtered range: JsonPath predicate compiled to a Column,
    # store/CustomQueryStore.java:68-97.  Three predicate shapes
    # (field-vs-field, string equality, numeric conjunction — the
    # golden cases of JacksonProtobufMappingProviderTest.java) in one
    # tagged union.
    def _q4(s: SparkSession, d: str) -> DataFrame:
        svc = _service(s, d)
        variants = [
            (
                "buys_gt_sells",
                FilteredRangeQuery.with_bounds("click", "view").predicate(
                    "@.buys > @.sells"
                ),
            ),
            (
                "symbol_eq",
                FilteredRangeQuery.with_bounds(None, None).predicate(
                    "@.symbol == 'purchase'"
                ),
            ),
            (
                "numeric_and",
                FilteredRangeQuery.with_bounds(None, None).predicate(
                    "@.buys > 299 && @.number_shares > 100"
                ),
            ),
        ]
        out = None
        for tag, fq in variants:
            part = svc.execute(fq).select(F.lit(tag).alias("variant"), "*")
            out = part if out is None else out.unionByName(part)
        return out

    q["q4_filtered_range"] = _q4

    # Q5 — filtered window range (dead in the reference, implemented
    # here per SURVEY.md §7 step 5): tumbling 1h windows + time bounds
    # + predicate.
    def _windowed(s: SparkSession, d: str) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.sources.tables import (
            transactions_from_events,
        )

        txns = transactions_from_events(load_table(s, d, "events"))
        w = windowed_aggregate(txns, "1 hour")
        return w.select(
            "window_start",
            "window_end",
            "symbol",
            F.round("buys", 2).alias("buys"),
            F.round("sells", 2).alias("sells"),
            "number_shares",
        )

    # One tagged union: the full windowed aggregate ('window_all'), the
    # reference's Q5 filtered-window-range over it ('filtered_range'),
    # and the HOPPING variant ('hopping': 2-hour windows sliding 1 hour
    # — every event lands in two epoch-aligned windows) — all verified
    # under one 50-cap report slot.
    def _q5(s: SparkSession, d: str) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.plans.queries import (
            FilteredWindowRangeQuery,
        )

        w = _windowed(s, d)
        query = FilteredWindowRangeQuery.with_bounds(
            "2024-01-02 00:00:00", "2024-01-05 00:00:00"
        ).predicate("@.buys > @.sells")
        txns = transactions_from_events(load_table(s, d, "events"))
        hop = windowed_aggregate(txns, "2 hours", slide="1 hour").select(
            "window_start",
            "window_end",
            "symbol",
            F.round("buys", 2).alias("buys"),
            F.round("sells", 2).alias("sells"),
            "number_shares",
        )
        return (
            w.select(F.lit("window_all").alias("variant"), "*")
            .unionByName(
                query.apply(w).select(F.lit("filtered_range").alias("variant"), "*")
            )
            .unionByName(hop.select(F.lit("hopping").alias("variant"), "*"))
        )

    q["q5_filtered_window_range"] = _q5

    # Q5 family: session windows (gap-merged) over the event stream.
    def _sessions(s: SparkSession, d: str) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.windows import event_sessions

        return event_sessions(load_table(s, d, "events"), gap="30 minutes")

    q["q7_user_sessions"] = _sessions

    # ---- analytics workload (joins / top-k / semi-join; SURVEY.md §2.4
    # notes the reference has none of these — they're the engine's
    # at-scale surface, and the bench headliners) ----
    from kafkastreamsinteractivequeries_spark.operators import analytics as A

    q["a1_pricing_summary"] = lambda s, d: A.pricing_summary(load_table(s, d, "lineitem"))
    q["a2_revenue_by_nation"] = lambda s, d: A.revenue_by_nation(
        load_table(s, d, "lineitem"),
        load_table(s, d, "orders"),
        load_table(s, d, "customer"),
        load_table(s, d, "nation"),
        load_table(s, d, "region"),
    )
    q["a3_top_customers_by_segment"] = lambda s, d: A.top_customers_by_segment(
        load_table(s, d, "lineitem"),
        load_table(s, d, "orders"),
        load_table(s, d, "customer"),
    )
    q["a4_order_priority_exists"] = lambda s, d: A.order_priority_exists(
        load_table(s, d, "orders"), load_table(s, d, "lineitem")
    )
    q["a5_parts_range_filtered"] = lambda s, d: A.parts_range_filtered(
        load_table(s, d, "part"), "Brand#1", "Brand#3", 10
    )
    # inner-asof variant (purchases with no prior click dropped): the
    # driver's row-sort comparator cannot order NULLs, so the declared
    # query keeps a NULL-free shape; the operator itself is left-asof.
    # a6 as a tagged union of the as-of DIRECTION/TOLERANCE family:
    #   'bwd'    — most recent click at-or-before (last-touch model)
    #   'fwd'    — first click at-or-after (post-purchase engagement)
    #   'bwdtol' — backward bounded to a 1-hour attribution window
    # (the tolerance nulls matches beyond the window; the NULL-free
    # projection then drops them, so the branch row count is the
    # within-window attribution rate).
    def _a6(s: SparkSession, d: str) -> DataFrame:
        ev = load_table(s, d, "events")

        def tagged(tag: str, **kw) -> DataFrame:
            return (
                A.purchase_click_attribution(ev, **kw)
                .filter(F.col("click_event_id").isNotNull())
                .select(F.lit(tag).alias("variant"), "*")
            )

        return (
            tagged("bwd", direction="backward")
            .unionByName(tagged("fwd", direction="forward"))
            .unionByName(
                tagged("bwdtol", direction="backward", tolerance_seconds=3600.0)
            )
        )

    q["a6_asof_purchase_click"] = _a6
    q["a7_revenue_rollup"] = lambda s, d: A.revenue_rollup(
        load_table(s, d, "lineitem"),
        load_table(s, d, "orders"),
        load_table(s, d, "customer"),
        load_table(s, d, "nation"),
        load_table(s, d, "region"),
    )
    q["a8_daily_revenue_ma"] = lambda s, d: A.daily_revenue_moving_avg(
        load_table(s, d, "orders"),
        load_table(s, d, "customer"),
        load_table(s, d, "nation"),
    )
    q["a9_top_customers_two_phase"] = lambda s, d: A.top_customers_two_phase(
        load_table(s, d, "lineitem"),
        load_table(s, d, "orders"),
        load_table(s, d, "customer"),
    )
    q["a10_late_lines_by_priority"] = lambda s, d: A.late_lines_by_priority(
        load_table(s, d, "lineitem"), load_table(s, d, "orders")
    )
    # a11: the two single-row revenue KPIs (Q14-shape promo ratio and
    # Q19-shape disjunctive-pushdown revenue) as ONE tagged union —
    # both plans still execute in full (and test_plans pins each one's
    # pushdown on this union), but they spend one 50-cap report slot.
    def _a11(s: SparkSession, d: str) -> DataFrame:
        # The TPC-H shape-catalog key: one branch per query SHAPE the
        # remaining TPC-H queries exercise (the other shapes are their
        # own keys: Q1=a1, Q5=a2, Q3=a3, Q4=a4, Q10=a9, Q12=a10).
        # Schema (variant, dim, value, aux): dim carries the group
        # identity for grouped shapes, NULL for scalar ones.
        NODIM = F.lit(None).cast("string").alias("dim")
        NOAUX = F.lit(None).cast("double").alias("aux")
        li, pt = load_table(s, d, "lineitem"), load_table(s, d, "part")
        promo = A.promo_revenue_ratio(li, pt, "1995-01-01", "1996-12-31").select(
            F.lit("promo_ratio").alias("variant"),
            NODIM,
            F.col("promo_revenue_pct").alias("value"),
            F.col("total_revenue").alias("aux"),
        )
        disj = A.disjunctive_part_revenue(li, pt).select(
            F.lit("disjunctive").alias("variant"),
            NODIM,
            F.col("revenue").alias("value"),
            F.col("n_lines").cast("double").alias("aux"),
        )
        # 'q21': the TPC-H Q21 correlation shape, DE-CORRELATED (each
        # order's supplier fanout computed once, EXISTS/NOT-EXISTS as
        # row-local count predicates) — the oracle runs the textbook
        # CORRELATED form, proving the rewrite semantics-preserving.
        ords = load_table(s, d, "orders")
        q21 = A.waiting_suppliers(li, ords).select(
            F.lit("q21").alias("variant"),
            NODIM,
            F.col("s_suppkey").cast("double").alias("value"),
            F.col("numwait").cast("double").alias("aux"),
        )
        # 'q22cnt'/'q22bal': the Q22 shape — global scalar subquery
        # (broadcast single row) + anti-join on the order keyset.
        cust = load_table(s, d, "customer")
        q22 = A.idle_customers(cust, ords, min_order_total=400000.0).localCheckpoint(
            eager=False
        )
        q22cnt = q22.select(
            F.lit("q22cnt").alias("variant"),
            NODIM,
            F.col("c_nationkey").cast("double").alias("value"),
            F.col("numcust").cast("double").alias("aux"),
        )
        q22bal = q22.select(
            F.lit("q22bal").alias("variant"),
            NODIM,
            F.col("c_nationkey").cast("double").alias("value"),
            F.col("totacctbal").alias("aux"),
        )
        # 'q17': per-part correlated scalar subquery (avg quantity cap),
        # de-correlated into one brand-slice aggregate joined back by
        # broadcast; oracle runs the textbook correlated form.
        q17 = A.small_quantity_revenue(li, pt).select(
            F.lit("q17").alias("variant"),
            NODIM,
            F.col("avg_yearly").alias("value"),
            F.col("n_lines").alias("aux"),
        )
        # 'q15': global-max scalar over an aggregate view (HAVING rev =
        # (SELECT MAX ...)) — the aggregate computed once, its max a
        # 1-row broadcast, equality row-local.
        sup = load_table(s, d, "supplier")
        q15 = A.top_revenue_supplier(li, sup).select(
            F.lit("q15").alias("variant"),
            NODIM,
            F.col("s_suppkey").cast("double").alias("value"),
            F.col("total_revenue").alias("aux"),
        )
        # ---- shape-catalog completion: the 10 remaining TPC-H shapes
        # (Q2/Q6/Q7/Q8/Q9/Q11/Q13/Q16/Q18/Q20), each the de-correlated
        # Spark plan with the textbook nested/correlated oracle. ----
        nat = load_table(s, d, "nation")
        reg = load_table(s, d, "region")
        q6 = A.forecast_revenue(li).select(
            F.lit("q6").alias("variant"),
            NODIM,
            F.col("revenue").alias("value"),
            F.col("n_lines").alias("aux"),
        )
        q7 = A.nation_pair_volume(li, ords, cust, sup, nat).select(
            F.lit("q7").alias("variant"),
            F.concat_ws("|", "supp_nation", "cust_nation", "l_year").alias("dim"),
            F.col("revenue").alias("value"),
            F.col("n_lines").alias("aux"),
        )
        q8 = A.market_share(li, ords, cust, sup, nat, reg, pt).select(
            F.lit("q8").alias("variant"),
            F.col("o_year").cast("string").alias("dim"),
            F.col("mkt_share").alias("value"),
            F.col("total_volume").alias("aux"),
        )
        q9 = A.product_profit(li, pt, sup, nat).select(
            F.lit("q9").alias("variant"),
            F.concat_ws("|", "nation", "o_year").alias("dim"),
            F.col("profit").alias("value"),
            NOAUX,
        )
        q13 = A.customer_order_distribution(cust, ords).select(
            F.lit("q13").alias("variant"),
            NODIM,
            F.col("c_count").alias("value"),
            F.col("custdist").alias("aux"),
        )
        q18 = A.large_quantity_orders(li, ords).select(
            F.lit("q18").alias("variant"),
            F.col("o_custkey").cast("string").alias("dim"),
            F.col("o_orderkey").cast("double").alias("value"),
            F.col("total_qty").alias("aux"),
        )
        q2 = A.min_cost_supplier(li, pt, sup).select(
            F.lit("q2").alias("variant"),
            F.col("s_name").alias("dim"),
            F.col("p_partkey").cast("double").alias("value"),
            F.col("unit_cost").alias("aux"),
        )
        q11 = A.important_parts(li).select(
            F.lit("q11").alias("variant"),
            NODIM,
            F.col("l_partkey").alias("value"),
            F.col("part_value").alias("aux"),
        )
        q16 = A.supplier_part_counts(li, pt, sup).select(
            F.lit("q16").alias("variant"),
            F.col("brand_type").alias("dim"),
            F.col("p_size").alias("value"),
            F.col("supplier_cnt").alias("aux"),
        )
        q20 = A.dominant_suppliers(li, pt, sup).select(
            F.lit("q20").alias("variant"),
            F.col("s_name").alias("dim"),
            F.col("s_suppkey").alias("value"),
            NOAUX,
        )
        out = promo
        for br in (q21, q22cnt, q22bal, q17, q15, q6, q7, q8, q9,
                   q13, q18, q2, q11, q16, q20, disj):
            out = out.unionByName(br)
        return out

    q["a11_revenue_kpis"] = _a11

    # ---- dedup suite (north-star extension; operators/dedup.py).
    # The testdata's injected near-dups are word-order shuffles (token-set
    # jaccard ≥0.9, 3-gram jaccard ~0.02) → unigram shingles for the
    # near-dup queries; 3-gram for the n-gram-jaccard audit query. ----
    from kafkastreamsinteractivequeries_spark.operators import dedup as D

    def _docs(s, d):
        return load_table(s, d, "documents")

    # d1 ⊕ d2 in ONE tagged union (the 50-key report cap): the kept
    # survivors ('dedup': one row per canonical doc with its payload)
    # and the duplicate-group table ('groups': fingerprint rides the
    # text column, group size rides n).
    def _d1(s: SparkSession, d: str) -> DataFrame:
        docs = _docs(s, d)
        kept = D.exact_dedup(docs).select(
            F.lit("dedup").alias("variant"),
            "doc_id",
            "text",
            F.concat_ws("|", "lang", "source").alias("info"),
            F.col("n_chars").cast("long").alias("n"),
        )
        groups = D.exact_duplicate_groups(docs).select(
            F.lit("groups").alias("variant"),
            F.col("keep_id").alias("doc_id"),
            F.col("fingerprint").alias("text"),
            F.lit("").alias("info"),
            F.col("n_docs").cast("long").alias("n"),
        )
        # 'incremental' (previously pytest-only): the daily-increment
        # pattern — even doc_ids play the landed corpus (its fingerprint
        # side table is all history ever re-reads), odd doc_ids the new
        # batch; survivors dedup within the batch AND anti-join the
        # landed fingerprints.
        landed_fp = D.fingerprint_documents(
            docs.filter(F.col("doc_id") % 2 == 0)
        ).select("fingerprint")
        inc = D.exact_dedup_incremental(
            docs.filter(F.col("doc_id") % 2 == 1), landed_fp
        ).select(
            F.lit("incremental").alias("variant"),
            "doc_id",
            "text",
            F.concat_ws("|", "lang", "source").alias("info"),
            F.col("n_chars").cast("long").alias("n"),
        )
        # 'ids' (previously pytest-only): the SKINNY survivor-id form —
        # the aggregation shuffles (fingerprint, id) pairs only, never
        # document payloads; on id-bucketed storage the ids semi-join
        # back without re-shuffling the corpus.  Same survivor set as
        # 'dedup', verified through the payload-free operator path.
        ids = D.exact_dedup_ids(docs).select(
            F.lit("ids").alias("variant"),
            "doc_id",
            F.lit("").alias("text"),
            F.lit("").alias("info"),
            F.lit(-1).cast("long").alias("n"),
        )
        # 'url' — URL-level dedup, the stage C4/RefinedWeb run BEFORE
        # any text dedup (arXiv:2306.01116 §3.2): deterministic salted
        # URLs exercise every canonicalization rule (mixed-case scheme/
        # host, :443 default port, userinfo, utm_* tracking param,
        # unsorted query, fragment, lowercase %-escape); three of the
        # four variants collapse onto one RFC-normal form, so the
        # first-occurrence keeper and n_dups are non-trivial.  The
        # oracle builds raw AND canonical from the same formulas — the
        # hash proves canonicalize_url_col's full chain.
        did = F.col("doc_id")
        h40 = (did % 40).cast("string")
        p15 = (did % 15).cast("string")
        url = (
            F.when(
                did % 4 == 0,
                F.concat(
                    F.lit("https://example"), h40, F.lit(".com/p"), p15,
                    F.lit("?b=2&a=1"),
                ),
            )
            .when(
                did % 4 == 1,
                F.concat(
                    F.lit("HTTPS://EXAMPLE"), h40, F.lit(".COM:443/p"), p15,
                    F.lit("?a=1&utm_source=x&b=2#frag"),
                ),
            )
            .when(
                did % 4 == 2,
                F.concat(
                    F.lit("https://u:pw@example"), h40, F.lit(".com/p"), p15,
                    F.lit("?a=1&b=2"),
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("http://example"), h40, F.lit(".com/q%2f"), p15
                )
            )
        )
        # One pinned canonical table feeds BOTH the 'url' and 'host'
        # branches (the x13 shared-scan contract): canonicalization is
        # the expensive regex chain — run it once, aggregate twice.
        canon = (
            docs.select("doc_id", url.alias("url"))
            .select(
                "doc_id",
                "url",
                D.canonicalize_url_col(F.col("url")).alias("canonical_url"),
                D.url_host_col(F.col("url")).alias("host"),
            )
            .localCheckpoint(eager=False)
        )
        urls = D.url_dedup(canon, canonical_col="canonical_url").select(
            F.lit("url").alias("variant"),
            "doc_id",
            F.col("canonical_url").alias("text"),
            F.col("url").alias("info"),
            F.col("n_dups").alias("n"),
        )
        # 'host' — host-level crawl stats + RefinedWeb-style gate over
        # the same salted URLs: the host must be extracted through the
        # adversarial raw forms (EXAMPLEn.COM:443, u:pw@ userinfo), and
        # the keep/block decision (flood cap ∨ duplicate share) is
        # integer, so the hash verifies extraction, the distinct-URL
        # aggregation, AND the decision itself.
        hosts = D.host_gate(
            canon,
            max_docs_per_host=12,
            max_dup_permille=700,
            host_col="host",
            canonical_col="canonical_url",
        ).select(
            F.lit("host").alias("variant"),
            F.col("first_id").alias("doc_id"),
            F.col("host").alias("text"),
            F.concat(
                F.when(F.col("blocked") == 1, F.lit("block")).otherwise(
                    F.lit("keep")
                ),
                F.lit("|u="),
                F.col("n_urls"),
                F.lit("|d="),
                F.col("dup_permille"),
            ).alias("info"),
            F.col("n_docs").alias("n"),
        )
        # 'robots' — the RFC 9309 crawl gate driver-verified (was
        # pytest-only): per-host robots.txt documents are built from
        # host-number formulas covering the hostile corners — specific-
        # agent override (the * group must be IGNORED), the longest-
        # match Allow-beats-Disallow precedence, the $ end anchor, a
        # full * wildcard, inline comments, CRLF line endings, and the
        # empty Disallow (allow-all) — and every distinct (host, path)
        # pair from the same salted URL universe is evaluated through
        # the REAL parser + evaluator.  The oracle computes the
        # expected verdict CLOSED-FORM from the formulas (no parsing
        # on the oracle side), so the hash proves the whole
        # parse→group→specificity→longest-match chain lands on the RFC
        # answer for every salt.
        hn_ = F.col("hn")
        rshape = (hn_ % 4).cast("int")
        rtxt = (
            F.when(
                rshape == 0,
                # prefix disallow + longer allow + inline comment
                "User-agent: *\nDisallow: /p1 # primary\nAllow: /p12\n"
                "# trailing comment\n",
            )
            .when(
                rshape == 1,
                # specific agent overrides *; $ anchor; CRLF endings
                "User-agent: ksiqbot\r\nDisallow: /p2$\r\n"
                "User-agent: *\r\nDisallow: /\r\n",
            )
            .when(
                rshape == 2,
                # wildcard disallow + longer allow rescues /p14
                "User-agent: *\nDisallow: /*4\nAllow: /p14\n",
            )
            .otherwise(
                # empty Disallow = allow everything
                "User-agent: *\nDisallow:\n# nothing blocked\n"
            )
        )
        robots_src = (
            docs.select((did % 40).alias("hn"))
            .distinct()
            .select(
                F.concat(
                    F.lit("h"), hn_.cast("string"), F.lit(".com")
                ).alias("host"),
                rtxt.alias("robots_txt"),
            )
        )
        url_src = docs.select(
            F.concat(F.lit("h"), h40, F.lit(".com")).alias("host"),
            F.concat(F.lit("/p"), p15).alias("path"),
        )
        robots = D.robots_allowed(
            url_src, D.robots_rules(robots_src, agent="ksiqbot")
        ).select(
            F.lit("robots").alias("variant"),
            (
                F.regexp_extract("host", r"h(\d+)\.com", 1).cast("long") * 100
                + F.regexp_extract("path", r"/p(\d+)", 1).cast("long")
            ).alias("doc_id"),
            F.col("host").alias("text"),
            F.concat_ws(
                "|", "path", F.col("allowed").cast("string")
            ).alias("info"),
            F.col("allowed").cast("long").alias("n"),
        )
        # 'sitemap' — the crawl-frontier hand-off driver-verified (was
        # pytest-only): robots.txt ``Sitemap:`` declarations (case-
        # insensitive directive, inline comment) discovered by
        # robots_sitemaps_col, and ``<loc>`` targets (whitespace-
        # padded, CDATA-wrapped, newline-embedded, urlset AND
        # sitemapindex forms) extracted by sitemap_urls_col — both
        # from per-host fixtures the oracle rebuilds closed-form.
        # n tags the source (0 = robots declaration, 1 = extracted
        # loc); doc_id = host·100 + row index (+10 for locs).
        hn_s = hn_.cast("string")
        smap_robots = F.concat(
            F.lit("User-agent: *\nDisallow:\n"),
            F.lit("Sitemap: https://h"), hn_s, F.lit(".com/map.xml\n"),
            F.lit("sitemap: https://h"), hn_s, F.lit(".com/map2.xml # alt\n"),
        )
        smap_xml = F.when(
            hn_ % 2 == 0,
            F.concat(
                F.lit('<?xml version="1.0"?><urlset><url><loc> https://h'),
                hn_s,
                F.lit(".com/s0 </loc></url><url><loc><![CDATA[https://h"),
                hn_s,
                F.lit(".com/s1]]></loc></url></urlset>"),
            ),
        ).otherwise(
            F.concat(
                F.lit("<sitemapindex><sitemap><loc>\nhttps://h"),
                hn_s,
                F.lit(".com/m0.xml\n</loc></sitemap></sitemapindex>"),
            )
        )
        smap_hosts = docs.select((did % 40).alias("hn")).distinct()
        smap_decls = smap_hosts.select(
            "hn",
            F.posexplode(D.robots_sitemaps_col(smap_robots)).alias(
                "i", "url"
            ),
        )
        smap_locs = smap_hosts.select(
            "hn",
            F.posexplode(D.sitemap_urls_col(smap_xml)).alias("i", "url"),
        )
        smap = smap_decls.select(
            F.lit("sitemap").alias("variant"),
            (hn_ * 100 + F.col("i")).cast("long").alias("doc_id"),
            F.concat(F.lit("h"), hn_s, F.lit(".com")).alias("text"),
            F.col("url").alias("info"),
            F.lit(0).cast("long").alias("n"),
        ).unionByName(
            smap_locs.select(
                F.lit("sitemap").alias("variant"),
                (hn_ * 100 + 10 + F.col("i")).cast("long").alias("doc_id"),
                F.concat(F.lit("h"), hn_s, F.lit(".com")).alias("text"),
                F.col("url").alias("info"),
                F.lit(1).cast("long").alias("n"),
            )
        )
        # 'pref' — the preference-pair (RLHF/DPO) prep family
        # (operators/preference.py) over salted pairs: prompt = the doc
        # text (the corpus's injected exact dups collapse pair
        # fingerprints), chosen = text + a fixed suffix, rejected a
        # fixed 3-token string.  One branch verifies the pair
        # fingerprint (normalized triple joined with \\n), the
        # min-struct first-occurrence keeper, the collapse count, AND
        # the per-pair stats (token counts, floor-div length ratio,
        # degenerate flag) — all integer/md5 arithmetic the oracle
        # rebuilds from the same formulas.
        from kafkastreamsinteractivequeries_spark.operators import (
            preference as P,
        )

        pairs = docs.select(
            F.col("doc_id").alias("pair_id"),
            F.col("text").alias("prompt"),
            F.concat(F.col("text"), F.lit(" indeed correct")).alias("chosen"),
            F.lit("no not really").alias("rejected"),
        )
        pref = (
            P.dedup_preference_pairs(pairs)
            .join(P.preference_pair_stats(pairs), "pair_id")
            .select(
                F.lit("pref").alias("variant"),
                F.col("pair_id").alias("doc_id"),
                F.col("fingerprint").alias("text"),
                F.concat_ws(
                    "|",
                    "prompt_tokens",
                    "chosen_tokens",
                    "len_ratio_permille",
                    "degenerate",
                ).alias("info"),
                F.col("n_dups").alias("n"),
            )
        )
        return (
            kept.unionByName(groups)
            .unionByName(inc)
            .unionByName(ids)
            .unionByName(urls)
            .unionByName(hosts)
            .unionByName(robots)
            .unionByName(smap)
            .unionByName(pref)
        )

    q["d1_exact_dedup"] = _d1
    # d4 carries the full signature string alongside each band row
    # (zero-shuffle `carry`), so one key verifies both the signature
    # stage (d3) and the banding stage.
    q["d4_lsh_band_buckets"] = lambda s, d: D.lsh_band_buckets(
        D.minhash_signatures(_docs(s, d), shingle_n=1).withColumn(
            "minhash_sig", F.array_join("minhash", ",")
        ),
        carry=("minhash_sig",),
    )
    # d5 as a tagged union: 'lsh' = the MinHash-LSH near-dup detector;
    # 'hybrid' = the LEXICAL ∧ SEMANTIC high-precision tier (the same
    # pairs cross-checked against embedding cosine ≥ 0.3 — two
    # detectors with disjoint failure modes, conjunction = auto-drop
    # tier of a tiered dedup policy).
    def _d5(s: SparkSession, d: str) -> DataFrame:
        docs = _docs(s, d)
        # the whole shingle→minhash→bucket→verify chain is pinned ONCE
        # and feeds both tiers (hybrid's `pairs=` shared-scan form) —
        # previously the hybrid branch re-ran it end to end.  Lazy
        # checkpoint is safe: both downstream joins are shuffle_hash
        # (no broadcast in the lineage — the _x6 deadlock class).
        base = D.minhash_near_duplicates(
            docs, shingle_n=1, threshold=0.6
        ).localCheckpoint(eager=False)
        lsh = base.select(
            F.lit("lsh").alias("variant"),
            "id_a",
            "id_b",
            "jaccard",
            F.lit(None).cast("double").alias("cosine"),
        )
        hyb = D.hybrid_near_duplicates(
            docs,
            load_table(s, d, "embeddings"),
            cosine_threshold=0.3,
            pairs=base,
        ).select(
            F.lit("hybrid").alias("variant"), "id_a", "id_b", "jaccard", "cosine"
        )
        return lsh.unionByName(hyb)

    q["d5_minhash_near_duplicates"] = _d5
    # d6: the exact-audit pair suite as a tagged union — 'jaccard' is
    # the inverted-index 3-gram Jaccard join (the non-approximate
    # calibration baseline for d5), 'edit' the order-SENSITIVE
    # character-level Levenshtein cross-check over the near-dup slice
    # (jaccard ≥ 0.2) of those pairs.  Token-set metrics can't tell a
    # paraphrase from a reordering; the edit layer can, and both
    # engines ship the identical Wagner-Fischer builtin.
    def _d6(s: SparkSession, d: str) -> DataFrame:
        # The exact audit runs on a DETERMINISTIC 20% SAMPLE — now the
        # operator's own REQUIRED-EXPLICIT contract (audit_modulus /
        # max_posting_size have no defaults): candidate volume is Σ k²
        # over posting lists, and the synthetic corpus's 31-word
        # vocabulary saturates 3-gram postings, so the full corpus
        # measured 29.9 s at sf0.1 in the first bench.py --all sweep
        # (3× the next key).  The oracle slices identically; the LSH
        # path (d5) remains the full-corpus detector.
        docs = _docs(s, d).filter(F.col("doc_id") % 5 == 0)
        jac = D.ngram_jaccard_pairs(
            _docs(s, d),
            audit_modulus=5,
            max_posting_size=1024,
            shingle_n=3,
            threshold=0.01,
        ).localCheckpoint(eager=False)
        jrows = jac.select(
            F.lit("jaccard").alias("variant"),
            "id_a",
            "id_b",
            F.col("jaccard").alias("score"),
        )
        erows = D.edit_distance_pairs(
            jac.filter(F.col("jaccard") >= 0.2), docs
        ).select(
            F.lit("edit").alias("variant"),
            "id_a",
            "id_b",
            F.col("edit_sim").alias("score"),
        )
        return jrows.unionByName(erows)

    q["d6_ngram_jaccard_pairs"] = _d6
    # d7 ⊕ d8 in ONE tagged union: the 64-bit signature table ('sig',
    # one row per doc, signature rides detail) and the pigeonhole-
    # bucketed near-dup pairs ('pairs', hamming ≤ 6).
    def _d7(s: SparkSession, d: str) -> DataFrame:
        docs = _docs(s, d)
        # ONE signature pass (the 64-votes-per-token fold is the
        # expensive part) pinned and shared by the 'sig' report branch
        # and the 'pairs' detector — previously each recomputed it.
        # hamming_near_duplicates re-pins internally (cheap: reads the
        # materialized parent).
        sigs = D.simhash_signatures(docs).localCheckpoint(eager=False)
        sig = sigs.select(
            F.lit("sig").alias("variant"),
            F.col("doc_id").alias("id_a"),
            F.col("doc_id").alias("id_b"),
            F.col("simhash").alias("detail"),
            F.lit(-1).alias("hamming"),
        )
        pairs = D.hamming_near_duplicates(sigs, max_hamming=6).select(
            F.lit("pairs").alias("variant"),
            "id_a",
            "id_b",
            F.lit("").alias("detail"),
            "hamming",
        )
        return sig.unionByName(pairs)

    q["d7_simhash"] = _d7
    # The detector that isolates the corpus's injected duplicates:
    # permutation near-dups have multiset-jaccard ≥0.9 while unrelated
    # docs sit ≤0.55 — set-based measures saturate on this vocab.
    q["d9_weighted_near_duplicates"] = lambda s, d: D.weighted_near_duplicates(
        _docs(s, d), threshold=0.8
    )
    # d10 — transitive closure of d9's pairs (iterative label
    # propagation; oracled via DuckDB's recursive CTE).
    q["d10_near_duplicate_groups"] = lambda s, d: D.near_duplicate_groups(
        _docs(s, d), threshold=0.8
    )

    # ---- text analysis (north-star; operators/text.py): token counts,
    # quality scoring, language-ID, winnowing fingerprints ----
    from kafkastreamsinteractivequeries_spark.operators import text as T

    # x1 is the one-pass per-doc profile: text_stats ⊕ language_id ⊕
    # deterministic_split ⊕ token counts (old x2: n_tokens is the ws
    # count, bpe_tokens the regexp pre-tokenizer count) in a single
    # zero-shuffle projection — four operators, one 50-cap report
    # slot, one corpus scan.
    q["x1_text_stats"] = lambda s, d: T.doc_profile(_docs(s, d))
    # x4 union: doc-min fingerprint ('docmin') ⊕ the FULL winnowing
    # selection ('full' — Schleimer et al. sliding-window minima, the
    # shared-substring guarantee) ⊕ exact-substring duplicate spans
    # (Lee et al. arXiv:2107.06499 — 'dupspan': every corpus-repeated
    # 8-gram occurrence; 'dupfrac': per-doc merged-span report, the
    # number a trim/drop gate thresholds on) — same (doc_id, fp)
    # string shape, one slot.
    def _x4(s: SparkSession, d: str) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators import dedup as DD

        docs = _docs(s, d)
        docmin = T.winnowing_fingerprint(docs).select(
            F.lit("docmin").alias("variant"),
            "doc_id",
            F.col("winnow_fp").alias("fp"),
        )
        full = T.winnowing_fingerprints_full(docs, k=5, window=4).select(
            F.lit("full").alias("variant"),
            "doc_id",
            F.col("fingerprint").alias("fp"),
        )
        # pos disambiguates same-gram re-occurrences inside one doc so
        # the row multiset is position-faithful across engines.
        # The occurrence table (tokenize + gram + corpus-wide gram-count
        # shuffle) is pinned ONCE and feeds all three span branches —
        # one token-stream shuffle instead of three.
        occ = DD.duplicate_span_occurrences(docs, k=8).localCheckpoint(
            eager=False
        )
        spans = occ.select(
            F.lit("dupspan").alias("variant"),
            "doc_id",
            F.concat_ws(":", "gram", "pos").alias("fp"),
        )
        frac = DD.duplicate_span_stats(docs, k=8, occurrences=occ).select(
            F.lit("dupfrac").alias("variant"),
            "doc_id",
            F.format_string(
                "%d:%d:%d:%.6f",
                "n_dup_grams",
                "n_spans",
                "dup_tokens",
                "dup_token_fraction",
            ).alias("fp"),
        )
        # 'trimmed': the REMEDIATION step — every doc with its repeated
        # spans excised, verified as removed-count:md5(trimmed text).
        trimmed = DD.remove_duplicate_spans(docs, k=8, occurrences=occ).select(
            F.lit("trimmed").alias("variant"),
            "doc_id",
            F.concat_ws(
                ":", "removed_tokens", F.md5("trimmed_text")
            ).alias("fp"),
        )
        # 'linededup': C4-style line-level corpus dedup — the synthetic
        # text is a flat token stream, so 6-token "lines" are
        # synthesized identically on both sides, then only the first
        # corpus-wide occurrence of each line survives and docs are
        # rebuilt in order; fp hash-verifies totals AND the rebuilt
        # text byte-for-byte.
        # token array materialized BEFORE the line lambda slices it
        # (the duplicate_span_occurrences trap: slicing the raw
        # split() expression re-ran the split once per 6-token line)
        toks = F.col("_toks")
        lined = docs.select(
            "doc_id", F.split("text", " ").alias("_toks")
        ).select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sequence(
                        F.lit(0), F.floor((F.size(toks) - 1) / 6).cast("int")
                    ),
                    lambda i: F.array_join(F.slice(toks, i * 6 + 1, 6), " "),
                ),
                "\n",
            ).alias("text"),
        )
        ld = DD.line_dedup(lined).select(
            F.lit("linededup").alias("variant"),
            "doc_id",
            F.format_string(
                "%d:%d:%d:%s",
                "n_lines",
                "kept_lines",
                "removed_lines",
                F.md5("text"),
            ).alias("fp"),
        )
        # 'cdc' — content-defined chunking + chunk dedup: boundaries
        # from a rolling 4-token window hash (mod 8), so edits re-chunk
        # only their neighborhood and unchanged regions keep their
        # chunk hashes (the rsync/LBFS invariance); every chunk row
        # carries its corpus-wide occurrence count and keeper flag.
        cdc = DD.cdc_chunk_dedup(docs, window=4, divisor=8).select(
            F.lit("cdc").alias("variant"),
            "doc_id",
            F.format_string(
                "%d:%d:%d:%s:%d:%d",
                "chunk_idx",
                "chunk_start",
                "chunk_len",
                "chunk_hash",
                "n_occurrences",
                F.col("is_first").cast("int"),
            ).alias("fp"),
        )
        # ---- code-corpus curation family (operators/code.py) over a
        # salted fixture built from doc_id formulas (the d1 'url'
        # convention): header h=id%5 exercises SPDX tag / phrase
        # fallback / copyright-only / headerless; two function bodies
        # (structures s1=id%3, s2=(id div 3)%3, identifier salt
        # a=id%7, literal salt n=id%100, e=(id div 7)%3 extra
        # statements) give type-2 clones that collapse under
        # identifier normalization and type-3 near-misses across
        # different e.  The oracle rebuilds every expected output
        # CLOSED-FORM from the same formulas — no regex on the oracle
        # side — so the hash proves the real regex chains (comment
        # strip with string protection, SPDX detect, the
        # protect/normalize/unprotect identifier chain, the function
        # chunker) land exactly on the formula form for every salt.
        from kafkastreamsinteractivequeries_spark.operators import code as CC

        idc = F.col("doc_id")
        a_s = (idc % 7).cast("string")
        n_s = (idc % 100).cast("string")

        def _fn_tpl(s):
            t0 = F.concat(
                F.lit("def f"), a_s, F.lit("(x):\n    y"), a_s,
                F.lit(" = "), n_s, F.lit(" # seed\n    return y"),
                a_s, F.lit(" + x\n"),
            )
            t1 = F.concat(
                F.lit("def g"), a_s, F.lit("(x):\n    if x > "), n_s,
                F.lit(":\n        return x\n    return "), n_s,
                F.lit("\n"),
            )
            t2 = F.concat(
                F.lit("def h"), a_s, F.lit("(s):\n    t"), a_s,
                F.lit(' = "lit // '), a_s, F.lit('"\n    return t'),
                a_s, F.lit("\n"),
            )
            return F.when(s == 0, t0).when(s == 1, t1).otherwise(t2)

        hdr = (
            F.when(idc % 5 == 0, "// SPDX-License-Identifier: MIT\n")
            .when(idc % 5 == 1, "# SPDX-License-Identifier: Apache-2.0\n")
            .when(
                idc % 5 == 2,
                "/* Permission is hereby granted,\n free of charge */\n",
            )
            .when(idc % 5 == 3, "// (c) 2026 Example Corp\n")
            .otherwise("")
        )
        extras = F.repeat(
            F.lit("    return 0\n"), (F.expr("doc_id div 7") % 3).cast("int")
        )
        cfx = docs.select(
            "doc_id",
            F.concat(
                hdr,
                _fn_tpl(idc % 3),
                extras,
                _fn_tpl(F.expr("doc_id div 3") % 3),
            ).alias("text"),
        )
        codespdx = CC.spdx_license_headers(cfx).select(
            F.lit("codespdx").alias("variant"),
            "doc_id",
            F.concat_ws(
                "|",
                F.when(F.col("spdx_id") == "", "-").otherwise(
                    F.col("spdx_id")
                ),
                "license_family",
                F.col("has_license").cast("string"),
            ).alias("fp"),
        )
        codestrip = CC.strip_code_comments(cfx).select(
            F.lit("codestrip").alias("variant"),
            "doc_id",
            F.format_string(
                "%d:%d:%s",
                "n_chars",
                "n_stripped_chars",
                F.md5("stripped_text"),
            ).alias("fp"),
        )
        codenorm = cfx.select(
            F.lit("codenorm").alias("variant"),
            "doc_id",
            F.md5(CC.normalized_code_col(F.col("text"))).alias("fp"),
        )
        # function-granularity: chunks pinned once, feed fn/clone/near
        cchunks = CC.function_chunks(cfx).select(
            (F.col("doc_id") * 10 + F.col("fn_idx")).alias("cid"), "chunk"
        ).localCheckpoint(eager=False)
        codefn = cchunks.select(
            F.lit("codefn").alias("variant"),
            F.col("cid").alias("doc_id"),
            F.md5(CC.normalized_code_col(F.col("chunk"))).alias("fp"),
        )
        codeclone = CC.code_clone_groups(
            cchunks, text_col="chunk", id_col="cid"
        ).select(
            F.lit("codeclone").alias("variant"),
            F.col("keep_id").alias("doc_id"),
            F.concat_ws(
                ":", "clone_fp", F.col("n_members").cast("string")
            ).alias("fp"),
        )
        # near-miss clones on a deterministic 5% doc sample (the d6
        # audit-slice convention): full-corpus pairing is the capped
        # LSH path, the sample keeps the driver key linear
        codenear = CC.code_clone_near_duplicates(
            cchunks.filter(F.expr("(cid div 10) % 20 = 0")),
            text_col="chunk",
            id_col="cid",
        ).select(
            F.lit("codenear").alias("variant"),
            F.col("id_a").alias("doc_id"),
            F.format_string("%d:%.6f", "id_b", "jaccard").alias("fp"),
        )
        return (
            docmin.unionByName(full)
            .unionByName(spans)
            .unionByName(frac)
            .unionByName(trimmed)
            .unionByName(ld)
            .unionByName(cdc)
            .unionByName(codespdx)
            .unionByName(codestrip)
            .unionByName(codenorm)
            .unionByName(codefn)
            .unionByName(codeclone)
            .unionByName(codenear)
        )

    q["x4_winnowing_fingerprint"] = _x4
    # x6 — the batch QUALITY-GATE union (key renamed from
    # x6_length_percentiles when it widened; renames under the 50-cap
    # are established practice):
    #   'length'     — exact corpus length percentiles ⊕ the mergeable
    #                  fixed-bin histogram estimates (hp25..hp95),
    #                  unpivoted to (name, value) rows; shipping both
    #                  keeps the 100 TB estimator honest vs the exact
    #                  answer.
    #   'constraint' — quality.check_constraints: the whole Deequ-shaped
    #                  rule suite evaluated in ONE aggregate pass over
    #                  orders (previously pytest-only).
    #   'skew'       — analytics.skew_report: top-20 heaviest l_suppkey
    #                  values with row counts and share — the pre-flight
    #                  shuffle-skew diagnostic (previously pytest-only).
    # Shared shape: (variant, name, value double, n long, total long).
    def _x6(s: SparkSession, d: str) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.quality import (
            check_constraints,
        )

        docs = _docs(s, d)
        from kafkastreamsinteractivequeries_spark.operators.dedup import (
            tokens_col as _tc,
        )

        # ONE tokenize pass for every token-LENGTH consumer in this
        # key: exact percentiles, histogram quantiles, and the qsketch/
        # qstream lens each re-ran normalize+split over the corpus for
        # a value that is just size(tokens).  Pinned as a skinny
        # one-int-per-doc table.  EAGER: the two 1-row aggregate
        # consumers below are crossJoined, so the planner broadcasts one
        # of them and a broadcast-exchange thread would be the first to
        # materialize a lazy checkpoint — the lazy-checkpoint-under-
        # broadcast deadlock class this file pins against elsewhere.
        x6_lens = (
            spread(docs)
            .select(F.size(_tc(F.col("text"))).alias("n"))
            .localCheckpoint(eager=True)
        )
        wide = T.length_percentiles(docs, lengths_df=x6_lens).crossJoin(
            T.length_histogram_quantiles(docs, lengths_df=x6_lens)
        )
        metrics = [
            "n_docs", "min_tokens", "p25", "p50", "p75", "p95",
            "max_tokens", "mean_tokens", "hp25", "hp50", "hp75", "hp95",
        ]
        sent = F.lit(-1).cast("long")
        length_rows = wide.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(m).alias("name"),
                        F.round(F.col(m).cast("double"), 6).alias("value"),
                    )
                    for m in metrics
                ])
            ).alias("m")
        ).select(
            F.lit("length").alias("variant"),
            F.col("m.name").alias("name"),
            F.col("m.value").alias("value"),
            sent.alias("n"),
            sent.alias("total"),
        )
        # 'qsketch' — the MERGEABLE bounded-error quantile path beside
        # the exact percentiles ('length') and the fixed-bin histogram
        # estimates ('hp*'): the deterministic weight-stratified hash
        # sampler (operators/sketches.hashed_quantile_sketch — the
        # multiset-deterministic sibling of KLL, whose compaction
        # trajectory is arrival-order-dependent and can never hash-
        # verify).  The oracle replays the whole closed form: distinct
        # length counts → binary-digit entries → the mix_hash32 keep
        # slice → weights → integer cum-threshold quantiles, so the
        # driver hash proves the sketch CONTENT and the estimates.
        from kafkastreamsinteractivequeries_spark.operators.dedup import (
            tokens_col,
        )
        from kafkastreamsinteractivequeries_spark.operators.sketches import (
            hashed_quantile_estimates,
            hashed_quantile_sketch,
        )

        lens = x6_lens.select(F.col("n").cast("long").alias("v"))
        qsk = hashed_quantile_estimates(
            hashed_quantile_sketch(lens, "v", k=256), (25, 50, 75, 90)
        ).select(
            F.lit("qsketch").alias("variant"),
            F.concat(F.lit("p"), F.col("percentile").cast("string")).alias(
                "name"
            ),
            F.col("value").cast("double").alias("value"),
            F.col("n_est").cast("long").alias("n"),
            F.col("sketch_rows").cast("long").alias("total"),
        )
        # 'qstream' — the SAME quantile telemetry through the REAL
        # STREAMING path: token lengths ingested as a file stream
        # (availableNow), foreachBatch → StreamingQuantileSketchSink
        # lands a versioned, _SUCCESS-gated (value, weight) store, and
        # this branch reads the LANDED snapshot and derives estimates
        # — hash-verified against the same closed-form oracle as
        # 'qsketch', proving stream-landed == batch one-shot through
        # the sink/commit/manifest plumbing.  The corpus is a single
        # parquet file, so availableNow is one micro-batch and the
        # landed sketch IS the one-shot build (multi-batch merge is
        # the documented incremental form whose re-thin is not
        # bit-equal — merge_hashed_quantile_sketches docstring).  The
        # ingest runs once per (process, sf_dir).
        from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
            StreamingQuantileSketchSink,
        )

        def _run_qstream() -> str:
            import shutil
            import tempfile

            # Per-process root (_PROC_TAG): a second concurrent process
            # at the same sf_dir lands into its OWN directory instead of
            # rmtree-ing a store this process is still reading.
            tag = hashlib.md5(d.encode()).hexdigest()[:10]
            root = os.path.join(
                tempfile.gettempdir(), f"ksiq_qstream_{tag}_{_PROC_TAG}"
            )
            shutil.rmtree(root, ignore_errors=True)  # fresh per process
            sink = StreamingQuantileSketchSink(
                os.path.join(root, "store"), "v", k=256
            )
            stream = (
                s.readStream.schema("doc_id long, text string")
                # the file source wants a DIRECTORY; glob-filter the
                # one corpus file out of the sf_dir
                .option("pathGlobFilter", "documents.parquet")
                .parquet(d)
                .select(F.size(tokens_col(F.col("text"))).cast("long").alias("v"))
            )
            sq = (
                stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            sq.awaitTermination()
            return sink.path

        qstream_store = _memo(("x6_qstream", d), _run_qstream)
        qst = hashed_quantile_estimates(
            StreamingQuantileSketchSink(qstream_store, "v", k=256).sketch(s),
            (25, 50, 75, 90),
        ).select(
            F.lit("qstream").alias("variant"),
            F.concat(F.lit("p"), F.col("percentile").cast("string")).alias(
                "name"
            ),
            F.col("value").cast("double").alias("value"),
            F.col("n_est").cast("long").alias("n"),
            F.col("sketch_rows").cast("long").alias("total"),
        )
        orders = load_table(s, d, "orders")
        rules = [
            ("not_null", "o_orderkey"),
            ("range", "o_totalprice", 0.0, 300000.0),
            ("in_set", "o_orderstatus", ["O", "F"]),
            ("matches", "o_orderpriority", "[1-5]-[A-Z]+"),
            ("expr", "key_not_7mult", "o_orderkey % 7 != 0"),
            ("unique", ["o_orderkey"]),
            ("unique", ["o_custkey"]),
        ]
        # pinned: the 'gate' branch re-derives its two rule-set reports
        # from these rows (each rule's report row is independent of the
        # other rules by construction), so orders is scanned once for
        # the whole constraint family instead of three times.  Lazy is
        # safe: the only consumers are aggregates/selects, nothing
        # broadcasts off this lineage.
        cons_rep = check_constraints(orders, rules).localCheckpoint(
            eager=False
        )
        cons = cons_rep.select(
            F.lit("constraint").alias("variant"),
            F.concat_ws(":", "rule", "column").alias("name"),
            F.col("passed").cast("double").alias("value"),
            F.col("violations").cast("long").alias("n"),
            F.col("total_rows").cast("long").alias("total"),
        )
        li = load_table(s, d, "lineitem")
        skew = A.skew_report(li, ["l_suppkey"], top_k=20).select(
            F.lit("skew").alias("variant"),
            F.col("l_suppkey").cast("string").alias("name"),
            F.col("share").alias("value"),
            F.col("n_rows").cast("long").alias("n"),
            F.col("total_rows").cast("long").alias("total"),
        )
        # 'salted' (previously pytest-only): the skew REMEDY next to its
        # diagnostic — revenue per supplier nation through salted_join
        # (skewed lineitem side salted 8 ways, supplier side replicated)
        # must be row-identical to the plain join the oracle runs.
        sup = load_table(s, d, "supplier").select(
            F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
        )
        salted = (
            A.salted_join(
                li.select("l_suppkey", "l_extendedprice", "l_discount"),
                sup,
                ["l_suppkey"],
                salt=8,
            )
            .groupBy("s_nationkey")
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue"),
                F.count("*").alias("n_items"),
            )
            .select(
                F.lit("salted").alias("variant"),
                F.col("s_nationkey").cast("string").alias("name"),
                F.col("revenue").alias("value"),
                F.col("n_items").cast("long").alias("n"),
                sent.alias("total"),
            )
        )
        # 'dsir' — DSIR importance-weighted data selection (Xie et al.
        # arXiv:2302.03169): every doc scored by target-likeness under
        # hashed-ngram bucket models (target = the English subset), the
        # top-40 flagged in `total` — weights AND the deterministic
        # selection hash-verified.  The weight table is pinned once so
        # the top-k probe doesn't re-run the gram pipeline.
        from kafkastreamsinteractivequeries_spark.operators.curation import (
            dsir_importance_weights,
        )

        # ONE pinned hashed-gram stream (doc_id, bucket) shared by the
        # THREE corpus-sized gram passes this key otherwise runs:
        # dsir's raw bucket distribution, dsir's scoring join, and the
        # qlr classifier's feature stream (same num_buckets=4096, same
        # md5 bucketing — identical rows by construction).  The dsir
        # target distribution also derives from it: the gram multiset
        # of the en subset IS the en-doc rows of the full stream.
        # EAGER pin: dsir broadcasts lam/totals and 'dsir' broadcasts
        # `top` off this lineage — a broadcast-exchange thread
        # materializing a LAZY checkpoint deadlocks against the DAG
        # scheduler (the r10 deadlock class).
        from kafkastreamsinteractivequeries_spark.operators.curation import (
            _hashed_gram_stream,
        )

        # ONE pinned per-(doc, bucket) count aggregate over the hashed-
        # gram stream, shared by EVERY downstream pass (dsir's fused
        # raw/target bucket distribution, dsir's scoring sum, qlr's tf
        # features): the r11 shape pinned the EXPLODED gram rows and
        # each pass re-scanned them (plus qlr re-aggregated its own
        # counts); aggregating once at the pin boundary means tokenize+
        # explode runs once and all consumers read the smaller count
        # table.  Counts are integers, so distributions/features are
        # value-identical; dsir's log_weight float sum is regrouped
        # (Σ c·λ instead of Σ per occurrence) — absorbed by its
        # 6-decimal round (oracle-verified at 3 SFs).  EAGER: dsir
        # broadcasts lam/totals/top off this lineage (the r10
        # lazy-checkpoint-under-broadcast deadlock class).
        dbc = (
            _hashed_gram_stream(spread(docs), 4096, "text", "doc_id")
            .groupBy("doc_id", "bucket")
            .agg(F.count("*").alias("_c"))
            .localCheckpoint(eager=True)
        )
        en_ids = docs.filter(F.col("lang") == "en").select("doc_id")
        # w is NOT pinned anymore: off the pinned gram stream its
        # lineage is two cheap bounded aggregates, so the double
        # execution (once under the `top` broadcast, once for the
        # branch rows) costs less than a dedicated checkpoint job —
        # and with no lazy checkpoint under the broadcast, the r10
        # deadlock class does not apply.
        # target_ids fuses the raw and target bucket distributions
        # into ONE pass over the pinned stream (the en gram multiset
        # IS the en-doc rows of the full stream)
        w = dsir_importance_weights(
            docs,
            docs.filter(F.col("lang") == "en"),
            raw_bucket_counts=dbc,
            target_ids=en_ids,
        )
        top = (
            w.orderBy(F.col("log_weight").desc(), "doc_id")
            .limit(40)
            .select("doc_id", F.lit(1).alias("sel"))
        )
        dsir = w.join(F.broadcast(top), "doc_id", "left").select(
            F.lit("dsir").alias("variant"),
            F.col("doc_id").cast("string").alias("name"),
            F.col("log_weight").alias("value"),
            F.col("n_grams").cast("long").alias("n"),
            F.coalesce(F.col("sel"), F.lit(0)).cast("long").alias("total"),
        )
        # 'qlrw' + 'qlr' — the fastText-style MODEL-BASED quality
        # classifier (Joulin et al. 1607.01759 shape): 3 full-batch GD
        # iterations of logistic regression over L2-normalized hashed
        # gram features, label = (lang == 'en').  Both the learned
        # weight table (the whole trajectory, 'qlrw') and the frozen-
        # model scoring pass over every doc ('qlr': prob, label,
        # prediction) are hash-verified; the oracle replays the GD
        # rounds like ivf_train's Lloyd replay.  The model is pinned
        # once — it feeds both branches.
        from kafkastreamsinteractivequeries_spark.operators.curation import (
            quality_classifier_score,
            quality_classifier_train,
        )

        ydocs = docs.withColumn("_y", (F.col("lang") == "en").cast("int"))
        # train-once/serve-many: the frozen model is ≤ 4097 rows
        # (bounded by num_buckets, never corpus size) — _memo_df
        # re-trains only on the first build per sf_dir
        model = _memo_df(
            s,
            ("x6_model", d),
            lambda: quality_classifier_train(
                ydocs, "_y", num_buckets=4096, iterations=3, lr=1.0
            ),
        )
        qlrw = model.select(
            F.lit("qlrw").alias("variant"),
            F.col("bucket").cast("string").alias("name"),
            F.col("w").alias("value"),
            sent.alias("n"),
            sent.alias("total"),
        )
        qlr = (
            quality_classifier_score(
                docs, model, num_buckets=4096, bucket_counts=dbc
            )
            .join(ydocs.select("doc_id", "_y"), "doc_id")
            .select(
                F.lit("qlr").alias("variant"),
                F.col("doc_id").cast("string").alias("name"),
                # hash-verify the LOGIT, not the sigmoid: score is pure
                # +/*/round IEEE arithmetic so both engines agree to the
                # bit, while exp() is libm-dependent and a round-6
                # sigmoid knife edge showed up at sf0.1.  prediction
                # (score >= 0) is exactly (prob >= 0.5).
                F.col("score").alias("value"),
                F.col("_y").cast("long").alias("n"),
                (F.col("score") >= 0).cast("long").alias("total"),
            )
        )
        # 'gopher' ⊕ 'blocklist' ⊕ 'signals' all derive from ONE pinned
        # quality_signal_export pass (shared Column builders make the
        # values identical by construction): the Gopher repetition fold
        # (the expensive per-doc sorted-run aggregate) runs once
        # instead of three times.  Lazy checkpoint is safe — no
        # broadcast consumes this lineage (the _x6 deadlock class).
        #
        # 'gopher' — the Gopher rule-based quality bundle (Rae et al.
        # 2112.11446 §A1.1): per-doc failure BITMASK over 6 adapted
        # rules (word count / mean word length / punct ratio / alpha
        # fraction / en-stopword presence / repetition top-share), all
        # zero-shuffle Column expressions; the repetition rule is the
        # LINEAR sorted-run fold, not count-per-distinct.
        # 'blocklist' — the C4 bad-words gate (exact-token matching on
        # the shared normalized tokenizer; 'dup' is a rare corpus token,
        # 'legacy' is absent, so both hit-and-miss paths verify): name
        # carries the doc, value the blocked fraction, n the blocked
        # count, total the pass flag.
        sig_tbl = T.quality_signal_export(
            docs, ["dup", "legacy"]
        ).localCheckpoint(eager=False)
        gop = sig_tbl.select(
            F.lit("gopher").alias("variant"),
            F.col("doc_id").cast("string").alias("name"),
            F.col("failure_mask").cast("double").alias("value"),
            F.col("word_count").alias("n"),
            F.col("gopher_passed").cast("long").alias("total"),
        )
        bl = sig_tbl.select(
            F.lit("blocklist").alias("variant"),
            F.col("doc_id").cast("string").alias("name"),
            F.col("blocked_frac").alias("value"),
            F.col("n_blocked").alias("n"),
            F.col("bl_passed").cast("long").alias("total"),
        )
        # 'gate' (previously pytest-only): the land-nothing gate form
        # of the constraint suite.  Two rule sets exercise both
        # decisions: one that passes on this data and one whose expr
        # rule the data violates.  value records whether the gate would
        # raise, n the failing-rule count — derived LAZILY from
        # check_constraints' report DataFrame (no action fires at query
        # construction, unlike every other branch; and no exception-
        # message parsing — ConstraintViolation carries the structured
        # list for API users, round-7 ADVICE #5) and hash-verified
        # against the oracle's EXISTS computation, so the driver proves
        # the gate fires exactly when the data violates a rule.
        # Both gate rule sets are SUBSETS of the 'constraint' suite, and
        # each report row is a function of (orders, rule) alone — so the
        # gate reports are row-filters of the pinned cons_rep instead of
        # two more scans of orders (check_constraints(orders, subset)
        # emits exactly the matching rows of the full run).
        gate_parts = []
        for tag, sel in (
            ("gate_pass", [("not_null", "o_orderkey"), ("unique", "o_orderkey")]),
            ("gate_raise", [("not_null", "o_orderkey"), ("expr", "key_not_7mult")]),
        ):
            cond = None
            for rk, rc in sel:
                c = (F.col("rule") == rk) & (F.col("column") == rc)
                cond = c if cond is None else (cond | c)
            rep = cons_rep.filter(cond)
            gate_parts.append(
                rep.agg(
                    F.coalesce(
                        F.sum(F.when(~F.col("passed"), 1)), F.lit(0)
                    )
                    .cast("long")
                    .alias("n")
                ).select(
                    F.lit("gate").alias("variant"),
                    F.lit(tag).alias("name"),
                    F.when(F.col("n") > 0, 1.0).otherwise(0.0).alias("value"),
                    F.col("n"),
                    F.lit(len(sel)).cast("long").alias("total"),
                )
            )
        gate = gate_parts[0].unionByName(gate_parts[1])
        # 'html' — web-corpus boilerplate stripping: docs salted with
        # deterministic HTML wrappers (script block containing a bare
        # '<', comment, entities — the hostile-ish cases), stripped by
        # the strip_html_col chain; name carries doc:md5(clean) so the
        # hash verifies the CLEANED TEXT byte-for-byte, value the
        # integer-exact markup ratio in micro-units (double round-6
        # ratios sit on half-boundaries for power-of-two lengths — the
        # round-6 determinism rule), n the tag-like span count, total
        # the cleaned length.
        hdid = F.col("doc_id")
        wrapped = docs.select(
            "doc_id",
            F.when(
                hdid % 3 == 0,
                F.concat(
                    F.lit("<html><body><h1>T</h1><p>"),
                    F.col("text"),
                    F.lit(
                        "</p><script>var x = 1 < 2;</script>"
                        "<!-- c --></body></html>"
                    ),
                ),
            )
            .when(
                hdid % 3 == 1,
                F.concat(
                    F.lit('<div class="a">'),
                    F.col("text"),
                    F.lit(" &amp; more &lt;tokens&gt;</div>"),
                ),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        html = T.html_markup_stats(wrapped).select(
            F.lit("html").alias("variant"),
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.md5(F.coalesce("text_clean", F.lit(""))),
            ).alias("name"),
            F.col("markup_ratio_micros").cast("double").alias("value"),
            F.col("n_tags").alias("n"),
            F.col("clean_len").alias("total"),
        )
        # 'mojibake' — encoding repair: every 5th doc (cost-bounded
        # sample; the hash verifies the DECISION logic, not the row
        # count) gets a deterministically CORRUPTED suffix built by the
        # same UTF-8→cp1252 mis-decode the operator reverses (residue
        # 0: accented words, residue 1: punctuation/€/ellipsis,
        # residue 2: clean ASCII — must pass through byte-identical).
        # name carries doc:md5(repaired) so the repaired text is
        # byte-verified cross-engine (the 'html' pattern); value the
        # byte shrink, n the repaired length, total whether anything
        # changed.
        moji_sfx = [
            T._mojibake_of(" café résumé naïve"),
            T._mojibake_of(" “quoted” — dash €9 …"),
            "",
        ]
        mdid = F.col("doc_id")
        mraw = F.concat(
            F.col("text"),
            F.when(mdid % 3 == 0, F.lit(moji_sfx[0]))
            .when(mdid % 3 == 1, F.lit(moji_sfx[1]))
            .otherwise(F.lit(moji_sfx[2])),
        )
        mrep = T.repair_mojibake_col(mraw)
        moji = docs.filter(mdid % 5 == 0).select(
            F.lit("mojibake").alias("variant"),
            F.concat_ws(
                ":",
                mdid.cast("string"),
                F.md5(F.coalesce(mrep, F.lit(""))),
            ).alias("name"),
            F.coalesce(F.length(mraw) - F.length(mrep), F.lit(0))
            .cast("double")
            .alias("value"),
            F.coalesce(F.length(mrep), F.lit(0)).cast("long").alias("n"),
            F.when(
                F.coalesce(F.length(mraw) - F.length(mrep), F.lit(0)) > 0, 1
            )
            .otherwise(0)
            .cast("long")
            .alias("total"),
        )
        # 'nfc' — Unicode canonical normalization: every 7th doc gets a
        # salted suffix exercising composition (e + combining acute →
        # é), canonical REORDERING of combining marks (dot-below +
        # dot-above), and a pass-through control; the Arrow unicodedata
        # pass must agree byte-for-byte with DuckDB's nfc_normalize
        # (both UAX #15).  name carries doc:md5(nfc text); value the
        # code-point shrink, n the normalized length, total changed.
        # salts written as EXPLICIT escapes: they must be the DECOMPOSED
        # forms (an editor rendering the glyphs would silently save the
        # composed NFC bytes and the branch would test nothing)
        nfc_sfx0 = " cafe\u0301 A\u030ab"  # e+acute, A+ring -> composes
        nfc_sfx1 = " x\u0307\u0323y"  # mark REORDERING: ccc 230 after 220
        nraw = F.concat(
            F.col("text"),
            F.when(mdid % 3 == 0, F.lit(nfc_sfx0))
            .when(mdid % 3 == 1, F.lit(nfc_sfx1))
            .otherwise(F.lit("")),
        )
        nfc = T.normalize_nfc_arrow(
            docs.filter(mdid % 7 == 0).select("doc_id", nraw.alias("text"))
        ).select(
            F.lit("nfc").alias("variant"),
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.md5(F.coalesce("text_nfc", F.lit(""))),
            ).alias("name"),
            (F.col("n_raw") - F.col("n_nfc")).cast("double").alias("value"),
            F.col("n_nfc").cast("long").alias("n"),
            F.col("changed").cast("long").alias("total"),
        )
        # 'signals' — the Dolma/RefinedWeb-style per-doc quality-signal
        # EXPORT row (text.quality_signal_export): the gopher + C4
        # blocklist signal families assembled in ONE scan-stage pass
        # (plan-pinned: single file scan, zero exchanges).  name packs
        # every numeric signal (%.6f for the round-6 ratios), value
        # carries the gopher mask, n the word count, total the pass
        # bits (gopher=1, blocklist=2) — offline threshold tuning
        # reads THIS table instead of re-scanning the corpus.
        sig = sig_tbl.select(
            F.lit("signals").alias("variant"),
            F.format_string(
                "%d:%d:%.6f:%.6f:%.6f:%d",
                "doc_id",
                "n_chars",
                "mean_word_len",
                "top_share",
                "blocked_frac",
                "n_blocked",
            ).alias("name"),
            F.col("failure_mask").cast("double").alias("value"),
            F.col("word_count").alias("n"),
            (F.col("gopher_passed") + F.lit(2) * F.col("bl_passed"))
            .cast("long")
            .alias("total"),
        )
        return (
            length_rows.unionByName(cons)
            .unionByName(skew)
            .unionByName(salted)
            .unionByName(dsir)
            .unionByName(qlrw)
            .unionByName(qlr)
            .unionByName(gop)
            .unionByName(bl)
            .unionByName(sig)
            .unionByName(gate)
            .unionByName(html)
            .unionByName(moji)
            .unionByName(nfc)
            .unionByName(qsk)
            .unionByName(qst)
        )

    q["x6_quality_gates"] = _x6

    # x7 union: the raw corpus-bigram-LM doc scores ('score') ⊕ the
    # CCNet head/middle/tail perplexity terciles ('ccnet', Wenzek et
    # al. arXiv:1911.00359 — the standard LM-fluency curation split).
    # The LM scoring passes are pinned once and feed both branches.
    def _x7(s: SparkSession, d: str) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.dedup import (
            tokens_col,
        )

        # ONE tokenized corpus scan shared by the bigram LM and the KN
        # trigram LM (each previously re-tokenized); lazy is safe —
        # both consumers pin their exploded gram streams eagerly on
        # the main thread before any broadcast touches the lineage.
        x7_toks = (
            spread(_docs(s, d))
            .select("doc_id", tokens_col(F.col("text")).alias("tokens"))
            .localCheckpoint(eager=False)
        )
        # eager: perplexity_buckets broadcasts th (derived from sc) —
        # the lazy-checkpoint-under-broadcast deadlock class (see _x6)
        sc = T.bigram_logprob_scores(
            _docs(s, d), tokens_df=x7_toks
        ).localCheckpoint(eager=True)
        score = sc.select(
            F.lit("score").alias("variant"),
            "doc_id",
            "n_bigrams",
            F.col("avg_logprob").alias("score"),
            F.lit("").alias("bucket"),
        )
        cc = T.perplexity_buckets(_docs(s, d), scores=sc).select(
            F.lit("ccnet").alias("variant"),
            "doc_id",
            "n_bigrams",
            F.col("ppl").alias("score"),
            "bucket",
        )
        # 'kn3' — the interpolated Kneser–Ney trigram LM (the CCNet-
        # proper smoothed model, D = 1/2 in exact integer micro-units;
        # see text.kneser_ney_trigram_scores).  n_bigrams carries
        # n_trigrams, score the mean KN probability in micro-units,
        # bucket the per-doc SUM (so the hash pins both readouts).
        kn = T.kneser_ney_trigram_scores(
            _docs(s, d), tokens_df=x7_toks
        ).select(
            F.lit("kn3").alias("variant"),
            "doc_id",
            F.col("n_trigrams").alias("n_bigrams"),
            F.col("avg_p_micro").cast("double").alias("score"),
            F.col("sum_p_micro").cast("string").alias("bucket"),
        )
        return score.unionByName(cc).unionByName(kn)

    q["x7_bigram_logprob"] = _x7
    q["x8_repetition_stats"] = lambda s, d: T.repetition_stats(_docs(s, d))
    # x9 — term-relevance union: per-doc TF-IDF keyword extraction
    # ('tfidf') ⊕ query-side Okapi BM25 retrieval ('bm25', fixed
    # three-term query), normalized to (variant, doc_id, term, score,
    # rank).
    def _x9(s: SparkSession, d: str) -> DataFrame:
        docs = _docs(s, d)
        tfidf = T.tfidf_top_terms(docs, k=3).select(
            F.lit("tfidf").alias("variant"),
            "doc_id",
            "term",
            F.col("tfidf").cast("double").alias("score"),
            "rank",
        )
        qterms = ["spark", "vector", "hash"]
        bm = T.bm25_search(docs, qterms, k=10)
        bm25 = bm.select(
            F.lit("bm25").alias("variant"),
            "doc_id",
            F.lit(" ".join(qterms)).alias("term"),
            F.col("bm25").cast("double").alias("score"),
            "rank",
        )
        # 'rrf' — hybrid retrieval: the verified BM25 ranking ⊕ the
        # exact-cosine vector ranking for query vec 0, fused by
        # reciprocal rank fusion in integer space (score = Σ 1e9 div
        # (60 + rank), bit-deterministic cross-engine).  The standard
        # RAG serving combiner, hash-verified end-to-end.
        from kafkastreamsinteractivequeries_spark.operators.similarity import (
            knn_bruteforce,
            reciprocal_rank_fusion,
        )

        emb = load_table(s, d, "embeddings")
        qdf = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        vec = knn_bruteforce(emb, qdf, k=10).select(
            F.col("vec_id").alias("doc_id"), "rank"
        )
        fused = reciprocal_rank_fusion(
            [bm.select("doc_id", "rank"), vec], k=10
        ).select(
            F.lit("rrf").alias("variant"),
            "doc_id",
            F.lit(" ".join(qterms)).alias("term"),
            F.col("rrf").cast("double").alias("score"),
            "rank",
        )
        return tfidf.unionByName(bm25).unionByName(fused)

    q["x9_term_relevance"] = _x9
    # x11 — the tokenizer-building suite in ONE tagged union: top-k
    # corpus vocabulary with rank and cumulative coverage ('vocab') ⊕
    # the first 6 rounds of the BPE merge TRAJECTORY ('bpe': term =
    # "left right", n = the winning pair's corpus count, rank = merge
    # step) — the training loop's full decision record, which the
    # oracle replays round-for-round (greedy-left fold merges, max
    # count / lexicographic tie-break).
    def _x11(s: SparkSession, d: str) -> DataFrame:
        docs = _docs(s, d)
        vocab = T.vocabulary_coverage(docs, top_k=50).select(
            F.lit("vocab").alias("variant"),
            F.col("token").alias("term"),
            F.col("count").cast("long").alias("n"),
            F.col("rank").cast("long").alias("rank"),
            F.col("cum_fraction").alias("share"),
        )
        # train-once/serve-many (_memo): every trained tokenizer
        # artifact here is vocabulary-bounded — the BPE merge
        # trajectory (6 rows), the WordPiece vocab (120 rows), the
        # unigram-LM vocab (≤40 rows), the token-id vocab (piece-
        # distinct) — so the first build per sf_dir trains and later
        # builds serve the frozen tables
        traj = _memo(
            ("x11_traj", d), lambda: T.bpe_train_trajectory(docs, num_merges=6)
        )
        bpe = s.createDataFrame(
            traj, "step long, left string, right string, n long"
        ).select(
            F.lit("bpe").alias("variant"),
            F.concat_ws(" ", "left", "right").alias("term"),
            F.col("n"),
            F.col("step").alias("rank"),
            F.lit(-1.0).alias("share"),
        )
        # 'segment' (previously pytest-only): greedy BPE ENCODE with the
        # merge table just learned — per-doc segmented token stream
        # riding term, token count riding n, doc_id riding rank.  Docs
        # whose normalized text is empty are excluded on both sides
        # (they have no words; training never saw them).
        merges = [(left, right) for _step, left, right, _n in traj]
        from kafkastreamsinteractivequeries_spark.operators.dedup import (
            normalized_text,
        )

        nonempty = docs.filter(normalized_text(F.col("text")) != "")
        from kafkastreamsinteractivequeries_spark.operators import (
            training as TRN,
        )

        # ONE corpus pass materializes pieces AND token ids together
        # (bpe_segment_arrow chained into encode_token_ids with
        # carry_cols — two fused Arrow map stages, zero shuffle), so
        # the former separate sega/ids eager checkpoints collapse into
        # one materialization.  The id vocab trains off the unpinned
        # segmentation plan (memo: one extra encode pass on the cold
        # call only).
        # eager: tokbin's pack⋈ids join can broadcast a side whose
        # lineage includes this checkpoint (deadlock class, see _x6)
        sega_plan = T.bpe_segment_arrow(nonempty, merges)
        tvoc_df = _memo_df(
            s, ("x11_tvoc", d), lambda: TRN.token_id_vocab(sega_plan)
        )
        vmap = _memo(
            ("x11_vmap", d),
            lambda: {
                r["piece"]: r["token_id"]
                for r in _TRAINED_MEMO[_memo_key(("x11_tvoc", d))][0]
            },
        )  # bounded: vocabulary size (rows already memoized above)
        combined = TRN.encode_token_ids(
            sega_plan,
            vmap,
            carry_cols=("bpe_tokens_learned", "n_bpe_tokens"),
        ).localCheckpoint(eager=True)
        sega_raw = combined.select(
            "doc_id", "bpe_tokens_learned", "n_bpe_tokens"
        )
        ids_df = combined.select("doc_id", "token_ids", "n_ids")
        # 'segment' — the expression-form greedy BPE encode contract.
        # Served from the SAME pinned segmentation as 'segmenta': the
        # Arrow encoder is pinned value-identical to the expression
        # path (test_bpe_segment_arrow_matches_expression_path, plus
        # this branch's own oracle replay), so re-running the unrolled
        # fold chain over the corpus per build bought nothing.
        seg = sega_raw.select(
            F.lit("segment").alias("variant"),
            F.concat_ws(" ", "bpe_tokens_learned").alias("term"),
            F.col("n_bpe_tokens").cast("long").alias("n"),
            F.col("doc_id").cast("long").alias("rank"),
            F.lit(-1.0).alias("share"),
        )
        # 'segmenta' — the PRODUCTION Arrow encoder (bpe_segment_arrow,
        # mapInPandas): same learned merges, hash-verified against the
        # same oracle replay as 'segment'.
        sega = sega_raw.select(
            F.lit("segmenta").alias("variant"),
            F.concat_ws(" ", "bpe_tokens_learned").alias("term"),
            F.col("n_bpe_tokens").cast("long").alias("n"),
            F.col("doc_id").cast("long").alias("rank"),
            F.lit(-1.0).alias("share"),
        )
        # 'tokvocab' ⊕ 'tokids' ⊕ 'tokbin' — the token-ID
        # training-example emitter (operators/training.py), the last
        # hop from tokenizer pieces to tensor-ready shards:
        # frequency-ranked piece ids over the Arrow BPE segmentation
        # (specials pad=0/unk=1/bos=2/eos=3), per-doc integer id
        # arrays with EOS appended, then no-straddle 512-token bins
        # whose input_ids / loss_mask / segment_ids / doc_ids are ALL
        # rendered into the hash (term = the four tensors joined with
        # ' | ').  The oracle replays vocab ranking, the id mapping,
        # next-fit packing (recursive CTE per shard), and every
        # padded tensor position.  rank = doc_id for tokids,
        # shard·10⁶ + bin_id for tokbin; share = n_docs in the bin.
        tokvocab = tvoc_df.select(
            F.lit("tokvocab").alias("variant"),
            F.col("piece").alias("term"),
            F.col("count").alias("n"),
            F.col("token_id").cast("long").alias("rank"),
            F.lit(-1.0).alias("share"),
        )
        tokids = ids_df.select(
            F.lit("tokids").alias("variant"),
            F.array_join(
                F.col("token_ids").cast("array<string>"), " "
            ).alias("term"),
            F.col("n_ids").cast("long").alias("n"),
            F.col("doc_id").cast("long").alias("rank"),
            F.lit(-1.0).alias("share"),
        )
        # 'tokstream' — the SAME token-id encode through the REAL
        # STREAMING ingest path: documents arrive as a file stream
        # (availableNow), foreachBatch → StreamingTokenIdSink encodes
        # each micro-batch against the FROZEN merges + vocabulary and
        # lands a _SUCCESS-gated batch=<id> code store, and this branch
        # reads the LANDED snapshot — hash-verified against the same
        # oracle replay as 'tokids', proving stream-landed ids ==
        # one-shot batch encode through the sink/commit plumbing
        # (ids are a pure function of text × merges × vocab, so the
        # landed union is batching-invariant — the qstream precedent
        # extended to the growing append-only store family).  The
        # ingest runs once per (process, sf_dir); per-process root
        # (_PROC_TAG) so concurrent processes never share an rmtree.
        from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
            StreamingTokenIdSink,
        )

        def _run_tokstream() -> str:
            import shutil
            import tempfile

            tag = hashlib.md5(d.encode()).hexdigest()[:10]
            root = os.path.join(
                tempfile.gettempdir(), f"ksiq_tokstream_{tag}_{_PROC_TAG}"
            )
            shutil.rmtree(root, ignore_errors=True)  # fresh per process
            sink = StreamingTokenIdSink(
                os.path.join(root, "store"), merges, vmap
            )
            stream = (
                s.readStream.schema("doc_id long, text string")
                .option("pathGlobFilter", "documents.parquet")
                .parquet(d)
                # same nonempty contract as the batch encode: docs whose
                # normalized text is empty have no pieces and are
                # excluded on both sides
                .filter(normalized_text(F.col("text")) != "")
            )
            sq = (
                stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            sq.awaitTermination()
            return sink.path

        tokstream_store = _memo(("x11_tokstream", d), _run_tokstream)
        tokstream = StreamingTokenIdSink(
            tokstream_store, merges, vmap
        ).token_ids(s).select(
            F.lit("tokstream").alias("variant"),
            F.array_join(
                F.col("token_ids").cast("array<string>"), " "
            ).alias("term"),
            F.col("n_ids").cast("long").alias("n"),
            F.col("doc_id").cast("long").alias("rank"),
            F.lit(-1.0).alias("share"),
        )
        # 'sftbin' — the SFT shard emitter end-to-end: nonempty docs
        # fold into synthetic conversations (conv = doc_id div 5,
        # turns in doc_id order, system/user/assistant roles by
        # position — the p2 'chat' convention), contents BPE-encode
        # with a ROLE-RESERVED vocabulary (piece ids from 7, markers
        # 4/5/6), each turn renders [role_marker] ids [EOS] with the
        # assistant-only loss mask, and conversations pack WHOLE into
        # 4096-id bins.  All four tensors + conv ids ride term; the
        # oracle replays the role-shifted vocab, turn rendering, mask,
        # next-fit, and every padded position.
        # Turn contents ARE the nonempty docs' texts, and the SFT
        # vocabulary is the SAME (count DESC, piece ASC) ranking with
        # first_id 7 instead of 4 — so for every piece
        # ``vmap7[p] == vmap[p] + 3`` (UNK stays 1), and the per-turn
        # content ids are an ARITHMETIC SHIFT of the pinned ``ids_df``
        # rows (drop each doc's trailing EOS separator first).  The
        # whole conversation table therefore derives from the pinned
        # corpus encode with ONE groupBy: no second Arrow encode pass,
        # no per-conv row_number window, no turn⋈ids join.  Turn index
        # = position in doc_id order = the sorted-struct position, so
        # roles fall out of the transform index (system / user /
        # assistant by the p2 'chat' convention).  Value-identity is
        # pinned by test_sft_convs_shift_matches_operator plus this
        # branch's own oracle replay of the role-shifted vocab.
        _cids = F.transform(
            F.slice(F.col("token_ids"), 1, F.col("n_ids") - 1),
            lambda x: F.when(x == TRN.UNK_ID, x).otherwise(
                x + TRN.N_SFT_SPECIALS - TRN.N_SPECIALS
            ).cast("int"),
        )
        _eos7 = F.array(F.lit(TRN.EOS_ID).cast("int"))
        _sft_sorted = (
            ids_df.select(
                F.expr("doc_id div 5").alias("conv_id"),
                "doc_id",
                _cids.alias("_cids"),
            )
            .groupBy("conv_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("doc_id", "_cids"))
                ).alias("_ts")
            )
        )
        _tsc = F.col("_ts")
        _role_id = lambda j: (  # noqa: E731 — turn-index → marker id
            F.when(j == 0, TRN.ROLE_IDS["system"])
            .when(j % 2 == 1, TRN.ROLE_IDS["user"])
            .otherwise(TRN.ROLE_IDS["assistant"])
            .cast("int")
        )
        sft_convs = _sft_sorted.select(
            "conv_id",
            F.flatten(
                F.transform(
                    _tsc,
                    lambda x, j: F.concat(
                        F.array(_role_id(j)), x["_cids"], _eos7
                    ),
                )
            ).alias("token_ids"),
            F.flatten(
                F.transform(
                    _tsc,
                    lambda x, j: F.when(
                        (j > 0) & (j % 2 == 0),  # assistant turns
                        F.concat(
                            F.array(F.lit(0).cast("int")),
                            F.array_repeat(
                                F.lit(1).cast("int"), F.size(x["_cids"])
                            ),
                            F.array(F.lit(1).cast("int")),
                        ),
                    ).otherwise(
                        F.array_repeat(
                            F.lit(0).cast("int"), F.size(x["_cids"]) + 2
                        )
                    ),
                )
            ).alias("loss_mask"),
        ).withColumn("n_ids", F.size("token_ids").cast("int")).localCheckpoint(eager=True)
        sftbin = TRN.token_training_examples(
            sft_convs,
            seq_len=4096,
            shards=8,
            id_col="conv_id",
            ids_col="token_ids",
            mask_col="loss_mask",
        ).select(
            F.lit("sftbin").alias("variant"),
            F.concat_ws(
                " | ",
                F.array_join(F.col("input_ids").cast("array<string>"), " "),
                F.array_join(F.col("loss_mask").cast("array<string>"), " "),
                F.array_join(F.col("segment_ids").cast("array<string>"), " "),
                F.array_join(F.col("doc_ids").cast("array<string>"), " "),
            ).alias("term"),
            F.col("n_tokens").cast("long").alias("n"),
            (F.col("shard").cast("long") * 1000000 + F.col("bin_id")).alias(
                "rank"
            ),
            F.col("n_docs").cast("double").alias("share"),
        )
        # pinned: 'tokbin' AND 'tokstats' both read the packed bins —
        # unpinned, the whole next-fit packing pipeline ran twice
        bins_df = TRN.token_training_examples(
            ids_df, seq_len=512, shards=8
        ).localCheckpoint(eager=False)
        # 'tokstats' — the per-shard packing-efficiency datasheet over
        # the same bins (training.packing_stats): term = shard:n_trunc,
        # n = total real tokens, rank = n_bins, share = fill permille.
        tokstats = TRN.packing_stats(bins_df, 512).select(
            F.lit("tokstats").alias("variant"),
            F.concat_ws(
                ":",
                F.col("shard").cast("string"),
                F.col("n_truncated").cast("string"),
                F.col("waste_tokens").cast("string"),
            ).alias("term"),
            F.col("total_tokens").alias("n"),
            F.col("n_bins").alias("rank"),
            F.col("fill_permille").cast("double").alias("share"),
        )
        tokbin = bins_df.select(
            F.lit("tokbin").alias("variant"),
            F.concat_ws(
                " | ",
                F.array_join(F.col("input_ids").cast("array<string>"), " "),
                F.array_join(F.col("loss_mask").cast("array<string>"), " "),
                F.array_join(F.col("segment_ids").cast("array<string>"), " "),
                F.array_join(F.col("doc_ids").cast("array<string>"), " "),
            ).alias("term"),
            F.col("n_tokens").cast("long").alias("n"),
            (F.col("shard").cast("long") * 1000000 + F.col("bin_id")).alias(
                "rank"
            ),
            F.col("n_docs").cast("double").alias("share"),
        )
        # 'wpvocab' ⊕ 'wordpiece' — the BERT-family tokenizer beside
        # the GPT-family BPE: a deterministic frequency-ranked
        # prefix/continuation vocabulary (hash-verified including each
        # piece's rank) and greedy longest-match-first MaxMatch
        # segmentation of every doc through the production Arrow
        # encoder, with the reference whole-word-[UNK] rule.  The
        # oracle replays the vocab build, the per-(word, position)
        # longest-match table, and the match chain as a recursive walk.
        wpv = _memo_df(
            s,
            ("x11_wpv", d),
            lambda: T.wordpiece_vocab(
                docs, max_piece_len=4, top_start=60, top_cont=60
            ),
        )
        wpvocab = wpv.select(
            F.lit("wpvocab").alias("variant"),
            F.when(F.col("is_cont") == 1, F.concat(F.lit("##"), "piece"))
            .otherwise(F.col("piece"))
            .alias("term"),
            F.col("count").alias("n"),
            F.col("rank"),
            F.col("is_cont").cast("double").alias("share"),
        )
        # bounded: top_start + top_cont pieces — read the memoized
        # rows directly instead of a per-build collect round-trip
        vrows = _memo(
            ("x11_wpv_rows", d),
            lambda: _TRAINED_MEMO[_memo_key(("x11_wpv", d))][0],
        )
        wp = T.wordpiece_segment_arrow(
            nonempty,
            [r["piece"] for r in vrows if r["is_cont"] == 0],
            [r["piece"] for r in vrows if r["is_cont"] == 1],
        ).select(
            F.lit("wordpiece").alias("variant"),
            F.concat_ws(" ", "wp_tokens").alias("term"),
            F.col("n_wp_tokens").cast("long").alias("n"),
            F.col("doc_id").cast("long").alias("rank"),
            F.lit(-1.0).alias("share"),
        )
        # 'uvocab' ⊕ 'unigram' — the SentencePiece-family unigram LM
        # beside BPE and WordPiece (the third major tokenizer family,
        # the one Llama-class pipelines train): seed-substring vocab →
        # one hard-EM round (Viterbi E step over distinct words, usage
        # recount + prune M step) with costs in exact HALF-BIT fixed
        # point (floor(2·log2 n) via integer bit-length — never libm),
        # then min-cost Viterbi segmentation of every doc through the
        # production Arrow encoder.  The oracle replays the ENTIRE
        # trajectory: seed counts, both Viterbi passes as unrolled
        # 16-stage DPs with the (cost, n_pieces, path) total order,
        # the usage recount, and the final vocab.
        uvoc = _memo(
            ("x11_uvoc", d),
            lambda: T.unigram_lm_train(docs, max_piece_len=4, top_k=40),
        )
        uvocab = s.createDataFrame(
            uvoc, "piece string, cnt long, cost long, urank long"
        ).select(
            F.lit("uvocab").alias("variant"),
            F.col("piece").alias("term"),
            F.col("cnt").alias("n"),
            F.col("urank").alias("rank"),
            F.col("cost").cast("double").alias("share"),
        )
        useg = T.unigram_segment_arrow(nonempty, uvoc, max_piece_len=4).select(
            F.lit("unigram").alias("variant"),
            F.concat_ws(" ", "u_tokens").alias("term"),
            F.col("n_u_tokens").cast("long").alias("n"),
            F.col("doc_id").cast("long").alias("rank"),
            F.lit(-1.0).alias("share"),
        )
        return (
            vocab.unionByName(bpe)
            .unionByName(seg)
            .unionByName(sega)
            .unionByName(tokvocab)
            .unionByName(tokids)
            .unionByName(tokstream)
            .unionByName(tokbin)
            .unionByName(tokstats)
            .unionByName(sftbin)
            .unionByName(wpvocab)
            .unionByName(wp)
            .unionByName(uvocab)
            .unionByName(useg)
        )

    q["x11_vocab_bpe"] = _x11

    from kafkastreamsinteractivequeries_spark.operators import sketches as SK

    # x10 — the mergeable-sketch suite in ONE tagged union (kmv ⊕ hll ⊕
    # cms), normalized to (variant, sketch_key, estimate, detail):
    # kmv's detail is the k-th smallest hash (the sketch content), hll's
    # the nonzero register count, cms's the exact frequency the
    # over-estimate is checked against.  Each sketch is deterministic
    # arithmetic over the same 32-bit ring hash, so content AND estimate
    # hash-match the DuckDB oracle.
    def _x10(s: SparkSession, d: str) -> DataFrame:
        ev = load_table(s, d, "events")
        kmv = SK.kmv_distinct_users(ev, k=32).select(
            F.lit("kmv").alias("variant"),
            F.col("event_type").alias("sketch_key"),
            F.col("distinct_estimate").cast("double").alias("estimate"),
            F.col("kth_hash").cast("long").alias("detail"),
        )
        hll = SK.hll_distinct(ev, "user_id", ["event_type"], p=6).select(
            F.lit("hll").alias("variant"),
            F.col("event_type").alias("sketch_key"),
            F.col("distinct_estimate").cast("double").alias("estimate"),
            F.col("nonzero_buckets").cast("long").alias("detail"),
        )
        # 'hllstream' — the SAME distinct-count telemetry through the
        # REAL STREAMING path: events ingested as an availableNow file
        # stream → foreachBatch → StreamingHllSink lands a versioned
        # _SUCCESS-gated register store (state ≤ groups × 2^p rows
        # forever), and this branch derives estimates off the LANDED
        # snapshot — hash-verified against the same closed-form oracle
        # as the batch 'hll' branch (register max-merge IS the HLL
        # union, so landed == batch for ANY batching — the one sink in
        # the family whose incremental form is exactly merge-stable).
        # Ingest runs once per (process, sf_dir); per-process root.
        from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
            StreamingHllSink,
        )

        def _run_hllstream() -> str:
            import shutil
            import tempfile

            tag = hashlib.md5(d.encode()).hexdigest()[:10]
            root = os.path.join(
                tempfile.gettempdir(), f"ksiq_hllstream_{tag}_{_PROC_TAG}"
            )
            shutil.rmtree(root, ignore_errors=True)  # fresh per process
            sink = StreamingHllSink(
                os.path.join(root, "store"), "user_id", ["event_type"], p=6
            )
            stream = (
                s.readStream.schema("user_id long, event_type string")
                .option("pathGlobFilter", "events.parquet")
                .parquet(d)
            )
            sq = (
                stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            sq.awaitTermination()
            return sink.path

        hllstream_store = _memo(("x10_hllstream", d), _run_hllstream)
        hllstream = StreamingHllSink(
            hllstream_store, "user_id", ["event_type"], p=6
        ).estimates(s).select(
            F.lit("hllstream").alias("variant"),
            F.col("event_type").alias("sketch_key"),
            F.col("distinct_estimate").cast("double").alias("estimate"),
            F.col("nonzero_buckets").cast("long").alias("detail"),
        )
        counters = SK.cms_counters(ev, "user_id", depth=4, width=1024)
        probes = ev.select("user_id").where(F.col("user_id") % 8 == 0).distinct()
        exact = ev.groupBy("user_id").agg(F.count("*").alias("_exact"))
        cms = (
            SK.cms_estimate(counters, probes, "user_id", depth=4, width=1024)
            .join(exact, "user_id")
            .select(
                F.lit("cms").alias("variant"),
                F.col("user_id").cast("string").alias("sketch_key"),
                F.col("cms_estimate").cast("double").alias("estimate"),
                F.col("_exact").cast("long").alias("detail"),
            )
        )
        # kmvset: theta-style segment-overlap estimates from merged
        # k-min sketches — estimate = |A∩B| estimate per event-type
        # pair, detail = the k-set's both-sides membership count (sketch
        # content, so the merge itself is hash-checked).
        kmvset = SK.kmv_overlap(ev, "user_id", "event_type", k=32).select(
            F.lit("kmvset").alias("variant"),
            F.concat_ws("+", "group_a", "group_b").alias("sketch_key"),
            F.col("intersection_estimate").cast("double").alias("estimate"),
            F.col("n_both").cast("long").alias("detail"),
        )
        # drift_*: the corpus-distribution drift monitor next to the
        # sketches it complements — JS/KL scalars + top-20 contributing
        # buckets, for a REAL split (en vs rest, 'drift_lang') and a
        # same-distribution control (even vs odd ids, 'drift_split');
        # counts ride the key string so totals are hash-verified too.
        docs = _docs(s, d)
        # ONE flagged gram pass for all four drift sides (guide §2.4):
        # the two drift branches used to run FOUR tokenize+bigram
        # corpus scans (en / non-en / even / odd), but each side's
        # histogram is just a conditional count over the same gram
        # stream — one pass, one ≤4096-row pinned table, and each
        # side's (bucket, cnt) is a filter+select of it (cnt > 0
        # matches gram_histogram's observed-buckets-only contract).
        from kafkastreamsinteractivequeries_spark.operators.curation import (
            _hashed_gram_stream,
        )

        gflags = F.struct(
            (F.col("lang") == "en").alias("en"),
            (F.col("doc_id") % 2 == 0).alias("even"),
        )
        gstream = _hashed_gram_stream(
            spread(docs.select(gflags.alias("_g"), "text")), 4096, "text", "_g"
        )
        ghist = (
            gstream.groupBy("bucket")
            .agg(
                F.sum(F.when(F.col("_g.en"), 1).otherwise(0)).alias("c_en"),
                F.sum(F.when(~F.col("_g.en"), 1).otherwise(0)).alias("c_ren"),
                F.sum(F.when(F.col("_g.even"), 1).otherwise(0)).alias("c_even"),
                F.sum(F.when(~F.col("_g.even"), 1).otherwise(0)).alias("c_odd"),
            )
            .localCheckpoint(eager=False)
        )

        def _side(c: str) -> DataFrame:
            return ghist.filter(F.col(c) > 0).select(
                "bucket", F.col(c).alias("cnt")
            )

        def _drift(tag: str, ha, hb) -> DataFrame:
            return T.distribution_divergence_from_histograms(
                ha, hb, top_k=20
            ).select(
                F.lit(tag).alias("variant"),
                F.concat_ws(
                    ":",
                    "metric",
                    F.col("count_a").cast("string"),
                    F.col("count_b").cast("string"),
                ).alias("sketch_key"),
                F.col("value").alias("estimate"),
                F.col("bucket").cast("long").alias("detail"),
            )

        drift_lang = _drift("drift_lang", _side("c_en"), _side("c_ren"))
        drift_split = _drift("drift_split", _side("c_even"), _side("c_odd"))
        return (
            kmv.unionByName(hll)
            .unionByName(hllstream)
            .unionByName(cms)
            .unionByName(kmvset)
            .unionByName(drift_lang)
            .unionByName(drift_split)
        )

    q["x10_cardinality_sketches"] = _x10

    # x12 — PII redaction.  The synthetic corpus carries no real PII,
    # so the key plants deterministic contact strings (email / dashed
    # phone / IPv4, each on a different doc_id residue class) and runs
    # the REAL redaction operator over them; the oracle rebuilds the
    # same salted text and replays the regex pipeline, so a pattern or
    # replacement-order bug breaks counts, lengths, AND the md5 of the
    # redacted text.
    def _x12(s: SparkSession, d: str) -> DataFrame:
        did = F.col("doc_id")
        salted = _docs(s, d).select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(
                    did % 3 == 0,
                    F.concat(
                        F.lit(" contact user"),
                        did.cast("string"),
                        F.lit("@example.com"),
                    ),
                ).otherwise(F.lit("")),
                F.when(
                    did % 4 == 0,
                    F.concat(
                        F.lit(" call +1-555-"),
                        F.lpad((did * 7 % 1000).cast("string"), 3, "0"),
                        F.lit("-"),
                        F.lpad((did * 13 % 10000).cast("string"), 4, "0"),
                    ),
                ).otherwise(F.lit("")),
                F.when(
                    did % 5 == 0,
                    F.concat(
                        F.lit(" from 10."),
                        (did % 256).cast("string"),
                        F.lit("."),
                        (did * 3 % 256).cast("string"),
                        F.lit("."),
                        (did * 7 % 256).cast("string"),
                    ),
                ).otherwise(F.lit("")),
                # card-SHAPED salt whose last-4 digits vary by id: only
                # the ~10% whose Luhn checksum passes may count as PII
                # and be redacted — the detector's validity decision is
                # itself hash-verified (near-misses must survive
                # untouched)
                F.when(
                    did % 7 < 2,
                    F.concat(
                        F.lit(" card 4111-1111-1111-"),
                        F.lpad((did * 31 % 10000).cast("string"), 4, "0"),
                    ),
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
        return T.pii_stats(salted).select(
            "doc_id",
            "n_email",
            "n_phone",
            "n_ipv4",
            "n_card",
            "redacted_len",
            F.md5("redacted_text").alias("redacted_md5"),
            "clean",
        )

    q["x12_pii_redaction"] = _x12

    # x13 — benchmark decontamination: eval set = every 20th doc,
    # train = the rest; n=3 (the published 13-gram convention is the
    # library default — 3 pinned here because the synthetic docs are
    # ~50 tokens over a ~40-word vocabulary, where trigram collisions
    # give a non-degenerate hit distribution for the oracle).
    # The decontamination TRIO under one tagged union, normalized to
    # (variant, doc_id, partner, score, contaminated):
    #   'exact' — broadcast-gram collisions (partner -1, score = count)
    #   'bloom' — fixed-size Bloom bitset (the 100 TB eval-side shape:
    #             no false negatives, sized FPR; the oracle replays the
    #             md5 bit positions, the bit_or word build, and the
    #             all-k-bits probe — false positives included)
    #   'fuzzy' — bipartite MinHash near-dup vs the eval slice
    #             (partner = eval_id, score = multiset jaccard;
    #             catches reordered/lightly-edited benchmark text)
    def _x13(s: SparkSession, d: str) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.dedup import tokens_col

        docs = _docs(s, d)
        train = docs.filter(F.col("doc_id") % 20 != 0)
        evald = docs.filter(F.col("doc_id") % 20 == 0)
        # ONE pinned tokenized scan of the 95% train corpus feeds ALL
        # THREE passes (exact grams, Bloom grams, fuzzy MinHash
        # signatures + totals + tf-maps) — tokenize is each pass's
        # common prefix and used to run once per pass (the x4
        # shared-occurrence-table pattern, extended one level down).
        train_toks = (
            spread(train)
            .select("doc_id", tokens_col(F.col("text")).alias("tokens"))
            .localCheckpoint(eager=False)
        )
        # the (id, gram) stream is itself shared by exact ⊕ bloom —
        # pinned separately so the gram slice+md5 also runs once.
        grams = T.decontamination_gram_rows(
            train, n=3, tokens_df=train_toks
        ).localCheckpoint(eager=False)
        exact = T.ngram_decontaminate(train, evald, n=3, train_grams=grams).select(
            F.lit("exact").alias("variant"),
            "doc_id",
            F.lit(-1).cast("long").alias("partner"),
            F.col("n_contaminated_ngrams").cast("double").alias("score"),
            "contaminated",
        )
        words = T.bloom_filter_grams(evald, n=3, num_bits=1 << 20, num_hashes=4)
        bloom = T.ngram_decontaminate_bloom(
            train, words, n=3, num_bits=1 << 20, num_hashes=4, train_grams=grams
        ).select(
            F.lit("bloom").alias("variant"),
            "doc_id",
            F.lit(-1).cast("long").alias("partner"),
            F.col("n_contaminated_ngrams").cast("double").alias("score"),
            "contaminated",
        )
        fuzzy = D.cross_corpus_near_duplicates(
            train,
            evald.select(F.col("doc_id").alias("eval_id"), "text"),
            threshold=0.5,
            train_tokens=train_toks,
        ).select(
            F.lit("fuzzy").alias("variant"),
            "doc_id",
            F.col("eval_id").cast("long").alias("partner"),
            F.col("mjaccard").alias("score"),
            F.lit(True).alias("contaminated"),
        )
        return exact.unionByName(bloom).unionByName(fuzzy)

    q["x13_decontamination"] = _x13

    # ---- multimodal columns (north-star; operators/multimodal.py):
    # binary payloads + typed metadata; codec step deterministically
    # faked (no PIL/cv2 in container), Spark plumbing real ----
    from kafkastreamsinteractivequeries_spark.operators import multimodal as M

    def _assets(s, d):
        return M.assets_from_documents(_docs(s, d))

    # m1 carries m4's audio fields: asset_manifest_full appends
    # audio_features' derived columns (n_samples / pcm_duration_ms,
    # NULL for non-audio rows like the manifest's own typed fields) as
    # the SAME shared Column expressions — one key verifies header
    # parse AND the audio derivation, still a single map-only scan.
    # The 'jpeg_*' rows add the REAL-format path real corpora are
    # dominated by: structurally-real JPEG byte streams (variable-
    # length COM segment forces an actual marker walk) parsed by the
    # JVM-side bounded segment fold in jpeg_dimensions — media type
    # (baseline/progressive), dims, and component count all come from
    # the PARSE, the oracle replays the generation formulas + md5 of
    # the replayed bytes, so the hash proves parse(generate(id)) ==
    # formulas(id) byte-for-byte across engines.
    def _m1(s: SparkSession, d: str) -> DataFrame:
        base = M.asset_manifest_full(_assets(s, d))
        docs = _docs(s, d)
        # Generators read only doc_id.  Kept as a straight projection:
        # a repartition(8) to spread the interpreted parse folds was
        # measured a wash at sf0.1 (4.55 s vs 4.56 s — the per-action
        # cost is driver-side optimize+codegen, not execution) and it
        # broke the m1 zero-shuffle plan contract, which IS the 100 TB
        # story (never shuffle a corpus-sized id column for a map-only
        # parse).
        ids = docs.select("doc_id")
        jm = M.jpeg_manifest(M.jpeg_assets_from_documents(ids))
        # gif87a/gif89a ⊕ bmp/bmp_topdown: the LITTLE-endian formats —
        # dims parsed with the byte-swap substring technique, top-down
        # BMPs (negative stored height) normalized to (abs, flag), all
        # of it visible in media_type so the hash verifies the parse.
        gb = M.gif_bmp_manifest(
            M.gif_assets_from_documents(ids), M.bmp_assets_from_documents(ids)
        )
        # webp_vp8/vp8l/vp8x ⊕ tiff_le/tiff_be: the RIFF-image chunk
        # walk (decode_wav generalized) and the endian-tagged IFD walk
        # — media type, dims, and channel count all from the PARSE;
        # sampled ids (%5) bound m1's per-format cost (the hash
        # verifies the parse logic, not the row count).
        wt = M.webp_tiff_manifest(
            M.webp_assets_from_documents(ids),
            M.tiff_assets_from_documents(ids),
        )
        # mp3 ⊕ flac (sampled ids %5 = 2/3): the compressed-audio
        # header walks — ID3v2 syncsafe skip + ISO 11172-3 table
        # lookups + the Layer III frame-length derivation for MP3, the
        # 20/3/5/36-bit STREAMINFO unpack for FLAC; all integer Column
        # arithmetic, checksums over oracle-replayed bytes.
        mf = M.mp3_flac_manifest(
            M.mp3_assets_from_documents(ids),
            M.flac_assets_from_documents(ids),
        )
        nul = F.lit(None)

        def as_m1(df: DataFrame) -> DataFrame:
            return df.select(
                "asset_id",
                "media_type",
                "magic",
                "byte_len",
                nul.cast("int").alias("body_bytes"),
                "width",
                "height",
                nul.cast("bigint").alias("sample_rate"),
                F.col("n_components").alias("n_channels"),
                nul.cast("bigint").alias("duration_ms"),
                "checksum",
                nul.cast("bigint").alias("n_samples"),
                nul.cast("bigint").alias("pcm_duration_ms"),
            )

        return (
            base.unionByName(as_m1(jm))
            .unionByName(as_m1(gb))
            .unionByName(as_m1(wt))
            .unionByName(mf)
        )

    q["m1_asset_manifest"] = _m1
    # m2 appends the JVM-side resize plan (m5) to the Python feature
    # extraction output — pure row map on width/height, no extra scan.
    q["m2_image_features"] = lambda s, d: M.with_resize_plan(
        M.image_features(_assets(s, d)), max_side=256
    )
    # m6 carries duration_ms, so its per-frame rows subsume the m3
    # frame-sampling plan.
    q["m6_video_frame_features"] = lambda s, d: M.video_frame_features(_assets(s, d))
    # m7: REAL pixel-decode round-trips — encode a genuine PNG / APNG
    # per document (pixels a pure function of doc_id), decode with the
    # pure-stdlib codec (zlib inflate + filter reconstruction), and
    # aggregate the recovered values.  ONE tagged union (the driver's
    # correctness report caps at 50 keys) covering three paths:
    #   'png'    — single-image decode stats
    #   'apng'   — multi-frame (video-analog) decode, one row per frame
    #   'resize' — decode + nearest-neighbor resample to longest-side
    #              ≤ 8, stats over the RESAMPLED pixels
    # The oracle computes the same stats arithmetically from the
    # doc_id generation formulas (and, for 'resize', replays the
    # integer NN source-index arithmetic) — a decode or resample bug
    # breaks the hash.  Sentinels keep the union NULL-free: single
    # images are frame 0 of 1; un-resized variants carry target dims
    # equal to source dims.
    def _m7(s: SparkSession, d: str) -> DataFrame:
        # the per-doc Python PNG ENCODE stage feeds two branches (pixel
        # stats + resize) — pin it so the mapInPandas encode runs once,
        # not once per branch (the stage-boundary pattern from
        # curation/similarity)
        png_assets = M.png_assets_from_documents(_docs(s, d)).localCheckpoint(
            eager=False
        )
        # ONE fused decode pass (guide §4): raw pixel stats, resized
        # stats, dHash, pHash, and the gate byte histogram used to be
        # FIVE separate mapInPandas passes, each zlib-inflating and
        # filter-reconstructing every payload — now every branch below
        # (and capdup's Hamming confirm) selects from this one pinned
        # table.  Values are byte-identical: the fused operator calls
        # the same shared per-array helpers as the single-pass
        # operators (pinned by test_multimodal).
        fused = M.png_fused_features(png_assets).localCheckpoint(eager=False)
        png = fused.select(
            F.lit("png").alias("variant"),
            "asset_id",
            F.lit(0).alias("frame_idx"),
            F.lit(1).alias("n_frames"),
            "width",
            "height",
            F.col("width").alias("target_width"),
            F.col("height").alias("target_height"),
            "channels",
            "pixel_mean",
            "pixel_min",
            "pixel_max",
        )
        # fused encode→decode round-trip (one Python pass, one exchange;
        # the two-stage form shipped every payload across the worker
        # boundary twice) — row-identical, codec still really executes
        apng = M.apng_roundtrip_features(_docs(s, d)).select(
            F.lit("apng").alias("variant"),
            "asset_id",
            "frame_idx",
            "n_frames",
            "width",
            "height",
            F.col("width").alias("target_width"),
            F.col("height").alias("target_height"),
            "channels",
            "pixel_mean",
            "pixel_min",
            "pixel_max",
        )
        rez = fused.select(
            F.lit("resize").alias("variant"),
            "asset_id",
            F.lit(0).alias("frame_idx"),
            F.lit(1).alias("n_frames"),
            "width",
            "height",
            "target_width",
            "target_height",
            "channels",
            F.col("r_pixel_mean").alias("pixel_mean"),
            F.col("r_pixel_min").alias("pixel_min"),
            F.col("r_pixel_max").alias("pixel_max"),
        )
        # 'dhash' — perceptual image hash from the REAL decoded pixels:
        # luma → NN 9×8 grid → 64 row-adjacent comparisons.  The m7 row
        # shape is reused: width/height/target_width/target_height
        # carry the four big-endian 16-bit hash quarters (each < 2^16,
        # integer-exact), pixel_min/pixel_max the SOURCE dims, and
        # pixel_mean a -1 sentinel — the oracle replays pixels → luma →
        # NN indices → comparisons → quarter packing arithmetically, so
        # the hash verifies decode AND the perceptual signature.
        # dHash signatures: a select off the fused pin, shared by the
        # 'dhash' report branch AND the 'capdup' Hamming confirm.
        dh_sigs = fused.select("asset_id", "dhash")
        dh = fused.select(
            F.lit("dhash").alias("variant"),
            "asset_id",
            F.lit(0).alias("frame_idx"),
            F.lit(1).alias("n_frames"),
            F.col("dq0").alias("width"),
            F.col("dq1").alias("height"),
            F.col("dq2").alias("target_width"),
            F.col("dq3").alias("target_height"),
            "channels",
            F.lit(-1.0).alias("pixel_mean"),
            F.col("width").alias("pixel_min"),
            F.col("height").alias("pixel_max"),
        )
        # 'phash' — the DCT perceptual hash beside dHash: decode →
        # luma → NN 32×32 → fixed-point integer DCT-II (the inlined
        # dct_table literals — no libm on either engine) → top-left
        # 8×8 block → bit = coef > 32nd-smallest.  The oracle replays
        # the whole spectrum arithmetically (two matmul joins against
        # the same 8×32 integer table), so the hash verifies decode,
        # resample, AND the low-frequency signature.  Same row shape
        # as 'dhash'.
        ph = fused.select(
            F.lit("phash").alias("variant"),
            "asset_id",
            F.lit(0).alias("frame_idx"),
            F.lit(1).alias("n_frames"),
            F.col("pq0").alias("width"),
            F.col("pq1").alias("height"),
            F.col("pq2").alias("target_width"),
            F.col("pq3").alias("target_height"),
            "channels",
            F.lit(-1.0).alias("pixel_mean"),
            F.col("width").alias("pixel_min"),
            F.col("height").alias("pixel_max"),
        )
        # 'gate' — LAION-style pair quality gates
        # (multimodal.image_pair_quality_gates) over the same PNG
        # assets paired with the doc text as caption: min-dims /
        # aspect / byte-diversity / flat-image / caption-length
        # failure bitmask (frame_idx), passed flag (n_frames),
        # n_distinct_vals + top_share_permille riding the target dims,
        # caption_tokens riding pixel_mean.  The oracle replays the
        # pixel histogram closed-form from the asset formula
        # (consecutive residues mod 256), so the hash verifies decode
        # AND every gate decision.
        pair_src = png_assets.join(
            _docs(s, d).select(
                F.col("doc_id").alias("asset_id"),
                F.col("text").alias("caption"),
            ),
            "asset_id",
        )
        gate = M.image_pair_quality_gates(
            pair_src, id_col="asset_id", px_stats=fused
        ).select(
            F.lit("gate").alias("variant"),
            "asset_id",
            F.col("failure_mask").alias("frame_idx"),
            F.col("passed").cast("int").alias("n_frames"),
            "width",
            "height",
            F.col("n_distinct_vals").alias("target_width"),
            F.col("top_share_permille").alias("target_height"),
            "channels",
            F.col("caption_tokens").cast("double").alias("pixel_mean"),
            F.lit(-1).alias("pixel_min"),
            F.lit(-1).alias("pixel_max"),
        )
        # 'capdup' — the FUZZY CLIP-pair dedup tier
        # (multimodal.image_caption_near_duplicates) over the same
        # pairs: caption-side MinHash-LSH (3-gram shingles, 12 hashes /
        # 4 bands, bucket cap 1024) proposes, exact caption Jaccard
        # >= 0.5 verifies, and image-side dHash Hamming <= 6 confirms.
        # The oracle replays ALL FOUR stages — signatures, band
        # buckets, the Jaccard verify, and the Hamming confirm over
        # the same arithmetically-replayed dHash quarters as the
        # 'dhash' branch — so the hash proves both the accept path
        # (paraphrased caption + same-ish image collapses) and the
        # reject path (reused caption on a different image survives).
        # hamming rides frame_idx, jaccard rides pixel_mean, id_b
        # rides pixel_min.
        capdup = M.image_caption_near_duplicates(
            pair_src, id_col="asset_id", dhash_sigs=dh_sigs
        ).select(
            F.lit("capdup").alias("variant"),
            F.col("id_a").alias("asset_id"),
            F.col("hamming").cast("int").alias("frame_idx"),
            F.lit(-1).alias("n_frames"),
            F.lit(-1).alias("width"),
            F.lit(-1).alias("height"),
            F.lit(-1).alias("target_width"),
            F.lit(-1).alias("target_height"),
            F.lit(-1).alias("channels"),
            F.col("caption_jaccard").cast("double").alias("pixel_mean"),
            F.col("id_b").cast("int").alias("pixel_min"),
            F.lit(-1).alias("pixel_max"),
        )
        return (
            png.unionByName(apng)
            .unionByName(rez)
            .unionByName(dh)
            .unionByName(ph)
            .unionByName(gate)
            .unionByName(capdup)
        )

    q["m7_decoded_pixel_stats"] = _m7
    # m8: the AUDIO codec round-trip — real RIFF/WAVE PCM-16 encode per
    # document, pure-stdlib chunk-walk decode, exact-integer sample
    # stats (mean / rms / peak) the oracle recomputes arithmetically.
    q["m8_wav_sample_stats"] = lambda s, d: M.wav_sample_features(
        M.wav_assets_from_documents(_docs(s, d))
    )

    # ---- composed curation pipeline (north-star flagship;
    # operators/curation.py): quality gate → exact dedup → near-dup
    # removal → token-budget packing ----
    from kafkastreamsinteractivequeries_spark.operators.curation import curate_documents

    q["p1_curation_pipeline"] = lambda s, d: curate_documents(
        _docs(s, d), min_quality=0.5, near_dup_threshold=0.8, token_budget=20_000
    )

    from kafkastreamsinteractivequeries_spark.operators.curation import pack_sequences

    # p2: token-budget packing ('pack') ⊕ fixed-window chunking with
    # overlap ('chunk': 64-token windows, stride 48 — the RAG/embedding
    # prep step; chunk text rides the payload column so the slicing
    # itself is hash-verified).
    def _p2(s: SparkSession, d: str) -> DataFrame:
        docs = _docs(s, d)
        pack = pack_sequences(docs, seq_len=2048).select(
            F.lit("pack").alias("variant"),
            "doc_id",
            "n_tokens",
            "start_token",
            "bin_id",
            "offset_in_bin",
            F.lit("").alias("payload"),
        )
        chunks = T.chunk_documents(docs, chunk_tokens=64, overlap=16).select(
            F.lit("chunk").alias("variant"),
            "doc_id",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            (F.col("chunk_idx") * 48).cast("long").alias("start_token"),
            F.col("chunk_idx").cast("long").alias("bin_id"),
            F.lit(-1).cast("long").alias("offset_in_bin"),
            F.col("chunk_text").alias("payload"),
        )
        # 'nostraddle' — contamination-free packing (each doc WHOLE in
        # one bin, next-fit per deterministic shard; see
        # pack_sequences_no_straddle).  start_token carries the shard
        # id, bin_id is per-shard, payload flags oversize docs; the
        # oracle replays next-fit as a recursive CTE over the same
        # (shard, id-order) scan.  Small seq_len (256) so bins actually
        # close on this corpus.
        from kafkastreamsinteractivequeries_spark.operators.curation import (
            pack_sequences_no_straddle,
        )

        ns = pack_sequences_no_straddle(docs, seq_len=256, shards=8).select(
            F.lit("nostraddle").alias("variant"),
            "doc_id",
            "n_tokens",
            F.col("shard").cast("long").alias("start_token"),
            "bin_id",
            "offset_in_bin",
            F.col("oversize").cast("string").alias("payload"),
        )
        # 'chat' — the SFT conversation-prep chain (operators/chat.py)
        # end-to-end THROUGH the real JSON round trip: documents fold
        # into synthetic conversations (conv = doc_id % 101, turns in
        # doc_id order, system/user/assistant roles by position),
        # serialize with to_json, re-parse with from_json, then
        # chat_loss_mask computes per-turn packed lengths, cumulative
        # offsets, and the assistant-only loss mask.  The oracle
        # computes the same table DIRECTLY from documents (no JSON), so
        # the hash proves the serialize→parse→mask chain is lossless
        # and integer-exact.  Row mapping: doc_id=conv_id,
        # bin_id=turn_idx, offset_in_bin=loss_mask, payload=role.
        from kafkastreamsinteractivequeries_spark.operators import chat as CH

        tw = Window.partitionBy("conv_id").orderBy("doc_id")
        src_turns = (
            docs.select(
                (F.col("doc_id") % 101).alias("conv_id"), "doc_id", "text"
            )
            .select(
                "conv_id",
                (F.row_number().over(tw) - 1).alias("turn_idx"),
                F.col("text").alias("content"),
            )
            .select(
                "conv_id",
                "turn_idx",
                F.when(F.col("turn_idx") == 0, "system")
                .when(F.col("turn_idx") % 2 == 1, "user")
                .otherwise("assistant")
                .alias("role"),
                "content",
            )
        )
        chat = CH.chat_loss_mask(
            CH.parse_conversations(CH.conversations_to_json(src_turns))
        ).select(
            F.lit("chat").alias("variant"),
            F.col("conv_id").alias("doc_id"),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.col("start_token").cast("long").alias("start_token"),
            F.col("turn_idx").cast("long").alias("bin_id"),
            F.col("loss_mask").cast("long").alias("offset_in_bin"),
            F.col("role").alias("payload"),
        )
        # 'fim' ⊕ 'span' — the pretraining-objective transforms
        # (operators/objectives.py): deterministic fill-in-the-middle
        # (md5 two-cut boundaries, PSM/SPM by hash parity, 50% rate)
        # and T5 span corruption (aligned md5 grid, <extra_id_k>
        # sentinels).  The oracle replays the md5 draws, the cuts, and
        # the full rendered strings, so the hash verifies boundary
        # arithmetic AND byte-exact rendering.  Row mapping: fim —
        # start/bin/offset carry prefix/middle/suffix token counts,
        # payload the rendered text; span — start_token = n_spans,
        # bin_id = corrupted_tokens, payload = input ⊕ target joined
        # with a newline.
        from kafkastreamsinteractivequeries_spark.operators import (
            objectives as OBJ,
        )

        fim = OBJ.fim_transform(docs, rate_permille=500).select(
            F.lit("fim").alias("variant"),
            "doc_id",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.col("prefix_tokens").alias("start_token"),
            F.col("middle_tokens").alias("bin_id"),
            F.col("suffix_tokens").alias("offset_in_bin"),
            F.col("rendered").alias("payload"),
        )
        span = OBJ.span_corruption(docs).select(
            F.lit("span").alias("variant"),
            "doc_id",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.col("n_spans").alias("start_token"),
            F.col("corrupted_tokens").alias("bin_id"),
            F.lit(-1).cast("long").alias("offset_in_bin"),
            F.concat_ws("\n", "input", "target").alias("payload"),
        )
        return (
            pack.unionByName(chunks)
            .unionByName(ns)
            .unionByName(chat)
            .unionByName(fim)
            .unionByName(span)
        )

    q["p2_packing_chunking"] = _p2

    from kafkastreamsinteractivequeries_spark.operators.curation import (
        leakage_safe_split,
        resolve_duplicate_groups,
        sample_mixture,
        stratified_sample,
        weighted_sample,
    )

    # p3: the sampling/assignment suite in ONE tagged union —
    # per-stratum quota sample ('stratified'), weighted mixture draw
    # ('mixture': 50/30/20 over three sources, md5-deterministic), and
    # the leakage-safe train/val/test split ('split': hash on the
    # near-dup GROUP id so paraphrase clusters never straddle; its
    # oracle reuses d10's recursive component CTE).
    def _p3(s: SparkSession, d: str) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.dedup import (
            near_duplicate_groups,
        )

        docs = _docs(s, d)
        # ONE near-dup group computation (LSH pairs + star connected
        # components — d10's whole pipeline) shared by the 'split' and
        # 'keepbest' branches, which previously each recomputed it.
        # Eager pin: 'keepbest' broadcasts the per-group winners table
        # derived from this lineage (the lazy-checkpoint-under-
        # broadcast deadlock class, see _x6).
        p3_groups = near_duplicate_groups(docs, threshold=0.8).localCheckpoint(
            eager=True
        )
        doc_sent = [
            F.lit(-1).cast("long").alias("group_id"),
            F.lit(-1).cast("int").alias("bucket"),
            F.lit("").alias("split"),
        ]
        strat = stratified_sample(docs, "source", per_stratum=50).select(
            F.lit("stratified").alias("variant"),
            "doc_id",
            "text",
            "lang",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            *doc_sent,
        )
        mix = sample_mixture(
            docs, {"src0": 0.5, "src1": 0.3, "src2": 0.2}, total=40
        ).select(
            F.lit("mixture").alias("variant"),
            "doc_id",
            "text",
            "lang",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            *doc_sent,
        )
        spl = leakage_safe_split(docs, groups=p3_groups).select(
            F.lit("split").alias("variant"),
            "doc_id",
            F.lit("").alias("text"),
            F.lit("").alias("lang"),
            F.lit("").alias("source"),
            F.lit(-1).cast("long").alias("n_chars"),
            F.col("group_id").cast("long").alias("group_id"),
            F.col("bucket").cast("int").alias("bucket"),
            "split",
        )
        # keep-best dedup resolution: the quality-argmax winner per
        # near-dup group (highest quality_score, lowest id on ties),
        # ungrouped docs untouched.
        best = resolve_duplicate_groups(
            docs, near_dup_threshold=0.8, groups=p3_groups
        ).select(
            F.lit("keepbest").alias("variant"),
            "doc_id",
            "text",
            "lang",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            *doc_sent,
        )
        # Efraimidis-Spirakis weighted sample (priority ln(u)/w, u from
        # md5 hex — engine-replayable, top-k never a full sort).
        ws = weighted_sample(docs, n=50, weight_col="n_chars").select(
            F.lit("wsample").alias("variant"),
            "doc_id",
            "text",
            "lang",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            *doc_sent,
        )
        # α=0.5 temperature mixture (mT5/Pile source re-weighting) over a
        # synthetically skewed stratum (70/20/10 by doc_id residue — the
        # real `source` column is uniform, which would make temperature
        # degenerate): integer isqrt weights, pure-integer quotas, so the
        # oracle replays quota arithmetic with zero float edges.
        from kafkastreamsinteractivequeries_spark.operators.curation import (
            temperature_mixture,
        )

        res = F.col("doc_id") % 10
        skewed = docs.withColumn(
            "strat",
            F.when(res < 7, F.lit("web")).when(res < 9, F.lit("code")).otherwise(
                F.lit("ref")
            ),
        )
        temp = temperature_mixture(
            skewed, total=60, alpha=0.5, stratum_col="strat"
        ).select(
            F.lit("temperature").alias("variant"),
            "doc_id",
            "text",
            "lang",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            *doc_sent,
        )
        return (
            strat.unionByName(mix)
            .unionByName(spl)
            .unionByName(best)
            .unionByName(ws)
            .unionByName(temp)
        )

    q["p3_sampling_split"] = _p3

    # ---- similarity search (north-star; operators/similarity.py) ----
    from kafkastreamsinteractivequeries_spark.operators import similarity as S

    def _emb(s, d):
        return load_table(s, d, "embeddings")

    def _queries_df(s, d):
        return (
            _emb(s, d)
            .filter(F.col("vec_id") < 5)
            .select(
                F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
            )
        )

    # s1: every kNN path under ONE tagged key (50-key report cap) —
    # they share the (query_id, vec_id, score, rank) shape:
    #   'brute'  — exact cosine top-k (the recall oracle)
    #   'srp16'  — SRP-LSH bucketed candidates + exact cosine
    #   'ivf16'  — seed-quantizer IVF, nprobe=4 + exact cosine
    #   'pq8x16' — TRAINED product quantization (2 Lloyd iterations the
    #              oracle replays) + ADC; score = approx squared L2
    # SRP/IVF params pinned to the oracle's static hyperplanes/seed
    # lists (library defaults are the recall-tuned ones, regression-
    # tested separately — SCALING.md).
    def _s1(s: SparkSession, d: str) -> DataFrame:
        # One spread+pin of the corpus shared by all six kNN branches
        # (inside knn_union): each branch otherwise re-scans and
        # re-repartitions the embeddings table independently and
        # carries the full scan lineage through its plan.  Values are
        # identical; measured 7.35 → 6.45 s at sf0.1 (pre-ivfpq) by
        # scripts/ab_s1_pinned.py, kept at commit 535f074.  knn_union
        # is module-level so the plan-contract tests audit the
        # pre-checkpoint lineage.
        res = knn_union(s, d)
        # 'recall_*' branches: per-query recall@10 of every approximate
        # path against the brute branch — the ANN quality claim itself
        # (SCALING.md's recall-led defaults) hash-verified by the
        # driver, not just pytest floors.  The 6-branch union is pinned
        # once (localCheckpoint) so the recall joins read the ~50-row
        # materialized result instead of re-executing each kNN plan.
        pinned = res.localCheckpoint(eager=False)
        bru = pinned.filter(F.col("variant") == "brute")
        recalls = []
        for t in ("srp16", "ivf16", "pq8x16", "pq_rerank", "ivfpq"):
            recalls.append(
                S.recall_at_k_per_query(
                    bru, pinned.filter(F.col("variant") == t), k=10
                ).select(
                    F.lit(f"recall_{t}").alias("variant"),
                    "query_id",
                    F.lit(-1).cast("long").alias("vec_id"),
                    F.col("recall").alias("score"),
                    F.lit(-1).cast("int").alias("rank"),
                )
            )
        out = pinned
        for r in recalls:
            out = out.unionByName(r)
        return out

    q["s1_knn"] = _s1
    # s2 unions the index-build stages under one tagged key: SRP
    # bit-codes ('srp16'), IVF nearest-centroid assignment off the
    # deterministic seed quantizer ('ivf16'), and — the TRAINED path —
    # assignment off a 2-iteration k-means quantizer ('ivf16t') whose
    # Lloyd trajectory the oracle replays exactly (round-6 means).
    def _s2(s: SparkSession, d: str) -> DataFrame:
        emb = _emb(s, d)
        srp = S.srp_codes(emb).select(
            "vec_id", F.lit("srp16").alias("index_kind"), F.col("code")
        )
        seed_cent = _memo_df(
            s, ("s2_ivf_seed", d), lambda: S.ivf_centroids(emb, n_lists=16)
        )
        ivf = S.ivf_assign(emb, n_lists=16, centroids=seed_cent).select(
            "vec_id",
            F.lit("ivf16").alias("index_kind"),
            F.col("list_id").cast("string").alias("code"),
        )
        # train-once/serve-many: the codebook is 16 centroid rows, the
        # PCA vector 16 dim rows — memoized per sf_dir like the landed
        # knn indexes (PySpark 4's localCheckpoint materializes the
        # Lloyd/power-iteration plans at build time otherwise)
        trained = _memo_df(
            s,
            ("s2_ivf_trained", d),
            lambda: S.ivf_train(emb, n_lists=16, iterations=2),
        )
        ivft = S.ivf_assign(emb, n_lists=16, centroids=trained).select(
            "vec_id",
            F.lit("ivf16t").alias("index_kind"),
            F.col("list_id").cast("string").alias("code"),
        )
        # 'ivf16s' (previously pytest-only): the train-once/serve-many
        # index PERSISTENCE round-trip — save the trained centroids to
        # parquet, load them back (norm column recomputed on load), and
        # assign; must equal ivf16t assignment-for-assignment, which the
        # oracle asserts by emitting the same tassign rows twice.
        import tempfile

        # per-sf_dir path: a shared file let a concurrent run at
        # ANOTHER sf overwrite the index between this process's write
        # and read (caught by the r10 full suite racing a verify sweep)
        idx_path = os.path.join(
            tempfile.gettempdir(),
            f"ksiq_s2_ivf_index_{hashlib.md5(d.encode()).hexdigest()[:10]}.parquet",
        )
        # write the persisted index once per sf_dir (the round-trip
        # read below exercises load_ivf_centroids on every build)
        _memo(
            ("s2_idx_saved", d, idx_path),
            lambda: (S.save_index(trained, idx_path), True)[1],
        )
        ivfs = S.ivf_assign(
            emb, n_lists=16, centroids=S.load_ivf_centroids(s, idx_path)
        ).select(
            "vec_id",
            F.lit("ivf16s").alias("index_kind"),
            F.col("list_id").cast("string").alias("code"),
        )
        # the fused serving-time encoder: SRP bits + IVF assignment in
        # ONE map-only projection (quantizer embedded as literals) —
        # must equal the join-based encoders bit-for-bit, now checked
        # through the driver, not just pytest.
        fused = S.encode_all(
            emb,
            centroids=_memo_df(
                s,
                ("s2_ivf_seed", d),
                lambda: S.ivf_centroids(emb, n_lists=16),
            ),
            num_planes=16
        ).select(
            "vec_id",
            F.lit("fused").alias("index_kind"),
            F.concat_ws(":", "srp_code", F.col("list_id").cast("string")).alias(
                "code"
            ),
        )
        # chunk→doc pooling: mean-pool 4 "chunk" vectors per synthetic
        # doc (vec_id % 500), rounded-6 before the float cast (the
        # ivf_train/pq_train portability pattern) and printf'd at fixed
        # precision so the vector CONTENT is hash-verified.
        pooled = S.pool_embeddings(
            emb.select((F.col("vec_id") % 500).alias("doc_id"), "embedding"),
            portable_round=6,
        ).select(
            F.col("doc_id").alias("vec_id"),
            F.lit("pooled").alias("index_kind"),
            F.concat_ws(
                ",",
                F.transform(
                    "embedding",
                    # + 0.0 normalizes IEEE -0.0 ('-0.000000' vs
                    # '0.000000' flipped one component at sf0.1)
                    lambda x: F.format_string(
                        "%.6f", x.cast("double") + F.lit(0.0)
                    ),
                ),
            ).alias("code"),
        )
        # int8 symmetric quantization: the 4×-smaller serving copy —
        # code = rounded-6 scale + the full int vector, so the whole
        # quantized corpus representation is hash-verified (cosine over
        # these is scale-free integer math, recall floor in pytest).
        int8 = S.quantize_embeddings(emb).select(
            "vec_id",
            F.lit("int8").alias("index_kind"),
            F.concat_ws(
                ":",
                F.format_string("%.6f", F.round(F.col("scale"), 6)),
                F.concat_ws(
                    ",", F.transform("qvec", lambda v: v.cast("string"))
                ),
            ).alias("code"),
        )
        # 'append' — incremental ANN ingest: the landed pq_codes store
        # restricted to HALF the corpus plays the pre-existing store;
        # the other half arrives as a "new batch" and is encoded
        # against the FROZEN trained codebook (append_pq_codes: one
        # map-only scan, store never read).  The oracle replays train +
        # a ONE-SHOT encode of everything, so the driver hash proves
        # append(half) ⊕ append(half) == encode(all) bit-for-bit — the
        # serve-while-ingesting contract.
        index = ensure_knn_indexes(s, d)
        landed_half = index["pq_codes"].filter(F.col("vec_id") % 2 == 0)
        new_batch = emb.filter(F.col("vec_id") % 2 == 1)
        appended = S.append_pq_codes(
            landed_half, new_batch, index["pq_book"], m=8
        ).select(
            "vec_id",
            F.lit("append").alias("index_kind"),
            F.concat_ws(
                ",", F.transform("codes", lambda c: c.cast("string"))
            ).alias("code"),
        )
        # 'pqstream' — the SAME frozen-codebook PQ encode through the
        # REAL STREAMING ingest path: embeddings arrive as a file
        # stream (availableNow), foreachBatch → StreamingPqCodeSink
        # encodes each micro-batch against the FROZEN trained codebook
        # and lands a _SUCCESS-gated append-only batch=<id> store, and
        # this branch reads the LANDED snapshot — hash-verified
        # against the same one-shot-encode oracle replay as 'append'
        # (codes are a pure function of vector × codebook, so the
        # landed union is batching-invariant — qstream/tokstream
        # extended to the ANN code-store family).  Ingest runs once
        # per (process, sf_dir); per-process root (_PROC_TAG).
        from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
            StreamingPqCodeSink,
        )

        def _run_pqstream() -> str:
            import shutil
            import tempfile

            tag = hashlib.md5(d.encode()).hexdigest()[:10]
            root = os.path.join(
                tempfile.gettempdir(), f"ksiq_pqstream_{tag}_{_PROC_TAG}"
            )
            shutil.rmtree(root, ignore_errors=True)  # fresh per process
            sink = StreamingPqCodeSink(
                os.path.join(root, "store"), index["pq_book"], m=8, dim=64
            )
            stream = (
                s.readStream.schema(
                    "vec_id long, embedding array<float>, label int"
                )
                .option("pathGlobFilter", "embeddings.parquet")
                .parquet(d)
                .select("vec_id", "embedding")
            )
            sq = (
                stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            sq.awaitTermination()
            return sink.path

        pqstream_store = _memo(("s2_pqstream", d), _run_pqstream)
        pqstream = StreamingPqCodeSink(
            pqstream_store, index["pq_book"], m=8, dim=64
        ).codes(s).select(
            "vec_id",
            F.lit("pqstream").alias("index_kind"),
            F.concat_ws(
                ",", F.transform("codes", lambda c: c.cast("string"))
            ).alias("code"),
        )
        # 'pca' — top principal component by FIXED-POINT power
        # iteration: the exact-integer covariance (one aggregate pass,
        # bit-identical under any partitioning) and three integer
        # matvec/max-norm rounds; the oracle replays the quantization,
        # the n·Σxx − Σx·Σx identity, the 2^20 shift, and all three
        # iterations, so the hash pins the whole trajectory.  vec_id
        # carries the dim index; code = "v:v_prev".
        pca = _memo_df(
            s,
            ("s2_pca", d),
            lambda: S.pca_power_iteration(emb, dims=16, iterations=3),
        ).select(
            F.col("dim").cast("long").alias("vec_id"),
            F.lit("pca").alias("index_kind"),
            F.concat_ws(
                ":", F.col("v").cast("string"), F.col("v_prev").cast("string")
            ).alias("code"),
        )
        return (
            srp.unionByName(ivf)
            .unionByName(ivft)
            .unionByName(ivfs)
            .unionByName(fused)
            .unionByName(pooled)
            .unionByName(int8)
            .unionByName(appended)
            .unionByName(pqstream)
            .unionByName(pca)
        )

    q["s2_index_assignments"] = _s2
    # num_planes pinned (32 planes -> 8-bit bands) rather than the
    # library's corpus-size auto-default, so the static oracle SQL can
    # embed the identical hyperplanes at any sf_dir.  Tagged union:
    # the self-join near-dup detector ('self') ⊕ the BIPARTITE semantic
    # decontamination gate ('decon': eval slice = vec_id % 20 == 0
    # broadcast against the training corpus — the corpus never
    # shuffles; threshold 0.3 keeps the verified pair set non-trivial).
    def _s4(s: SparkSession, d: str) -> DataFrame:
        emb = _emb(s, d)
        self_pairs = S.embedding_near_duplicates(
            emb, threshold=0.4, num_planes=32
        ).select(
            F.lit("self").alias("variant"), "id_a", "id_b", "cosine"
        )
        train = emb.filter(F.col("vec_id") % 20 != 0)
        evals = emb.filter(F.col("vec_id") % 20 == 0).select(
            F.col("vec_id").alias("eval_id"), "embedding"
        )
        decon = S.embedding_decontaminate(
            train, evals, threshold=0.3, num_planes=32
        ).select(
            F.lit("decon").alias("variant"),
            F.col("vec_id").alias("id_a"),
            F.col("eval_id").alias("id_b"),
            "cosine",
        )
        # SemDeDup (Abbas et al. 2303.09540): cluster-then-prune
        # semantic dedup — every member of a multi-vector duplicate
        # group ('semgroup': id_b = transitive group id, cosine = the
        # member's cosine TO ITS CLUSTER CENTROID) plus the paper's
        # drop set ('semdrop': all but the lowest-centroid-cosine
        # member per group), which hash-verifies assignment, pairing,
        # components, and the keep rule in one union.  Pinned once:
        # both branches read the same computed table.
        sd = S.semdedup(emb, n_lists=16, threshold=0.3).localCheckpoint(
            eager=False
        )
        semgroup = sd.select(
            F.lit("semgroup").alias("variant"),
            F.col("vec_id").alias("id_a"),
            F.col("group_id").alias("id_b"),
            F.col("centroid_cosine").alias("cosine"),
        )
        semdrop = sd.filter(~F.col("keep")).select(
            F.lit("semdrop").alias("variant"),
            F.col("vec_id").alias("id_a"),
            F.col("group_id").alias("id_b"),
            F.col("centroid_cosine").alias("cosine"),
        )
        return (
            self_pairs.unionByName(decon)
            .unionByName(semgroup)
            .unionByName(semdrop)
        )

    q["s4_embedding_near_duplicates"] = _s4

    # ---- event analytics / dimensions / layout (previously pytest-only
    # families, folded into driver keys per the round-4 review) ----

    # e1: funnel ⊕ cohort-retention ⊕ bucketized interval join in ONE
    # tagged union normalized to (variant, k1, k2, v1, v2, v3) — epoch
    # seconds for timestamps, -1 sentinels where a branch has fewer
    # fields.
    def _e1(s: SparkSession, d: str) -> DataFrame:
        ev = load_table(s, d, "events")
        sent = F.lit(-1).cast("long")

        def ep(c: F.Column) -> F.Column:
            return F.unix_timestamp(c).cast("long")

        fun = A.funnel_analysis(
            ev, ["view", "click", "purchase"], horizon_days=7.0
        ).select(
            F.lit("funnel").alias("variant"),
            F.col("user_id").cast("long").alias("k1"),
            F.col("steps_completed").cast("long").alias("k2"),
            F.coalesce(ep(F.col("step_1_ts")), sent).alias("v1"),
            F.coalesce(ep(F.col("step_2_ts")), sent).alias("v2"),
            F.coalesce(ep(F.col("step_3_ts")), sent).alias("v3"),
        )
        coh = A.cohort_retention(ev, period="week").select(
            F.lit("cohort").alias("variant"),
            F.col("cohort").cast("long").alias("k1"),
            F.col("periods_since").cast("long").alias("k2"),
            F.col("n_active").cast("long").alias("v1"),
            sent.alias("v2"),
            sent.alias("v3"),
        )
        points = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        intervals = (
            ev.groupBy("user_id")
            .agg(F.min("ts").alias("start_ts"))
            .filter(F.col("user_id") % 10 == 0)
            .select(
                F.col("user_id").alias("iv_user"),
                "start_ts",
                (F.col("start_ts") + F.expr("INTERVAL 6 HOURS")).alias("end_ts"),
            )
        )
        ij = A.interval_join(
            points, intervals, point_ts_col="ts", bucket_seconds=3600
        ).select(
            F.lit("interval").alias("variant"),
            F.col("event_id").cast("long").alias("k1"),
            F.col("iv_user").cast("long").alias("k2"),
            ep(F.col("ts")).alias("v1"),
            ep(F.col("start_ts")).alias("v2"),
            ep(F.col("end_ts")).alias("v3"),
        )
        # 'pagerank' — link-graph centrality (operators/graph.py), the
        # host/page prior web-corpus pipelines compute before text
        # filtering.  The edge list is derived deterministically from
        # events (src=user, dst=(event_id*7+3)%41 — hubs the users
        # never own, so real dangling nodes exist) and the oracle
        # replays the full 3-iteration fixed-point power iteration with
        # unrolled CTEs — every rank is integer micro-units, so the
        # hash proves the trajectory, not just the final ordering.
        from kafkastreamsinteractivequeries_spark.operators import (
            graph as GR,
        )

        # ONE eager pin of the normalized edge list shared by all five
        # graph branches (pagerank/trustrank/hits/gsum/hyperball) and
        # the trustrank seed derivation: each algorithm re-checkpoints
        # its own projection internally, but without the shared pin
        # every one of those checkpoints re-ran the events scan + the
        # normalize distinct (5 full scans + 5 shuffles per build).
        # Eager, because the algorithms broadcast 1-row scalars derived
        # from this lineage (the lazy-checkpoint-under-broadcast
        # deadlock class documented in operators/graph.py).
        pr_edges = GR.normalize_edges(
            ev.select(
                F.col("user_id").alias("src"),
                ((F.col("event_id") * 7 + 3) % 41).alias("dst"),
            )
        ).localCheckpoint(eager=True)
        # ONE shared union-distinct node pin beside it: pagerank,
        # trustrank, hits, and hyperball each re-materialized an
        # identical endpoint table (plus their own copy of the edge
        # pin) as serial blocking jobs inside their build chains —
        # edges_pinned/nodes_df (the graph.py shared-pin contract)
        # hands both in, cutting ~7 eager-checkpoint jobs per build.
        g_nodes = (
            pr_edges.select(F.col("src").alias("id"))
            .unionByName(pr_edges.select(F.col("dst").alias("id")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        def _build_pr():
            return GR.pagerank(
                pr_edges, iterations=3, edges_pinned=True, nodes_df=g_nodes
            ).select(
            F.lit("pagerank").alias("variant"),
            F.col("id").alias("k1"),
            F.col("out_deg").alias("k2"),
            F.col("rank").alias("v1"),
            F.col("rank_prev").alias("v2"),
            F.col("in_deg").alias("v3"),
        )
        # 'trustrank' — seeded (personalized) PageRank on the SAME
        # graph (Gyöngyi VLDB'04): teleport + dangling mass land only
        # on the id%3==0 seed set, so the hash proves the personalized
        # trajectory (seed initialization, seed-only teleport, seed
        # dangling return) — not just the shared join/agg shape.  v3
        # carries is_seed; in_deg is already verified by 'pagerank'.
        def _build_tr():
            seeds = g_nodes.filter(F.col("id") % 3 == 0)
            return GR.trustrank(
                pr_edges,
                seeds,
                iterations=3,
                edges_pinned=True,
                nodes_df=g_nodes,
            ).select(
            F.lit("trustrank").alias("variant"),
            F.col("id").alias("k1"),
            F.col("out_deg").alias("k2"),
            F.col("rank").alias("v1"),
            F.col("rank_prev").alias("v2"),
            F.col("is_seed").cast("long").alias("v3"),
        )
        # 'hits' — Kleinberg hubs/authorities on the same graph, the
        # pure-integer max-norm rescale (2^20 fixed point) unrolled in
        # the oracle per iteration, so every intermediate rescale is
        # hash-proven.  v1=hub, v2=authority.
        def _build_ht():
            return GR.hits(
                pr_edges, iterations=3, edges_pinned=True, nodes_df=g_nodes
            ).select(
            F.lit("hits").alias("variant"),
            F.col("id").alias("k1"),
            sent.alias("k2"),
            F.col("hub").alias("v1"),
            F.col("authority").alias("v2"),
            sent.alias("v3"),
        )
        # 'wpagerank' — WEIGHTED PageRank on the same graph with link
        # COUNTS as weights (the host-graph convention: twenty links
        # endorse more than one); share = (rank·w) div Σw, out_deg
        # reported as the weight sum.  Same unrolled-CTE replay shape.
        def _build_wpr():
            raw_edges = ev.select(
                F.col("user_id").cast("long").alias("src"),
                ((F.col("event_id") * 7 + 3) % 41).cast("long").alias("dst"),
            ).filter(
                F.col("src").isNotNull()
                & F.col("dst").isNotNull()
                & (F.col("src") != F.col("dst"))
            )
            wedges = raw_edges.groupBy("src", "dst").agg(
                F.count("*").cast("long").alias("w")
            )
            return GR.pagerank(wedges, iterations=3, weight_col="w").select(
                F.lit("wpagerank").alias("variant"),
                F.col("id").alias("k1"),
                F.col("out_deg").alias("k2"),
                F.col("rank").alias("v1"),
                F.col("rank_prev").alias("v2"),
                F.col("in_deg").alias("v3"),
            )
        # 'gsum' — the one-row graph datasheet (node/edge counts,
        # degree extremes, dangling share, reciprocity permille),
        # previously pytest-only.
        def _build_gsum():
            return GR.graph_summary(pr_edges, edges_pinned=True).select(
            F.lit("gsum").alias("variant"),
            F.col("n_nodes").alias("k1"),
            F.col("n_edges").alias("k2"),
            F.col("max_out_degree").alias("v1"),
            F.col("n_dangling").alias("v2"),
            F.col("reciprocity_permille").alias("v3"),
        )
        # 'hyperball' — HyperBall harmonic centrality (Boldi & Vigna
        # 1308.2144, Common Crawl's host-ranking algorithm) on the same
        # graph: reach-balls as mergeable HLL register tables, 3 radius
        # rounds of edge-join max-merge, truncated harmonic sum.  The
        # oracle replays the xorshift hash chain, the registers, every
        # radius round, the (rounded-4) estimates, and the harmonic
        # accumulation; v1/v2 carry harmonic/reach in exact micro-units
        # (the e1 columns are longs).
        def _build_hb():
            return GR.hyperball_harmonic(
                pr_edges, radius=3, p=6, edges_pinned=True, nodes_df=g_nodes
            ).select(
            F.lit("hyperball").alias("variant"),
            F.col("id").alias("k1"),
            sent.alias("k2"),
            F.round(F.col("harmonic") * 1000000).cast("long").alias("v1"),
            F.round(F.col("reach_est") * 1000000).cast("long").alias("v2"),
            sent.alias("v3"),
        )
        # Overlap the six independent graph-branch builds (guide §2.6:
        # submit independent jobs from driver threads so the next
        # build's tasks back-fill executors freed by the current one).
        # Each build fires a serial chain of eager-checkpoint jobs
        # over tiny tables; run sequentially those blocking jobs left
        # the cluster idle most of the build.  All six read the one
        # ALREADY-MATERIALIZED pr_edges checkpoint, so no thread
        # triggers a shared lazy materialization.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        builders = [
            _build_pr,
            _build_tr,
            _build_ht,
            _build_wpr,
            _build_gsum,
            _build_hb,
        ]
        with ThreadPoolExecutor(max_workers=len(builders)) as pool:
            futs = [
                pool.submit(inheritable_thread_target(b)) for b in builders
            ]
            pr, tr, ht, wpr, gsum, hb = [f.result() for f in futs]
        return (
            fun.unionByName(coh)
            .unionByName(ij)
            .unionByName(pr)
            .unionByName(tr)
            .unionByName(ht)
            .unionByName(wpr)
            .unionByName(gsum)
            .unionByName(hb)
        )

    q["e1_event_analytics"] = _e1

    # e2: SCD Type-2 maintenance end-to-end under one key — init from
    # the customer table, merge an attribute-change batch (day 10),
    # merge a SECOND batch carrying out-of-order rows (day 5: applies to
    # %5 keys still on their day-1 version, is dropped as stale for %15
    # keys already on day 10 — driver-verifying the late-batch guard),
    # then as-of lookups at two fact timestamps straddling the changes.
    # 'dim' rows carry the full versioned table; 'asof' rows carry the
    # resolved attribute with the fact ts riding vfrom.  vfrom/vto are
    # projected as EPOCH-SECOND LONGS (like e1's ep()): the driver
    # materializes results through pandas, whose datetime64[ns] range
    # caps at 2262-04-11, so a far-future open-version timestamp
    # sentinel (9999-01-01, round-5 regression) throws
    # OutOfBoundsDatetime in the driver harness.  Longs are immune;
    # the open-version sentinel is epoch(9999-01-01) = 253370764800.
    def _e2(s: SparkSession, d: str) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.dimensions import (
            asof_lookup,
            scd2_init,
            scd2_merge,
        )

        cust = load_table(s, d, "customer").select(
            F.col("c_custkey").cast("long").alias("cust"),
            F.col("c_mktsegment").alias("segment"),
        )
        dim0 = scd2_init(cust, "2024-01-01 00:00:00", key_col="cust")
        b1 = cust.filter(F.col("cust") % 3 == 0).select(
            "cust",
            F.concat(F.col("segment"), F.lit("+A")).alias("segment"),
            F.lit("2024-01-10 00:00:00").cast("timestamp").alias("effective_ts"),
        )
        merged1 = scd2_merge(dim0, b1, "cust", ["segment"])
        b2 = cust.filter(F.col("cust") % 5 == 0).select(
            "cust",
            F.lit("B").alias("segment"),
            F.lit("2024-01-05 00:00:00").cast("timestamp").alias("effective_ts"),
        )
        merged2 = scd2_merge(merged1, b2, "cust", ["segment"])

        def ep(c: F.Column) -> F.Column:
            return F.unix_timestamp(c).cast("long")

        sentinel = F.lit(253370764800).cast("long")  # 9999-01-01 UTC
        dim_rows = merged2.select(
            F.lit("dim").alias("variant"),
            "cust",
            "segment",
            ep(F.col("valid_from")).alias("vfrom"),
            F.coalesce(ep(F.col("valid_to")), sentinel).alias("vto"),
            F.col("is_current").cast("int").alias("cur"),
        )
        facts = cust.select("cust").crossJoin(
            s.createDataFrame(
                [("2024-01-03 00:00:00",), ("2024-01-12 00:00:00",)], "fts string"
            ).select(F.col("fts").cast("timestamp").alias("fact_ts"))
        )
        asof = asof_lookup(facts, merged2, "cust", "fact_ts").select(
            F.lit("asof").alias("variant"),
            "cust",
            "segment",
            ep(F.col("fact_ts")).alias("vfrom"),
            sentinel.alias("vto"),
            F.lit(-1).alias("cur"),
        )
        return dim_rows.unionByName(asof)

    q["e2_scd2_asof"] = _e2

    # e3: the layout clustering keys as pure-arithmetic driver rows —
    # quantization (normalize_to_bits) + Z-curve bit interleave
    # ('zorder', bits=8 over part key/size) ⊕ the Hilbert rotate/
    # reflect recursion ('hilbert', bits=16 over part key/retailprice —
    # the quantized grid reaches the top-bit quadrant, driver-covering
    # the int64 overflow regression).  The oracle replays the identical
    # integer arithmetic (recursive CTE for the Hilbert levels).
    def _e3(s: SparkSession, d: str) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.layout import (
            normalize_to_bits,
            with_hilbert_key,
            zorder_key,
        )

        part = load_table(s, d, "part")
        z = part.select(
            F.lit("zorder").alias("variant"),
            F.col("p_partkey").cast("long").alias("id"),
            normalize_to_bits(F.col("p_partkey"), 0, 100_000, bits=8).alias("qx"),
            normalize_to_bits(F.col("p_size"), 1, 50, bits=8).alias("qy"),
        ).withColumn("key", zorder_key([F.col("qx"), F.col("qy")], bits=8))
        h0 = part.select(
            F.lit("hilbert").alias("variant"),
            F.col("p_partkey").cast("long").alias("id"),
            normalize_to_bits(F.col("p_partkey"), 0, 100_000, bits=16).alias("qx"),
            normalize_to_bits(F.col("p_retailprice"), 900, 2000, bits=16).alias("qy"),
        )
        h = with_hilbert_key(h0, "qx", "qy", bits=16, key_col="key")
        # 'compact': the sorted-cumulative compaction planner over the
        # documents manifest (size := n_chars, partitioned by lang,
        # 50 kB target) — id carries the file, qx its size, qy its
        # position inside the bin, key the bin id.  The oracle replays
        # the identical exclusive-prefix-sum window.
        from kafkastreamsinteractivequeries_spark.operators.layout import (
            plan_compaction,
        )

        manifest = load_table(s, d, "documents").select(
            "doc_id", "lang", F.col("n_chars").cast("long").alias("size")
        )
        compact = plan_compaction(
            manifest, "size", 50_000, partition_by=["lang"]
        ).select(
            F.lit("compact").alias("variant"),
            F.col("doc_id").cast("long").alias("id"),
            F.col("size").alias("qx"),
            F.col("bin_seq").cast("long").alias("qy"),
            F.col("bin_id").alias("key"),
        )
        return (
            z.unionByName(h.select("variant", "id", "qx", "qy", "key"))
            .unionByName(compact)
        )

    q["e3_layout_keys"] = _e3

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    # t5 union: 'daily' and 'rolled' intentionally share ONE daily CTE —
    # the Spark side reaches 'rolled' via hour-partials merged with
    # operators/rollup.py, so the shared oracle hash proves the merge
    # equals direct aggregation.  'hllmerge' replays the full HLL chain
    # (mix_hash32 → low-bits bucket → rank max → fold) directly over raw;
    # the Spark side folds hour-grain register tables first.
    _t5_alpha_m2 = repr(0.709 * 64 * 64)
    o["t5_stock_aggregation"] = (
        _ORACLE_AGG_CTE
        + f""", daily AS (
  SELECT symbol,
         strftime(date_trunc('day', event_time), '%Y-%m-%d') AS bucket,
         ROUND(CAST(SUM(CASE WHEN buy THEN CAST(amount AS DECIMAL(18,6))
                            ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE), 2) AS buys,
         ROUND(CAST(SUM(CASE WHEN NOT buy THEN CAST(amount AS DECIMAL(18,6))
                            ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE), 2) AS sells,
         CAST(SUM(number_shares) AS BIGINT) AS number_shares,
         CAST(CAST(SUM(CAST(amount AS DECIMAL(18,6))) * 1000000 AS BIGINT)
              // COUNT(*) AS DOUBLE) AS metric
  FROM txns GROUP BY 1, 2
), tmh1 AS (
  SELECT event_type, ((user_id % 4294967296) * 48271) % 4294967296 AS h FROM events
), tmh2 AS (
  SELECT event_type, xor(h, h // 65536) AS h FROM tmh1
), tmh3 AS (
  SELECT event_type, (h * 16807) % 4294967296 AS h FROM tmh2
), tmh4 AS (
  SELECT event_type, xor(h, h // 8192) AS h FROM tmh3
), tmh5 AS (
  SELECT event_type, (h * 69621) % 4294967296 AS h FROM tmh4
), thall AS (
  SELECT event_type, xor(h, h // 131072) AS h FROM tmh5
), threg AS (
  SELECT event_type, h % 64 AS bucket,
         MAX(CASE WHEN h // 64 > 0 THEN 26 - length(bin(h // 64)) + 1
                  ELSE 27 END) AS reg
  FROM thall
  GROUP BY event_type, h % 64
), thfold AS (
  SELECT event_type,
         SUM(POW(2.0, -reg)) + (64 - COUNT(*)) AS z,
         COUNT(*) AS nonzero,
         64 - COUNT(*) AS empty
  FROM threg
  GROUP BY event_type
), thll AS (
  SELECT event_type,
         CAST(nonzero AS BIGINT) AS nonzero,
         ROUND(CASE WHEN CAST({_t5_alpha_m2} AS DOUBLE) / z <= 160.0 AND empty > 0
                    THEN 64.0 * LN(64.0 / empty)
                    ELSE CAST({_t5_alpha_m2} AS DOUBLE) / z END, 4) AS estimate
  FROM thfold
)
SELECT 'agg' AS variant, symbol, 'all' AS bucket, buys, sells, number_shares,
       -1.0 AS metric
FROM agg
UNION ALL
SELECT 'daily', symbol, bucket, buys, sells, number_shares, metric FROM daily
UNION ALL
SELECT 'rolled', symbol, bucket, buys, sells, number_shares, metric FROM daily
UNION ALL
SELECT 'hllmerge', event_type, 'all', -1.0, -1.0, nonzero, estimate FROM thll"""
    )
    o["q1_key_query"] = _ORACLE_AGG_CTE + "SELECT * FROM agg WHERE symbol = 'purchase'"
    o["q2_multikey_query"] = (
        _ORACLE_AGG_CTE
        + "SELECT * FROM agg WHERE symbol IN ('click', 'purchase', 'signup')"
    )
    o["q3_range_query"] = (
        _ORACLE_AGG_CTE
        + """SELECT 'both' AS variant, * FROM agg WHERE symbol BETWEEN 'click' AND 'signup'
UNION ALL
SELECT 'lower_only', * FROM agg WHERE symbol >= 'error'
UNION ALL
SELECT 'upper_only', * FROM agg WHERE symbol <= 'purchase'"""
    )
    o["q6_full_scan"] = _ORACLE_AGG_CTE + "SELECT * FROM agg"
    o["q4_filtered_range"] = (
        _ORACLE_AGG_CTE
        + """SELECT 'buys_gt_sells' AS variant, * FROM agg
WHERE symbol BETWEEN 'click' AND 'view' AND buys > sells
UNION ALL
SELECT 'symbol_eq', * FROM agg WHERE symbol = 'purchase'
UNION ALL
SELECT 'numeric_and', * FROM agg WHERE buys > 299 AND number_shares > 100"""
    )
    _wagg_cte = (
        _ORACLE_AGG_CTE
        + """, wagg AS (
  SELECT date_trunc('hour', event_time) AS window_start,
         date_trunc('hour', event_time) + INTERVAL 1 HOUR AS window_end,
         symbol,
         ROUND(SUM(CASE WHEN buy THEN amount ELSE 0.0 END), 2) AS buys,
         ROUND(SUM(CASE WHEN NOT buy THEN amount ELSE 0.0 END), 2) AS sells,
         CAST(SUM(number_shares) AS BIGINT) AS number_shares
  FROM txns GROUP BY 1, 2, 3
)
"""
    )
    # gaps-and-islands mirror of Spark session_window: a new session
    # starts when the gap is >= 30min (session windows are [start, end)
    # — an event at exactly the previous end opens a new session);
    # session_end = last event + gap.
    o["q7_user_sessions"] = """
WITH lagged AS (
  SELECT user_id, ts, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
), marked AS (
  SELECT *, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS brk
  FROM lagged
), sess AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM sess GROUP BY user_id, sid
"""
    # hopping: 2-hour windows sliding 1 hour — every event lands in the
    # two epoch-aligned windows starting at trunc_hour(t) and
    # trunc_hour(t) - 1h (Spark's F.window(t, '2 hours', '1 hour')).
    o["q5_filtered_window_range"] = (
        _wagg_cte
        + """, hop AS (
  SELECT date_trunc('hour', event_time) - o.off * INTERVAL 1 HOUR AS window_start,
         date_trunc('hour', event_time) - o.off * INTERVAL 1 HOUR
           + INTERVAL 2 HOUR AS window_end,
         symbol, buy, amount, number_shares
  FROM txns CROSS JOIN (VALUES (0), (1)) AS o(off)
), hopagg AS (
  SELECT window_start, window_end, symbol,
         ROUND(SUM(CASE WHEN buy THEN amount ELSE 0.0 END), 2) AS buys,
         ROUND(SUM(CASE WHEN NOT buy THEN amount ELSE 0.0 END), 2) AS sells,
         CAST(SUM(number_shares) AS BIGINT) AS number_shares
  FROM hop GROUP BY 1, 2, 3
)
SELECT 'window_all' AS variant, * FROM wagg
UNION ALL
SELECT 'filtered_range', * FROM wagg
WHERE window_start >= TIMESTAMP '2024-01-02 00:00:00'
  AND window_end <= TIMESTAMP '2024-01-05 00:00:00'
  AND buys > sells
UNION ALL
SELECT 'hopping', * FROM hopagg"""
    )
    o["a1_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""
    o["a2_revenue_by_nation"] = """
SELECT r_name, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""
    o["a3_top_customers_by_segment"] = """
WITH rev AS (
  SELECT c_mktsegment, c_custkey, c_name,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, c_custkey, c_name
)
SELECT c_mktsegment, c_custkey, c_name, revenue, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY c_mktsegment ORDER BY revenue DESC, c_custkey
    ) AS INTEGER) AS rank
  FROM rev
) WHERE rank <= 5
"""
    # a9 = a3 computed skew-safely; the RESULT is identical, so the
    # oracle is the same single-window SQL.
    o["a9_top_customers_two_phase"] = """
WITH rev AS (
  SELECT c_mktsegment, c_custkey, c_name,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, c_custkey, c_name
)
SELECT c_mktsegment, c_custkey, c_name, revenue, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY c_mktsegment ORDER BY revenue DESC, c_custkey
    ) AS INTEGER) AS rank
  FROM rev
) WHERE rank <= 5
"""
    o["a10_late_lines_by_priority"] = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS high_priority_lines,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
         AS BIGINT) AS low_priority_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate
GROUP BY l_returnflag
"""
    # a11: the two single-row KPIs as one tagged union (mirrors
    # q["a11_revenue_kpis"]) — Q14 promo ratio and Q19 disjunctive
    # revenue, aux = total_revenue / n_lines respectively.
    o["a11_revenue_kpis"] = """
WITH ps AS MATERIALIZED (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         ROUND(MIN(l_extendedprice / l_quantity), 6) AS unit_cost
  FROM lineitem GROUP BY 1, 2
)
SELECT 'promo_ratio' AS variant,
       CAST(NULL AS VARCHAR) AS dim,
       ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS value,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS aux
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
UNION ALL
SELECT 'disjunctive', NULL,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2),
       CAST(COUNT(*) AS DOUBLE)
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
         AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
         AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
         AND l_quantity BETWEEN 20 AND 36)
UNION ALL
-- Q21 shape, the TEXTBOOK CORRELATED form (the engine runs the
-- de-correlated fanout rewrite; equal output proves the rewrite)
SELECT 'q21', NULL, CAST(l1.l_suppkey AS DOUBLE),
       CAST(COUNT(DISTINCT l1.l_orderkey) AS DOUBLE)
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey != l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey != l1.l_suppkey
      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY l1.l_suppkey
UNION ALL
-- Q22 shape: scalar subquery + NOT IN anti-join
SELECT 'q22cnt', NULL, CAST(c_nationkey AS DOUBLE), CAST(COUNT(*) AS DOUBLE)
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice >= 400000)
GROUP BY c_nationkey
UNION ALL
SELECT 'q22bal', NULL, CAST(c_nationkey AS DOUBLE), ROUND(SUM(c_acctbal), 2)
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice >= 400000)
GROUP BY c_nationkey
UNION ALL
-- Q17 shape, the TEXTBOOK CORRELATED scalar subquery (the engine runs
-- the de-correlated brand-slice aggregate joined back by broadcast)
SELECT 'q17', NULL, ROUND(SUM(l_extendedprice) / 7.0, 2), CAST(COUNT(*) AS DOUBLE)
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#4'
  AND l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p_partkey
  )
UNION ALL
-- Q15 shape: the TEXTBOOK form re-derives the revenue view inside the
-- global-max scalar subquery (the engine computes it once + broadcasts)
SELECT 'q15', NULL, CAST(s_suppkey AS DOUBLE), total_revenue
FROM (
  SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-03-31'
  GROUP BY l_suppkey
) r JOIN supplier ON s_suppkey = l_suppkey
WHERE total_revenue = (
  SELECT MAX(total_revenue) FROM (
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-03-31'
    GROUP BY l_suppkey
  )
)
UNION ALL
-- Q6 shape: pure filter + global aggregate
SELECT 'q6', NULL, ROUND(SUM(l_extendedprice * l_discount), 2),
       CAST(COUNT(*) AS DOUBLE)
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.04 AND 0.08 AND l_quantity < 24
UNION ALL
-- Q7 shape: bidirectional nation-pair trade volume by ship year
SELECT 'q7', n1.n_name || '|' || n2.n_name || '|' || CAST(YEAR(l_shipdate) AS INT),
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2), CAST(COUNT(*) AS DOUBLE)
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY 2
UNION ALL
-- Q8 shape: one nation's market share inside a region/part-type slice
SELECT 'q8', CAST(YEAR(o_orderdate) AS VARCHAR),
       ROUND(SUM(CASE WHEN n1.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 6),
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
JOIN region ON r_regionkey = n2.n_regionkey
WHERE r_name = 'ASIA' AND p_type = 'PROMO'
  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY 2
UNION ALL
-- Q9 shape: per-nation/year profit with supply-relation cost
-- (partsupp adaptation: ps derived from lineitem, see WITH header)
SELECT 'q9', n_name || '|' || CAST(YEAR(l_shipdate) AS INT),
       ROUND(SUM(l_extendedprice * (1 - l_discount) - unit_cost * l_quantity), 2),
       CAST(NULL AS DOUBLE)
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN ps ON pk = l_partkey AND sk = l_suppkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 2
UNION ALL
-- Q13 shape: left outer join + two-level aggregation
SELECT 'q13', NULL, CAST(c_count AS DOUBLE), CAST(COUNT(*) AS DOUBLE)
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON o_custkey = c_custkey AND o_orderpriority NOT LIKE '%URGENT%'
  GROUP BY c_custkey
)
GROUP BY c_count
UNION ALL
-- Q18 shape: the TEXTBOOK IN-over-HAVING form (the engine aggregates
-- once and equi-joins the surviving key set back)
SELECT 'q18', CAST(o_custkey AS VARCHAR), CAST(o_orderkey AS DOUBLE),
       CAST((SELECT SUM(l_quantity) FROM lineitem WHERE l_orderkey = o_orderkey) AS DOUBLE)
FROM orders
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
)
UNION ALL
-- Q2 shape: the TEXTBOOK CORRELATED-MIN scalar subquery over the
-- supply relation (the engine runs a window-min over one aggregate)
SELECT 'q2', s_name, CAST(pk AS DOUBLE), unit_cost
FROM ps
JOIN part ON p_partkey = pk
JOIN supplier ON s_suppkey = sk
WHERE p_type = 'SMALL' AND p_size < 10
  AND unit_cost = (SELECT MIN(ps2.unit_cost) FROM ps ps2 WHERE ps2.pk = ps.pk)
UNION ALL
-- Q11 shape: the TEXTBOOK global-scalar-in-HAVING form (the engine
-- re-aggregates its own per-part aggregate and broadcasts one row);
-- the threshold is mean-relative so selectivity is scale-free
SELECT 'q11', NULL, CAST(l_partkey AS DOUBLE),
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
FROM lineitem
GROUP BY l_partkey
HAVING SUM(l_extendedprice * (1 - l_discount)) >
       1.5 * (SELECT SUM(l_extendedprice * (1 - l_discount))
                    / COUNT(DISTINCT l_partkey) FROM lineitem)
UNION ALL
-- Q16 shape: NOT IN blocklist + count-distinct per part attribute
SELECT 'q16', p_brand || '|' || p_type, CAST(p_size AS DOUBLE),
       CAST(COUNT(DISTINCT l_suppkey) AS DOUBLE)
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) sup
JOIN part ON p_partkey = l_partkey
WHERE p_type <> 'PROMO' AND p_size IN (1, 5, 11, 17, 23, 29)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 2, 3
UNION ALL
-- Q20 shape: the TEXTBOOK nested-IN + correlated scalar form (the
-- engine runs one aggregate + a window sum, zero extra scans)
SELECT 'q20', s_name, CAST(s_suppkey AS DOUBLE), CAST(NULL AS DOUBLE)
FROM supplier
WHERE s_suppkey IN (
  SELECT sk FROM (
    SELECT l_partkey AS pk, l_suppkey AS sk, SUM(l_quantity) AS sq
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1, 2
  ) ps20
  WHERE pk IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    AND sq > 0.5 * (SELECT SUM(l_quantity) FROM lineitem
                    WHERE l_partkey = ps20.pk
                      AND l_shipdate >= TIMESTAMP '1996-01-01'
                      AND l_shipdate < TIMESTAMP '1997-01-01')
)
"""
    o["a4_order_priority_exists"] = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
)
GROUP BY o_orderpriority
"""
    o["a5_parts_range_filtered"] = """
SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
FROM part
WHERE p_brand BETWEEN 'Brand#1' AND 'Brand#3' AND p_size >= 10
"""
    o["a6_asof_purchase_click"] = """
WITH l AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), r AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
), bwd AS (
  SELECT l.event_id, l.user_id, l.ts, ROUND(l.value, 2) AS value,
         r.ts AS click_ts, ROUND(r.value, 2) AS click_value,
         r.event_id AS click_event_id,
         ROW_NUMBER() OVER (PARTITION BY l.event_id
             ORDER BY r.ts DESC, r.event_id DESC) AS rn
  FROM l LEFT JOIN r ON r.user_id = l.user_id AND r.ts <= l.ts
), fwd AS (
  SELECT l.event_id, l.user_id, l.ts, ROUND(l.value, 2) AS value,
         r.ts AS click_ts, ROUND(r.value, 2) AS click_value,
         r.event_id AS click_event_id,
         ROW_NUMBER() OVER (PARTITION BY l.event_id
             ORDER BY r.ts ASC, r.event_id ASC) AS rn
  FROM l LEFT JOIN r ON r.user_id = l.user_id AND r.ts >= l.ts
), bwdtol AS (
  SELECT l.event_id, l.user_id, l.ts, ROUND(l.value, 2) AS value,
         r.ts AS click_ts, ROUND(r.value, 2) AS click_value,
         r.event_id AS click_event_id,
         ROW_NUMBER() OVER (PARTITION BY l.event_id
             ORDER BY r.ts DESC, r.event_id DESC) AS rn
  FROM l LEFT JOIN r ON r.user_id = l.user_id AND r.ts <= l.ts
                     AND r.ts >= l.ts - INTERVAL 1 HOUR
)
SELECT 'bwd' AS variant, event_id, user_id, ts, value,
       click_ts, click_value, click_event_id
FROM bwd WHERE rn = 1 AND click_event_id IS NOT NULL
UNION ALL
SELECT 'fwd', event_id, user_id, ts, value,
       click_ts, click_value, click_event_id
FROM fwd WHERE rn = 1 AND click_event_id IS NOT NULL
UNION ALL
SELECT 'bwdtol', event_id, user_id, ts, value,
       click_ts, click_value, click_event_id
FROM bwdtol WHERE rn = 1 AND click_event_id IS NOT NULL
"""
    o["a7_revenue_rollup"] = """
SELECT r_name, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_items,
       CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS grouping_level
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""
    o["a8_daily_revenue_ma"] = """
WITH daily AS (
  SELECT n_name, CAST(o_orderdate AS DATE) AS day,
         ROUND(SUM(o_totalprice), 2) AS revenue,
         COUNT(*) AS n_orders
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT n_name, day, revenue, n_orders,
       ROUND(AVG(revenue) OVER (PARTITION BY n_name ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
FROM daily
"""
    o.update(_dedup_oracles())
    o.update(_similarity_oracles())
    o.update(_text_oracles())
    o.update(_multimodal_oracles())
    o.update(_curation_oracles())
    o.update(_extension_oracles())
    return o


def _extension_oracles() -> dict[str, str]:
    """Oracles for the event-analytics / SCD2 / layout driver keys.

    e1 mirrors operators/analytics.py (funnel chain arithmetic, Monday-
    shifted week buckets, exact interval bounds — the bucketized
    equi-join is result-identical to the plain range join).  e2 is the
    CLOSED FORM of the two scd2_merge batches + as-of lookups (every
    key's version history is decided by its %3 / %5 residues).  e3
    replays the quantize/interleave integer arithmetic, with a
    recursive CTE walking the 16 Hilbert levels.
    """
    o: dict[str, str] = {}
    es = "(epoch_ns({c}) // 1000000000)"

    def ep(c: str) -> str:
        return es.format(c=c)

    # trustrank replay (graph.trustrank): seed-only teleport + seed
    # dangling return, 3 unrolled iterations over the same pr_e graph.
    # 1000000000000 = PAGERANK_SCALE, 150000000000 = the 15% teleport
    # mass; all divisions are non-negative, so // == Spark's div.
    def _tr_iter(i: int) -> str:
        prev = f"tr_r{i - 1}"
        return f""", tr_d{i} AS (
  SELECT CAST(COALESCE(SUM(rank), 0) AS BIGINT) AS dang
  FROM {prev} WHERE outd = 0
), tr_i{i} AS (
  SELECT e.dst AS id, CAST(SUM(r.rank // r.outd) AS BIGINT) AS inflow
  FROM pr_e e JOIN {prev} r ON e.src = r.id AND r.outd > 0 GROUP BY 1
), tr_r{i} AS (
  SELECT r.id, r.outd, r.is_seed, r.ns,
         CAST(CASE WHEN r.is_seed = 1
              THEN 150000000000 // r.ns + (85 * (d.dang // r.ns)) // 100
              ELSE 0 END
              + (85 * COALESCE(i.inflow, 0)) // 100 AS BIGINT) AS rank
  FROM {prev} r LEFT JOIN tr_i{i} i ON r.id = i.id CROSS JOIN tr_d{i} d
)"""

    tr_ctes = (
        """, tr_seed AS (
  SELECT id FROM pr_nodes WHERE id % 3 = 0
), tr_ns AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM tr_seed
), tr_r0 AS (
  SELECT nd.id, COALESCE(dg.outd, 0) AS outd,
         CASE WHEN s.id IS NOT NULL THEN 1 ELSE 0 END AS is_seed, n.ns,
         CAST(CASE WHEN s.id IS NOT NULL
              THEN 1000000000000 // n.ns ELSE 0 END AS BIGINT) AS rank
  FROM pr_nodes nd
  LEFT JOIN pr_deg dg ON nd.id = dg.id
  LEFT JOIN tr_seed s ON nd.id = s.id
  CROSS JOIN tr_ns n
)"""
        + "".join(_tr_iter(i) for i in (1, 2, 3))
    )

    # hits replay (graph.hits): per half-iteration sum + pure-integer
    # max-norm rescale to 2^20 = 1048576, unrolled ×3
    def _hits_iter(i: int) -> str:
        return f""", ht_a{i}f AS (
  SELECT nd.id, COALESCE(x.a, 0) AS a
  FROM pr_nodes nd LEFT JOIN (
    SELECT e.dst AS id, CAST(SUM(h.h) AS BIGINT) AS a
    FROM pr_e e JOIN ht_h{i - 1} h ON e.src = h.id GROUP BY 1
  ) x ON nd.id = x.id
), ht_a{i} AS (
  SELECT id, CAST(CASE WHEN m.m = 0 THEN a
                  ELSE (a * 1048576) // m.m END AS BIGINT) AS a
  FROM ht_a{i}f CROSS JOIN (SELECT MAX(ABS(a)) AS m FROM ht_a{i}f) m
), ht_h{i}f AS (
  SELECT nd.id, COALESCE(x.h, 0) AS h
  FROM pr_nodes nd LEFT JOIN (
    SELECT e.src AS id, CAST(SUM(a.a) AS BIGINT) AS h
    FROM pr_e e JOIN ht_a{i} a ON e.dst = a.id GROUP BY 1
  ) x ON nd.id = x.id
), ht_h{i} AS (
  SELECT id, CAST(CASE WHEN m.m = 0 THEN h
                  ELSE (h * 1048576) // m.m END AS BIGINT) AS h
  FROM ht_h{i}f CROSS JOIN (SELECT MAX(ABS(h)) AS m FROM ht_h{i}f) m
)"""

    hits_ctes = """, ht_h0 AS (
  SELECT id, CAST(1048576 AS BIGINT) AS h FROM pr_nodes
)""" + "".join(_hits_iter(i) for i in (1, 2, 3))

    # weighted-pagerank replay: identical unrolled shape with the
    # share split (rank·w) // Σw and out_deg = the weight sum
    def _wpr_iter(i: int) -> str:
        prev = f"wpr_r{i - 1}"
        return f""", wpr_i{i} AS (
  SELECT e.dst AS id,
         CAST(SUM((r.rank * e.w) // r.outd) AS BIGINT) AS inflow
  FROM wpr_e e JOIN {prev} r ON e.src = r.id AND r.outd > 0 GROUP BY 1
), wpr_d{i} AS (
  SELECT CAST(COALESCE(SUM(rank), 0) AS BIGINT) AS dang
  FROM {prev} WHERE outd = 0
), wpr_r{i} AS (
  SELECT r.id, r.outd, r.n, r.base,
         CAST((15 * r.base) // 100
              + (85 * (COALESCE(i.inflow, 0) + d.dang // r.n)) // 100
              AS BIGINT) AS rank
  FROM {prev} r LEFT JOIN wpr_i{i} i ON r.id = i.id CROSS JOIN wpr_d{i} d
)"""

    wpr_ctes = (
        """, wpr_e AS (
  SELECT CAST(user_id AS BIGINT) AS src,
         CAST((event_id * 7 + 3) % 41 AS BIGINT) AS dst,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM events
  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
    AND CAST(user_id AS BIGINT) <> CAST((event_id * 7 + 3) % 41 AS BIGINT)
  GROUP BY 1, 2
), wpr_deg AS (
  SELECT src AS id, CAST(SUM(w) AS BIGINT) AS outd FROM wpr_e GROUP BY 1
), wpr_r0 AS (
  SELECT nd.id, COALESCE(d.outd, 0) AS outd, n.n, n.base,
         CAST(n.base AS BIGINT) AS rank
  FROM pr_nodes nd LEFT JOIN wpr_deg d ON nd.id = d.id CROSS JOIN pr_n n
)"""
        + "".join(_wpr_iter(i) for i in (1, 2, 3))
        + """, gsum AS (
  SELECT CAST(nn.c AS BIGINT) AS n_nodes, CAST(ne.c AS BIGINT) AS n_edges,
         CAST(md.m AS BIGINT) AS maxod, CAST(nn.c - nd.c AS BIGINT) AS dang,
         CAST((1000 * rc.c) // ne.c AS BIGINT) AS recip
  FROM (SELECT COUNT(*) AS c FROM pr_nodes) nn,
       (SELECT COUNT(*) AS c FROM pr_e) ne,
       (SELECT MAX(outd) AS m FROM pr_deg) md,
       (SELECT COUNT(*) AS c FROM pr_deg) nd,
       (SELECT COUNT(*) AS c FROM pr_e a
        WHERE EXISTS (SELECT 1 FROM pr_e b
                      WHERE b.src = a.dst AND b.dst = a.src)) rc
)"""
    )

    # hyperball replay: mix_hash32 chain → p=6 registers per node →
    # 3 radius rounds of (edge-join ∪ self) max-merge → rounded-4 HLL
    # estimates per round → truncated harmonic sum.  POW(2,-reg) terms
    # are exact dyadics so z is bit-exact; α·m² = 0.709·64² inlined as
    # the identical literal on both engines (the x10 hll convention).
    _hb_alpha_m2 = repr(0.709 * 64 * 64)

    def _hb_est(k: int) -> str:
        return f""", hb_e{k} AS (
  SELECT node,
         ROUND(CASE WHEN CAST({_hb_alpha_m2} AS DOUBLE) / z <= 160.0
                         AND empty > 0
                    THEN 64.0 * LN(64.0 / empty)
                    ELSE CAST({_hb_alpha_m2} AS DOUBLE) / z END, 4) AS b
  FROM (
    SELECT node, SUM(POW(2.0, -reg)) + (64 - COUNT(*)) AS z,
           64 - COUNT(*) AS empty
    FROM hb_r{k} GROUP BY node
  )
)"""

    def _hb_round(k: int) -> str:
        return f""", hb_r{k} AS (
  SELECT node, bucket, MAX(reg) AS reg FROM (
    SELECT node, bucket, reg FROM hb_r{k - 1}
    UNION ALL
    SELECT e.dst AS node, r.bucket, r.reg
    FROM pr_e e JOIN hb_r{k - 1} r ON r.node = e.src
  ) GROUP BY 1, 2
)"""

    hb_ctes = (
        """, hb_h AS (
  SELECT id, xor(h5, h5 // 131072) AS h FROM (
    SELECT id, (h4 * 69621) % 4294967296 AS h5 FROM (
      SELECT id, xor(h3, h3 // 8192) AS h4 FROM (
        SELECT id, (h2 * 16807) % 4294967296 AS h3 FROM (
          SELECT id, xor(h1, h1 // 65536) AS h2 FROM (
            SELECT id, ((id % 4294967296) * 48271) % 4294967296 AS h1
            FROM pr_nodes)))))
), hb_r0 AS (
  SELECT id AS node, h % 64 AS bucket,
         CASE WHEN h // 64 > 0 THEN 26 - length(bin(h // 64)) + 1
              ELSE 27 END AS reg
  FROM hb_h
)"""
        + _hb_est(0)
        + "".join(_hb_round(k) + _hb_est(k) for k in (1, 2, 3))
        + """, hb AS (
  SELECT e0.node,
         ROUND(GREATEST(e1.b - e0.b, 0) / 1.0
               + GREATEST(e2.b - e1.b, 0) / 2.0
               + GREATEST(e3.b - e2.b, 0) / 3.0, 6) AS harmonic,
         ROUND(e3.b, 6) AS reach
  FROM hb_e0 e0
  JOIN hb_e1 e1 USING (node)
  JOIN hb_e2 e2 USING (node)
  JOIN hb_e3 e3 USING (node)
)"""
    )

    o["e1_event_analytics"] = f"""
WITH steps AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t2,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
  GROUP BY user_id
), fun AS (
  SELECT user_id,
         (CASE WHEN c1 THEN 1 ELSE 0 END
          + CASE WHEN c2 THEN 1 ELSE 0 END
          + CASE WHEN c3 THEN 1 ELSE 0 END) AS steps_completed,
         t1, t2, t3
  FROM (
    SELECT user_id, t1, t2, t3, c1, c1 AND ok2 AS c2, c1 AND ok2 AND ok3 AS c3
    FROM (
      SELECT *,
             t1 IS NOT NULL AS c1,
             t2 IS NOT NULL AND t2 > t1
               AND {ep('t2')} - {ep('t1')} <= 604800 AS ok2,
             t3 IS NOT NULL AND t3 > t2
               AND {ep('t3')} - {ep('t1')} <= 604800 AS ok3
      FROM steps
    )
  )
), act AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(({ep('ts')} / 86400 + 3) / 7) AS BIGINT) AS p
  FROM events
), coh AS (
  SELECT user_id, MIN(p) AS cohort FROM act GROUP BY 1
), iv AS (
  SELECT user_id AS iv_user, MIN(ts) AS start_ts,
         MIN(ts) + INTERVAL 6 HOUR AS end_ts
  FROM events WHERE user_id % 10 = 0 GROUP BY 1
), pr_e AS (
  SELECT DISTINCT CAST(user_id AS BIGINT) AS src,
         CAST((event_id * 7 + 3) % 41 AS BIGINT) AS dst
  FROM events
  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
    AND CAST(user_id AS BIGINT) <> CAST((event_id * 7 + 3) % 41 AS BIGINT)
), pr_nodes AS (
  SELECT src AS id FROM pr_e UNION SELECT dst FROM pr_e
), pr_deg AS (
  SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS outd FROM pr_e GROUP BY 1
), pr_ind AS (
  SELECT dst AS id, CAST(COUNT(*) AS BIGINT) AS ind FROM pr_e GROUP BY 1
), pr_n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(1000000000000 // COUNT(*) AS BIGINT) AS base
  FROM pr_nodes
), pr_r0 AS (
  SELECT nd.id, COALESCE(d.outd, 0) AS outd, n.n, n.base,
         CAST(n.base AS BIGINT) AS rank
  FROM pr_nodes nd LEFT JOIN pr_deg d ON nd.id = d.id CROSS JOIN pr_n n
), pr_i1 AS (
  SELECT e.dst AS id, CAST(SUM(r.rank // r.outd) AS BIGINT) AS inflow
  FROM pr_e e JOIN pr_r0 r ON e.src = r.id AND r.outd > 0 GROUP BY 1
), pr_d1 AS (
  SELECT CAST(COALESCE(SUM(rank), 0) AS BIGINT) AS dang
  FROM pr_r0 WHERE outd = 0
), pr_r1 AS (
  SELECT r.id, r.outd, r.n, r.base,
         CAST((15 * r.base) // 100
              + (85 * (COALESCE(i.inflow, 0) + d.dang // r.n)) // 100
              AS BIGINT) AS rank
  FROM pr_r0 r LEFT JOIN pr_i1 i ON r.id = i.id CROSS JOIN pr_d1 d
), pr_i2 AS (
  SELECT e.dst AS id, CAST(SUM(r.rank // r.outd) AS BIGINT) AS inflow
  FROM pr_e e JOIN pr_r1 r ON e.src = r.id AND r.outd > 0 GROUP BY 1
), pr_d2 AS (
  SELECT CAST(COALESCE(SUM(rank), 0) AS BIGINT) AS dang
  FROM pr_r1 WHERE outd = 0
), pr_r2 AS (
  SELECT r.id, r.outd, r.n, r.base,
         CAST((15 * r.base) // 100
              + (85 * (COALESCE(i.inflow, 0) + d.dang // r.n)) // 100
              AS BIGINT) AS rank
  FROM pr_r1 r LEFT JOIN pr_i2 i ON r.id = i.id CROSS JOIN pr_d2 d
), pr_i3 AS (
  SELECT e.dst AS id, CAST(SUM(r.rank // r.outd) AS BIGINT) AS inflow
  FROM pr_e e JOIN pr_r2 r ON e.src = r.id AND r.outd > 0 GROUP BY 1
), pr_d3 AS (
  SELECT CAST(COALESCE(SUM(rank), 0) AS BIGINT) AS dang
  FROM pr_r2 WHERE outd = 0
), pr_r3 AS (
  SELECT r.id, r.outd, r.n, r.base,
         CAST((15 * r.base) // 100
              + (85 * (COALESCE(i.inflow, 0) + d.dang // r.n)) // 100
              AS BIGINT) AS rank
  FROM pr_r2 r LEFT JOIN pr_i3 i ON r.id = i.id CROSS JOIN pr_d3 d
){tr_ctes}{hits_ctes}{wpr_ctes}{hb_ctes}
SELECT 'funnel' AS variant, CAST(user_id AS BIGINT) AS k1,
       CAST(steps_completed AS BIGINT) AS k2,
       COALESCE({ep('t1')}, -1) AS v1,
       COALESCE({ep('t2')}, -1) AS v2,
       COALESCE({ep('t3')}, -1) AS v3
FROM fun
UNION ALL
SELECT 'cohort', c.cohort, a.p - c.cohort, CAST(COUNT(*) AS BIGINT), -1, -1
FROM act a JOIN coh c USING (user_id)
GROUP BY c.cohort, a.p - c.cohort
UNION ALL
SELECT 'interval', CAST(e.event_id AS BIGINT), CAST(i.iv_user AS BIGINT),
       {ep('e.ts')}, {ep('i.start_ts')}, {ep('i.end_ts')}
FROM events e JOIN iv i ON e.ts >= i.start_ts AND e.ts < i.end_ts
WHERE e.event_type = 'purchase'
UNION ALL
SELECT 'pagerank', r3.id, r3.outd, r3.rank, r2.rank,
       COALESCE(pr_ind.ind, 0)
FROM pr_r3 r3
JOIN pr_r2 r2 ON r3.id = r2.id
LEFT JOIN pr_ind ON r3.id = pr_ind.id
UNION ALL
SELECT 'trustrank', r3.id, r3.outd, r3.rank, r2.rank,
       CAST(r3.is_seed AS BIGINT)
FROM tr_r3 r3 JOIN tr_r2 r2 ON r3.id = r2.id
UNION ALL
SELECT 'hits', h.id, -1, h.h, a.a, -1
FROM ht_h3 h JOIN ht_a3 a ON h.id = a.id
UNION ALL
SELECT 'wpagerank', r3.id, r3.outd, r3.rank, r2.rank,
       COALESCE(pr_ind.ind, 0)
FROM wpr_r3 r3
JOIN wpr_r2 r2 ON r3.id = r2.id
LEFT JOIN pr_ind ON r3.id = pr_ind.id
UNION ALL
SELECT 'gsum', n_nodes, n_edges, maxod, dang, recip FROM gsum
UNION ALL
SELECT 'hyperball', node, -1,
       CAST(ROUND(harmonic * 1000000) AS BIGINT),
       CAST(ROUND(reach * 1000000) AS BIGINT), -1
FROM hb
"""

    # e2 emits vfrom/vto as epoch-second BIGINTs (pandas datetime64[ns]
    # cannot represent the 9999-01-01 open-version sentinel — round-5
    # driver regression).  Literal epochs, TZ=UTC:
    #   2024-01-01 = 1704067200   2024-01-03 = 1704240000
    #   2024-01-05 = 1704412800   2024-01-10 = 1704844800
    #   2024-01-12 = 1705017600   9999-01-01 = 253370764800
    o["e2_scd2_asof"] = f"""
WITH c AS (
  SELECT CAST(c_custkey AS BIGINT) AS cust, c_mktsegment AS seg,
         c_custkey % 3 = 0 AS m3, c_custkey % 5 = 0 AS m5
  FROM customer
)
SELECT 'dim' AS variant, cust, seg AS segment,
       {ep("TIMESTAMP '2024-01-01 00:00:00'")} AS vfrom,
       {ep("TIMESTAMP '2024-01-10 00:00:00'")} AS vto,
       CAST(0 AS INTEGER) AS cur
FROM c WHERE m3
UNION ALL
SELECT 'dim', cust, seg || '+A', {ep("TIMESTAMP '2024-01-10 00:00:00'")},
       253370764800, 1
FROM c WHERE m3
UNION ALL
SELECT 'dim', cust, seg, {ep("TIMESTAMP '2024-01-01 00:00:00'")},
       {ep("TIMESTAMP '2024-01-05 00:00:00'")}, 0
FROM c WHERE m5 AND NOT m3
UNION ALL
SELECT 'dim', cust, 'B', {ep("TIMESTAMP '2024-01-05 00:00:00'")},
       253370764800, 1
FROM c WHERE m5 AND NOT m3
UNION ALL
SELECT 'dim', cust, seg, {ep("TIMESTAMP '2024-01-01 00:00:00'")},
       253370764800, 1
FROM c WHERE NOT m3 AND NOT m5
UNION ALL
SELECT 'asof', cust,
       CASE WHEN fts = {ep("TIMESTAMP '2024-01-03 00:00:00'")} THEN seg
            WHEN m3 THEN seg || '+A'
            WHEN m5 THEN 'B'
            ELSE seg END,
       fts, 253370764800, -1
FROM c CROSS JOIN (
  VALUES ({ep("TIMESTAMP '2024-01-03 00:00:00'")}),
         ({ep("TIMESTAMP '2024-01-12 00:00:00'")})
) AS t(fts)
"""

    zterms = " + ".join(
        f"((qx // {2**i}) % 2) * {2**(2 * i)} + ((qy // {2**i}) % 2) * {2**(2 * i + 1)}"
        for i in range(8)
    )
    o["e3_layout_keys"] = f"""
WITH RECURSIVE quant AS (
  SELECT CAST(p_partkey AS BIGINT) AS id,
         CAST(LEAST(GREATEST(FLOOR((CAST(p_partkey AS DOUBLE) - 0.0)
              / 100000.0 * 255.0), 0), 255) AS BIGINT) AS zqx,
         CAST(LEAST(GREATEST(FLOOR((CAST(p_size AS DOUBLE) - 1.0)
              / 49.0 * 255.0), 0), 255) AS BIGINT) AS zqy,
         CAST(LEAST(GREATEST(FLOOR((CAST(p_partkey AS DOUBLE) - 0.0)
              / 100000.0 * 65535.0), 0), 65535) AS BIGINT) AS hx,
         CAST(LEAST(GREATEST(FLOOR((CAST(p_retailprice AS DOUBLE) - 900.0)
              / 1100.0 * 65535.0), 0), 65535) AS BIGINT) AS hy
  FROM part
), hil AS (
  SELECT id, hx AS x, hy AS y, CAST(0 AS BIGINT) AS d, 15 AS lvl FROM quant
  UNION ALL
  SELECT id,
         CASE WHEN ry = 0 THEN ny ELSE nx END,
         CASE WHEN ry = 0 THEN nx ELSE ny END,
         d + s * s * xor(3 * rx, ry),
         lvl - 1
  FROM (
    SELECT id, d, lvl, s, rx, ry,
           CASE WHEN ry = 0 AND rx = 1 THEN s - 1 - x ELSE x END AS nx,
           CASE WHEN ry = 0 AND rx = 1 THEN s - 1 - y ELSE y END AS ny
    FROM (
      SELECT id, x, y, d, lvl,
             CAST(1 AS BIGINT) << lvl AS s,
             CASE WHEN (x & (CAST(1 AS BIGINT) << lvl)) > 0
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS rx,
             CASE WHEN (y & (CAST(1 AS BIGINT) << lvl)) > 0
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS ry
      FROM hil WHERE lvl >= 0
    ) probe
  ) step
)
SELECT 'zorder' AS variant, id, zqx AS qx, zqy AS qy,
       CAST({zterms} AS BIGINT) AS key
FROM (SELECT id, zqx, zqy, zqx AS qx, zqy AS qy FROM quant) z
UNION ALL
SELECT 'hilbert', q.id, q.hx, q.hy, h.d
FROM quant q JOIN hil h ON h.id = q.id AND h.lvl = -1
UNION ALL
SELECT 'compact', doc_id, size,
       CAST(ROW_NUMBER() OVER (PARTITION BY lang, bin
                               ORDER BY size DESC, doc_id) AS BIGINT),
       bin
FROM (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS size,
         CAST(COALESCE(SUM(CAST(n_chars AS BIGINT))
                  OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) // 50000 AS BIGINT) AS bin
  FROM documents
)
"""
    return o


def _curation_oracles() -> dict[str, str]:
    """Oracle for the composed curation pipeline: quality formula from
    operators/text.py, exact-dedup window, the 16-hash/2-band×8-row
    unigram MinHash near-dup chain from operators/dedup.py, keep-lowest
    pair policy, then a cumulative token cut at 20k."""
    from kafkastreamsinteractivequeries_spark.operators.text import PUNCT_CLASS, STOPWORDS

    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    stop_words = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    nh, rows = 16, 8
    minhash = ",\n         ".join(
        f"list_aggregate(list_transform(utoks, t -> md5('{i}:' || t)), 'min')"
        for i in range(nh)
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band_id, md5({expr}) AS band_hash FROM sig".format(
            b=b,
            expr=" || '|' || ".join(f"minhash[{b * rows + r + 1}]" for r in range(rows)),
        )
        for b in range(2)
    )
    sql = f"""
WITH t AS (
  SELECT doc_id, text, lang, source, n_chars,
         {norm} AS norm, string_split({norm}, ' ') AS toks
  FROM documents
), m AS (
  SELECT *, len(toks) AS n_tokens, length(norm) AS n_chars_n,
         length(norm) - length(regexp_replace(norm, '{PUNCT_CLASS}', '', 'g')) AS punct,
         length(norm) - length(regexp_replace(norm, '[0-9]', '', 'g')) AS digits,
         len(list_filter(toks, t -> list_contains([{stop_words}], t))) AS stop_en
  FROM t
), r AS (
  SELECT *, ROUND(punct::DOUBLE / NULLIF(n_chars_n, 0), 6) AS punct_ratio,
         ROUND(digits::DOUBLE / NULLIF(n_chars_n, 0), 6) AS digit_ratio,
         ROUND(stop_en::DOUBLE / NULLIF(n_tokens, 0), 6) AS stop_ratio
  FROM m
), scored AS (
  SELECT doc_id, text, lang, source, n_chars, norm, toks, n_tokens,
         COALESCE(ROUND(
             0.4 * LEAST(n_tokens::DOUBLE / 100.0, 1.0)
             + 0.2 * (1.0 - LEAST(punct_ratio * 5.0, 1.0))
             + 0.2 * (1.0 - LEAST(digit_ratio * 5.0, 1.0))
             + 0.2 * LEAST(stop_ratio * 3.0, 1.0), 6), 0.0) AS quality_score
  FROM r
), gated AS (
  SELECT * FROM scored WHERE quality_score >= 0.5
), dd AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS _rn
    FROM gated
  ) WHERE _rn = 1
), u AS (
  SELECT doc_id, list_distinct(toks) AS utoks, toks FROM dd
), sig AS (
  SELECT doc_id, [{minhash}] AS minhash FROM u
), bands0 AS (
{band_selects}
), bands AS (
  SELECT bands0.* FROM bands0
  JOIN (SELECT band_id, band_hash FROM bands0
        GROUP BY 1, 2 HAVING COUNT(*) <= 1024) ok
  USING (band_id, band_hash)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band_id, band_hash)
  WHERE a.doc_id < b.doc_id
), tc AS (
  SELECT doc_id, tok, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(toks) AS tok FROM u) GROUP BY 1, 2
), totals AS (
  SELECT doc_id, SUM(cnt) AS total FROM tc GROUP BY 1
), inter AS (
  SELECT c.id_a, c.id_b, SUM(LEAST(x.cnt, y.cnt)) AS inter
  FROM cand c
  JOIN tc x ON x.doc_id = c.id_a
  JOIN tc y ON y.doc_id = c.id_b AND y.tok = x.tok
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM (
    SELECT i.id_a, i.id_b,
           ROUND(i.inter::DOUBLE / (ta.total + tb.total - i.inter), 6) AS mj
    FROM inter i
    JOIN totals ta ON ta.doc_id = i.id_a
    JOIN totals tb ON tb.doc_id = i.id_b
  ) WHERE mj >= 0.8
), surv AS (
  SELECT * FROM dd WHERE doc_id NOT IN (SELECT id_b FROM pairs)
), cum AS (
  SELECT doc_id, lang, source, n_chars, quality_score,
         CAST(n_tokens AS INTEGER) AS n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens
  FROM surv
)
SELECT * FROM cum WHERE cum_tokens <= 20000
"""
    # p2 union: token-budget packing ('pack') ⊕ 64-token/stride-48
    # chunking ('chunk'), the chunk text itself hash-verified.  DuckDB
    # list slices are INCLUSIVE and end-clamped, mirroring Spark's
    # F.slice(toks, start, length).
    # first-6-md5-hex-digits integer draws (objectives._md5_int's SQL
    # twin — DuckDB has no conv(), so the digit-sum form)
    def _h6(expr: str) -> str:
        return (
            "CAST(list_sum(list_transform(generate_series(1, 6), hx -> "
            f"(strpos('0123456789abcdef', substr(md5({expr}), hx, 1)) - 1)"
            " * (16 ** (6 - hx)))) AS BIGINT)"
        )

    h6fim = _h6("CAST(doc_id AS VARCHAR) || '|fim'")
    h6a = _h6("CAST(doc_id AS VARCHAR) || '|a'")
    h6b = _h6("CAST(doc_id AS VARCHAR) || '|b'")
    h6m = _h6("CAST(doc_id AS VARCHAR) || '|m'")
    h6s = _h6("CAST(doc_id AS VARCHAR) || '|s|' || CAST(i AS VARCHAR)")
    p2 = f"""
WITH t AS (
  SELECT doc_id, string_split({norm}, ' ') AS toks,
         COALESCE(len(string_split({norm}, ' ')), 0) AS n
  FROM documents
), tz AS (
  -- fim/span read the COALESCED form: NULL text is the empty
  -- document (one empty token), the operators' degrade convention
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(COALESCE(text, '')),
                                          '\\s+', ' ', 'g')), ' ') AS toks,
         len(string_split(trim(regexp_replace(lower(COALESCE(text, '')),
                                              '\\s+', ' ', 'g')), ' ')) AS n
  FROM documents
), c AS (
  SELECT doc_id, n, SUM(n) OVER (ORDER BY doc_id) AS cum FROM t
)
SELECT 'pack' AS variant, doc_id,
       CAST(n AS INTEGER) AS n_tokens,
       CAST(cum - n AS BIGINT) AS start_token,
       CAST((cum - n) // 2048 AS BIGINT) AS bin_id,
       CAST((cum - n) % 2048 AS BIGINT) AS offset_in_bin,
       '' AS payload
FROM c
UNION ALL
SELECT 'chunk', doc_id,
       CAST(LEAST(n - g.c * 48, 64) AS INTEGER),
       CAST(g.c * 48 AS BIGINT),
       CAST(g.c AS BIGINT),
       CAST(-1 AS BIGINT),
       array_to_string(toks[g.c * 48 + 1 : g.c * 48 + 64], ' ')
FROM t, unnest(generate_series(0,
       GREATEST(1, CAST(CEIL((n - 16) / 48.0) AS BIGINT)) - 1)) AS g(c)
UNION ALL
-- nostraddle: next-fit replay — every shard's fill state advances one
-- row per recursion step (all shards in parallel per iteration)
SELECT 'nostraddle', doc_id,
       CAST(n_tokens AS INTEGER),
       CAST(shard AS BIGINT),
       bin_id, offset_in_bin,
       CASE WHEN n_tokens > 256 THEN 'true' ELSE 'false' END
FROM (
  WITH RECURSIVE sh AS (
    SELECT doc_id, n AS n_tokens, CAST(doc_id % 8 AS INTEGER) AS shard,
           ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
    FROM t
  ), nf AS (
    SELECT shard, rn, doc_id, n_tokens,
           CAST(0 AS BIGINT) AS bin_id,
           CAST(0 AS BIGINT) AS offset_in_bin,
           CAST(n_tokens AS BIGINT) AS used
    FROM sh WHERE rn = 1
    UNION ALL
    SELECT s.shard, s.rn, s.doc_id, s.n_tokens,
           CASE WHEN nf.used + s.n_tokens > 256
                THEN nf.bin_id + 1 ELSE nf.bin_id END,
           CASE WHEN nf.used + s.n_tokens > 256
                THEN 0 ELSE nf.used END,
           CASE WHEN nf.used + s.n_tokens > 256
                THEN CAST(s.n_tokens AS BIGINT)
                ELSE nf.used + s.n_tokens END
    FROM nf JOIN sh s ON s.shard = nf.shard AND s.rn = nf.rn + 1
  )
  SELECT * FROM nf
)
UNION ALL
-- fim: deterministic fill-in-the-middle replay — the two md5 cut
-- draws, the PSM/SPM parity, and the byte-exact rendering
SELECT 'fim', doc_id, CAST(n AS INTEGER),
       CAST(CASE WHEN fim THEN lo ELSE n END AS BIGINT),
       CAST(CASE WHEN fim THEN hi - lo ELSE 0 END AS BIGINT),
       CAST(CASE WHEN fim THEN n - hi ELSE 0 END AS BIGINT),
       CASE WHEN NOT fim THEN array_to_string(toks, ' ')
            WHEN spm THEN '<|fim_suffix|>' || COALESCE(array_to_string(toks[hi+1:n], ' '), '')
                 || '<|fim_prefix|>' || COALESCE(array_to_string(toks[1:lo], ' '), '')
                 || '<|fim_middle|>' || COALESCE(array_to_string(toks[lo+1:hi], ' '), '')
            ELSE '<|fim_prefix|>' || COALESCE(array_to_string(toks[1:lo], ' '), '')
                 || '<|fim_suffix|>' || COALESCE(array_to_string(toks[hi+1:n], ' '), '')
                 || '<|fim_middle|>' || COALESCE(array_to_string(toks[lo+1:hi], ' '), '')
       END
FROM (
  SELECT doc_id, toks, n, fim, spm, LEAST(c1, c2) AS lo, GREATEST(c1, c2) AS hi
  FROM (
    SELECT doc_id, toks, n,
           ({h6fim}) % 1000 < 500 AS fim,
           ({h6a}) % (n + 1) AS c1,
           ({h6b}) % (n + 1) AS c2,
           ({h6m}) % 2 = 1 AS spm
    FROM tz
  )
)
UNION ALL
-- span: T5 span corruption replay — the aligned md5 start grid,
-- sentinel numbering, the position-skip input, the span-spelling
-- target, tail truncation
SELECT 'span', doc_id, CAST(n AS INTEGER),
       CAST(len(starts) AS BIGINT),
       CAST(COALESCE(list_sum(list_transform(starts,
              s -> LEAST(3, n - s + 1))), 0) AS BIGINT),
       CAST(-1 AS BIGINT),
       COALESCE(array_to_string(list_filter(list_transform(generate_series(1, n),
           i -> CASE
             WHEN list_contains(starts, i)
               THEN '<extra_id_' || CAST(len(list_filter(starts, s -> s <= i)) AS VARCHAR) || '>'
             WHEN len(list_filter(starts, s -> i >= s AND i < s + 3)) > 0
               THEN NULL
             ELSE toks[i] END),
           x -> x IS NOT NULL), ' '), '')
       || chr(10) ||
       COALESCE(array_to_string(flatten(list_transform(starts,
           s -> ['<extra_id_' || CAST(len(list_filter(starts, s2 -> s2 <= s)) AS VARCHAR) || '>']
                || toks[s:LEAST(s + 2, n)])), ' '), '')
FROM (
  SELECT doc_id, toks, n,
         list_filter(generate_series(1, n),
             i -> i % 3 = 1 AND ({h6s}) % 7 = 0) AS starts
  FROM tz
)
UNION ALL
-- chat: the SFT loss-mask table computed DIRECTLY from documents —
-- the Spark side goes through the real to_json -> from_json round
-- trip first, so the hash proves serialization is lossless and the
-- per-turn accounting (whitespace tokens + 3 template-overhead
-- tokens, per-conv cumulative offsets, assistant-only mask) exact
SELECT 'chat', conv_id,
       CAST(n_tokens AS INTEGER),
       CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT),
       CAST(turn_idx AS BIGINT),
       CAST(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END AS BIGINT),
       role
FROM (
  SELECT conv_id, turn_idx,
         CASE WHEN turn_idx = 0 THEN 'system'
              WHEN turn_idx % 2 = 1 THEN 'user'
              ELSE 'assistant' END AS role,
         len(string_split(
             trim(regexp_replace(lower(COALESCE(ctext, '')), '\\s+', ' ', 'g')),
             ' ')) + 3 AS n_tokens
  FROM (
    SELECT doc_id % 101 AS conv_id,
           ROW_NUMBER() OVER (PARTITION BY doc_id % 101 ORDER BY doc_id) - 1
             AS turn_idx,
           text AS ctext
    FROM documents
  )
)
"""
    # p3 union: stratified ⊕ hardcoded mixture quotas (int(40·w/Σw):
    # src0=20, src1=12, src2=8 — the Spark side computes them driver-
    # side from the same formula) ⊕ the leakage-safe split, whose group
    # ids come from d10's recursive component SQL and whose bucket is
    # the first-6-hex-digits-of-md5 % 100 hash on the GROUP id.
    d10_sql = _dedup_oracles()["d10_near_duplicate_groups"]
    hex6g = (
        "(CAST(list_sum(list_transform(generate_series(1, 6), i -> "
        "(strpos('0123456789abcdef', substr(md5(CAST(group_id AS VARCHAR)), i, 1)) - 1)"
        " * (16 ** (6 - i)))) AS BIGINT) % 100)"
    )
    p3 = f"""
WITH ndgroups AS MATERIALIZED (
  SELECT * FROM ({d10_sql}) _g
), qual AS MATERIALIZED (
  SELECT doc_id,
         COALESCE(ROUND(
             0.4 * LEAST(n_tokens::DOUBLE / 100.0, 1.0)
             + 0.2 * (1.0 - LEAST(punct_ratio * 5.0, 1.0))
             + 0.2 * (1.0 - LEAST(digit_ratio * 5.0, 1.0))
             + 0.2 * LEAST(stop_ratio * 3.0, 1.0), 6), 0.0) AS quality_score
  FROM (
    SELECT doc_id,
           ROUND(punct::DOUBLE / NULLIF(n_chars_n, 0), 6) AS punct_ratio,
           ROUND(digits::DOUBLE / NULLIF(n_chars_n, 0), 6) AS digit_ratio,
           ROUND(stop_en::DOUBLE / NULLIF(n_tokens, 0), 6) AS stop_ratio,
           n_tokens
    FROM (
      SELECT doc_id, len(toks) AS n_tokens, length(norm) AS n_chars_n,
             length(norm) - length(regexp_replace(norm, '{PUNCT_CLASS}', '', 'g')) AS punct,
             length(norm) - length(regexp_replace(norm, '[0-9]', '', 'g')) AS digits,
             len(list_filter(toks, t -> list_contains([{stop_words}], t))) AS stop_en
      FROM (SELECT doc_id, {norm} AS norm, string_split({norm}, ' ') AS toks
            FROM documents)
    )
  )
), winners AS (
  SELECT doc_id FROM (
    SELECT g.doc_id, ROW_NUMBER() OVER (
        PARTITION BY g.group_id ORDER BY q.quality_score DESC, g.doc_id) AS rn
    FROM ndgroups g JOIN qual q USING (doc_id)
  ) WHERE rn = 1
)
SELECT 'stratified' AS variant, doc_id, text, lang, source,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(-1 AS BIGINT) AS group_id, CAST(-1 AS INTEGER) AS bucket,
       '' AS split
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) WHERE rn <= 50
UNION ALL
SELECT 'mixture', doc_id, text, lang, source, CAST(n_chars AS BIGINT),
       CAST(-1 AS BIGINT), CAST(-1 AS INTEGER), ''
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents WHERE source IN ('src0', 'src1', 'src2')
) WHERE (source = 'src0' AND rn <= 20)
   OR (source = 'src1' AND rn <= 12)
   OR (source = 'src2' AND rn <= 8)
UNION ALL
SELECT 'split', doc_id, '', '', '', CAST(-1 AS BIGINT),
       group_id, CAST({hex6g} AS INTEGER),
       CASE WHEN {hex6g} < 90 THEN 'train'
            WHEN {hex6g} < 95 THEN 'val' ELSE 'test' END
FROM (
  SELECT d0.doc_id, COALESCE(gg.group_id, d0.doc_id) AS group_id
  FROM documents d0 LEFT JOIN ndgroups gg USING (doc_id)
)
UNION ALL
SELECT 'keepbest', d.doc_id, d.text, d.lang, d.source,
       CAST(d.n_chars AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS INTEGER), ''
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM ndgroups)
   OR d.doc_id IN (SELECT doc_id FROM winners)
UNION ALL
-- Efraimidis-Spirakis weighted sample: priority ln(u)/w with u from
-- the first 12 md5 hex digits (exact in a double), top-50 by priority
SELECT 'wsample', doc_id, text, lang, source, CAST(n_chars AS BIGINT),
       CAST(-1 AS BIGINT), CAST(-1 AS INTEGER), ''
FROM (
  SELECT * FROM (
    SELECT *, ln((CAST(list_sum(list_transform(generate_series(1, 12), i ->
        (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
        * (16 ** (12 - i)))) AS DOUBLE) + 0.5) / 281474976710656.0)
        / CAST(n_chars AS DOUBLE) AS _pri
    FROM documents WHERE n_chars > 0
  ) ORDER BY _pri DESC, doc_id LIMIT 50
)
UNION ALL
-- alpha=0.5 temperature mixture: isqrt (= FLOOR(POW(count, 0.5)), exact
-- for perfect squares, 1-ulp-safe otherwise) weights, integer quotas
SELECT 'temperature', doc_id, text, lang, source, CAST(n_chars AS BIGINT),
       CAST(-1 AS BIGINT), CAST(-1 AS INTEGER), ''
FROM (
  SELECT d.*, q.quota,
         ROW_NUMBER() OVER (PARTITION BY d.strat
             ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
  FROM (
    SELECT *, CASE WHEN doc_id % 10 < 7 THEN 'web'
                   WHEN doc_id % 10 < 9 THEN 'code' ELSE 'ref' END AS strat
    FROM documents
  ) d
  JOIN (
    SELECT strat, CAST((60 * w) // SUM(w) OVER () AS BIGINT) AS quota
    FROM (
      SELECT CASE WHEN doc_id % 10 < 7 THEN 'web'
                  WHEN doc_id % 10 < 9 THEN 'code' ELSE 'ref' END AS strat,
             CAST(FLOOR(POW(COUNT(*), 0.5)) AS BIGINT) AS w
      FROM documents GROUP BY 1
    )
  ) q USING (strat)
) WHERE rn <= quota
"""
    return {
        "p1_curation_pipeline": sql,
        "p2_packing_chunking": p2,
        "p3_sampling_split": p3,
    }


def _multimodal_oracles() -> dict[str, str]:
    """DuckDB oracles mirroring operators/multimodal.py: the synthetic
    asset table is rebuilt blob-for-blob (magic ‖ 2×uint32 BE ‖ text),
    so byte lengths, parsed header fields, and md5-over-hex checksums
    match bit-for-bit; derived stats use the same floor arithmetic."""
    a_cte = """
WITH f AS (
  SELECT doc_id AS asset_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         CASE doc_id % 3 WHEN 0 THEN 'IMG0' WHEN 1 THEN 'AUD0' ELSE 'VID0' END AS magic,
         CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 8) * 4000
              ELSE 64 + doc_id % 1024 END AS f1,
         CASE WHEN doc_id % 3 = 1 THEN 1 + doc_id % 2
              ELSE 64 + (doc_id * 7) % 1024 END AS f2,
         CASE WHEN doc_id % 3 != 0 THEN 1000 + (doc_id * 37) % 60000 END AS duration_ms,
         text
  FROM documents
), a AS (
  SELECT *, magic::BLOB || unhex(lpad(to_hex(f1), 8, '0'))
              || unhex(lpad(to_hex(f2), 8, '0')) || encode(text) AS payload
  FROM f
)
"""

    o: dict[str, str] = {}
    # m1 carries m4's audio-derived fields (n_samples /
    # pcm_duration_ms, NULL for non-audio rows) mirroring the Spark
    # manifest ⟕ audio_features join.

    # little-endian byte-swap renderers for the gif/bmp oracle replays
    def _le16sql(x: str) -> str:
        h = f"lpad(to_hex({x}), 4, '0')"
        return f"unhex(substr({h},3,2) || substr({h},1,2))"

    def _le32sql(x: str) -> str:
        h = f"lpad(to_hex({x}), 8, '0')"
        return (
            f"unhex(substr({h},7,2) || substr({h},5,2)"
            f" || substr({h},3,2) || substr({h},1,2))"
        )

    def _le24sql(x: str) -> str:
        h = f"lpad(to_hex({x}), 6, '0')"
        return f"unhex(substr({h},5,2) || substr({h},3,2) || substr({h},1,2))"

    # endian-parametric renderers for the TIFF replay ('II' swaps,
    # 'MM' writes big-endian as-is; `le` is a SQL boolean expression)
    def _e16sql(x: str, le: str) -> str:
        return f"(CASE WHEN {le} THEN {_le16sql(x)} ELSE unhex(lpad(to_hex({x}), 4, '0')) END)"

    def _e32sql(x: str, le: str) -> str:
        return f"(CASE WHEN {le} THEN {_le32sql(x)} ELSE unhex(lpad(to_hex({x}), 8, '0')) END)"

    def _tiff_entry_sql(tag: int, typ: str, val: str, le: str = "le") -> str:
        """One 12-byte IFD entry: tag, type, count=1, value field
        (SHORT: first 2 bytes + 2 zeros; LONG: 4 bytes)."""
        return (
            f"{_e16sql(str(tag), le)} || {_e16sql(typ, le)} || {_e32sql('1', le)}"
            f" || (CASE WHEN {typ} = 3 THEN {_e16sql(val, le)} || unhex('0000')"
            f" ELSE {_e32sql(val, le)} END)"
        )

    o["m1_asset_manifest"] = (
        a_cte
        + f"""SELECT asset_id, media_type, magic,
       CAST(octet_length(payload) AS INTEGER) AS byte_len,
       CAST(octet_length(payload) - 12 AS INTEGER) AS body_bytes,
       CASE WHEN media_type != 'audio' THEN f1 END AS width,
       CASE WHEN media_type != 'audio' THEN f2 END AS height,
       CASE WHEN media_type = 'audio' THEN f1 END AS sample_rate,
       CASE WHEN media_type = 'audio' THEN f2 END AS n_channels,
       duration_ms,
       md5(hex(payload)) AS checksum,
       CASE WHEN media_type = 'audio'
            THEN CAST(FLOOR((octet_length(payload) - 12)::DOUBLE / (2 * f2)) AS BIGINT)
       END AS n_samples,
       CASE WHEN media_type = 'audio'
            THEN CAST(FLOOR(CAST(FLOOR((octet_length(payload) - 12)::DOUBLE / (2 * f2)) AS BIGINT)
                       * 1000 / f1) AS BIGINT)
       END AS pcm_duration_ms
FROM a
UNION ALL
-- jpeg rows: replay the deterministic JPEG byte stream (SOI, APP0,
-- variable-length COM, DQT, SOF0/SOF2, SOS, scan, EOI) and the dim
-- formulas; the md5-over-hex checksum proves Spark's marker-walk
-- parsed the SAME bytes this replay constructs
SELECT asset_id,
       CASE WHEN prog = 1 THEN 'jpeg_progressive'
            ELSE 'jpeg_baseline' END AS media_type,
       'JFIF' AS magic,
       CAST(octet_length(payload) AS INTEGER) AS byte_len,
       CAST(NULL AS INTEGER) AS body_bytes,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(NULL AS BIGINT) AS sample_rate,
       CAST(3 AS BIGINT) AS n_channels,
       CAST(NULL AS BIGINT) AS duration_ms,
       md5(hex(payload)) AS checksum,
       CAST(NULL AS BIGINT) AS n_samples,
       CAST(NULL AS BIGINT) AS pcm_duration_ms
FROM (
  SELECT *,
    unhex('FFD8FFE000104A46494600010100000100010000')
    || unhex('FFFE') || unhex(lpad(to_hex(comlen + 2), 4, '0'))
    || unhex(repeat('20', comlen))
    || unhex('FFDB0043' || '00' || repeat('10', 64))
    || unhex(CASE WHEN prog = 1 THEN 'FFC2' ELSE 'FFC0' END)
    || unhex('001108')
    || unhex(lpad(to_hex(h), 4, '0')) || unhex(lpad(to_hex(w), 4, '0'))
    || unhex('03012200021101031101')
    || unhex('FFDA000C03010002110311003F00')
    || unhex(repeat('25', scanlen))
    || unhex('FFD9') AS payload
  FROM (
    SELECT doc_id AS asset_id,
           16 + (doc_id * 5) % 2000 AS w,
           16 + (doc_id * 11) % 1500 AS h,
           doc_id % 9 AS comlen,
           doc_id % 2 AS prog,
           1 + doc_id % 7 AS scanlen
    FROM documents
  )
)
UNION ALL
-- gif rows (even doc ids): LITTLE-endian u16 dims in the logical
-- screen descriptor, version split 87a/89a by id
SELECT asset_id, lower(version), version,
       CAST(octet_length(payload) AS INTEGER),
       CAST(NULL AS INTEGER), CAST(w AS BIGINT), CAST(h AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       md5(hex(payload)), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM (
  SELECT *, encode(version)
    || {_le16sql('w')} || {_le16sql('h')}
    || unhex('700000') || unhex('3B') AS payload
  FROM (
    SELECT doc_id AS asset_id,
           CASE WHEN doc_id % 4 = 0 THEN 'GIF87a' ELSE 'GIF89a' END AS version,
           16 + (doc_id * 3) % 60000 AS w,
           16 + (doc_id * 13) % 50000 AS h
    FROM documents WHERE doc_id % 2 = 0
  )
)
UNION ALL
-- bmp rows (odd doc ids): SIGNED little-endian i32 dims; ids = 1 mod 4
-- store a negative (top-down) height, reported as (abs, bmp_topdown)
SELECT asset_id,
       CASE WHEN topdown THEN 'bmp_topdown' ELSE 'bmp' END, 'BM',
       CAST(octet_length(payload) AS INTEGER),
       CAST(NULL AS INTEGER), CAST(w AS BIGINT), CAST(habs AS BIGINT),
       CAST(NULL AS BIGINT), CAST(3 AS BIGINT), CAST(NULL AS BIGINT),
       md5(hex(payload)), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM (
  SELECT *, encode('BM')
    || {_le32sql('54 + npx')} || unhex('00000000') || {_le32sql('54')}
    || {_le32sql('40')} || {_le32sql('w')} || {_le32sql('h2c')}
    || {_le16sql('1')} || {_le16sql('24')}
    || unhex(repeat('00', 24)) || unhex(repeat('A5', npx)) AS payload
  FROM (
    SELECT doc_id AS asset_id,
           16 + (doc_id * 3) % 30000 AS w,
           16 + (doc_id * 7) % 20000 AS habs,
           doc_id % 4 = 1 AS topdown,
           CASE WHEN doc_id % 4 = 1
                THEN 4294967296 - (16 + (doc_id * 7) % 20000)
                ELSE 16 + (doc_id * 7) % 20000 END AS h2c,
           1 + doc_id % 5 AS npx
    FROM documents WHERE doc_id % 2 = 1
  )
)
UNION ALL
-- webp rows (doc_id % 5 = 0): RIFF container, one payload chunk kind
-- per id residue — VP8 (sync code + 14-bit LE dims), VP8L (0x2F +
-- BIT-PACKED dims-minus-one), VP8X (24-bit LE canvas-minus-one); the
-- md5-over-hex checksum proves the engine parsed the SAME bytes
SELECT asset_id, 'webp_' || kind, 'RIFF',
       CAST(octet_length(payload) AS INTEGER),
       CAST(NULL AS INTEGER), CAST(w AS BIGINT), CAST(h AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       md5(hex(payload)), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM (
  SELECT *, encode('RIFF') || {_le32sql('octet_length(body) + 4')}
            || encode('WEBP') || body AS payload
  FROM (
    SELECT *,
      CASE kind
        WHEN 'vp8' THEN encode('VP8 ') || {_le32sql('10')}
             || unhex('0000009D012A') || {_le16sql('w')} || {_le16sql('h')}
        WHEN 'vp8l' THEN encode('VP8L') || {_le32sql('5')} || unhex('2F')
             || {_le32sql('(w - 1) + (h - 1) * 16384')}
        ELSE encode('VP8X') || {_le32sql('10')} || unhex('00000000')
             || {_le24sql('w - 1')} || {_le24sql('h - 1')} END AS body
    FROM (
      SELECT doc_id AS asset_id,
             16 + (doc_id * 5) % 16000 AS w,
             16 + (doc_id * 9) % 12000 AS h,
             CASE CAST(doc_id % 3 AS INTEGER)
               WHEN 0 THEN 'vp8' WHEN 1 THEN 'vp8l' ELSE 'vp8x' END AS kind
      FROM documents WHERE doc_id % 5 = 0
    )
  )
)
UNION ALL
-- tiff rows (doc_id % 5 = 1): endian-tagged header ('II' for
-- id % 10 = 1, else 'MM'), IFD at 8 with FOUR tag-sorted entries so
-- the engine's walk must FIND tags 256/257/258; dim entries alternate
-- SHORT/LONG types, LONG ids carrying above-16-bit dims
SELECT asset_id,
       CASE WHEN le THEN 'tiff_le' ELSE 'tiff_be' END,
       CASE WHEN le THEN 'II' ELSE 'MM' END,
       CAST(octet_length(payload) AS INTEGER),
       CAST(NULL AS INTEGER), CAST(w AS BIGINT), CAST(h AS BIGINT),
       CAST(NULL AS BIGINT), CAST(1 AS BIGINT), CAST(NULL AS BIGINT),
       md5(hex(payload)), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM (
  SELECT *,
    (CASE WHEN le THEN encode('II') ELSE encode('MM') END)
    || {_e16sql('42', 'le')} || {_e32sql('8', 'le')} || {_e16sql('4', 'le')}
    || {_tiff_entry_sql(256, 'dim_typ', 'w')}
    || {_tiff_entry_sql(257, 'dim_typ', 'h')}
    || {_tiff_entry_sql(258, '3', '8')}
    || {_tiff_entry_sql(259, '3', '1')}
    || {_e32sql('0', 'le')} AS payload
  FROM (
    SELECT doc_id AS asset_id,
           doc_id % 10 = 1 AS le,
           CASE WHEN doc_id % 4 = 3 THEN 4 ELSE 3 END AS dim_typ,
           CASE WHEN doc_id % 4 = 3 THEN 70000 + (doc_id * 3) % 100000
                ELSE 16 + (doc_id * 3) % 40000 END AS w,
           CASE WHEN doc_id % 4 = 3 THEN 70000 + (doc_id * 11) % 90000
                ELSE 16 + (doc_id * 11) % 30000 END AS h
    FROM documents WHERE doc_id % 5 = 1
  )
)
UNION ALL
-- mp3 rows (doc_id % 5 = 2): ID3v2-prefixed (ids ≡ 2 mod 4) MPEG-1
-- Layer III frame heads — the oracle replays the bytes AND the ISO
-- table lookups + frame-length formula the engine derives
SELECT asset_id, 'mp3',
       CASE WHEN has_id3 THEN 'ID3' ELSE 'MPEG' END,
       CAST(octet_length(payload) AS INTEGER),
       CAST((144000 * br) // sr + pad AS INTEGER),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(sr AS BIGINT),
       CAST(CASE WHEN ch = 3 THEN 1 ELSE 2 END AS BIGINT),
       CAST(1152000 // sr AS BIGINT),
       md5(hex(payload)), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM (
  SELECT *,
    (CASE WHEN has_id3
          THEN encode('ID3') || unhex('030000000000')
               || unhex(lpad(to_hex(tagsize), 2, '0'))
               || unhex(repeat('54', CAST(tagsize AS INTEGER)))
          ELSE ''::BLOB END)
    || unhex('FFFB')
    || unhex(lpad(to_hex(bri * 16 + sri * 4 + pad * 2), 2, '0'))
    || unhex(lpad(to_hex(ch * 64), 2, '0'))
    || unhex(repeat('AA', CAST(1 + doc_id % 7 AS INTEGER))) AS payload
  FROM (
    SELECT doc_id AS asset_id, doc_id,
           doc_id % 4 = 2 AS has_id3, doc_id % 17 AS tagsize,
           1 + doc_id % 14 AS bri, doc_id % 3 AS sri,
           doc_id % 2 AS pad, doc_id % 4 AS ch,
           [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
             [CAST(1 + doc_id % 14 AS INTEGER)] AS br,
           [44100,48000,32000][CAST(doc_id % 3 AS INTEGER) + 1] AS sr
    FROM documents WHERE doc_id % 5 = 2
  )
)
UNION ALL
-- flac rows (doc_id % 5 = 3): STREAMINFO with the 20/3/5/36-bit
-- packed fields rebuilt byte-for-byte; duration is the integer
-- total·1000 div sample_rate derivation
SELECT asset_id, 'flac', 'fLaC',
       CAST(octet_length(payload) AS INTEGER),
       CAST(NULL AS INTEGER),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(sr AS BIGINT), CAST(ch AS BIGINT),
       CAST((total * 1000) // sr AS BIGINT),
       md5(hex(payload)), CAST(total AS BIGINT), CAST(NULL AS BIGINT)
FROM (
  SELECT *,
    encode('fLaC') || unhex('80000022')
    || unhex(lpad(to_hex(4096), 4, '0')) || unhex(lpad(to_hex(4096), 4, '0'))
    || unhex('000000000000')
    || unhex(lpad(to_hex(sr // 4096), 2, '0'))
    || unhex(lpad(to_hex((sr // 16) % 256), 2, '0'))
    || unhex(lpad(to_hex((sr % 16) * 16 + (ch - 1) * 2), 2, '0'))
    || unhex('F0')
    || unhex(lpad(to_hex(total), 8, '0'))
    || unhex(repeat('00', 16)) AS payload
  FROM (
    SELECT doc_id AS asset_id,
           [8000,16000,22050,24000,32000,44100,48000]
             [CAST(doc_id % 7 AS INTEGER) + 1] AS sr,
           1 + doc_id % 2 AS ch,
           1000 + (doc_id * 31) % 100000 AS total
    FROM documents WHERE doc_id % 5 = 3
  )
)
"""
    )
    # m2 = Python feature extraction ⊕ the JVM resize plan (m5's
    # columns), mirroring with_resize_plan(image_features(...)).
    o["m2_image_features"] = (
        a_cte
        + """SELECT asset_id, width, height, aspect_ratio, body_bytes, checksum,
       ROUND(scale, 6) AS scale,
       GREATEST(CAST(FLOOR(width * scale) AS BIGINT), 1) AS target_width,
       GREATEST(CAST(FLOOR(height * scale) AS BIGINT), 1) AS target_height
FROM (
  SELECT asset_id, f1 AS width, f2 AS height,
         (f1 * 1000000 // f2) / 1e6 AS aspect_ratio,
         CAST(octet_length(payload) - 12 AS INTEGER) AS body_bytes,
         md5(hex(payload)) AS checksum,
         CASE WHEN GREATEST(f1, f2) <= 256 THEN 1.0
              ELSE 256 / GREATEST(f1, f2)::DOUBLE END AS scale
  FROM a WHERE media_type = 'image'
)
"""
    )
    # luma = first hex byte of the frame signature, via strpos math
    luma = (
        "CAST((strpos('0123456789abcdef', substr(frame_sig, 1, 1)) - 1) * 16"
        " + (strpos('0123456789abcdef', substr(frame_sig, 2, 1)) - 1) AS INTEGER)"
    )
    # m6 rows carry duration_ms, subsuming the m3 frame-sampling plan.
    o["m6_video_frame_features"] = (
        a_cte
        + f""", frames AS (
  SELECT asset_id, payload, duration_ms,
         CAST(frame_ms // 1000 AS INTEGER) AS frame_idx, frame_ms
  FROM a, unnest(generate_series(0, duration_ms, 1000)) AS t(frame_ms)
  WHERE media_type = 'video'
), sigs AS (
  SELECT asset_id, duration_ms, frame_idx, frame_ms,
         md5(hex(payload) || ':' || CAST(frame_ms AS VARCHAR)) AS frame_sig
  FROM frames
)
SELECT asset_id, duration_ms, frame_idx, frame_ms, frame_sig, {luma} AS luma
FROM sigs
"""
    )
    # m7/m8 ground truth is computed ARITHMETICALLY from the same
    # doc_id formulas the Spark encode stage uses — the Spark side must
    # recover identical values through real PNG-zlib / WAV-RIFF decode
    # for the hash to match.  Integer sums are exact (≤2^53), so the
    # floor-6 means and FLOOR(SQRT·1e6) rms are bit-portable.
    png_sql = """
WITH p AS (
  SELECT doc_id AS asset_id,
         4 + doc_id % 13 AS width,
         4 + (doc_id * 7) % 11 AS height,
         1 + doc_id % 3 AS channels
  FROM documents
), vals AS (
  SELECT p.asset_id, p.width, p.height, p.channels,
         (p.asset_id * 31 + g.i) % 256 AS v
  FROM p, unnest(generate_series(0, p.width * p.height * p.channels - 1)) AS g(i)
)
SELECT asset_id,
       CAST(width AS INTEGER) AS width,
       CAST(height AS INTEGER) AS height,
       CAST(channels AS INTEGER) AS channels,
       (SUM(v) * 1000000 // COUNT(*)) / 1000000.0 AS pixel_mean,
       CAST(MIN(v) AS INTEGER) AS pixel_min,
       CAST(MAX(v) AS INTEGER) AS pixel_max
FROM vals GROUP BY 1, 2, 3, 4
"""
    o["m8_wav_sample_stats"] = """
WITH p AS (
  SELECT doc_id AS asset_id,
         64 + doc_id % 97 AS frames,
         1 + doc_id % 2 AS ch,
         8000 + (doc_id % 8) * 1000 AS rate
  FROM documents
), vals AS (
  SELECT p.asset_id, p.frames, p.ch, p.rate,
         ((p.asset_id * 13 + g.i * 7) % 65536) - 32768 AS v
  FROM p, unnest(generate_series(0, p.frames * p.ch - 1)) AS g(i)
)
SELECT asset_id,
       CAST(rate AS INTEGER) AS sample_rate,
       CAST(ch AS INTEGER) AS n_channels,
       CAST(frames AS INTEGER) AS n_frames,
       (SUM(v + 32768) * 1000000 // COUNT(*)) / 1000000.0 - 32768 AS sample_mean,
       FLOOR(SQRT(CAST(SUM(v * v) AS DOUBLE) / COUNT(*)) * 1000000) / 1000000.0 AS sample_rms,
       CAST(MAX(ABS(v)) AS INTEGER) AS peak
FROM vals GROUP BY 1, 2, 3, 4
"""
    apng_sql = """
WITH p AS (
  SELECT doc_id AS asset_id,
         2 + doc_id % 4 AS n_frames,
         4 + doc_id % 9 AS width,
         4 + (doc_id * 3) % 7 AS height,
         1 + doc_id % 3 AS channels
  FROM documents
), pf AS (
  SELECT p.*, g.f AS frame_idx
  FROM p, unnest(generate_series(0, p.n_frames - 1)) AS g(f)
), vals AS (
  SELECT pf.asset_id, pf.frame_idx, pf.n_frames, pf.width, pf.height, pf.channels,
         (pf.asset_id * 31 + pf.frame_idx * 97 + g.i) % 256 AS v
  FROM pf, unnest(generate_series(0, pf.width * pf.height * pf.channels - 1)) AS g(i)
)
SELECT asset_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(n_frames AS INTEGER) AS n_frames,
       CAST(width AS INTEGER) AS width,
       CAST(height AS INTEGER) AS height,
       CAST(channels AS INTEGER) AS channels,
       (SUM(v) * 1000000 // COUNT(*)) / 1000000.0 AS pixel_mean,
       CAST(MIN(v) AS INTEGER) AS pixel_min,
       CAST(MAX(v) AS INTEGER) AS pixel_max
FROM vals GROUP BY 1, 2, 3, 4, 5, 6
"""
    # m10: per target pixel (ty,tx,c) the NN source index is
    # (ty·h//th · w + tx·w//tw) · ch + c — decomposed from the flat
    # series index i as ty = i // (tw·ch), tx = (i // ch) % tw,
    # c = i % ch.  The Spark side must reproduce these values through
    # real decode + numpy resample for the hash to match.
    rez_sql = """
WITH p AS (
  SELECT doc_id AS asset_id,
         4 + doc_id % 13 AS w,
         4 + (doc_id * 7) % 11 AS h,
         1 + doc_id % 3 AS ch
  FROM documents
), t AS (
  SELECT asset_id, w, h, ch,
         CASE WHEN GREATEST(w, h) <= 8 THEN w
              ELSE GREATEST(1, (w * 8) // GREATEST(w, h)) END AS tw,
         CASE WHEN GREATEST(w, h) <= 8 THEN h
              ELSE GREATEST(1, (h * 8) // GREATEST(w, h)) END AS th
  FROM p
), vals AS (
  SELECT t.asset_id, t.w, t.h, t.tw, t.th, t.ch,
         (t.asset_id * 31 +
          ((((g.i // (t.tw * t.ch)) * t.h // t.th) * t.w
            + (((g.i // t.ch) % t.tw) * t.w // t.tw)) * t.ch
           + g.i % t.ch)) % 256 AS v
  FROM t, unnest(generate_series(0, t.tw * t.th * t.ch - 1)) AS g(i)
)
SELECT asset_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(tw AS INTEGER) AS target_width,
       CAST(th AS INTEGER) AS target_height,
       CAST(ch AS INTEGER) AS channels,
       (SUM(v) * 1000000 // COUNT(*)) / 1000000.0 AS pixel_mean,
       CAST(MIN(v) AS INTEGER) AS pixel_min,
       CAST(MAX(v) AS INTEGER) AS pixel_max
FROM vals GROUP BY 1, 2, 3, 4, 5, 6
"""
    # One tagged union mirroring q["m7_decoded_pixel_stats"]: the three
    # pixel-decode paths with sentinel frame/target columns (frame 0 of
    # 1 for single images; target dims = source dims when not resizing)
    # so the union is NULL-free and hash-stable across engines.
    # dhash replay: pixel formulas → integer luma → NN 9×8 grid →
    # row-adjacent comparisons → big-endian 16-bit quarter packing;
    # pixel value at (y, x, c) is (id*31 + (y*w + x)*ch + c) % 256
    dhash_sql = """
WITH p AS (
  SELECT doc_id AS asset_id,
         4 + doc_id % 13 AS w,
         4 + (doc_id * 7) % 11 AS h,
         1 + doc_id % 3 AS ch
  FROM documents
), lum AS (
  SELECT p.asset_id, p.w, p.h, p.ch, gy.i AS gy, gx.i AS gx,
         CASE WHEN p.ch = 3 THEN
           (299 * ((p.asset_id * 31 + (((gy.i * p.h // 8) * p.w + (gx.i * p.w // 9)) * p.ch + 0)) % 256)
            + 587 * ((p.asset_id * 31 + (((gy.i * p.h // 8) * p.w + (gx.i * p.w // 9)) * p.ch + 1)) % 256)
            + 114 * ((p.asset_id * 31 + (((gy.i * p.h // 8) * p.w + (gx.i * p.w // 9)) * p.ch + 2)) % 256)) // 1000
         ELSE (p.asset_id * 31 + (((gy.i * p.h // 8) * p.w + (gx.i * p.w // 9)) * p.ch + 0)) % 256
         END AS l
  FROM p, generate_series(0, 7) AS gy(i), generate_series(0, 8) AS gx(i)
), bits AS (
  SELECT a.asset_id, a.w, a.h, a.ch, a.gy, a.gx,
         CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS bit
  FROM lum a JOIN lum b
    ON a.asset_id = b.asset_id AND a.gy = b.gy AND b.gx = a.gx + 1
  WHERE a.gx <= 7
)
SELECT asset_id, w, h, ch,
       CAST(SUM(CASE WHEN (gy * 8 + gx) // 16 = 0
                THEN bit << (15 - (gy * 8 + gx) % 16) ELSE 0 END) AS INTEGER) AS q0,
       CAST(SUM(CASE WHEN (gy * 8 + gx) // 16 = 1
                THEN bit << (15 - (gy * 8 + gx) % 16) ELSE 0 END) AS INTEGER) AS q1,
       CAST(SUM(CASE WHEN (gy * 8 + gx) // 16 = 2
                THEN bit << (15 - (gy * 8 + gx) % 16) ELSE 0 END) AS INTEGER) AS q2,
       CAST(SUM(CASE WHEN (gy * 8 + gx) // 16 = 3
                THEN bit << (15 - (gy * 8 + gx) % 16) ELSE 0 END) AS INTEGER) AS q3
FROM bits GROUP BY 1, 2, 3, 4
"""
    # phash replay: pixel formulas → luma on the NN 32×32 grid → the
    # fixed-point DCT-II as two matmul joins against the SAME 8×32
    # integer cosine table the operator uses (dct_table literals —
    # Python generates both, so no libm on either engine) → top-left
    # 8×8 → bit = coef > 32nd-smallest under (coef, u, v).
    from kafkastreamsinteractivequeries_spark.operators.multimodal import (
        dct_table as _dct_table,
    )

    _pc_rows = ",\n    ".join(
        ", ".join(f"({k}, {n}, {c})" for n, c in enumerate(row))
        for k, row in enumerate(_dct_table(8, 32))
    )
    phash_sql = f"""
WITH pp AS (
  SELECT doc_id AS asset_id,
         4 + doc_id % 13 AS w,
         4 + (doc_id * 7) % 11 AS h,
         1 + doc_id % 3 AS ch
  FROM documents
), pc(k, n, c) AS (
  SELECT * FROM (VALUES
    {_pc_rows}
  )
), pl AS (
  SELECT pp.asset_id, pp.w, pp.h, pp.ch, y.i AS y, x.i AS x,
         CASE WHEN pp.ch = 3 THEN
           (299 * ((pp.asset_id * 31 + (((y.i * pp.h // 32) * pp.w + (x.i * pp.w // 32)) * pp.ch + 0)) % 256)
            + 587 * ((pp.asset_id * 31 + (((y.i * pp.h // 32) * pp.w + (x.i * pp.w // 32)) * pp.ch + 1)) % 256)
            + 114 * ((pp.asset_id * 31 + (((y.i * pp.h // 32) * pp.w + (x.i * pp.w // 32)) * pp.ch + 2)) % 256)) // 1000
         ELSE (pp.asset_id * 31 + (((y.i * pp.h // 32) * pp.w + (x.i * pp.w // 32)) * pp.ch + 0)) % 256
         END AS l
  FROM pp, generate_series(0, 31) AS y(i), generate_series(0, 31) AS x(i)
), pg AS (
  SELECT pl.asset_id, pc.k AS u, pl.x, SUM(pc.c * pl.l) AS g
  FROM pl JOIN pc ON pc.n = pl.y
  GROUP BY 1, 2, 3
), pf AS (
  SELECT pg.asset_id, pg.u, pc.k AS v, SUM(pc.c * pg.g) AS f
  FROM pg JOIN pc ON pc.n = pg.x
  GROUP BY 1, 2, 3
), pmed AS (
  SELECT asset_id, f AS med FROM (
    SELECT asset_id, f,
           ROW_NUMBER() OVER (PARTITION BY asset_id ORDER BY f, u, v) AS rn
    FROM pf
  ) WHERE rn = 32
), pbits AS (
  SELECT pf.asset_id, pf.u, pf.v,
         CASE WHEN pf.f > pmed.med THEN 1 ELSE 0 END AS bit
  FROM pf JOIN pmed USING (asset_id)
)
SELECT b.asset_id, pp.w, pp.h, pp.ch,
       CAST(SUM(CASE WHEN (u * 8 + v) // 16 = 0
                THEN bit << (15 - (u * 8 + v) % 16) ELSE 0 END) AS INTEGER) AS q0,
       CAST(SUM(CASE WHEN (u * 8 + v) // 16 = 1
                THEN bit << (15 - (u * 8 + v) % 16) ELSE 0 END) AS INTEGER) AS q1,
       CAST(SUM(CASE WHEN (u * 8 + v) // 16 = 2
                THEN bit << (15 - (u * 8 + v) % 16) ELSE 0 END) AS INTEGER) AS q2,
       CAST(SUM(CASE WHEN (u * 8 + v) // 16 = 3
                THEN bit << (15 - (u * 8 + v) % 16) ELSE 0 END) AS INTEGER) AS q3
FROM pbits b JOIN pp ON pp.asset_id = b.asset_id
GROUP BY 1, 2, 3, 4
"""
    # capdup replay: 3-gram caption shingles → 12-hash minhash → 4-band
    # buckets (cap 1024) → exact Jaccard >= 0.5 → dHash Hamming <= 6
    # over the SAME replayed quarters as the 'dhash' branch (packed
    # integer XOR + bit_count — the engine's integer-space form).
    _cap_minhash = ",\n         ".join(
        f"list_aggregate(list_transform(s, t -> md5('{i}:' || t)), 'min')"
        for i in range(12)
    )
    _cap_bands = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band_id, md5({expr}) AS band_hash FROM csig".format(
            b=b,
            expr=" || '|' || ".join(f"minhash[{b * 3 + r + 1}]" for r in range(3)),
        )
        for b in range(4)
    )
    capdup_sql = f"""
WITH ctok AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS t
  FROM documents
), csh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                  for i in generate_series(1, len(t) - 2)])
              ELSE [array_to_string(t, ' ')] END AS s
  FROM ctok
), csig AS (
  SELECT doc_id, [{_cap_minhash}] AS minhash FROM csh
), cbands AS (
{_cap_bands}
), cfbands AS (
  SELECT cbands.* FROM cbands
  JOIN (SELECT band_id, band_hash FROM cbands
        GROUP BY 1, 2 HAVING COUNT(*) <= 1024) ok
  USING (band_id, band_hash)
), ccand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM cfbands a JOIN cfbands b USING (band_id, band_hash)
  WHERE a.doc_id < b.doc_id
), cjac AS (
  SELECT id_a, id_b, jaccard FROM (
    SELECT id_a, id_b,
           ROUND(len(list_intersect(x.s, y.s))::DOUBLE
                 / len(list_distinct(x.s || y.s)), 6) AS jaccard
    FROM ccand JOIN csh x ON x.doc_id = id_a JOIN csh y ON y.doc_id = id_b
  ) WHERE jaccard >= 0.5
), cdh AS (
  SELECT * FROM ({dhash_sql}) cdh_inner
)
SELECT * FROM (
  SELECT j.id_a, j.id_b, j.jaccard,
         bit_count(xor(a.q0, b.q0)) + bit_count(xor(a.q1, b.q1))
         + bit_count(xor(a.q2, b.q2)) + bit_count(xor(a.q3, b.q3))
           AS hamming
  FROM cjac j
  JOIN cdh a ON a.asset_id = j.id_a
  JOIN cdh b ON b.asset_id = j.id_b
) WHERE hamming <= 6
"""
    o["m7_decoded_pixel_stats"] = f"""
SELECT 'png' AS variant, asset_id, CAST(0 AS INTEGER) AS frame_idx,
       CAST(1 AS INTEGER) AS n_frames, width, height,
       width AS target_width, height AS target_height,
       channels, pixel_mean, pixel_min, pixel_max
FROM ({png_sql}) png_v
UNION ALL
SELECT 'apng', asset_id, frame_idx, n_frames, width, height,
       width, height, channels, pixel_mean, pixel_min, pixel_max
FROM ({apng_sql}) apng_v
UNION ALL
SELECT 'resize', asset_id, CAST(0 AS INTEGER), CAST(1 AS INTEGER),
       width, height, target_width, target_height,
       channels, pixel_mean, pixel_min, pixel_max
FROM ({rez_sql}) rez_v
UNION ALL
-- dhash: hash quarters ride the dim columns (each < 2^16), source
-- dims ride pixel_min/pixel_max, mean is a -1 sentinel
SELECT 'dhash', asset_id, CAST(0 AS INTEGER), CAST(1 AS INTEGER),
       CAST(q0 AS INTEGER), CAST(q1 AS INTEGER),
       CAST(q2 AS INTEGER), CAST(q3 AS INTEGER),
       CAST(ch AS INTEGER), -1.0,
       CAST(w AS INTEGER), CAST(h AS INTEGER)
FROM ({dhash_sql}) dh_v
UNION ALL
-- phash: same riding convention as dhash
SELECT 'phash', asset_id, CAST(0 AS INTEGER), CAST(1 AS INTEGER),
       CAST(q0 AS INTEGER), CAST(q1 AS INTEGER),
       CAST(q2 AS INTEGER), CAST(q3 AS INTEGER),
       CAST(ch AS INTEGER), -1.0,
       CAST(w AS INTEGER), CAST(h AS INTEGER)
FROM ({phash_sql}) ph_v
UNION ALL
-- gate: pair quality gates replayed closed-form — the asset's pixels
-- are n = w*h*ch CONSECUTIVE residues mod 256, so n_distinct =
-- least(n, 256) and the dominant count = ceil(n/256); caption gates
-- from the doc's normalized whitespace tokens
SELECT 'gate', doc_id,
       CAST(b0 + 2*b1 + 4*b2 + 8*b3 + 16*b4 AS INTEGER),
       CAST(CASE WHEN b0 + b1 + b2 + b3 + b4 = 0
            THEN 1 ELSE 0 END AS INTEGER),
       CAST(w AS INTEGER), CAST(h AS INTEGER),
       CAST(LEAST(n, 256) AS INTEGER),
       CAST(((n + 255) // 256) * 1000 // n AS INTEGER),
       CAST(ch AS INTEGER),
       CAST(ct AS DOUBLE),
       CAST(-1 AS INTEGER), CAST(-1 AS INTEGER)
FROM (
  SELECT doc_id, w, h, ch, n, ct,
         CASE WHEN w < 8 OR h < 8 THEN 1 ELSE 0 END AS b0,
         CASE WHEN 1000 * GREATEST(w, h) > 2000 * LEAST(w, h)
              THEN 1 ELSE 0 END AS b1,
         CASE WHEN LEAST(n, 256) < 16 THEN 1 ELSE 0 END AS b2,
         CASE WHEN ((n + 255) // 256) * 1000 // n >= 900
              THEN 1 ELSE 0 END AS b3,
         CASE WHEN ct < 3 THEN 1 ELSE 0 END AS b4
  FROM (
    SELECT doc_id, w, h, ch, w * h * ch AS n,
           len(list_filter(
             string_split(trim(regexp_replace(lower(COALESCE(text, '')),
                                              '\\s+', ' ', 'g')), ' '),
             x -> x != '')) AS ct
    FROM (
      SELECT doc_id, text,
             4 + doc_id % 13 AS w, 4 + (doc_id * 7) % 11 AS h,
             1 + doc_id % 3 AS ch
      FROM documents
    )
  )
)
UNION ALL
-- capdup: caption LSH propose + Jaccard verify + dHash Hamming confirm;
-- hamming rides frame_idx, jaccard rides pixel_mean, id_b rides
-- pixel_min
SELECT 'capdup', id_a, CAST(hamming AS INTEGER), CAST(-1 AS INTEGER),
       CAST(-1 AS INTEGER), CAST(-1 AS INTEGER), CAST(-1 AS INTEGER),
       CAST(-1 AS INTEGER), CAST(-1 AS INTEGER), CAST(jaccard AS DOUBLE),
       CAST(id_b AS INTEGER), CAST(-1 AS INTEGER)
FROM ({capdup_sql}) cap_v
"""
    return o


def _code_oracle_union() -> str:
    """The code-curation branches appended to the x4 oracle: every
    expected output (stripped text, normalized text, SPDX verdict,
    function chunks, clone groups, near-miss pairs) rebuilt
    CLOSED-FORM from the doc_id salt formulas — the oracle never runs
    a regex over the code, so a hash match proves the engine's real
    regex chains land exactly on the formula form for every salt.
    Only the near-dup replay (minhash over the formula-built
    normalized chunks) reuses the d5 CTE machinery."""

    def tpl_raw(col: str) -> str:
        return (
            f"CASE {col}"
            " WHEN 0 THEN 'def f' || a || e'(x):\\n    y' || a || ' = '"
            " || n || e' # seed\\n    return y' || a || e' + x\\n'"
            " WHEN 1 THEN 'def g' || a || e'(x):\\n    if x > ' || n"
            " || e':\\n        return x\\n    return ' || n || e'\\n'"
            " ELSE 'def h' || a || e'(s):\\n    t' || a"
            " || ' = \"lit // ' || a || e'\"\\n    return t' || a"
            " || e'\\n' END"
        )

    def tpl_strip(col: str) -> str:
        # t0 loses its '# seed' line comment (trailing space kept);
        # t1 has no comments; t2's string literal is protected
        return (
            f"CASE {col}"
            " WHEN 0 THEN 'def f' || a || e'(x):\\n    y' || a || ' = '"
            " || n || e' \\n    return y' || a || e' + x\\n'"
            " WHEN 1 THEN 'def g' || a || e'(x):\\n    if x > ' || n"
            " || e':\\n        return x\\n    return ' || n || e'\\n'"
            " ELSE 'def h' || a || e'(s):\\n    t' || a"
            " || ' = \"lit // ' || a || e'\"\\n    return t' || a"
            " || e'\\n' END"
        )

    def tpl_norm(col: str) -> str:
        # salt-free: identifier/number/string normalization erases a, n
        return (
            f"CASE {col}"
            " WHEN 0 THEN e'def ID(ID):\\n    ID = N \\n"
            "    return ID + ID\\n'"
            " WHEN 1 THEN e'def ID(ID):\\n    if ID > N:\\n"
            "        return ID\\n    return N\\n'"
            " ELSE e'def ID(ID):\\n    ID = S\\n    return ID\\n' END"
        )

    mh = ",\n           ".join(
        f"list_aggregate(list_transform(sh, t -> md5('{i}:' || t)), 'min')"
        for i in range(12)
    )
    bands = "\nUNION ALL\n".join(
        "SELECT cid, {b} AS band_id, md5({expr}) AS band_hash FROM nsig".format(
            b=b,
            expr=" || '|' || ".join(
                f"minhash[{b * 3 + r + 1}]" for r in range(3)
            ),
        )
        for b in range(4)
    )
    return f"""
UNION ALL
SELECT cvariant, cdoc, cfp FROM (
  WITH cfx AS (
    SELECT doc_id,
           CAST(doc_id % 7 AS VARCHAR) AS a,
           CAST(doc_id % 100 AS VARCHAR) AS n,
           doc_id % 5 AS h, doc_id % 3 AS s1,
           (doc_id // 3) % 3 AS s2, (doc_id // 7) % 3 AS e
    FROM documents
  ), craw AS (
    SELECT doc_id, h, e,
      CASE h WHEN 0 THEN e'// SPDX-License-Identifier: MIT\\n'
             WHEN 1 THEN e'# SPDX-License-Identifier: Apache-2.0\\n'
             WHEN 2 THEN e'/* Permission is hereby granted,\\n free of charge */\\n'
             WHEN 3 THEN e'// (c) 2026 Example Corp\\n'
             ELSE '' END AS hdr_r,
      {tpl_raw("s1")} AS fn1_r,
      {tpl_raw("s2")} AS fn2_r,
      {tpl_strip("s1")} AS fn1_s,
      {tpl_strip("s2")} AS fn2_s,
      {tpl_norm("s1")} AS fn1_n,
      {tpl_norm("s2")} AS fn2_n,
      repeat(e'    return 0\\n', CAST(e AS INTEGER)) AS ex_r,
      repeat(e'    return N\\n', CAST(e AS INTEGER)) AS ex_n
    FROM cfx
  ), cdx AS (
    SELECT doc_id, h,
           hdr_r || fn1_r || ex_r || fn2_r AS raw,
           (CASE WHEN h <= 3 THEN e'\\n' ELSE '' END)
             || fn1_s || ex_r || fn2_s AS strp,
           (CASE WHEN h <= 3 THEN e'\\n' ELSE '' END)
             || fn1_n || ex_n || fn2_n AS nrm
    FROM craw
  ), cchunk AS (
    SELECT doc_id, doc_id * 10 AS cid, fn1_n || ex_n AS cn FROM craw
    UNION ALL
    SELECT doc_id, doc_id * 10 + 1, fn2_n FROM craw
  ), ntok AS (
    SELECT cid,
           string_split(trim(regexp_replace(lower(cn), '\\s+', ' ', 'g')),
                        ' ') AS t
    FROM cchunk WHERE doc_id % 20 = 0
  ), nsh AS (
    SELECT cid,
           CASE WHEN len(t) >= 3
                THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                    for i in generate_series(1, len(t) - 2)])
                ELSE [array_to_string(t, ' ')] END AS sh
    FROM ntok
  ), nsig AS (
    SELECT cid, [{mh}] AS minhash FROM nsh
  ), nbands AS (
{bands}
  ), nfb AS (
    SELECT nbands.* FROM nbands
    JOIN (SELECT band_id, band_hash FROM nbands
          GROUP BY 1, 2 HAVING COUNT(*) <= 1024) ok
    USING (band_id, band_hash)
  ), ncand AS (
    SELECT DISTINCT x.cid AS id_a, y.cid AS id_b
    FROM nfb x JOIN nfb y USING (band_id, band_hash)
    WHERE x.cid < y.cid
  ), njac AS (
    SELECT id_a, id_b, jaccard FROM (
      SELECT id_a, id_b,
             ROUND(len(list_intersect(x.sh, y.sh))::DOUBLE
                   / len(list_distinct(x.sh || y.sh)), 6) AS jaccard
      FROM ncand JOIN nsh x ON x.cid = id_a JOIN nsh y ON y.cid = id_b
    ) WHERE jaccard >= 0.5
  )
  SELECT 'codespdx' AS cvariant, doc_id AS cdoc,
         CASE h WHEN 0 THEN 'MIT|mit|1'
                WHEN 1 THEN 'Apache-2.0|apache|1'
                WHEN 2 THEN '-|mit|1'
                ELSE '-|none|0' END AS cfp
  FROM craw
  UNION ALL
  SELECT 'codestrip', doc_id,
         printf('%d:%d:%s', length(raw), length(raw) - length(strp),
                md5(strp))
  FROM cdx
  UNION ALL
  SELECT 'codenorm', doc_id, md5(nrm) FROM cdx
  UNION ALL
  SELECT 'codefn', cid, md5(cn) FROM cchunk
  UNION ALL
  SELECT 'codeclone', MIN(cid),
         md5(cn) || ':' || CAST(COUNT(*) AS VARCHAR)
  FROM cchunk GROUP BY cn
  UNION ALL
  SELECT 'codenear', id_a, printf('%d:%.6f', id_b, jaccard) FROM njac
) code_v
"""


def _text_oracles() -> dict[str, str]:
    """DuckDB oracles mirroring operators/text.py expression-for-
    expression (same normalization, same RE2-safe regexes, same md5
    window hashing), so stats / language calls / fingerprints match."""
    from kafkastreamsinteractivequeries_spark.operators.text import (
        BPE_PATTERN,
        PUNCT_CLASS,
        STOPWORDS,
    )

    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

    # mojibake-repair replay: the SAME import-generated pair table as
    # repair_mojibake_col, rendered as a nested replace() chain (pair
    # strings are all non-ASCII — no quote escaping needed), plus the
    # deterministic corrupted salts built by the same mis-decode helper
    from kafkastreamsinteractivequeries_spark.operators.text import (
        MOJIBAKE_PAIRS,
        _mojibake_of,
    )

    def _moji_chain_sql(expr: str) -> str:
        for moji, fixed in MOJIBAKE_PAIRS:
            expr = f"replace({expr}, '{moji}', '{fixed}')"
        return expr

    _moji_sfx0 = _mojibake_of(" café résumé naïve")
    _moji_sfx1 = _mojibake_of(" “quoted” — dash €9 …")
    # NFC salts — explicit escapes, decomposed on purpose (must match
    # the Spark branch byte-for-byte)
    _nfc_sfx0 = " café Åb"
    _nfc_sfx1 = " ẋ̣y"

    def stop_hits(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        return f"len(list_filter(toks, t -> list_contains([{words}], t)))"

    t_cte = f"""
WITH t AS (
  SELECT doc_id, text, {norm} AS norm, string_split({norm}, ' ') AS toks
  FROM documents
)
"""

    langs = list(STOPWORDS)
    lang_case = ["WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'"]
    for i, lang in enumerate(langs):
        conds = [f"hits_{lang} > 0"]
        for j, other in enumerate(langs):
            if other == lang:
                continue
            op = ">=" if j > i else ">"
            conds.append(f"hits_{lang} {op} hits_{other}")
        lang_case.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    # hex→int without conv(): digit-by-digit strtol (DuckDB has no conv)
    hex6 = (
        "CAST(list_sum(list_transform(generate_series(1, 6), i -> "
        "(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)"
        " * (16 ** (6 - i)))) AS BIGINT) % 100"
    )

    o: dict[str, str] = {}
    # x1 = the one-pass doc profile: stats/quality (text_stats) ⊕
    # stopword-profile LID (language_id) ⊕ md5-mod split assignment
    # (deterministic_split), mirroring text.doc_profile.
    o["x1_text_stats"] = (
        t_cte
        + f""", m AS (
  SELECT doc_id, text, norm, toks,
         len(toks) AS n_tokens,
         length(norm) AS n_chars,
         length(norm) - length(regexp_replace(norm, '{PUNCT_CLASS}', '', 'g')) AS punct,
         length(norm) - length(regexp_replace(norm, '[0-9]', '', 'g')) AS digits,
         {", ".join(f"{stop_hits(lang)} AS stop_{lang}" for lang in langs)}
  FROM t
), r AS (
  SELECT doc_id, text, norm, n_tokens, n_chars,
         {", ".join(f"stop_{lang}" for lang in langs)},
         ROUND(punct::DOUBLE / NULLIF(n_chars, 0), 6) AS punct_ratio,
         ROUND(digits::DOUBLE / NULLIF(n_chars, 0), 6) AS digit_ratio,
         ROUND(stop_en::DOUBLE / NULLIF(n_tokens, 0), 6) AS stop_ratio,
         ROUND(length(regexp_replace(norm, ' ', '', 'g'))::DOUBLE
               / NULLIF(n_tokens, 0), 6) AS avg_token_len
  FROM m
), h AS (
  SELECT r.*, {", ".join(f"stop_{lang} AS hits_{lang}" for lang in langs)}
  FROM r
)
SELECT doc_id,
       CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(n_chars AS INTEGER) AS n_chars_norm,
       avg_token_len,
       punct_ratio,
       digit_ratio,
       stop_ratio AS stopword_ratio,
       COALESCE(ROUND(
           0.4 * LEAST(n_tokens::DOUBLE / 100.0, 1.0)
           + 0.2 * (1.0 - LEAST(punct_ratio * 5.0, 1.0))
           + 0.2 * (1.0 - LEAST(digit_ratio * 5.0, 1.0))
           + 0.2 * LEAST(stop_ratio * 3.0, 1.0), 6), 0.0) AS quality_score,
       CAST(length(regexp_replace(norm, '[^a-z]', '', 'g')) AS INTEGER) AS n_letters,
       {", ".join(f"CAST(hits_{lang} AS INTEGER) AS hits_{lang}" for lang in langs)},
       CASE {' '.join(lang_case)} ELSE 'unknown' END AS lang_pred,
       CAST({hex6} AS INTEGER) AS bucket,
       CASE WHEN {hex6} < 90 THEN 'train'
            WHEN {hex6} < 95 THEN 'val'
            ELSE 'test' END AS split,
       CAST(len(regexp_extract_all(norm, '{BPE_PATTERN}')) AS INTEGER) AS bpe_tokens
FROM h
"""
    )
    # x6 — exact percentiles ⊕ the fixed-bin histogram estimates
    # (64 bins of width 8 over [0, 512), linear interpolation inside
    # the first bin whose cumulative count reaches q·N — identical
    # arithmetic to text.length_histogram_quantiles).
    _hq = []
    for _q in (25, 50, 75, 95):
        _qd = f"CAST({_q / 100!r} AS DOUBLE)"
        _hq.append(
            f"""((SELECT MIN(struct_pack(b := bin, e := ROUND(
            bin * CAST(8.0 AS DOUBLE) + CAST(8.0 AS DOUBLE)
            * (({_qd} * total) - (cum - cnt)) / cnt, 4)))
       FROM hcum WHERE cum >= {_qd} * total)).e AS hp{_q}"""
        )
    # x6 union: 'length' metric rows (the old single wide row unpivoted)
    # ⊕ 'constraint' (quality.check_constraints rule suite over orders,
    # one row per rule) ⊕ 'skew' (top-20 l_suppkey skew report).
    # 3 GD rounds + the frozen-model scoring pass, one CTE block per
    # round — qw{t} is the full weight table after round t (FULL OUTER
    # with the previous round keeps buckets whose gradient is absent).
    _x6_qlr_iters = "".join(
        f""",
qs{t} AS MATERIALIZED (
  SELECT f.doc_id, ROUND(ROUND(SUM(f.x * COALESCE(w.w, 0)), 12), 6) AS s
  FROM qfe f LEFT JOIN qw{t - 1} w USING (bucket) GROUP BY f.doc_id
),
qe{t} AS MATERIALIZED (
  SELECT s.doc_id, ROUND(ROUND(1.0 / (1.0 + exp(-s.s)), 12), 6) - l.y AS e
  FROM qs{t} s JOIN qlab l USING (doc_id)
),
qg{t} AS (
  SELECT f.bucket,
         ROUND(ROUND(SUM(f.x * e.e) / (SELECT nd FROM qnd), 15), 9) AS g
  FROM qfe f JOIN qe{t} e USING (doc_id) GROUP BY f.bucket
),
qw{t} AS MATERIALIZED (
  SELECT COALESCE(g.bucket, w.bucket) AS bucket,
         ROUND(ROUND(COALESCE(w.w, 0) - 1.0 * COALESCE(g.g, 0), 15), 9) AS w
  FROM qg{t} g FULL OUTER JOIN qw{t - 1} w ON g.bucket = w.bucket
)"""
        for t in range(1, 4)
    ) + """,
qsf AS MATERIALIZED (
  -- fixed-point dot product (pico-unit longs): summation-order-proof,
  -- mirrors quality_classifier_score
  SELECT f.doc_id,
         SUM(CAST(ROUND(f.x * COALESCE(w.w, 0) * 1e12) AS BIGINT))
           / 1e12 AS s
  FROM qfe f LEFT JOIN qw3 w USING (bucket) GROUP BY f.doc_id
)"""
    _x6_metrics = [
        "n_docs", "min_tokens", "p25", "p50", "p75", "p95",
        "max_tokens", "mean_tokens", "hp25", "hp50", "hp75", "hp95",
    ]
    _x6_length_rows = "\nUNION ALL\n".join(
        f"SELECT 'length' AS variant, '{m}' AS name, "
        f"ROUND(CAST({m} AS DOUBLE), 6) AS value, "
        f"CAST(-1 AS BIGINT) AS n, CAST(-1 AS BIGINT) AS total FROM wide"
        for m in _x6_metrics
    )
    _x6_scalar_rules = [
        ("not_null:o_orderkey", "o_orderkey IS NULL"),
        (
            "range:o_totalprice",
            "o_totalprice IS NULL OR NOT (o_totalprice BETWEEN 0.0 AND 300000.0)",
        ),
        (
            "in_set:o_orderstatus",
            "o_orderstatus IS NULL OR o_orderstatus NOT IN ('O', 'F')",
        ),
        (
            "matches:o_orderpriority",
            "o_orderpriority IS NULL OR NOT regexp_matches("
            "o_orderpriority, '^(?:[1-5]-[A-Z]+)$')",
        ),
        ("expr:key_not_7mult", "NOT COALESCE(o_orderkey % 7 != 0, FALSE)"),
    ]
    _x6_rule_aggs = ",\n         ".join(
        f"SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS v{i}"
        for i, (_, cond) in enumerate(_x6_scalar_rules)
    )
    _x6_rule_rows = "\nUNION ALL\n".join(
        f"SELECT 'constraint', '{label}', "
        f"CASE WHEN v{i} = 0 THEN 1.0 ELSE 0.0 END, "
        f"CAST(v{i} AS BIGINT), CAST(ototal AS BIGINT) FROM ocnt"
        for i, (label, _) in enumerate(_x6_scalar_rules)
    )
    _x6_uniq_rows = "\nUNION ALL\n".join(
        f"""SELECT 'constraint', 'unique:{c}',
       CASE WHEN v = 0 THEN 1.0 ELSE 0.0 END, CAST(v AS BIGINT),
       CAST(tot AS BIGINT)
FROM (
  SELECT COALESCE(SUM(CASE WHEN cn > 1 THEN cn END), 0) AS v,
         COALESCE(SUM(cn), 0) AS tot
  FROM (SELECT COUNT(*) AS cn FROM orders GROUP BY {c})
)"""
        for c in ("o_orderkey", "o_custkey")
    )
    o["x6_quality_gates"] = (
        t_cte
        + f""", zqcnt AS MATERIALIZED (
  -- 'qsketch' replay: the deterministic weight-stratified hash
  -- sampler (sketches.hashed_quantile_sketch) in closed form —
  -- distinct length counts, binary-digit entries, mix_hash32 keep
  -- slice (the HLL oracle's xorshift chain), inverse-probability
  -- weights, integer cum-threshold quantiles
  SELECT CAST(len(toks) AS BIGINT) AS value, CAST(COUNT(*) AS BIGINT) AS c
  FROM t GROUP BY 1
), zqn AS (
  SELECT GREATEST(0, (length(bin(CAST(SUM(c) AS BIGINT))) - 1) - 8) AS s
  FROM zqcnt
), zqbits AS (
  SELECT value, c, s, j
  FROM zqcnt CROSS JOIN zqn, unnest(generate_series(0, 40)) AS gj(j)
  WHERE CAST(FLOOR(c / power(2, j)) AS BIGINT) % 2 = 1
), zqh AS (
  SELECT value, s, j, xor(h4, h4 // 131072) AS h
  FROM (
    SELECT *, (h3 * 69621) % 4294967296 AS h4 FROM (
      SELECT *, xor(h2, h2 // 8192) AS h3 FROM (
        SELECT *, (h1 * 16807) % 4294967296 AS h2 FROM (
          SELECT *, xor(h0, h0 // 65536) AS h1 FROM (
            SELECT value, s, j,
                   (((value * 97 + j) % 4294967296) * 48271) % 4294967296 AS h0
            FROM zqbits
          )
        )
      )
    )
  )
), zqsk AS MATERIALIZED (
  SELECT value,
         CAST(SUM(CASE WHEN j >= s THEN CAST(power(2, j) AS BIGINT)
                       ELSE CAST(power(2, s) AS BIGINT) END) AS BIGINT)
           AS weight
  FROM zqh
  WHERE j >= s
     OR h % CAST(power(2, GREATEST(s - j, 1)) AS BIGINT) = 0
  GROUP BY value
), zqcum AS (
  SELECT value,
         SUM(weight) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(weight) OVER () AS wtot,
         COUNT(*) OVER () AS nrows
  FROM zqsk
), hbins AS (
  SELECT CAST(LEAST(GREATEST(FLOOR(CAST(len(toks) AS DOUBLE) / 8.0), 0), 63)
              AS INTEGER) AS bin,
         COUNT(*) AS cnt
  FROM t GROUP BY 1
), hcum AS (
  SELECT bin, cnt,
         SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER () AS total
  FROM hbins
), wide AS (
  SELECT COUNT(*) AS n_docs,
         CAST(MIN(len(toks)) AS INTEGER) AS min_tokens,
         quantile_cont(len(toks), 0.25) AS p25,
         quantile_cont(len(toks), 0.5) AS p50,
         quantile_cont(len(toks), 0.75) AS p75,
         quantile_cont(len(toks), 0.95) AS p95,
         CAST(MAX(len(toks)) AS INTEGER) AS max_tokens,
         ROUND(AVG(len(toks)), 4) AS mean_tokens,
         {", ".join(_hq)}
  FROM t
), ocnt AS (
  SELECT COUNT(*) AS ototal,
         {_x6_rule_aggs}
  FROM orders
), sk AS (
  SELECT l_suppkey, COUNT(*) AS n_rows FROM lineitem GROUP BY l_suppkey
), sktot AS (SELECT COUNT(*) AS total FROM lineitem),
sktop AS (
  SELECT l_suppkey, n_rows,
         ROW_NUMBER() OVER (ORDER BY n_rows DESC, l_suppkey) AS rn
  FROM sk
),
dsg AS MATERIALIZED (
  -- curation._hashed_gram_stream replay: unigrams + bigrams, bucket =
  -- low 3 hex digits of md5 (strtol; DuckDB has no conv()) mod 4096
  SELECT doc_id,
         CAST(list_sum(list_transform(generate_series(1, 3), j ->
             (strpos('0123456789abcdef', substr(md5(gram), 29 + j, 1)) - 1)
             * (16 ** (3 - j)))) AS BIGINT) % 4096 AS bucket
  FROM (
    SELECT doc_id, unnest(list_concat(toks,
        CASE WHEN len(toks) >= 2
             THEN [array_to_string(toks[i:i+1], ' ')
                   for i in generate_series(1, len(toks) - 1)]
             ELSE [] END)) AS gram
    FROM t)
),
dtc AS (
  SELECT bucket, COUNT(*) AS ct
  FROM dsg JOIN documents USING (doc_id) WHERE lang = 'en'
  GROUP BY bucket
),
drc AS (SELECT bucket, COUNT(*) AS cr FROM dsg GROUP BY bucket),
dtot AS (
  SELECT CAST((SELECT SUM(ct) FROM dtc) AS BIGINT) AS nt,
         CAST((SELECT SUM(cr) FROM drc) AS BIGINT) AS nr
),
dlam AS (
  SELECT COALESCE(dtc.bucket, drc.bucket) AS bucket,
         ln((COALESCE(ct, 0) + 1) / (nt + 4096.0))
           - ln((COALESCE(cr, 0) + 1) / (nr + 4096.0)) AS lam
  FROM dtc FULL OUTER JOIN drc ON dtc.bucket = drc.bucket CROSS JOIN dtot
),
dw AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS n_grams, ROUND(SUM(lam), 6) AS log_weight
  FROM dsg JOIN dlam USING (bucket) GROUP BY doc_id
),
dtop AS (SELECT doc_id FROM dw ORDER BY log_weight DESC, doc_id LIMIT 40),
-- quality_classifier_train replay: L2-normalized hashed-gram features
-- (bias at bucket -1), then 3 full-batch logistic-GD rounds with the
-- engine's exact rounding ladder (score 6, sigmoid 6, gradient 9,
-- weights 8) so the trajectory is bit-replayable, as with the Lloyd
-- and BPE oracles.  Reuses the dsg gram stream (same 4096 buckets).
qcnt AS MATERIALIZED (
  SELECT doc_id, bucket, COUNT(*) AS c FROM dsg GROUP BY 1, 2
),
qfe AS MATERIALIZED (
  SELECT qcnt.doc_id, bucket, ROUND(CAST(c AS DOUBLE) / sqrt(n2), 6) AS x
  FROM qcnt JOIN (
    SELECT doc_id, CAST(SUM(c * c) AS DOUBLE) AS n2 FROM qcnt GROUP BY doc_id
  ) qn2 ON qcnt.doc_id = qn2.doc_id
  UNION ALL
  SELECT doc_id, -1 AS bucket, 1.0 AS x FROM documents
),
qlab AS MATERIALIZED (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents
),
qnd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents),
qw0 AS (SELECT CAST(NULL AS INTEGER) AS bucket, CAST(NULL AS DOUBLE) AS w WHERE FALSE)
{_x6_qlr_iters}
{_x6_length_rows}
UNION ALL
{_x6_rule_rows}
UNION ALL
{_x6_uniq_rows}
UNION ALL
SELECT 'skew', CAST(l_suppkey AS VARCHAR),
       ROUND(n_rows / CAST(total AS DOUBLE), 6), CAST(n_rows AS BIGINT),
       CAST(total AS BIGINT)
FROM sktop CROSS JOIN sktot WHERE rn <= 20
UNION ALL
SELECT 'salted', CAST(s_nationkey AS VARCHAR),
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2),
       CAST(COUNT(*) AS BIGINT), CAST(-1 AS BIGINT)
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
UNION ALL
SELECT 'dsir', CAST(doc_id AS VARCHAR), log_weight,
       CAST(n_grams AS BIGINT),
       CAST(CASE WHEN doc_id IN (SELECT doc_id FROM dtop)
                 THEN 1 ELSE 0 END AS BIGINT)
FROM dw
UNION ALL
SELECT 'qlrw', CAST(bucket AS VARCHAR), w,
       CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
FROM qw3
UNION ALL
-- logit, not sigmoid: exp() is libm-dependent (sf0.1 knife edge);
-- score >= 0 is exactly prob >= 0.5
SELECT 'qlr', CAST(qsf.doc_id AS VARCHAR),
       s,
       CAST(y AS BIGINT),
       CAST(CASE WHEN s >= 0 THEN 1 ELSE 0 END AS BIGINT)
FROM qsf JOIN qlab ON qsf.doc_id = qlab.doc_id
UNION ALL
-- Gopher rule bundle (Rae et al. 2112.11446): per-doc failure bitmask
SELECT 'gopher', CAST(doc_id AS VARCHAR), CAST(mask AS DOUBLE),
       CAST(wc AS BIGINT), CAST(CASE WHEN mask = 0 THEN 1 ELSE 0 END AS BIGINT)
FROM (
  SELECT doc_id, wc,
     CASE WHEN wc IS NULL THEN 63 ELSE
     (CASE WHEN wc < 20 OR wc > 100000 THEN 1 ELSE 0 END
    + CASE WHEN mwl < 3.0 OR mwl > 10.0 THEN 2 ELSE 0 END
    + CASE WHEN pr > 0.1 THEN 4 ELSE 0 END
    + CASE WHEN af < 0.8 THEN 8 ELSE 0 END
    + CASE WHEN stops = 0 THEN 16 ELSE 0 END
    + CASE WHEN ts > 0.2 THEN 32 ELSE 0 END) END AS mask
  FROM (
    SELECT doc_id, len(toks) AS wc,
      list_sum(list_transform(toks, tk -> length(tk)))::DOUBLE / len(toks) AS mwl,
      (length(norm) - length(regexp_replace(norm, '[.,;:!?]', '', 'g')))::DOUBLE
        / len(toks) AS pr,
      len(list_filter(toks, tk -> regexp_matches(tk, '[a-z]')))::DOUBLE
        / len(toks) AS af,
      len(list_intersect(list_distinct(toks),
          ['the','a','of','to','and','in','is','it','that','for'])) AS stops,
      ROUND((SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM unnest(toks) AS u(w)
                                 GROUP BY w))::DOUBLE / len(toks), 6) AS ts
    FROM t
  )
)
UNION ALL
-- C4 bad-words gate: exact-token blocklist over the normalized tokens
SELECT 'blocklist', CAST(doc_id AS VARCHAR),
       CASE WHEN text IS NULL OR len(toks) = 0 THEN 0.0
            ELSE ROUND(len(list_filter(toks, tk -> tk IN ('dup', 'legacy')))
                       / CAST(len(toks) AS DOUBLE), 6) END,
       CAST(CASE WHEN text IS NULL THEN 0
            ELSE len(list_filter(toks, tk -> tk IN ('dup', 'legacy'))) END AS BIGINT),
       CAST(CASE WHEN text IS NOT NULL
                  AND len(list_filter(toks, tk -> tk IN ('dup', 'legacy'))) = 0
                 THEN 1 ELSE 0 END AS BIGINT)
FROM t
UNION ALL
-- signals: the one-pass per-doc quality-signal EXPORT row
-- (text.quality_signal_export) — the same gopher + blocklist
-- arithmetic packed per doc, so the hash verifies every signal value
-- (n_chars, mean word len, top share, blocked frac/count, mask, pass
-- bits) of the wide row the curation run would land for offline
-- threshold tuning
SELECT 'signals',
       printf('%d:%d:%.6f:%.6f:%.6f:%d', doc_id, nchars,
              ROUND(mwl, 6), ts, bf, nb),
       CAST(mask AS DOUBLE),
       CAST(wc AS BIGINT),
       CAST((CASE WHEN mask = 0 THEN 1 ELSE 0 END)
            + 2 * (CASE WHEN hastext AND nb = 0 THEN 1 ELSE 0 END)
            AS BIGINT)
FROM (
  SELECT doc_id, nchars, wc, mwl, ts, bf, nb, hastext,
     CASE WHEN wc IS NULL THEN 63 ELSE
     (CASE WHEN wc < 20 OR wc > 100000 THEN 1 ELSE 0 END
    + CASE WHEN mwl < 3.0 OR mwl > 10.0 THEN 2 ELSE 0 END
    + CASE WHEN pr > 0.1 THEN 4 ELSE 0 END
    + CASE WHEN af < 0.8 THEN 8 ELSE 0 END
    + CASE WHEN stops = 0 THEN 16 ELSE 0 END
    + CASE WHEN ts > 0.2 THEN 32 ELSE 0 END) END AS mask
  FROM (
    SELECT doc_id,
      COALESCE(length(text), 0) AS nchars,
      text IS NOT NULL AS hastext,
      len(toks) AS wc,
      list_sum(list_transform(toks, tk -> length(tk)))::DOUBLE / len(toks) AS mwl,
      (length(norm) - length(regexp_replace(norm, '[.,;:!?]', '', 'g')))::DOUBLE
        / len(toks) AS pr,
      len(list_filter(toks, tk -> regexp_matches(tk, '[a-z]')))::DOUBLE
        / len(toks) AS af,
      len(list_intersect(list_distinct(toks),
          ['the','a','of','to','and','in','is','it','that','for'])) AS stops,
      ROUND((SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM unnest(toks) AS u(w)
                                 GROUP BY w))::DOUBLE / len(toks), 6) AS ts,
      CASE WHEN text IS NULL OR len(toks) = 0 THEN 0.0
           ELSE ROUND(len(list_filter(toks, tk -> tk IN ('dup', 'legacy')))
                      / CAST(len(toks) AS DOUBLE), 6) END AS bf,
      CASE WHEN text IS NULL THEN 0
           ELSE len(list_filter(toks, tk -> tk IN ('dup', 'legacy'))) END AS nb
    FROM t
  )
)
UNION ALL
-- assert_constraints gate decisions: the gate raises iff any rule in
-- its set fails on the data (value = raised, n = failing-rule count)
SELECT 'gate', 'gate_pass',
       CASE WHEN nf > 0 THEN 1.0 ELSE 0.0 END,
       CAST(nf AS BIGINT), CAST(2 AS BIGINT)
FROM (
  SELECT (CASE WHEN EXISTS(SELECT 1 FROM orders WHERE o_orderkey IS NULL)
               THEN 1 ELSE 0 END)
       + (CASE WHEN EXISTS(SELECT 1 FROM orders
                           GROUP BY o_orderkey HAVING COUNT(*) > 1)
               THEN 1 ELSE 0 END) AS nf
)
UNION ALL
SELECT 'gate', 'gate_raise',
       CASE WHEN nf > 0 THEN 1.0 ELSE 0.0 END,
       CAST(nf AS BIGINT), CAST(2 AS BIGINT)
FROM (
  SELECT (CASE WHEN EXISTS(SELECT 1 FROM orders WHERE o_orderkey IS NULL)
               THEN 1 ELSE 0 END)
       + (CASE WHEN EXISTS(SELECT 1 FROM orders
                           WHERE NOT (o_orderkey % 7 != 0))
               THEN 1 ELSE 0 END) AS nf
)
UNION ALL
-- html strip replay: salted wrappers -> block/tag/entity/whitespace
-- chain; md5 of the cleaned text rides the name column
SELECT 'html', CAST(doc_id AS VARCHAR) || ':' || md5(COALESCE(clean, '')),
       CAST(CASE WHEN length(raw) > 0
                 THEN (length(raw) - length(clean)) * 1000000 // length(raw)
                 ELSE 0 END AS DOUBLE),
       CAST(COALESCE(len(regexp_extract_all(raw, '<[^>]+>')), 0) AS BIGINT),
       CAST(COALESCE(length(clean), 0) AS BIGINT)
FROM (
  SELECT doc_id, raw,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(raw,
                '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
              '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
            '(?s)<!--.*?-->', ' ', 'g'),
          '<[^>]+>', ' ', 'g'),
        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        '&#39;', ''''), '&amp;', '&'),
      '[ 	

]+', ' ', 'g')) AS clean
  FROM (
    SELECT doc_id,
      CASE CAST(doc_id % 3 AS INTEGER)
        WHEN 0 THEN '<html><body><h1>T</h1><p>' || text
                    || '</p><script>var x = 1 < 2;</script>'
                    || '<!-- c --></body></html>'
        WHEN 1 THEN '<div class="a">' || text
                    || ' &amp; more &lt;tokens&gt;</div>'
        ELSE text END AS raw
    FROM documents
  )
)
UNION ALL
-- mojibake repair replay: the identical replace chain (generated from
-- the SAME MOJIBAKE_PAIRS table at import) over the same corrupted
-- salts; md5 of the repaired text rides the name column
SELECT 'mojibake', CAST(doc_id AS VARCHAR) || ':' || md5(COALESCE(rep, '')),
       CAST(COALESCE(length(mraw) - length(rep), 0) AS DOUBLE),
       CAST(COALESCE(length(rep), 0) AS BIGINT),
       CAST(CASE WHEN COALESCE(length(mraw) - length(rep), 0) > 0
                 THEN 1 ELSE 0 END AS BIGINT)
FROM (
  SELECT doc_id, mraw, {_moji_chain_sql("mraw")} AS rep
  FROM (
    SELECT doc_id,
      text || CASE CAST(doc_id % 3 AS INTEGER)
        WHEN 0 THEN '{_moji_sfx0}'
        WHEN 1 THEN '{_moji_sfx1}'
        ELSE '' END AS mraw
    FROM documents WHERE doc_id % 5 = 0
  )
)
UNION ALL
-- NFC replay: DuckDB's nfc_normalize against the engine's Arrow
-- unicodedata pass (both UAX #15); md5 of the canonical text rides
-- the name, lengths are code points in both engines
SELECT 'nfc', CAST(doc_id AS VARCHAR) || ':' || md5(COALESCE(nfcv, '')),
       CAST(COALESCE(length(nraw) - length(nfcv), 0) AS DOUBLE),
       CAST(COALESCE(length(nfcv), 0) AS BIGINT),
       CAST(CASE WHEN nraw IS DISTINCT FROM nfcv THEN 1 ELSE 0 END AS BIGINT)
FROM (
  SELECT doc_id, nraw, nfc_normalize(nraw) AS nfcv
  FROM (
    SELECT doc_id,
      text || CASE CAST(doc_id % 3 AS INTEGER)
        WHEN 0 THEN '{_nfc_sfx0}'
        WHEN 1 THEN '{_nfc_sfx1}'
        ELSE '' END AS nraw
    FROM documents WHERE doc_id % 7 = 0
  )
)
UNION ALL
-- one replay serves the batch build ('qsketch') AND the landed
-- streaming store ('qstream'): a single availableNow micro-batch
-- lands the one-shot sketch bit-identically
SELECT qv.qvariant, 'p' || CAST(pp AS VARCHAR), CAST(MIN(value) AS DOUBLE),
       CAST(MIN(wtot) AS BIGINT), CAST(MIN(nrows) AS BIGINT)
FROM zqcum CROSS JOIN (VALUES (25), (50), (75), (90)) AS ps(pp)
CROSS JOIN (VALUES ('qsketch'), ('qstream')) AS qv(qvariant)
WHERE cum * 100 >= pp * wtot
GROUP BY qv.qvariant, pp
"""
    )
    # Tagged union mirroring _x7: raw LM scores ('score') ⊕ the CCNet
    # perplexity terciles ('ccnet').  lmsc is MATERIALIZED — both
    # branches and the threshold aggregate read it; thresholds are the
    # exact terciles of the rounded-6 scores (identical inputs on both
    # engines), ppl is exp(-score) rounded to 2 (coarse on purpose).
    o["x7_bigram_logprob"] = (
        t_cte
        + """, base AS (
  SELECT doc_id, toks FROM t WHERE len(toks) >= 2
), pairs AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM base, unnest(generate_series(1, len(toks) - 1)) AS g(i)
), bc AS (
  SELECT w1, w2, COUNT(*) AS cb FROM pairs GROUP BY 1, 2
), uc AS (
  SELECT w1, COUNT(*) AS cu FROM pairs GROUP BY 1
), v AS (
  SELECT COUNT(DISTINCT tok) AS v FROM (
    SELECT w1 AS tok FROM pairs UNION ALL SELECT w2 FROM pairs
  )
), lmsc AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         ROUND(AVG(ln((cb + 1.0) / (cu + 1.0 * v))), 6) AS avg_logprob
  FROM pairs JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN v
  GROUP BY doc_id
), th AS (
  SELECT ROUND(quantile_cont(avg_logprob, 1.0/3), 6) AS t1,
         ROUND(quantile_cont(avg_logprob, 2.0/3), 6) AS t2
  FROM lmsc
), ktris AS (
  SELECT doc_id, toks[i] AS u, toks[i + 1] AS v, toks[i + 2] AS w
  FROM t, unnest(generate_series(1, len(toks) - 2)) AS g(i)
  WHERE len(toks) >= 3
), kc3 AS MATERIALIZED (
  SELECT u, v, w, CAST(COUNT(*) AS BIGINT) AS c3 FROM ktris GROUP BY 1, 2, 3
), kctx AS (
  SELECT u, v, CAST(SUM(c3) AS BIGINT) AS cuv,
         CAST(COUNT(*) AS BIGINT) AS n1p_uv
  FROM kc3 GROUP BY 1, 2
), kcont AS MATERIALIZED (
  SELECT v, w, CAST(COUNT(*) AS BIGINT) AS nvw FROM kc3 GROUP BY 1, 2
), kmid AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS nv FROM kc3 GROUP BY 1
), kfan AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS fv FROM kcont GROUP BY 1
), kuni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS nw FROM kcont GROUP BY 1
), ktot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM kcont
)
SELECT 'score' AS variant, doc_id, n_bigrams, avg_logprob AS score,
       '' AS bucket
FROM lmsc
UNION ALL
SELECT 'ccnet', doc_id, n_bigrams, ROUND(exp(-avg_logprob), 2),
       CASE WHEN avg_logprob >= t2 THEN 'head'
            WHEN avg_logprob >= t1 THEN 'middle'
            ELSE 'tail' END
FROM lmsc CROSS JOIN th
UNION ALL
-- kn3: interpolated Kneser-Ney trigram replay (D = 1/2, integer
-- micro-units, lower orders from trigram-type continuation counts) —
-- every quantity non-negative, so // mirrors Spark's div exactly
SELECT 'kn3', doc_id, CAST(COUNT(*) AS BIGINT),
       CAST(CAST(SUM(p3) AS BIGINT) // COUNT(*) AS DOUBLE),
       CAST(CAST(SUM(p3) AS BIGINT) AS VARCHAR)
FROM (
  SELECT doc_id,
         ((1000000 * greatest(2 * c3 - 1, 0)) // (2 * cuv))
         + ((n1p_uv * p2) // (2 * cuv)) AS p3
  FROM (
    SELECT tr.doc_id, kc.c3, kx.cuv, kx.n1p_uv,
           ((1000000 * greatest(2 * kv.nvw - 1, 0)) // (2 * km.nv))
           + ((kf.fv * ((1000000 * ku.nw) // kt.tt)) // (2 * km.nv)) AS p2
    FROM ktris tr
    JOIN kc3 kc USING (u, v, w)
    JOIN kctx kx USING (u, v)
    JOIN kcont kv USING (v, w)
    JOIN kmid km USING (v)
    JOIN kfan kf USING (v)
    JOIN kuni ku USING (w)
    CROSS JOIN ktot kt
  )
)
GROUP BY doc_id
"""
    )
    # x4 union: the doc-min fingerprint ('docmin', one row per doc,
    # window=8 grams of the whole doc) ⊕ the FULL Schleimer-et-al.
    # winnowing selection ('full', k=5 token grams, window=4 sliding
    # min, one row per selected fingerprint) — same (doc_id, fp) shape,
    # one 50-cap report slot.
    # dupspan/dupfrac mirror dedup.duplicate_span_occurrences/_stats:
    # corpus-repeated 8-gram positions, then per-doc interval merge
    # (span starts where pos exceeds the running max end) — same
    # windows, same %-formatting, exact string match.
    dup_cte = """, dg AS (
  SELECT doc_id, s.g.pos AS pos, s.g.pos + 8 AS end_pos,
         s.g.gram AS gram, len(toks) AS n_toks
  FROM t, unnest(CASE WHEN len(toks) >= 8 THEN
      [{'pos': i, 'gram': md5(array_to_string(toks[i:i+7], ' '))}
       for i in generate_series(1, len(toks) - 7)]
      ELSE [] END) AS s(g)
), docc AS (
  SELECT * FROM (
    SELECT dg.*, COUNT(*) OVER (PARTITION BY gram) AS gram_count FROM dg
  ) WHERE gram_count >= 2
), dspan AS (
  SELECT doc_id, pos, end_pos, n_toks,
         CASE WHEN pos > COALESCE(MAX(end_pos) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS is_start
  FROM docc
), disl AS (
  SELECT doc_id, pos, end_pos, n_toks,
         SUM(is_start) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM dspan
), dper AS (
  SELECT doc_id, island, COUNT(*) AS n_grams,
         MAX(end_pos) - MIN(pos) AS span_tokens,
         MIN(pos) AS span_s, MAX(end_pos) AS span_e,
         ANY_VALUE(n_toks) AS n_toks
  FROM disl GROUP BY doc_id, island
), dsl AS (
  SELECT doc_id, list({'s': span_s, 'e': span_e}) AS spans
  FROM dper GROUP BY doc_id
), dtrim AS (
  SELECT t.doc_id,
         len(toks) AS n_toks,
         [toks[i] for i in generate_series(1, len(toks))
          if len(list_filter(COALESCE(spans, []),
                             sp -> i >= sp.s AND i < sp.e)) = 0] AS kept
  FROM t LEFT JOIN dsl ON t.doc_id = dsl.doc_id
), ltok AS (
  -- linededup works on RAW text (the Spark branch splits un-normalized)
  SELECT doc_id, string_split(text, ' ') AS rtoks FROM documents
), lined AS (
  SELECT doc_id,
         array_to_string(list_transform(
             generate_series(0, CAST((len(rtoks) - 1) // 6 AS INT)),
             i -> array_to_string(rtoks[i*6+1 : i*6+6], ' ')), chr(10)) AS ltext
  FROM ltok
), lx AS (
  SELECT doc_id, g.i AS pos, string_split(ltext, chr(10))[g.i + 1] AS line
  FROM lined,
       unnest(generate_series(0, len(string_split(ltext, chr(10))) - 1)) AS g(i)
), lrk AS (
  SELECT doc_id, pos, line,
         ROW_NUMBER() OVER (PARTITION BY md5(line) ORDER BY doc_id, pos) AS rk
  FROM lx
), lkept AS (
  SELECT doc_id, COUNT(*) AS kept,
         string_agg(line, chr(10) ORDER BY pos) AS rebuilt
  FROM lrk WHERE rk = 1 GROUP BY doc_id
), ltot AS (
  SELECT doc_id, len(string_split(ltext, chr(10))) AS nl FROM lined
)
"""
    o["x4_winnowing_fingerprint"] = (
        t_cte
        + dup_cte
        + """SELECT 'docmin' AS variant, doc_id,
       CASE WHEN len(toks) >= 8
            THEN list_aggregate(
                   [md5(array_to_string(toks[i:i+7], ' '))
                    for i in generate_series(1, len(toks) - 7)], 'min')
            ELSE md5(array_to_string(toks, ' ')) END AS fp
FROM t
UNION ALL
SELECT 'full', doc_id, unnest(
    CASE WHEN len(toks) >= 8
         THEN list_distinct([
                list_aggregate(
                  [md5(array_to_string(toks[i+j:i+j+4], ' '))
                   for j in generate_series(0, 3)], 'min')
                for i in generate_series(1, len(toks) - 7)])
         ELSE [md5(array_to_string(toks, ' '))] END) AS fp
FROM t
UNION ALL
SELECT 'dupspan', doc_id, gram || ':' || CAST(pos AS VARCHAR) AS fp
FROM docc
UNION ALL
SELECT 'dupfrac', doc_id,
       printf('%d:%d:%d:%.6f',
              CAST(SUM(n_grams) AS BIGINT),
              COUNT(*),
              CAST(SUM(span_tokens) AS BIGINT),
              ROUND(SUM(span_tokens) / CAST(ANY_VALUE(n_toks) AS DOUBLE), 6))
         AS fp
FROM dper GROUP BY doc_id
UNION ALL
SELECT 'trimmed', doc_id,
       -- array_to_string([]) is NULL in DuckDB but '' in Spark's
       -- array_join: coalesce so fully-duplicated docs hash md5('')
       CAST(n_toks - len(kept) AS VARCHAR) || ':'
         || md5(COALESCE(array_to_string(kept, ' '), '')) AS fp
FROM dtrim
UNION ALL
SELECT 'linededup', t.doc_id,
       printf('%d:%d:%d:%s', t.nl, COALESCE(k.kept, 0),
              t.nl - COALESCE(k.kept, 0), md5(COALESCE(k.rebuilt, ''))) AS fp
FROM ltot t LEFT JOIN lkept k USING (doc_id)
UNION ALL
-- cdc: content-defined chunk boundaries (rolling 4-token window hash,
-- first 8 md5 hex chars as a 32-bit int, boundary iff = 0 mod 8), then
-- first-occurrence per chunk hash over (doc_id, chunk_idx) order
SELECT 'cdc', doc_id,
       printf('%d:%d:%d:%s:%d:%d', chunk_idx, s, l, h, n_occ,
              CAST(is_first AS INTEGER)) AS fp
FROM (
  SELECT doc_id, chunk_idx, s, l, h,
         COUNT(*) OVER (PARTITION BY h) AS n_occ,
         (ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) = 1)
           AS is_first
  FROM (
    SELECT doc_id, g.j - 1 AS chunk_idx,
           starts[g.j] AS s,
           ends[g.j] - starts[g.j] + 1 AS l,
           md5(array_to_string(toks[starts[g.j]:ends[g.j]], ' ')) AS h
    FROM (
      SELECT doc_id, toks,
             list_prepend(1, list_transform(bpos, b -> b + 1)) AS starts,
             list_append(bpos, len(toks)) AS ends
      FROM (
        SELECT doc_id, toks,
               CASE WHEN len(toks) - 1 >= 4 THEN
                 list_filter(generate_series(4, len(toks) - 1),
                   i -> CAST(list_sum(list_transform(generate_series(1, 8), j2 -> (strpos('0123456789abcdef', substr(md5(array_to_string(toks[i-3:i], ' ')), j2, 1)) - 1) * (16 ** (8 - j2)))) AS BIGINT) % 8 = 0)
               ELSE CAST([] AS BIGINT[]) END AS bpos
        FROM t WHERE norm != ''
      )
    ), unnest(generate_series(1, len(starts))) AS g(j)
  )
)
"""
        + _code_oracle_union()
    )
    o["x8_repetition_stats"] = (
        t_cte
        + """, counts AS (
  SELECT doc_id, tok AS token, COUNT(*) AS cnt
  FROM t, unnest(toks) AS u(tok)
  GROUP BY doc_id, tok
), ranked AS (
  SELECT doc_id, token, cnt,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, token) AS rn
  FROM counts
), per_doc AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_distinct_tokens
  FROM counts GROUP BY doc_id
)
SELECT p.doc_id, p.n_tokens, p.n_distinct_tokens,
       ROUND(1.0 - p.n_distinct_tokens / CAST(p.n_tokens AS DOUBLE), 6)
         AS dup_token_ratio,
       r.token AS top_token,
       ROUND(r.cnt / CAST(p.n_tokens AS DOUBLE), 6) AS top_token_ratio
FROM per_doc p JOIN ranked r ON p.doc_id = r.doc_id AND r.rn = 1
"""
    )
    # x9 — tfidf ⊕ bm25 union; the bm25 branch replays the Okapi
    # formula (Lucene-style non-negative idf, k1=1.2, b=0.75) over the
    # same tokenization, query terms ('spark','vector','hash') inlined.
    o["x9_term_relevance"] = (
        t_cte
        + """, tf AS (
  SELECT doc_id, tok AS term, COUNT(*) AS tf_count
  FROM t, unnest(toks) AS u(tok)
  GROUP BY doc_id, tok
), doc_len AS (
  SELECT doc_id, SUM(tf_count) AS doc_len FROM tf GROUP BY doc_id
), dfc AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df_count FROM tf GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf_count / CAST(dl.doc_len AS DOUBLE)
               * (ln((n.n_docs + 1.0) / (dfc.df_count + 1.0)) + 1.0), 6) AS tfidf
  FROM tf
  JOIN doc_len dl ON tf.doc_id = dl.doc_id
  JOIN dfc ON tf.term = dfc.term
  CROSS JOIN n
),
tfidf_top AS (
  SELECT 'tfidf' AS variant, doc_id, term, tfidf AS score, rank FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term
      ) AS INTEGER) AS rank
    FROM scored
  ) WHERE rank <= 3
),
bstats AS (SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl FROM t),
bposts AS (
  SELECT t.doc_id, len(t.toks) AS dl, tok AS term, COUNT(*) AS tf
  FROM t, unnest(toks) AS u(tok)
  WHERE tok IN ('spark', 'vector', 'hash')
  GROUP BY t.doc_id, len(t.toks), tok
),
bdf AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM bposts GROUP BY term),
bscored AS (
  SELECT p.doc_id,
         ROUND(SUM(LN(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * p.tf / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))), 6)
           AS score
  FROM bposts p JOIN bdf d USING (term) CROSS JOIN bstats s
  GROUP BY p.doc_id
),
btop AS (
  SELECT 'bm25' AS variant, doc_id, 'spark vector hash' AS term, score,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
  FROM bscored QUALIFY rank <= 10
),
-- rrf: BM25 top-10 ⊕ exact-cosine top-10 for query vec 0, fused by
-- integer reciprocal rank (Σ 1e9 // (60 + rank) — exact in both
-- engines, no float sum ordering)
vq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
vtop AS (
  SELECT vec_id AS doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY cosv DESC, vec_id) AS INTEGER) AS rank
  FROM (
    SELECT e.vec_id,
           ROUND(list_sum([e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE
                           for i in generate_series(1, 64)])
                 / (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in e.embedding]))
                    * sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in q.qv]))), 6)
             AS cosv
    FROM embeddings e CROSS JOIN vq q
    WHERE e.vec_id != 0
  ) WHERE cosv IS NOT NULL
  QUALIFY rank <= 10
),
rrfsum AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf FROM (
    SELECT doc_id, 1000000000 // (60 + rank) AS c FROM btop
    UNION ALL
    SELECT doc_id, 1000000000 // (60 + rank) FROM vtop
  ) GROUP BY doc_id
),
rrftop AS (
  SELECT 'rrf' AS variant, doc_id, 'spark vector hash' AS term,
         CAST(rrf AS DOUBLE) AS score,
         CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank
  FROM rrfsum QUALIFY rank <= 10
)
SELECT * FROM tfidf_top
UNION ALL SELECT * FROM btop
UNION ALL SELECT * FROM rrftop
"""
    )
    # x11 — vocab coverage: corpus token counts, top-k by (count desc,
    # token), rank + running share of ALL corpus tokens.
    # x11 = vocab coverage ⊕ the first-6-rounds BPE merge trajectory.
    # The BPE replay walks bpe_train's exact loop: distinct-word table,
    # char+'</w>' segmentation, per-round (pair-count argmax with
    # lexicographic tie-break on "left right") and a GREEDY-LEFT fold
    # merge — a recursive CTE consuming one symbol per step, merging
    # when the accumulator's last element is `left` and the next symbol
    # is `right` (string replace() would mis-merge runs of 5+).
    bpe_rounds = 6
    # Each w{t} carries the ORIGINAL word `w` through the fold so the
    # final w{bpe_rounds} doubles as the word→segmentation lookup the
    # 'segment' branch joins against (greedy encode with the learned
    # merges == the training fold's final state, by construction).
    bpe_parts = [
        """words0 AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(toks) AS w FROM t
  ) WHERE w != '' GROUP BY w
), w0 AS (
  SELECT w, string_split(w, '') || ['</w>'] AS syms, cnt FROM words0
)"""
    ]
    for t_i in range(1, bpe_rounds + 1):
        prev = f"w{t_i - 1}"
        # best{t}/w{t} MATERIALIZED: plain CTEs inline per reference,
        # and best{t} sits INSIDE f{t}'s recursive member — without the
        # barrier every recursion step re-derives the whole w0..w{t-1}
        # chain (measured: minutes at sf0.001 vs sub-second with it).
        bpe_parts.append(f"""p{t_i} AS (
  SELECT syms[i] AS l, syms[i + 1] AS r, cnt
  FROM {prev}, unnest(generate_series(1, len(syms) - 1)) AS g(i)
  WHERE len(syms) >= 2
), best{t_i} AS MATERIALIZED (
  SELECT l, r, n FROM (
    SELECT l, r, SUM(cnt) AS n FROM p{t_i} GROUP BY 1, 2
  ) ORDER BY n DESC, l || ' ' || r LIMIT 1
), f{t_i} AS (
  SELECT w, syms, cnt, syms AS rem, CAST([] AS VARCHAR[]) AS acc
  FROM {prev}
  UNION ALL
  SELECT w, syms, cnt, rem[2:],
         CASE WHEN len(acc) > 0 AND acc[-1] = b.l AND rem[1] = b.r
              THEN acc[1:len(acc) - 1] || [b.l || b.r]
              ELSE acc || [rem[1]] END
  FROM f{t_i}, best{t_i} b
  WHERE len(rem) > 0
), w{t_i} AS MATERIALIZED (
  SELECT w, acc AS syms, cnt FROM f{t_i} WHERE len(rem) = 0
)""")
    bpe_traj_union = "\nUNION ALL\n".join(
        f"SELECT 'bpe' AS variant, l || ' ' || r AS term, CAST(n AS BIGINT) AS n, "
        f"CAST({t_i} AS BIGINT) AS rank, -1.0 AS share FROM best{t_i}"
        for t_i in range(1, bpe_rounds + 1)
    )

    # ---- unigram-LM trajectory replay (text.unigram_lm_train +
    # unigram_segment_arrow): seed substring counts → half-bit costs
    # (floor(2·log2 n) = length(bin(n*n)) - 1, exact integer — the
    # Python side uses bit_length, bit-identical) → Viterbi over the
    # distinct-word table as an UNROLLED 16-stage DP (corpus max word
    # length is 8 at every SF; 2× headroom) with the (cost, n_pieces,
    # path-joined-with-chr(1)) total order → usage recount + prune →
    # final vocab → second DP under the final costs → per-doc
    # reassembly.  BIGINT squaring is exact below piece totals of
    # 2^31.5 (document envelope; switch to HUGEINT past it). ----
    _UNI_L, _UNI_TOPK, _UNI_STAGES = 4, 40, 16

    def _uni_dp(pfx: str, vocab: str) -> str:
        parts = [f"""{pfx}cand AS MATERIALIZED (
  SELECT x.w, x.p, v.piece, v.cost, len(v.piece) AS pl
  FROM (SELECT w, p FROM wpw,
        unnest(generate_series(1, len(w))) AS gp(p)) x
  JOIN {vocab} v ON substr(x.w, x.p, len(v.piece)) = v.piece
), {pfx}b0 AS (
  SELECT w, CAST(0 AS BIGINT) AS cost, 0 AS np, '' AS path FROM wpw
)"""]
        for p in range(1, _UNI_STAGES + 1):
            steps = "\n      UNION ALL\n      ".join(
                f"""SELECT b.w, b.cost + c.cost AS cost, b.np + 1 AS np,
             CASE WHEN b.path = '' THEN c.piece
                  ELSE b.path || chr(1) || c.piece END AS path
      FROM {pfx}b{p - l} b JOIN {pfx}cand c
        ON c.w = b.w AND c.p = {p - l + 1} AND c.pl = {l}"""
                for l in range(1, min(_UNI_L, p) + 1)
            )
            parts.append(f"""{pfx}b{p} AS MATERIALIZED (
  SELECT w, cost, np, path FROM (
    SELECT w, cost, np, path,
           ROW_NUMBER() OVER (PARTITION BY w
                              ORDER BY cost, np, path) AS rn
    FROM (
      {steps}
    )
  ) WHERE rn = 1
)""")
        ends = "\n    UNION ALL\n    ".join(
            f"SELECT w, path, {p} AS pend FROM {pfx}b{p}"
            for p in range(1, _UNI_STAGES + 1)
        )
        parts.append(f"""{pfx}best AS MATERIALIZED (
  SELECT w, path FROM (
    {ends}
  ) WHERE pend = len(w)
)""")
        return ",\n".join(parts)

    _hb_sql = "(length(bin(t.t * t.t)) - 1) - (length(bin(cnt * cnt)) - 1)"
    _x11_uni_ctes = (
        f"""ucand AS (
  SELECT piece, CAST(SUM(c) AS BIGINT) AS cnt FROM (
    SELECT substr(w, p, l) AS piece, c
    FROM (SELECT w, c, p FROM wpw,
          unnest(generate_series(1, len(w))) AS gp(p)),
         unnest(generate_series(1, least({_UNI_L}, len(w) - p + 1))) AS gl(l)
  ) GROUP BY piece
),
useed AS MATERIALIZED (
  SELECT piece, cnt FROM ucand WHERE len(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM ucand WHERE len(piece) >= 2
    ORDER BY cnt DESC, piece LIMIT {_UNI_TOPK}
  )
),
utot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM useed),
useedc AS MATERIALIZED (
  SELECT piece, cnt, {_hb_sql} AS cost FROM useed CROSS JOIN utot t
),
"""
        + _uni_dp("us", "useedc")
        + """,
uusage AS MATERIALIZED (
  SELECT piece, CAST(SUM(c) AS BIGINT) AS usage
  FROM (SELECT w, unnest(string_split(path, chr(1))) AS piece
        FROM usbest) s
  JOIN wpw USING (w)
  GROUP BY piece
),
ufin0 AS (
  SELECT s.piece, CAST(COALESCE(u.usage, 0) + 1 AS BIGINT) AS cnt
  FROM useedc s LEFT JOIN uusage u USING (piece)
  WHERE len(s.piece) = 1 OR COALESCE(u.usage, 0) > 0
),
uftot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM ufin0),
ufinal AS MATERIALIZED (
  SELECT piece, cnt, """
        + _hb_sql
        + """ AS cost,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS urank
  FROM ufin0 CROSS JOIN uftot t
),
"""
        + _uni_dp("uf", "ufinal")
    )
    _x11_uni_union = """
UNION ALL
SELECT 'uvocab', piece, CAST(cnt AS BIGINT), CAST(urank AS BIGINT),
       CAST(cost AS DOUBLE)
FROM ufinal
UNION ALL
SELECT 'unigram', array_to_string(ut, ' '), CAST(len(ut) AS BIGINT),
       CAST(doc_id AS BIGINT), -1.0
FROM (
  SELECT doc_id, flatten(list(ws ORDER BY pos)) AS ut
  FROM (
    SELECT t.doc_id, g.i AS pos, string_split(ufbest.path, chr(1)) AS ws
    FROM t, unnest(generate_series(1, len(toks))) AS g(i)
    JOIN ufbest ON ufbest.w = toks[g.i]
    WHERE t.norm != ''
  ) GROUP BY doc_id
)"""
    o["x11_vocab_bpe"] = (
        t_cte.replace("WITH ", "WITH RECURSIVE ", 1)
        + ", "
        + ",\n".join(bpe_parts)
        + f""", counts AS (
  SELECT tok AS token, COUNT(*) AS count
  FROM t, unnest(toks) AS u(tok)
  GROUP BY tok
), total AS (SELECT CAST(SUM(count) AS BIGINT) AS tot FROM counts),
top AS (
  SELECT token, count FROM counts ORDER BY count DESC, token LIMIT 50
),
-- WordPiece: occurrence-weighted word table, frequency-ranked
-- prefix/continuation piece vocab (top-60 each, (count DESC, piece)
-- total order), the per-(word, position) LONGEST-match table, and the
-- greedy MaxMatch chain as a recursive walk (whole word → [UNK] when
-- the walk dies before len(w)+1)
wpw AS (
  SELECT tok AS w, COUNT(*) AS c
  FROM t, unnest(toks) AS u(tok) WHERE tok != '' GROUP BY tok
),
wps AS MATERIALIZED (
  SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rank
  FROM (
    SELECT substr(w, 1, l) AS piece, SUM(c) AS cnt
    FROM wpw, unnest(generate_series(1, least(len(w), 4))) AS gl(l)
    GROUP BY 1
  ) ORDER BY cnt DESC, piece LIMIT 60
),
wpc AS MATERIALIZED (
  SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rank
  FROM (
    SELECT substr(w, p, l) AS piece, SUM(c) AS cnt
    FROM (SELECT w, c, p FROM wpw,
          unnest(generate_series(2, len(w))) AS gp(p)),
         unnest(generate_series(1, least(4, len(w) - p + 1))) AS gl(l)
    GROUP BY 1
  ) ORDER BY cnt DESC, piece LIMIT 60
),
wpm AS MATERIALIZED (
  SELECT w, p, piece FROM (
    SELECT w, p, piece,
           ROW_NUMBER() OVER (PARTITION BY w, p
                              ORDER BY len(piece) DESC) AS rn
    FROM (
      SELECT wpw.w, 1 AS p, wps.piece
      FROM wpw JOIN wps ON substr(wpw.w, 1, len(wps.piece)) = wps.piece
      UNION ALL
      SELECT x.w, x.p, wpc.piece
      FROM (SELECT w, p FROM wpw,
            unnest(generate_series(2, len(w))) AS gp(p)) x
      JOIN wpc ON substr(x.w, x.p, len(wpc.piece)) = wpc.piece
    )
  ) WHERE rn = 1
),
wpwalk AS (
  SELECT w, 1 AS p, CAST([] AS VARCHAR[]) AS toks FROM wpw
  UNION ALL
  SELECT k.w, k.p + len(k.piece),
         w0.toks || [CASE WHEN w0.p = 1 THEN k.piece
                          ELSE '##' || k.piece END]
  FROM wpwalk w0 JOIN wpm k ON k.w = w0.w AND k.p = w0.p
),
wseg AS MATERIALIZED (
  SELECT m.w,
         CASE WHEN m.maxp = len(m.w) + 1 THEN wk.toks
              ELSE ['[UNK]'] END AS ws
  FROM (SELECT w, MAX(p) AS maxp FROM wpwalk GROUP BY w) m
  JOIN wpwalk wk ON wk.w = m.w AND wk.p = m.maxp
),
-- token-ID training-example emitter (operators/training.py): per-doc
-- BPE piece stream → frequency-ranked ids (specials 0..3 reserved,
-- eos=3 appended per doc) → next-fit no-straddle packing into
-- 512-token bins per doc_id%8 shard (recursive CTE, the p2
-- 'nostraddle' replay shape) → per-bin input_ids / loss_mask /
-- segment_ids / doc_ids rendered position-for-position
docseg AS MATERIALIZED (
  SELECT doc_id, flatten(list(ws ORDER BY pos)) AS bpe
  FROM (
    SELECT t.doc_id, g.i AS pos, wf.syms AS ws
    FROM t, unnest(generate_series(1, len(toks))) AS g(i)
    JOIN w{bpe_rounds} wf ON wf.w = toks[g.i]
    WHERE t.norm != ''
  ) GROUP BY doc_id
),
tvoc AS MATERIALIZED (
  SELECT piece, CAST(cnt AS BIGINT) AS cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) + 3 AS BIGINT)
           AS tid
  FROM (SELECT piece, COUNT(*) AS cnt
        FROM (SELECT unnest(bpe) AS piece FROM docseg) GROUP BY piece)
),
docids AS MATERIALIZED (
  SELECT doc_id, list(tid ORDER BY pos) || [CAST(3 AS BIGINT)] AS ids
  FROM (
    SELECT dp.doc_id, dp.pos, COALESCE(v.tid, CAST(1 AS BIGINT)) AS tid
    FROM (SELECT d.doc_id, g.i AS pos, d.bpe[g.i] AS piece
          FROM docseg d,
               unnest(generate_series(1, len(bpe))) AS g(i)) dp
    LEFT JOIN tvoc v ON v.piece = dp.piece
  ) GROUP BY doc_id
),
tsh AS MATERIALIZED (
  SELECT doc_id, len(ids) AS n_ids, CAST(doc_id % 8 AS INTEGER) AS shard,
         ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM docids
),
tnf AS (
  SELECT shard, rn, doc_id, n_ids,
         CAST(0 AS BIGINT) AS bin_id, CAST(n_ids AS BIGINT) AS used
  FROM tsh WHERE rn = 1
  UNION ALL
  SELECT s.shard, s.rn, s.doc_id, s.n_ids,
         CASE WHEN tnf.used + s.n_ids > 512
              THEN tnf.bin_id + 1 ELSE tnf.bin_id END,
         CASE WHEN tnf.used + s.n_ids > 512
              THEN CAST(s.n_ids AS BIGINT) ELSE tnf.used + s.n_ids END
  FROM tnf JOIN tsh s ON s.shard = tnf.shard AND s.rn = tnf.rn + 1
),
tb0 AS (
  SELECT n.shard, n.bin_id, n.doc_id, d.ids,
         ROW_NUMBER() OVER (PARTITION BY n.shard, n.bin_id
                            ORDER BY n.doc_id) AS j
  FROM tnf n JOIN docids d USING (doc_id)
),
tbin AS MATERIALIZED (
  SELECT shard, bin_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         flatten(list(ids ORDER BY doc_id)) AS allids,
         flatten(list(list_transform(generate_series(1, len(ids)),
                                     x -> CAST(j AS BIGINT))
                      ORDER BY doc_id)) AS segs,
         list(doc_id ORDER BY doc_id) AS dids
  FROM tb0 GROUP BY shard, bin_id
),
tbinr AS (
  SELECT shard, bin_id, n_docs, dids,
         allids[1:512] AS realids, segs[1:512] AS segr,
         LEAST(len(allids), 512) AS nreal
  FROM tbin
),
-- SFT shard emitter replay: role-reserved vocab (piece ids shift to
-- start at 7, markers 4/5/6), per-turn [role] ids [EOS] rendering
-- with the assistant-only mask, whole-conversation next-fit into
-- 4096-id bins (conv = doc_id // 5, turns in doc_id order)
tvoc7 AS (
  SELECT piece, tid + 3 AS tid FROM tvoc
),
sdocids AS MATERIALIZED (
  SELECT doc_id, list(tid ORDER BY pos) AS ids
  FROM (
    SELECT dp.doc_id, dp.pos, COALESCE(v.tid, CAST(1 AS BIGINT)) AS tid
    FROM (SELECT d.doc_id, g.i AS pos, d.bpe[g.i] AS piece
          FROM docseg d,
               unnest(generate_series(1, len(bpe))) AS g(i)) dp
    LEFT JOIN tvoc7 v ON v.piece = dp.piece
  ) GROUP BY doc_id
),
sturn AS (
  SELECT doc_id, doc_id // 5 AS conv,
         ROW_NUMBER() OVER (PARTITION BY doc_id // 5
                            ORDER BY doc_id) - 1 AS turn,
         ids
  FROM sdocids
),
sturn2 AS (
  SELECT conv, turn,
         [CASE WHEN turn = 0 THEN CAST(4 AS BIGINT)
               WHEN turn % 2 = 1 THEN CAST(5 AS BIGINT)
               ELSE CAST(6 AS BIGINT) END]
           || ids || [CAST(3 AS BIGINT)] AS tids,
         CASE WHEN turn > 0 AND turn % 2 = 0
              THEN [CAST(0 AS BIGINT)]
                   || list_transform(ids, x -> CAST(1 AS BIGINT))
                   || [CAST(1 AS BIGINT)]
              ELSE list_transform(generate_series(1, len(ids) + 2),
                                  x -> CAST(0 AS BIGINT)) END AS tmask
  FROM sturn
),
sconv AS MATERIALIZED (
  SELECT conv, ids, mask, len(ids) AS n_ids FROM (
    SELECT conv, flatten(list(tids ORDER BY turn)) AS ids,
           flatten(list(tmask ORDER BY turn)) AS mask
    FROM sturn2 GROUP BY conv
  )
),
ssh AS MATERIALIZED (
  SELECT conv, n_ids, CAST(conv % 8 AS INTEGER) AS shard,
         ROW_NUMBER() OVER (PARTITION BY conv % 8 ORDER BY conv) AS rn
  FROM sconv
),
snf AS (
  SELECT shard, rn, conv, n_ids,
         CAST(0 AS BIGINT) AS bin_id, CAST(n_ids AS BIGINT) AS used
  FROM ssh WHERE rn = 1
  UNION ALL
  SELECT x.shard, x.rn, x.conv, x.n_ids,
         CASE WHEN snf.used + x.n_ids > 4096
              THEN snf.bin_id + 1 ELSE snf.bin_id END,
         CASE WHEN snf.used + x.n_ids > 4096
              THEN CAST(x.n_ids AS BIGINT) ELSE snf.used + x.n_ids END
  FROM snf JOIN ssh x ON x.shard = snf.shard AND x.rn = snf.rn + 1
),
sb0 AS (
  SELECT n.shard, n.bin_id, n.conv, c.ids, c.mask,
         ROW_NUMBER() OVER (PARTITION BY n.shard, n.bin_id
                            ORDER BY n.conv) AS j
  FROM snf n JOIN sconv c USING (conv)
),
sbin AS MATERIALIZED (
  SELECT shard, bin_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         flatten(list(ids ORDER BY conv)) AS allids,
         flatten(list(mask ORDER BY conv)) AS allmask,
         flatten(list(list_transform(generate_series(1, len(ids)),
                                     x -> CAST(j AS BIGINT))
                      ORDER BY conv)) AS segs,
         list(conv ORDER BY conv) AS dids
  FROM sb0 GROUP BY shard, bin_id
),
sbinr AS (
  SELECT shard, bin_id, n_docs, dids,
         allids[1:4096] AS realids, allmask[1:4096] AS realmask,
         segs[1:4096] AS segr,
         LEAST(len(allids), 4096) AS nreal
  FROM sbin
),
"""
        + _x11_uni_ctes
        + """
SELECT 'vocab' AS variant, token AS term, CAST(count AS BIGINT) AS n,
       CAST(ROW_NUMBER() OVER (ORDER BY count DESC, token) AS BIGINT) AS rank,
       ROUND(CAST(SUM(count) OVER (ORDER BY count DESC, token
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
             / CAST(tot AS DOUBLE), 6) AS share
FROM top CROSS JOIN total
UNION ALL
"""
        + bpe_traj_union
        + f"""
UNION ALL
SELECT seg_variant, array_to_string(bpe, ' '), CAST(len(bpe) AS BIGINT),
       CAST(doc_id AS BIGINT), -1.0
FROM docseg
-- 'segment' = expression path, 'segmenta' = the Arrow mapInPandas
-- production encoder; identical values by contract, so one replay
-- serves both variants
CROSS JOIN (VALUES ('segment'), ('segmenta')) AS sv(seg_variant)
UNION ALL
SELECT 'tokvocab', piece, cnt, tid, -1.0 FROM tvoc
UNION ALL
-- 'tokids' = one-shot batch encode, 'tokstream' = the landed
-- availableNow StreamingTokenIdSink store; ids are a pure function of
-- (text, frozen merges, frozen vocab), so one replay serves both
SELECT idv, array_to_string(ids, ' '), CAST(len(ids) AS BIGINT),
       CAST(doc_id AS BIGINT), -1.0
FROM docids
CROSS JOIN (VALUES ('tokids'), ('tokstream')) AS iv(idv)
UNION ALL
SELECT 'tokbin',
       array_to_string(realids
           || list_transform(generate_series(1, 512 - nreal),
                             x -> CAST(0 AS BIGINT)), ' ')
       || ' | ' ||
       array_to_string(list_transform(generate_series(1, nreal),
                                      x -> CAST(1 AS BIGINT))
           || list_transform(generate_series(1, 512 - nreal),
                             x -> CAST(0 AS BIGINT)), ' ')
       || ' | ' ||
       array_to_string(segr
           || list_transform(generate_series(1, 512 - nreal),
                             x -> CAST(0 AS BIGINT)), ' ')
       || ' | ' ||
       array_to_string(dids, ' '),
       CAST(nreal AS BIGINT),
       CAST(shard AS BIGINT) * 1000000 + bin_id,
       CAST(n_docs AS DOUBLE)
FROM tbinr
UNION ALL
SELECT 'tokstats',
       CAST(shard AS VARCHAR) || ':'
         || CAST(CAST(SUM(CASE WHEN len(allids) > 512 THEN 1 ELSE 0 END)
                 AS BIGINT) AS VARCHAR) || ':'
         || CAST(CAST(512 * COUNT(*) - SUM(nreal) AS BIGINT) AS VARCHAR),
       CAST(SUM(nreal) AS BIGINT),
       CAST(COUNT(*) AS BIGINT),
       CAST((1000 * CAST(SUM(nreal) AS BIGINT)) // (512 * COUNT(*)) AS DOUBLE)
FROM (SELECT shard, LEAST(len(allids), 512) AS nreal, allids FROM tbin)
GROUP BY shard
UNION ALL
SELECT 'sftbin',
       array_to_string(realids
           || list_transform(generate_series(1, 4096 - nreal),
                             x -> CAST(0 AS BIGINT)), ' ')
       || ' | ' ||
       array_to_string(realmask
           || list_transform(generate_series(1, 4096 - nreal),
                             x -> CAST(0 AS BIGINT)), ' ')
       || ' | ' ||
       array_to_string(segr
           || list_transform(generate_series(1, 4096 - nreal),
                             x -> CAST(0 AS BIGINT)), ' ')
       || ' | ' ||
       array_to_string(dids, ' '),
       CAST(nreal AS BIGINT),
       CAST(shard AS BIGINT) * 1000000 + bin_id,
       CAST(n_docs AS DOUBLE)
FROM sbinr
UNION ALL
SELECT 'wpvocab', piece, CAST(cnt AS BIGINT), CAST(rank AS BIGINT), 0.0
FROM wps
UNION ALL
SELECT 'wpvocab', '##' || piece, CAST(cnt AS BIGINT), CAST(rank AS BIGINT), 1.0
FROM wpc
UNION ALL
SELECT 'wordpiece', array_to_string(wp, ' '), CAST(len(wp) AS BIGINT),
       CAST(doc_id AS BIGINT), -1.0
FROM (
  SELECT doc_id, flatten(list(ws ORDER BY pos)) AS wp
  FROM (
    SELECT t.doc_id, g.i AS pos, wseg.ws
    FROM t, unnest(generate_series(1, len(toks))) AS g(i)
    JOIN wseg ON wseg.w = toks[g.i]
    WHERE t.norm != ''
  ) GROUP BY doc_id
)"""
        + _x11_uni_union
    )
    # x10 — mergeable-sketch union (kmv ⊕ hll ⊕ cms): every branch is
    # deterministic integer arithmetic over the same 32-bit ring hash,
    # so sketch CONTENT (k-th hash / registers / counters) and the
    # estimates are bit-identical across engines; see
    # operators/sketches.py.  α·m² for the HLL branch is inlined as the
    # exact Python double (0.709·64·64) so both engines fold the same
    # literal instead of re-deriving it in their own numeric types.
    _hll_alpha_m2 = repr(0.709 * 64 * 64)
    def _drift_sql(tag: str, ca: str, cb: str) -> str:
        # arithmetic mirrors text.distribution_divergence term-for-term
        # (operation order matters for double determinism)
        p0 = "(1 / (na + 4096.0))"
        q0 = "(1 / (nb + 4096.0))"
        m0 = f"(({p0} + {q0}) / 2)"
        return f""",
{tag}_h AS MATERIALIZED (
  SELECT bucket, {ca} AS ca, {cb} AS cb FROM ddh WHERE {ca} + {cb} > 0
),
{tag}_tot AS (
  SELECT SUM(ca) AS na, SUM(cb) AS nb, COUNT(*) AS n_obs FROM {tag}_h
),
{tag}_c AS MATERIALIZED (
  SELECT bucket, ca, cb, na, nb, n_obs,
         p * ln(p / q) AS kab, q * ln(q / p) AS kba,
         0.5 * p * ln(p / ((p + q) / 2))
           + 0.5 * q * ln(q / ((p + q) / 2)) AS jsc
  FROM (
    SELECT bucket, ca, cb, na, nb, n_obs,
           (ca + 1) / (na + 4096.0) AS p, (cb + 1) / (nb + 4096.0) AS q
    FROM {tag}_h CROSS JOIN {tag}_tot
  )
),
{tag}_sum AS (
  SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
         ROUND(ROUND(SUM(kab)
           + (4096 - n_obs) * {p0} * ln({p0} / {q0}), 12), 6) AS kl_ab,
         ROUND(ROUND(SUM(kba)
           + (4096 - n_obs) * {q0} * ln({q0} / {p0}), 12), 6) AS kl_ba,
         ROUND(ROUND(SUM(jsc)
           + (4096 - n_obs) * (0.5 * {p0} * ln({p0} / {m0})
                               + 0.5 * {q0} * ln({q0} / {m0})), 12), 6) AS js
  FROM {tag}_c GROUP BY na, nb, n_obs
),
{tag}_top AS (
  SELECT bucket, ca, cb, v FROM (
    SELECT bucket, ca, cb, ROUND(ROUND(jsc, 15), 9) AS v,
           ROW_NUMBER() OVER (
               ORDER BY ABS(ROUND(ROUND(jsc, 15), 9)) DESC, bucket) AS rn
    FROM {tag}_c
  ) WHERE rn <= 20
)"""

    drift_ctes = _drift_sql("dl", "ca_lang", "cb_lang") + _drift_sql(
        "dsp", "ca_split", "cb_split"
    )
    drift_selects = "".join(
        f"""
UNION ALL
SELECT '{variant}' AS variant,
       m || ':' || CAST(na AS VARCHAR) || ':' || CAST(nb AS VARCHAR),
       v, CAST(-1 AS BIGINT)
FROM (
  SELECT 'js' AS m, js AS v, na, nb FROM {tag}_sum
  UNION ALL SELECT 'kl_ab', kl_ab, na, nb FROM {tag}_sum
  UNION ALL SELECT 'kl_ba', kl_ba, na, nb FROM {tag}_sum
)
UNION ALL
SELECT '{variant}',
       'bucket:' || CAST(ca AS VARCHAR) || ':' || CAST(cb AS VARCHAR),
       v, CAST(bucket AS BIGINT)
FROM {tag}_top"""
        for tag, variant in (("dl", "drift_lang"), ("dsp", "drift_split"))
    )
    o["x10_cardinality_sketches"] = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         (((user_id % 4294967296) * 48271) % 4294967296 * 16807) % 4294967296 AS h
  FROM events
), ranked AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
), kept AS (
  SELECT * FROM ranked WHERE rn <= 32
), kmv AS (
  SELECT 'kmv' AS variant, event_type AS sketch_key,
         CASE WHEN COUNT(*) >= 32
              THEN ROUND((32 - 1.0) / (MAX(h) / 4294967296.0), 4)
              ELSE CAST(COUNT(*) AS DOUBLE) END AS estimate,
         MAX(h) AS detail
  FROM kept
  GROUP BY event_type
), mh1 AS (
  SELECT event_type, ((user_id % 4294967296) * 48271) % 4294967296 AS h FROM events
), mh2 AS (
  SELECT event_type, xor(h, h // 65536) AS h FROM mh1
), mh3 AS (
  SELECT event_type, (h * 16807) % 4294967296 AS h FROM mh2
), mh4 AS (
  SELECT event_type, xor(h, h // 8192) AS h FROM mh3
), mh5 AS (
  SELECT event_type, (h * 69621) % 4294967296 AS h FROM mh4
), hall AS (
  SELECT event_type, xor(h, h // 131072) AS h FROM mh5
), hreg AS (
  SELECT event_type, h % 64 AS bucket,
         MAX(CASE WHEN h // 64 > 0 THEN 26 - length(bin(h // 64)) + 1
                  ELSE 27 END) AS reg
  FROM hall
  GROUP BY event_type, h % 64
), hfold AS (
  SELECT event_type,
         SUM(POW(2.0, -reg)) + (64 - COUNT(*)) AS z,
         COUNT(*) AS nonzero,
         64 - COUNT(*) AS empty
  FROM hreg
  GROUP BY event_type
), hll AS (
  SELECT 'hll' AS variant, event_type AS sketch_key,
         ROUND(CASE WHEN CAST({_hll_alpha_m2} AS DOUBLE) / z <= 160.0 AND empty > 0
                    THEN 64.0 * LN(64.0 / empty)
                    ELSE CAST({_hll_alpha_m2} AS DOUBLE) / z END, 4) AS estimate,
         nonzero AS detail
  FROM hfold
), params(row, a, b) AS (
  VALUES (0, 48271, 1), (1, 16807, 7), (2, 69621, 13), (3, 40692, 31)
), counters AS (
  SELECT p.row AS row,
         ((e.user_id % 2147483647) * p.a + p.b) % 2147483647 % 1024 AS col,
         COUNT(*) AS cnt
  FROM events e CROSS JOIN params p
  GROUP BY 1, 2
), probes AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 8 = 0
), probe_cells AS (
  SELECT pr.user_id, p.row AS row,
         ((pr.user_id % 2147483647) * p.a + p.b) % 2147483647 % 1024 AS col
  FROM probes pr CROSS JOIN params p
), est AS (
  SELECT pc.user_id, MIN(COALESCE(c.cnt, 0)) AS cms_estimate
  FROM probe_cells pc LEFT JOIN counters c USING (row, col)
  GROUP BY pc.user_id
), exact AS (
  SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY user_id
), cms AS (
  SELECT 'cms' AS variant, CAST(est.user_id AS VARCHAR) AS sketch_key,
         CAST(cms_estimate AS DOUBLE) AS estimate,
         exact_cnt AS detail
  FROM est JOIN exact ON est.user_id = exact.user_id
), opr AS (
  SELECT a.event_type AS ga, b.event_type AS gb
  FROM (SELECT DISTINCT event_type FROM kept) a,
       (SELECT DISTINCT event_type FROM kept) b
  WHERE a.event_type < b.event_type
), orows AS (
  SELECT p.ga, p.gb, k.h,
         MAX(CASE WHEN k.event_type = p.ga THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN k.event_type = p.gb THEN 1 ELSE 0 END) AS in_b
  FROM opr p JOIN kept k ON k.event_type = p.ga OR k.event_type = p.gb
  GROUP BY p.ga, p.gb, k.h
), okset AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rn FROM orows
  ) WHERE rn <= 32
), ofold AS (
  SELECT ga, gb, COUNT(*) AS n_kept, MAX(h) AS kth,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
  FROM okset GROUP BY ga, gb
), kmvset AS (
  SELECT 'kmvset' AS variant, ga || '+' || gb AS sketch_key,
         ROUND((CASE WHEN n_kept >= 32
                     THEN ROUND((32 - 1.0) / (kth / 4294967296.0), 4)
                     ELSE CAST(n_kept AS DOUBLE) END)
               * ROUND(n_both / CAST(n_kept AS DOUBLE), 6), 4) AS estimate,
         n_both AS detail
  FROM ofold
),
-- distribution_divergence replay: the dsg gram/bucket stream (4096
-- buckets) carrying lang and id-parity, one histogram per split pair
-- (per-pair observed set = buckets either side touched), add-1
-- smoothed JS/KL with the closed-form absent-bucket tail, and the
-- top-20 |JS contribution| buckets.  Double-rounding ladder as in the
-- engine (12→6 scalars, 15→9 contributions).
ddt AS MATERIALIZED (
  SELECT doc_id, lang, string_split({norm}, ' ') AS toks FROM documents
),
ddg AS MATERIALIZED (
  SELECT doc_id, lang,
         CAST(list_sum(list_transform(generate_series(1, 3), j ->
             (strpos('0123456789abcdef', substr(md5(gram), 29 + j, 1)) - 1)
             * (16 ** (3 - j)))) AS BIGINT) % 4096 AS bucket
  FROM (
    SELECT doc_id, lang, unnest(list_concat(toks,
        CASE WHEN len(toks) >= 2
             THEN [array_to_string(toks[i:i+1], ' ')
                   for i in generate_series(1, len(toks) - 1)]
             ELSE [] END)) AS gram
    FROM ddt)
),
ddh AS MATERIALIZED (
  SELECT bucket,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ca_lang,
         SUM(CASE WHEN lang != 'en' THEN 1 ELSE 0 END) AS cb_lang,
         SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ca_split,
         SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS cb_split
  FROM ddg GROUP BY bucket
){drift_ctes}
SELECT * FROM kmv
UNION ALL SELECT * FROM hll
-- 'hllstream' = the landed availableNow StreamingHllSink register
-- store; register max-merge IS the HLL union, so the landed estimates
-- equal the batch ones and ONE replay serves both variants
UNION ALL SELECT 'hllstream', sketch_key, estimate, detail FROM hll
UNION ALL SELECT * FROM cms
UNION ALL SELECT * FROM kmvset{drift_selects}
"""
    # x12 — PII redaction: rebuild the key's deterministic salted text
    # (email on doc_id%3, dashed phone on %4, IPv4 on %5), then replay
    # text.PII_PATTERNS — same regexes, same replacement order — so
    # counts, redacted length, and the md5 of the redacted text all
    # have to match the Spark pipeline.
    from kafkastreamsinteractivequeries_spark.operators.text import PII_PATTERNS

    pats = {name: pat for name, pat, _ in PII_PATTERNS}
    x12 = """
WITH salted AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 3 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
              ELSE '' END ||
         CASE WHEN doc_id % 4 = 0
              THEN ' call +1-555-' || lpad(CAST(doc_id * 7 % 1000 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST(doc_id * 13 % 10000 AS VARCHAR), 4, '0')
              ELSE '' END ||
         CASE WHEN doc_id % 5 = 0
              THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.' || CAST(doc_id * 3 % 256 AS VARCHAR)
                   || '.' || CAST(doc_id * 7 % 256 AS VARCHAR)
              ELSE '' END ||
         CASE WHEN doc_id % 7 < 2
              THEN ' card 4111-1111-1111-'
                   || lpad(CAST(doc_id * 31 % 10000 AS VARCHAR), 4, '0')
              ELSE '' END AS text
  FROM documents
), vc AS (
  -- Luhn-validated card candidates (ISO 7812): double every second
  -- digit from the right, fold 2-digit products, sum mod 10 = 0.
  -- Digit-boundary guard mirrors Spark's valid_cards_col: drop any
  -- candidate that touches another digit anywhere in the text (the
  -- literal replace would shred longer numbers otherwise).
  SELECT doc_id, list_filter(regexp_extract_all(text, 'CARD_PAT'),
    c -> list_sum(list_transform(
           generate_series(1, length(CSTRIP)),
           i -> CASE WHEN (length(CSTRIP) - i) % 2 = 1
                     THEN CASE WHEN (ascii(substr(CSTRIP, i, 1)) - 48) * 2 > 9
                               THEN (ascii(substr(CSTRIP, i, 1)) - 48) * 2 - 9
                               ELSE (ascii(substr(CSTRIP, i, 1)) - 48) * 2 END
                     ELSE ascii(substr(CSTRIP, i, 1)) - 48 END)) % 10 = 0
         AND NOT regexp_matches(text, '[0-9]' || c)
         AND NOT regexp_matches(text, c || '[0-9]')
  ) AS cards
  FROM salted
), red AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, 'EMAIL_PAT')) AS INTEGER) AS n_email,
         CAST(len(regexp_extract_all(text, 'PHONE_PAT')) AS INTEGER) AS n_phone,
         CAST(len(regexp_extract_all(text, 'IP_PAT')) AS INTEGER) AS n_ipv4,
         CAST(len(cards) AS INTEGER) AS n_card,
         list_reduce(
           list_prepend(
             regexp_replace(regexp_replace(regexp_replace(text,
                 'EMAIL_PAT', '<EMAIL>', 'g'),
                 'PHONE_PAT', '<PHONE>', 'g'),
                 'IP_PAT', '<IP>', 'g'),
             cards),
           (acc, c) -> replace(acc, c, '<CARD>')) AS rt
  FROM salted JOIN vc USING (doc_id)
)
SELECT doc_id, n_email, n_phone, n_ipv4, n_card,
       CAST(length(rt) AS INTEGER) AS redacted_len,
       md5(rt) AS redacted_md5,
       (n_email + n_phone + n_ipv4 + n_card) = 0 AS clean
FROM red
"""
    from kafkastreamsinteractivequeries_spark.operators.text import CARD_PATTERN

    o["x12_pii_redaction"] = (
        x12.replace("CSTRIP", "replace(replace(c, '-', ''), ' ', '')")
        .replace("EMAIL_PAT", pats["email"])
        .replace("PHONE_PAT", pats["phone"])
        .replace("IP_PAT", pats["ipv4"])
        .replace("CARD_PAT", CARD_PATTERN)
    )
    # x13 — decontamination union: exact broadcast-gram collisions
    # ('exact') ⊕ the Bloom-bitset replay ('bloom').  Bit positions:
    # Spark computes conv(first-15-hex-of-md5, 16, 10) % 2^20 — the low
    # 20 bits of a 15-hex-char window are exactly its LAST 5 hex chars,
    # so the oracle converts just those 5 digits (exact in doubles:
    # every product ≤ 15·16^4).  Words merge by bit_or; a gram is
    # flagged only when ALL 4 probe bits are set — false positives and
    # all.
    hex5pos = (
        "CAST(list_sum(list_transform(generate_series(1, 5), j -> "
        "(strpos('0123456789abcdef', substr(substr(md5({g} || ':' || CAST(k.i AS VARCHAR)), 11, 5), j, 1)) - 1)"
        " * (16 ** (5 - j)))) AS BIGINT)"
    )
    # Spark's shiftleft(1L, 63) silently wraps to long-min; DuckDB's <<
    # raises on the overflow, so bit 63 is spelled out.
    bit_of = (
        "(CASE WHEN {p} % 64 = 63 THEN CAST(-9223372036854775807 - 1 AS BIGINT) "
        "ELSE CAST(1 AS BIGINT) << CAST({p} % 64 AS INTEGER) END)"
    )
    fz_minhash = ",\n         ".join(
        f"list_aggregate(list_transform(utoks, t -> md5('{i}:' || t)), 'min')"
        for i in range(16)
    )
    fz_bands = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band_id, md5({expr}) AS band_hash FROM fsig".format(
            b=b,
            expr=" || '|' || ".join(f"minhash[{b * 8 + r + 1}]" for r in range(8)),
        )
        for b in range(2)
    )
    o["x13_decontamination"] = (
        t_cte
        + f""", g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct([md5(array_to_string(toks[i:i+2], ' '))
                                  for i in generate_series(1, len(toks) - 2)])
              ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM t
), eg AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 20 = 0
), tg AS MATERIALIZED (
  SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 20 != 0
), hits AS (
  SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n
  FROM tg JOIN eg USING (gram) GROUP BY doc_id
), fsig AS MATERIALIZED (
  SELECT doc_id, [{fz_minhash}] AS minhash
  FROM (SELECT doc_id, list_distinct(toks) AS utoks FROM t)
), fb AS MATERIALIZED (
{fz_bands}
), fcand AS (
  SELECT DISTINCT a.doc_id AS did, b.doc_id AS eid
  FROM fb a JOIN fb b USING (band_id, band_hash)
  WHERE a.doc_id % 20 != 0 AND b.doc_id % 20 = 0
), ftc AS MATERIALIZED (
  SELECT doc_id, tok, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2
), ftot AS (
  SELECT doc_id, SUM(cnt) AS total FROM ftc GROUP BY 1
), fpairs AS (
  SELECT did, eid, mj FROM (
    SELECT i.did, i.eid,
           ROUND(i.inter::DOUBLE / (ta.total + tb.total - i.inter), 6) AS mj
    FROM (
      SELECT c.did, c.eid, SUM(LEAST(x.cnt, y.cnt)) AS inter
      FROM fcand c
      JOIN ftc x ON x.doc_id = c.did
      JOIN ftc y ON y.doc_id = c.eid AND y.tok = x.tok
      GROUP BY 1, 2
    ) i
    JOIN ftot ta ON ta.doc_id = i.did
    JOIN ftot tb ON tb.doc_id = i.eid
  ) WHERE mj >= 0.5
), bw AS MATERIALIZED (
  SELECT CAST(pos // 64 AS INTEGER) AS word_idx,
         bit_or({bit_of.format(p='pos')}) AS word
  FROM (
    SELECT {hex5pos.format(g='eg.gram')} AS pos
    FROM eg CROSS JOIN generate_series(0, 3) AS k(i)
  ) GROUP BY 1
), probes AS (
  SELECT tg.doc_id, tg.gram, {hex5pos.format(g='tg.gram')} AS pos
  FROM tg CROSS JOIN generate_series(0, 3) AS k(i)
), ph AS (
  SELECT doc_id, gram,
         MIN(CASE WHEN (COALESCE(w.word, 0)
                        & {bit_of.format(p='p.pos')}) != 0
                  THEN 1 ELSE 0 END) AS all_set
  FROM probes p
  LEFT JOIN bw w ON w.word_idx = CAST(p.pos // 64 AS INTEGER)
  GROUP BY doc_id, gram
), bhits AS (
  SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n
  FROM ph WHERE all_set = 1 GROUP BY doc_id
)
SELECT 'exact' AS variant, t.doc_id,
       CAST(-1 AS BIGINT) AS partner,
       CAST(COALESCE(h.n, 0) AS DOUBLE) AS score,
       COALESCE(h.n, 0) > 0 AS contaminated
FROM t LEFT JOIN hits h USING (doc_id)
WHERE t.doc_id % 20 != 0
UNION ALL
SELECT 'bloom', t.doc_id, CAST(-1 AS BIGINT),
       CAST(COALESCE(bh.n, 0) AS DOUBLE), COALESCE(bh.n, 0) > 0
FROM t LEFT JOIN bhits bh USING (doc_id)
WHERE t.doc_id % 20 != 0
UNION ALL
SELECT 'fuzzy', did, CAST(eid AS BIGINT), mj, TRUE FROM fpairs
"""
    )
    return o


def _similarity_oracles() -> dict[str, str]:
    """DuckDB oracles mirroring operators/similarity.py: same double-
    cast sequential vector math, same md5-derived SRP hyperplanes
    (embedded as the identical ±1 literals by construction)."""
    from kafkastreamsinteractivequeries_spark.operators.similarity import srp_sign_matrix

    dim, planes, chunks = 64, 16, 4
    # s4 pins a wider code: 32 planes / 4 chunks = 8-bit bands, the
    # corpus-appropriate cardinality at this SF (the library default
    # auto-sizes via srp_planes_for; the driver entry pins explicit
    # params so this static oracle stays exact at any sf_dir).
    s4_planes = 32

    def cos(a: str, b: str) -> str:
        return (
            f"ROUND(list_sum([{a}[i]::DOUBLE * {b}[i]::DOUBLE for i in generate_series(1, {dim})])"
            f" / (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in {a}]))"
            f" * sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in {b}]))), 6)"
        )

    def code_expr_for(n_planes: int) -> str:
        signs = srp_sign_matrix(n_planes, dim)
        bit_exprs = []
        for p in range(n_planes):
            terms = " + ".join(
                f"(embedding[{j + 1}]::DOUBLE * {float(signs[p][j])})" for j in range(dim)
            )
            bit_exprs.append(f"CASE WHEN ({terms}) > 0 THEN '1' ELSE '0' END")
        return " || ".join(bit_exprs)

    def ctes_for(n_planes: int) -> tuple[str, str]:
        clen = n_planes // chunks
        codes = f"""
WITH codes AS MATERIALIZED (
  SELECT vec_id, {code_expr_for(n_planes)} AS code
  FROM embeddings
)
"""
        band_union = "\nUNION ALL\n".join(
            f"SELECT vec_id, code, {c} AS band_id, substr(code, {c * clen + 1}, {clen}) AS band_bits FROM codes"
            for c in range(chunks)
        )
        # MATERIALIZED: codes is referenced once per band and buckets
        # feeds multi-reference downstream CTEs; without it DuckDB
        # inlines and re-evaluates the planes×dim code expression per
        # reference (measured 14.9s -> 0.9s on the s4 oracle at sf0.01)
        return codes, codes + f", buckets AS MATERIALIZED (\n{band_union}\n)\n"

    codes_cte, buckets_cte = ctes_for(planes)
    _, s4_buckets_cte = ctes_for(s4_planes)

    q_cte = """, q AS (
  SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 5
)
"""

    o: dict[str, str] = {}
    s1_sql = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id, {cos('e.embedding', 'q.query_vec')} AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= 10
"""
    # IVF: centroids = first 16 vectors by id (deterministic quantizer,
    # mirrored exactly); assignment/probing by rounded cosine with
    # centroid-id tie-break.
    ivf_cte = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 16
), assign AS (
  SELECT vec_id, centroid_id AS list_id FROM (
    SELECT e.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {cos('e.embedding', 'c.cvec')} DESC, c.centroid_id) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE {cos('e.embedding', 'c.cvec')} IS NOT NULL
  ) WHERE rn = 1
)
"""
    # Trained-quantizer replay: ivf_train rounds each per-dim mean to 6
    # decimals before the float cast precisely so this oracle can walk
    # the IDENTICAL Lloyd trajectory — assignment by rounded cosine
    # (centroid-id tie-break), per-dim ROUND(AVG, 6) means, empty lists
    # keeping their previous centroid.
    def ivf_trained_ctes(iterations: int) -> str:
        parts = [
            """tcent0 AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 16
)"""
        ]

        def assign_sql(name: str, cent: str) -> str:
            return f"""{name} AS (
  SELECT vec_id, centroid_id AS list_id FROM (
    SELECT e.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {cos('e.embedding', 'c.cvec')} DESC, c.centroid_id) AS rn
    FROM embeddings e CROSS JOIN {cent} c
    WHERE {cos('e.embedding', 'c.cvec')} IS NOT NULL
  ) WHERE rn = 1
)"""

        for t in range(1, iterations + 1):
            prev = f"tcent{t - 1}"
            parts.append(assign_sql(f"tassign{t}", prev))
            parts.append(f"""tmeans{t} AS (
  SELECT centroid_id, list(CAST(m AS FLOAT) ORDER BY p) AS cvec FROM (
    SELECT a.list_id AS centroid_id, g.i AS p,
           ROUND(AVG(e.embedding[g.i]::DOUBLE), 6) AS m
    FROM tassign{t} a JOIN embeddings e USING (vec_id)
    CROSS JOIN generate_series(1, {dim}) AS g(i)
    GROUP BY 1, 2
  ) GROUP BY centroid_id
)""")
            parts.append(f"""tcent{t} AS (
  SELECT c.centroid_id, COALESCE(m.cvec, c.cvec) AS cvec
  FROM {prev} c LEFT JOIN tmeans{t} m USING (centroid_id)
)""")
        parts.append(assign_sql("tassign", f"tcent{iterations}"))
        return ",\n".join(parts)

    # Shared PQ train+encode replay (pq_train's 2 joint per-subspace
    # Lloyd iterations — rank-coded seeds, squared-L2 assignment
    # rounded to 9, per-dim ROUND(AVG, 6) means — then pq_codes): the
    # CTE chain up to ``codesf`` (vec_id, sub_id, code), consumed by
    # the s1 ADC/rerank oracles AND s2's 'append' branch (incremental
    # ingest must hash-equal this one-shot encode).
    mq, kq, sub, pq_iters = 8, 16, 8, 2

    def pq_l2sq(a: str, b: str) -> str:
        return (
            f"ROUND(list_sum([({a}[i]::DOUBLE - {b}[i]::DOUBLE) ^ 2 "
            f"for i in generate_series(1, {sub})]), 9)"
        )

    def pq_assign_sql(name: str, cent: str) -> str:
        return f"""{name} AS (
  SELECT vec_id, sub_id, code FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id, sub_id ORDER BY _dist, code) AS rn FROM (
      SELECT s.vec_id, s.sub_id, c.code, {pq_l2sq('s.subvec', 'c.cvec')} AS _dist
      FROM subs s JOIN {cent} c USING (sub_id)
    )
  ) WHERE rn = 1
)"""

    def pq_encode_parts() -> list[str]:
        parts = [
            f"""subs AS MATERIALIZED (
  SELECT vec_id, s.j AS sub_id, embedding[s.j * {sub} + 1 : s.j * {sub} + {sub}] AS subvec
  FROM embeddings CROSS JOIN generate_series(0, {mq - 1}) AS s(j)
)""",
            f"""seeds AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {kq})
)""",
            """pcent0 AS (
  SELECT s.sub_id, sd.code, s.subvec AS cvec
  FROM subs s JOIN seeds sd USING (vec_id)
)""",
        ]
        for t in range(1, pq_iters + 1):
            prev = f"pcent{t - 1}"
            parts.append(pq_assign_sql(f"passign{t}", prev))
            parts.append(f"""pmeans{t} AS (
  SELECT sub_id, code, list(CAST(m AS FLOAT) ORDER BY p) AS cvec FROM (
    SELECT a.sub_id, a.code, g.i AS p,
           ROUND(AVG(s.subvec[g.i]::DOUBLE), 6) AS m
    FROM passign{t} a JOIN subs s USING (vec_id, sub_id)
    CROSS JOIN generate_series(1, {sub}) AS g(i)
    GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
)""")
            parts.append(f"""pcent{t} AS (
  SELECT c.sub_id, c.code, COALESCE(m.cvec, c.cvec) AS cvec
  FROM {prev} c LEFT JOIN pmeans{t} m USING (sub_id, code)
)""")
        parts.append(pq_assign_sql("codesf", f"pcent{pq_iters}"))
        return parts

    # s2 = the index-build stages under one tagged key: SRP bit-codes
    # ('srp16'), seed-quantizer IVF assignment ('ivf16'), and trained
    # 2-iteration k-means IVF assignment ('ivf16t').
    # PCA oracle: exact-integer covariance + 3 unrolled fixed-point
    # power iterations (mirrors similarity.pca_power_iteration —
    # 2^20 shift and norm-256 rescale are exact power-of-two /
    # sub-2^53 double operations in both engines)
    pca_iter_ctes = "".join(
        f""",
pcaw{t} AS (
  SELECT c.j AS dim, CAST(SUM(c.c * v.v) AS BIGINT) AS w
  FROM pcac c JOIN pcav{t - 1} v ON c.k = v.dim GROUP BY c.j
),
pcam{t} AS (SELECT MAX(ABS(w)) AS m FROM pcaw{t}),
pcav{t} AS (
  SELECT dim, CAST(CASE WHEN m = 0 THEN w
                        ELSE FLOOR(w * 256 / m) END AS BIGINT) AS v
  FROM pcaw{t} CROSS JOIN pcam{t}
)"""
        for t in (1, 2, 3)
    )
    pca_ctes = (
        """,
pcax AS MATERIALIZED (
  SELECT list_transform(embedding[1:16],
                        x -> CAST(FLOOR(x::DOUBLE * 1000) AS BIGINT)) AS xq
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) >= 16
    AND len(list_filter(embedding[1:16],
                        x -> x IS NULL OR isnan(x::DOUBLE))) = 0
),
pcap AS (
  SELECT gj.j, gk.k, CAST(SUM(xq[gj.j] * xq[gk.k]) AS BIGINT) AS p
  FROM pcax, generate_series(1, 16) AS gj(j), generate_series(1, 16) AS gk(k)
  GROUP BY 1, 2
),
pcas AS (
  SELECT gj.j, CAST(SUM(xq[gj.j]) AS BIGINT) AS s
  FROM pcax, generate_series(1, 16) AS gj(j) GROUP BY 1
),
pcan AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pcax),
pcac AS MATERIALIZED (
  SELECT p.j - 1 AS j, p.k - 1 AS k,
         CAST(FLOOR((n * p - sj.s * sk.s) / 1048576.0) AS BIGINT) AS c
  FROM pcap p JOIN pcas sj ON sj.j = p.j JOIN pcas sk ON sk.j = p.k
  CROSS JOIN pcan
),
pcav0 AS (
  SELECT g.j - 1 AS dim, CAST(256 AS BIGINT) AS v
  FROM generate_series(1, 16) AS g(j)
)"""
        + pca_iter_ctes
    )
    o["s2_index_assignments"] = (
        codes_cte.rstrip()
        + ","
        + ivf_cte.replace("WITH ", "", 1).rstrip()
        + ",\n"
        + ivf_trained_ctes(2)
        + ",\n"
        + ",\n".join(pq_encode_parts())
        + pca_ctes
        + """
SELECT vec_id, 'srp16' AS index_kind, code FROM codes
UNION ALL
-- 'append': incremental ingest — the engine encodes the two corpus
-- halves SEPARATELY against the frozen trained codebook and unions;
-- the oracle replays train + ONE-SHOT encode, so the hash proves
-- append(half) ⊕ append(half) == encode(all) bit-for-bit
-- 'append' = half-landed + half-appended batch path; 'pqstream' = the
-- landed availableNow StreamingPqCodeSink store over the full corpus;
-- codes are a pure function of vector × frozen codebook, so ONE
-- one-shot-encode replay serves both variants
SELECT vec_id, pqv AS index_kind,
       string_agg(CAST(code AS VARCHAR), ',' ORDER BY sub_id) AS code
FROM codesf
CROSS JOIN (VALUES ('append'), ('pqstream')) AS pqv_t(pqv)
GROUP BY vec_id, pqv
UNION ALL
SELECT vec_id, 'ivf16' AS index_kind, CAST(list_id AS VARCHAR) AS code FROM assign
UNION ALL
SELECT vec_id, 'ivf16t' AS index_kind, CAST(list_id AS VARCHAR) AS code FROM tassign
UNION ALL
SELECT vec_id, 'ivf16s' AS index_kind, CAST(list_id AS VARCHAR) AS code FROM tassign
UNION ALL
SELECT c.vec_id, 'fused' AS index_kind,
       c.code || ':' || CAST(a.list_id AS VARCHAR) AS code
FROM codes c JOIN assign a USING (vec_id)
UNION ALL
SELECT vec_id, 'int8' AS index_kind,
       printf('%.6f', ROUND(scale, 6)) || ':' ||
       array_to_string([CAST(ROUND(x / scale, 0) AS INTEGER) for x in emb_d],
                       ',') AS code
FROM (
  SELECT vec_id, emb_d,
         CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS scale
  FROM (
    SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb_d,
           list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) AS m
    FROM embeddings
  )
)
UNION ALL
SELECT did AS vec_id, 'pooled' AS index_kind,
       -- + 0.0 normalizes IEEE negative zero: ROUND can yield -0.0,
       -- which printf renders '-0.000000' while Spark's float cast
       -- path lands on +0.0 (one component flipped at sf0.1)
       string_agg(printf('%.6f', CAST(CAST(m AS FLOAT) AS DOUBLE) + 0.0),
                  ',' ORDER BY p) AS code
FROM (
  SELECT vec_id % 500 AS did, g.p AS p,
         ROUND(AVG(embedding[g.p]::DOUBLE), 6) AS m
  FROM embeddings CROSS JOIN generate_series(1, 64) AS g(p)
  GROUP BY 1, 2
) pool GROUP BY did
UNION ALL
SELECT CAST(v3.dim AS BIGINT) AS vec_id, 'pca' AS index_kind,
       CAST(v3.v AS VARCHAR) || ':' || CAST(v2.v AS VARCHAR) AS code
FROM pcav3 v3 JOIN pcav2 v2 ON v3.dim = v2.dim"""
    )
    s6_sql = (
        ivf_cte
        + f""", q AS (
  SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 5
), probes AS (
  SELECT query_id, centroid_id AS list_id FROM (
    SELECT q.query_id, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
               ORDER BY {cos('q.query_vec', 'c.cvec')} DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN cent c
    WHERE {cos('q.query_vec', 'c.cvec')} IS NOT NULL
  ) WHERE rn <= 4
), cand AS (
  SELECT a.vec_id, p.query_id
  FROM assign a JOIN probes p ON a.list_id = p.list_id
), scored AS (
  SELECT cand.query_id, cand.vec_id, {cos('e.embedding', 'q.query_vec')} AS cosine
  FROM cand
  JOIN embeddings e ON e.vec_id = cand.vec_id
  JOIN q ON q.query_id = cand.query_id
  WHERE cand.vec_id != cand.query_id
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
  FROM scored
  WHERE cosine IS NOT NULL
) WHERE rank <= 10
"""
    )
    s3_sql = (
        buckets_cte
        + q_cte
        + f""", qb AS (
  SELECT c.vec_id AS query_id, b.band_id, b.band_bits
  FROM codes c JOIN buckets b ON b.vec_id = c.vec_id
  WHERE c.vec_id < 5
), cand AS (
  SELECT DISTINCT b.vec_id, qb.query_id
  FROM buckets b JOIN qb ON b.band_id = qb.band_id AND b.band_bits = qb.band_bits
), scored AS (
  SELECT cand.query_id, cand.vec_id, {cos('e.embedding', 'q.query_vec')} AS cosine
  FROM cand
  JOIN embeddings e ON e.vec_id = cand.vec_id
  JOIN q ON q.query_id = cand.query_id
  WHERE cand.vec_id != cand.query_id
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= 10
"""
    )
    # Tagged union mirroring q["s4_embedding_near_duplicates"]: the
    # capped self-join detector ('self') ⊕ the BIPARTITE semantic
    # decontamination gate ('decon': train = vec_id % 20 != 0 vs eval
    # slice; no bucket cap — the eval side broadcasts in the engine)
    # ⊕ SemDeDup ('semgroup'/'semdrop': 16-cluster assignment by
    # rounded cosine with centroid-id tie-break, within-cluster pairs
    # at cosine ≥ 0.3, recursive min-label components, keep = lowest
    # centroid cosine per group with min-id tie-break — the engine's
    # 4096 cluster cap is not modeled: at n_lists=16 it binds only
    # past ~65k vectors, far above any testdata sf).  WITH RECURSIVE
    # prefixes the whole chain; only sreach recurses.
    o["s4_embedding_near_duplicates"] = (
        s4_buckets_cte.replace("WITH ", "WITH RECURSIVE ", 1)
        + f""", fb AS MATERIALIZED (
  SELECT buckets.* FROM buckets
  JOIN (SELECT band_id, band_bits FROM buckets
        GROUP BY 1, 2 HAVING COUNT(*) <= 4096) ok
  USING (band_id, band_bits)
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM fb a JOIN fb b ON a.band_id = b.band_id AND a.band_bits = b.band_bits
  WHERE a.vec_id < b.vec_id
), dcand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band_id = b.band_id AND a.band_bits = b.band_bits
  WHERE a.vec_id % 20 != 0 AND b.vec_id % 20 = 0
), cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 16
), sasg AS MATERIALIZED (
  SELECT vec_id, centroid_id AS list_id, c2c FROM (
    SELECT e.vec_id, c.centroid_id, {cos('e.embedding', 'c.cvec')} AS c2c,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {cos('e.embedding', 'c.cvec')} DESC, c.centroid_id) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE {cos('e.embedding', 'c.cvec')} IS NOT NULL
  ) WHERE rn = 1
), sp AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sasg a JOIN sasg b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE {cos('ea.embedding', 'eb.embedding')} >= 0.3
), sedges AS (
  SELECT id_a AS src, id_b AS dst FROM sp
  UNION
  SELECT id_b, id_a FROM sp
), sreach AS (
  SELECT src AS node, src AS label FROM sedges
  UNION
  SELECT e.dst AS node, r.label FROM sreach r JOIN sedges e ON e.src = r.node
), smem AS MATERIALIZED (
  SELECT g.vec_id, g.group_id, a.c2c,
         ROW_NUMBER() OVER (PARTITION BY g.group_id
             ORDER BY a.c2c ASC, g.vec_id) AS krn
  FROM (SELECT node AS vec_id, MIN(label) AS group_id
        FROM sreach GROUP BY node) g
  JOIN sasg a USING (vec_id)
)
SELECT 'self' AS variant, id_a, id_b, cosine FROM (
  SELECT cand.id_a, cand.id_b, {cos('ea.embedding', 'eb.embedding')} AS cosine
  FROM cand
  JOIN embeddings ea ON ea.vec_id = cand.id_a
  JOIN embeddings eb ON eb.vec_id = cand.id_b
) WHERE cosine >= 0.4
UNION ALL
SELECT 'decon', id_a, id_b, cosine FROM (
  SELECT dcand.id_a, dcand.id_b, {cos('ea.embedding', 'eb.embedding')} AS cosine
  FROM dcand
  JOIN embeddings ea ON ea.vec_id = dcand.id_a
  JOIN embeddings eb ON eb.vec_id = dcand.id_b
) WHERE cosine >= 0.3
UNION ALL
SELECT 'semgroup', vec_id AS id_a, group_id AS id_b, c2c AS cosine FROM smem
UNION ALL
SELECT 'semdrop', vec_id AS id_a, group_id AS id_b, c2c AS cosine
FROM smem WHERE krn > 1
"""
    )

    # s7: trained product quantization end-to-end — the shared
    # pq_encode_parts() replay (train + encode), then ADC top-k,
    # mirroring knn_pq_adc exactly.
    def l2sq(a: str, b: str) -> str:
        return pq_l2sq(a, b)

    pq_parts = pq_encode_parts()
    pq_parts.append("""q AS (
  SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 5
)""")
    pq_parts.append(f"""qsubs AS (
  SELECT query_id, s.j AS sub_id, query_vec[s.j * {sub} + 1 : s.j * {sub} + {sub}] AS qsub
  FROM q CROSS JOIN generate_series(0, {mq - 1}) AS s(j)
)""")
    pq_parts.append(f"""tables AS (
  SELECT qs.query_id, qs.sub_id, c.code, {l2sq('qs.qsub', 'c.cvec')} AS _d
  FROM qsubs qs JOIN pcent{pq_iters} c USING (sub_id)
)""")
    pq_parts.append("""adc AS (
  SELECT t.query_id, cf.vec_id, ROUND(SUM(t._d), 6) AS adc_dist
  FROM codesf cf JOIN tables t ON cf.sub_id = t.sub_id AND cf.code = t.code
  GROUP BY 1, 2
)""")
    s7_sql = (
        "WITH "
        + ",\n".join(pq_parts)
        + """
SELECT query_id, vec_id, adc_dist, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY adc_dist, vec_id) AS INTEGER) AS rank
  FROM adc WHERE vec_id != query_id
) WHERE rank <= 10
"""
    )
    # s8: the PRODUCTION PQ config — ADC selects each query's top-40
    # candidates (codes only), then ONLY those join back to the raw
    # vectors for exact cosine re-scoring and the final top-10,
    # mirroring knn_pq_adc(rerank=40).
    rr_parts = pq_parts + [
        """radc AS (
  SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rn
    FROM adc WHERE vec_id != query_id
  ) WHERE rn <= 40
)"""
    ]
    s8_sql = (
        "WITH "
        + ",\n".join(rr_parts)
        + f"""
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
  FROM (
    SELECT radc.query_id, radc.vec_id,
           {cos('e.embedding', 'q.query_vec')} AS cosine
    FROM radc
    JOIN embeddings e ON e.vec_id = radc.vec_id
    JOIN q ON q.query_id = radc.query_id
  ) WHERE cosine IS NOT NULL
) WHERE rank <= 10
"""
    )
    # s9: the composed IVF-PQ residual index, replayed end-to-end —
    # ivf_train's 2 Lloyd rounds (tcent CTEs), float residuals
    # (vec − centroid, native FLOAT subtraction both engines), pq_train's
    # 2 joint Lloyd rounds ON THE RESIDUALS, nprobe=8 list probing by
    # rounded query↔centroid cosine, per-(query, list) residual ADC
    # tables, and the exact-cosine rerank of the top-100 — mirroring
    # knn_ivfpq(nprobe=8, rerank=100) in similarity.py.
    def rpq_assign_sql(name: str, cent: str) -> str:
        return f"""{name} AS (
  SELECT vec_id, sub_id, code FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id, sub_id ORDER BY _dist, code) AS rn FROM (
      SELECT s.vec_id, s.sub_id, c.code, {l2sq('s.subvec', 'c.cvec')} AS _dist
      FROM rsubs s JOIN {cent} c USING (sub_id)
    )
  ) WHERE rn = 1
)"""

    r_parts = [
        ivf_trained_ctes(2),
        f"""rres AS MATERIALIZED (
  SELECT e.vec_id, a.list_id,
         [CAST(e.embedding[i] - c.cvec[i] AS FLOAT)
          for i in generate_series(1, {dim})] AS rvec
  FROM embeddings e
  JOIN tassign a USING (vec_id)
  JOIN tcent2 c ON c.centroid_id = a.list_id
)""",
        f"""rsubs AS MATERIALIZED (
  SELECT vec_id, s.j AS sub_id,
         rvec[s.j * {sub} + 1 : s.j * {sub} + {sub}] AS subvec
  FROM rres CROSS JOIN generate_series(0, {mq - 1}) AS s(j)
)""",
        f"""seeds AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {kq})
)""",
        """rpcent0 AS (
  SELECT s.sub_id, sd.code, s.subvec AS cvec
  FROM rsubs s JOIN seeds sd USING (vec_id)
)""",
    ]
    for t in range(1, pq_iters + 1):
        prev = f"rpcent{t - 1}"
        r_parts.append(rpq_assign_sql(f"rpassign{t}", prev))
        r_parts.append(f"""rpmeans{t} AS (
  SELECT sub_id, code, list(CAST(m AS FLOAT) ORDER BY p) AS cvec FROM (
    SELECT a.sub_id, a.code, g.i AS p,
           ROUND(AVG(s.subvec[g.i]::DOUBLE), 6) AS m
    FROM rpassign{t} a JOIN rsubs s USING (vec_id, sub_id)
    CROSS JOIN generate_series(1, {sub}) AS g(i)
    GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
)""")
        r_parts.append(f"""rpcent{t} AS (
  SELECT c.sub_id, c.code, COALESCE(m.cvec, c.cvec) AS cvec
  FROM {prev} c LEFT JOIN rpmeans{t} m USING (sub_id, code)
)""")
    r_parts += [
        rpq_assign_sql("rcodes0", f"rpcent{pq_iters}"),
        """rcodes AS (
  SELECT c.vec_id, r.list_id, c.sub_id, c.code
  FROM rcodes0 c JOIN rres r USING (vec_id)
)""",
        """q AS (
  SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 5
)""",
        f"""qlists AS (
  SELECT query_id, centroid_id AS list_id, cvec FROM (
    SELECT qq.query_id, c.centroid_id, c.cvec,
           ROW_NUMBER() OVER (PARTITION BY qq.query_id
               ORDER BY {cos('qq.query_vec', 'c.cvec')} DESC, c.centroid_id) AS rn
    FROM q qq CROSS JOIN tcent2 c
    WHERE {cos('qq.query_vec', 'c.cvec')} IS NOT NULL
  ) WHERE rn <= 8
)""",
        f"""qres AS (
  SELECT l.query_id, l.list_id,
         [CAST(qq.query_vec[i] - l.cvec[i] AS FLOAT)
          for i in generate_series(1, {dim})] AS qrvec
  FROM qlists l JOIN q qq USING (query_id)
)""",
        f"""rqsubs AS (
  SELECT query_id, list_id, s.j AS sub_id,
         qrvec[s.j * {sub} + 1 : s.j * {sub} + {sub}] AS qsub
  FROM qres CROSS JOIN generate_series(0, {mq - 1}) AS s(j)
)""",
        f"""rtables AS (
  SELECT qs.query_id, qs.list_id, qs.sub_id, c.code,
         {l2sq('qs.qsub', 'c.cvec')} AS _d
  FROM rqsubs qs JOIN rpcent{pq_iters} c USING (sub_id)
)""",
        """radc AS (
  SELECT t.query_id, cf.vec_id, ROUND(SUM(t._d), 6) AS adc_dist
  FROM rcodes cf
  JOIN rtables t ON cf.list_id = t.list_id
                AND cf.sub_id = t.sub_id AND cf.code = t.code
  GROUP BY 1, 2
)""",
        """rcand AS (
  SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rn
    FROM radc WHERE vec_id != query_id
  ) WHERE rn <= 100
)""",
    ]
    s9_sql = (
        "WITH "
        + ",\n".join(r_parts)
        + f"""
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
  FROM (
    SELECT rcand.query_id, rcand.vec_id,
           {cos('e.embedding', 'qq.query_vec')} AS cosine
    FROM rcand
    JOIN embeddings e ON e.vec_id = rcand.vec_id
    JOIN q qq ON qq.query_id = rcand.query_id
  ) WHERE cosine IS NOT NULL
) WHERE rank <= 10
"""
    )
    # One tagged union mirroring q["s1_knn"]: all six kNN paths share
    # the (query_id, vec_id, score, rank) shape — score is cosine for
    # brute/srp/ivf/pq_rerank/ivfpq and approximate squared L2 for the
    # ADC-pure PQ path.
    s1_bodies = [
        ("brute", s1_sql, "cosine"),
        ("srp16", s3_sql, "cosine"),
        ("ivf16", s6_sql, "cosine"),
        ("pq8x16", s7_sql, "adc_dist"),
        ("pq_rerank", s8_sql, "cosine"),
        ("ivfpq", s9_sql, "cosine"),
    ]
    # recall_* rows mirror similarity.recall_at_k_per_query: per-query
    # |method top-10 ∩ brute top-10| / |brute top-10|, rounded 6.
    s1_recalls = "\nUNION ALL\n".join(
        f"""SELECT 'recall_{tagname}' AS variant, b.query_id,
       CAST(-1 AS BIGINT) AS vec_id,
       ROUND(CAST(COUNT(m.vec_id) AS DOUBLE) / COUNT(*), 6) AS score,
       CAST(-1 AS INTEGER) AS rank
FROM ({s1_sql}) b LEFT JOIN ({body}) m
  ON b.query_id = m.query_id AND b.vec_id = m.vec_id AND m.rank <= 10
WHERE b.rank <= 10
GROUP BY b.query_id"""
        for tagname, body, _score in s1_bodies[1:]
    )
    o["s1_knn"] = (
        "\nUNION ALL\n".join(
            f"SELECT '{tagname}' AS variant, query_id, vec_id, "
            f"{score} AS score, rank FROM ({body}) {tagname}_v"
            for tagname, body, score in s1_bodies
        )
        + "\nUNION ALL\n"
        + s1_recalls
    )
    return o


def _dedup_oracles() -> dict[str, str]:
    """DuckDB oracles that MIRROR the dedup algorithms (same md5-based
    hashing), so signatures / buckets / pairs match bit-for-bit."""
    norm = (
        "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    )
    # unigram "shingles" = distinct tokens of the normalized text
    norm_cte = f"""
WITH norm AS (
  SELECT doc_id, list_distinct(string_split({norm}, ' ')) AS toks
  FROM documents
)
"""
    num_hashes, bands, rows = 12, 4, 3
    minhash_exprs = ",\n         ".join(
        f"list_aggregate(list_transform(toks, t -> md5('{i}:' || t)), 'min')"
        for i in range(num_hashes)
    )
    sig_cte = (
        norm_cte
        + f""", sig AS (
  SELECT doc_id, [{minhash_exprs}] AS minhash FROM norm
)
"""
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band_id, md5({expr}) AS band_hash FROM sig".format(
            b=b,
            expr=" || '|' || ".join(f"minhash[{b * rows + r + 1}]" for r in range(rows)),
        )
        for b in range(bands)
    )
    bands_cte = sig_cte + f", bands AS (\n{band_selects}\n)\n"
    # max_bucket_size=1024 mirrored (no-op at oracle scales)
    cand_cte = (
        bands_cte
        + """, fbands AS (
  SELECT bands.* FROM bands
  JOIN (SELECT band_id, band_hash FROM bands
        GROUP BY 1, 2 HAVING COUNT(*) <= 1024) ok
  USING (band_id, band_hash)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM fbands a JOIN fbands b USING (band_id, band_hash)
  WHERE a.doc_id < b.doc_id
)
"""
    )

    o: dict[str, str] = {}
    # d1 ⊕ d2 as one tagged union mirroring q["d1_exact_dedup"]:
    # survivors + duplicate groups (fingerprint rides text, size rides n).
    o["d1_exact_dedup"] = f"""
SELECT 'dedup' AS variant, doc_id, text,
       lang || '|' || source AS info, CAST(n_chars AS BIGINT) AS n
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5({norm}) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
UNION ALL
SELECT 'groups', keep_id, fingerprint, '', CAST(n_docs AS BIGINT) FROM (
  SELECT md5({norm}) AS fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
  FROM documents
  GROUP BY 1 HAVING COUNT(*) > 1
)
UNION ALL
SELECT 'incremental', doc_id, text, lang || '|' || source,
       CAST(n_chars AS BIGINT)
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5({norm})
                               ORDER BY doc_id) AS rn
  FROM documents WHERE doc_id % 2 = 1
) WHERE rn = 1 AND md5({norm}) NOT IN (
  SELECT md5({norm}) FROM documents WHERE doc_id % 2 = 0
)
UNION ALL
SELECT 'ids', MIN(doc_id), '', '', CAST(-1 AS BIGINT)
FROM documents GROUP BY md5({norm})
UNION ALL
-- 'url': URL-level dedup — salted adversarial raw URLs (mixed case,
-- default port, userinfo, tracking params, unsorted query, fragment,
-- %-escape case) and the expected RFC-normal canonical form are both
-- built from doc_id formulas; the engine runs the FULL
-- canonicalize_url_col chain, so the hash proves the algorithm lands
-- exactly on the formula form for every salt
SELECT 'url', MIN(doc_id), canon, arg_min(url, doc_id), COUNT(*)
FROM (
  SELECT doc_id,
    CASE CAST(doc_id % 4 AS INTEGER)
      WHEN 0 THEN 'https://example' || CAST(doc_id % 40 AS VARCHAR)
                  || '.com/p' || CAST(doc_id % 15 AS VARCHAR) || '?b=2&a=1'
      WHEN 1 THEN 'HTTPS://EXAMPLE' || CAST(doc_id % 40 AS VARCHAR)
                  || '.COM:443/p' || CAST(doc_id % 15 AS VARCHAR)
                  || '?a=1&utm_source=x&b=2#frag'
      WHEN 2 THEN 'https://u:pw@example' || CAST(doc_id % 40 AS VARCHAR)
                  || '.com/p' || CAST(doc_id % 15 AS VARCHAR) || '?a=1&b=2'
      ELSE 'http://example' || CAST(doc_id % 40 AS VARCHAR)
           || '.com/q%2f' || CAST(doc_id % 15 AS VARCHAR) END AS url,
    CASE WHEN doc_id % 4 < 3
      THEN 'https://example' || CAST(doc_id % 40 AS VARCHAR)
           || '.com/p' || CAST(doc_id % 15 AS VARCHAR) || '?a=1&b=2'
      ELSE 'http://example' || CAST(doc_id % 40 AS VARCHAR)
           || '.com/q%2F' || CAST(doc_id % 15 AS VARCHAR) END AS canon
  FROM documents
) GROUP BY canon
UNION ALL
-- 'host': host-level stats + gate over the same salted URLs — the
-- oracle rebuilds host and canonical from the formulas; the engine
-- extracts them through the adversarial raw forms.  Gate policy:
-- block when n_docs > 12 or dup share >= 700 permille.
SELECT 'host', first_id, host,
       (CASE WHEN n_docs > 12 OR dup_permille >= 700
             THEN 'block' ELSE 'keep' END)
         || '|u=' || CAST(n_urls AS VARCHAR)
         || '|d=' || CAST(dup_permille AS VARCHAR),
       n_docs
FROM (
  SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_urls,
         CAST((1000 * (COUNT(*) - COUNT(DISTINCT canon))) // COUNT(*)
              AS BIGINT) AS dup_permille,
         CAST(MIN(doc_id) AS BIGINT) AS first_id
  FROM (
    SELECT doc_id,
      'example' || CAST(doc_id % 40 AS VARCHAR) || '.com' AS host,
      CASE WHEN doc_id % 4 < 3
        THEN 'https://example' || CAST(doc_id % 40 AS VARCHAR)
             || '.com/p' || CAST(doc_id % 15 AS VARCHAR) || '?a=1&b=2'
        ELSE 'http://example' || CAST(doc_id % 40 AS VARCHAR)
             || '.com/q%2F' || CAST(doc_id % 15 AS VARCHAR) END AS canon
    FROM documents
  ) GROUP BY host
)
UNION ALL
-- 'robots': RFC 9309 verdicts computed CLOSED-FORM from the fixture
-- formulas (shape = host % 4): 0 = '/p1' prefix disallow rescued by
-- the longer 'Allow: /p12'; 1 = specific-agent group overrides the
-- block-everything * group, '$'-anchored '/p2$' blocks only pn=2;
-- 2 = wildcard '/*4' blocks 4 and 14, 'Allow: /p14' (longer) rescues
-- 14; 3 = empty Disallow allows all.  The engine must parse the raw
-- robots.txt (comments, CRLF, grouping, specificity, longest-match,
-- anchors, wildcards) and land exactly here.
SELECT 'robots', hn * 100 + pn,
       'h' || CAST(hn AS VARCHAR) || '.com',
       '/p' || CAST(pn AS VARCHAR) || '|' || CAST(al AS VARCHAR),
       CAST(al AS BIGINT)
FROM (
  SELECT hn, pn,
    CASE CAST(hn % 4 AS INTEGER)
      WHEN 0 THEN CASE WHEN pn IN (1, 10, 11, 13, 14) THEN 0 ELSE 1 END
      WHEN 1 THEN CASE WHEN pn = 2 THEN 0 ELSE 1 END
      WHEN 2 THEN CASE WHEN pn = 4 THEN 0 ELSE 1 END
      ELSE 1 END AS al
  FROM (SELECT DISTINCT doc_id % 40 AS hn, doc_id % 15 AS pn FROM documents)
)
UNION ALL
-- 'sitemap': crawl-frontier hand-off, closed-form — robots Sitemap:
-- declarations (2 per host) and the <loc> extraction (urlset w/
-- padding+CDATA for even hosts, newline-embedded sitemapindex for
-- odd); the engine must run the real directive/CDATA/trim regex
-- chain and land exactly here
SELECT 'sitemap', hn * 100 + i, 'h' || CAST(hn AS VARCHAR) || '.com',
       'https://h' || CAST(hn AS VARCHAR) || '.com/'
         || CASE i WHEN 0 THEN 'map.xml' ELSE 'map2.xml' END,
       CAST(0 AS BIGINT)
FROM (SELECT DISTINCT doc_id % 40 AS hn FROM documents)
CROSS JOIN (VALUES (0), (1)) AS si(i)
UNION ALL
SELECT 'sitemap', hn * 100 + 10 + j, 'h' || CAST(hn AS VARCHAR) || '.com',
       'https://h' || CAST(hn AS VARCHAR) || '.com/'
         || CASE WHEN hn % 2 = 0 THEN 's' || CAST(j AS VARCHAR)
                 ELSE 'm0.xml' END,
       CAST(1 AS BIGINT)
FROM (SELECT DISTINCT doc_id % 40 AS hn FROM documents)
CROSS JOIN (VALUES (0), (1)) AS sj(j)
WHERE hn % 2 = 0 OR j = 0
UNION ALL
-- 'pref': preference-pair dedup + stats over salted pairs — the
-- fingerprint is md5 of the normalized (prompt, chosen, rejected)
-- triple joined with chr(10); first occurrence by pair_id wins;
-- stats are whitespace token counts, floor(1000*chosen/rejected),
-- and the normalized chosen==rejected degenerate flag
SELECT 'pref', pair_id, fp,
       CAST(pt AS VARCHAR) || '|' || CAST(ct AS VARCHAR)
         || '|' || CAST(CAST(FLOOR(1000.0 * ct / rt) AS BIGINT) AS VARCHAR)
         || '|' || CAST(CASE WHEN nc = nr THEN 1 ELSE 0 END AS VARCHAR),
       n_dups
FROM (
  SELECT MIN(pair_id) AS pair_id, fp,
         CAST(COUNT(*) AS BIGINT) AS n_dups,
         MIN(pt) AS pt, MIN(ct) AS ct, MIN(rt) AS rt,
         MIN(nc) AS nc, MIN(nr) AS nr
  FROM (
    SELECT doc_id AS pair_id,
           md5(np || chr(10) || nc || chr(10) || nr) AS fp,
           len(string_split(np, ' ')) AS pt,
           len(string_split(nc, ' ')) AS ct,
           len(string_split(nr, ' ')) AS rt,
           nc, nr, np
    FROM (
      SELECT doc_id, {norm} AS np,
             trim(regexp_replace(lower(text || ' indeed correct'),
                                 '\\s+', ' ', 'g')) AS nc,
             'no not really' AS nr
      FROM documents
    )
  ) GROUP BY fp
)
"""
    # d4 rows carry the full signature string (the d3 stage) alongside
    # each band row, mirroring the Spark `carry` column.
    sig_band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, array_to_string(minhash, ',') AS minhash_sig, "
        "{b} AS band_id, md5({expr}) AS band_hash FROM sig".format(
            b=b,
            expr=" || '|' || ".join(f"minhash[{b * rows + r + 1}]" for r in range(rows)),
        )
        for b in range(bands)
    )
    o["d4_lsh_band_buckets"] = (
        sig_cte
        + f", sigbands AS (\n{sig_band_selects}\n)\n"
        + "SELECT doc_id, minhash_sig, band_id, band_hash FROM sigbands"
    )
    cos64 = (
        "ROUND(list_sum([ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE"
        " for i in generate_series(1, 64)])"
        " / (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in ea.embedding]))"
        " * sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in eb.embedding]))), 6)"
    )
    o["d5_minhash_near_duplicates"] = (
        cand_cte
        + f""", jac AS MATERIALIZED (
  SELECT id_a, id_b, jaccard FROM (
    SELECT id_a, id_b,
           ROUND(len(list_intersect(x.toks, y.toks))::DOUBLE
                 / len(list_distinct(x.toks || y.toks)), 6) AS jaccard
    FROM cand JOIN norm x ON x.doc_id = id_a JOIN norm y ON y.doc_id = id_b
  ) WHERE jaccard >= 0.6
)
SELECT 'lsh' AS variant, id_a, id_b, jaccard, CAST(NULL AS DOUBLE) AS cosine
FROM jac
UNION ALL
-- lexical ∧ semantic: the same pairs cross-checked by embedding cosine
SELECT 'hybrid', id_a, id_b, jaccard, {cos64}
FROM jac
JOIN embeddings ea ON ea.vec_id = id_a
JOIN embeddings eb ON eb.vec_id = id_b
WHERE {cos64} >= 0.3
"""
    )
    # 3-gram shingles over raw (non-distinct) token sequence
    o["d6_ngram_jaccard_pairs"] = f"""
WITH raw AS (
  -- deterministic 20% audit sample, mirroring the Spark key (the
  -- exact-audit operator is sample-scale by contract)
  SELECT doc_id, string_split({norm}, ' ') AS t FROM documents
  WHERE doc_id % 5 = 0
), sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                  for i in generate_series(1, len(t) - 2)])
              ELSE [array_to_string(t, ' ')] END AS s
  FROM raw
), posting0 AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh
), posting AS (
  SELECT posting0.* FROM posting0
  JOIN (SELECT shingle FROM posting0 GROUP BY 1 HAVING COUNT(*) <= 1024) ok
  USING (shingle)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM posting a JOIN posting b USING (shingle) WHERE a.doc_id < b.doc_id
), jac AS (
  SELECT id_a, id_b, jaccard FROM (
    SELECT id_a, id_b,
           ROUND(len(list_intersect(x.s, y.s))::DOUBLE
                 / len(list_distinct(x.s || y.s)), 6) AS jaccard
    FROM cand JOIN sh x ON x.doc_id = id_a JOIN sh y ON y.doc_id = id_b
  ) WHERE jaccard >= 0.01
)
SELECT 'jaccard' AS variant, id_a, id_b, jaccard AS score FROM jac
UNION ALL
-- order-sensitive Levenshtein audit over the near-dup slice
SELECT 'edit', id_a, id_b,
       ROUND(1.0 - levenshtein(x.text, y.text)::DOUBLE
             / GREATEST(length(x.text), length(y.text)), 6)
FROM jac JOIN documents x ON x.doc_id = id_a
         JOIN documents y ON y.doc_id = id_b
WHERE jaccard >= 0.2
"""
    sim_cte = (
        norm_cte
        + """, votes AS (
  SELECT n.doc_id, bs.bit,
         SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(t.tok), (bs.bit // 4) + 1, 1)) - 1)
                       & (1 << (3 - (bs.bit % 4))) > 0
                  THEN 1 ELSE -1 END) AS v
  FROM norm n
  CROSS JOIN unnest(n.toks) AS t(tok)
  CROSS JOIN generate_series(0, 63) AS bs(bit)
  GROUP BY n.doc_id, bs.bit
), sim AS (
  SELECT doc_id, string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY bit) AS simhash
  FROM votes GROUP BY doc_id
)
"""
    )
    # chunks=8 (library default): max_hamming=6 < 8 chunks keeps the
    # pigeonhole recall guarantee exact
    chunk_union = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {c} AS chunk_id, substr(simhash, {c * 8 + 1}, 8) AS chunk FROM sim"
        for c in range(8)
    )
    # d7 ⊕ d8 as one tagged union mirroring q["d7_simhash"]: signature
    # rows + the bucket-join pair form (incl. default max_bucket_size
    # 1024, a no-op at oracle scales).
    o["d7_simhash"] = (
        sim_cte
        + f""", ch AS (
{chunk_union}
), fch AS (
  SELECT ch.* FROM ch
  JOIN (SELECT chunk_id, chunk FROM ch
        GROUP BY 1, 2 HAVING COUNT(*) <= 1024) ok
  USING (chunk_id, chunk)
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM fch a JOIN fch b USING (chunk_id, chunk)
  WHERE a.doc_id < b.doc_id
)
SELECT 'sig' AS variant, doc_id AS id_a, doc_id AS id_b,
       simhash AS detail, CAST(-1 AS INTEGER) AS hamming
FROM sim
UNION ALL
SELECT 'pairs', id_a, id_b, '', hamming FROM (
  SELECT id_a, id_b,
         CAST(list_sum(list_transform(generate_series(1, 64),
              i -> CASE WHEN substr(sa, i, 1) != substr(sb, i, 1) THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
  FROM pairs
) WHERE hamming <= 6
"""
    )
    # d9 uses the steep 16-hash / 2-band×8-row curve (see
    # weighted_near_duplicates docstring) — its own sig/band/cand CTEs.
    nh9, bands9, rows9 = 16, 2, 8
    minhash9 = ",\n         ".join(
        f"list_aggregate(list_transform(toks, t -> md5('{i}:' || t)), 'min')"
        for i in range(nh9)
    )
    band9_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band_id, md5({expr}) AS band_hash FROM sig".format(
            b=b,
            expr=" || '|' || ".join(f"minhash[{b * rows9 + r + 1}]" for r in range(rows9)),
        )
        for b in range(bands9)
    )
    # max_bucket_size=1024 mirrored: over-cap band buckets are excluded
    # from pairing (a no-op at oracle scales, semantic at corpus scale).
    cand9_cte = (
        norm_cte
        + f""", sig AS (
  SELECT doc_id, [{minhash9}] AS minhash FROM norm
), bands0 AS (
{band9_selects}
), bands AS (
  SELECT bands0.* FROM bands0
  JOIN (SELECT band_id, band_hash FROM bands0
        GROUP BY 1, 2 HAVING COUNT(*) <= 1024) ok
  USING (band_id, band_hash)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band_id, band_hash)
  WHERE a.doc_id < b.doc_id
)
"""
    )
    o["d9_weighted_near_duplicates"] = (
        cand9_cte
        + f""", raw AS (
  SELECT doc_id, string_split({norm}, ' ') AS t FROM documents
), tc AS (
  SELECT doc_id, tok, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(t) AS tok FROM raw) GROUP BY 1, 2
), totals AS (
  SELECT doc_id, SUM(cnt) AS total FROM tc GROUP BY 1
), inter AS (
  SELECT c.id_a, c.id_b, SUM(LEAST(x.cnt, y.cnt)) AS inter
  FROM cand c
  JOIN tc x ON x.doc_id = c.id_a
  JOIN tc y ON y.doc_id = c.id_b AND y.tok = x.tok
  GROUP BY 1, 2
)
SELECT id_a, id_b, mjaccard FROM (
  SELECT i.id_a, i.id_b,
         ROUND(i.inter::DOUBLE / (ta.total + tb.total - i.inter), 6) AS mjaccard
  FROM inter i
  JOIN totals ta ON ta.doc_id = i.id_a
  JOIN totals tb ON tb.doc_id = i.id_b
) WHERE mjaccard >= 0.8
"""
    )
    # d10: transitive closure of d9's pairs — recursive min-label
    # reachability (group id = component minimum).  `WITH RECURSIVE`
    # prefixes the whole chain; only `reach` recurses.
    d9_body = o["d9_weighted_near_duplicates"]
    assert d9_body.lstrip().startswith("WITH ")
    o["d10_near_duplicate_groups"] = (
        d9_body.replace("WITH ", "WITH RECURSIVE ", 1).replace(
            """SELECT id_a, id_b, mjaccard FROM (
  SELECT i.id_a, i.id_b,
         ROUND(i.inter::DOUBLE / (ta.total + tb.total - i.inter), 6) AS mjaccard
  FROM inter i
  JOIN totals ta ON ta.doc_id = i.id_a
  JOIN totals tb ON tb.doc_id = i.id_b
) WHERE mjaccard >= 0.8""",
            """, mp AS (
  SELECT id_a, id_b FROM (
    SELECT i.id_a, i.id_b,
           ROUND(i.inter::DOUBLE / (ta.total + tb.total - i.inter), 6) AS mjaccard
    FROM inter i
    JOIN totals ta ON ta.doc_id = i.id_a
    JOIN totals tb ON tb.doc_id = i.id_b
  ) WHERE mjaccard >= 0.8
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM mp
  UNION
  SELECT id_b, id_a FROM mp
), reach AS (
  SELECT src AS node, src AS label FROM edges
  UNION
  SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, MIN(label) AS group_id FROM reach GROUP BY node""",
        )
    )
    return o
