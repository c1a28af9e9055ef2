"""Batch sources: parquet table loaders over the driver testdata layout.

Replaces the reference's Kafka topic source (T1/T2 in SURVEY.md §2.1,
reference ``streams/KafkaStreamsService.java:78-80`` +
``streams/SerdeUtil.java:151-167``) for batch runs; the streaming analog
lives in ``streaming.pipeline``.

Scale note: ``spark.read.parquet`` gives columnar scans with predicate
pushdown and partition pruning for free; all loaders return lazy
DataFrames so Catalyst sees the full plan (scan + downstream filters)
before choosing the physical strategy.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession, functions as F


# Testdata columns physically stored as parquet TIMESTAMP(NANOS): Spark
# reads them as long nanos (spark.sql.legacy.parquet.nanosAsLong) and the
# loader converts to TimestampType at microsecond precision — the same
# truncation DuckDB applies when fetching TIMESTAMP_NS, keeping the
# oracle comparison exact.
_NANO_TS_COLUMNS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


# Per-session memo of the LAZY loader DataFrames, keyed weakly on the
# session (a dead session must not pin its JVM-side plans).  This is
# PLAN reuse, not result caching: the returned DataFrame is an
# unexecuted logical plan over the parquet files — every action on it
# (or on anything derived from it) still computes from storage.  What
# it removes is a measured ~80 ms of fixed driver work PER CALL
# (directory listing + parquet footer/schema read + the conf
# round-trip), paid hundreds of times per bench pass by query builders
# that each re-loaded their inputs — and it lets ``spread``'s
# partition-probe memo (an attribute on the DataFrame object) hit
# across queries, saving another ~70 ms analysis round-trip per probe.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)

# (semanticHash -> partition count) per session: see ``spread``.
_SPREAD_PROBE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _path_fingerprint(path: str) -> tuple:
    """Cheap on-disk identity of a parquet file/dir: (mtime_ns, size) of
    the file, or (entry count, max child mtime_ns) of the directory.
    One or a handful of stat calls — folded into the table-memo key so a
    regenerated corpus at the same path (a harness rewriting parquet
    in-process) can never be served a stale cached plan/file listing."""
    try:
        st = os.stat(path)
    except OSError:
        return ("missing",)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    mt, n = 0, 0
    with os.scandir(path) as it:
        for e in it:
            n += 1
            try:
                mt = max(mt, e.stat().st_mtime_ns)
            except OSError:
                pass
    return (n, mt)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (``{sf_dir}/{name}.parquet``).

    Self-sufficient under ANY session: the testdata stores timestamps as
    parquet TIMESTAMP(NANOS), which vanilla Spark rejects outright
    (PARQUET_TYPE_ILLEGAL) unless ``nanosAsLong`` is on.  It is a
    runtime-settable SQLConf, so set it here rather than relying on the
    session builder having done so.

    The returned DataFrame is memoized per (session, path) together
    with the path's on-disk fingerprint — it is a lazy plan, identical
    on every call, and callers only ever derive from it (DataFrames are
    immutable).  The fingerprint (mtime + size / entry count) guards
    the documented one-immutable-corpus-per-process assumption: a
    corpus regenerated in-process at the same path replaces its entry
    instead of silently reusing a stale file listing, so the memo holds
    one entry per path however often the path is rewritten.
    """
    per_session = _TABLE_MEMO.setdefault(spark, {})
    path = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    fingerprint = _path_fingerprint(path)
    got = per_session.get(path)
    if got is not None and got[0] == fingerprint:
        return got[1]
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in _NANO_TS_COLUMNS.get(name, ()):
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            # integer `div` (not `/`): nanos exceed double's 2^53 mantissa
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    per_session[path] = (fingerprint, df)
    return df


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Repartition a narrow input whose scan yields fewer tasks than
    cores, so per-row expression work (hashing, vector math, Python
    batches) parallelizes.

    Single-row-group parquet files — all the local testdata — scan as
    ONE task no matter what split hints are set, serializing everything
    above the scan.  At cluster scale inputs have many splits and this
    is a no-op; locally it costs one tiny shuffle of the narrow table.

    Streaming DataFrames pass through untouched: the partition probe
    (``df.rdd``) is illegal on a stream, and micro-batch parallelism is
    the source's concern — so the same operators run unchanged in
    stream and batch mode.

    The probe result is memoized on the DataFrame object: ``df.rdd``
    builds a fresh RDD conversion (plan analysis) per call, which is a
    per-query planner overhead when the SAME long-lived DataFrame is
    spread on every request in a hot serving loop.  A DataFrame's
    partitioning never changes once defined, so the cache is safe.

    For FRESH DataFrame objects carrying a previously-seen plan (a
    query builder re-constructing the same pipeline — every bench rep,
    every serving request), the probe is additionally memoized per
    session by ``semanticHash()``: the hash costs one analysis
    round-trip (~33 ms measured) where the RDD conversion costs a full
    physical-planning one (~85 ms), so repeat constructions skip the
    expensive half.  The count is a pure function of the (immutable)
    plan + input files, so the memo is exact under the documented
    one-immutable-corpus-per-process contract; a hash collision — or a
    corpus regenerated in-process with an identical plan hash — could
    only mis-size the repartition decision, never change values
    (``load_table`` itself fingerprints the on-disk files, so stale
    PLANS are impossible; only this partition-count hint can lag).
    """
    if df.isStreaming:
        return df
    target = partitions or df.sparkSession.sparkContext.defaultParallelism
    n = getattr(df, "_spread_partition_probe", None)
    if n is None:
        per_session = _SPREAD_PROBE_MEMO.setdefault(df.sparkSession, {})
        h = df.semanticHash()
        n = per_session.get(h)
        if n is None:
            n = df.rdd.getNumPartitions()
            per_session[h] = n
        df._spread_partition_probe = n
    if n < target:
        return df.repartition(target)
    return df


ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = ALL_TABLES
) -> None:
    """Register every testdata table as a temp view so the whole engine
    is reachable from ``spark.sql(...)`` — views are lazy DataFrames,
    so SQL queries get the same pushdown/pruning as the DataFrame API."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def transactions_from_events(events: DataFrame) -> DataFrame:
    """Map the testdata ``events`` stream table onto the reference's
    ``StockTransaction`` record shape (FIXTURES.md §5).

    Reference record: (symbol, buy, amount, number_shares, event_time)
    — ``model/StockTransaction.java:3-8``.  Deterministic mapping:

    - symbol       := event_type            (grouping/routing key)
    - buy          := user_id % 2 == 0      (deterministic buy/sell flag)
    - amount       := value
    - number_shares := props ->> '$.k'       (JSON field, mirrors the
      reference's JSON-valued records that make JsonPath predicates
      possible — ``store/CustomQueryStore.java:79-95``)
    - event_time   := ts

    ``get_json_object`` stays JVM-side (codegen'd), no UDF.
    """
    return events.select(
        F.col("event_type").alias("symbol"),
        (F.col("user_id") % 2 == 0).alias("buy"),
        F.col("value").alias("amount"),
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("number_shares"),
        F.col("ts").alias("event_time"),
    )
