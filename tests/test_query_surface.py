"""Interactive-query surface tests, mirroring the reference's
integration scenarios (``InteractiveQueriesIntegrationTest.java``):
6-symbol universe {CFLT, ZELK, GOOGL, SHMDF, TWTR, MSFT}, key query,
multikey over all 6, inclusive range CFLT..ZELK returning all 6,
filtered range selecting exactly CFLT.
"""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from kafkastreamsinteractivequeries_spark.operators.aggregation import aggregate_transactions
from kafkastreamsinteractivequeries_spark.plans.queries import (
    FilteredRangeQuery,
    KeyQuery,
    MultiKeyQuery,
    QueryResponse,
    RangeQuery,
    create_range_query,
)
from kafkastreamsinteractivequeries_spark.plans.service import InteractiveQueryService

SYMBOLS = ["CFLT", "ZELK", "GOOGL", "SHMDF", "TWTR", "MSFT"]


@pytest.fixture(scope="module")
def service(spark):
    # Fixture B from FIXTURES.md: CFLT gets 5 buys×1000 + 5 sells×500
    # (deterministic buys=5000 > sells=2500); others get Fixture A
    # records: 4 × amount=100, buy = (i % 2 == 0).
    rows = []
    for sym in SYMBOLS:
        if sym == "CFLT":
            rows += [(sym, True, 1000.0, 10) for _ in range(5)]
            rows += [(sym, False, 500.0, 10) for _ in range(5)]
        else:
            rows += [(sym, i % 2 == 0, 100.0, 5) for i in range(4)]
    txns = spark.createDataFrame(rows, ["symbol", "buy", "amount", "number_shares"])
    return InteractiveQueryService(aggregate_transactions(txns))


def symbols_of(df):
    return {r.symbol for r in df.collect()}


def test_aggregation_semantics(service):
    row = service.execute(KeyQuery.with_key("CFLT")).collect()[0]
    assert row.buys == 5000.0 and row.sells == 2500.0 and row.number_shares == 100


def test_key_query_exactly_one(service):
    # InteractiveQueriesIntegrationTest.java:123-125
    rows = service.execute(KeyQuery.with_key("CFLT")).collect()
    assert len(rows) == 1 and rows[0].symbol == "CFLT"


def test_key_query_missing_key(service):
    assert service.execute(KeyQuery.with_key("NOPE")).count() == 0


def test_multikey_all_six(service):
    # InteractiveQueriesIntegrationTest.java:309-312
    assert symbols_of(service.execute(MultiKeyQuery.with_keys(SYMBOLS))) == set(SYMBOLS)


def test_range_inclusive_all_six(service):
    # lower='CFLT', upper='ZELK' inclusive lexicographic → all 6
    # (InteractiveQueriesIntegrationTest.java:231-233)
    assert symbols_of(service.execute(RangeQuery.with_range("CFLT", "ZELK"))) == set(SYMBOLS)


def test_range_bounds_inclusive_endpoints(service):
    got = symbols_of(service.execute(RangeQuery.with_range("CFLT", "MSFT")))
    assert got == {"CFLT", "GOOGL", "MSFT"}


def test_range_lower_only(service):
    got = symbols_of(service.execute(RangeQuery.with_lower_bound("SHMDF")))
    assert got == {"SHMDF", "TWTR", "ZELK"}


def test_range_upper_only(service):
    got = symbols_of(service.execute(RangeQuery.with_upper_bound("GOOGL")))
    assert got == {"CFLT", "GOOGL"}


def test_full_scan(service):
    assert symbols_of(service.execute(RangeQuery.with_no_bounds())) == set(SYMBOLS)


def test_filtered_range_symbol_eq(service):
    # filter `@.symbol == 'CFLT'` → exactly CFLT
    # (InteractiveQueriesIntegrationTest.java:273-276)
    q = FilteredRangeQuery.with_bounds("CFLT", "ZELK").predicate("@.symbol == 'CFLT'")
    rows = service.execute(q).collect()
    assert len(rows) == 1 and rows[0].symbol == "CFLT"


def test_filtered_range_buys_gt_sells(service):
    q = FilteredRangeQuery.with_bounds("CFLT", "ZELK").predicate("@.buys > @.sells")
    assert symbols_of(service.execute(q)) == {"CFLT"}


def test_create_range_query_dispatch():
    # QueryUtils.createRangeQuery semantics incl. blank-as-absent
    # (QueryUtils.java:15-46)
    assert create_range_query(None, None) == RangeQuery(None, None)
    assert create_range_query(" ", "") == RangeQuery(None, None)
    assert create_range_query("A", None) == RangeQuery("A", None)
    assert create_range_query(None, "B") == RangeQuery(None, "B")
    assert create_range_query("A", "B") == RangeQuery("A", "B")
    fq = create_range_query("A", "B", "@.buys > 1")
    assert isinstance(fq, FilteredRangeQuery) and fq.predicate_src == "@.buys > 1"


def test_query_response_envelope(service):
    resp = service.execute_response(KeyQuery.with_key("CFLT"))
    assert resp.error_message is None
    assert len(resp.result) == 1 and resp.result[0]["symbol"] == "CFLT"
    assert resp.host_information == "spark-driver"
    assert "stock-aggregation-state-store" in resp.execution_info


def test_execute_response_default_collect_limit_is_bounded(service):
    """The Python API default must cap the driver collect (unbounded is
    an explicit opt-in): signature default == the REST layer's 10k cap,
    and a small explicit limit truncates."""
    import inspect

    from kafkastreamsinteractivequeries_spark.plans.queries import RangeQuery
    from kafkastreamsinteractivequeries_spark.plans.service import (
        InteractiveQueryService,
    )

    sig = inspect.signature(InteractiveQueryService.execute_response)
    assert sig.parameters["collect_limit"].default == 10_000
    capped = service.execute_response(RangeQuery(None, None), collect_limit=2)
    assert len(capped.result) == 2
    full = service.execute_response(RangeQuery(None, None), collect_limit=None)
    assert len(full.result) > 2


def test_key_query_prunes_partitions(spark, tmp_path):
    # Point lookups must prune: write the serving table partitioned by
    # symbol and check the scan only touches the matching partition —
    # the Spark-native analog of queryMetadataForKey single-partition
    # routing (StockController.java:364-375).
    path = str(tmp_path / "serving")
    rows = [(s, float(i), float(i), i) for i, s in enumerate(SYMBOLS)]
    df = spark.createDataFrame(rows, ["symbol", "buys", "sells", "number_shares"])
    df.write.partitionBy("symbol").parquet(path)
    q = KeyQuery.with_key("CFLT").apply(spark.read.parquet(path))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "CFLT" in plan
    assert q.count() == 1


@pytest.mark.slow  # >10 s; runs in the full suite
def test_example_pipeline_runs_end_to_end(spark, tmp_path):
    # keep the demo script from rotting: run it in-process at sf0.001
    import runpy
    import sys

    argv = sys.argv
    sys.argv = ["example_pipeline.py", sf_dir_default(), str(tmp_path / "out")]
    try:
        runpy.run_path("scripts/example_pipeline.py", run_name="__main__")
    finally:
        sys.argv = argv


def sf_dir_default():
    import os

    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# The driver snapshot the batch service reads from
# ---------------------------------------------------------------------------

SNAPSHOT_INFO = "driver snapshot of 6 rows"


def _today(service, query, limit=10_000):
    """Rows as the service read them before its driver snapshot: a
    Spark job over the query's frame."""
    df = query.apply(service.serving_df, key_col=service.key_col)
    return sorted((r.asDict() for r in df.limit(limit).collect()), key=repr)


def _info(resp):
    return resp.execution_info["stock-aggregation-state-store"]


def _in_group(spark, group, read):
    """``read()`` with the jobs it starts in job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _jobs_of(spark, *groups):
    """The job ids of each group, once the status listener has seen
    them all: it sees events in order, so when a job started after
    them appears, the groups are final."""
    import time

    tracker = spark.sparkContext.statusTracker()
    _in_group(spark, "flush", lambda: spark.range(1).count())
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup("flush") and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("flush")
    return [list(tracker.getJobIdsForGroup(g)) for g in groups]


ARROW_INFO = [SNAPSHOT_INFO, "arrow filter"]
FRAME_INFO = [SNAPSHOT_INFO, "spark frame"]


def test_batch_service_reads_run_no_spark_job(spark, service):
    # The first read collects the frame once (the positive control: its
    # jobs show the tracking works); every read after it is answered
    # from the snapshot.  Filtered reads run in Arrow and never hand the
    # rows back to Spark; key reads do, with no job.
    svc = InteractiveQueryService(service.serving_df)

    def in_group(group, read):
        return _in_group(spark, group, read)

    first = in_group("snapshot-build", lambda: svc.execute_page(
        FilteredRangeQuery.with_bounds("CFLT", "ZELK").predicate("@.buys > @.sells"), 1)[0])
    assert [r["symbol"] for r in first.result] == ["CFLT"] and _info(first)[:2] == ARROW_INFO

    def filtered_reads():
        out = [
            svc.execute_response(FilteredRangeQuery.with_bounds("CFLT", "ZELK").predicate("@.buys > @.sells")),
            svc.execute_page(FilteredRangeQuery.with_bounds(None, None).predicate("@.buys > 0"), 2, after="CFLT")[0],
            svc.execute_page(FilteredRangeQuery.with_bounds("GOOGL", None).predicate("$.[?(@.sells <= 200)]"), 2)[0],
            svc.execute_page(FilteredRangeQuery.with_bounds("GOOGL", None).predicate("$.[?(@.sells <= 200)]"), 2,
                             after="MSFT")[0],
        ]
        return [(r.error_message, [row["symbol"] for row in r.result], _info(r)[:-1]) for r in out]

    def reads():
        out = [
            svc.execute_response(KeyQuery.with_key("ZELK")),
            svc.execute_response(MultiKeyQuery.with_keys(["MSFT", "CFLT", "NOPE"])),
            svc.execute_response(RangeQuery.with_no_bounds()),
            svc.execute_response(RangeQuery.with_lower_bound("MSFT")),
            svc.execute_response(RangeQuery.with_upper_bound("MSFT")),
            svc.execute_response(RangeQuery.with_range("CFLT", "MSFT")),
            svc.execute_page(RangeQuery.with_no_bounds(), 4)[0],
            svc.execute_page(RangeQuery.with_no_bounds(), 4, after="MSFT")[0],
        ]
        return [(r.error_message, [row["symbol"] for row in r.result], _info(r)[:-1]) for r in out]

    assert in_group("snapshot-filters", filtered_reads) == [
        (None, ["CFLT"], ARROW_INFO),
        (None, ["GOOGL", "MSFT"], ARROW_INFO),
        (None, ["GOOGL", "MSFT"], ARROW_INFO),
        (None, ["SHMDF", "TWTR"], ARROW_INFO),
    ]
    assert svc._snapshot._frame is None
    assert in_group("snapshot-reads", reads) == [
        (None, ["ZELK"], FRAME_INFO),
        (None, ["CFLT", "MSFT"], FRAME_INFO),
        (None, sorted(SYMBOLS), [SNAPSHOT_INFO]),
        (None, ["MSFT", "SHMDF", "TWTR", "ZELK"], [SNAPSHOT_INFO]),
        (None, ["CFLT", "GOOGL", "MSFT"], [SNAPSHOT_INFO]),
        (None, ["CFLT", "GOOGL", "MSFT"], [SNAPSHOT_INFO]),
        (None, ["CFLT", "GOOGL", "MSFT", "SHMDF"], [SNAPSHOT_INFO]),
        (None, ["SHMDF", "TWTR", "ZELK"], [SNAPSHOT_INFO]),
    ]
    assert in_group("lazy-read", lambda: svc.execute(KeyQuery.with_key("CFLT")).count()) == 1
    lazy, build, filters, reads = _jobs_of(spark, "lazy-read", "snapshot-build", "snapshot-filters", "snapshot-reads")
    assert lazy and build and filters == [] and reads == []


def test_snapshot_above_the_local_relation_threshold_scans_with_spark(spark, service):
    # Above the threshold Spark keeps the snapshot's Arrow batches as an
    # RDD on the driver, not a LocalRelation: key, multikey and regex
    # filtered reads still answer from the snapshot, but each runs a
    # Spark job, while ranges, their pages and Arrow filters still run
    # none and never build that copy.
    key = "spark.sql.execution.arrow.localRelationThreshold"
    regex = FilteredRangeQuery.with_bounds(None, None).predicate("@.symbol =~ '/^[GM].*/'")
    spark.conf.set(key, "1")
    try:
        svc = InteractiveQueryService(service.serving_df)
        svc.execute_response(RangeQuery.with_no_bounds())  # builds the snapshot

        def no_frame_reads():
            return [
                svc.execute_response(RangeQuery.with_range("CFLT", "MSFT")),
                svc.execute_page(RangeQuery.with_no_bounds(), 4, after="MSFT")[0],
                svc.execute_page(FilteredRangeQuery.with_bounds(None, None).predicate("@.buys > 0"), 2, after="CFLT")[0],
            ]

        def frame_reads():
            return [
                svc.execute_response(KeyQuery.with_key("ZELK")),
                svc.execute_response(MultiKeyQuery.with_keys(["MSFT", "CFLT", "NOPE"])),
                svc.execute_response(regex),
            ]

        got = _in_group(spark, "rdd-range-reads", no_frame_reads)
        frame_built = svc._snapshot._frame is not None
        got += _in_group(spark, "rdd-frame-reads", frame_reads)
    finally:
        spark.conf.unset(key)
    assert not frame_built
    assert [(r.error_message, [row["symbol"] for row in r.result], _info(r)[:-1]) for r in got] == [
        (None, ["CFLT", "GOOGL", "MSFT"], [SNAPSHOT_INFO]),
        (None, ["SHMDF", "TWTR", "ZELK"], [SNAPSHOT_INFO]),
        (None, ["GOOGL", "MSFT"], ARROW_INFO),
        (None, ["ZELK"], FRAME_INFO),
        (None, ["CFLT", "MSFT"], FRAME_INFO),
        (None, ["GOOGL", "MSFT"], FRAME_INFO),
    ]
    assert got[-1].result == [r.asDict() for r in service.execute(regex).orderBy("symbol").collect()]
    frame_jobs, range_jobs = _jobs_of(spark, "rdd-frame-reads", "rdd-range-reads")
    assert frame_jobs and range_jobs == []


def test_concurrent_first_reads_build_one_snapshot(service, monkeypatch):
    import threading
    import time

    from kafkastreamsinteractivequeries_spark.plans import service as service_module

    built = []

    class Slow(service_module._DriverSnapshot):
        def __init__(self, *args):
            built.append(args)
            time.sleep(0.3)  # the other readers arrive while this one builds
            super().__init__(*args)

    monkeypatch.setattr(service_module, "_DriverSnapshot", Slow)
    svc = InteractiveQueryService(service.serving_df)
    start = threading.Barrier(6)
    got = [None] * 6

    def read(i):
        start.wait()
        got[i] = svc.execute_response(RangeQuery.with_range("CFLT", "MSFT"))

    threads = [threading.Thread(target=read, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert len(built) == 1
    for resp in got:
        assert resp.error_message is None and _info(resp)[0] == SNAPSHOT_INFO
        assert [r["symbol"] for r in resp.result] == ["CFLT", "GOOGL", "MSFT"]


@pytest.mark.parametrize(
    "rows, schema, query",
    [
        # Arrow and Spark convert timestamps differently
        (
            [("A", 1.0, datetime(2024, 1, 1, 9, 30)), ("B", 2.0, datetime(2024, 1, 2, 10, 0))],
            "symbol string, buys double, seen timestamp",
            RangeQuery.with_no_bounds(),
        ),
        # a key Spark compares as a number: 9 <= 10, though "9" > "10"
        ([(10, 1.0), (9, 2.0), (100, 3.0)], "symbol long, buys double", RangeQuery.with_range("9", "10")),
    ],
    ids=["timestamp-column", "long-key"],
)
def test_frames_a_snapshot_cannot_hold_stay_on_spark(spark, rows, schema, query):
    svc = InteractiveQueryService(spark.createDataFrame(rows, schema))
    for _ in range(2):
        resp = svc.execute_response(query)
        assert resp.error_message is None and _info(resp)[0] == "spark frame"
        assert len(resp.result) == 2 and sorted(resp.result, key=repr) == _today(svc, query)
    assert svc._snapshot is None


@pytest.mark.parametrize(
    "refusal",
    [
        RuntimeError(
            "Job aborted due to stage failure: Total size of serialized results of 1 tasks "
            "(3.1 MiB) is bigger than spark.driver.maxResultSize (1024.0 KiB)"
        ),
        MemoryError(),  # the collect fit maxResultSize but not the Python heap
    ],
    ids=["maxResultSize", "MemoryError"],
)
def test_refused_collect_serves_from_spark_without_retrying(service, monkeypatch, refusal):
    from pyspark.sql.classic.dataframe import DataFrame

    calls = []

    def refused(self):
        calls.append(self)
        raise refusal

    monkeypatch.setattr(DataFrame, "toArrow", refused)
    svc = InteractiveQueryService(service.serving_df)
    for query in (RangeQuery.with_range("CFLT", "MSFT"), KeyQuery.with_key("ZELK"), RangeQuery.with_no_bounds()):
        resp = svc.execute_response(query)
        assert resp.error_message is None and _info(resp)[0] == "spark frame"
        assert sorted(resp.result, key=repr) == _today(svc, query)
    assert len(calls) == 1


# Run in its own session: ``spark.driver.maxResultSize`` is fixed when
# the SparkContext starts.  200 rows of 20 KB exceed its 1 MB; the range
# read picks 23 of them.
_REFUSED_COLLECT_SCRIPT = """
import json
from pyspark.sql import SparkSession
from kafkastreamsinteractivequeries_spark.plans.queries import RangeQuery
from kafkastreamsinteractivequeries_spark.plans.service import InteractiveQueryService

spark = (SparkSession.builder.master("local[2]").config("spark.driver.maxResultSize", "1m")
         .config("spark.driver.memory", "1g").config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("FATAL")
df = spark.range(0, 200, numPartitions=4).selectExpr("cast(id as string) as symbol", "repeat('x', 20000) as pad")
svc = InteractiveQueryService(df)
out = []
for _ in range(2):
    resp = svc.execute_response(RangeQuery.with_range("10", "12"))
    out.append([resp.error_message, sorted(r["symbol"] for r in resp.result),
                resp.execution_info["stock-aggregation-state-store"][0], svc._on_frame])
print(json.dumps(out))
spark.stop()
"""


@pytest.mark.slow
def test_collect_spark_refuses_for_max_result_size_serves_from_spark():
    # the refusal Spark really raises, not a stand-in message
    import json
    import subprocess
    import sys

    done = subprocess.run(
        [sys.executable, "-c", _REFUSED_COLLECT_SCRIPT], capture_output=True, text=True, timeout=600
    )
    assert done.returncode == 0, done.stderr[-3000:]
    want = sorted(["10", "11", "12"] + [f"1{a}{b}" for a in "01" for b in "0123456789"])
    assert json.loads(done.stdout.strip().splitlines()[-1]) == [[None, want, "spark frame", True]] * 2


def test_failed_snapshot_build_is_retried_by_the_next_read(service, monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame

    to_arrow, calls = DataFrame.toArrow, []

    def flaky(self):
        calls.append(self)
        if len(calls) == 1:
            raise RuntimeError("executor lost")
        return to_arrow(self)

    monkeypatch.setattr(DataFrame, "toArrow", flaky)
    svc = InteractiveQueryService(service.serving_df)
    failed = svc.execute_response(KeyQuery.with_key("CFLT"))
    assert failed.result is None and "executor lost" in failed.error_message
    resp = svc.execute_response(KeyQuery.with_key("CFLT"))
    assert resp.error_message is None and _info(resp)[0] == SNAPSHOT_INFO
    assert resp.result == _today(svc, KeyQuery.with_key("CFLT")) and len(calls) == 2


def test_snapshot_serves_null_keys_where_spark_does(spark):
    # Spark's orderBy puts null keys first, and only an unbounded range
    # matches them; a page that ends on a null key has no cursor.
    df = spark.createDataFrame(
        [(None, 1.0), ("B", 2.0), (None, 3.0), ("A", 4.0), ("", 5.0)], "symbol string, buys double"
    ).repartition(2)
    svc = InteractiveQueryService(df)
    unbounded = svc.execute_response(RangeQuery.with_no_bounds())
    assert _info(unbounded)[0] == "driver snapshot of 5 rows"
    assert sorted(unbounded.result, key=repr) == _today(svc, RangeQuery.with_no_bounds())
    assert [r["symbol"] for r in unbounded.result] == [None, None, "", "A", "B"]
    assert None not in [r["symbol"] for r in svc.execute_response(RangeQuery.with_upper_bound("B")).result]
    page, cursor = svc.execute_page(RangeQuery.with_no_bounds(), 3)
    assert [r["symbol"] for r in page.result] == [None, None, ""] and cursor == ""
    page, cursor = svc.execute_page(RangeQuery.with_no_bounds(), 2)
    assert sorted(r["buys"] for r in page.result) == [1.0, 3.0] and cursor is None
    page, cursor = svc.execute_page(FilteredRangeQuery.with_bounds(None, None).predicate("@.buys > 2"), 2)
    assert [(r["symbol"], r["buys"]) for r in page.result] == [(None, 3.0), ("", 5.0)] and cursor == ""
