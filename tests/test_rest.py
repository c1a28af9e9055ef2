"""REST serving-layer tests via Flask's test client — the analog of
the reference's controller integration tests
(InteractiveQueriesIntegrationTest.java:100-320), minus Testcontainers:
key query, multikey, range variants, filtered range (incl. the exact
`@.symbol == '...'` scenario), error envelopes, status endpoints.
"""

import pytest

from kafkastreamsinteractivequeries_spark.operators.aggregation import (
    aggregate_transactions,
)
from kafkastreamsinteractivequeries_spark.plans.service import (
    InteractiveQueryService,
    LiveSnapshotQueryService,
)
from kafkastreamsinteractivequeries_spark.serving.rest import create_app
from kafkastreamsinteractivequeries_spark.sources.tables import (
    load_table,
    transactions_from_events,
)
from kafkastreamsinteractivequeries_spark.streaming.pipeline import ManifestServingSink

flask = pytest.importorskip("flask")


@pytest.fixture(scope="module")
def client(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    agg = aggregate_transactions(transactions_from_events(events))
    app = create_app(InteractiveQueryService(agg))
    app.config["TESTING"] = True
    return app.test_client()


def test_keyquery(client):
    r = client.get("/streams-iq/keyquery/purchase")
    assert r.status_code == 200
    body = r.get_json()
    assert body["errorMessage"] is None
    assert len(body["result"]) == 1
    assert body["result"][0]["symbol"] == "purchase"
    assert body["hostInformation"] == "spark-driver"
    assert "stock-aggregation-state-store" in body["executionInfo"]


def test_keyquery_missing_key_empty_result(client):
    body = client.get("/streams-iq/keyquery/NOPE").get_json()
    assert body["errorMessage"] is None and body["result"] == []


def test_multikey(client):
    body = client.get("/streams-iq/multikey/click,purchase,signup").get_json()
    assert sorted(r["symbol"] for r in body["result"]) == ["click", "purchase", "signup"]


def test_range_variants(client):
    full = client.get("/streams-iq/range").get_json()
    assert len(full["result"]) == 5  # click error purchase signup view
    bounded = client.get("/streams-iq/range?lower=click&upper=signup").get_json()
    assert sorted(r["symbol"] for r in bounded["result"]) == [
        "click", "error", "purchase", "signup",
    ]  # inclusive bounds (QueryUtils.java:19-27)
    lower_only = client.get("/streams-iq/range?lower=error").get_json()
    assert all(r["symbol"] >= "error" for r in lower_only["result"])


def test_filtered_range(client):
    # the integration test's scenario: predicate on the key column
    body = client.get(
        "/streams-iq/range?filter=@.symbol == 'purchase'"
    ).get_json()
    assert [r["symbol"] for r in body["result"]] == ["purchase"]
    # field-vs-field predicate
    body2 = client.get("/streams-iq/range?filter=@.buys > @.sells").get_json()
    assert body2["errorMessage"] is None
    assert all(r["buys"] > r["sells"] for r in body2["result"])


def test_filtered_range_bad_predicate_is_400_envelope(client, spark):
    # a malformed predicate is the client's error, on every route
    # that takes one, paged or not
    for url in ("/streams-iq/range?filter=@.buys >>> 1",
                "/streams-iq/range?filter=@.buys >>> 1&limit=2"):
        r = client.get(url)
        assert r.status_code == 400, url
        body = r.get_json()
        assert body["errorMessage"] and body["result"] is None
    import datetime as dt

    windows = spark.createDataFrame(
        [("A", 1.0, dt.datetime(2024, 1, 1, 0), dt.datetime(2024, 1, 1, 1))],
        "symbol string, buys double, window_start timestamp, window_end timestamp",
    )
    app = create_app(InteractiveQueryService(windows), windowed_df=windows)
    app.config["TESTING"] = True
    r = app.test_client().get(
        "/streams-iq/windowrange?from=2024-01-01 00:00:00&to=2024-01-02 00:00:00"
        "&filter=@.buys >>> 1"
    )
    assert r.status_code == 400
    body = r.get_json()
    assert body["errorMessage"] and body["result"] is None


def test_partition_for_key(client, spark, tmp_path):
    from kafkastreamsinteractivequeries_spark.functions.partitioning import (
        partition_for_key,
    )

    body = client.get("/streams-iq/partition/purchase?partitions=2").get_json()
    assert body["numPartitions"] == 2 and body["scheme"] == "kafka"
    # numeric parity with PartitionGenerator.java:22 (murmur2 mod N)
    assert body["partition"] == partition_for_key("purchase", 2)
    again = client.get("/streams-iq/partition/purchase?partitions=2").get_json()
    assert again["partition"] == body["partition"]  # deterministic routing

    spark_scheme = client.get(
        "/streams-iq/partition/purchase?partitions=2&scheme=spark"
    ).get_json()
    assert spark_scheme["scheme"] == "spark" and spark_scheme["partition"] in (0, 1)
    r = client.get("/streams-iq/partition/x?scheme=bogus")
    assert r.status_code == 400
    assert r.get_json()["result"] is None
    assert "unknown scheme 'bogus'" in r.get_json()["errorMessage"]
    # routing needs only the session: a live service answers before the
    # store has any committed manifest
    live = create_app(LiveSnapshotQueryService(spark, ManifestServingSink(str(tmp_path / "empty"))))
    live.config["TESTING"] = True
    lc = live.test_client()
    r = lc.get("/streams-iq/partition/purchase?partitions=2&scheme=spark")
    assert r.status_code == 200
    assert r.get_json()["partition"] == spark_scheme["partition"]
    r = lc.get("/streams-iq/partition/purchase?scheme=bogus")
    assert r.status_code == 400
    assert "unknown scheme 'bogus'" in r.get_json()["errorMessage"]
    # a malformed or non-positive partition count is a client error
    for bad in ("abc", "0", "-3"):
        r = client.get(f"/streams-iq/partition/purchase?partitions={bad}")
        assert r.status_code == 400, bad
        body = r.get_json()
        assert body["result"] is None
        assert "partitions must be a positive integer" in body["errorMessage"]


def test_status(client):
    assert client.get("/status/heartbeat").get_json() == {"status": "alive"}
    body = client.get("/status/all").get_json()
    assert body["count"] == 0 and body["queries"] == []


def test_window_range_endpoint(spark, sf_dir):
    from kafkastreamsinteractivequeries_spark.operators.aggregation import (
        aggregate_transactions,
    )
    from kafkastreamsinteractivequeries_spark.operators.windows import windowed_aggregate
    from kafkastreamsinteractivequeries_spark.plans.service import InteractiveQueryService
    from kafkastreamsinteractivequeries_spark.serving.rest import create_app
    from kafkastreamsinteractivequeries_spark.sources.tables import (
        load_table,
        transactions_from_events,
    )

    txns = transactions_from_events(load_table(spark, sf_dir, "events"))
    app = create_app(
        InteractiveQueryService(aggregate_transactions(txns)),
        windowed_df=windowed_aggregate(txns, "1 hour"),
    )
    app.config["TESTING"] = True
    c = app.test_client()

    body = c.get(
        "/streams-iq/windowrange?from=2024-01-02 00:00:00&to=2024-01-05 00:00:00"
        "&filter=@.buys > @.sells"
    ).get_json()
    assert body["errorMessage"] is None and len(body["result"]) > 0
    for r in body["result"]:
        assert r["buys"] > r["sells"]
        assert "2024-01-02" <= r["window_start"] <= "2024-01-05"

    missing = c.get("/streams-iq/windowrange?from=2024-01-02 00:00:00")
    assert missing.status_code == 400

    unconfigured = create_app(
        InteractiveQueryService(aggregate_transactions(txns))
    )
    unconfigured.config["TESTING"] = True
    assert unconfigured.test_client().get(
        "/streams-iq/windowrange?from=a&to=b"
    ).status_code == 501


def _capped_client(spark):
    """26 keys ``ka``..``kz`` served with collect_limit=10."""
    df = spark.createDataFrame(
        [(f"k{chr(97 + i)}", float(i), float(i) / 2, i) for i in range(26)],
        "symbol string, buys double, sells double, number_shares long",
    )
    app = create_app(InteractiveQueryService(df), collect_limit=10)
    app.config["TESTING"] = True
    return app.test_client()


def test_range_pagination_pages_through_more_than_limit(spark):
    # 26 keys, collect_limit=10: the plain range endpoint would
    # truncate; the cursor pages through every row in bounded collects.
    c = _capped_client(spark)

    seen, cursor, pages = [], None, 0
    while True:
        url = "/streams-iq/range?limit=10" + (f"&after={cursor}" if cursor else "")
        body = c.get(url).get_json()
        assert body["errorMessage"] is None
        seen += [r["symbol"] for r in body["result"]]
        pages += 1
        cursor = body["nextCursor"]
        if cursor is None:
            break
    assert pages == 3 and len(seen) == 26
    assert seen == sorted(f"k{chr(97 + i)}" for i in range(26))  # ordered, no dup/skip
    # page size is capped at collect_limit even if the client asks big
    body = c.get("/streams-iq/range?limit=9999").get_json()
    assert len(body["result"]) == 10 and body["nextCursor"] == body["result"][-1]["symbol"]
    # cursor composes with range bounds and the predicate filter
    body = c.get("/streams-iq/range?lower=kb&upper=kz&limit=5&after=kc").get_json()
    assert [r["symbol"] for r in body["result"]] == ["kd", "ke", "kf", "kg", "kh"]


def test_multikey_over_collect_limit_is_400(spark):
    # 11 distinct keys cannot fit 10 rows: refuse rather than drop one
    c = _capped_client(spark)
    keys = [f"k{chr(97 + i)}" for i in range(11)]
    r = c.get("/streams-iq/multikey/" + ",".join(keys))
    assert r.status_code == 400
    body = r.get_json()
    assert body["result"] is None and "collect_limit=10" in body["errorMessage"]
    # duplicates count once: 10 distinct keys are answered in full
    body = c.get("/streams-iq/multikey/" + ",".join(keys[:10] + keys[:3])).get_json()
    assert sorted(row["symbol"] for row in body["result"]) == keys[:10]


def test_window_range_pagination(spark, sf_dir):
    from kafkastreamsinteractivequeries_spark.operators.windows import windowed_aggregate
    from kafkastreamsinteractivequeries_spark.sources.tables import (
        transactions_from_events,
    )

    txns = transactions_from_events(load_table(spark, sf_dir, "events"))
    agg = aggregate_transactions(txns)
    app = create_app(
        InteractiveQueryService(agg),
        collect_limit=25,
        windowed_df=windowed_aggregate(txns, "1 hour"),
    )
    app.config["TESTING"] = True
    c = app.test_client()
    base = "/streams-iq/windowrange?from=2024-01-01 00:00:00&to=2024-12-31 00:00:00"

    # unpaged: truncated at collect_limit, no cursor field
    full = c.get(base).get_json()
    assert len(full["result"]) == 25 and "nextCursor" not in full

    # paged: walks every (window_start, symbol) row exactly once, ordered
    seen, cursor, pages = [], None, 0
    while True:
        url = base + "&limit=25" + (f"&after={cursor}" if cursor else "")
        body = c.get(url).get_json()
        assert body["errorMessage"] is None
        seen += [(r["window_start"], r["symbol"]) for r in body["result"]]
        pages += 1
        cursor = body["nextCursor"]
        if cursor is None:
            break
        assert pages < 1000
    assert pages > 1 and len(seen) > 25
    assert seen == sorted(seen) and len(set(seen)) == len(seen)

    bad = c.get(base + "&limit=5&after=nodelimiter")
    assert bad.status_code == 400


def test_nonpositive_limit_rejected_on_both_paginated_endpoints(client, spark, sf_dir):
    # limit=0 previously crashed windowrange (rows[-1] on an empty
    # page) and silently ended range pagination with rows left unserved
    for url in ("/streams-iq/range?limit=0", "/streams-iq/range?limit=-3"):
        r = client.get(url)
        assert r.status_code == 400, url
        assert "limit must be >= 1" in r.get_json()["errorMessage"]

    from kafkastreamsinteractivequeries_spark.operators.windows import windowed_aggregate

    txns = transactions_from_events(load_table(spark, sf_dir, "events"))
    app = create_app(
        InteractiveQueryService(aggregate_transactions(txns)),
        windowed_df=windowed_aggregate(txns, "1 hour"),
    )
    app.config["TESTING"] = True
    r = app.test_client().get(
        "/streams-iq/windowrange?from=2024-01-01 00:00:00&to=2024-01-09 00:00:00&limit=0"
    )
    assert r.status_code == 400
    assert "limit must be >= 1" in r.get_json()["errorMessage"]


def test_live_snapshot_reads_follow_each_commit(spark, tmp_path):
    # The live store's reads reuse one snapshot per committed manifest
    # version; that reuse must never serve a version older than the last
    # commit.  The sink is called directly (no stream), one batch per
    # commit; number_shares identifies the batch that wrote a key.
    schema = "symbol string, buys double, sells double, number_shares long"
    sink = ManifestServingSink(str(tmp_path / "live"))

    def commit(rows, batch_id):
        sink(spark.createDataFrame(rows, schema), batch_id)

    app = create_app(LiveSnapshotQueryService(spark, sink))
    app.config["TESTING"] = True
    c = app.test_client()

    def get(url):
        r = c.get(url)
        assert r.status_code == 200, url
        body = r.get_json()
        assert body["errorMessage"] is None, body
        lines = body["executionInfo"]["stock-aggregation-state-store"]
        versions = [int(x[len("snapshot v"):]) for x in lines if x.startswith("snapshot v")]
        assert len(versions) == 1, lines
        return {row["symbol"]: row["number_shares"] for row in body["result"]}, versions[0]

    commit([("A", 1.0, 0.0, 10), ("B", 1.0, 0.0, 20), ("C", 1.0, 0.0, 30), ("x:y", 1.0, 0.0, 40)], 0)
    assert get("/streams-iq/keyquery/A") == ({"A": 10}, 0)
    assert get("/streams-iq/range") == ({"A": 10, "B": 20, "C": 30, "x:y": 40}, 0)
    # a key whose directory name is escaped on disk is still found
    assert get("/streams-iq/keyquery/x:y") == ({"x:y": 40}, 0)

    # the first request of each kind after a commit sees that commit
    commit([("A", 1.0, 0.0, 11)], 1)
    assert get("/streams-iq/keyquery/A") == ({"A": 11}, 1)
    commit([("B", 1.0, 0.0, 21)], 2)
    # keys last written by batches 0, 1 and 2, served from snapshot v2
    assert get("/streams-iq/multikey/A,B,C") == ({"A": 11, "B": 21, "C": 30}, 2)
    commit([("C", 1.0, 0.0, 31)], 3)
    assert get("/streams-iq/range?lower=B&upper=C") == ({"B": 21, "C": 31}, 3)
    body, version = get("/streams-iq/range?filter=@.number_shares > 25&limit=1")
    assert body == {"C": 31} and version == 3

    # unknown keys: 200 with an empty result, alone or beside known ones
    assert get("/streams-iq/keyquery/NOPE") == ({}, 3)
    assert get("/streams-iq/multikey/NOPE,A") == ({"A": 11}, 3)

    # vacuum deletes the fully superseded batch directories; every read
    # path still works over the current snapshot
    commit([("A", 1.0, 0.0, 12), ("B", 1.0, 0.0, 22)], 4)
    assert sorted(d.rsplit("/", 1)[1] for d in sink.vacuum(spark)) == ["batch-1", "batch-2"]
    assert get("/streams-iq/keyquery/B") == ({"B": 22}, 4)
    assert get("/streams-iq/multikey/A,C,x:y") == ({"A": 12, "C": 31, "x:y": 40}, 4)
    assert get("/streams-iq/range") == ({"A": 12, "B": 22, "C": 31, "x:y": 40}, 4)


def test_live_snapshot_memo_under_concurrent_commits(spark, tmp_path):
    # Reader threads share the sink's one-entry snapshot memo while
    # batches commit.  Batch b writes number_shares = b for every key, so
    # a response is consistent when all its rows carry the version its
    # executionInfo names; that version must never be older than a
    # commit that returned before the request began, nor move back.
    import sys
    import threading
    import time

    from kafkastreamsinteractivequeries_spark.plans.queries import KeyQuery, MultiKeyQuery

    schema = "symbol string, buys double, sells double, number_shares long"
    sink = ManifestServingSink(str(tmp_path / "live"))

    def commit(batch_id):
        rows = [(k, 1.0, 0.0, batch_id) for k in ("A", "B", "C")]
        sink(spark.createDataFrame(rows, schema), batch_id)

    commit(0)
    svc = LiveSnapshotQueryService(spark, sink)
    committed = [0]
    stop = threading.Event()
    bad: list = []
    served: dict[int, list[int]] = {}

    def reader(idx):
        versions = served.setdefault(idx, [])
        while not stop.is_set():
            floor = committed[-1]
            query = KeyQuery("B") if idx % 2 else MultiKeyQuery.with_keys(["A", "C"])
            resp = svc.execute_response(query)
            if resp.error_message:
                bad.append(resp.error_message)
                return
            line = resp.execution_info["stock-aggregation-state-store"][0]
            version = int(line[len("snapshot v"):])
            if version < floor or (versions and version < versions[-1]):
                bad.append(("stale", idx, floor, versions[-1:], version))
            if len(resp.result) != (1 if idx % 2 else 2) or any(
                r["number_shares"] != version for r in resp.result
            ):
                bad.append(("torn", idx, version, resp.result))
            versions.append(version)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=reader, args=(i,), daemon=True) for i in range(8)]
    try:
        for t in threads:
            t.start()
        for batch_id in (1, 2, 3):
            commit(batch_id)
            committed.append(batch_id)
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline and not bad and not all(
            served.get(i) and served[i][-1] == 3 for i in range(8)
        ):
            time.sleep(0.05)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=120)
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not bad, bad[:3]
    assert all(served[i][-1] == 3 for i in range(8))


def test_live_keyed_reads_run_no_spark_job(spark, tmp_path):
    # Key and multikey reads of a local live store are answered on the
    # driver from the snapshot's files.  Ranges still run on Spark:
    # their jobs, tagged with a second group, show the job tracking
    # works, and since the status listener sees events in order, the
    # first group is complete once they appear.
    import time

    schema = "symbol string, buys double, sells double, number_shares long"
    sink = ManifestServingSink(str(tmp_path / "live"))
    rows = [("A", 1.0, 0.0, 1), ("B", 2.0, 0.0, 2), ("C", 3.0, 0.0, 3), ("x:y", 4.0, 0.0, 4)]
    sink(spark.createDataFrame(rows, schema), 0)
    app = create_app(LiveSnapshotQueryService(spark, sink))
    app.config["TESTING"] = True
    c = app.test_client()
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def get(group, url):
        sc.setJobGroup(group, group)
        try:
            r = c.get(url)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert r.status_code == 200, url
        return r.get_json()

    driver = "live-driver-reads"
    body = get(driver, "/streams-iq/keyquery/x:y")
    assert [r["symbol"] for r in body["result"]] == ["x:y"]
    assert "1 key directories read" in body["executionInfo"]["stock-aggregation-state-store"]
    assert len(get(driver, "/streams-iq/multikey/A,C,NOPE")["result"]) == 2

    spark_group = "live-spark-reads"
    assert len(get(spark_group, "/streams-iq/range?lower=B&upper=C")["result"]) == 2
    page = get(spark_group, "/streams-iq/range?limit=2&after=A")
    assert [r["symbol"] for r in page["result"]] == ["B", "C"] and page["nextCursor"] == "C"
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(spark_group) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(spark_group)
    assert list(tracker.getJobIdsForGroup(driver)) == []


def test_live_key_reads_split_the_default_partition_directory(spark, tmp_path):
    # Spark writes the empty key and a key spelled like its default
    # partition to one directory; a driver read returns each key's own
    # rows, as the snapshot's Spark frame does.
    from kafkastreamsinteractivequeries_spark.plans.queries import KeyQuery, MultiKeyQuery

    schema = "symbol string, buys double, sells double, number_shares long"
    literal = "__HIVE_DEFAULT_PARTITION__"
    sink = ManifestServingSink(str(tmp_path / "live"))
    sink(spark.createDataFrame([("", 1.0, 0.0, 1), (literal, 2.0, 0.0, 2), ("A", 3.0, 0.0, 3)], schema), 0)
    live = LiveSnapshotQueryService(spark, sink)
    frame = {r.symbol: r.asDict() for r in sink.read(spark).collect()}
    for key in ("", literal):
        resp = live.execute_response(KeyQuery(key))
        assert resp.result == [frame[key]]
        assert "1 key directories read" in resp.execution_info["stock-aggregation-state-store"]
    assert live.execute_response(MultiKeyQuery.with_keys(["", literal])).result == [frame[""], frame[literal]]


def test_live_store_locality_follows_the_default_file_system(spark, tmp_path):
    # A scheme-less store path belongs to Hadoop's default file system,
    # not to the local disk.  Under a viewfs default whose mount point
    # does not exist locally, the sink must still see its own commits
    # (each manifest carries the keys of earlier batches) and serve
    # them, through Hadoop and Spark.
    from kafkastreamsinteractivequeries_spark.plans.queries import KeyQuery, RangeQuery

    conf = spark.sparkContext._jsc.hadoopConfiguration()
    mount, real = "/ksiq-viewfs-mount", tmp_path / "real"
    real.mkdir()
    link = f"fs.viewfs.mounttable.ksiq-{tmp_path.name}.link.{mount}"
    default_fs = conf.get("fs.defaultFS")
    conf.set(link, real.as_uri())
    conf.set("fs.defaultFS", f"viewfs://ksiq-{tmp_path.name}/")
    try:
        schema = "symbol string, buys double, sells double, number_shares long"
        sink = ManifestServingSink(f"{mount}/store")
        sink(spark.createDataFrame([("A", 1.0, 0.0, 1), ("B", 2.0, 0.0, 2)], schema), 0)
        sink(spark.createDataFrame([("A", 3.0, 0.0, 3)], schema), 1)
        assert sink.latest_version(spark) == 1
        live = LiveSnapshotQueryService(spark, sink)
        resp = live.execute_response(KeyQuery("B"))
        assert resp.error_message is None and [r["number_shares"] for r in resp.result] == [2]
        assert resp.execution_info["stock-aggregation-state-store"][0] == "snapshot v1"
        resp = live.execute_response(RangeQuery())
        assert {r["symbol"]: r["number_shares"] for r in resp.result} == {"A": 3, "B": 2}
    finally:
        conf.set("fs.defaultFS", default_fs)
        conf.unset(link)
    assert sorted(p.name for p in (real / "store" / "manifest").glob("v*.json")) == [
        f"v{v:020d}.json" for v in (0, 1)
    ]


def test_live_snapshots_fold_batches_over_non_null_keys(spark, tmp_path):
    # Spark writes a null key and the empty-string key to one directory
    # (__HIVE_DEFAULT_PARTITION__), so a batch that updates one of them
    # must not publish the other's stale or foreign rows.  Null keys are
    # dropped; every snapshot v<n> is the upsert fold of batches 0..n.
    from kafkastreamsinteractivequeries_spark.plans.queries import KeyQuery, RangeQuery

    schema = "symbol string, buys double, sells double, number_shares long"
    batches = [
        [(None, 1), ("", 2), ("A", 3)],
        [("", 20)],
        [(None, 30), ("x:y", 31)],
        [("A", 40), (None, 41), ("", 42)],
    ]
    sink = ManifestServingSink(str(tmp_path / "live"))
    svc = LiveSnapshotQueryService(spark, sink)
    folds: list[dict] = []
    for batch_id, batch in enumerate(batches):
        sink(spark.createDataFrame([(k, 1.0, 0.0, n) for k, n in batch], schema), batch_id)
        fold = dict(folds[-1]) if folds else {}
        fold.update((k, n) for k, n in batch if k is not None)
        folds.append(fold)
        resp = svc.execute_response(RangeQuery())
        assert resp.error_message is None
        assert {r["symbol"]: r["number_shares"] for r in resp.result} == fold, batch_id
        assert svc.execute_response(KeyQuery("")).result == [
            {"symbol": "", "buys": 1.0, "sells": 0.0, "number_shares": fold[""]}
        ]
    for version, fold in enumerate(folds):
        got = [(r.symbol, r.number_shares) for r in sink.read(spark, version=version).collect()]
        assert sorted(got) == sorted(fold.items()), version


def test_live_store_with_non_scalar_column_reads_through_spark(spark, tmp_path, monkeypatch):
    # Arrow and Spark convert timestamps differently, so a store whose
    # files hold one is served by the Spark frame: the same rows as the
    # batch service over that frame, no driver-read line.  The first
    # driver read that finds such a column marks the version, so later
    # requests go to Spark without opening its files.
    import datetime as dt

    import pyarrow.parquet as pq

    from kafkastreamsinteractivequeries_spark.plans.queries import KeyQuery, MultiKeyQuery

    sink = ManifestServingSink(str(tmp_path / "live"))
    rows = [("A", 1, dt.datetime(2024, 1, 1, 9, 30)), ("B", 2, dt.datetime(2024, 1, 2, 10, 0))]
    sink(spark.createDataFrame(rows, "symbol string, number_shares long, last_seen timestamp"), 0)
    live = LiveSnapshotQueryService(spark, sink)
    batch = InteractiveQueryService(sink.read(spark))
    opened = []
    parquet_file = pq.ParquetFile
    monkeypatch.setattr(pq, "ParquetFile", lambda *a, **kw: opened.append(a) or parquet_file(*a, **kw))
    for query in (KeyQuery("A"), MultiKeyQuery.with_keys(["A", "B"]), KeyQuery("B")):
        resp = live.execute_response(query)
        assert resp.error_message is None
        assert sorted(resp.result, key=lambda r: r["symbol"]) == sorted(
            batch.execute_response(query).result, key=lambda r: r["symbol"]
        )
        lines = resp.execution_info["stock-aggregation-state-store"]
        assert lines[0] == "snapshot v0"
        assert not any("key directories" in line for line in lines)
    assert len(opened) == 1
