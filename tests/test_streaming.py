"""Streaming-pipeline tests — the Spark analog of the reference's
Testcontainers integration suite (``InteractiveQueriesIntegrationTest``):
a file-source stream drives the same aggregate; the serving table is
upserted per micro-batch and queried through the IQ surface.
"""

import datetime as dt

import pytest

from kafkastreamsinteractivequeries_spark.operators.aggregation import aggregate_transactions
from kafkastreamsinteractivequeries_spark.plans.queries import FilteredRangeQuery, KeyQuery
from kafkastreamsinteractivequeries_spark.plans.service import InteractiveQueryService
from kafkastreamsinteractivequeries_spark.schemas import STOCK_TRANSACTION_SCHEMA
from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
    ManifestServingSink,
    file_transaction_stream,
    memory_changelog,
    start_transactional_serving_pipeline,
    streaming_aggregation,
)

# excluded from the default gate (micro-batch soak suite (~5 min wall)); see pytest.ini
pytestmark = pytest.mark.slow

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _txn_rows(offset=0):
    rows = []
    for i, sym in enumerate(["CFLT", "ZELK", "GOOGL", "SHMDF", "TWTR", "MSFT"]):
        for j in range(3):
            rows.append((sym, (i + j) % 2 == 0, 100.0 + offset, 5, T0 + dt.timedelta(minutes=j)))
    return rows


@pytest.fixture()
def txn_dir(spark, tmp_path):
    path = str(tmp_path / "txns")
    spark.createDataFrame(_txn_rows(), STOCK_TRANSACTION_SCHEMA).coalesce(1).write.parquet(path)
    return path


def test_streaming_agg_matches_batch(spark, tmp_path, txn_dir):
    stream = file_transaction_stream(spark, txn_dir)
    assert stream.isStreaming
    q = start_transactional_serving_pipeline(stream, str(tmp_path / "serving"), str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    serving = ManifestServingSink(str(tmp_path / "serving")).read(spark)
    batch = aggregate_transactions(spark.createDataFrame(_txn_rows(), STOCK_TRANSACTION_SCHEMA))
    got = {(r.symbol, r.buys, r.sells, r.number_shares) for r in serving.collect()}
    want = {(r.symbol, r.buys, r.sells, r.number_shares) for r in batch.collect()}
    assert got == want


def test_transactional_serving_upsert_across_batches(spark, tmp_path, txn_dir):
    # Second batch of files updates a subset of keys; the serving store
    # must hold the cumulative aggregate (state carries across batches)
    # and the untouched keys' previous values, every read a complete
    # committed snapshot.
    serving_path = str(tmp_path / "serving_tx")
    stream = file_transaction_stream(spark, txn_dir)
    q = start_transactional_serving_pipeline(stream, serving_path, str(tmp_path / "ckpt_tx"))
    sink = ManifestServingSink(serving_path)
    try:
        q.processAllAvailable()
        first = {r.symbol: r for r in sink.read(spark).collect()}
        extra = [("CFLT", True, 1000.0, 10, T0 + dt.timedelta(hours=1))]
        spark.createDataFrame(extra, STOCK_TRANSACTION_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(txn_dir)
        q.processAllAvailable()
    finally:
        q.stop()

    snapshot = sink.read(spark)
    assert "_bucket" not in snapshot.columns
    svc = InteractiveQueryService(snapshot)
    cflt = svc.execute(KeyQuery.with_key("CFLT")).collect()[0]
    assert cflt.buys == 200.0 + 1000.0 and cflt.number_shares == 25
    zelk = svc.execute(KeyQuery.with_key("ZELK")).collect()[0]
    assert zelk.number_shares == 15 and zelk.buys == first["ZELK"].buys
    # IQ surface over the live serving store
    got = {
        r.symbol
        for r in svc.execute(
            FilteredRangeQuery.with_bounds("CFLT", "ZELK").predicate("@.buys > @.sells")
        ).collect()
    }
    assert "CFLT" in got

    # old batch dirs referenced by the current snapshot survive vacuum;
    # fully superseded ones are deleted
    import os

    before = set(os.listdir(f"{serving_path}/data"))
    deleted = sink.vacuum(spark)
    live = {d.rsplit("/_bucket=", 1)[0].rsplit("/", 1)[1]
            for d in sink._latest_manifest(spark).values()}
    assert set(os.listdir(f"{serving_path}/data")) == live <= before
    for d in deleted:
        assert not os.path.exists(d)
    # reads still consistent after vacuum
    assert sink.read(spark).count() == snapshot.count()


def test_manifest_snapshot_isolation(spark, tmp_path):
    # A reader that resolved a manifest keeps a consistent view even as
    # new batches commit: the resolved snapshot's files are immutable.
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import ManifestServingSink

    sink = ManifestServingSink(str(tmp_path / "tx"))
    agg_schema = "symbol string, buys double, sells double, number_shares long"
    b0 = spark.createDataFrame([("A", 1.0, 0.0, 1), ("B", 2.0, 0.0, 2)], agg_schema)
    sink(b0, 0)
    reader_view = sink.read(spark)
    b1 = spark.createDataFrame([("A", 5.0, 0.0, 9)], agg_schema)
    sink(b1, 1)
    # old handle: still batch-0's values; fresh read: batch-1's upsert
    assert {(r.symbol, r.buys) for r in reader_view.collect()} == {("A", 1.0), ("B", 2.0)}
    assert {(r.symbol, r.buys) for r in sink.read(spark).collect()} == {("A", 5.0), ("B", 2.0)}
    # replaying a committed batch (restart redelivery) is a no-op: it
    # must not rewrite files a handle of the published version reads
    v1_view = sink.read(spark)
    sink(b1, 1)
    assert {(r.symbol, r.buys) for r in v1_view.collect()} == {("A", 5.0), ("B", 2.0)}
    assert {(r.symbol, r.buys) for r in sink.read(spark).collect()} == {("A", 5.0), ("B", 2.0)}
    # a fresh checkpoint restarts batch ids at 0: refuse it rather than
    # delete data/batch-0, which the newest manifest still references
    fresh = spark.createDataFrame([("C", 7.0, 0.0, 7)], agg_schema)
    with pytest.raises(RuntimeError, match="checkpoint does not match"):
        sink(fresh, 0)
    assert {(r.symbol, r.buys) for r in sink.read(spark).collect()} == {("A", 5.0), ("B", 2.0)}
    assert {(r.symbol, r.buys) for r in ManifestServingSink(sink.path).read(spark).collect()} == {
        ("A", 5.0), ("B", 2.0)
    }


def test_emit_per_update_changelog(spark, tmp_path, txn_dir):
    # T7 analog: update-mode changelog emits a row per updated key per
    # batch (cache=0 parity at micro-batch granularity).
    stream = file_transaction_stream(spark, txn_dir)
    agg = streaming_aggregation(stream)
    q = memory_changelog(agg, "changelog_t7")
    try:
        q.processAllAvailable()
        n_first = spark.sql("SELECT count(*) c FROM changelog_t7").collect()[0].c
        assert n_first == 6  # every key updated in batch 1
        extra = [("CFLT", True, 1000.0, 10, T0 + dt.timedelta(hours=1))]
        spark.createDataFrame(extra, STOCK_TRANSACTION_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(txn_dir)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM changelog_t7").collect()
        # batch 2 emits only the updated key
        assert len(rows) == 7
        assert '"symbol":"CFLT"' in rows[-1].value or any(
            '"buys":1' in r.value for r in rows
        )
    finally:
        q.stop()


def test_checkpoint_recovery(spark, tmp_path, txn_dir):
    # The reference's HA story is standby replicas (Q8); ours is
    # checkpoint recovery — restart the query on the same checkpoint and
    # state must survive.
    serving_path = str(tmp_path / "serving")
    ckpt = str(tmp_path / "ckpt")
    q = start_transactional_serving_pipeline(file_transaction_stream(spark, txn_dir), serving_path, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    extra = [("MSFT", False, 77.0, 1, T0 + dt.timedelta(hours=2))]
    spark.createDataFrame(extra, STOCK_TRANSACTION_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(txn_dir)
    q2 = start_transactional_serving_pipeline(file_transaction_stream(spark, txn_dir), serving_path, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    msft = (
        InteractiveQueryService(ManifestServingSink(serving_path).read(spark))
        .execute(KeyQuery.with_key("MSFT"))
        .collect()[0]
    )
    # cumulative across restart: 3×100 split by flag + 77 sell
    assert msft.sells == pytest.approx(200.0 + 77.0) and msft.number_shares == 16


def test_stateful_custom_operator_carries_state_across_batches(spark, tmp_path, txn_dir):
    """applyInPandasWithState: explicit per-key state must accumulate
    across micro-batches and match the declarative batch aggregate."""
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        stateful_transaction_aggregate,
    )

    stream = file_transaction_stream(spark, txn_dir)
    out = stateful_transaction_aggregate(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_agg")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .start()
    )
    try:
        q.processAllAvailable()
        # second batch: same symbols again — state must carry over
        spark.createDataFrame(_txn_rows(offset=100), STOCK_TRANSACTION_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(txn_dir)
        q.processAllAvailable()
    finally:
        q.stop()

    emitted = spark.sql("SELECT * FROM stateful_agg").collect()
    # latest emission per symbol = final aggregate
    latest = {}
    for r in emitted:
        latest[r.symbol] = r
    both = _txn_rows() + _txn_rows(offset=100)
    batch = aggregate_transactions(spark.createDataFrame(both, STOCK_TRANSACTION_SCHEMA))
    want = {r.symbol: r for r in batch.collect()}
    assert set(latest) == set(want)
    for sym, w in want.items():
        g = latest[sym]
        assert g.buys == pytest.approx(w.buys)
        assert g.sells == pytest.approx(w.sells)
        assert g.number_shares == w.number_shares
        assert g.updates_in_batch == 3  # 3 txns per symbol in batch 2


def test_windowed_streaming_with_watermark_and_late_data(spark, tmp_path):
    """Late rows inside the watermark must fold into their (closed-ish)
    window; the streaming windowed aggregate must equal the batch one."""
    from kafkastreamsinteractivequeries_spark.operators.windows import windowed_aggregate
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        windowed_streaming_aggregation,
    )

    txn_dir = str(tmp_path / "wtxns")
    batch1 = [("CFLT", True, 100.0, 1, T0 + dt.timedelta(hours=h)) for h in range(3)]
    spark.createDataFrame(batch1, STOCK_TRANSACTION_SCHEMA).coalesce(1).write.parquet(txn_dir)

    stream = file_transaction_stream(spark, txn_dir)
    q = (
        windowed_streaming_aggregation(stream, "1 hour", "2 hours")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("wagg")
        .option("checkpointLocation", str(tmp_path / "wck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # a late row for the FIRST window (2h late, within the watermark)
        late = [("CFLT", False, 50.0, 2, T0 + dt.timedelta(minutes=30))]
        spark.createDataFrame(late, STOCK_TRANSACTION_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(txn_dir)
        q.processAllAvailable()
    finally:
        q.stop()

    # latest emission per window == batch recompute over all rows
    emitted = spark.sql("SELECT * FROM wagg").collect()
    latest = {}
    for r in emitted:
        latest[(r.window_start, r.symbol)] = (r.buys, r.sells, r.number_shares)
    allrows = batch1 + late
    batch = windowed_aggregate(
        spark.createDataFrame(allrows, STOCK_TRANSACTION_SCHEMA), "1 hour"
    )
    want = {
        (r.window_start, r.symbol): (r.buys, r.sells, r.number_shares)
        for r in batch.collect()
    }
    assert latest == want
    # the late sell really landed in the first window
    first = latest[(T0, "CFLT")]
    assert first == (100.0, 50.0, 3)


def test_observed_metrics(spark, txn_dir):
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import observed

    df = spark.read.schema(STOCK_TRANSACTION_SCHEMA).parquet(txn_dir)
    out, obs = observed(df)
    out.write.format("noop").mode("overwrite").save()
    m = obs.get
    assert m["n_records"] == 18  # 6 symbols x 3 txns
    assert 0 < m["n_buys"] < 18
    assert m["total_amount"] == 1800.0


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """Streaming dedup (d1's streaming analog) keeps one record per
    normalized-text fingerprint within the watermark, matching the
    batch exact-dedup survivor SET (ids may differ: streaming keeps
    first-arrival, batch keeps lowest id — fingerprints must agree)."""
    import pyspark.sql.functions as F

    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        fingerprint_documents,
    )
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        streaming_exact_dedup,
    )

    rows = [
        (1, "The quick brown fox", T0),
        (2, "the  quick   BROWN fox", T0 + dt.timedelta(minutes=1)),  # dup of 1
        (3, "something else entirely", T0 + dt.timedelta(minutes=2)),
        (4, "Something ELSE entirely", T0 + dt.timedelta(minutes=3)),  # dup of 3
        (5, "a third distinct text", T0 + dt.timedelta(minutes=4)),
    ]
    schema = "doc_id long, text string, event_time timestamp"
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    deduped = streaming_exact_dedup(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT fingerprint FROM dedup_stream")
    batch = fingerprint_documents(
        spark.createDataFrame(rows, schema)
    ).select("fingerprint").distinct()
    assert {r.fingerprint for r in got.collect()} == {
        r.fingerprint for r in batch.collect()
    }
    assert got.count() == 3  # one survivor per distinct fingerprint


def test_kafka_source_plan_or_documented_skip(spark):
    """If the spark-sql-kafka jars ever land in this image, the Kafka
    source plan must parse with the transaction schema; until then the
    skip records WHY the path is untested (README 'Known limitation' —
    no jars, no broker, no network to fetch them)."""
    import pytest as _pytest

    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        kafka_transaction_stream,
    )

    try:
        df = kafka_transaction_stream(spark, "localhost:9092", topic="txn")
    except Exception as exc:
        assert "kafka" in str(exc).lower()  # the missing DataSource, not a code bug
        _pytest.skip(
            "spark-sql-kafka connector jars absent in this container "
            "(documented limitation; file-source analog covers semantics)"
        )
    assert {"symbol", "buy", "amount", "number_shares", "event_time"} <= set(df.columns)


def test_streaming_dedup_state_bounded_under_watermark(spark, tmp_path):
    """Short-horizon version of scripts/streaming_soak.py: with a
    recycling fingerprint space and a watermark, dedup state must
    plateau at ~the space size instead of tracking total ingest
    (45 s soak numbers in SCALING.md; this asserts the same bound in
    ~20 s)."""
    import time

    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        streaming_exact_dedup,
    )

    space = 500
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "1000")
        .load()
        .select(
            F.col("timestamp").alias("event_time"),
            F.concat(F.lit("doc "), (F.col("value") % space).cast("string")).alias("text"),
        )
    )
    q = (
        streaming_exact_dedup(rate, watermark="5 seconds")
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="2 seconds")
        .start()
    )
    try:
        deadline = time.time() + 20
        total, state_samples = 0, []
        seen = set()
        while time.time() < deadline:
            time.sleep(1.0)
            p = q.lastProgress
            if not p or p["batchId"] in seen:
                continue
            seen.add(p["batchId"])
            total += p["numInputRows"]
            ops = p.get("stateOperators") or []
            if ops:
                state_samples.append(sum(op["numRowsTotal"] for op in ops))
    finally:
        q.stop()
    assert state_samples and total > 4 * space
    # state is bounded by the fingerprint space plus watermark churn —
    # nowhere near total ingest
    assert max(state_samples) <= 4 * space


def test_stateless_text_operators_run_on_streams(spark, tmp_path):
    """The per-doc text operators (doc profile, PII redaction) are pure
    projections, so the SAME functions run unchanged over a streaming
    DataFrame — stream/batch unification is the point of expressing
    them as Column maps.  A file-source document stream is profiled and
    redacted per micro-batch; results must equal the batch run."""
    import json

    from kafkastreamsinteractivequeries_spark.operators.text import doc_profile, pii_stats

    rows = [
        {"doc_id": 1, "text": "the cat sat on the mat email bob@x.io"},
        {"doc_id": 2, "text": "call +1-555-123-4567 about the offer"},
        {"doc_id": 3, "text": "plain text with no contact info at all"},
    ]
    src = tmp_path / "docs_stream"
    src.mkdir()
    (src / "part0.jsonl").write_text("\n".join(json.dumps(r) for r in rows))

    batch_docs = spark.read.json(str(src))
    stream_docs = spark.readStream.schema(batch_docs.schema).json(str(src))

    got = {}
    q = (
        pii_stats(doc_profile(stream_docs).join(stream_docs, "doc_id").select("doc_id", "text", "quality_score"))
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: got.update({r["doc_id"]: r for r in df.collect()}))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    want = {
        r["doc_id"]: r
        for r in pii_stats(
            doc_profile(batch_docs).join(batch_docs, "doc_id").select("doc_id", "text", "quality_score")
        ).collect()
    }
    assert set(got) == {1, 2, 3}
    for k in want:
        assert got[k]["n_email"] == want[k]["n_email"]
        assert got[k]["n_phone"] == want[k]["n_phone"]
        assert got[k]["redacted_text"] == want[k]["redacted_text"]
    assert got[1]["n_email"] == 1 and got[2]["n_phone"] == 1 and got[3]["clean"]


def test_streaming_curation_gates_redacts_and_dedups(spark, tmp_path):
    """End-to-end streaming ingest curation: PII is scrubbed, low-quality
    docs are gated out, and within-watermark duplicates collapse —
    continuously, from a file-source stream."""
    import json

    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        streaming_curation,
    )

    good = "the cat sat on the mat and it is a fine day for all of us "
    rows = [
        {"doc_id": 1, "text": good + "mail bob@x.io", "event_time": "2024-01-01T00:00:00"},
        {"doc_id": 2, "text": good + "mail eve@y.org", "event_time": "2024-01-01T00:01:00"},  # dup of 1 after redaction
        {"doc_id": 3, "text": "x! y? z.", "event_time": "2024-01-01T00:02:00"},  # low quality
        {"doc_id": 4, "text": good + "and nothing else follows", "event_time": "2024-01-01T00:03:00"},
    ]
    src = tmp_path / "ingest"
    src.mkdir()
    (src / "b0.jsonl").write_text("\n".join(json.dumps(r) for r in rows))

    schema = "doc_id LONG, text STRING, event_time TIMESTAMP"
    stream = spark.readStream.schema(schema).json(str(src))
    out = []
    q = (
        streaming_curation(stream, min_quality=0.5, watermark="1 hour")
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: out.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["doc_id"]: r for r in out}
    # doc 2 deduped against doc 1 (identical after <EMAIL> redaction),
    # doc 3 gated on quality — survivors are 1 and 4
    assert set(got) == {1, 4}
    assert "<EMAIL>" in got[1]["text"] and "bob@x.io" not in got[1]["text"]
    assert got[1]["quality_score"] >= 0.5 and got[1]["n_tokens"] > 0


def test_streaming_exact_dedup_rejects_fingerprint_collision(spark, tmp_path):
    import json

    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        streaming_exact_dedup,
    )

    src = tmp_path / "fp_docs"
    src.mkdir()
    (src / "b.jsonl").write_text(json.dumps(
        {"doc_id": 1, "text": "x", "fingerprint": "user-owned", "event_time": "2024-01-01T00:00:00"}
    ))
    stream = spark.readStream.schema(
        "doc_id LONG, text STRING, fingerprint STRING, event_time TIMESTAMP"
    ).json(str(src))
    with pytest.raises(ValueError, match="already has a 'fingerprint'"):
        streaming_exact_dedup(stream)


def test_streaming_hll_register_store_matches_batch(spark, tmp_path):
    """The landed register store after N micro-batches must be
    bit-identical to batch ``hll_registers`` over everything ingested
    (register max-merge = HLL union), so estimates never drift from
    batch — with total store size bounded by groups × 2^p rows."""
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.sketches import (
        hll_distinct,
        hll_registers,
    )
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        StreamingHllSink,
    )

    src = str(tmp_path / "ev")
    # two disjoint-ish slices written as separate files → separate
    # micro-batches under maxFilesPerTrigger=1
    a = spark.range(0, 3000).select(
        (F.col("id") % 700).alias("user_id"),
        F.concat(F.lit("type"), (F.col("id") % 3).cast("string")).alias("event_type"),
    )
    b = spark.range(3000, 9000).select(
        (F.col("id") % 1100).alias("user_id"),
        F.concat(F.lit("type"), (F.col("id") % 3).cast("string")).alias("event_type"),
    )
    a.coalesce(1).write.parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)

    store = str(tmp_path / "hll_store")
    sink = StreamingHllSink(store, "user_id", ["event_type"], p=6)
    stream = spark.readStream.schema("user_id long, event_type string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    full = a.unionByName(b)
    batch_regs = {
        (r.event_type, r.bucket): r.reg
        for r in hll_registers(full, "user_id", ["event_type"], p=6).collect()
    }
    landed = {
        (r.event_type, r.bucket): r.reg for r in sink.registers(spark).collect()
    }
    assert landed == batch_regs
    assert len(landed) <= 3 * 64  # groups × m bound

    batch_est = {
        r.event_type: r.distinct_estimate
        for r in hll_distinct(full, "user_id", ["event_type"], p=6).collect()
    }
    stream_est = {
        r.event_type: r.distinct_estimate for r in sink.estimates(spark).collect()
    }
    assert stream_est == batch_est


def test_streaming_cms_counter_store_matches_batch(spark, tmp_path):
    """Counters merge by ADDITION across micro-batches, so the landed
    table must equal batch ``cms_counters`` over everything ingested and
    point estimates must be identical — with store size ≤ depth×width."""
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.sketches import (
        cms_counters,
        cms_estimate,
    )
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        StreamingCmsSink,
    )

    src = str(tmp_path / "ev")
    a = spark.range(0, 4000).select((F.col("id") % 300).alias("user_id"))
    b = spark.range(0, 6000).select((F.col("id") % 450).alias("user_id"))
    a.coalesce(1).write.parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)

    sink = StreamingCmsSink(str(tmp_path / "cms_store"), "user_id", depth=4, width=256)
    stream = spark.readStream.schema("user_id long").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    full = a.unionByName(b)
    batch = {
        (r.row, r.col): r.cnt
        for r in cms_counters(full, "user_id", depth=4, width=256).collect()
    }
    landed = {(r.row, r.col): r.cnt for r in sink.counters(spark).collect()}
    assert landed == batch
    assert len(landed) <= 4 * 256

    probes = spark.range(10).select(F.col("id").alias("user_id"))
    batch_est = {
        r.user_id: r.cms_estimate
        for r in cms_estimate(
            cms_counters(full, "user_id", depth=4, width=256),
            probes, "user_id", depth=4, width=256,
        ).collect()
    }
    stream_est = {
        r.user_id: r.cms_estimate
        for r in sink.estimates(probes, "user_id").collect()
    }
    assert stream_est == batch_est


def test_sketch_sink_vacuum_keeps_latest_snapshots(spark, tmp_path):
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        StreamingHllSink,
    )

    sink = StreamingHllSink(str(tmp_path / "store"), "user_id", ["event_type"])
    ev = spark.range(100).select(
        (F.col("id") % 37).alias("user_id"), F.lit("t").alias("event_type")
    )
    for i in range(4):
        sink(ev, i)
    before = sink.estimates(spark).collect()
    removed = sink.vacuum(spark, keep_last=2)
    assert removed == 2  # v0, v1 gone; v2, v3 kept
    after = sink.estimates(spark).collect()
    assert before == after  # latest snapshot untouched
    # vacuum is idempotent
    assert sink.vacuum(spark, keep_last=2) == 0


def test_streaming_histogram_store_matches_batch_quantiles(spark, tmp_path):
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.text import (
        length_histogram_quantiles,
    )
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        StreamingHistogramSink,
    )

    mk = lambda lo, n: spark.range(lo, lo + n).selectExpr(
        "id as doc_id",
        "array_join(transform(sequence(1, 10 + cast(id % 80 as int)), x -> 'w'), ' ') as text",
    )
    src = str(tmp_path / "docs")
    a, b = mk(0, 600), mk(600, 600)
    a.coalesce(1).write.parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)

    sink = StreamingHistogramSink(str(tmp_path / "hist_store"))
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = length_histogram_quantiles(a.unionByName(b)).collect()[0]
    streamed = sink.quantiles(spark).collect()[0]
    assert streamed == batch
    assert sink.histogram(spark).count() <= 64


def test_stream_static_enrichment_against_scd2_current(spark, tmp_path):
    """Micro-batch streams join STATIC DataFrames without extra
    machinery — here each event enriches against the SCD2 dimension's
    current version, the standard streaming-enrichment shape (the dim
    re-reads per micro-batch when backed by storage, so a merge landing
    between batches is picked up)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.dimensions import (
        scd2_init,
        scd2_merge,
    )

    dim = scd2_init(
        spark.createDataFrame([(1, "gold"), (2, "silver")], "cust long, seg string"),
        dt.datetime(2024, 1, 1),
        key_col="cust",
    )
    dim = scd2_merge(
        dim,
        spark.createDataFrame(
            [(1, "platinum", dt.datetime(2024, 6, 1))],
            "cust long, seg string, effective_ts timestamp",
        ),
        "cust",
        ["seg"],
    )
    current = dim.filter(F.col("is_current")).select("cust", "seg")

    src = str(tmp_path / "ev")
    spark.createDataFrame(
        [(100, 1), (101, 2), (102, 9)], "event_id long, cust long"
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("event_id long, cust long").parquet(src)
    q = (
        stream.join(current, "cust", "left")
        .writeStream.format("memory")
        .queryName("enriched_events")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.event_id: r.seg for r in spark.sql("select * from enriched_events").collect()}
    assert rows == {100: "platinum", 101: "silver", 102: None}


def test_sketch_sink_rejects_fresh_checkpoint_against_existing_store(spark, tmp_path):
    # A new streaming query with a FRESH checkpoint restarts batch ids
    # at 0; pointed at an existing store this would overwrite the old
    # v0, merge none of the landed history, and leave readers on the
    # stale high-numbered snapshot.  The sink must fail loudly instead.
    import pytest
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        StreamingHllSink,
    )

    sink = StreamingHllSink(str(tmp_path / "store"), "user_id", ["event_type"])
    ev = spark.range(100).select(
        (F.col("id") % 37).alias("user_id"), F.lit("t").alias("event_type")
    )
    for i in range(3):
        sink(ev, i)  # landed history: v0, v1, v2
    with pytest.raises(RuntimeError, match="does not match this store"):
        sink(ev, 0)  # fresh-checkpoint restart
    # a genuine replay of the newest batch id is still idempotent
    before = sorted(map(tuple, sink.registers(spark).collect()))
    sink(ev, 2)
    after = sorted(map(tuple, sink.registers(spark).collect()))
    assert before == after


def test_kafka_source_plan_or_documented_absence(spark, tmp_path):
    # The Kafka connector path (T1) builds the real
    # readStream.format("kafka") plan.  The container ships no
    # spark-sql-kafka jars and has no network to vendor them, so in this
    # environment the DataSource lookup itself must fail with Spark's
    # canonical kafka-miss error (which names the deployment fix) —
    # pinned here so the limitation is explicit and the error path is
    # the documented one.  WITH the jars on the classpath the same call
    # yields an unresolved streaming plan carrying the broker/topic
    # options; that branch asserts the plan wiring instead, so this test
    # is correct in both environments.
    import pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        kafka_transaction_stream,
    )

    try:
        df = kafka_transaction_stream(
            spark, "broker-1:9092,broker-2:9092", topic="stock-transactions"
        )
    except AnalysisException as exc:
        # jar-less container: Spark's dedicated kafka-miss error, which
        # points at the structured-streaming-kafka deployment doc
        assert "kafka" in str(exc).lower()
        assert (
            "FAILED_TO_LOAD_KAFKA_DATA_SOURCE" in str(exc)
            or "Failed to find" in str(exc)
        )
        return
    # connector present: the typed projection must be in place and the
    # logical plan must carry the source options verbatim
    assert df.isStreaming
    assert set(df.columns) == {
        "symbol", "buy", "amount", "number_shares", "event_time"
    }
    plan = df._jdf.queryExecution().logical().toString()
    assert "stock-transactions" in plan or "kafka" in plan.lower()


def test_end_to_end_streaming_serving_rest_loop(spark, tmp_path, txn_dir):
    # The reference's actual PRODUCT, composed: live ingest → standing
    # aggregate → transactional serving snapshots → the REST surface
    # (paged range query against the serving table while the stream
    # runs) → checkpoint restart on new data → re-query sees the
    # updated aggregate.  Every piece is tested individually elsewhere;
    # this drives the full loop end-to-end.
    from kafkastreamsinteractivequeries_spark.serving.rest import create_app
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        ManifestServingSink,
        start_transactional_serving_pipeline,
    )

    serving, ckpt = str(tmp_path / "serving"), str(tmp_path / "ckpt")
    sink = ManifestServingSink(serving)
    q = start_transactional_serving_pipeline(
        file_transaction_stream(spark, txn_dir), serving, ckpt
    )
    try:
        q.processAllAvailable()
        # REST app over the live serving snapshot, stream still running
        app = create_app(
            InteractiveQueryService(sink.read(spark)), streaming_queries=[q]
        )
        app.config["TESTING"] = True
        c = app.test_client()
        status = c.get("/status/all").get_json()
        assert status["count"] == 1 and status["queries"][0]["isActive"]
        # paged range query mid-stream: 6 symbols, 2 keyset pages of 4
        p1 = c.get("/streams-iq/range?limit=4").get_json()
        assert p1["errorMessage"] is None and len(p1["result"]) == 4
        assert p1["nextCursor"] is not None
        p2 = c.get(f"/streams-iq/range?limit=4&after={p1['nextCursor']}").get_json()
        assert p2["nextCursor"] is None and len(p2["result"]) == 2
        symbols = [r["symbol"] for r in p1["result"] + p2["result"]]
        assert symbols == sorted(symbols) and len(set(symbols)) == 6
        base_cflt = next(r for r in p1["result"] if r["symbol"] == "CFLT")
    finally:
        q.stop()

    # checkpoint restart with a new slice: only CFLT changes
    extra = [("CFLT", True, 1000.0, 10, T0 + dt.timedelta(hours=2))]
    spark.createDataFrame(extra, STOCK_TRANSACTION_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(txn_dir)
    q2 = start_transactional_serving_pipeline(
        file_transaction_stream(spark, txn_dir), serving, ckpt
    )
    try:
        q2.processAllAvailable()
        app2 = create_app(
            InteractiveQueryService(sink.read(spark)), streaming_queries=[q2]
        )
        app2.config["TESTING"] = True
        c2 = app2.test_client()
        body = c2.get("/streams-iq/keyquery/CFLT").get_json()
        assert body["errorMessage"] is None
        row = body["result"][0]
        # the restart resumed from the checkpoint: old state + new batch
        assert row["buys"] == base_cflt["buys"] + 1000.0
        assert row["number_shares"] == base_cflt["number_shares"] + 10
        # untouched key unchanged across the restart
        zelk = c2.get("/streams-iq/keyquery/ZELK").get_json()["result"][0]
        assert zelk["number_shares"] == 15
    finally:
        q2.stop()


def test_dsir_scoring_runs_on_streams(spark, tmp_path):
    """DSIR serving: the frozen lambda model broadcasts into a streaming
    gram scan — continuous target-likeness scoring of an ingest stream,
    micro-batch results equal to the batch run (complete mode: the
    per-doc aggregate is the only stateful node)."""
    import json

    from kafkastreamsinteractivequeries_spark.operators.curation import (
        dsir_score_with_model,
        dsir_train_model,
    )

    rows = [
        {"doc_id": 1, "text": "the cat sat on the mat"},
        {"doc_id": 2, "text": "tachyon flux capacitors hum"},
        {"doc_id": 3, "text": "a cat and a dog sat down"},
    ]
    src = tmp_path / "dsir_stream"
    src.mkdir()
    (src / "part0.jsonl").write_text("\n".join(json.dumps(r) for r in rows))

    batch_docs = spark.read.json(str(src))
    target = batch_docs.filter("doc_id != 2")
    model = dsir_train_model(batch_docs, target).localCheckpoint()

    stream_docs = spark.readStream.schema(batch_docs.schema).json(str(src))
    got = {}
    q = (
        dsir_score_with_model(stream_docs, model)
        .writeStream.outputMode("complete")
        .foreachBatch(
            lambda df, _id: got.update({r["doc_id"]: r["log_weight"] for r in df.collect()})
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    want = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_score_with_model(batch_docs, model).collect()
    }
    assert got == want
    assert got[1] > got[2] and got[3] > got[2]  # target-like docs outscore


def test_streaming_near_dup_filter_drops_cross_batch_fuzzy_dups(spark, tmp_path):
    """The fuzzy streaming gate: batch-1 docs near-duplicating a
    LANDED batch-0 survivor are dropped, unique docs pass, and a
    replayed micro-batch rewrites identical output (idempotent)."""
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        StreamingNearDupFilter,
    )

    sink = StreamingNearDupFilter(
        str(tmp_path / "store"), str(tmp_path / "kept"), threshold=0.7
    )
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    b0 = spark.createDataFrame(
        [
            (0, base),
            (1, base + " extra"),  # near-dup of 0 within the batch
            (2, "completely different text about spark engines and parquet files"),
        ],
        ["doc_id", "text"],
    )
    sink(b0, 0)
    kept0 = {r.doc_id for r in spark.read.parquet(str(tmp_path / "kept/b0")).collect()}
    assert kept0 == {0, 2}

    b1 = spark.createDataFrame(
        [
            (10, base),  # exact copy of LANDED doc 0 -> dropped cross-batch
            (11, base.replace("lazy", "sleepy")),  # near-dup of landed 0
            (12, "an entirely novel document mentioning tensors and shuffles"),
        ],
        ["doc_id", "text"],
    )
    sink(b1, 1)
    kept1 = {r.doc_id for r in spark.read.parquet(str(tmp_path / "kept/b1")).collect()}
    assert 10 not in kept1 and 12 in kept1
    assert kept1 <= {11, 12}  # 11 may drop depending on sig agreement

    # replay of batch 1 (same input, same id) must rewrite identical output
    sink(b1, 1)
    kept1b = {r.doc_id for r in spark.read.parquet(str(tmp_path / "kept/b1")).collect()}
    assert kept1b == kept1

    # the survivors() reader unions committed batches
    allkept = {r.doc_id for r in sink.survivors(spark).collect()}
    assert allkept == kept0 | kept1

    # fresh-checkpoint guard: a batch id below the committed snapshots fails loudly
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="checkpoint"):
        sink(b0, 0)


def test_streaming_near_dup_filter_end_to_end_stream(spark, tmp_path):
    """Driven by a real file-source stream (availableNow): the gate
    runs as a foreachBatch sink and keeps exactly the non-duplicated
    docs."""
    import json

    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        StreamingNearDupFilter,
    )

    rows = [
        {"doc_id": 1, "text": "alpha beta gamma delta epsilon zeta eta theta iota"},
        {"doc_id": 2, "text": "alpha beta gamma delta epsilon zeta eta theta iota kappa"},
        {"doc_id": 3, "text": "unrelated corpus of words with nothing shared at all"},
    ]
    src = tmp_path / "stream_src"
    src.mkdir()
    (src / "p0.jsonl").write_text("\n".join(json.dumps(r) for r in rows))
    schema = spark.read.json(str(src)).schema

    sink = StreamingNearDupFilter(
        str(tmp_path / "st2"), str(tmp_path / "kept2"), threshold=0.7
    )
    q = (
        spark.readStream.schema(schema)
        .json(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {r.doc_id for r in sink.survivors(spark).collect()}
    assert 1 in kept and 3 in kept and 2 not in kept


def test_quality_classifier_scores_streams(spark, tmp_path):
    """The trained quality gate in serving: scoring is a PER-DOC pure
    function of (text, frozen model) — micro-batch boundaries cannot
    change any doc's probability — so it rides foreachBatch (the repo's
    streaming-sink pattern; a direct streaming plan would need the
    L2-norm's two chained keyed aggregates, which Structured Streaming
    forbids).  Per-batch results must equal the batch run exactly."""
    import json

    from kafkastreamsinteractivequeries_spark.operators.curation import (
        quality_classifier_score,
        quality_classifier_train,
    )

    rows = [
        {"doc_id": 1, "text": "rigorous detailed verified analysis", "y": 1},
        {"doc_id": 2, "text": "free prize click now winner", "y": 0},
        {"doc_id": 3, "text": "careful measured documented findings", "y": 1},
    ]
    src = tmp_path / "qlr_stream"
    src.mkdir()
    (src / "part0.jsonl").write_text("\n".join(json.dumps(r) for r in rows))

    batch_docs = spark.read.json(str(src))
    model = quality_classifier_train(
        batch_docs, "y", num_buckets=64, iterations=8, lr=2.0
    ).localCheckpoint()

    stream_docs = spark.readStream.schema(batch_docs.schema).json(str(src))
    got = {}
    q = (
        stream_docs.writeStream.outputMode("append")
        .foreachBatch(
            lambda df, _id: got.update(
                {
                    r["doc_id"]: r["prob"]
                    for r in quality_classifier_score(
                        df, model, num_buckets=64
                    ).collect()
                }
            )
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    want = {
        r["doc_id"]: r["prob"]
        for r in quality_classifier_score(batch_docs, model, num_buckets=64).collect()
    }
    assert got == want
    assert got[1] > got[2] and got[3] > got[2]  # good docs outscore spam


def test_streaming_gram_histogram_drift_matches_batch(spark, tmp_path):
    """The landed gram histogram equals the batch histogram over
    everything ingested, and diffing the landed snapshot against a
    reference corpus yields EXACTLY the batch distribution_divergence —
    the streaming drift alarm needs only the bounded landed artifact,
    never a reread of landed text."""
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.text import (
        distribution_divergence,
        gram_histogram,
    )
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        StreamingGramHistogramSink,
    )

    mk = lambda lo, n, words: spark.range(lo, lo + n).selectExpr(
        "id as doc_id", f"'{words}' as text"
    )
    a = mk(0, 80, "alpha beta gamma delta")
    b = mk(80, 80, "alpha beta epsilon zeta")
    src = str(tmp_path / "docs")
    a.coalesce(1).write.parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)

    sink = StreamingGramHistogramSink(str(tmp_path / "gram_store"), num_buckets=256)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    ingested = a.unionByName(b)
    landed = {(r.bucket, r.cnt) for r in sink.histogram(spark).collect()}
    batch = {
        (r.bucket, r.cnt) for r in gram_histogram(ingested, 256).collect()
    }
    assert landed == batch

    ref = mk(1000, 100, "omega sigma tau upsilon")
    want = sorted(
        (r.metric, r.bucket, r.value, r.count_a, r.count_b)
        for r in distribution_divergence(ingested, ref, num_buckets=256).collect()
    )
    got = sorted(
        (r.metric, r.bucket, r.value, r.count_a, r.count_b)
        for r in sink.divergence_from(
            spark, gram_histogram(ref, 256)
        ).collect()
    )
    assert got == want
    js = [v for (m, _b, v, _a, _c) in got if m == "js"][0]
    assert js > 0.001  # disjoint-ish vocab: real drift registered


def test_session_streaming_merges_across_micro_batches(spark, tmp_path):
    """Streaming session windows must (1) EXTEND an open session when a
    later micro-batch lands within the gap, (2) emit closed sessions
    exactly once in append mode after the watermark passes, and (3)
    equal the batch `event_sessions` on the same rows — the Kappa
    parity contract for the q7_user_sessions surface."""
    import datetime as dt

    from kafkastreamsinteractivequeries_spark.operators.windows import event_sessions
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        session_streaming_aggregation,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "user_id long, ts timestamp, value double"
    src = str(tmp_path / "sess_events")

    # batch 1: user 1 has two events 10 min apart (one session so far);
    # user 2 has one event
    batch1 = [
        (1, t0, 10.0),
        (1, t0 + dt.timedelta(minutes=10), 5.0),
        (2, t0 + dt.timedelta(minutes=5), 1.0),
    ]
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        session_streaming_aggregation(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_agg")
        .option("checkpointLocation", str(tmp_path / "sess_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # nothing closed yet: watermark hasn't passed any session end
        assert spark.sql("SELECT * FROM sess_agg").count() == 0

        # batch 2: an event 25 min after user 1's last one — inside the
        # 30-min gap, so it must MERGE into the open session, not open
        # a new one; plus a far-future sentinel that pushes the
        # watermark past every session end
        batch2 = [
            (1, t0 + dt.timedelta(minutes=35), 2.0),
            (99, t0 + dt.timedelta(hours=12), 0.0),
        ]
        spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        # one more empty batch so the new watermark closes + emits
        spark.createDataFrame(
            [(99, t0 + dt.timedelta(hours=13), 0.0)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()

        got = {
            (r.user_id, r.session_start, r.session_end, r.n_events, r.total_value)
            for r in spark.sql(
                "SELECT * FROM sess_agg WHERE user_id IN (1, 2)"
            ).collect()
        }
    finally:
        q.stop()

    # user 1: ONE merged session covering all three events
    # (0:00 → 0:35 + 30 min gap); user 2: one single-event session
    assert got == {
        (1, t0, t0 + dt.timedelta(minutes=65), 3, 17.0),
        (2, t0 + dt.timedelta(minutes=5), t0 + dt.timedelta(minutes=35), 1, 1.0),
    }

    # Kappa parity: batch sessionization over the same rows (minus the
    # sentinel user) produces the identical session table
    batch_rows = spark.createDataFrame(batch1 + [(1, t0 + dt.timedelta(minutes=35), 2.0)], schema)
    batch_got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in event_sessions(batch_rows, gap="30 minutes").collect()
    }
    assert batch_got == got


def test_stream_static_scd2_enrichment_picks_valid_version(spark, tmp_path):
    """A streaming fact joined against the SCD2 dimension must attach
    the version valid AT each event's timestamp (stream-STATIC join,
    stateless), and must equal the batch asof_lookup on the same rows
    — the Kappa serving twin of the e2_scd2_asof surface."""
    import datetime as dt

    from kafkastreamsinteractivequeries_spark.operators.dimensions import (
        asof_lookup,
        scd2_init,
        scd2_merge,
    )
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        enrich_stream_with_dimension,
    )

    def day(n):
        return dt.datetime(2024, 1, 1) + dt.timedelta(days=n)

    dim = scd2_merge(
        scd2_init(
            spark.createDataFrame([(1, "gold")], "cust long, segment string"),
            day(0),
            key_col="cust",
        ),
        spark.createDataFrame(
            [(1, "platinum", day(5))],
            "cust long, segment string, effective_ts timestamp",
        ),
        "cust",
        ["segment"],
    ).localCheckpoint()  # static side

    src = str(tmp_path / "facts")
    facts = [
        (100, 1, day(2)),   # inside the gold version [d0, d5)
        (101, 1, day(5)),   # exactly at the cut → platinum (inclusive from)
        (102, 1, day(9)),   # open platinum version
        (103, 7, day(3)),   # unknown key → left join keeps it, null attrs
    ]
    spark.createDataFrame(facts, "fact_id long, cust long, ts timestamp").coalesce(
        1
    ).write.parquet(src)

    stream = spark.readStream.schema("fact_id long, cust long, ts timestamp").parquet(src)
    q = (
        enrich_stream_with_dimension(stream, dim, key_col="cust", fact_ts_col="ts")
        .select("fact_id", "segment")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("scd2_enriched")
        .option("checkpointLocation", str(tmp_path / "enrich_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.fact_id: r.segment
            for r in spark.sql("SELECT * FROM scd2_enriched").collect()
        }
    finally:
        q.stop()

    assert got == {100: "gold", 101: "platinum", 102: "platinum", 103: None}

    # batch parity: the identical join expression over the same rows
    batch = {
        r.fact_id: r.segment
        for r in asof_lookup(
            spark.createDataFrame(facts, "fact_id long, cust long, ts timestamp"),
            dim,
            "cust",
            "ts",
        ).collect()
    }
    assert batch == got


def test_stream_stream_attribution_join_pairs_within_horizon(spark, tmp_path):
    """Both sides live streams: every (click, purchase) pair for the
    same user with the purchase inside the 1-hour post-click horizon —
    including pairs that arrive in DIFFERENT micro-batches (the
    stateful buffering case) — and nothing outside it."""
    import datetime as dt

    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        stream_stream_attribution_join,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, user_id long, ts timestamp, value double"
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")

    # batch 1: clicks only (the join must BUFFER them as state)
    spark.createDataFrame(
        [
            (1, 7, t0, 1.0),
            (2, 7, t0 + dt.timedelta(minutes=90), 2.0),
            (3, 8, t0, 3.0),
        ],
        schema,
    ).coalesce(1).write.parquet(cdir)
    spark.createDataFrame(
        [(100, 99, t0, 0.0)], schema  # unrelated user, seeds the stream
    ).coalesce(1).write.parquet(pdir)

    clicks = spark.readStream.schema(schema).parquet(cdir)
    purchases = spark.readStream.schema(schema).parquet(pdir)
    q = (
        stream_stream_attribution_join(clicks, purchases)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib")
        .option("checkpointLocation", str(tmp_path / "attr_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: purchases arrive LATER than the buffered clicks
        spark.createDataFrame(
            [
                (200, 7, t0 + dt.timedelta(minutes=30), 10.0),   # pairs with click 1
                (201, 7, t0 + dt.timedelta(minutes=100), 20.0),  # pairs with 1? 100min>60 no; with click 2 (10 min after) yes
                (202, 7, t0 + dt.timedelta(minutes=300), 30.0),  # beyond every horizon
                (203, 8, t0 - dt.timedelta(minutes=5), 40.0),    # BEFORE the click -> excluded
            ],
            schema,
        ).coalesce(1).write.mode("append").parquet(pdir)
        q.processAllAvailable()
        got = {
            (r.click_event_id, r.purchase_event_id)
            for r in spark.sql("SELECT * FROM attrib").collect()
        }
    finally:
        q.stop()

    assert got == {(1, 200), (2, 201)}


def test_streaming_rollup_store_matches_batch_partials(spark, tmp_path):
    """After N micro-batches the landed partial-aggregate store equals
    batch ``partial_aggregate`` over everything ingested (monoid merge,
    exact for counts/min/max, decimal sums exact), and a coarser-grain
    ``report`` over the store alone equals the direct aggregate."""
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.rollup import (
        merge_partials,
        partial_aggregate,
    )
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        StreamingRollupSink,
    )

    def slice_df(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("sym"), (F.col("id") % 4).cast("string")).alias("symbol"),
            (
                F.to_timestamp(F.lit("2024-03-01 00:00:00"))
                + F.make_interval(mins=(F.col("id") % 5000).cast("int"))
            ).alias("event_time"),
            (F.col("id") % 997).cast("decimal(18,6)").alias("amount"),
        )

    src = str(tmp_path / "rows")
    a, b, c = slice_df(0, 2000), slice_df(2000, 7000), slice_df(7000, 9000)
    a.coalesce(1).write.parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)
    c.coalesce(1).write.mode("append").parquet(src)

    measures = {"amount": ["sum", "min", "max", "sumsq"]}
    sink = StreamingRollupSink(
        str(tmp_path / "store"), ["symbol"], "event_time", "hour", measures
    )
    stream = (
        spark.readStream.schema("symbol string, event_time timestamp, amount decimal(18,6)")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    full = a.unionByName(b).unionByName(c)
    want = {
        (r["symbol"], r["bucket"]): (r["_n"], r["amount_sum"], r["amount_min"], r["amount_max"])
        for r in partial_aggregate(full, ["symbol"], "event_time", "hour", measures).collect()
    }
    got = {
        (r["symbol"], r["bucket"]): (r["_n"], r["amount_sum"], r["amount_min"], r["amount_max"])
        for r in sink.partials(spark).collect()
    }
    assert got == want

    # day-grain report over the store only == direct daily aggregate
    direct = {
        (r["symbol"], r["d"]): (r["n"], r["avg"])
        for r in full.withColumn("d", F.date_trunc("day", "event_time"))
        .groupBy("symbol", "d")
        .agg(F.count("*").alias("n"), F.avg("amount").alias("avg"))
        .collect()
    }
    rep = {
        (r["symbol"], r["bucket"]): (r["_n"], r["amount_avg"])
        for r in sink.report(spark, grain="day", mean_of=["amount"]).collect()
    }
    assert set(rep) == set(direct)
    for k, (n, avg) in direct.items():
        assert rep[k][0] == n
        # decimal-sum / long division rounds at the result scale (6):
        # compare at that precision, not float precision
        assert float(rep[k][1]) == pytest.approx(float(avg), abs=1e-6)

    # replaying the same store path from a fresh checkpoint fails loudly
    # (inherited guard) rather than silently dropping history — covered
    # by the shared base-class test; here just confirm the store is
    # bounded: groups x touched-hour buckets
    assert sink.partials(spark).count() <= 4 * (5000 // 60 + 1)


def test_streaming_pq_code_sink_matches_one_shot(spark, tmp_path):
    """StreamingPqCodeSink: after N micro-batches of new vectors the
    landed (id, codes) snapshot must be bit-identical to a one-shot
    pq_codes over everything ingested (frozen codebook ⇒ batching can
    never change the store), and knn_pq_adc serving off the landed
    store must equal serving off an inline encode."""
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.similarity import (
        knn_pq_adc,
        pq_codes,
    )
    from kafkastreamsinteractivequeries_spark.sources.tables import load_table
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        StreamingPqCodeSink,
    )

    sf_dir = "/root/testdata/sf0.001"
    index = entry_mod.ensure_knn_indexes(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    src = str(tmp_path / "vecs")
    # three files → three micro-batches under maxFilesPerTrigger=1
    for r in range(3):
        emb.filter(F.col("vec_id") % 3 == r).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = str(tmp_path / "pq_store")
    sink = StreamingPqCodeSink(store, index["pq_book"], m=8)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    landed = sink.codes(spark)
    got = {r["vec_id"]: list(r["codes"]) for r in landed.collect()}
    want = {
        r["vec_id"]: list(r["codes"])
        for r in pq_codes(emb, index["pq_book"], m=8).collect()
    }
    assert got == want

    # serving off the landed store == serving off an inline encode
    qdf = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    off_store = knn_pq_adc(emb, qdf, index["pq_book"], k=5, m=8, code_rows=landed)
    inline = knn_pq_adc(emb, qdf, index["pq_book"], k=5, m=8)
    assert sorted(map(tuple, off_store.collect())) == sorted(
        map(tuple, inline.collect())
    )


def test_streaming_ivfpq_code_sink_matches_one_shot(spark, tmp_path):
    """StreamingIvfPqCodeSink: the landed (id, list_id, sub_id, code)
    union over N micro-batches equals a one-shot ivfpq_codes, and
    knn_ivfpq serving off the landed store equals the inline encode."""
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.similarity import (
        ivfpq_codes,
        knn_ivfpq,
    )
    from kafkastreamsinteractivequeries_spark.sources.tables import load_table
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        StreamingIvfPqCodeSink,
    )

    sf_dir = "/root/testdata/sf0.001"
    index = entry_mod.ensure_knn_indexes(spark, sf_dir)
    cent, book = index["ivfpq_centroids"], index["ivfpq_book"]
    emb = load_table(spark, sf_dir, "embeddings")
    src = str(tmp_path / "vecs")
    for r in range(2):
        emb.filter(F.col("vec_id") % 2 == r).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = str(tmp_path / "ivfpq_store")
    sink = StreamingIvfPqCodeSink(store, cent, book, m=8)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    landed = sink.codes(spark)
    got = sorted(map(tuple, landed.collect()))
    want = sorted(map(tuple, ivfpq_codes(emb, cent, book, m=8).collect()))
    assert got == want

    qdf = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    off_store = knn_ivfpq(
        emb, qdf, cent, book, k=5, nprobe=8, m=8, rerank=50, code_rows=landed
    )
    inline = knn_ivfpq(emb, qdf, cent, book, k=5, nprobe=8, m=8, rerank=50)
    assert sorted(map(tuple, off_store.collect())) == sorted(
        map(tuple, inline.collect())
    )


def test_code_sink_compaction_preserves_union(spark, tmp_path):
    """compact() folds all but the newest batch dirs into one; the
    landed union is row-identical before and after, serving keeps
    working, and directory count drops to keep_last + 1."""
    import os

    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.sources.tables import load_table
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        StreamingPqCodeSink,
    )

    sf_dir = "/root/testdata/sf0.001"
    index = entry_mod.ensure_knn_indexes(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    src = str(tmp_path / "vecs")
    for r in range(4):
        emb.filter(F.col("vec_id") % 4 == r).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = str(tmp_path / "store")
    sink = StreamingPqCodeSink(store, index["pq_book"], m=8)
    q = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    before = sorted(map(tuple, sink.codes(spark).collect()))
    assert len(sink._committed_dirs(spark)) == 4
    removed = sink.compact(spark, keep_last=1)
    assert removed == 2  # 3 old dirs folded into 1
    dirs = sink._committed_dirs(spark)
    assert len(dirs) == 2
    after = sorted(map(tuple, sink.codes(spark).collect()))
    assert after == before
    # idempotent when nothing left to fold
    assert sink.compact(spark, keep_last=1) == 0
    # no staging leftovers
    assert not [d for d in os.listdir(store) if "~compact" in d]


def test_streaming_url_dedup_matches_batch_canonical_set(spark, tmp_path):
    """Streaming URL dedup: the full canonicalization chain runs
    unchanged on the stream and the surviving CANONICAL SET within the
    watermark equals batch url_dedup's (survivor choice is
    first-arrival vs lowest-id, the sets must agree)."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import url_dedup
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        streaming_url_dedup,
    )

    rows = [
        (1, "https://example.com/a?b=2&a=1", T0),
        (2, "HTTPS://EXAMPLE.COM:443/a?a=1&utm_source=x&b=2#f",
         T0 + dt.timedelta(minutes=1)),  # canonical dup of 1
        (3, "https://example.com/b", T0 + dt.timedelta(minutes=2)),
        (4, "https://u:pw@example.com/b", T0 + dt.timedelta(minutes=3)),  # dup of 3
        (5, "http://other.org/", T0 + dt.timedelta(minutes=4)),
    ]
    schema = "doc_id long, url string, event_time timestamp"
    src = str(tmp_path / "urls")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_url_dedup(stream)
        .writeStream.format("memory")
        .queryName("url_dedup_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_u"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.canonical_url
        for r in spark.sql(
            "SELECT canonical_url FROM url_dedup_stream"
        ).collect()
    }
    batch = {
        r["canonical_url"]
        for r in url_dedup(spark.createDataFrame(rows, schema)).collect()
    }
    assert got == batch and len(got) == 3


def test_streaming_quantile_sketch_sink(spark, tmp_path):
    """Landed quantile sketch: two micro-batches merge through the
    deterministic re-thin; estimates off the landed sketch sit inside
    the one-shot sketch's error corridor, store stays ~41*k-bounded,
    and replaying the same batches is deterministic."""
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.sketches import (
        hashed_quantile_estimates,
        hashed_quantile_sketch,
    )
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        StreamingQuantileSketchSink,
    )

    src = str(tmp_path / "vals")
    a = spark.range(0, 20_000).select((F.col("id") % 1000).alias("v"))
    b = spark.range(0, 20_000).select(F.lit(500).alias("v"))
    a.coalesce(1).write.parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)

    store = str(tmp_path / "q_store")
    sink = StreamingQuantileSketchSink(store, "v", k=256)
    stream = (
        spark.readStream.schema("v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    landed = sink.sketch(spark)
    assert landed.count() <= 41 * 256
    est = {
        r["percentile"]: r["value"]
        for r in sink.estimates(spark).collect()
    }
    # combined distribution = uniform 0..999 + half the mass on 500:
    # true p50 = 500 (exactly, as in the batch test), p90 ~ 798
    one_shot = {
        r["percentile"]: r["value"]
        for r in hashed_quantile_estimates(
            hashed_quantile_sketch(a.unionByName(b), "v", k=256)
        ).collect()
    }
    assert est[50] == one_shot[50] == 500
    assert abs(est[90] - one_shot[90]) <= 120
    # total-mass estimate within 15% of the 40k ingested rows
    n_est = sink.estimates(spark).collect()[0]["n_est"]
    assert abs(n_est - 40_000) <= 6_000


def test_streaming_token_id_sink_matches_one_shot(spark, tmp_path):
    """StreamingTokenIdSink: after N micro-batches the landed
    (id, token_ids) store must be bit-identical to a one-shot
    segment+encode over everything ingested — frozen merges + vocab
    mean batching can never change a document's ids."""
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.text import (
        bpe_segment_arrow,
        bpe_train_trajectory,
    )
    from kafkastreamsinteractivequeries_spark.operators.training import (
        encode_token_ids,
        token_id_vocab,
    )
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        StreamingTokenIdSink,
    )

    rows = [
        (i, t)
        for i, t in enumerate(
            [
                "the cat sat on the mat",
                "the dog sat on the log",
                "a cat and a dog",
                "the mat and the log",
                "cats and dogs and logs",
                "mat mat mat cat cat",
            ]
        )
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    traj = bpe_train_trajectory(docs, num_merges=4)
    merges = [(left, right) for _s, left, right, _n in traj]
    seg = bpe_segment_arrow(docs, merges)
    vocab = {r["piece"]: r["token_id"] for r in token_id_vocab(seg).collect()}

    src = str(tmp_path / "docs")
    for r in range(3):  # three files → three micro-batches
        docs.filter(F.col("doc_id") % 3 == r).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    sink = StreamingTokenIdSink(str(tmp_path / "tok_store"), merges, vocab)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    landed = {
        r["doc_id"]: (list(r["token_ids"]), r["n_ids"])
        for r in sink.token_ids(spark).collect()
    }
    one_shot = {
        r["doc_id"]: (list(r["token_ids"]), r["n_ids"])
        for r in encode_token_ids(seg, vocab).collect()
    }
    assert landed == one_shot
    assert len(landed) == len(rows)
