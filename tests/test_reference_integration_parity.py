"""Scenario-for-scenario parity with the reference's end-to-end suite
(``InteractiveQueriesIntegrationTest.java``), re-expressed on the Spark
pipeline: file-source stream (Kafka analog, README "Known limitation")
→ standing aggregate → serving table → REST surface.

Reference scenario map:
- key query + standby failover (``:100-158``)   → key query + stop /
  restart-from-checkpoint (Q8's documented Spark-native replacement)
- range query over 6 symbols + failover (``:209-250``)
- filtered range ``@.symbol == 'CFLT'`` with the deterministic CFLT
  fixture — 5 buys×1000 + 5 sells×500 (``:252-284,410-422``)
- multi-key over all 6 symbols (``:286-320``)

Fixtures mirror the reference exactly: symbols {CFLT, ZELK, GOOGL,
SHMDF, TWTR, MSFT} (``:72-73,225``), plain records amount=100
(``:404-408``; buy flags deterministic here instead of random — the
reference's assertions never depend on the flag).
"""

import datetime as dt

import pytest

from kafkastreamsinteractivequeries_spark.plans.service import InteractiveQueryService
from kafkastreamsinteractivequeries_spark.schemas import STOCK_TRANSACTION_SCHEMA
from kafkastreamsinteractivequeries_spark.serving.rest import create_app
from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
    ManifestServingSink,
    file_transaction_stream,
    start_transactional_serving_pipeline,
)

# excluded from the default gate (reference-integration end-to-end); see pytest.ini
pytestmark = pytest.mark.slow

SYMBOLS = ["CFLT", "ZELK", "GOOGL", "SHMDF", "TWTR", "MSFT"]
T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _plain_records(num_per_symbol):
    # getTransactionList(...): amount=100.00 per record (:404-408)
    rows = []
    for i, sym in enumerate(SYMBOLS):
        for j in range(num_per_symbol):
            rows.append((sym, (i + j) % 2 == 0, 100.0, 5, T0 + dt.timedelta(minutes=j)))
    return rows


def _filtered_range_records(num_per_symbol):
    # getListForFilteredRange(...): CFLT = 5 buys×1000 + 5 sells×500 so
    # buys > sells deterministically (:410-422); others plain
    rows = []
    for j in range(5):
        rows.append(("CFLT", True, 1000.0, 5, T0 + dt.timedelta(minutes=j)))
        rows.append(("CFLT", False, 500.0, 5, T0 + dt.timedelta(minutes=j)))
    for i, sym in enumerate(s for s in SYMBOLS if s != "CFLT"):
        for j in range(num_per_symbol):
            rows.append((sym, (i + j) % 2 == 0, 100.0, 5, T0 + dt.timedelta(minutes=j)))
    return rows


def _run_pipeline(spark, tmp_path, rows):
    src = str(tmp_path / "txns")
    spark.createDataFrame(rows, STOCK_TRANSACTION_SCHEMA).coalesce(1).write.parquet(src)
    serving, ckpt = str(tmp_path / "serving"), str(tmp_path / "ckpt")
    q = start_transactional_serving_pipeline(file_transaction_stream(spark, src), serving, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return src, serving, ckpt


def _client(spark, serving):
    app = create_app(InteractiveQueryService(ManifestServingSink(serving).read(spark)))
    app.config["TESTING"] = True
    return app.test_client()


def test_key_query_and_failover(spark, tmp_path):
    # testStandbyKeyQueryIQ (:100-158): key queries answer for both
    # symbols; after an instance dies, the SAME queries still answer.
    # Spark analog of the standby failover: stop the streaming query
    # and restart from the checkpoint — the serving table (storage HA)
    # keeps answering throughout.
    src, serving, ckpt = _run_pipeline(spark, tmp_path, _plain_records(3))
    c = _client(spark, serving)
    for sym in ("CFLT", "ZELK"):
        body = c.get(f"/streams-iq/keyquery/{sym}").get_json()
        assert body["errorMessage"] is None
        assert body["result"][0]["symbol"] == sym
        assert body["result"][0]["buys"] + body["result"][0]["sells"] == 300.0

    # "failover": restart the pipeline from its checkpoint, append one
    # more record, and re-issue the queries — no data loss, state
    # carried (the reference's standby guarantees, from checkpoint +
    # storage instead of replicas)
    extra = [("CFLT", True, 100.0, 5, T0 + dt.timedelta(hours=1))]
    spark.createDataFrame(extra, STOCK_TRANSACTION_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q2 = start_transactional_serving_pipeline(file_transaction_stream(spark, src), serving, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    c2 = _client(spark, serving)
    body = c2.get("/streams-iq/keyquery/CFLT").get_json()
    assert body["result"][0]["buys"] + body["result"][0]["sells"] == 400.0
    body = c2.get("/streams-iq/keyquery/ZELK").get_json()
    assert body["result"][0]["symbol"] == "ZELK"


def test_range_query_returns_all_six_symbols(spark, tmp_path):
    # testStandbyRangeQueryIQ (:209-250): range CFLT..ZELK contains all
    # six symbols (lexicographic, inclusive bounds), again after the
    # restart.
    src, serving, ckpt = _run_pipeline(spark, tmp_path, _plain_records(4))
    c = _client(spark, serving)
    body = c.get("/streams-iq/range?lower=CFLT&upper=ZELK").get_json()
    assert sorted(r["symbol"] for r in body["result"]) == sorted(SYMBOLS)

    q2 = start_transactional_serving_pipeline(file_transaction_stream(spark, src), serving, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    body = _client(spark, serving).get(
        "/streams-iq/range?lower=CFLT&upper=ZELK"
    ).get_json()
    assert sorted(r["symbol"] for r in body["result"]) == sorted(SYMBOLS)


def test_filtered_range_returns_exactly_cflt(spark, tmp_path):
    # testFilteredRangeQueryIQ (:252-284): the JsonPath filter
    # @.symbol == 'CFLT' over the range returns exactly one result,
    # CFLT — and (stronger than the reference, whose buy flags are
    # random) the deterministic fixture pins buys=5000, sells=2500.
    _, serving, _ = _run_pipeline(spark, tmp_path, _filtered_range_records(4))
    c = _client(spark, serving)
    body = c.get(
        "/streams-iq/range?lower=CFLT&upper=ZELK&filter=@.symbol == 'CFLT'"
    ).get_json()
    assert body["errorMessage"] is None
    assert len(body["result"]) == 1
    row = body["result"][0]
    assert row["symbol"] == "CFLT"
    assert row["buys"] == 5000.0 and row["sells"] == 2500.0
    # the fixture's design intent holds: buys > sells
    assert row["buys"] > row["sells"]


def test_multikey_query_over_all_symbols(spark, tmp_path):
    # testMultiKeyQuery (:286-320): one request for every symbol
    # returns each exactly once.
    _, serving, _ = _run_pipeline(spark, tmp_path, _plain_records(3))
    c = _client(spark, serving)
    body = c.get("/streams-iq/multikey/" + ",".join(SYMBOLS)).get_json()
    assert body["errorMessage"] is None
    assert sorted(r["symbol"] for r in body["result"]) == sorted(SYMBOLS)
