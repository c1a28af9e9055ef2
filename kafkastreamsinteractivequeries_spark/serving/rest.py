"""REST serving layer: the Spark analog of the reference's Spring
controllers (``controller/StockController.java`` +
``controller/StatusController.java``), exposed with Flask.

Route map (reference → here):

- ``GET /streams-iq/keyquery/<symbol>``        StockController.java:186-206
- ``GET /streams-iq/multikey/<s1,s2,...>``     StockController.java:208-256
- ``GET /streams-iq/range?lower=&upper=&filter=`` StockController.java:102-139
  (bounds inclusive; ``filter`` is the JsonPath-style predicate of
  FilteredRangeQuery, e.g. ``@.buys > @.sells``)
- ``GET /streams-iq/partition/<key>?partitions=N&scheme=kafka|spark``
  PartitionGenerator.java:15-25 (dev tool: which partition owns a key;
  default ``kafka`` answers with exact murmur2 parity to the
  reference, ``spark`` reports Spark's own ``pmod(hash(key), N)``
  shuffle routing)
- ``GET /status/heartbeat`` and ``GET /status/all`` StatusController.java:36-52
  (liveness + StreamingQuery progress in place of host pings)

Everything returns the ``QueryResponse`` JSON envelope
(``query/QueryResponse.java:7-13``): ``errorMessage`` / ``result`` /
``executionInfo`` / ``hostInformation``.  Scatter-gather, gRPC
host-to-host hops, and standby failover have no analog: a single
DataFrame query is already distributed and fault-tolerant, so the
whole routing layer collapses into ``InteractiveQueryService``.

Scale note: REST reads hit the *serving* table, never the raw fact
table.  Point ``InteractiveQueryService`` at a compacted aggregate that
does not change while it is served: its first request takes a driver
snapshot of the frame (one collect, bounded by Spark's
``spark.driver.maxResultSize``; a frame Spark refuses is scanned per
request instead), later ranges, pages and filtered ranges whose
predicate has an Arrow form run no Spark job and never copy the rows
back to the JVM, and key, multikey and the other filtered reads (a
regex, a nested path, mixed types) run Spark over such a copy, with no
job while the snapshot stays under
``spark.sql.execution.arrow.localRelationThreshold``.  Serve the store
the streaming upsert sink maintains (streaming/pipeline.py) through
``LiveSnapshotQueryService``: on a local store its key and multikey
reads open only the picked keys' files on the driver and run no Spark
job, so their cost follows the keys read, not ingest volume.

A client error (a malformed predicate, limit or cursor, too many keys)
is answered 400 with the error envelope; 500 is kept for server faults.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession, functions as F

from kafkastreamsinteractivequeries_spark.plans.queries import (
    FilteredRangeQuery,
    KeyQuery,
    MultiKeyQuery,
    QueryResponse,
    create_range_query,
)
from kafkastreamsinteractivequeries_spark.plans.service import InteractiveQueryService


def _envelope(resp: QueryResponse) -> dict[str, Any]:
    return {
        "errorMessage": resp.error_message,
        "result": resp.result,
        "executionInfo": resp.execution_info,
        "hostInformation": resp.host_information,
    }


def _status(resp: QueryResponse) -> int:
    if not resp.error_message:
        return 200
    return 400 if resp.client_error else 500


def _page_params(req, collect_limit: int | None):
    """Shared limit/after parsing for the paginated endpoints.

    Returns (paged, page_size, after, error) — ``error`` is a ready
    (json, status) pair for a malformed or non-positive limit, so both
    endpoints validate the pagination contract identically."""
    from flask import jsonify  # deferred like create_app's import

    limit_arg = req.args.get("limit")
    after = req.args.get("after") or None
    paged = limit_arg is not None or after is not None
    try:
        page_size = int(limit_arg) if limit_arg is not None else (collect_limit or 10_000)
    except ValueError:
        err = jsonify(_envelope(QueryResponse.with_error(f"bad limit {limit_arg!r}")))
        return paged, 0, after, (err, 400)
    if page_size < 1:
        err = jsonify(_envelope(QueryResponse.with_error(
            f"limit must be >= 1, got {page_size}")))
        return paged, 0, after, (err, 400)
    if collect_limit is not None:
        page_size = min(page_size, collect_limit)
    return paged, page_size, after, None


def create_app(
    service: InteractiveQueryService,
    streaming_queries: list | None = None,
    collect_limit: int | None = 10_000,
    windowed_df=None,
    training_tables: dict | None = None,
):
    """Build the Flask app over an ``InteractiveQueryService``.

    ``streaming_queries``: optional list of live ``StreamingQuery``
    handles surfaced by ``/status/all`` (the analog of pinging every
    Kafka Streams instance's heartbeat endpoint).
    ``collect_limit`` caps rows per REST response — a serving API must
    never try to materialize an unbounded scan into one JSON payload.
    ``windowed_df``: optional windowed aggregate (see
    ``operators.windows.windowed_aggregate``) backing the
    ``/streams-iq/windowrange`` endpoint (the reference's dead Q5,
    implemented).
    ``training_tables``: optional ``{name: () -> DataFrame}`` map of
    TRAINING-DATA telemetry stores (packing-efficiency datasheet,
    landed quantile sketches, corpus datasheets) served at
    ``/training/store/<name>``.  Each hit re-resolves the callable —
    the ``LiveSnapshotQueryService`` convention, so a store backed by
    a ``_SUCCESS``-gated landed sink always serves the latest
    COMMITTED snapshot and never a torn write.  These tables are
    bounded by construction (per-shard/percentile/datasheet rows, not
    corpus rows); the ``collect_limit`` cap still applies.
    """
    from flask import Flask, jsonify, request

    app = Flask("ksiq-spark")
    streaming_queries = streaming_queries or []
    training_tables = training_tables or {}

    def run(query) -> Any:
        resp = service.execute_response(query, collect_limit=collect_limit)
        return jsonify(_envelope(resp)), _status(resp)

    @app.get("/streams-iq/keyquery/<symbol>")
    def keyquery(symbol: str):
        return run(KeyQuery.with_key(symbol))

    @app.get("/streams-iq/multikey/<symbols>")
    def multikey(symbols: str):
        query = MultiKeyQuery.with_keys(s for s in symbols.split(",") if s)
        if collect_limit is not None and len(query.keys) > collect_limit:
            # one row per key: a capped answer would drop keys silently
            return jsonify(_envelope(QueryResponse.with_error(
                f"multikey asks for {len(query.keys)} distinct keys; "
                f"the cap is collect_limit={collect_limit}"))), 400
        return run(query)

    @app.get("/streams-iq/range")
    def range_query():
        lower = request.args.get("lower") or None
        upper = request.args.get("upper") or None
        predicate = request.args.get("filter") or None
        if predicate is not None:
            q = FilteredRangeQuery.with_bounds(lower, upper).predicate(predicate)
        else:
            q = create_range_query(lower, upper)
        # Keyset pagination: ``limit`` (page size, capped at
        # collect_limit) + ``after`` (exclusive key cursor).  A range
        # matching millions of rows pages through in bounded collects;
        # the envelope gains a ``nextCursor`` field on non-final pages.
        paged, page_size, after, err = _page_params(request, collect_limit)
        if err is not None:
            return err
        if paged:
            resp, next_cursor = service.execute_page(q, page_size, after=after)
            body = _envelope(resp)
            body["nextCursor"] = next_cursor
            return jsonify(body), _status(resp)
        return run(q)

    @app.get("/streams-iq/windowrange")
    def window_range_query():
        from kafkastreamsinteractivequeries_spark.plans.queries import (
            FilteredWindowRangeQuery,
        )

        if windowed_df is None:
            return jsonify(_envelope(QueryResponse.with_error(
                "no windowed aggregate configured"))), 501
        t_from = request.args.get("from")
        t_to = request.args.get("to")
        if not t_from or not t_to:
            return jsonify(_envelope(QueryResponse.with_error(
                "both 'from' and 'to' are required"))), 400
        predicate = request.args.get("filter") or None
        query = FilteredWindowRangeQuery.with_bounds(t_from, t_to)
        if predicate:
            query = query.predicate(predicate)
        # Keyset pagination on the composite (window_start, symbol)
        # order: ``after`` carries "<window_start iso>|<symbol>"; the
        # cursor predicate ANDs into the scan and orderBy().limit(n+1)
        # stays TakeOrderedAndProject — same bounded-collect contract
        # as the range endpoint.
        paged, page_size, after, err = _page_params(request, collect_limit)
        if err is not None:
            return err
        try:
            result_df = query.apply(windowed_df)
            next_cursor = None
            if paged:
                if after is not None:
                    try:
                        a_ws, a_sym = after.split("|", 1)
                    except ValueError:
                        return jsonify(_envelope(QueryResponse.with_error(
                            f"bad cursor {after!r}: expected '<window_start>|<symbol>'"))), 400
                    ws = F.col("window_start")
                    a_ts = F.lit(a_ws).cast("timestamp")
                    result_df = result_df.filter(
                        (ws > a_ts) | ((ws == a_ts) & (F.col("symbol") > a_sym))
                    )
                rows = (
                    result_df.orderBy("window_start", "symbol")
                    .limit(page_size + 1)
                    .collect()
                )
                if len(rows) > page_size:
                    rows = rows[:page_size]
                    last = rows[-1]
                    next_cursor = f"{last['window_start'].isoformat()}|{last['symbol']}"
            else:
                # None = unlimited, matching execute_response's semantics
                if collect_limit is not None:
                    result_df = result_df.limit(collect_limit)
                rows = result_df.collect()
        except Exception as exc:
            resp = QueryResponse.from_exception(exc)
            return jsonify(_envelope(resp)), _status(resp)
        resp = QueryResponse.with_result(
            [{k: (str(v) if hasattr(v, "isoformat") else v) for k, v in r.asDict().items()}
             for r in rows]
        )
        resp.host_information = "spark-driver"
        body = _envelope(resp)
        if paged:
            body["nextCursor"] = next_cursor
        return jsonify(body)

    @app.get("/streams-iq/partition/<key>")
    def partition_for_key(key: str):
        from kafkastreamsinteractivequeries_spark.functions import partitioning

        raw = request.args.get("partitions", "32")
        try:
            n = int(raw)
        except ValueError:
            n = 0
        if n < 1:
            return jsonify(_envelope(QueryResponse.with_error(
                f"partitions must be a positive integer, got {raw!r}"))), 400
        scheme = request.args.get("scheme", "kafka")
        if scheme == "kafka":
            # exact reference parity: toPositive(murmur2(key)) % n
            p = partitioning.partition_for_key(key, n)
        elif scheme == "spark":
            p = SparkSession.active().range(1).select(
                F.pmod(F.hash(F.lit(key)), F.lit(n)).alias("partition")
            ).collect()[0]["partition"]
        else:
            return jsonify(_envelope(QueryResponse.with_error(
                f"unknown scheme {scheme!r}; use kafka or spark"))), 400
        return jsonify(
            {"key": key, "numPartitions": n, "scheme": scheme, "partition": int(p)}
        )

    @app.get("/training/stores")
    def training_stores():
        return jsonify(
            {"stores": sorted(training_tables), "count": len(training_tables)}
        )

    @app.get("/training/store/<name>")
    def training_store(name: str):
        if name not in training_tables:
            return (
                jsonify(
                    _envelope(
                        QueryResponse.with_error(
                            f"unknown training store {name!r}; "
                            f"see /training/stores"
                        )
                    )
                ),
                404,
            )
        paged, page_size, after, err = _page_params(request, collect_limit)
        if err is not None:
            return err
        if after is not None:
            # stores have no universal key column — bounded limit only
            return (
                jsonify(
                    _envelope(
                        QueryResponse.with_error(
                            "training stores do not support keyset "
                            "pagination; use limit="
                        )
                    )
                ),
                400,
            )
        lim = page_size if paged else (collect_limit or 10_000)
        try:
            rows = training_tables[name]().limit(lim).collect()
        except Exception as exc:
            return jsonify(_envelope(QueryResponse.with_error(str(exc)))), 500
        resp = QueryResponse.with_result(
            [
                {
                    k: (str(v) if hasattr(v, "isoformat") else v)
                    for k, v in r.asDict().items()
                }
                for r in rows
            ]
        )
        resp.host_information = "spark-driver"
        return jsonify(_envelope(resp))

    @app.get("/status/heartbeat")
    def heartbeat():
        return jsonify({"status": "alive"})

    @app.get("/status/all")
    def status_all():
        out = []
        for q in streaming_queries:
            out.append(
                {
                    "id": str(q.id),
                    "name": q.name,
                    "isActive": q.isActive,
                    "status": q.status,
                    "lastProgress": q.lastProgress,
                }
            )
        return jsonify({"queries": out, "count": len(out)})

    return app
