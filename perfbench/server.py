"""Server process of the serving benchmark: the system under test.

It builds the engine session with ``get_spark``, lands the live store
through the streaming pipeline, and serves ``create_app`` over real
HTTP.  ``/`` serves the workload's primary service and ``/live`` the
live manifest store; for ``iq_point`` both are the live store, for
``iq_scan`` the primary is ``InteractiveQueryService`` over the
README's batch aggregate.

The load generator (``run.py``) drives it with one-line commands on
stdin and reads one ``@@ {json}`` line per reply on stdout:

    stream_stop | trace on | trace off | jobs | spans PATH | quit

Usage: python perfbench/server.py --work DIR --workload NAME [--trace]
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import sys
import threading
import time


def _progress_rows(query) -> list[dict]:
    rows = []
    for p in query.recentProgress:
        rows.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return rows


def _manifest_stats(sink_path: str) -> dict:
    """Paths in the newest snapshot and the number of committed
    versions, read straight from the store's files."""
    mdir = os.path.join(sink_path, "manifest")
    versions = sorted(n for n in os.listdir(mdir) if n.startswith("v") and n.endswith(".json"))
    with open(os.path.join(mdir, versions[-1])) as fh:
        snapshot = json.load(fh)
    return {"paths": len(set(snapshot.values())), "versions": len(versions)}


def _instrument(tracer, spark):
    """Wrap the public calls of each layer; returns the WSGI hook that
    tags a traced request's Spark jobs with its request id."""
    from pyspark.sql.classic.dataframe import DataFrame

    from kafkastreamsinteractivequeries_spark.plans.queries import Query
    from kafkastreamsinteractivequeries_spark.plans.service import InteractiveQueryService
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import ManifestServingSink

    def read_attrs(rec, args, result):
        rec.update(_manifest_stats(args[0].path))

    def commit_attrs(rec, args, result):
        sink, _, batch_id = args
        rec["rid"] = f"batch-{batch_id}"
        path = os.path.join(sink.path, "manifest", f"v{batch_id:020d}.json")
        rec["manifest_bytes"] = os.path.getsize(path) if os.path.exists(path) else 0

    tracer.wrap(InteractiveQueryService, "execute_response", "service")
    tracer.wrap(InteractiveQueryService, "execute_page", "service")
    tracer.wrap(Query, "apply", "queries.apply")
    tracer.wrap(ManifestServingSink, "read", "sink.read", after=read_attrs)
    tracer.wrap(ManifestServingSink, "__call__", "sink.commit", after=commit_attrs)
    tracer.wrap(DataFrame, "collect", "spark.collect")

    sc = spark.sparkContext

    def on_request(rid):
        sc.setJobGroup(rid, rid)

    return on_request


def main() -> None:
    t_launch = time.perf_counter()
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--workload", required=True, choices=("iq_point", "iq_scan"))
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    # protocol replies own the real stdout; everything else (including
    # the JVM's inherited fd 1) goes to stderr
    proto = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)

    def reply(**obj) -> None:
        proto.write("@@ " + json.dumps(obj) + "\n")

    from werkzeug.middleware.dispatcher import DispatcherMiddleware
    from werkzeug.serving import WSGIRequestHandler, make_server

    from kafkastreamsinteractivequeries_spark import get_spark
    from kafkastreamsinteractivequeries_spark.operators.aggregation import aggregate_transactions
    from kafkastreamsinteractivequeries_spark.plans.service import (
        InteractiveQueryService,
        LiveSnapshotQueryService,
    )
    from kafkastreamsinteractivequeries_spark.serving.rest import create_app
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        ManifestServingSink,
        file_transaction_stream,
        start_transactional_serving_pipeline,
    )

    logging.getLogger("werkzeug").setLevel(logging.ERROR)
    tracer = None
    if args.trace:
        from spans import Tracer  # this directory is sys.path[0]

        tracer = Tracer()

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    work = args.work
    staging, txns = f"{work}/staging", f"{work}/txns"
    serving = f"{work}/serving"
    os.makedirs(txns)
    traced_rids: list[str] = []
    on_request = None
    if tracer:
        set_group = _instrument(tracer, spark)

        def on_request(rid):
            traced_rids.append(rid)
            set_group(rid)

    # land the live store, one micro-batch per staged file; the stream
    # then keeps running on its default trigger for the ingest phase
    t0 = time.perf_counter()
    query = start_transactional_serving_pipeline(
        file_transaction_stream(spark, txns), serving, f"{work}/ckpt"
    )
    for name in sorted(os.listdir(staging)):
        os.rename(f"{staging}/{name}", f"{txns}/{name}")
        query.processAllAvailable()
    land_s = time.perf_counter() - t0

    live = LiveSnapshotQueryService(spark, ManifestServingSink(serving))
    if args.workload == "iq_scan":
        primary = InteractiveQueryService(aggregate_transactions(spark.read.parquet(f"{work}/scan")))
    else:
        primary = live
    app = DispatcherMiddleware(create_app(primary), {"/live": create_app(live)})
    if tracer:
        app = tracer.wsgi(app, on_request)

    class Http11(WSGIRequestHandler):
        protocol_version = "HTTP/1.1"  # keep-alive: one connection per client

    srv = make_server("127.0.0.1", 0, app, threaded=True, request_handler=Http11)
    server_thread = threading.Thread(target=srv.serve_forever, daemon=True)
    server_thread.start()
    reply(event="ready", port=srv.server_port, session_s=session_s, land_s=land_s,
          launch_to_ready_s=time.perf_counter() - t_launch)

    for line in sys.stdin:
        cmd = line.split()
        if not cmd:
            continue
        if cmd[0] == "stream_stop":
            progress = _progress_rows(query) if query is not None else []
            if query is not None:
                query.stop()
            query = None
            reply(ok=True, progress=progress)
        elif cmd[0] == "trace" and tracer:
            tracer.enabled = cmd[1] == "on"
            reply(ok=True)
        elif cmd[0] == "jobs" and tracer:
            tracker = spark.sparkContext.statusTracker()
            rids = [r for r in traced_rids if r.startswith("R")][-150:]
            reply(ok=True, jobs={r: len(tracker.getJobIdsForGroup(r)) for r in rids})
        elif cmd[0] == "spans" and tracer:
            tracer.dump(cmd[1])
            reply(ok=True)
        elif cmd[0] == "quit":
            break
        else:
            reply(ok=False, error=f"unknown command {line.strip()!r}")
    srv.shutdown()
    server_thread.join(timeout=10)
    if query is not None:
        query.stop()
    spark.stop()
    reply(ok=True, bye=True)


if __name__ == "__main__":
    main()
