"""Serving benchmark for the interactive-query system, over real HTTP.

    python3 perfbench/run.py --workload iq_point|iq_scan --seed N --seconds S --trace 0|1

Run from the repository root.  The load generator (this process) makes
seeded inputs with pyarrow, computes the expected answers in DuckDB,
launches ``perfbench/server.py`` (``get_spark`` on ``nproc`` cores, the
streaming pipeline and ``create_app``) and drives it with two
closed-loop HTTP clients.  ``setup_s`` runs from server launch until it
serves.  The stream is then stopped, and after an untimed warm-up the
timed read phase (``S`` s) runs the workload's request mix with ingest
off.  It gives ``req_p50_ms``, ``req_p90_ms``, ``req_per_s`` and
``rows_per_s``.

Workloads: ``iq_point`` serves point and multi-key reads from the live
manifest store (``LiveSnapshotQueryService``); ``iq_scan`` serves paged,
bounded and filtered ranges from ``InteractiveQueryService`` over the
batch aggregate of a 60k-transaction table.

``--trace 1`` wraps the public calls of each layer (``spans.py``) and
prints the self-time table by layer, whether each predicted largest
layer held, and the per-layer metrics instead of the end-to-end ones.
Before its read phase it runs an ingest phase (``0.4 * S`` s): the
stream keeps running on its default trigger, an open-loop producer
publishes one small transaction file every 70 ms and a prober reads the
probe key through REST each time a manifest version appears, beside two
point readers of the live store.  That gives freshness (file due time
to the first read that returns it), reads beside writes and the commit
path's layers.  Tracing alternates on and off every 2 s of the read
phase; traced minus untraced read latency is its overhead.

The last stdout line is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
Every run also appends a record (start loadavg, external CPU, per-window
medians, failures) to ``.perfbench_work/runs.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import numpy as np

import inputs
import spans as sp
import traffic

DEADLINE_S = 170.0        # a run must exit within 180 s
WARM_S = 27.0             # untimed warm-up of the read phase
INGEST_WARM_S = 5.0       # untimed start of the ingest phase
DRAIN_S = 20.0            # wait for the last published files to show
TOGGLE_S = 2.0            # traced run: tracing on/off period
INGEST_SHARE = 0.4       # traced run: ingest phase length, share of --seconds
CLIENTS = 2

END_TO_END = {
    "setup_s": "s",
    "req_p50_ms": "ms",
    "req_p90_ms": "ms",
    "req_per_s": "1/s",
    "rows_per_s": "rows/s",
}

PER_LAYER = {
    "rest.handler_ms": "ms",
    "rest.self_ms": "ms",
    "rest.wire_ms": "ms",
    "service.self_ms": "ms",
    "service.rows": "rows",
    "queries.apply_ms": "ms",
    "sink.read_ms": "ms",
    "sink.read_paths": "count",
    "sink.manifest_versions": "count",
    "spark.collect_ms": "ms",
    "spark.jobs_per_req": "count",
    "sink.commit_ms": "ms",
    "sink.manifest_bytes": "bytes",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.offset_ms": "ms",
    "stream.plan_ms": "ms",
    "stream.wal_ms": "ms",
    "stream.rows_per_batch": "rows",
    "stream.state_rows": "rows",
    "stream.state_bytes": "bytes",
    "ingest.fresh_p50_ms": "ms",
    "ingest.fresh_p90_ms": "ms",
    "ingest.req_p50_ms": "ms",
    "ingest.commit_wait_ms": "ms",
    "ingest.read_ms": "ms",
    "gen.lag_ms": "ms",
    "setup.session_s": "s",
    "setup.land_s": "s",
    "trace.overhead_ms": "ms",
}

# the layer expected to hold the most self time of a read-phase request
PREDICTED_READ_LAYER = {"iq_point": "sink.read", "iq_scan": "spark.collect"}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _p90(xs) -> float:
    return statistics.quantiles(xs, n=10)[8] if len(xs) >= 2 else _median(xs)


def cpu_snapshot(pids: list[int]) -> tuple[int, int, int]:
    """(machine busy jiffies, machine total jiffies, jiffies of ``pids``
    and all their descendants)."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:11]]
    total = sum(vals)
    busy = total - vals[3] - vals[4]  # minus idle and iowait
    ours, stack, seen = 0, list(pids), set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as fh:
                st = fh.read().rsplit(")", 1)[1].split()
            ours += int(st[11]) + int(st[12])  # utime + stime
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children") as fh:
                    stack.extend(int(k) for k in fh.read().split())
        except OSError:
            continue
    return busy, total, ours


class Server:
    """The server process and its one-line command channel."""

    def __init__(self, root: str, work: str, workload: str, trace: bool, sessions: list[int]) -> None:
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": root,
            "SPARK_GRAFT_CPUS": str(os.cpu_count() or 4),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            # no hsperfdata file in the system temp dir
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "PYTHONUNBUFFERED": "1",
        })
        os.makedirs(env["TMPDIR"])
        cmd = [sys.executable, os.path.join(root, "perfbench", "server.py"),
               "--work", work, "--workload", workload] + (["--trace"] if trace else [])
        self.log = open(os.path.join(work, "server.log"), "w")
        self.proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True, start_new_session=True,
        )
        sessions.append(self.proc.pid)  # its process group, for the watchdog
        self.replies: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@ "):
                self.replies.put(json.loads(line[3:]))
        self.replies.put(None)

    def reply(self, timeout: float) -> dict:
        try:
            msg = self.replies.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(f"server gave no reply within {timeout:.0f} s") from None
        if msg is None:
            raise RuntimeError("server exited; see server.log")
        if msg.get("ok") is False:
            raise RuntimeError(f"server refused a command: {msg}")
        return msg

    def call(self, cmd: str, timeout: float = 60.0) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.reply(timeout)

    def close(self) -> None:
        """Stop the server and every process it started (the JVM too)."""
        if self.proc.poll() is None:
            try:
                self.call("quit", timeout=30)
                self.proc.wait(timeout=30)
            except (RuntimeError, OSError, subprocess.TimeoutExpired):
                pass
        if self.proc.poll() is None:
            os.killpg(self.proc.pid, 15)
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(self.proc.pid, 9)
                self.proc.wait()
        try:
            os.killpg(self.proc.pid, 9)  # stragglers of the session, if any
        except ProcessLookupError:
            pass
        self.log.close()


def _layer_metrics(workload, spans, samples, jobs, progress, probes, ready) -> tuple[dict, list[str]]:
    """Per-layer metrics of a traced run and the self-time report."""
    lat = {s.rid: s.end - s.start for s in samples if s.phase == "R"}
    rows = {s.rid: s.rows for s in samples if s.phase == "R"}
    traced = {s["rid"] for s in spans if s["name"] == "rest.handler" and s["rid"] in lat}
    reqs = sp.per_request(spans, traced)

    def layer(name, key="total"):
        return [reqs[r].get(name, {}).get(key, 0.0) * 1e3 for r in traced]

    def attr(name, key):
        return [a[key] for r in traced for a in reqs[r].get(name, {}).get("attrs", [])]

    commits = [s for s in spans if s["name"] == "sink.commit"]
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]

    def dur(key):
        return _median([p["durationMs"].get(key, 0) for p in batches])

    def state(key):
        return _median([p["stateOperators"][0][key] for p in batches if p.get("stateOperators")])

    f_probes = [p for p in probes if p.in_window]
    fresh = [(p.visible - p.due) * 1e3 for p in f_probes if not math.isnan(p.visible)]
    m = {
        "rest.handler_ms": _median(layer("rest.handler")),
        "rest.self_ms": _median(layer("rest.handler", "self")),
        "rest.wire_ms": _median([lat[r] * 1e3 - reqs[r]["rest.handler"]["total"] * 1e3 for r in traced]),
        "service.self_ms": _median(layer("service", "self")),
        "service.rows": statistics.fmean([rows[r] for r in traced]) if traced else 0.0,
        "queries.apply_ms": _median(layer("queries.apply")),
        "sink.read_ms": _median(layer("sink.read")),
        "sink.read_paths": _median(attr("sink.read", "paths")),
        "sink.manifest_versions": _median(attr("sink.read", "versions")),
        "spark.collect_ms": _median(layer("spark.collect")),
        "spark.jobs_per_req": statistics.fmean(jobs.values()) if jobs else 0.0,
        "sink.commit_ms": _median([(s["end"] - s["start"]) * 1e3 for s in commits]),
        "sink.manifest_bytes": _median([s.get("manifest_bytes", 0) for s in commits]),
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.offset_ms": dur("latestOffset") + dur("getBatch"),
        "stream.plan_ms": dur("queryPlanning"),
        "stream.wal_ms": dur("walCommit") + dur("commitOffsets"),
        "stream.rows_per_batch": _median([p["numInputRows"] for p in batches]),
        "stream.state_rows": state("numRowsTotal"),
        "stream.state_bytes": state("memoryUsedBytes"),
        "ingest.fresh_p50_ms": _median(fresh),
        "ingest.fresh_p90_ms": _p90(fresh),
        "ingest.req_p50_ms": _median([(s.end - s.start) * 1e3 for s in samples if s.phase == "F"]),
        "ingest.commit_wait_ms": _median([(p.appeared - p.due) * 1e3 for p in f_probes]),
        "ingest.read_ms": _median([(p.visible - p.appeared) * 1e3 for p in f_probes]),
        "gen.lag_ms": _median([(p.published - p.due) * 1e3 for p in f_probes]),
        "setup.session_s": ready["session_s"],
        "setup.land_s": ready["land_s"],
        "trace.overhead_ms": (
            _median([lat[r] for r in traced]) - _median([lat[r] for r in set(lat) - traced])
        ) * 1e3,
    }

    report = []
    read_rows = sp.layer_table(spans, traced)
    report.append(sp.render(read_rows, f"[{workload}] read phase, {len(traced)} traced requests: self time by layer"))
    top = read_rows[0]["layer"] if read_rows else None
    want = PREDICTED_READ_LAYER[workload]
    report.append(f"predicted largest read layer {want}: {'held' if top == want else f'NOT held (largest is {top})'}")
    parts = {k: dur(k) for k in ("addBatch", "latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")}
    report.append("ingest phase, median ms per micro-batch: " + ", ".join(f"{k} {v:.1f}" for k, v in parts.items())
                  + f"; sink.commit {m['sink.commit_ms']:.1f}")
    held = max(parts, key=parts.get) == "addBatch" and m["sink.commit_ms"] >= 0.5 * parts["addBatch"]
    report.append("predicted freshness path stream.add_batch > sink.commit: " + ("held" if held else "NOT held"))
    report.append(f"tracing overhead on read p50: {m['trace.overhead_ms']:+.2f} ms "
                  f"({len(traced)} traced vs {len(set(lat) - traced)} untraced requests)")
    return m, report


def run(args, root: str, sessions: list[int]) -> dict:
    t_begin = time.perf_counter()
    sizes = inputs.TINY if args.size == "tiny" else inputs.Sizes()
    read_s = args.seconds
    ingest_s = args.seconds * INGEST_SHARE
    f0 = f1 = 0.0
    warm_s = WARM_S if args.size != "tiny" else 2.0
    n_ingest = int((INGEST_WARM_S + ingest_s + 5) / sizes.ingest_period_s) + 10 if args.trace else 0

    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load0 = os.getloadavg()
    rng = np.random.default_rng(args.seed)
    store = inputs.make_live_store(work, rng, sizes, n_ingest)
    table = inputs.make_scan_table(work, rng, sizes) if args.workload == "iq_scan" else None

    cpu0 = cpu_snapshot([os.getpid()])
    t_launch = time.perf_counter()
    server = Server(root, work, args.workload, bool(args.trace), sessions)
    try:
        ready = server.reply(timeout=120)
        setup_s = time.perf_counter() - t_launch
        port = ready["port"]

        clock = traffic.Clock()
        log = traffic.Log()
        producer = traffic.Producer(store, os.path.join(work, "txns"), sizes.ingest_period_s)

        def start_readers(n: int, tag: str, stop: threading.Event, live: bool = False) -> list[threading.Thread]:
            if live or args.workload == "iq_point":
                prefix = "/live" if live else ""
                readers = [traffic.PointReader(store, producer.published, prefix, first=i) for i in range(n)]
            else:
                readers = [traffic.ScanReader(table, sizes.range_keys, sizes.page_limit)
                           for _ in range(n)]
            threads = [
                threading.Thread(target=traffic.reader_loop, daemon=True, args=(
                    r, port, np.random.default_rng([args.seed, ord(tag), i]), f"{tag}{i}", clock, log, stop))
                for i, r in enumerate(readers)
            ]
            for t in threads:
                t.start()
            return threads

        def join(threads: list[threading.Thread]) -> None:
            for t in threads:
                t.join(timeout=traffic.TIMEOUT_S + 5)

        if args.trace:
            # ingest phase (traced runs only): the stream that landed the
            # store keeps running; an open-loop producer and the prober
            # run beside two point readers of the live store
            server.call("trace on")
            stop_ingest, stop_producer, stop_prober = (threading.Event() for _ in range(3))
            prod = threading.Thread(target=producer.run, args=(time.perf_counter(), stop_producer), daemon=True)
            prober = threading.Thread(target=traffic.prober_loop, daemon=True, args=(
                producer, os.path.join(work, "serving", "manifest"), port, "/live", log, stop_prober))
            prod.start()
            prober.start()
            ingest_readers = start_readers(CLIENTS, "i", stop_ingest, live=True)
            time.sleep(INGEST_WARM_S)
            clock.phase = "F"
            f0 = time.perf_counter()
            time.sleep(ingest_s)
            f1 = time.perf_counter()
            clock.phase = "drain"
            stop_producer.set()
            prod.join(timeout=10)
            deadline = time.perf_counter() + DRAIN_S
            while time.perf_counter() < deadline and any(math.isnan(p.visible) for p in producer.snapshot()):
                time.sleep(0.05)
            stop_prober.set()
            prober.join(timeout=traffic.TIMEOUT_S + 5)
            stop_ingest.set()
            join(ingest_readers)
        progress = server.call("stream_stop", timeout=60)["progress"]
        if args.trace:
            traffic.check_final_state(port, store, producer.published(), log)

        # read phase: ingest off.  The untimed warm-up runs only the timed
        # clients: with more threads the JVM's compiler threads get less
        # CPU and latency settles later.
        clock.phase = "warm"
        stop_readers = threading.Event()
        readers = start_readers(CLIENTS, "c", stop_readers)
        time.sleep(warm_s)
        clock.phase = "R"
        r0 = time.perf_counter()
        window = 0
        while time.perf_counter() - r0 < read_s:
            if args.trace:
                # off, on, on, off, ...: a linear drift cancels out of
                # the traced-minus-untraced difference
                server.call("trace on" if window % 4 in (1, 2) else "trace off")
                window += 1
            time.sleep(max(0.0, min(TOGGLE_S, read_s - (time.perf_counter() - r0))))
        r1 = time.perf_counter()
        clock.phase = "end"
        stop_readers.set()
        join(readers)
        jobs = server.call("jobs")["jobs"] if args.trace else {}

        spans = []
        if args.trace:
            spans_path = os.path.join(base, f"spans-{args.workload}-s{args.seed}.json")
            server.call(f"spans {spans_path}", timeout=60)
            with open(spans_path) as fh:
                spans = json.load(fh)
        cpu1 = cpu_snapshot([os.getpid(), server.proc.pid])
    finally:
        server.close()

    probes = producer.snapshot()
    for p in probes:
        p.in_window = f0 <= p.due < f1
    unseen = [p.seq for p in probes if math.isnan(p.visible)]
    if unseen:
        log.fail(f"{len(unseen)} published files never became visible (first {unseen[:5]})")
    if producer.exhausted:
        log.fail("ingest plan exhausted before the phase ended")

    r_lat = [(s.end - s.start) * 1e3 for s in log.samples if s.phase == "R"]
    e2e = {
        "setup_s": setup_s,
        "req_p50_ms": _median(r_lat),
        "req_p90_ms": _p90(r_lat),
        "req_per_s": len(r_lat) / (r1 - r0),
        "rows_per_s": sum(s.rows for s in log.samples if s.phase == "R") / (r1 - r0),
    }
    windows = 4
    r_windows = [
        _median([(s.end - s.start) * 1e3 for s in log.samples
                 if s.phase == "R" and r0 + w * (r1 - r0) / windows <= s.start < r0 + (w + 1) * (r1 - r0) / windows])
        for w in range(windows)
    ]
    attempted = len(log.samples) + len(probes)
    failed = sum(not s.ok for s in log.samples) + len(unseen) + int(producer.exhausted)

    busy = cpu1[0] - cpu0[0]
    total = max(1, cpu1[1] - cpu0[1])
    ext_cpu = max(0, busy - (cpu1[2] - cpu0[2])) / total
    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size,
        "start_loadavg": list(load0), "external_cpu": round(ext_cpu, 4),
        "read_samples": len(r_lat),
        "read_p50_by_window_ms": [round(x, 2) for x in r_windows],
        "setup": {k: ready[k] for k in ("session_s", "land_s", "launch_to_ready_s")},
        "wall_s": time.perf_counter() - t_begin,
        "failures": log.failures,
    }

    if args.trace:
        m, report = _layer_metrics(args.workload, spans, log.samples, jobs, progress, probes, ready)
        print("\n".join(report))
        metrics = {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    meta["end_to_end"] = e2e
    with open(os.path.join(base, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps({**meta, "attempted": attempted, "failed": failed,
                             "metrics": {k: v["value"] for k, v in metrics.items()}}) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"meta": meta}))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("iq_point", "iq_scan"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs and a short warm-up, for the self-test")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kafkastreamsinteractivequeries_spark", "__init__.py")):
        print("perfbench: run from the repository root; the package "
              "kafkastreamsinteractivequeries_spark is not here", file=sys.stderr)
        return 2

    sessions: list[int] = []  # process groups of started servers

    def watchdog():
        print(f"perfbench: run exceeded {DEADLINE_S:.0f} s", file=sys.stderr)
        for pgid in sessions:
            try:
                os.killpg(pgid, 9)
            except ProcessLookupError:
                pass
        os._exit(3)

    # a terminated run still stops its server (SystemExit runs the finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    timer = threading.Timer(DEADLINE_S, watchdog)
    timer.daemon = True
    timer.start()
    result = run(args, root, sessions)
    timer.cancel()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
