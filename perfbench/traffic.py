"""Load generation: closed-loop HTTP readers, the open-loop ingest
producer and the freshness prober.  Every response goes through the
oracle in ``inputs``; a mismatch is recorded as a failure.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import threading
import time
import traceback
from dataclasses import dataclass, field
from urllib.parse import quote, urlencode

from inputs import LiveStore, ScanTable, publish, row_value, same_value

TIMEOUT_S = 30.0


class Clock:
    """The run's phase, read by every thread at the start of each
    operation so a sample is attributed to the phase it started in."""

    def __init__(self) -> None:
        self.phase = "warm"


@dataclass
class Sample:
    phase: str
    rid: str
    kind: str
    start: float
    end: float
    rows: int
    ok: bool


@dataclass
class Log:
    samples: list[Sample] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)

    def fail(self, msg: str) -> None:
        """Keep the first few messages; the samples carry the count."""
        if len(self.failures) < 20:
            self.failures.append(msg)


class Http:
    """One keep-alive connection; ``get`` returns (status, json body)."""

    def __init__(self, port: int) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)

    def get(self, path: str, rid: str):
        try:
            self.conn.request("GET", path, headers={"X-Request-Id": rid})
            resp = self.conn.getresponse()
            body = resp.read()
            return resp.status, json.loads(body)
        except (OSError, http.client.HTTPException, ValueError) as exc:
            self.conn.close()  # reconnects on the next request
            return None, repr(exc)

    def close(self) -> None:
        self.conn.close()


def envelope_rows(status, body) -> tuple[list | None, str]:
    if status != 200:
        return None, f"status {status}: {str(body)[:200]}"
    if body.get("errorMessage"):
        return None, f"envelope error: {body['errorMessage'][:200]}"
    return body["result"], ""


# Sizes of successive /multikey requests.  Every stretch of this order
# averages close to 5 keys, and readers start at different places in it,
# so the rows a timed phase returns do not depend on where it ends.
MULTIKEY_SIZES = (2, 8, 3, 7, 4, 6, 5)


class PointReader:
    """``/keyquery`` four times, then one ``/multikey`` of the next size
    in ``MULTIKEY_SIZES`` (an exact 80/20 mix), Zipf-skewed key
    popularity, over the live store.  Each response must equal a
    committed prefix of the ingest history, one prefix for every key of
    the response, never older than a prefix this reader saw before."""

    def __init__(self, store: LiveStore, published, prefix: str = "", first: int = 0) -> None:
        self.store = store
        self.published = published   # () -> files renamed into the source
        self.prefix = prefix
        self.first = first           # index in MULTIKEY_SIZES of the first /multikey
        self.frontier = 0
        self.n = 0

    def check(self, keys: list[str], rows) -> str:
        got = {r["symbol"]: r for r in rows}
        if len(rows) != len(keys) or set(got) != set(keys):
            return f"keys {sorted(got)} != {sorted(keys)}"
        lo, hi = 0, math.inf
        for k in keys:
            span = self.store.prefixes(k, row_value(got[k]))
            if span is None:
                return f"{k}={row_value(got[k])} is no committed value"
            lo, hi = max(lo, span[0]), min(hi, span[1])
        if lo > hi:
            return f"torn snapshot over {keys}"
        if lo > self.published():
            return f"prefix {lo} newer than the {self.published()} files published"
        if hi < self.frontier:
            return f"moved back to prefix <= {hi} after {self.frontier}"
        self.frontier = max(self.frontier, lo)
        return ""

    def run_one(self, http: Http, rng, rid: str, clock: Clock, log: Log) -> None:
        keys = self.store.keys
        self.n += 1
        if self.n % 5:
            kind, picked = "keyquery", [keys[rng.choice(len(keys), p=self.store.popularity)]]
            path = f"{self.prefix}/streams-iq/keyquery/{picked[0]}"
        else:
            size = MULTIKEY_SIZES[(self.first + self.n // 5 - 1) % len(MULTIKEY_SIZES)]
            n = min(size, len(keys) - 1)
            idx = rng.choice(len(keys), n, replace=False, p=self.store.popularity)
            kind, picked = "multikey", sorted(keys[i] for i in idx)
            path = f"{self.prefix}/streams-iq/multikey/{','.join(picked)}"
        phase = clock.phase
        t0 = time.perf_counter()
        status, body = http.get(path, rid)
        t1 = time.perf_counter()
        rows, err = envelope_rows(status, body)
        if not err:
            err = self.check(picked, rows)
        if err:
            log.fail(f"{rid} {path}: {err}")
        log.samples.append(Sample(phase, rid, kind, t0, t1, len(rows or []), not err))


class ScanReader:
    """Cycles walk, bounded, walk, filtered: 50% paged ``/range`` walks
    (``limit`` rows a page, following ``nextCursor``), 25% bounded
    ``/range`` and 25% the same with ``filter=@.buys > @.sells``.  Walk pages must join into the expected
    ordered key slice with no gap or duplicate."""

    def __init__(self, table: ScanTable, range_keys: int, page_limit: int, walk_pages: int = 3) -> None:
        self.t = table
        self.range_keys = range_keys
        self.page_limit = page_limit
        # the last page is half full, so the walk ends on a null cursor
        self.walk_keys = page_limit * walk_pages - page_limit // 2
        self.n = 0

    def _values_match(self, rows) -> str:
        for r in rows:
            want = self.t.expected.get(r["symbol"])
            if want is None or not same_value(row_value(r), want):
                return f"{r['symbol']}={row_value(r)} expected {want}"
        return ""

    def run_one(self, http: Http, rng, rid: str, clock: Clock, log: Log) -> None:
        syms = self.t.symbols
        step = self.n % 4
        self.n += 1
        if step in (0, 2):
            i = int(rng.integers(0, len(syms) - self.walk_keys))
            want = syms[i : i + self.walk_keys]
            base = {"lower": want[0], "upper": want[-1], "limit": self.page_limit}
            after, got, page = None, [], 0
            while True:
                q = dict(base, after=after) if after else base
                path = "/streams-iq/range?" + urlencode(q)
                phase = clock.phase
                t0 = time.perf_counter()
                status, body = http.get(path, f"{rid}.{page}")
                t1 = time.perf_counter()
                rows, err = envelope_rows(status, body)
                if not err:
                    keys = [r["symbol"] for r in rows]
                    exp = want[len(got) : len(got) + self.page_limit]
                    cursor = body.get("nextCursor")
                    more = len(got) + len(keys) < len(want)
                    if keys != exp:
                        err = f"page {page} keys {keys[:3]}.. != {exp[:3]}.."
                    elif cursor != (keys[-1] if more else None):
                        err = f"page {page} cursor {cursor!r}"
                    else:
                        err = self._values_match(rows)
                if err:
                    log.fail(f"{rid} {path}: {err}")
                log.samples.append(Sample(phase, f"{rid}.{page}", "walk", t0, t1, len(rows or []), not err))
                if err or not body.get("nextCursor"):
                    return
                got += keys
                after, page = body["nextCursor"], page + 1
        i = int(rng.integers(0, len(syms) - self.range_keys))
        lo, hi = syms[i], syms[i + self.range_keys - 1]
        q = {"lower": lo, "upper": hi}
        want = syms[i : i + self.range_keys]
        kind = "range"
        if step == 3:
            kind = "filtered"
            q["filter"] = "@.buys > @.sells"
            want = [s for s in want if self.t.expected[s][0] > self.t.expected[s][1]]
        path = "/streams-iq/range?" + urlencode(q, quote_via=quote)
        phase = clock.phase
        t0 = time.perf_counter()
        status, body = http.get(path, rid)
        t1 = time.perf_counter()
        rows, err = envelope_rows(status, body)
        if not err:
            keys = sorted(r["symbol"] for r in rows)
            if keys != want and not _near_tie(self.t, set(keys) ^ set(want)):
                err = f"{len(keys)} keys != expected {len(want)}"
            else:
                err = self._values_match(rows)
        if err:
            log.fail(f"{rid} {path}: {err}")
        log.samples.append(Sample(phase, rid, kind, t0, t1, len(rows or []), not err))


def _near_tie(table: ScanTable, keys: set[str]) -> bool:
    """Keys whose buys and sells are equal to rounding may fall on
    either side of ``@.buys > @.sells``."""
    return all(
        k in table.expected and math.isclose(*table.expected[k][:2], rel_tol=1e-12)
        for k in keys
    )


def reader_loop(reader, port: int, rng, name: str, clock: Clock, log: Log, stop: threading.Event) -> None:
    http = Http(port)
    n = 0
    try:
        while not stop.is_set():
            rid = f"{clock.phase}{name}-{n}"
            n += 1
            try:
                reader.run_one(http, rng, rid, clock, log)
            except Exception:  # a reader must outlive a bad response
                log.fail(f"{rid}: {traceback.format_exc(limit=3)}")
                log.samples.append(Sample(clock.phase, rid, "error", 0.0, 0.0, 0, False))
    finally:
        http.close()


@dataclass
class Probe:
    seq: int            # 1-based ingest file number
    due: float
    published: float
    appeared: float = math.nan   # first manifest version that holds it
    visible: float = math.nan    # first read that returned it
    in_window: bool = False      # due inside the timed ingest phase


class Producer:
    """Open loop: file ``i`` is due at ``start + (i-1) * period`` and is
    published (temp file plus rename) as soon as it is due; lateness is
    timed from the due time."""

    def __init__(self, store: LiveStore, src_dir: str, period: float) -> None:
        self.store = store
        self.src = src_dir
        self.period = period
        self.probes: list[Probe] = []
        self.exhausted = False  # the run outlasted the planned files
        self._lock = threading.Lock()

    def published(self) -> int:
        return len(self.probes)

    def run(self, start: float, stop: threading.Event) -> None:
        for i, table in enumerate(self.store.ingest_files):
            due = start + i * self.period
            delay = due - time.perf_counter()
            if stop.wait(max(0.0, delay)):
                return
            publish(table, self.src, f"ingest-{i + 1:06d}.parquet")
            with self._lock:
                self.probes.append(Probe(i + 1, due, time.perf_counter()))
        self.exhausted = True

    def snapshot(self) -> list[Probe]:
        with self._lock:
            return list(self.probes)


def prober_loop(producer: Producer, manifest_dir: str, port: int, prefix: str,
                log: Log, stop: threading.Event, poll_s: float = 0.002) -> None:
    """Watch the manifest directory; on each new version read the probe
    key through the REST API.  The probe's share count names the newest
    visible file, so every file up to it gets its commit and visible
    times from this observation."""
    store = producer.store
    checker = PointReader(store, producer.published, prefix)
    http = Http(port)
    newest = max(n for n in os.listdir(manifest_dir) if n.startswith("v") and n.endswith(".json"))
    seen = 0
    n = 0
    try:
        while not stop.is_set():
            names = [x for x in os.listdir(manifest_dir) if x.startswith("v") and x.endswith(".json")]
            latest = max(names)
            if latest == newest:
                stop.wait(poll_s)
                continue
            newest, appeared = latest, time.perf_counter()
            rid = f"P-{n}"
            n += 1
            status, body = http.get(f"{prefix}/streams-iq/keyquery/{store.probe}", rid)
            visible = time.perf_counter()
            rows, err = envelope_rows(status, body)
            if not err:
                err = checker.check([store.probe], rows)
            log.samples.append(Sample("probe", rid, "keyquery", appeared, visible, len(rows or []), not err))
            if err:
                log.fail(f"{rid} probe: {err}")
                continue
            count = store.probe_count(int(rows[0]["number_shares"]))
            probes = producer.snapshot()
            for p in probes[seen:count]:
                p.appeared, p.visible = appeared, visible
            seen = max(seen, count)
    finally:
        http.close()


def check_final_state(port: int, store: LiveStore, published: int, log: Log) -> None:
    """After the ingest phase drains, every key must equal the snapshot
    of all ``published`` files."""
    final = PointReader(store, lambda: published, "/live")
    final.frontier = published
    http = Http(port)
    try:
        status, body = http.get(f"/live/streams-iq/multikey/{','.join(store.keys)}", "final")
    finally:
        http.close()
    rows, err = envelope_rows(status, body)
    err = err or final.check(store.keys, rows)
    log.samples.append(Sample("final", "final", "multikey", 0.0, 0.0, len(rows or []), not err))
    if err:
        log.fail(f"final state: {err}")
