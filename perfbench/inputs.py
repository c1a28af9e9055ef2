"""Seeded inputs for the serving benchmark and the independent oracle
that checks every response against them.

Inputs are written with pyarrow in the load-generator process, never
through the Spark session under test.  Expected values come from DuckDB
over the same parquet files (or, for files not yet published, over the
same Arrow rows), so the oracle shares no code path with the system.
"""

from __future__ import annotations

import bisect
import math
import os
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TXN_SCHEMA = pa.schema(
    [
        pa.field("symbol", pa.string(), nullable=False),
        pa.field("buy", pa.bool_(), nullable=False),
        pa.field("amount", pa.float64(), nullable=False),
        pa.field("number_shares", pa.int32(), nullable=False),
        pa.field("event_time", pa.timestamp("us", tz="UTC")),
    ]
)

_AGG_SQL = """
SELECT symbol,
       CAST(sum(CASE WHEN buy THEN amount ELSE 0 END) AS DOUBLE) AS buys,
       CAST(sum(CASE WHEN NOT buy THEN amount ELSE 0 END) AS DOUBLE) AS sells,
       CAST(sum(number_shares) AS BIGINT) AS number_shares
FROM {src} GROUP BY symbol ORDER BY symbol
"""


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one run; ``tiny`` is for the self-test."""

    live_keys: int = 16          # keys of the live manifest store
    land_rows_per_key: int = 8   # rows per key in the landing micro-batch
    scan_symbols: int = 10_000   # distinct keys of the batch scan table
    scan_txns: int = 60_000      # transactions behind the scan table
    scan_files: int = 8
    range_keys: int = 1_000      # keys in one bounded /range request
    page_limit: int = 500        # page size of a paged /range walk
    touched_keys: int = 3        # non-probe keys updated by each ingest file
    ingest_period_s: float = 0.07  # open-loop publish period


TINY = Sizes(
    live_keys=8, land_rows_per_key=2, scan_symbols=400,
    scan_txns=4_000, scan_files=2, range_keys=80, page_limit=20,
    touched_keys=2, ingest_period_s=0.1,
)


def _txn_table(symbols, buy, amount, shares) -> pa.Table:
    n = len(symbols)
    return pa.Table.from_arrays(
        [
            pa.array(symbols, pa.string()),
            pa.array(buy, pa.bool_()),
            pa.array(amount, pa.float64()),
            pa.array(shares, pa.int32()),
            pa.array(np.full(n, np.datetime64("2024-01-01T09:30:00", "us")),
                     pa.timestamp("us", tz="UTC")),
        ],
        schema=TXN_SCHEMA,
    )


def publish(table: pa.Table, directory: str, name: str) -> None:
    """Write ``table`` as ``directory/name`` by temp file plus atomic
    rename.  The temp name starts with ``.`` so Spark's file source
    never lists a half-written file."""
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(directory, name))


def _random_rows(rng, symbols: np.ndarray):
    n = len(symbols)
    return _txn_table(
        symbols,
        rng.random(n) < 0.5,
        np.round(rng.uniform(1.0, 1000.0, n), 2),
        rng.integers(1, 100, n),
    )


def aggregates(con: duckdb.DuckDBPyConnection, src: str) -> dict[str, tuple]:
    """symbol -> (buys, sells, number_shares) over a DuckDB relation."""
    rows = con.execute(_AGG_SQL.format(src=src)).fetchall()
    return {r[0]: (r[1], r[2], r[3]) for r in rows}


def same_value(got: tuple, want: tuple) -> bool:
    """Equal aggregates: exact share counts, sums to rounding."""
    return got[2] == want[2] and all(
        math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-6) for g, w in zip(got[:2], want[:2])
    )


def row_value(row: dict) -> tuple:
    return (float(row["buys"]), float(row["sells"]), int(row["number_shares"]))


@dataclass
class LiveStore:
    """The live manifest store's inputs and the per-key history of its
    committed prefixes.

    The landing file goes to ``staging``; the server moves it into the
    stream's source directory and lands it as one micro-batch.  Ingest file
    ``i`` (1-based) updates ``touched_keys`` ordinary keys plus the
    probe key, which gains exactly one share per file, so the probe's
    share count names the newest visible file.
    """

    keys: list[str]
    probe: str
    popularity: np.ndarray          # Zipf weights aligned with ``keys``
    ingest_files: list[pa.Table]
    # symbol -> ascending [(first prefix, (buys, sells, shares))]
    history: dict[str, list[tuple[int, tuple]]] = field(default_factory=dict)

    def value_at(self, key: str, prefix: int) -> tuple:
        hist = self.history[key]
        i = bisect.bisect_right([p for p, _ in hist], prefix) - 1
        return hist[i][1]

    def prefixes(self, key: str, value: tuple) -> tuple[int, int] | None:
        """Inclusive range of published-file counts whose snapshot
        holds ``value`` for ``key``; None if no committed prefix does."""
        hist = self.history.get(key)
        if hist is None:
            return None
        for i, (start, want) in enumerate(hist):
            if same_value(value, want):
                end = hist[i + 1][0] - 1 if i + 1 < len(hist) else math.inf
                return start, end
        return None

    def probe_count(self, shares: int) -> int:
        """Number of ingest files visible, from the probe's share count."""
        return shares - self.history[self.probe][0][1][2]


def make_live_store(root: str, rng, sizes: Sizes, n_ingest: int) -> LiveStore:
    """Write the landing file under ``root/staging`` and plan
    ``n_ingest`` ingest files; compute the oracle history in DuckDB."""
    k = sizes.live_keys
    keys = [f"S{i:03d}" for i in range(k)]
    probe = keys[-1]
    ranks = rng.permutation(k - 1) + 1
    popularity = np.append(1.0 / ranks ** 1.1, 0.0)  # readers skip the probe
    popularity /= popularity.sum()

    staging = os.path.join(root, "staging")
    os.makedirs(staging)
    syms = np.repeat(np.array(keys), sizes.land_rows_per_key)
    publish(_random_rows(rng, syms), staging, "land-000.parquet")

    ordinary = np.array(keys[:-1])
    files = []
    for _ in range(n_ingest):
        syms = rng.choice(ordinary, sizes.touched_keys, replace=False)
        t = _random_rows(rng, syms)
        files.append(pa.concat_tables([t, _txn_table([probe], [True], [1.0], [1])]))

    store = LiveStore(keys, probe, popularity, files)
    con = duckdb.connect()
    base = aggregates(con, f"read_parquet('{staging}/*.parquet')")
    store.history = {s: [(0, base[s])] for s in keys}
    if files:
        seq = pa.concat_tables(
            [f.append_column("seq", pa.array([i + 1] * f.num_rows, pa.int32()))
             for i, f in enumerate(files)]
        )
        con.register("ingest", seq)
        rows = con.execute(
            """
            SELECT symbol, seq,
                   CAST(sum(sum(CASE WHEN buy THEN amount ELSE 0 END))
                        OVER w AS DOUBLE),
                   CAST(sum(sum(CASE WHEN NOT buy THEN amount ELSE 0 END))
                        OVER w AS DOUBLE),
                   CAST(sum(sum(number_shares)) OVER w AS BIGINT)
            FROM ingest GROUP BY symbol, seq
            WINDOW w AS (PARTITION BY symbol ORDER BY seq)
            ORDER BY symbol, seq
            """
        ).fetchall()
        for sym, s, buys, sells, shares in rows:
            b = base[sym]
            store.history[sym].append((s, (b[0] + buys, b[1] + sells, b[2] + shares)))
    con.close()
    return store


@dataclass
class ScanTable:
    """The batch transactions table behind the README serving shape and
    its expected per-symbol aggregate, in key order."""

    path: str
    symbols: list[str]            # every key present, ascending
    expected: dict[str, tuple]


def make_scan_table(root: str, rng, sizes: Sizes) -> ScanTable:
    path = os.path.join(root, "scan")
    os.makedirs(path)
    universe = np.array([f"K{i:05d}" for i in range(sizes.scan_symbols)])
    per = sizes.scan_txns // sizes.scan_files
    for f in range(sizes.scan_files):
        publish(_random_rows(rng, universe[rng.integers(0, len(universe), per)]),
                path, f"part-{f:03d}.parquet")
    con = duckdb.connect()
    expected = aggregates(con, f"read_parquet('{path}/*.parquet')")
    con.close()
    return ScanTable(path, sorted(expected), expected)
