"""Interactive-query service facade over a serving DataFrame.

The Spark analog of the reference's controller + store-dispatch layer
(``controller/StockController.java`` + ``store/CustomQueryStore.java``):
holds the serving table (the materialized aggregate) and executes query
objects against it.  Routing/scatter-gather/standby code disappears —
``df.filter`` is already distributed, pruned, and fault-tolerant.

``execute`` returns a DataFrame (lazy; callers compose further);
``execute_response`` collects into the reference-shaped
``QueryResponse`` envelope with execution info (the analog of IQv2's
``ExecutionInfo`` / host info strings).
"""

from __future__ import annotations

import threading
from bisect import bisect_left, bisect_right

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType

from kafkastreamsinteractivequeries_spark.functions.predicate import arrow_predicate
from kafkastreamsinteractivequeries_spark.plans.queries import (
    FilteredRangeQuery,
    KeyQuery,
    MultiKeyQuery,
    Query,
    QueryResponse,
    RangeQuery,
)
from kafkastreamsinteractivequeries_spark.streaming.pipeline import _plain


def _snapshot_fits(df: DataFrame, key_col: str) -> bool:
    """True when ``df`` can be served from a driver snapshot: its key
    column is a plain ``StringType`` (compared byte-wise, as the
    snapshot bisects) and every column passes the sink's ``_plain``
    rule, so ``to_pylist`` rows equal a Spark ``collect``'s."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if key_col not in df.columns or df.schema[key_col].dataType != StringType():
        return False
    try:
        return _plain(to_arrow_schema(df.schema))
    except TypeError:  # a type Arrow does not carry
        return False


class _DriverSnapshot:
    """All rows of a serving frame, collected once and held on the
    driver in key order, as IQv2 iterates its byte-sorted local store
    (``store/StoreDelegate.java:77-94``): null keys first, then UTF-8
    byte order, which is Spark's string order and Python's ``str``
    order.  Range reads bisect ``keys`` and convert only their slice of
    ``table``.  A filtered range whose predicate has an Arrow form
    (``functions.predicate.arrow_predicate``) bisects the same way and
    filters the slice in Arrow, as the reference filters the rows its
    range iterator yields (``store/CustomQueryStore.java:68-97``).  Any
    other query (key and multikey reads, and filtered ranges with a
    regex, a nested path, mixed types, a NaN-holding float column or a
    raw-JSON column) runs Spark's own semantics over ``frame()``, the
    same rows handed back to Spark by the first such query; ranges and
    Arrow filters never build it."""

    __slots__ = ("table", "nulls", "keys", "nan_columns", "_df", "_frame", "_frame_lock")

    def __init__(self, df: DataFrame, key_col: str):
        import pyarrow.compute as pc
        from pyarrow import types

        table = df.toArrow()
        order = pc.sort_indices(table, sort_keys=[(key_col, "ascending")], null_placement="at_start")
        self.table = table.take(order)
        keys = self.table.column(key_col)
        self.nulls = keys.null_count
        self.keys = keys.to_pylist()[self.nulls:]
        # float columns Spark compares by its NaN rule, not IEEE's
        self.nan_columns = frozenset(
            f.name for f, col in zip(self.table.schema, self.table.columns)
            if types.is_floating(f.type) and pc.any(pc.is_nan(col)).as_py()
        )
        self._df = df  # the session and schema ``frame`` is built with
        self._frame: DataFrame | None = None
        self._frame_lock = threading.Lock()

    def frame(self) -> DataFrame:
        """``table`` as a Spark frame, built once.  It copies the rows
        into the driver JVM: as a ``LocalRelation``, which Catalyst
        filters and limits on the driver without a job, while the Arrow
        batches stay under ``spark.sql.execution.arrow.localRelationThreshold``
        (48 MB by default), and above it as an RDD of the batches, which
        each query scans with a Spark job."""
        if self._frame is None:
            with self._frame_lock:
                if self._frame is None:
                    self._frame = self._df.sparkSession.createDataFrame(self.table, self._df.schema)
        return self._frame

    def _slice(self, lower: str | None, upper: str | None, after: str | None):
        """The rows with a key in ``[lower, upper]`` (both None: every
        row, null keys too) and above ``after``, in key order."""
        base, keys = self.nulls, self.keys
        if lower is None and upper is None:
            start, stop = 0, self.table.num_rows
        else:
            start = base + (0 if lower is None else bisect_left(keys, lower))
            stop = base + (len(keys) if upper is None else bisect_right(keys, upper))
        if after is not None:
            start = max(start, base + bisect_right(keys, after))
        return self.table.slice(start, max(stop - start, 0))

    def rows(self, query: Query, key_col: str, limit: int | None, after: str | None) -> tuple[list[dict], list[str]]:
        """At most ``limit`` (falsy: all) rows of ``query`` with a key
        above ``after`` (None: every key, null keys too), in key order,
        and the ``executionInfo`` line naming how a filter or lookup ran
        (none for a plain range)."""
        if isinstance(query, RangeQuery):
            table, how = self._slice(query.lower, query.upper, after), []
        elif (
            isinstance(query, FilteredRangeQuery)
            and query.json_col is None
            and (expr := arrow_predicate(query.predicate_src, self.table.schema, self.nan_columns)) is not None
        ):
            table = self._slice(query.lower, query.upper, after).filter(expr)
            how = ["arrow filter"]
        else:
            df = query.apply(self.frame(), key_col=key_col)
            if after is not None:
                df = df.filter(F.col(key_col) > after)
            # a filter keeps the frame's key order, so a page needs no
            # sort (which would run a job)
            rows = df.limit(limit).collect() if limit else df.collect()
            return [r.asDict() for r in rows], ["spark frame"]
        return (table.slice(0, limit) if limit else table).to_pylist(), how


class InteractiveQueryService:
    """Serves a batch frame: a materialized aggregate that does not
    change while it is served (a store that changes is served by
    ``LiveSnapshotQueryService``).

    The first ``execute_response`` or ``execute_page`` takes one driver
    snapshot of ``serving_df``: a single Arrow collect, bounded by
    Spark's own ``spark.driver.maxResultSize``, with the rows sorted by
    key.  Later range reads and their keyset pages bisect it with no
    Spark job, and so do filtered ranges whose predicate has an Arrow
    form, which filter their slice in Arrow.  Key and multikey reads,
    and filtered reads with a regex, a nested path, mixed types, a
    float32 column against an integer or a NaN-holding float column,
    run Spark's own semantics over the same rows, handed back to Spark
    once by the first of them, so every query type reads one snapshot.
    That copy doubles the rows' driver memory (Arrow in Python, rows in
    the JVM), and it reads without a job only while its Arrow batches
    stay under ``spark.sql.execution.arrow.localRelationThreshold`` (48
    MB by default); above that each such read runs a Spark job over the
    driver's batches.  A service whose traffic is only ranges and
    Arrow-expressible filters never builds it.  A frame whose key
    column is not a string, or with a column that is not a str, bool,
    int or float, and a frame that Spark refuses to collect as too
    large or that does not fit the Python heap, are served by scanning
    ``serving_df`` per request instead.  ``executionInfo`` names what
    was read: ``driver snapshot of N rows`` or ``spark frame``, and
    after the snapshot line how a filter or lookup ran: ``arrow
    filter`` or ``spark frame``.  The lazy ``execute`` always composes
    on ``serving_df``.
    """

    def __init__(self, serving_df: DataFrame, key_col: str = "symbol", store_name: str = "stock-aggregation-state-store"):
        self.serving_df = serving_df
        self.key_col = key_col
        # store name kept for API parity — reference application.properties:4
        self.store_name = store_name
        self._snapshot: _DriverSnapshot | None = None
        # True once the frame is known not to fit a driver snapshot
        self._on_frame = False
        self._snapshot_lock = threading.Lock()

    def execute(self, query: Query) -> DataFrame:
        return self._execute_with_info(query)[0]

    def _execute_with_info(self, query: Query) -> tuple[DataFrame, list[str]]:
        """The query's frame plus the ``executionInfo`` lines that name
        what it reads (subclasses add the snapshot they resolved)."""
        return query.apply(self.serving_df, key_col=self.key_col), []

    def _driver_snapshot(self) -> _DriverSnapshot | None:
        """The snapshot of ``serving_df``, built by the first caller
        while the others wait; None when the frame is served by Spark.
        A build that fails for any reason but a frame too large for the
        driver raises, and the next call builds again."""
        if self._snapshot is not None or self._on_frame:
            return self._snapshot
        with self._snapshot_lock:
            if self._snapshot is not None or self._on_frame:
                return self._snapshot
            if not _snapshot_fits(self.serving_df, self.key_col):
                self._on_frame = True
                return None
            try:
                self._snapshot = _DriverSnapshot(self.serving_df, self.key_col)
            except Exception as exc:
                # too large for the driver: Spark refused the collect,
                # naming its bound in the error (a Py4JJavaError from
                # the collect's result), or the Python heap ran out
                if not isinstance(exc, MemoryError) and "spark.driver.maxResultSize" not in str(exc):
                    raise
                self._on_frame = True
            return self._snapshot

    def _rows(
        self, query: Query, limit: int | None, paged: bool = False, after: str | None = None
    ) -> tuple[list[dict], list[str]]:
        """Row dicts of ``query``, at most ``limit`` (falsy: all), and
        the ``executionInfo`` lines naming what they were read from.
        ``paged`` orders by key and keeps only keys above ``after``: the
        keyset page of ``execute_page``.  The one hook a subclass
        overrides to read rows another way."""
        snap = self._driver_snapshot()
        if snap is None:
            return self._frame_rows(self._execute_with_info(query), limit, paged, after)
        rows, how = snap.rows(query, self.key_col, limit, after if paged else None)
        return rows, [f"driver snapshot of {snap.table.num_rows} rows"] + how

    def _frame_rows(
        self, frame: tuple[DataFrame, list[str]], limit: int | None, paged: bool = False, after: str | None = None
    ) -> tuple[list[dict], list[str]]:
        """``_rows`` read by a Spark job over ``frame``, the query's
        frame and info lines from ``_execute_with_info``."""
        df, info = frame
        if paged:
            if after is not None:
                df = df.filter(F.col(self.key_col) > after)
            df = df.orderBy(self.key_col)
        rows = df.limit(limit).collect() if limit else df.collect()
        return [r.asDict() for r in rows], info + ["spark frame"]

    #: default collect cap for ``execute_response`` — matches the REST
    #: layer's cap; an unlimited default is a driver-OOM invitation at
    #: scale (a full-scan envelope would pull every row to the driver).
    DEFAULT_COLLECT_LIMIT = 10_000

    def execute_response(
        self,
        query: Query,
        collect_limit: int | None = DEFAULT_COLLECT_LIMIT,
    ) -> QueryResponse:
        """``collect_limit`` caps the driver-side materialization
        (default 10k, same as the REST layer).  Pass ``None``
        EXPLICITLY to collect unbounded — an opt-in, never the default;
        for large results prefer ``execute_page`` (keyset pagination)
        or compose on the lazy ``execute`` DataFrame."""
        try:
            # predicate compile + Catalyst analysis can both fail (bad
            # syntax, unknown column) — the envelope captures either,
            # mirroring QueryResponse.withError (QueryResponse.java:7-13).
            rows, info = self._rows(query, collect_limit)
        except Exception as exc:
            return QueryResponse.from_exception(exc)
        resp = QueryResponse.with_result(rows)
        resp.host_information = "spark-driver"
        resp.add_execution_info(
            self.store_name, info + [f"{type(query).__name__} over {len(rows)} rows"]
        )
        return resp

    def execute_page(
        self, query: Query, page_size: int, after: str | None = None
    ) -> tuple[QueryResponse, str | None]:
        """One page of a (range) query, keyset-paginated on the key
        column: rows with key > ``after``, ordered by key, first
        ``page_size``.  Returns (response, next_cursor) — next_cursor
        is the last key of the page when more rows exist, else None.

        Scale shape: the response holds at most page_size+1 rows no
        matter how many rows the range matches.  From the driver
        snapshot the cursor is one more bisect and only the page's rows
        are converted.  On a Spark frame the cursor predicate ANDs into
        the scan (same pushdown as the range bounds) and
        ``orderBy().limit(n+1)`` compiles to TakeOrderedAndProject, so
        the driver collects at most page_size+1 rows per call.
        """
        if page_size < 1:
            # a non-positive page would return an empty page with no
            # cursor — indistinguishable from "scan complete" — so
            # reject it loudly instead of silently dropping the scan
            return QueryResponse.with_error(
                f"page_size must be >= 1, got {page_size}"
            ), None
        try:
            rows, info = self._rows(query, page_size + 1, paged=True, after=after)
        except Exception as exc:
            return QueryResponse.from_exception(exc), None
        has_more = len(rows) > page_size
        rows = rows[:page_size]
        next_cursor = rows[-1][self.key_col] if has_more and rows else None
        resp = QueryResponse.with_result(rows)
        resp.host_information = "spark-driver"
        resp.add_execution_info(
            self.store_name,
            info + [
                f"{type(query).__name__} page of {len(rows)} rows"
                + (f", cursor={next_cursor!r}" if next_cursor is not None else ", last page")
            ],
        )
        return resp, next_cursor


class LiveSnapshotQueryService(InteractiveQueryService):
    """An ``InteractiveQueryService`` that serves the LATEST committed
    snapshot of a ``ManifestServingSink`` on every query — the serving
    shape for a long-lived REST app over a continuously upserting
    stream (the reference's two-instance failover scenario,
    ``InteractiveQueriesIntegrationTest.java:100-158``, collapses to
    this: readers always see a complete committed snapshot, across
    stream restarts, because the manifest log survives the stream).

    When Hadoop resolves the store's path to the local file system,
    ``KeyQuery`` and ``MultiKeyQuery`` are read in place on the driver,
    as the reference reads its local store
    (``store/CustomQueryStore.java:36-66``): one listing of the manifest
    directory finds the newest version, its key index (built once per
    version) picks the keys' directories — the route-to-owning-partition
    of ``StockController.java:364-375`` — and pyarrow reads only those
    part files.  No Spark job runs, and at most ``limit`` keys are read.
    Ranges (paged or not), ``FilteredRangeQuery``, the lazy ``execute``,
    stores on other file systems and stores with a column that is not a
    str, bool, int or float scan the version's Spark frame instead,
    built once per version.  Either way a request reads one committed
    version, so it never observes a partially-replaced key, successive
    reads only move FORWARD through versions, and ``executionInfo``
    names the version served (``snapshot v<id>``); a driver read adds
    how many key directories it read, a scan adds ``spark frame``.  A
    version that holds no key yet answers every query with no rows.
    """

    def __init__(self, spark, sink, key_col: str = "symbol", store_name: str = "stock-aggregation-state-store"):
        self._spark = spark
        self._sink = sink
        # key reads go to the driver reader when the query key is the
        # key the sink lays out its directories by
        self._driver_reads = key_col == sink.partition_col
        super().__init__(serving_df=None, key_col=key_col, store_name=store_name)

    def _execute_with_info(self, query: Query, version: int | None = None) -> tuple[DataFrame, list[str]]:
        """The query's frame over committed ``version`` (default: the
        newest)."""
        if version is None:
            version = self._sink.latest_version(self._spark)
        df = self._sink.read(self._spark, version=version)
        return query.apply(df, key_col=self.key_col), [f"snapshot v{version}"]

    def _rows(
        self, query: Query, limit: int | None, paged: bool = False, after: str | None = None
    ) -> tuple[list[dict], list[str]]:
        version = self._sink.latest_version(self._spark)
        if version is None:
            raise FileNotFoundError(f"no committed manifest under {self._sink.path}")
        if self._sink.is_empty(self._spark, version):
            # no key committed yet (every row so far had a null key):
            # there is no file to scan and every answer is empty, but a
            # malformed predicate is still refused
            query.predicate_on(self.key_col)
            return [], [f"snapshot v{version}"]
        if self._driver_reads and not paged and isinstance(query, (KeyQuery, MultiKeyQuery)):
            keys = (query.key,) if isinstance(query, KeyQuery) else query.keys
            got = self._sink.read_rows(self._spark, version, keys, limit or None)
            if got is not None:
                rows, dirs = got
                return rows, [f"snapshot v{version}", f"{dirs} key directories read"]
        return self._frame_rows(self._execute_with_info(query, version), limit, paged, after)
