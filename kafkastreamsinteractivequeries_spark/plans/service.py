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

from pyspark.sql import DataFrame, functions as F

from kafkastreamsinteractivequeries_spark.plans.queries import (
    KeyQuery,
    MultiKeyQuery,
    Query,
    QueryResponse,
)


class InteractiveQueryService:
    def __init__(self, serving_df: DataFrame, key_col: str = "symbol", store_name: str = "stock-aggregation-state-store"):
        self.serving_df = serving_df
        self.key_col = key_col
        # store name kept for API parity — reference application.properties:4
        self.store_name = store_name

    def execute(self, query: Query) -> DataFrame:
        return self._execute_with_info(query)[0]

    def _execute_with_info(self, query: Query) -> tuple[DataFrame, list[str]]:
        """The query's frame plus the ``executionInfo`` lines that name
        what it reads (subclasses add the snapshot they resolved)."""
        return query.apply(self.serving_df, key_col=self.key_col), []

    def _rows(
        self, query: Query, limit: int | None, paged: bool = False, after: str | None = None
    ) -> tuple[list[dict], list[str]]:
        """Row dicts of ``query``, at most ``limit`` (falsy: all), and
        the ``executionInfo`` lines naming what they were read from.
        ``paged`` orders by key and keeps only keys above ``after``: the
        keyset page of ``execute_page``.  The one hook a subclass
        overrides to read rows another way."""
        df, info = self._execute_with_info(query)
        if paged:
            if after is not None:
                df = df.filter(F.col(self.key_col) > after)
            df = df.orderBy(self.key_col)
        rows = df.limit(limit).collect() if limit else df.collect()
        return [r.asDict() for r in rows], info

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

        Scale shape: the cursor predicate ANDs into the scan (same
        pushdown as the range bounds) and ``orderBy().limit(n+1)``
        compiles to TakeOrderedAndProject — the driver materializes at
        most page_size+1 rows per call no matter how many million rows
        the range matches, which is what lets the REST layer serve
        unbounded range scans without unbounded collects.
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
    how many key directories it read.
    """

    def __init__(self, spark, sink, key_col: str = "symbol", store_name: str = "stock-aggregation-state-store"):
        self._spark = spark
        self._sink = sink
        # key reads go to the driver reader when the query key is the
        # key the sink lays out its directories by
        self._driver_reads = key_col == sink.partition_col
        super().__init__(serving_df=None, key_col=key_col, store_name=store_name)

    def _execute_with_info(self, query: Query) -> tuple[DataFrame, list[str]]:
        version = self._sink.latest_version(self._spark)
        df = self._sink.read(self._spark, version=version)
        return query.apply(df, key_col=self.key_col), [f"snapshot v{version}"]

    def _rows(
        self, query: Query, limit: int | None, paged: bool = False, after: str | None = None
    ) -> tuple[list[dict], list[str]]:
        if self._driver_reads and not paged and isinstance(query, (KeyQuery, MultiKeyQuery)):
            version = self._sink.latest_version(self._spark)
            if version is None:
                raise FileNotFoundError(f"no committed manifest under {self._sink.path}")
            keys = (query.key,) if isinstance(query, KeyQuery) else query.keys
            got = self._sink.read_rows(self._spark, version, keys, limit or None)
            if got is not None:
                rows, dirs = got
                return rows, [f"snapshot v{version}", f"{dirs} key directories read"]
        return super()._rows(query, limit, paged, after)
