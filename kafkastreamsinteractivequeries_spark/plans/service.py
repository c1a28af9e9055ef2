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

from pyspark.sql import DataFrame

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
            df, info = self._execute_with_info(query)
            rows = df.limit(collect_limit).collect() if collect_limit else df.collect()
        except Exception as exc:
            return QueryResponse.with_error(str(exc))
        resp = QueryResponse.with_result([r.asDict() for r in rows])
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
        from pyspark.sql import functions as F

        if page_size < 1:
            # a non-positive page would return an empty page with no
            # cursor — indistinguishable from "scan complete" — so
            # reject it loudly instead of silently dropping the scan
            return QueryResponse.with_error(
                f"page_size must be >= 1, got {page_size}"
            ), None
        try:
            df, info = self._execute_with_info(query)
            if after is not None:
                df = df.filter(F.col(self.key_col) > after)
            rows = df.orderBy(self.key_col).limit(page_size + 1).collect()
        except Exception as exc:
            return QueryResponse.with_error(str(exc)), None
        has_more = len(rows) > page_size
        rows = rows[:page_size]
        next_cursor = rows[-1][self.key_col] if has_more and rows else None
        resp = QueryResponse.with_result([r.asDict() for r in rows])
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

    Cost per request: one listing of the manifest directory (the
    freshness check).  The manifest and file index of a version are
    built once, when the first request after its commit arrives.
    ``KeyQuery`` and ``MultiKeyQuery`` read only their keys'
    directories — the route-to-owning-partition of
    ``StockController.java:364-375`` — and still apply their own
    predicate; range and filtered queries scan the snapshot's full
    frame.  Snapshot isolation comes from the sink's commit protocol:
    a query never observes a partially-replaced key, successive reads
    only ever move FORWARD through committed versions, and
    ``executionInfo`` names the version served (``snapshot v<id>``).
    """

    def __init__(self, spark, sink, key_col: str = "symbol", store_name: str = "stock-aggregation-state-store"):
        self._spark = spark
        self._sink = sink
        super().__init__(serving_df=None, key_col=key_col, store_name=store_name)

    def _execute_with_info(self, query: Query) -> tuple[DataFrame, list[str]]:
        version = self._sink.latest_version(self._spark)
        keys = None
        if self.key_col == self._sink.partition_col:
            if isinstance(query, KeyQuery):
                keys = (query.key,)
            elif isinstance(query, MultiKeyQuery):
                keys = query.keys
        df = self._sink.read(self._spark, keys=keys, version=version)
        return query.apply(df, key_col=self.key_col), [f"snapshot v{version}"]
