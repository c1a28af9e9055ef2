"""Declarative interactive-query objects (SURVEY.md §2.2, Q1–Q6).

The reference's IQv2 hierarchy — built-in ``KeyQuery`` / ``RangeQuery``
plus custom ``MultiKeyQuery`` / ``FilteredRangeQuery`` /
``FilteredWindowRangeQuery`` (reference ``query/*.java``,
``query/QueryUtils.java:15-38``) — maps to small immutable query objects
whose only job is to produce a Catalyst predicate ``Column``.  All the
machinery around them in the reference (key→partition routing, host
scatter/gather, gRPC remoting, standby failover —
``controller/StockController.java:102-400``) has no analog here: a
DataFrame ``filter`` already executes across every partition in
parallel, prunes partitions for point lookups, and recovers lost
partitions from lineage.  Q7 (scatter/gather union) and Q8 (standby
failover) are therefore intentionally code-free.

Range-bound semantics match ``QueryUtils.java:19-27`` exactly: bounds
are inclusive, and four variants exist (none / lower-only / upper-only /
both).  The reference orders keys by serialized UTF-8 bytes
(``store/StoreDelegate.java:82-89``); Spark's string comparison is
identical for the ASCII keys the reference uses (SURVEY.md §7 "what's
hard" (b)).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime
from typing import Iterable

from pyspark.sql import Column, DataFrame, functions as F

from kafkastreamsinteractivequeries_spark.functions.predicate import (
    PredicateSyntaxError,
    compile_predicate,
)


class Query:
    """Base declarative query: compiles to a boolean Column over the
    serving table, applied by ``InteractiveQueryService.execute``."""

    def predicate(self) -> Column | None:
        raise NotImplementedError

    def apply(self, df: DataFrame, key_col: str = "symbol") -> DataFrame:
        pred = self.predicate_on(key_col)
        return df.filter(pred) if pred is not None else df


@dataclass(frozen=True)
class KeyQuery(Query):
    """Point lookup — reference ``KeyQuery.withKey`` via
    ``controller/StockController.java:186-206``.  Compiles to an equality
    predicate; Catalyst partition-prunes / pushes it to the scan, the
    Spark-native form of the reference's route-to-owning-partition
    (``StockController.java:364-375``)."""

    key: str

    @staticmethod
    def with_key(key: str) -> "KeyQuery":
        return KeyQuery(key)

    def predicate_on(self, key_col: str) -> Column:
        return F.col(key_col) == F.lit(self.key)


@dataclass(frozen=True)
class MultiKeyQuery(Query):
    """Batched point lookup — reference ``query/MultiKeyQuery.java:9-51``
    (one store get() per key, unioned per partition,
    ``store/CustomQueryStore.java:99-121``).  Compiles to an IN-list
    predicate; Catalyst evaluates it in one scan instead of k gets."""

    keys: tuple[str, ...]

    @staticmethod
    def with_keys(keys: Iterable[str]) -> "MultiKeyQuery":
        return MultiKeyQuery(tuple(sorted(set(keys))))

    def predicate_on(self, key_col: str) -> Column:
        return F.col(key_col).isin(list(self.keys))


@dataclass(frozen=True)
class RangeQuery(Query):
    """Key-range scan, inclusive bounds, four variants exactly as built
    by reference ``query/QueryUtils.java:19-27``:

    - no bounds   → full scan (Q6, ``StoreDelegate.java:87-89``)
    - lower only  → ``key >= lower``
    - upper only  → ``key <= upper``
    - both        → ``key BETWEEN lower AND upper`` (inclusive)
    """

    lower: str | None = None
    upper: str | None = None

    @staticmethod
    def with_no_bounds() -> "RangeQuery":
        return RangeQuery(None, None)

    @staticmethod
    def with_lower_bound(lower: str) -> "RangeQuery":
        return RangeQuery(lower, None)

    @staticmethod
    def with_upper_bound(upper: str) -> "RangeQuery":
        return RangeQuery(None, upper)

    @staticmethod
    def with_range(lower: str, upper: str) -> "RangeQuery":
        return RangeQuery(lower, upper)

    def predicate_on(self, key_col: str) -> Column | None:
        col = F.col(key_col)
        if self.lower is not None and self.upper is not None:
            return col.between(F.lit(self.lower), F.lit(self.upper))
        if self.lower is not None:
            return col >= F.lit(self.lower)
        if self.upper is not None:
            return col <= F.lit(self.upper)
        return None


@dataclass(frozen=True)
class FilteredRangeQuery(Query):
    """Range scan + row predicate — reference
    ``query/FilteredRangeQuery.java:8-70`` /
    ``store/CustomQueryStore.java:68-97``: the JsonPath predicate runs
    inside the store before results cross the wire.  Here the predicate
    compiles to a Column AND-ed with the range bounds, and Catalyst
    pushes the conjunction into the scan — same locality, codegen'd.

    ``predicate_src`` accepts either the bare predicate
    (``"@.buys > @.sells"``) or the full JsonPath form the reference
    builds (``"$.[?(@.buys > @.sells)]"``).
    """

    lower: str | None = None
    upper: str | None = None
    predicate_src: str = ""
    json_col: str | None = None  # set when values are raw JSON strings

    @staticmethod
    def with_bounds(lower: str | None, upper: str | None) -> "FilteredRangeQuery":
        return FilteredRangeQuery(lower, upper)

    def predicate(self, predicate_src: str) -> "FilteredRangeQuery":
        return FilteredRangeQuery(self.lower, self.upper, predicate_src, self.json_col)

    def predicate_on(self, key_col: str) -> Column:
        range_pred = RangeQuery(self.lower, self.upper).predicate_on(key_col)
        row_pred = compile_predicate(self.predicate_src, json_col=self.json_col)
        return row_pred if range_pred is None else (range_pred & row_pred)


@dataclass(frozen=True)
class FilteredWindowRangeQuery(Query):
    """Time-bounded windowed scan + predicate — reference
    ``query/FilteredWindowRangeQuery.java:11-74``.  Declared but DEAD in
    the reference (not handled in ``CustomQueryStore.query``'s switch,
    falls to ``forUnknownQueryType`` — ``store/CustomQueryStore.java:60-64``);
    implemented for real here per SURVEY.md §7 step 5.

    Applies to a *windowed* serving table (``window_start``/``window_end``
    columns from ``operators.windows.windowed_aggregate``): keeps windows
    fully inside [time_from, time_to] and rows passing the predicate.
    """

    time_from: datetime | str
    time_to: datetime | str
    predicate_src: str = ""

    @staticmethod
    def with_bounds(time_from, time_to) -> "FilteredWindowRangeQuery":
        return FilteredWindowRangeQuery(time_from, time_to)

    def predicate(self, predicate_src: str) -> "FilteredWindowRangeQuery":
        return FilteredWindowRangeQuery(self.time_from, self.time_to, predicate_src)

    def predicate_on(self, key_col: str = "symbol") -> Column:
        pred = (F.col("window_start") >= F.lit(self.time_from).cast("timestamp")) & (
            F.col("window_end") <= F.lit(self.time_to).cast("timestamp")
        )
        if self.predicate_src:
            pred = pred & compile_predicate(self.predicate_src)
        return pred


def create_range_query(
    lower: str | None, upper: str | None, filter_src: str | None = None
) -> Query:
    """Mirror of reference ``QueryUtils.createRangeQuery``
    (``query/QueryUtils.java:15-38``): a filter makes it a
    FilteredRangeQuery, otherwise the bound pattern picks the RangeQuery
    variant.  Blank strings count as absent (``QueryUtils.java:40-46``)."""
    lower = lower if lower and lower.strip() else None
    upper = upper if upper and upper.strip() else None
    if filter_src and filter_src.strip():
        return FilteredRangeQuery(lower, upper, filter_src)
    return RangeQuery(lower, upper)


@dataclass
class QueryResponse:
    """Result envelope — reference ``query/QueryResponse.java:7-13``
    (errorMessage | result | executionInfo | hostInformation)."""

    result: list | None = None
    error_message: str | None = None
    execution_info: dict[str, list[str]] = field(default_factory=dict)
    host_information: str | None = None
    # not part of the wire envelope: the error is the client's (a
    # malformed predicate), so the REST layer answers 400, not 500
    client_error: bool = False

    @staticmethod
    def with_result(result: list) -> "QueryResponse":
        return QueryResponse(result=result)

    @staticmethod
    def with_error(msg: str) -> "QueryResponse":
        return QueryResponse(error_message=msg)

    @staticmethod
    def from_exception(exc: Exception) -> "QueryResponse":
        return QueryResponse(
            error_message=str(exc), client_error=isinstance(exc, PredicateSyntaxError)
        )

    def add_execution_info(self, key: str, lines: list[str]) -> None:
        self.execution_info.setdefault(key, []).extend(lines)
