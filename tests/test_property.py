"""Property-based coverage (hypothesis):

1. The JsonPath-subset predicate compiler agrees with a direct Python
   evaluation of the same predicate on every row — for randomly
   generated predicate trees (comparisons over numeric/string fields,
   &&/||/!, parentheses).  Generalizes the reference's fixed golden
   suite (``JacksonProtobufMappingProviderTest.java:73-152``).
2. ``to_json``/``from_json`` round-trips the transaction schema
   losslessly (the analog of ``SerdeUtilTest.java``).
3. The live store's driver reader returns exactly what its Spark read
   returns — rows and snapshot version — for random stores and random
   key and multikey queries.
4. The batch service's driver snapshot returns exactly what its lazy
   Spark path returns, for random frames and random key, multikey,
   range and filtered queries, unpaged and paged; a filtered read runs
   in Arrow exactly when its predicate has an Arrow form.
5. The Arrow emitter has no form for a predicate with a regex, a nested
   path or a mixed-type comparison.
"""

import math

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from kafkastreamsinteractivequeries_spark.functions.predicate import arrow_predicate, compile_predicate

# excluded from the default gate (property/fuzz suite); see pytest.ini
pytestmark = pytest.mark.slow

# ---------------------------------------------------------------------------
# Fixed row universe with edge values; predicates vary.
# ---------------------------------------------------------------------------

ROWS = [
    {"symbol": "CFLT", "buys": 333.0, "sells": 333.0, "number_shares": 100},
    {"symbol": "ALB", "buys": 400.0, "sells": 333.0, "number_shares": 0},
    {"symbol": "EAB", "buys": 333.0, "sells": 400.0, "number_shares": 7},
    {"symbol": "ZZZ", "buys": 0.0, "sells": 0.0, "number_shares": 1},
    {"symbol": "AAA", "buys": 299.5, "sells": 300.5, "number_shares": 250},
    {"symbol": "MSFT", "buys": 1000.0, "sells": 1.0, "number_shares": 42},
]

NUM_FIELDS = ["buys", "sells", "number_shares"]
STR_VALUES = ["CFLT", "ALB", "EAB", "ZZZ", "AAA", "MSFT", "NOPE"]
OPS = [">", "<", ">=", "<=", "==", "!="]


NUM_LITERALS = ["0", "-1", "7", "299", "-10", "333.0", "-0.5", "1e3", "2.5E-1", "-3e-2"]


def _num_cmp(draw):
    f = draw(st.sampled_from(NUM_FIELDS))
    op = draw(st.sampled_from(OPS))
    if draw(st.booleans()):
        rhs = f"@.{draw(st.sampled_from(NUM_FIELDS))}"
    elif draw(st.booleans()):
        rhs = draw(st.sampled_from(NUM_LITERALS))
    else:
        rhs = str(draw(st.integers(min_value=-10, max_value=500)))
    return f"@.{f} {op} {rhs}"


def _str_cmp(draw):
    op = draw(st.sampled_from(["==", "!="]))
    return f"@.symbol {op} '{draw(st.sampled_from(STR_VALUES))}'"


def _row_leaf(draw):
    """A comparison over ``ROWS``, negated or not."""
    leaf = draw(st.booleans()) and _num_cmp(draw) or _str_cmp(draw)
    return f"!{leaf}" if draw(st.integers(0, 3)) == 0 else leaf


@st.composite
def predicates(draw, leaf=_row_leaf, depth=2):
    if depth == 0 or draw(st.integers(0, 2)) == 0:
        return leaf(draw)
    left = draw(predicates(leaf, depth=depth - 1))
    right = draw(predicates(leaf, depth=depth - 1))
    conj = draw(st.sampled_from(["&&", "||"]))
    out = f"({left}) {conj} ({right})"
    if draw(st.booleans()):
        out = f"!({out})"
    return out


def _py_eval(src: str, row: dict) -> bool:
    expr = src.replace("&&", " and ").replace("||", " or ").replace("!(", " not (").replace("!@", " not @")
    for f in ["symbol", "buys", "sells", "number_shares"]:
        expr = expr.replace(f"@.{f}", f"row['{f}']")
    return bool(eval(expr, {"row": row}))  # noqa: S307 - test-only reference


@pytest.fixture(scope="module")
def pred_df(spark):
    df = spark.createDataFrame(
        [(r["symbol"], r["buys"], r["sells"], r["number_shares"]) for r in ROWS],
        "symbol string, buys double, sells double, number_shares long",
    ).cache()
    df.count()
    return df


@settings(max_examples=30, deadline=None)
@given(data=st.data())
def test_predicate_compiler_matches_python(pred_df, data):
    src = data.draw(predicates())
    got = {r["symbol"] for r in pred_df.filter(compile_predicate(src)).collect()}
    want = {r["symbol"] for r in ROWS if _py_eval(src, r)}
    assert got == want, f"predicate {src!r}: spark={got} python={want}"


# ---------------------------------------------------------------------------
# Serde round trip (SerdeUtilTest analog)
# ---------------------------------------------------------------------------

symbols = st.text(
    alphabet=st.characters(whitelist_categories=["Lu", "Ll", "Nd"]),
    min_size=1,
    max_size=12,
)
amounts = st.floats(
    min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
).map(lambda x: round(x, 4))


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(symbols, st.booleans(), amounts, st.integers(0, 2**31 - 1)),
        min_size=1,
        max_size=8,
    )
)
def test_json_round_trip(spark, rows):
    from pyspark.sql import functions as F

    schema = "symbol string, buy boolean, amount double, number_shares int"
    df = spark.createDataFrame(rows, schema)
    back = (
        df.select(F.to_json(F.struct("symbol", "buy", "amount", "number_shares")).alias("v"))
        .select(F.from_json("v", schema).alias("t"))
        .select("t.*")
    )
    got = sorted(map(tuple, back.collect()))
    want = sorted(rows)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[0] == w[0] and g[1] == w[1] and g[3] == w[3]
        assert math.isclose(g[2], w[2], rel_tol=1e-12, abs_tol=1e-12)


@settings(max_examples=15, deadline=None)
@given(data=st.data())
def test_asof_join_matches_brute_force_reference(spark, data):
    """Property: for random keyed event sets, asof_join (both
    directions, with and without tolerance) equals the brute-force
    per-row reference — nearest right row by time with the documented
    tie-breaks (backward: highest order key; forward: lowest), match
    nulled beyond the tolerance window."""
    import datetime as dt

    from kafkastreamsinteractivequeries_spark.operators.analytics import asof_join

    t0 = dt.datetime(2024, 1, 1)
    n_left = data.draw(st.integers(1, 8))
    n_right = data.draw(st.integers(0, 10))
    lefts = [
        (i, data.draw(st.integers(0, 2)), t0 + dt.timedelta(minutes=data.draw(st.integers(0, 50))))
        for i in range(n_left)
    ]
    rights = [
        (100 + j, data.draw(st.integers(0, 2)),
         t0 + dt.timedelta(minutes=data.draw(st.integers(0, 50))))
        for j in range(n_right)
    ]
    direction = data.draw(st.sampled_from(["backward", "forward"]))
    tol = data.draw(st.sampled_from([None, 0.0, 600.0, 1200.0]))

    def reference(lid, k, lt):
        if direction == "backward":
            cand = [(rt, ro) for ro, rk, rt in rights if rk == k and rt <= lt]
            # nearest time, then HIGHEST order key
            best = max(cand, key=lambda c: (c[0], c[1])) if cand else None
            gap = (lt - best[0]).total_seconds() if best else None
        else:
            cand = [(rt, ro) for ro, rk, rt in rights if rk == k and rt >= lt]
            # nearest time, then LOWEST order key
            best = min(cand, key=lambda c: (c[0], c[1])) if cand else None
            gap = (best[0] - lt).total_seconds() if best else None
        if best is None or (tol is not None and gap > tol):
            return None
        return best[1]

    expect = {lid: reference(lid, k, lt) for lid, k, lt in lefts}

    ldf = spark.createDataFrame(lefts, "lid long, k long, lt timestamp")
    rdf = spark.createDataFrame(
        rights or [(None, None, None)], "ro long, k long, rt timestamp"
    ).filter("ro IS NOT NULL")
    got = {
        r.lid: r.m_ro
        for r in asof_join(
            ldf, rdf, on="k", left_time="lt", right_time="rt",
            right_payload=["ro"], right_order="ro", prefix="m_",
            direction=direction, tolerance_seconds=tol,
        ).collect()
    }
    assert got == expect, (direction, tol, lefts, rights)


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_rollup_merge_is_a_monoid_fold(spark, data):
    """Property: for ANY multiset of rows and ANY split into batches,
    merging per-batch partials equals partials over the whole, at every
    grain — the contract that makes landed partials trustworthy.
    Integer measures so equality is exact."""
    from kafkastreamsinteractivequeries_spark.operators.rollup import (
        merge_partials,
        partial_aggregate,
    )

    n = data.draw(st.integers(min_value=1, max_value=60))
    rows = data.draw(
        st.lists(
            st.tuples(
                st.sampled_from(["a", "b", "c"]),
                st.integers(min_value=0, max_value=72 * 3600 - 1),  # 3 days of seconds
                st.integers(min_value=-1000, max_value=1000),
            ),
            min_size=n,
            max_size=n,
        )
    )
    k = data.draw(st.integers(min_value=1, max_value=4))
    cuts = sorted(data.draw(
        st.lists(st.integers(min_value=0, max_value=n), min_size=k - 1, max_size=k - 1)
    ))
    bounds = [0, *cuts, n]

    from pyspark.sql import functions as F

    def df_of(chunk):
        if not chunk:
            return None
        return spark.createDataFrame(chunk, "sym string, off long, v long").select(
            "sym",
            (F.to_timestamp(F.lit("2024-06-01 00:00:00"))
             + F.make_interval(secs=F.col("off").cast("double"))).alias("ts"),
            "v",
        )

    measures = {"v": ["sum", "min", "max", "sumsq"]}
    whole = partial_aggregate(df_of(rows), ["sym"], "ts", "hour", measures)
    parts = [
        partial_aggregate(d, ["sym"], "ts", "hour", measures)
        for d in (df_of(rows[bounds[i]:bounds[i + 1]]) for i in range(k))
        if d is not None
    ]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)

    for grain in ("hour", "day", None):
        a = merge_partials(whole, ["sym"], grain=grain)
        b = merge_partials(unioned, ["sym"], grain=grain)
        key = ["sym"] if grain is None else ["sym", "bucket"]

        def as_map(df):
            return {
                tuple(str(r[c]) for c in key): (
                    r["_n"], r["v_sum"], r["v_min"], r["v_max"], r["v_sumsq"]
                )
                for r in df.collect()
            }

        assert as_map(a) == as_map(b), f"grain={grain}"


# ---- URL canonicalization vs an independent Python reference ----

def _ref_canonical_url(u: str) -> str:
    """Straight-line Python reference of canonicalize_url_col's
    documented spec — written independently of the Column chain so an
    expression bug can't hide in both."""
    import re

    x = u.strip(" ")
    x = x.split("#", 1)[0]
    parts = x.split("%")
    x = parts[0] + "".join(
        "%" + p[:2].upper() + p[2:] for p in parts[1:]
    )
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://", x)
    if not m:
        return x
    scheme = m.group(1).lower()
    rest = x[m.end():]
    auth = re.match(r"^([^/?]*)", rest).group(1)
    tail = rest[len(auth):]
    host = re.sub(r"^[^@/?]*@", "", auth).lower()
    if scheme == "http":
        host = re.sub(r":80$", "", host)
    elif scheme == "https":
        host = re.sub(r":443$", "", host)
    path = re.match(r"^([^?]*)", tail).group(1)
    query = tail[len(path) + 1:] if len(tail) > len(path) else ""
    if path == "":
        path = "/"
    kept = sorted(
        p
        for p in query.split("&")
        if p and not re.match(r"^(utm_[^=&]*|fbclid|gclid|msclkid|ref)(=|$)", p)
    )
    return scheme + "://" + host + path + ("?" + "&".join(kept) if kept else "")


_url_host_chars = st.text(
    alphabet="abcdefABCDEF09.-", min_size=1, max_size=12
)
_url_path_chars = st.text(
    alphabet="abcXYZ09/%2fF._~!$&()*+,;=:@", max_size=16
)
_url_param = st.sampled_from(
    ["a=1", "b=2", "utm_source=x", "utm_x", "fbclid=9", "gclid", "ref=z",
     "reference=keep", "msclkid=1", "z", "a=%2f", "utm_=v"]
)


@given(
    scheme=st.sampled_from(["http", "HTTP", "https", "HTTPS", "ftp", "s3"]),
    userinfo=st.sampled_from(["", "u@", "U:p-W@"]),
    host=_url_host_chars,
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=_url_path_chars,
    params=st.lists(_url_param, max_size=4),
    fragment=st.sampled_from(["", "#f", "#a%2fb", "#?x=1"]),
    bare=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_canonicalize_url_matches_python_reference(
    spark, scheme, userinfo, host, port, path, params, fragment, bare
):
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        canonicalize_url_col,
    )

    if bare:
        url = host + path + fragment  # no scheme: opaque-key degrade
    else:
        url = (
            scheme + "://" + userinfo + host + port + "/" + path
            + ("?" + "&".join(params) if params else "")
            + fragment
        )
    got = (
        spark.createDataFrame([(url,)], "url string")
        .select(canonicalize_url_col(F.col("url")).alias("c"))
        .collect()[0]["c"]
    )
    assert got == _ref_canonical_url(url), f"url={url!r}"


# ---------------------------------------------------------------------------
# Live store: the driver reader against the Spark read of the same snapshot
# ---------------------------------------------------------------------------

# unicode, escaped on disk (":", "/", "%", "="), the empty key and the
# key named like the directory Spark writes it to, and keys whose UTF-8
# byte order differs from UTF-16 order ("｡" < "\U0001f600")
LIVE_KEYS = ["", "__HIVE_DEFAULT_PARTITION__", "A", "B", "a", "a b", "x:y", "x%y", "a/b", "=",
             "é", "日本", "｡", "\U0001f600"]


def _spark_path_service(spark, sink):
    """The live service with its driver reader off: every query scans
    the snapshot's Spark frame."""
    from kafkastreamsinteractivequeries_spark.plans.service import LiveSnapshotQueryService

    svc = LiveSnapshotQueryService(spark, sink)
    svc._driver_reads = False
    return svc


def _typed(rows) -> list[list[tuple]]:
    """Rows as (column, type, value) lists: dict equality alone ignores
    column order and equates 1 with 1.0."""
    return [[(k, type(v), v) for k, v in r.items()] for r in rows]


def _version_of(resp) -> int:
    line = resp.execution_info["stock-aggregation-state-store"][0]
    assert line.startswith("snapshot v"), line
    return int(line[len("snapshot v"):])


@settings(max_examples=8, deadline=None)
@given(data=st.data())
def test_live_driver_reads_match_spark_reads(spark, tmp_path_factory, data):
    from kafkastreamsinteractivequeries_spark.plans.queries import (
        KeyQuery,
        MultiKeyQuery,
    )
    from kafkastreamsinteractivequeries_spark.plans.service import LiveSnapshotQueryService
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import ManifestServingSink

    schema = "symbol string, buys double, sells double, number_shares long"
    sink = ManifestServingSink(str(tmp_path_factory.mktemp("live") / "store"))
    driver = LiveSnapshotQueryService(spark, sink)
    via_spark = _spark_path_service(spark, sink)
    n_commits = data.draw(st.integers(1, 3), label="commits")
    for batch_id in range(n_commits):
        keys = data.draw(st.lists(st.sampled_from(LIVE_KEYS + [None]), min_size=1, max_size=8, unique=True))
        rows = [(k, float(batch_id), data.draw(st.floats(-1e6, 1e6)), batch_id * 100 + i)
                for i, k in enumerate(keys)]
        sink(spark.createDataFrame(rows, schema), batch_id)

        def same(query):
            # while every key so far was null the manifest is empty,
            # and both paths answer it with no rows
            got, want = driver.execute_response(query), via_spark.execute_response(query)
            assert got.error_message is None and want.error_message is None
            assert _version_of(got) == _version_of(want) == batch_id
            assert _typed(got.result) == _typed(sorted(want.result, key=lambda r: r["symbol"].encode())), query

        same(KeyQuery(data.draw(st.sampled_from(LIVE_KEYS), label="key")))
        same(MultiKeyQuery.with_keys(data.draw(st.lists(st.sampled_from(LIVE_KEYS + ["NOPE"]), max_size=6))))


# ---------------------------------------------------------------------------
# Batch service: the driver snapshot against the lazy Spark path
# ---------------------------------------------------------------------------

SNAPSHOT_SCHEMA = "symbol string, f float, g double, i int, b boolean"
SNAPSHOT_NUMBERS = ["0", "-1", "2", "0.5", "-0.0", "1e3", "-2.5E-1", "1e400", "2147483648", "-9223372036854775808"]
# predicates Spark answers (or refuses) alike on every frame, but that
# have no exact Arrow form: a regex, a nested path, and comparisons of
# bool with number (refused by Spark's analyzer)
NO_ARROW_LEAVES = [
    "@.symbol =~ '/^[a-z].*/'", "@.f.x > 1", "@.symbol.y == 'a'", "@.b == 1", "@.i > false", "@.g != true",
]


def _snapshot_operand(draw, kind):
    if kind == "num":
        return draw(st.sampled_from(["@.f", "@.g", "@.i"] + SNAPSHOT_NUMBERS))
    if kind == "str":
        return draw(st.sampled_from(["@.symbol", "'a'", "'B'", '"x:y"', "'\\'a'", "'\u00e9'", "''"]))
    return draw(st.sampled_from(["@.b", "true", "false"]))


def _snapshot_leaf(draw):
    """A comparison over ``SNAPSHOT_SCHEMA``: numbers, strings and bools
    compared among themselves, null tests, a regex, a nested path, a
    mixed-type comparison, a literal against a literal, a field named in
    another case, an unknown field and an integer outside int64,
    negated or not."""
    kind = draw(st.sampled_from(["num", "num", "num", "str", "str", "bool", "null", "other"]))
    if kind == "null":
        field = draw(st.sampled_from(["symbol", "f", "g", "i", "b", "nope"]))
        leaf = f"@.{field} {draw(st.sampled_from(['==', '!=', '>']))} null"
    elif kind == "other":
        leaf = draw(st.sampled_from(NO_ARROW_LEAVES + [
            "@.F > 0.5", "1 < 2", "@.nope > 1", "@.i < 9223372036854775808", "null == @.i",
        ]))
    else:
        op = draw(st.sampled_from(OPS))
        leaf = f"{_snapshot_operand(draw, kind)} {op} {_snapshot_operand(draw, kind)}"
    return f"!{leaf}" if draw(st.integers(0, 3)) == 0 else leaf


def _multiset(rows):
    from collections import Counter

    return Counter(repr(r) for r in _typed(rows))


def _same_refusal(got, want) -> bool:
    """True when both refused the query, False when both answered: a
    malformed predicate gets the same client error from each, an
    unknown column an error naming each one's own plan."""
    assert (got.error_message is None) == (want.error_message is None), (got.error_message, want.error_message)
    assert got.client_error == want.client_error
    if got.client_error:
        assert got.error_message == want.error_message
    return got.error_message is not None


@settings(max_examples=12, deadline=None)
@given(data=st.data())
def test_batch_snapshot_reads_match_lazy_reads(spark, data):
    from kafkastreamsinteractivequeries_spark.plans.queries import (
        FilteredRangeQuery,
        KeyQuery,
        MultiKeyQuery,
        RangeQuery,
    )
    from kafkastreamsinteractivequeries_spark.plans.service import InteractiveQueryService

    class Lazy(InteractiveQueryService):
        def _rows(self, query, *args, **kwargs):
            return self._frame_rows(self._execute_with_info(query), *args, **kwargs)

    bounds = st.none() | st.sampled_from(LIVE_KEYS + ["NOPE"])
    rows = data.draw(st.lists(st.tuples(
        st.sampled_from(LIVE_KEYS + [None] * 3),  # repeats: duplicate keys
        st.none() | st.floats(width=32),
        st.none() | st.floats(),
        st.none() | st.integers(-2**31, 2**31 - 1),
        st.none() | st.booleans(),
    ), max_size=14), label="rows")
    df = spark.createDataFrame(rows, SNAPSHOT_SCHEMA).repartition(3)
    snap, lazy = InteractiveQueryService(df), Lazy(df)
    with_key = {}
    for r in (r.asDict() for r in df.collect()):
        with_key.setdefault(r["symbol"], []).append(r)

    def evaluated_as(query, resp):
        # a filtered read names its evaluator: Arrow whenever the
        # predicate has an Arrow form over the snapshot
        if isinstance(query, FilteredRangeQuery):
            table, nan_columns = snap._snapshot.table, snap._snapshot.nan_columns
            arrow = arrow_predicate(query.predicate_src, table.schema, nan_columns) is not None
            assert resp.execution_info["stock-aggregation-state-store"][1] == ("arrow filter" if arrow else "spark frame")

    def same_pages(query, size, after):
        for _ in range(len(rows) + 2):
            (got, got_next), (want, want_next) = snap.execute_page(query, size, after), lazy.execute_page(query, size, after)
            if _same_refusal(got, want):
                return
            evaluated_as(query, got)
            # pages in key order; the rows of the page's last key may be
            # any of that key's rows when the page is full
            assert [r["symbol"] for r in got.result] == [r["symbol"] for r in want.result], (query, after)
            edge = got.result[-1]["symbol"] if len(got.result) == size else object()
            assert _multiset([r for r in got.result if r["symbol"] != edge]) == _multiset(
                [r for r in want.result if r["symbol"] != edge]
            ), (query, after)
            assert _multiset([r for r in got.result if r["symbol"] == edge]) <= _multiset(with_key.get(edge, []))
            assert got_next == want_next
            if got_next is None:
                return
            after = got_next

    def same_rows(query, limit):
        got, want = snap.execute_response(query, collect_limit=limit), lazy.execute_response(query, collect_limit=limit)
        if _same_refusal(got, want):
            return
        assert got.execution_info["stock-aggregation-state-store"][0] == f"driver snapshot of {len(rows)} rows"
        evaluated_as(query, got)
        full = lazy.execute_response(query, collect_limit=None).result
        if limit and len(full) > limit:
            # a capped answer may be any ``limit`` of the rows
            assert len(got.result) == limit and _multiset(got.result) <= _multiset(full), query
        else:
            assert _multiset(got.result) == _multiset(want.result), query

    # the only reads that return null keys, then random ones
    same_rows(RangeQuery(), None)
    same_pages(RangeQuery(), 2, None)
    for _ in range(5):
        kind = data.draw(st.sampled_from(["key", "multikey", "range", "filtered"]), label="kind")
        lower, upper = data.draw(bounds, label="lower"), data.draw(bounds, label="upper")
        if kind == "key":
            query = KeyQuery(data.draw(st.sampled_from(LIVE_KEYS + ["NOPE"]), label="key"))
        elif kind == "multikey":
            query = MultiKeyQuery.with_keys(data.draw(st.lists(st.sampled_from(LIVE_KEYS + ["NOPE"]), max_size=5)))
        elif kind == "range":
            query = RangeQuery(lower, upper)
        else:
            src = data.draw(predicates(_snapshot_leaf) | st.sampled_from(["@.f >", "@.i > 1 &&"]), label="pred")
            query = FilteredRangeQuery(lower, upper, src)
        if data.draw(st.booleans(), label="paged"):
            cursor = data.draw(st.none() | st.sampled_from(LIVE_KEYS + ["NOPE"]), label="cursor")
            same_pages(query, data.draw(st.integers(1, 5), label="page size"), cursor)
        else:
            same_rows(query, data.draw(st.sampled_from([None, 1, 3, 10_000]), label="collect_limit"))


@settings(max_examples=200, deadline=None)
@given(data=st.data())
def test_arrow_emitter_refuses_regex_nested_paths_and_mixed_types(data):
    import pyarrow as pa

    schema = pa.schema([("symbol", pa.string()), ("f", pa.float32()), ("g", pa.float64()),
                        ("i", pa.int32()), ("b", pa.bool_())])
    tree = data.draw(predicates(_snapshot_leaf), label="tree")
    refused = data.draw(st.sampled_from(NO_ARROW_LEAVES + [
        "@.symbol > 1", "@.f == 'a'", "@.symbol == true", "'a' < @.i", "@.b >= 'x'", "@.f >= @.i", "@.f < 2",
    ]), label="refused")
    src = data.draw(st.sampled_from([
        f"({tree}) && ({refused})", f"({refused}) || ({tree})", f"!{refused}", f"$.[?(({tree}) || !({refused}))]",
    ]), label="src")
    assert arrow_predicate(src, schema) is None, src
    # a float column holding NaN is compared by Spark's rule, not IEEE's
    assert arrow_predicate("@.g > 0.5", schema) is not None
    assert arrow_predicate("@.g > 0.5", schema, frozenset({"g"})) is None
