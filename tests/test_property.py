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
"""

import math

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from kafkastreamsinteractivequeries_spark.functions.predicate import compile_predicate

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


def _num_cmp(draw):
    f = draw(st.sampled_from(NUM_FIELDS))
    op = draw(st.sampled_from(OPS))
    if draw(st.booleans()):
        rhs = f"@.{draw(st.sampled_from(NUM_FIELDS))}"
    else:
        rhs = str(draw(st.integers(min_value=-10, max_value=500)))
    return f"@.{f} {op} {rhs}"


def _str_cmp(draw):
    op = draw(st.sampled_from(["==", "!="]))
    return f"@.symbol {op} '{draw(st.sampled_from(STR_VALUES))}'"


@st.composite
def predicates(draw, depth=2):
    if depth == 0 or draw(st.integers(0, 2)) == 0:
        return draw(st.booleans()) and _num_cmp(draw) or _str_cmp(draw)
    left = draw(predicates(depth=depth - 1))
    right = draw(predicates(depth=depth - 1))
    conj = draw(st.sampled_from(["&&", "||"]))
    out = f"({left}) {conj} ({right})"
    if draw(st.booleans()):
        out = f"!({out})"
    return out


def _py_eval(src: str, row: dict) -> bool:
    expr = src.replace("&&", " and ").replace("||", " or ").replace("!(", " not (")
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
    """The live service with the base class's row hook: every query
    scans the snapshot's Spark frame."""
    from kafkastreamsinteractivequeries_spark.plans.service import (
        InteractiveQueryService,
        LiveSnapshotQueryService,
    )

    class SparkPath(LiveSnapshotQueryService):
        _rows = InteractiveQueryService._rows

    return SparkPath(spark, sink)


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
    committed = set()
    for batch_id in range(n_commits):
        keys = data.draw(st.lists(st.sampled_from(LIVE_KEYS + [None]), min_size=1, max_size=8, unique=True))
        rows = [(k, float(batch_id), data.draw(st.floats(-1e6, 1e6)), batch_id * 100 + i)
                for i, k in enumerate(keys)]
        sink(spark.createDataFrame(rows, schema), batch_id)
        committed.update(k for k in keys if k is not None)

        def same(query):
            got, want = driver.execute_response(query), via_spark.execute_response(query)
            assert got.error_message == want.error_message
            if not committed:
                # only null keys so far: the sink committed an empty
                # manifest, which both paths refuse alike
                assert "is empty" in got.error_message
                return
            assert got.error_message is None
            assert _version_of(got) == _version_of(want) == batch_id
            assert _typed(got.result) == _typed(sorted(want.result, key=lambda r: r["symbol"].encode())), query

        same(KeyQuery(data.draw(st.sampled_from(LIVE_KEYS), label="key")))
        same(MultiKeyQuery.with_keys(data.draw(st.lists(st.sampled_from(LIVE_KEYS + ["NOPE"]), max_size=6))))
