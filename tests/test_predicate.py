"""Predicate-compiler golden tests.

Seeded from the reference's JsonPath predicate suite
(``store/JacksonProtobufMappingProviderTest.java:50-52,73-152``):
fixture rows (BWB 333/333, ALB 400/333, EAB 333/400) against the exact
predicates the reference tests, in both typed-column mode and raw-JSON
(``json_col``) mode.
"""

import pytest
from pyspark.sql import functions as F

from kafkastreamsinteractivequeries_spark.functions.predicate import (
    PredicateSyntaxError,
    arrow_predicate,
    compile_predicate,
)

FIXTURE = [
    ("BWB", 333.0, 333.0),
    ("ALB", 400.0, 333.0),
    ("EAB", 333.0, 400.0),
]

GOLDEN = [
    ("@.buys > @.sells", {"ALB"}),
    ("@.sells > @.buys", {"EAB"}),
    ("@.sells == @.buys", {"BWB"}),
    ("@.buys > 299", {"BWB", "ALB", "EAB"}),
    ("@.buys > 500", set()),
]


@pytest.fixture(scope="module")
def agg_df(spark):
    return spark.createDataFrame(FIXTURE, ["symbol", "buys", "sells"])


@pytest.fixture(scope="module")
def json_df(spark):
    rows = [
        (s, f'{{"symbol": "{s}", "buys": {b}, "sells": {sl}}}')
        for s, b, sl in FIXTURE
    ]
    return spark.createDataFrame(rows, ["symbol", "value"])


@pytest.mark.parametrize("src,expected", GOLDEN)
def test_golden_typed(agg_df, src, expected):
    got = {r.symbol for r in agg_df.filter(compile_predicate(src)).collect()}
    assert got == expected


@pytest.mark.parametrize("src,expected", GOLDEN)
def test_golden_raw_json(json_df, src, expected):
    got = {r.symbol for r in json_df.filter(compile_predicate(src, json_col="value")).collect()}
    assert got == expected


@pytest.mark.parametrize("src,expected", GOLDEN)
def test_golden_empty_input(spark, src, expected):
    empty = spark.createDataFrame([], "symbol string, buys double, sells double")
    assert empty.filter(compile_predicate(src)).count() == 0


def test_full_jsonpath_wrapper(agg_df):
    # The reference builds "$.[?(<pred>)]" — CustomQueryStore.java:91-93.
    got = {r.symbol for r in agg_df.filter(compile_predicate("$.[?(@.buys > @.sells)]")).collect()}
    assert got == {"ALB"}


def test_string_equality(agg_df):
    got = {r.symbol for r in agg_df.filter(compile_predicate("@.symbol == 'ALB'")).collect()}
    assert got == {"ALB"}


def test_conjunction_disjunction(agg_df):
    got = {
        r.symbol
        for r in agg_df.filter(
            compile_predicate("@.buys > 299 && @.sells > 350 || @.symbol == 'BWB'")
        ).collect()
    }
    assert got == {"EAB", "BWB"}


def test_parens_and_not(agg_df):
    got = {
        r.symbol
        for r in agg_df.filter(
            compile_predicate("!(@.buys > @.sells || @.sells > @.buys)")
        ).collect()
    }
    assert got == {"BWB"}


def test_not_equal(agg_df):
    got = {r.symbol for r in agg_df.filter(compile_predicate("@.buys != @.sells")).collect()}
    assert got == {"ALB", "EAB"}


def test_regex_match(agg_df):
    got = {r.symbol for r in agg_df.filter(compile_predicate("@.symbol =~ '^A'")).collect()}
    assert got == {"ALB"}


@pytest.mark.parametrize("bad", ["@.buys >", "@.buys ?? 3", "(@.buys > 1", "@.buys > 1 extra"])
def test_syntax_errors(bad):
    with pytest.raises(PredicateSyntaxError):
        compile_predicate(bad)
    with pytest.raises(PredicateSyntaxError):
        arrow_predicate(bad, _fixture_table().schema)


def _fixture_table():
    import pyarrow as pa

    return pa.table({"symbol": [r[0] for r in FIXTURE], "buys": [r[1] for r in FIXTURE],
                     "sells": [r[2] for r in FIXTURE]})


@pytest.mark.parametrize("src,expected", GOLDEN + [
    ("$.[?(@.buys > @.sells)]", {"ALB"}),
    ("@.buys > 299 && @.sells > 350 || @.symbol == 'BWB'", {"EAB", "BWB"}),
    ("!(@.buys > @.sells || @.sells > @.buys)", {"BWB"}),
    ("@.buys != @.sells", {"ALB", "EAB"}),
    ("@.symbol != null && !@.buys == 333.0", {"ALB"}),
])
def test_golden_arrow(agg_df, src, expected):
    # the Arrow form keeps the rows the Catalyst form keeps
    table = _fixture_table()
    assert {r.symbol for r in agg_df.filter(compile_predicate(src)).collect()} == expected
    assert set(table.filter(arrow_predicate(src, table.schema)).column("symbol").to_pylist()) == expected


@pytest.mark.parametrize("src", ["@.symbol =~ '^A'", "@.buys.x > 1", "@.symbol > 1", "@.nope > 1", "@.BUYS > 1"])
def test_arrow_has_no_form_for_what_spark_answers_differently(src):
    assert arrow_predicate(src, _fixture_table().schema) is None


def test_predicate_pushes_to_scan(spark, tmp_path):
    # The Spark analog of "evaluate inside the store": the compiled
    # predicate must reach the parquet scan as a pushed filter.
    path = str(tmp_path / "agg.parquet")
    spark.createDataFrame(FIXTURE, ["symbol", "buys", "sells"]).write.parquet(path)
    df = spark.read.parquet(path).filter(compile_predicate("@.buys > 299"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "buys" in plan
