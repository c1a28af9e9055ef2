"""Corpus source tests: JSONL/CSV/text-dir readers land the same rows
the parquet path serves, and feed the extension operators unchanged."""

import json

from kafkastreamsinteractivequeries_spark.operators.dedup import exact_dedup
from kafkastreamsinteractivequeries_spark.sources.corpus import (
    read_documents_csv,
    read_documents_jsonl,
    read_documents_text,
    write_corpus,
)

ROWS = [
    {"doc_id": 1, "text": "the cat sat", "lang": "en", "source": "a", "n_chars": 11},
    {"doc_id": 2, "text": "the cat sat", "lang": "en", "source": "a", "n_chars": 11},
    {"doc_id": 3, "text": "unique doc, with comma", "lang": "en", "source": "b", "n_chars": 22},
]


def test_jsonl_roundtrip_and_dedup(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in ROWS))
    df = read_documents_jsonl(spark, str(p))
    assert df.schema["doc_id"].dataType.simpleString() == "bigint"
    assert df.count() == 3
    assert exact_dedup(df).count() == 2  # docs 1/2 collapse


def test_csv_reader_quoted_text(spark, tmp_path):
    p = tmp_path / "docs.csv"
    lines = ["doc_id,text,lang,source,n_chars"]
    for r in ROWS:
        lines.append(f'{r["doc_id"]},"{r["text"]}",{r["lang"]},{r["source"]},{r["n_chars"]}')
    p.write_text("\n".join(lines))
    df = read_documents_csv(spark, str(p))
    got = {r.doc_id: r.text for r in df.collect()}
    assert got[3] == "unique doc, with comma"  # quoting survived


def test_text_dir_reader(spark, tmp_path):
    d = tmp_path / "txts"
    d.mkdir()
    (d / "a.txt").write_text("first document")
    (d / "b.txt").write_text("second document")
    df = read_documents_text(spark, str(d))
    rows = sorted(df.collect(), key=lambda r: r.doc_id)
    assert [r.doc_id for r in rows] == [0, 1]
    assert rows[0].text == "first document"  # path order → a.txt first
    assert rows[0].n_chars == len("first document")


def test_write_corpus_parquet_roundtrip(spark, tmp_path):
    import json as _j

    p = tmp_path / "docs.jsonl"
    p.write_text("\n".join(_j.dumps(r) for r in ROWS))
    df = read_documents_jsonl(spark, str(p))
    out = str(tmp_path / "landed")
    write_corpus(df, out, partitions=2)
    back = spark.read.parquet(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_register_views_enables_sql_surface(spark, sf_dir):
    from kafkastreamsinteractivequeries_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    n = spark.sql("SELECT COUNT(*) AS n FROM events").collect()[0].n
    assert n > 0
    # pushdown works through the view
    plan = (
        spark.sql("SELECT event_id FROM events WHERE event_type = 'click'")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "event_type" in plan


def test_full_reference_surface_runs_as_spark_sql(spark, sf_dir):
    """Every reference query (T5 aggregate, Q1 key, Q2 multi-key, Q3
    range, Q4 filtered range, Q6 full scan) expressed as plain
    ``spark.sql`` over ``register_views`` must return exactly the
    query-object path's rows — the engine's SQL surface is complete
    for a reference user who writes SQL instead of DataFrames."""
    from kafkastreamsinteractivequeries_spark.operators.aggregation import (
        aggregate_transactions,
    )
    from kafkastreamsinteractivequeries_spark.plans.queries import (
        FilteredRangeQuery,
        KeyQuery,
        MultiKeyQuery,
        RangeQuery,
    )
    from kafkastreamsinteractivequeries_spark.plans.service import (
        InteractiveQueryService,
    )
    from kafkastreamsinteractivequeries_spark.sources.tables import (
        load_table,
        register_views,
        transactions_from_events,
    )

    register_views(spark, sf_dir)
    agg = aggregate_transactions(
        transactions_from_events(load_table(spark, sf_dir, "events"))
    )
    agg.createOrReplaceTempView("stock_aggregation")
    svc = InteractiveQueryService(agg)

    agg_sql = """
        SELECT event_type AS symbol,
               SUM(CASE WHEN user_id % 2 = 0 THEN value ELSE 0.0 END) AS buys,
               SUM(CASE WHEN user_id % 2 = 0 THEN 0.0 ELSE value END) AS sells,
               CAST(SUM(CAST(get_json_object(props, '$.k') AS INT)) AS BIGINT) AS number_shares
        FROM events GROUP BY event_type
    """
    cases = [
        (agg_sql, agg),
        (
            "SELECT * FROM stock_aggregation WHERE symbol = 'purchase'",
            svc.execute(KeyQuery.with_key("purchase")),
        ),
        (
            "SELECT * FROM stock_aggregation WHERE symbol IN ('click','signup')",
            svc.execute(MultiKeyQuery.with_keys(["click", "signup"])),
        ),
        (
            "SELECT * FROM stock_aggregation WHERE symbol BETWEEN 'click' AND 'signup'",
            svc.execute(RangeQuery.with_range("click", "signup")),
        ),
        (
            "SELECT * FROM stock_aggregation WHERE buys > sells",
            svc.execute(
                FilteredRangeQuery.with_bounds(None, None).predicate("@.buys > @.sells")
            ),
        ),
        ("SELECT * FROM stock_aggregation", svc.execute(RangeQuery.with_no_bounds())),
    ]
    def norm(rows):
        # float sums are order-dependent; compare at 2 decimals (the
        # reference's JSON money precision)
        return sorted(
            tuple(round(v, 2) if isinstance(v, float) else v for v in r)
            for r in map(tuple, rows)
        )

    for sql, df in cases:
        assert norm(spark.sql(sql).collect()) == norm(df.collect()), sql


def test_read_warc_records(spark, tmp_path):
    """WARC source: record split by Content-Length, HTTP envelope split
    for response records, gzip members inflated, truncated tails and
    corrupt gzip degrade instead of erroring."""
    import gzip

    from kafkastreamsinteractivequeries_spark.sources.warc import read_warc

    def rec(wtype, uri, payload, extra=""):
        hdr = (
            f"WARC/1.0\r\nWARC-Type: {wtype}\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            "WARC-Date: 2024-01-01T00:00:00Z\r\n"
            f"Content-Length: {len(payload)}\r\n{extra}\r\n"
        ).encode()
        return hdr + payload + b"\r\n\r\n"

    html = b"<html><a href=\"https://b.com/\">x</a></html>"
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        b"\r\n" + html
    )
    warc = (
        rec("warcinfo", "urn:x", b"software: test\r\n")
        + rec("response", "https://a.com/page", http,
              "Content-Type: application/http; msgtype=response\r\n")
        + rec("request", "https://a.com/page", b"GET /page HTTP/1.1\r\n")
    )
    plain = tmp_path / "warc_in"
    plain.mkdir()
    (plain / "a.warc").write_bytes(warc)
    (plain / "b.warc.gz").write_bytes(gzip.compress(warc))
    (plain / "bad.warc.gz").write_bytes(b"\x1f\x8bnot really gzip")
    (plain / "trunc.warc").write_bytes(warc[: len(warc) - 40])

    out = read_warc(spark, str(plain / "*")).collect()
    by_file = {}
    for r in out:
        by_file.setdefault(r["source_file"].rsplit("/", 1)[-1], []).append(r)
    for f in ("a.warc", "b.warc.gz"):
        recs = sorted(by_file[f], key=lambda r: r["record_idx"])
        assert [r["warc_type"] for r in recs] == [
            "warcinfo", "response", "request"
        ]
        resp = recs[1]
        assert resp["target_uri"] == "https://a.com/page"
        assert resp["http_status"] == 200
        assert resp["http_content_type"] == "text/html; charset=utf-8"
        assert bytes(resp["body"]) == html
        assert bytes(recs[0]["body"]).startswith(b"software")
    assert "bad.warc.gz" not in by_file  # corrupt gzip degrades
    assert len(by_file.get("trunc.warc", [])) == 2  # truncated tail dropped


def test_load_table_memo_keeps_one_entry_per_path(spark, tmp_path):
    # A table regenerated in place must be read afresh each time, and
    # its stale plans must not pile up in the per-session memo.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafkastreamsinteractivequeries_spark.sources.tables import _TABLE_MEMO, load_table

    before = len(_TABLE_MEMO.get(spark, {}))
    for n in (1, 2, 3, 4):
        pq.write_table(pa.table({"id": list(range(n))}), str(tmp_path / "regen.parquet"))
        assert load_table(spark, str(tmp_path), "regen").count() == n
    assert len(_TABLE_MEMO[spark]) == before + 1
