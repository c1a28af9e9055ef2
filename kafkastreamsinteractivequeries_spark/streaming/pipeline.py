"""Continuous ingest pipeline — SURVEY.md §2.1 T1–T7 under Structured
Streaming.

Reference topology (``streams/KafkaStreamsService.java:76-96``)::

    Kafka "input" → deserialize(JSON) → peek → groupByKey
      → aggregate(buys/sells/shares fold) → materialize(queryable store)
      → toStream → Kafka "output"

Spark form: one ``StreamingQuery``.  The aggregate expression is the
*same* ``operators.aggregation.aggregate_transactions`` used in batch —
Structured Streaming keeps the running per-key state in its state store
(RocksDB provider at scale: the direct analog of the reference's
RocksDB stores, managed by the engine instead of user code), and
``outputMode("update")`` reproduces the reference's emit-per-update
behavior (statestore cache = 0, ``application.properties:3``).  Batch
boundaries may coalesce several updates to one key into one emission —
exactly what the reference does whenever its cache is non-zero
(``config/KafkaStreamsAppConfiguration.java:92``).

The serving table (the reference's interactive-query store) is
maintained by a ``foreachBatch`` upsert: each micro-batch's updated
keys land in a fresh directory and a manifest commit publishes the new
snapshot (``ManifestServingSink`` — the Delta-less MERGE).  Readers get
the latest committed aggregate per key through ``ManifestServingSink.read``
or ``LiveSnapshotQueryService``.
"""

from __future__ import annotations

import json
import os
import re
import threading
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from kafkastreamsinteractivequeries_spark.operators.aggregation import aggregate_transactions
from kafkastreamsinteractivequeries_spark.schemas import STOCK_TRANSACTION_SCHEMA


# --------------------------------------------------------------------------
# Sources (T1/T2)
# --------------------------------------------------------------------------


def kafka_transaction_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "input",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """T1+T2: Kafka source → typed transaction stream.

    Mirrors ``builder.stream(topic, Consumed.with(stringSerde,
    txnSerde).withOffsetResetPolicy(EARLIEST))``
    (``streams/KafkaStreamsService.java:78-80``): string key, JSON value
    decoded against the declared schema, record timestamp as event time.

    Requires the spark-sql-kafka connector jars on the classpath (not in
    the local test image — exercised via the file-source analog below).
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.select(
        F.col("key").cast("string").alias("symbol_key"),
        F.from_json(F.col("value").cast("string"), STOCK_TRANSACTION_SCHEMA).alias("txn"),
        F.col("timestamp").alias("kafka_ts"),
    ).select(
        "txn.symbol",
        "txn.buy",
        "txn.amount",
        "txn.number_shares",
        F.coalesce(F.col("txn.event_time"), F.col("kafka_ts")).alias("event_time"),
    )


def file_transaction_stream(spark: SparkSession, path: str) -> DataFrame:
    """Test-friendly source with identical downstream semantics: a
    parquet directory consumed as a stream (new files = new records)."""
    return spark.readStream.schema(STOCK_TRANSACTION_SCHEMA).parquet(path)


# --------------------------------------------------------------------------
# The standing aggregation (T4+T5)
# --------------------------------------------------------------------------


def streaming_aggregation(txn_stream: DataFrame) -> DataFrame:
    """Same fold as batch — Structured Streaming keeps per-key state."""
    return aggregate_transactions(txn_stream)


# --------------------------------------------------------------------------
# Serving-table sink (T6) — the queryable "state store"
# --------------------------------------------------------------------------


def _fs(spark: SparkSession, path: str):
    """Hadoop FileSystem of ``path`` (portable across local/HDFS) and the
    session's JVM view."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _committed_subdirs(spark: SparkSession, root: str, prefix: str) -> list[str]:
    """Names of ``root``'s child directories that start with ``prefix``
    and carry parquet's ``_SUCCESS`` commit marker, in name order: one
    glob instead of one ``exists`` per directory."""
    fs, jvm = _fs(spark, root)
    found = fs.globStatus(jvm.org.apache.hadoop.fs.Path(f"{root}/{prefix}*/_SUCCESS"))
    return sorted(st.getPath().getParent().getName() for st in found or [])


def _refuse_foreign_checkpoint(store: str, committed: str, newest: int | None, batch_id: int) -> None:
    """A committed version STRICTLY ABOVE the incoming batch id means
    the query's checkpoint and the store's id space do not match (a
    fresh checkpoint restarts batch ids at 0; a genuine replay reuses
    its own id), so fail loudly instead of overwriting or ignoring the
    landed history."""
    if newest is not None and newest > batch_id:
        raise RuntimeError(
            f"{store} already has committed {committed} v{newest} > incoming "
            f"micro-batch id {batch_id}: the query's checkpoint does not "
            "match this store (fresh checkpoint against an existing store?). "
            "Restore the original checkpoint or point the query at a new "
            "store path."
        )


_ESCAPED = re.compile(r"%([0-9A-Fa-f]{2})")
# the directory Spark writes for an empty-string (or null) partition value
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _dir_keys(name: str) -> tuple[str, ...]:
    """The keys whose rows a ``_bucket=<name>`` directory holds: Hive's
    ``%XX`` unescape of Spark's partition-path escaping (``x%3Ay`` →
    ``x:y``).  Spark writes the empty key (the sink drops null keys) and
    a key spelled like the default partition to the same directory."""
    if name == _DEFAULT_PARTITION:
        return ("", name)
    return (_ESCAPED.sub(lambda m: chr(int(m.group(1), 16)), name),)


def _plain(schema) -> bool:
    """True when every column of an Arrow ``schema`` is a str, bool,
    int or float: the types whose ``to_pylist`` values equal a Spark
    ``collect``'s.  Timestamps, binary and nested types convert
    differently."""
    from pyarrow import types as t

    return all(
        t.is_string(c) or t.is_boolean(c) or t.is_integer(c) or t.is_floating(c)
        for c in schema.types
    )


class _Version:
    """One committed manifest and its key index: each key mapped to the
    directory holding its rows."""

    __slots__ = ("version", "files", "by_key", "plain")

    def __init__(self, version: int, files: dict[str, str]):
        self.version = version
        self.files = files
        self.by_key = {key: d for name, d in files.items() for key in _dir_keys(name)}
        # False once a part file shows a column only Spark converts faithfully
        self.plain = True


class ManifestServingSink:
    """Transactional foreachBatch upsert: immutable per-batch data files
    committed by an append-only manifest log (a minimal table format,
    the Delta-less ACID upsert).  Read the store only through ``read``
    or ``read_rows``.

    Why: plain dynamic partition overwrite deletes-then-writes partition
    directories in place, so a concurrent reader can observe a key's
    partition mid-replace (missing or partial).  The reference's store
    never shows that state — RocksDB updates are per-key atomic
    (``store/CustomQueryStore.java:36-66``).  Here every batch writes to
    a NEW immutable directory and then publishes a full snapshot
    manifest via atomic rename; readers resolve the latest manifest and
    only ever see a complete, consistent snapshot.

    Commit protocol (per micro-batch), all through the Hadoop
    FileSystem of the store's path:

    0. guard: list the manifest directory.  If ``manifest/v<id>.json``
       already exists the batch is a committed replay (restart
       redelivery) and the call does nothing: rewriting its data
       directory would rename the part files out from under every
       reader of the published version.  If a NEWER version exists,
       the query's checkpoint does not belong to this store (a fresh
       checkpoint restarts batch ids at 0), so the call raises instead
       of deleting a directory the newest manifest still references.
    1. data: drop null-key rows (no route can address a null key, and
       Spark would write it to the empty-string key's directory; Kafka
       Streams' grouped aggregations skip null-key records the same
       way), then write the batch's rows to
       ``data/batch-<id>/_bucket=<key>/`` (fresh directory — never
       mutated after commit; a replay of a batch whose manifest never
       landed rewrites the directory before any manifest references
       it).  The empty key and a key spelled ``__HIVE_DEFAULT_PARTITION__``
       share one directory, so a batch that writes it also copies the
       other key's rows from the previous snapshot's directory.
    2. manifest: merge {key → data dir} over the previous snapshot and
       write ``manifest/v<id>.json`` via temp-file + rename.  Rename of
       a closed file to a NEW name is the atomic commit primitive on
       POSIX and HDFS; readers never see a partial manifest.  (On S3,
       point the manifest dir at a consistent store or use a
       conditional-put wrapper — same contract as every rename-based
       committer.)

    Read cost: every read lists the manifest directory once to find the
    newest committed version, so the first read after a commit already
    serves it.  A version's manifest and key index are built once, and
    its Spark frame (``read``) once per session, then reused until a
    newer version commits; rows are never cached.  When Hadoop resolves
    the store's path to the local file system (decided once per
    session), reads list and open its files from Python, and
    ``read_rows`` answers a set of keys on the driver: the key index
    picks their directories and pyarrow reads only those part files —
    no Spark job.

    Scale: per-batch work ∝ updated keys (new files + one small JSON),
    and old snapshots remain readable until ``vacuum()`` — which only
    deletes batch directories no current key references.
    """

    def __init__(self, path: str, partition_col: str = "symbol"):
        self.path = path.rstrip("/")
        self.partition_col = partition_col
        # _Version of the newest version read so far
        self._memo = None
        # (session, version, full frame) of the newest version read
        # through Spark so far
        self._frame = None
        self._memo_lock = threading.Lock()
        # (session, FileSystem, Path class): py4j pays one round trip per
        # package segment of a class lookup
        self._jvm_refs = None
        # (session, local directory of the store or None)
        self._local = None

    def _manifest_dir(self) -> str:
        return f"{self.path}/manifest"

    def _refs(self, spark: SparkSession):
        refs = self._jvm_refs
        if refs is None or refs[0] is not spark:
            fs, jvm = _fs(spark, self.path)
            refs = self._jvm_refs = (spark, fs, jvm.org.apache.hadoop.fs.Path)
        return refs[1:]

    def _local_root(self, spark: SparkSession) -> str | None:
        """The store's directory on this host when Hadoop resolves its
        path to the local file system, else None (``hdfs:``, ``s3a:``,
        or a scheme-less path under such a default file system)."""
        local = self._local
        if local is None or local[0] is not spark:
            fs, path_cls = self._refs(spark)
            root = None
            if fs.getScheme() == "file":
                root = fs.makeQualified(path_cls(self.path)).toUri().getPath().rstrip("/")
            local = self._local = (spark, root)
        return local[1]

    def _committed_version(self, spark: SparkSession) -> int | None:
        """Id of the newest committed manifest as Hadoop lists it."""
        fs, path_cls = self._refs(spark)
        found = fs.globStatus(path_cls(f"{self._manifest_dir()}/v[0-9]*.json"))
        if not found:
            return None
        # globStatus sorts by name
        return int(found[len(found) - 1].getPath().getName()[1:-5])

    def latest_version(self, spark: SparkSession) -> int | None:
        """Id of the newest committed manifest, or None before the first
        commit: one listing of the manifest directory."""
        root = self._local_root(spark)
        if root is None:
            return self._committed_version(spark)
        try:
            names = os.listdir(f"{root}/manifest")
        except FileNotFoundError:
            return None
        # zero-padded names sort by version
        newest = max(
            (n for n in names if n[:1] == "v" and n[1:2].isdigit() and n.endswith(".json")),
            default=None,
        )
        return None if newest is None else int(newest[1:-5])

    def _manifest(self, spark: SparkSession, version: int, local_root: str | None = None) -> dict[str, str]:
        """Manifest ``version``: opened from Python under ``local_root``
        when given, else through Hadoop."""
        name = f"v{version:020d}.json"
        if local_root is not None:
            with open(f"{local_root}/manifest/{name}", encoding="utf-8") as fh:
                return json.load(fh)
        path = f"{self._manifest_dir()}/{name}"
        fs, jvm = _fs(spark, path)
        stream = fs.open(jvm.org.apache.hadoop.fs.Path(path))
        try:
            data = bytes(
                jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            ).decode("utf-8")
        finally:
            stream.close()
        return json.loads(data)

    def _latest_manifest(self, spark: SparkSession) -> dict[str, str]:
        version = self._committed_version(spark)
        return {} if version is None else self._manifest(spark, version)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        spark = batch_df.sparkSession
        newest = self._committed_version(spark)
        _refuse_foreign_checkpoint(f"serving store {self.path}", "manifest", newest, batch_id)
        if newest == batch_id:
            return  # committed replay: its snapshot is already published
        out = f"{self.path}/data/batch-{batch_id}"
        # _bucket duplicates the key into the directory layout while the
        # data files keep the real column — leaf dirs stay self-contained.
        # Spark writes the empty key and the literal default-partition
        # name to one directory; as two partition values one task would
        # open two files of the same name there, so both get "".
        key = F.col(self.partition_col)
        (
            batch_df.filter(key.isNotNull())
            .withColumn("_bucket", F.when(key == _DEFAULT_PARTITION, F.lit("")).otherwise(key))
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(out)
        )
        fs, jvm = _fs(spark, out)
        written = {
            st.getPath().getName().split("=", 1)[1]: f"{out}/{st.getPath().getName()}"
            for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(out))
            if st.getPath().getName().startswith("_bucket=")
        }
        snapshot = {} if newest is None else self._manifest(spark, newest)
        if _DEFAULT_PARTITION in written and _DEFAULT_PARTITION in snapshot:
            self._carry_shared_directory(spark, snapshot[_DEFAULT_PARTITION], written[_DEFAULT_PARTITION])
        snapshot.update(written)

        mdir = self._manifest_dir()
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(mdir))
        tmp = jvm.org.apache.hadoop.fs.Path(f"{mdir}/.tmp-{batch_id}")
        final = jvm.org.apache.hadoop.fs.Path(f"{mdir}/v{batch_id:020d}.json")
        stream = fs.create(tmp, True)
        try:
            stream.write(json.dumps(snapshot, sort_keys=True).encode("utf-8"))
        finally:
            stream.close()
        if not fs.rename(tmp, final) and not fs.exists(final):
            raise IOError(f"manifest commit failed for batch {batch_id}")

    def _carry_shared_directory(self, spark: SparkSession, old: str, new: str) -> None:
        """Spark writes the empty key and a key spelled like its default
        partition to one directory, so a batch that wrote it for one of
        the two keys appends the other's rows from ``old``, the previous
        snapshot's directory, to ``new`` before the manifest commits."""
        col = F.col(self.partition_col)

        def keys(path: str) -> set:
            return {r[0] for r in spark.read.parquet(path).select(col).distinct().collect()}

        # a store written before null keys were dropped keeps them here
        carried = keys(old) - keys(new) - {None}
        if carried:
            spark.read.parquet(old).filter(col.isin(sorted(carried))).write.mode("append").parquet(new)

    def _version(self, spark: SparkSession, version: int) -> _Version:
        """Manifest and key index of ``version``, built once; only a
        newer version replaces the memo."""
        memo = self._memo
        if memo is not None and memo.version == version:
            return memo
        built = _Version(version, self._manifest(spark, version, self._local_root(spark)))
        with self._memo_lock:
            cur = self._memo
            if cur is None or cur.version < version:
                self._memo = built
        return built

    def is_empty(self, spark: SparkSession, version: int) -> bool:
        """True when committed ``version`` holds no key: every batch up
        to it had no row with a non-null key."""
        return not self._version(spark, version).files

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Committed snapshot ``version`` (default: the newest) of the
        serving table as a Spark frame, built once per (version,
        session).  A version that holds no key has no file to take a
        schema from, so it raises ``FileNotFoundError`` like a store
        with no commit."""
        if version is None:
            version = self.latest_version(spark)
        if version is None:
            raise FileNotFoundError(f"no committed manifest under {self.path}")
        frame = self._frame
        if frame is not None and frame[0] is spark and frame[1] == version:
            return frame[2]
        files = self._version(spark, version).files
        if not files:
            # no data file, so no schema to build a frame from
            raise FileNotFoundError(f"manifest v{version} under {self.path} holds no keys")
        df = spark.read.parquet(*sorted(set(files.values())))
        df = df.drop("_bucket") if "_bucket" in df.columns else df
        with self._memo_lock:
            cur = self._frame
            if cur is None or cur[0] is not spark or cur[1] < version:
                self._frame = (spark, version, df)
        return df

    def read_rows(
        self, spark: SparkSession, version: int, keys: Iterable[str], limit: int | None = None
    ) -> tuple[list[dict], int] | None:
        """Rows of ``keys`` in committed ``version``, read on the
        driver: at most ``limit`` keys' rows, in key order.  Returns
        (row dicts in the files' column order, number of key
        directories read), or None when the store is not on the local
        file system, or its files hold a column that is not a plain
        scalar (str, bool, int, float), whose values only Spark
        converts faithfully: read those through ``read``.

        Only the keys' part files are read, and each row is kept only
        if its key is the key its directory was picked for."""
        root = self._local_root(spark)
        if root is None:
            return None
        snap = self._version(spark, version)
        if not snap.plain:
            return None
        import pyarrow.parquet as pq  # loaded by the first driver read only

        picked = sorted((k, snap.by_key[k]) for k in set(keys) if k in snap.by_key)[:limit]
        col = self.partition_col
        rows: list[dict] = []
        for key, d in picked:
            if not d.startswith(f"{self.path}/"):
                return None  # written under another spelling of the path
            local = root + d[len(self.path):]
            for name in sorted(os.listdir(local)):
                if name[:1] in ("_", "."):
                    continue  # _SUCCESS, checksum files: not data (Spark skips them too)
                part = pq.ParquetFile(f"{local}/{name}")
                if not _plain(part.schema_arrow):
                    snap.plain = False
                    return None
                rows.extend(r for r in part.read(use_threads=False).to_pylist() if r[col] == key)
        return rows, len(picked)

    def vacuum(self, spark: SparkSession) -> list[str]:
        """Delete batch directories no current key references; returns
        the deleted paths.  Safe w.r.t. the commit protocol: the latest
        manifest is read first, so a concurrently committing batch's new
        directory is never eligible."""
        snapshot = self._latest_manifest(spark)
        live = {d.rsplit("/_bucket=", 1)[0] for d in snapshot.values()}
        data_dir = f"{self.path}/data"
        fs, jvm = _fs(spark, data_dir)
        root = jvm.org.apache.hadoop.fs.Path(data_dir)
        deleted = []
        if not fs.exists(root):
            return deleted
        for st in fs.listStatus(root):
            p = f"{data_dir}/{st.getPath().getName()}"
            if p not in live:
                fs.delete(st.getPath(), True)
                deleted.append(p)
        return deleted


def start_transactional_serving_pipeline(
    txn_stream: DataFrame,
    serving_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """T4+T5+T6 with the ACID serving store: standing aggregate →
    manifest-committed snapshots (readers always see a full batch)."""
    agg = streaming_aggregation(txn_stream)
    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(ManifestServingSink(serving_path))
        .option("checkpointLocation", checkpoint_path)
        .start()
    )


# --------------------------------------------------------------------------
# Custom stateful operator (the reference's explicit aggregator + store)
# --------------------------------------------------------------------------


def stateful_transaction_aggregate(txn_stream: DataFrame) -> DataFrame:
    """T5 as a CUSTOM stateful operator: ``applyInPandasWithState``
    with explicit per-key state — the literal analog of the reference's
    hand-written ``Initializer`` + ``Aggregator`` folding into its own
    store (``streams/KafkaStreamsService.java:38,62-74`` +
    ``store/CustomQueryStore.java``).

    The declarative ``streaming_aggregation`` is the right production
    path (Catalyst plans it, partial aggregation is automatic); this
    operator is the template for semantics the built-ins CANNOT express
    — custom eviction, conditional emission, per-key side effects.
    Emits one row per updated key per micro-batch (update-mode parity),
    plus ``updates_in_batch`` — per-update visibility the reference
    gets from cache=0.

    Scale: state lives in Spark's state store (RocksDB provider on a
    cluster), partitioned by key; each micro-batch only touches groups
    with new data, shipped to Python as Arrow batches.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fold(key, pdf_iter, state):
        buys, sells, shares = state.get if state.exists else (0.0, 0.0, 0)
        n = 0
        for pdf in pdf_iter:
            n += len(pdf)
            buys += float(pdf.loc[pdf["buy"], "amount"].sum())
            sells += float(pdf.loc[~pdf["buy"], "amount"].sum())
            shares += int(pdf["number_shares"].sum())
        state.update((buys, sells, shares))
        yield pd.DataFrame(
            [
                {
                    "symbol": key[0],
                    "buys": buys,
                    "sells": sells,
                    "number_shares": shares,
                    "updates_in_batch": n,
                }
            ]
        )

    return txn_stream.groupBy("symbol").applyInPandasWithState(
        fold,
        outputStructType="symbol string, buys double, sells double, "
        "number_shares long, updates_in_batch int",
        stateStructType="buys double, sells double, number_shares long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Changelog sink (T7)
# --------------------------------------------------------------------------


def _changelog_records(agg_stream: DataFrame) -> DataFrame:
    """T7 record shape: one (key=symbol, value=JSON aggregate) row per
    aggregate update — what the reference writes to its ``output`` topic
    (``streams/KafkaStreamsService.java:91-93``)."""
    return agg_stream.select(
        F.col("symbol").alias("key"),
        F.to_json(F.struct("symbol", "buys", "sells", "number_shares")).alias("value"),
    )


def to_kafka_changelog(agg_stream: DataFrame, bootstrap_servers: str, topic: str = "output"):
    """T7: re-emit each aggregate update to Kafka —
    ``.toStream().to(outputTopic)``.  Returns the unstarted writer."""
    return (
        _changelog_records(agg_stream).writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .outputMode("update")
    )


def memory_changelog(agg_stream: DataFrame, query_name: str) -> StreamingQuery:
    """Test analog of T7: update-mode memory sink holding the same
    (key, value) records ``to_kafka_changelog`` writes, one row per
    emitted aggregate update (the reference's `output` topic contents)."""
    return (
        _changelog_records(agg_stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )


# --------------------------------------------------------------------------
# Observation (T3 peek analog) and windowed streaming
# --------------------------------------------------------------------------


def observed(df: DataFrame, name: str = "txn_metrics"):
    """T3: the reference ``peek``s every record to log it
    (``streams/KafkaStreamsService.java:81-82,92``).  The Spark-native
    analog is ``observe`` — metrics ride the existing job (no second
    scan, no side-effect ordering hazards).  Returns (df, observation);
    read ``observation.get`` after an action (batch), or the
    ``observedMetrics`` of each progress event (streaming)."""
    from pyspark.sql import Observation

    obs = Observation(name)
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_records"),
        F.sum(F.when(F.col("buy"), 1).otherwise(0)).alias("n_buys"),
        F.round(F.sum("amount"), 2).alias("total_amount"),
    )
    return out, obs


def streaming_exact_dedup(
    doc_stream: DataFrame,
    event_time_col: str = "event_time",
    watermark: str = "1 hour",
    text_col: str = "text",
) -> DataFrame:
    """Streaming ingest dedup — the streaming analog of the batch
    ``dedup.exact_dedup`` (d1): drop records whose normalized-text
    fingerprint was already seen, with dedup state GC'd past the
    watermark (unbounded corpora need bounded state; within-watermark
    exactness is the standard contract).

    Fingerprints the same way as batch d1 (md5 of normalized text), so
    within the watermark horizon the stream's surviving FINGERPRINT SET
    equals batch d1's (the streaming path keeps the first-ARRIVING
    record per fingerprint; batch keeps the lowest-id one — the
    surviving row choice may differ even when the sets agree, and
    duplicates arriving farther apart than the watermark are not
    collapsed).  Uses
    ``dropDuplicatesWithinWatermark`` (Spark 3.5+): state per distinct
    fingerprint, evicted once the watermark passes — at 100 TB/day the
    state is bounded by the watermark horizon, not corpus size.
    """
    from kafkastreamsinteractivequeries_spark.operators.dedup import normalized_text

    if "fingerprint" in doc_stream.columns:
        # refuse to silently clobber a caller's own column: the dedup
        # state key must be OUR md5, and downstream (streaming_curation)
        # drops the column assuming it is internal
        raise ValueError(
            "input stream already has a 'fingerprint' column — rename it "
            "before streaming_exact_dedup"
        )
    fp = doc_stream.withColumn(
        "fingerprint", F.md5(normalized_text(F.col(text_col)))
    ).withWatermark(event_time_col, watermark)
    return fp.dropDuplicatesWithinWatermark(["fingerprint"])


def streaming_url_dedup(
    doc_stream: DataFrame,
    event_time_col: str = "event_time",
    watermark: str = "1 hour",
    url_col: str = "url",
) -> DataFrame:
    """Streaming URL-level dedup — the streaming analog of batch
    ``dedup.url_dedup`` and the stage a live crawl runs BEFORE text
    dedup: canonicalize every arriving URL (the full
    ``canonicalize_url_col`` chain is stateless, so it runs unchanged
    on streams) and keep the first-ARRIVING record per canonical form
    within the watermark horizon.  Same state contract as
    ``streaming_exact_dedup``: one state row per distinct canonical
    URL, GC'd past the watermark — bounded by the horizon's crawl
    volume, never the crawl's history (history-wide suppression is the
    batch ``url_dedup_incremental`` anti-join against the landed seen
    set).  The ``canonical_url`` column rides the output for that
    downstream landing."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        canonicalize_url_col,
    )

    if "canonical_url" in doc_stream.columns:
        raise ValueError(
            "input stream already has a 'canonical_url' column — rename "
            "it before streaming_url_dedup"
        )
    canon = doc_stream.withColumn(
        "canonical_url", canonicalize_url_col(F.col(url_col))
    ).withWatermark(event_time_col, watermark)
    return canon.dropDuplicatesWithinWatermark(["canonical_url"])


def stream_stream_attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    key_col: str = "user_id",
    click_ts_col: str = "ts",
    purchase_ts_col: str = "ts",
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STREAM inner join: every (click, purchase) pair for the
    same key where the purchase lands within ``horizon`` AFTER the
    click — the fully-streaming attribution join (both sides live
    streams; compare `enrich_stream_with_dimension` where one side is
    a static table and `purchase_click_attribution` for batch as-of).

    State contract: Structured Streaming buffers each side only until
    the OTHER side's watermark passes the time-range bound, so state
    is (events within watermark+horizon) per side, not the full
    streams — the shape that survives 100 TB/day.  The equi-key keeps
    the join hash-partitioned; the time-range is a residual evaluated
    during the probe.

    Emits one row per qualifying pair (a click with 3 purchases in the
    horizon emits 3 rows) — downstream policies (first-touch,
    last-touch) are a groupBy away."""
    c = clicks.withWatermark(click_ts_col, watermark).select(
        F.col(key_col).alias("_ck"),
        F.col(click_ts_col).alias("click_ts"),
        F.col("event_id").alias("click_event_id"),
        F.col("value").alias("click_value"),
    )
    p = purchases.withWatermark(purchase_ts_col, watermark).select(
        F.col(key_col).alias("_pk"),
        F.col(purchase_ts_col).alias("purchase_ts"),
        F.col("event_id").alias("purchase_event_id"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("_ck") == F.col("_pk"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        F.col("_ck").alias(key_col),
        "click_event_id",
        "click_ts",
        "click_value",
        "purchase_event_id",
        "purchase_ts",
        "purchase_value",
    )


def enrich_stream_with_dimension(
    fact_stream: DataFrame,
    dim: DataFrame,
    key_col: str,
    fact_ts_col: str = "ts",
) -> DataFrame:
    """Enrich a streaming fact with the SCD2 dimension version valid
    AT each event's timestamp — the Kappa serving twin of the batch
    ``dimensions.asof_lookup`` (driver key ``e2_scd2_asof``), reusing
    the IDENTICAL join expression as a stream-STATIC join.

    Stream-static joins are stateless in Structured Streaming (the
    static side is re-planned per micro-batch, so a dimension table
    refreshed in place — e.g. the ``scd2_merge`` output re-landed by a
    dimension pipeline — is picked up on the next batch).  The equi-key
    with the validity range as join residual keeps the probe per-row;
    at 100 TB the dimension is the small side and AQE broadcasts it
    per batch, falling back to a shuffled join when it outgrows the
    threshold."""
    from kafkastreamsinteractivequeries_spark.operators.dimensions import asof_lookup

    return asof_lookup(fact_stream, dim, key_col, fact_ts_col)


def session_streaming_aggregation(
    event_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key_col: str = "user_id",
    time_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Gap-merged session windows under Structured Streaming — the
    streaming twin of the batch ``windows.event_sessions`` (driver key
    ``q7_user_sessions``), reusing the SAME ``session_window``
    expression so batch and streaming results are definitionally
    aligned (Kappa-style parity).

    State semantics: Spark keeps one open session per (key, window)
    and MERGES sessions when a new event lands within ``gap`` of an
    open one — including events that bridge TWO previously-separate
    sessions — so cross-micro-batch session growth is handled by the
    engine, not by caller logic.  The watermark bounds state: a
    session closes (and, in append mode, emits) once the watermark
    passes its end, after which state is GC'd — at 100 TB/day the
    state size is the number of sessions OPEN within the watermark
    horizon, not the event count.

    Output mode contract: 'append' emits each session exactly once on
    close (the changelog-to-store path); 'update' re-emits a session
    every time it grows (the live-dashboard path).
    """
    from kafkastreamsinteractivequeries_spark.operators.windows import event_sessions

    return event_sessions(
        event_stream.withWatermark(time_col, watermark),
        gap=gap,
        key_col=key_col,
        time_col=time_col,
        value_col=value_col,
    )


def windowed_streaming_aggregation(
    txn_stream: DataFrame, duration: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """The windowed layer (Q5) under Structured Streaming: watermarked
    tumbling windows so late data folds in until ``watermark`` and
    state is then GC'd — the late-data handling the reference never
    had.  Same output shape as the batch ``windowed_aggregate``."""
    from kafkastreamsinteractivequeries_spark.operators.windows import windowed_aggregate

    return windowed_aggregate(
        txn_stream.withWatermark("event_time", watermark), duration
    )


def streaming_curation(
    doc_stream: DataFrame,
    min_quality: float = 0.5,
    event_time_col: str = "event_time",
    watermark: str = "1 hour",
    text_col: str = "text",
    redact: bool = True,
) -> DataFrame:
    """Streaming corpus-ingest curation: the stateless prefix of the
    batch ``curation.curate_documents`` pipeline applied as documents
    arrive — PII redaction (optional) → inline quality stats → quality
    gate → watermark-bounded exact dedup — emitting curated documents
    continuously instead of in a nightly batch job.

    Stage mapping to batch (and what does NOT carry over):

    - redaction + quality gate are pure projections, so the SAME Column
      expressions run per micro-batch with zero state;
    - exact dedup becomes ``streaming_exact_dedup`` (fingerprint state
      GC'd past the watermark — within-horizon exactness);
    - near-dup removal and the token-budget prefix sum are deliberately
      ABSENT: both are corpus-global decisions (LSH buckets over all
      docs; a global cumulative order) that have no bounded-state
      streaming form — run them as periodic batch compaction over the
      landed output, the standard lambda-style split.

    Land it with any append writer (a parquet file sink or
    ``foreachBatch``); the output schema is the input plus
    (quality_score, n_tokens).
    """
    from kafkastreamsinteractivequeries_spark.operators.text import (
        _stats_cols,
        redacted_text_col,
    )

    if redact:
        doc_stream = doc_stream.withColumn(text_col, redacted_text_col(text_col))
    gated = (
        doc_stream.select("*", *_stats_cols(text_col))
        .filter(F.col("quality_score") >= min_quality)
        .select(*doc_stream.columns, "quality_score", "n_tokens")
    )
    # drop the dedup stage's internal fingerprint column so the landed
    # schema matches the documented contract (input + quality_score,
    # n_tokens) and unions cleanly with the batch pipeline's output
    return streaming_exact_dedup(
        gated, event_time_col=event_time_col, watermark=watermark, text_col=text_col
    ).drop("fingerprint")


class _VersionedSketchSink:
    """Shared foreachBatch machinery for landed mergeable-sketch stores:
    each micro-batch computes its own sketch table from the batch rows,
    merges it with the latest committed snapshot, and writes the result
    to a NEW ``v<batch_id>`` directory.

    Why not a streaming aggregation: the sketches chain two
    aggregations (streaming-illegal in one query) — and more
    fundamentally the landed store should OUTLIVE any one query (it IS
    the sketch).  Total state is bounded by the sketch size forever,
    regardless of ingest volume.

    Commit protocol: readers resolve the highest-numbered version
    carrying parquet's ``_SUCCESS`` commit marker, so they only ever
    see complete snapshots.  A batch replay merges only snapshots
    strictly OLDER than its own id and rewrites its own directory with
    identical content (the merge is deterministic given the same input
    batch), so replays are idempotent.  Old versions are sketch-sized
    and can be vacuumed by retention.
    """

    def __init__(self, path: str):
        self.path = path.rstrip("/")

    # subclasses: batch rows → sketch table
    def _sketch(self, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    # subclasses: two sketch tables → merged sketch table
    def _merge(self, a: DataFrame, b: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _versions(self, spark: SparkSession) -> dict[int, str]:
        """{version id: directory name} of the committed snapshots."""
        out = {}
        for name in _committed_subdirs(spark, self.path, "v"):
            try:
                out[int(name[1:])] = name
            except ValueError:
                continue
        return out

    def _guarded_base(self, spark: SparkSession, store: str, batch_id: int) -> str | None:
        """Snapshot a batch merges onto: the newest committed version
        strictly below ``batch_id``, after refusing a store whose newest
        version is above it.  Without that guard a FRESH checkpoint
        (batch ids restart at 0) would overwrite the old v0, merge onto
        nothing and leave readers on the stale high-numbered snapshot —
        silent data loss with no error."""
        versions = self._versions(spark)
        _refuse_foreign_checkpoint(
            f"{store} {self.path}", "snapshot", max(versions, default=None), batch_id
        )
        ids = [v for v in versions if v < batch_id]
        return versions[max(ids)] if ids else None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = self._guarded_base(spark, "sketch store", batch_id)
        sketch = self._sketch(batch_df)
        if cur is not None:
            sketch = self._merge(spark.read.parquet(f"{self.path}/{cur}"), sketch)
        sketch.write.mode("overwrite").parquet(f"{self.path}/v{batch_id}")

    def _latest(self, spark: SparkSession) -> DataFrame:
        versions = self._versions(spark)
        if not versions:
            raise FileNotFoundError(f"no committed sketch snapshot under {self.path}")
        return spark.read.parquet(f"{self.path}/{versions[max(versions)]}")

    def vacuum(self, spark: SparkSession, keep_last: int = 2) -> int:
        """Delete committed snapshot directories older than the newest
        ``keep_last`` (≥ 1 — the merge chain only ever reads the latest,
        older versions exist purely for reader-overlap grace).  Returns
        the number of directories removed."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        versions = self._versions(spark)
        doomed = sorted(versions)[:-keep_last]
        fs, jvm = _fs(spark, self.path)
        for vid in doomed:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{self.path}/{versions[vid]}"), True)
        return len(doomed)


class _AppendOnlyCodeSink:
    """Landed ANN code store fed by a stream — the serve-while-ingesting
    half of the train-once story: each micro-batch of new vectors is
    encoded against the FROZEN quantizers (one map-only scan, broadcast
    index tables) and written to its OWN ``batch=<id>`` subdirectory.

    NOT a ``_VersionedSketchSink``: that protocol merge-rewrites the
    full snapshot per batch, which is correct for bounded-size sketches
    but O(store) per micro-batch for a code table that GROWS with the
    corpus — at 100 TB the store must only ever be appended.  Here each
    batch costs O(batch) (encode + one partition write; the store is
    never read), a replayed batch overwrites its own directory with
    identical content (codes are a pure function of vector ×
    quantizer), and readers resolve only ``_SUCCESS``-committed batch
    directories — the same commit discipline as the sketch stores,
    without the rewrite.

    Frozen-quantizer semantics as in ``similarity.append_pq_codes``:
    the landed union is bit-identical to a one-shot encode over
    everything ingested (asserted by test) regardless of how the stream
    was batched; ingest ids are unique across batches by caller
    contract (re-ingested ids are harmless for serving — identical
    codes — and are reconciled by compaction, not per batch)."""

    def __init__(self, path: str):
        self.path = path.rstrip("/")

    # subclasses: batch of vectors → code table
    def _encode(self, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # overwrite ONLY this batch's directory: replays rewrite their
        # own partition with identical content, never touch the rest
        self._encode(batch_df).write.mode("overwrite").parquet(
            f"{self.path}/batch={batch_id}"
        )

    def _committed_dirs(self, spark: SparkSession) -> list[str]:
        return [f"{self.path}/{name}" for name in _committed_subdirs(spark, self.path, "batch=")]

    def codes(self, spark: SparkSession) -> DataFrame:
        """The landed code table — the union of every committed batch
        directory; feed it to the matching ``knn_*(code_rows=...)``."""
        dirs = self._committed_dirs(spark)
        if not dirs:
            raise FileNotFoundError(f"no committed code batches under {self.path}")
        return spark.read.parquet(*dirs)

    def compact(self, spark: SparkSession, keep_last: int = 1) -> int:
        """Fold all committed batch directories EXCEPT the newest
        ``keep_last`` into one consolidated directory (named for the
        newest id it absorbs), so reader-side file/dir counts stay
        bounded under continuous ingest.  Returns the number of
        directories removed.

        Safe with the replay contract: a streaming replay only ever
        rewrites the NEWEST batch id (earlier ids re-appearing means a
        checkpoint/store mismatch — the same loud-failure reasoning as
        the sketch stores), and the newest ``keep_last`` directories
        are never touched here.  The swap itself is maintenance-grade,
        not transactional: the consolidated directory is fully written
        (with its ``_SUCCESS``) under a ``~compact`` staging name
        before any source directory is removed, so a crash leaves
        either the originals or a complete staging copy — but a READER
        enumerating during the final delete+rename window can see a
        partial union.  Run it from the maintenance cadence (like
        ``vacuum``), not concurrently with serving."""
        import re as _re

        dirs = self._committed_dirs(spark)
        # numeric order — lexicographic would put batch=10 before batch=2
        def _bid(d: str) -> int:
            m = _re.search(r"batch=(\d+)", d.rsplit("/", 1)[-1])
            return int(m.group(1)) if m else -1

        dirs = sorted(dirs, key=_bid)
        doomed = dirs[: max(0, len(dirs) - keep_last)]
        if len(doomed) < 2:
            return 0  # nothing to fold
        target = doomed[-1]
        stage = f"{target}~compact"
        fs, jvm = _fs(spark, self.path)
        hpath = jvm.org.apache.hadoop.fs.Path
        spark.read.parquet(*doomed).coalesce(
            max(1, spark.sparkContext.defaultParallelism // 4)
        ).write.mode("overwrite").parquet(stage)
        for d in doomed:
            fs.delete(hpath(d), True)
        fs.rename(hpath(stage), hpath(target))
        return len(doomed) - 1


class StreamingPqCodeSink(_AppendOnlyCodeSink):
    """``_AppendOnlyCodeSink`` for the raw-vector PQ store:
    (id, codes) rows via ``pq_codes`` against the frozen codebook;
    serve with ``knn_pq_adc(code_rows=sink.codes(spark))``."""

    def __init__(
        self,
        path: str,
        codebook: DataFrame,
        m: int = 8,
        dim: int = 64,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ):
        super().__init__(path)
        self.codebook = codebook
        self.m, self.dim = m, dim
        self.vec_col, self.id_col = vec_col, id_col

    def _encode(self, batch_df: DataFrame) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.similarity import pq_codes

        return pq_codes(
            batch_df, self.codebook, self.m, self.dim, self.vec_col, self.id_col
        )


class StreamingIvfPqCodeSink(_AppendOnlyCodeSink):
    """``_AppendOnlyCodeSink`` for the IVF-PQ residual store:
    (id, list_id, sub_id, code) rows via ``ivfpq_codes`` against the
    frozen coarse quantizer AND residual codebook; serve with
    ``knn_ivfpq(code_rows=sink.codes(spark))``."""

    def __init__(
        self,
        path: str,
        centroids: DataFrame,
        codebook: DataFrame,
        m: int = 8,
        dim: int = 64,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ):
        super().__init__(path)
        self.centroids = centroids
        self.codebook = codebook
        self.m, self.dim = m, dim
        self.vec_col, self.id_col = vec_col, id_col

    def _encode(self, batch_df: DataFrame) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.similarity import (
            ivfpq_codes,
        )

        return ivfpq_codes(
            batch_df,
            self.centroids,
            self.codebook,
            self.m,
            self.dim,
            self.vec_col,
            self.id_col,
        )


class StreamingTokenIdSink(_AppendOnlyCodeSink):
    """``_AppendOnlyCodeSink`` for TOKENIZED TRAINING DATA: each
    micro-batch of documents is segmented by the FROZEN merge list
    (``text.bpe_segment_arrow``) and mapped to integer token ids with
    the FROZEN vocabulary (``training.encode_token_ids``, EOS
    appended) — the tokenize-while-ingesting half of the token-ID
    emitter (``training.token_training_examples`` packs the landed
    ids into bins as a batch job when a training run is cut).

    Ids are a pure function of (text, merges, vocab), so the landed
    union is bit-identical to a one-shot encode over everything
    ingested regardless of batching (asserted by test) — the same
    frozen-artifact contract as the PQ code sinks."""

    def __init__(
        self,
        path: str,
        merges: list[tuple[str, str]],
        vocab: dict[str, int],
        text_col: str = "text",
        id_col: str = "doc_id",
    ):
        super().__init__(path)
        self.merges = merges
        self.vocab = vocab
        self.text_col, self.id_col = text_col, id_col

    def _encode(self, batch_df: DataFrame) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.text import (
            bpe_segment_arrow,
        )
        from kafkastreamsinteractivequeries_spark.operators.training import (
            encode_token_ids,
        )

        seg = bpe_segment_arrow(
            batch_df, self.merges, text_col=self.text_col, id_col=self.id_col
        )
        return encode_token_ids(seg, self.vocab, id_col=self.id_col)

    def token_ids(self, spark: SparkSession) -> DataFrame:
        """The landed (id, token_ids, n_ids) table (committed batches)."""
        return self.codes(spark)


class StreamingHllSink(_VersionedSketchSink):
    """Landed HLL register store: continuous distinct-count telemetry
    over the ingest stream with total state ≤ groups × 2^p rows.  The
    register max-merge IS HyperLogLog's union operator, so the landed
    store is bit-identical to ``hll_registers`` over everything ever
    ingested (asserted by test) and estimates never drift from batch."""

    def __init__(
        self,
        path: str,
        key_col: str,
        group_cols: list[str],
        p: int = 6,
    ):
        super().__init__(path)
        self.key_col = key_col
        self.group_cols = group_cols
        self.p = p

    def _sketch(self, batch_df: DataFrame) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.sketches import hll_registers

        return hll_registers(batch_df, self.key_col, self.group_cols, self.p)

    def _merge(self, a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b)
            .groupBy(*self.group_cols, "bucket")
            .agg(F.max("reg").alias("reg"))
        )

    def registers(self, spark: SparkSession) -> DataFrame:
        """The landed register table (latest committed snapshot)."""
        return self._latest(spark)

    def estimates(self, spark: SparkSession) -> DataFrame:
        """Per-group distinct estimates off the landed registers —
        identical to batch ``hll_distinct`` over all ingested data."""
        from kafkastreamsinteractivequeries_spark.operators.sketches import hll_estimate

        return hll_estimate(self.registers(spark), self.group_cols, self.p)


class StreamingQuantileSketchSink(_VersionedSketchSink):
    """Landed mergeable quantile sketch over an integer column
    (``operators.sketches.hashed_quantile_sketch``): continuous
    quantile telemetry with state ≤ ~41·k rows forever.  Each batch's
    sketch merges into the landed one by the deterministic re-thin
    (weights add per value, one closed-form re-sample under the new
    total's S) — unbiased across any number of batches, estimates
    inside the one-shot error corridor (pinned by test), and, unlike
    ``StreamingHistogramSink``, no bin grid to choose up front."""

    def __init__(self, path: str, value_col: str, k: int = 256):
        super().__init__(path)
        self.value_col = value_col
        self.k = k

    def _sketch(self, batch_df: DataFrame) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.sketches import (
            hashed_quantile_sketch,
        )

        return hashed_quantile_sketch(batch_df, self.value_col, self.k)

    def _merge(self, a: DataFrame, b: DataFrame) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.sketches import (
            merge_hashed_quantile_sketches,
        )

        return merge_hashed_quantile_sketches(a, b, self.k)

    def sketch(self, spark: SparkSession) -> DataFrame:
        """The landed (value, weight) sketch (latest snapshot)."""
        return self._latest(spark)

    def estimates(self, spark: SparkSession, percents=(25, 50, 75, 90)) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.sketches import (
            hashed_quantile_estimates,
        )

        return hashed_quantile_estimates(self.sketch(spark), percents)


class StreamingHistogramSink(_VersionedSketchSink):
    """Landed fixed-bin token-length histogram: continuous length-
    distribution telemetry with state ≤ ``bins`` rows.  Bin edges are
    data-independent constants, so per-batch histograms merge by ADDING
    counts and the landed table equals the batch histogram over
    everything ingested; quantile estimates come from
    ``text.length_histogram_quantiles``'s interpolation arithmetic
    applied to the landed counts."""

    def __init__(
        self,
        path: str,
        text_col: str = "text",
        bins: int = 64,
        lo: int = 0,
        hi: int = 512,
    ):
        super().__init__(path)
        self.text_col = text_col
        self.bins = bins
        self.lo = lo
        self.hi = hi

    def _sketch(self, batch_df: DataFrame) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.dedup import tokens_col

        width = (self.hi - self.lo) / self.bins
        n = F.size(tokens_col(F.col(self.text_col)))
        bin_col = F.least(
            F.greatest(F.floor((n - F.lit(self.lo)) / F.lit(width)), F.lit(0)),
            F.lit(self.bins - 1),
        ).cast("int")
        return batch_df.select(bin_col.alias("bin")).groupBy("bin").agg(
            F.count("*").alias("cnt")
        )

    def _merge(self, a: DataFrame, b: DataFrame) -> DataFrame:
        return a.unionByName(b).groupBy("bin").agg(F.sum("cnt").alias("cnt"))

    def histogram(self, spark: SparkSession) -> DataFrame:
        """The landed (bin, cnt) table (latest committed snapshot)."""
        return self._latest(spark)

    def quantiles(
        self, spark: SparkSession, quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95)
    ) -> DataFrame:
        """One row of interpolated quantile estimates off the landed
        counts — same arithmetic as ``length_histogram_quantiles``."""
        from pyspark.sql import Window

        width = (self.hi - self.lo) / self.bins
        cum = self.histogram(spark).withColumn(
            "cum",
            F.sum("cnt").over(
                Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
            ),
        ).withColumn("total", F.sum("cnt").over(Window.partitionBy()))
        aggs = []
        for q in quantiles:
            target = F.lit(q) * F.col("total")
            est = F.round(
                F.lit(float(self.lo))
                + F.col("bin") * F.lit(width)
                + F.lit(width) * (target - (F.col("cum") - F.col("cnt"))) / F.col("cnt"),
                4,
            )
            aggs.append(
                F.min(
                    F.when(F.col("cum") >= target, F.struct("bin", est.alias("est")))
                )["est"].alias(f"hp{int(q * 100)}")
            )
        return cum.agg(*aggs)


class StreamingGramHistogramSink(_VersionedSketchSink):
    """Landed hashed-gram histogram: continuous corpus-DISTRIBUTION
    telemetry with state ≤ ``num_buckets`` rows.  Per-batch histograms
    merge by ADDING counts, so the landed table equals
    ``text.gram_histogram`` over everything ingested — diff any two
    snapshots (or a snapshot against a reference corpus) with
    ``text.distribution_divergence_from_histograms`` for a streaming
    drift alarm that never rereads landed data."""

    def __init__(
        self,
        path: str,
        text_col: str = "text",
        num_buckets: int = 4096,
    ):
        super().__init__(path)
        self.text_col = text_col
        self.num_buckets = num_buckets

    def _sketch(self, batch_df: DataFrame) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.curation import (
            _hashed_gram_stream,
        )

        return (
            _hashed_gram_stream(batch_df, self.num_buckets, self.text_col)
            .groupBy("bucket")
            .agg(F.count("*").alias("cnt"))
        )

    def _merge(self, a: DataFrame, b: DataFrame) -> DataFrame:
        return a.unionByName(b).groupBy("bucket").agg(F.sum("cnt").alias("cnt"))

    def histogram(self, spark: SparkSession) -> DataFrame:
        """The landed (bucket, cnt) table (latest committed snapshot)."""
        return self._latest(spark)

    def divergence_from(
        self, spark: SparkSession, reference: DataFrame, top_k: int = 20
    ) -> DataFrame:
        """Drift of the landed distribution vs a reference (bucket, cnt)
        histogram — ``distribution_divergence_from_histograms`` with the
        landed side as corpus A."""
        from kafkastreamsinteractivequeries_spark.operators.text import (
            distribution_divergence_from_histograms,
        )

        return distribution_divergence_from_histograms(
            self.histogram(spark), reference, self.num_buckets, top_k
        )


class StreamingCmsSink(_VersionedSketchSink):
    """Landed count-min counter store: continuous frequency telemetry
    with total state ≤ depth × width rows.  Counters merge by ADDITION
    (the CMS union operator — contrast HLL's max-merge), so the landed
    table equals ``cms_counters`` over everything ever ingested and
    point queries via ``cms_estimate`` never drift from batch."""

    def __init__(
        self,
        path: str,
        key_col: str,
        depth: int = 4,
        width: int = 1024,
    ):
        super().__init__(path)
        self.key_col = key_col
        self.depth = depth
        self.width = width

    def _sketch(self, batch_df: DataFrame) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.sketches import cms_counters

        return cms_counters(batch_df, self.key_col, self.depth, self.width)

    def _merge(self, a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b)
            .groupBy("row", "col")
            .agg(F.sum("cnt").alias("cnt"))
        )

    def counters(self, spark: SparkSession) -> DataFrame:
        """The landed counter table (latest committed snapshot)."""
        return self._latest(spark)

    def estimates(self, probes: DataFrame, probe_col: str) -> DataFrame:
        """Point-query the landed counters for ``probes`` — identical
        to batch ``cms_estimate`` over all ingested data."""
        from kafkastreamsinteractivequeries_spark.operators.sketches import cms_estimate

        return cms_estimate(
            self.counters(probes.sparkSession), probes, probe_col,
            self.depth, self.width,
        )


class StreamingRollupSink(_VersionedSketchSink):
    """Landed mergeable-partial-aggregate store — the streaming half of
    ``operators/rollup.py`` and the 100 TB form of the reference's T6
    materialization: each micro-batch's ``partial_aggregate`` state
    folds into the landed store by monoid merge (``merge_partials`` at
    the same grain), so after N batches the store is IDENTICAL to
    partials computed over everything ever ingested (asserted by test,
    exact for counts/min/max, decimal-exact for decimal sums).  Total
    state is groups × fine-grain buckets, independent of ingest volume;
    any coarser-grain report (day/month/all-time, mean/variance via
    ``finalize``) reads only the latest snapshot."""

    def __init__(
        self,
        path: str,
        keys: list[str],
        time_col: str,
        grain: str,
        measures: dict[str, list[str]],
    ):
        super().__init__(path)
        self.keys = keys
        self.time_col = time_col
        self.grain = grain
        self.measures = measures

    def _sketch(self, batch_df: DataFrame) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.rollup import (
            partial_aggregate,
        )

        return partial_aggregate(
            batch_df, self.keys, self.time_col, self.grain, self.measures
        )

    def _merge(self, a: DataFrame, b: DataFrame) -> DataFrame:
        from kafkastreamsinteractivequeries_spark.operators.rollup import (
            merge_partials,
        )

        # same-grain merge: date_trunc(grain) over grain-aligned buckets
        # is the identity, so this is the pure monoid fold
        return merge_partials(a.unionByName(b), self.keys, grain=self.grain)

    def partials(self, spark: SparkSession) -> DataFrame:
        """The landed fine-grain partials (latest committed snapshot)."""
        return self._latest(spark)

    def report(
        self,
        spark: SparkSession,
        grain: str | None = None,
        mean_of: list[str] | None = None,
        var_of: list[str] | None = None,
    ) -> DataFrame:
        """Coarser-grain readout over the landed store only: merge to
        ``grain`` (None = all-time) and derive mean/variance."""
        from kafkastreamsinteractivequeries_spark.operators.rollup import (
            finalize,
            merge_partials,
        )

        return finalize(
            merge_partials(self.partials(spark), self.keys, grain=grain),
            mean_of=mean_of,
            var_of=var_of,
        )


class StreamingNearDupFilter(_VersionedSketchSink):
    """Cross-batch streaming NEAR-dup gate (the fuzzy sibling of
    ``streaming_exact_dedup`` / the streaming form of batch
    ``exact_dedup_incremental``): each micro-batch drops documents that
    are MinHash near-duplicates of any LANDED survivor from earlier
    batches or of a lower-id document in the same batch, writes the
    survivors to ``out_path/b<batch_id>``, and appends their
    signature/bucket rows to the versioned landed store — the
    "dedup the incoming crawl against the corpus we already kept"
    production loop.

    Cross-batch verification uses the MinHash component-agreement
    estimate (matching signature fraction ≥ threshold — the standard
    unbiased Jaccard estimator), so only 16-hash signatures persist:
    no shingle payloads ever land or cross batches, keeping the store
    a skinny (doc, band, sig) table.  Within-batch candidates come
    from the same band-bucket equi-join as batch LSH (d4/d5).

    Scale shape: the batch side is micro-batch-sized; the landed join
    is keyed by (band_id, band_hash), so with the store bucketed on
    band_hash only colliding buckets are read.  Store growth is one
    row per surviving doc per band — linear in the KEPT corpus, the
    same asymptotics as any landed dedup index.

    Commit protocol and replay idempotency are inherited from the
    versioned-store machinery: survivors land in per-batch directories
    rewritten wholesale on replay, and the store merge only reads
    snapshots strictly older than the incoming batch id.
    """

    def __init__(
        self,
        store_path: str,
        out_path: str,
        threshold: float = 0.8,
        num_hashes: int = 16,
        bands: int = 4,
        shingle_n: int = 3,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        super().__init__(store_path)
        self.out_path = out_path.rstrip("/")
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.bands = bands
        self.rows_per_band = num_hashes // bands
        self.shingle_n = shingle_n
        self.id_col = id_col
        self.text_col = text_col

    def _est(self, a, b):
        """Estimated Jaccard: fraction of agreeing minhash components."""
        return F.size(
            F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda m: m)
        ) / F.lit(float(self.num_hashes))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from kafkastreamsinteractivequeries_spark.operators.dedup import (
            lsh_band_buckets,
            minhash_signatures,
        )

        spark = batch_df.sparkSession
        cur = self._guarded_base(spark, "near-dup store", batch_id)
        # signatures pinned once: read by the intra-batch pair join
        # (twice), the landed probe, and the store append
        sigs = (
            minhash_signatures(
                batch_df.select(self.id_col, self.text_col),
                self.text_col,
                self.id_col,
                self.num_hashes,
                self.shingle_n,
            )
            .drop("shingles")
            .localCheckpoint()
        )
        buckets = lsh_band_buckets(
            sigs, self.bands, self.rows_per_band, self.id_col, carry=("minhash",)
        )
        a = buckets.select(
            F.col(self.id_col).alias("_ida"),
            F.col("minhash").alias("_ma"),
            "band_id",
            "band_hash",
        )
        b = buckets.select(
            F.col(self.id_col).alias("_idb"),
            F.col("minhash").alias("_mb"),
            "band_id",
            "band_hash",
        )
        intra = (
            a.join(b, ["band_id", "band_hash"])
            .filter(F.col("_ida") < F.col("_idb"))
            .select("_ida", "_idb", "_ma", "_mb")
            .distinct()
            .filter(self._est(F.col("_ma"), F.col("_mb")) >= self.threshold)
            .select(F.col("_idb").alias(self.id_col))
            .distinct()
        )
        if cur is not None:
            landed = spark.read.parquet(f"{self.path}/{cur}")
            cross = (
                buckets.join(
                    landed.select(
                        "band_id", "band_hash", F.col("minhash").alias("_mb")
                    ),
                    ["band_id", "band_hash"],
                )
                .select(self.id_col, "minhash", "_mb")
                .distinct()
                .filter(self._est(F.col("minhash"), F.col("_mb")) >= self.threshold)
                .select(self.id_col)
                .distinct()
            )
            dropped = intra.unionByName(cross).distinct()
        else:
            dropped = intra
        survivors = batch_df.join(dropped, self.id_col, "left_anti")
        survivors.write.mode("overwrite").parquet(f"{self.out_path}/b{batch_id}")
        new_rows = buckets.join(dropped, self.id_col, "left_anti")
        if cur is not None:
            new_rows = spark.read.parquet(f"{self.path}/{cur}").unionByName(new_rows)
        new_rows.write.mode("overwrite").parquet(f"{self.path}/v{batch_id}")

    def survivors(self, spark: SparkSession) -> DataFrame:
        """Everything kept so far: the union of committed per-batch
        survivor directories."""
        dirs = [f"{self.out_path}/{name}" for name in _committed_subdirs(spark, self.out_path, "b")]
        if not dirs:
            raise FileNotFoundError(f"no committed survivor batches under {self.out_path}")
        return spark.read.parquet(*dirs)
