"""End-to-end training-data curation pipeline (north-star flagship):
quality gate → exact dedup → near-dup removal → token-budget packing,
composed from the text / dedup operator suites.

This is the query a 100 TB pre-training data pipeline actually runs.
Every stage is a DataFrame→DataFrame transform:

1. quality gate     — ``text.text_stats`` score ≥ threshold (map-only)
2. exact dedup      — fingerprint window, keep lowest id
3. near-dup removal — ``dedup.weighted_near_duplicates`` pairs; the
   higher id of each verified pair is dropped (keep-lowest policy; a
   full transitive-closure variant would iterate connected components —
   deliberately out of scope for one pass)
4. token budget     — keep docs in id order until the cumulative token
   count reaches the budget (how corpora are cut to a token target)

Stage 4 needs a global prefix sum.  A bare ``SUM() OVER (ORDER BY id)``
collapses to ONE partition in Spark — fine at demo scale, fatal at
100 TB — so ``cumulative_sum`` implements the scalable two-phase form:
range-partition by id, per-partition partial sums (one tiny row per
partition to the driver), broadcast offsets back, then a partition-local
window.  Same result, bounded driver traffic, full parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from kafkastreamsinteractivequeries_spark.operators.dedup import (
    exact_dedup,
    weighted_near_duplicates,
)
from kafkastreamsinteractivequeries_spark.sources.tables import spread


def cumulative_sum(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    out_col: str = "cum_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Scalable prefix sum of ``weight_col`` in ``order_col`` order.

    Two-phase: bucket rows into contiguous ranges of the (numeric)
    order column — ranges derived arithmetically from min/max, NOT via
    ``repartitionByRange`` (whose sampled boundaries can differ between
    the offsets job and the final query, silently mis-assigning rows) —
    compute each bucket's total (one row per bucket collected to the
    driver; bounded by bucket count, not data size), then add the
    exclusive prefix offset to a bucket-local running sum.  Equivalent
    to ``SUM(w) OVER (ORDER BY o ROWS UNBOUNDED PRECEDING)`` without
    the single-partition bottleneck."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    lo, hi = df.agg(F.min(order_col), F.max(order_col)).collect()[0]
    if lo is None:  # empty input
        return df.withColumn(out_col, F.lit(None).cast("long"))
    chunk = max(1, (int(hi) - int(lo)) // n + 1)
    parted = df.withColumn(
        "_pid", F.floor((F.col(order_col) - F.lit(int(lo))) / F.lit(chunk)).cast("int")
    ).repartition(n, "_pid")
    totals = (
        parted.groupBy("_pid").agg(F.sum(weight_col).alias("_t")).orderBy("_pid").collect()
    )
    offsets = []
    acc = 0
    for r in totals:
        offsets.append((int(r["_pid"]), acc))
        acc += r["_t"] or 0
    # Offsets go back as a tiny broadcast-joined table, NOT a literal
    # per-bucket CASE chain: with thousands of buckets (any real
    # cluster) a CASE chain is a thousands-deep expression tree — slow
    # codegen, 64KB-method splits — while a broadcast hash join on _pid
    # is O(1) expression depth at any bucket count.
    offsets_df = df.sparkSession.createDataFrame(offsets, "_pid int, _offset long")
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        parted.join(F.broadcast(offsets_df), "_pid", "left")
        .withColumn(
            out_col,
            (F.sum(weight_col).over(w) + F.coalesce(F.col("_offset"), F.lit(0))).cast("long"),
        )
        .drop("_pid", "_offset")
    )


def curate_documents(
    docs: DataFrame,
    min_quality: float = 0.5,
    near_dup_threshold: float = 0.8,
    token_budget: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    decontaminate_against: DataFrame | None = None,
    decontaminate_n: int = 13,
    decontaminate_embeddings: tuple[DataFrame, DataFrame] | None = None,
    embedding_threshold: float = 0.9,
    redact: bool = False,
    url_col: str | None = None,
    robots: DataFrame | None = None,
    robots_agent: str = "*",
    host_max_docs: int | None = None,
    host_max_dup_permille: int | None = None,
) -> DataFrame:
    """The composed pipeline; returns surviving docs with
    (quality_score, n_tokens, cum_tokens) provenance columns.

    Optional stages (both default OFF, keeping the base pipeline's
    output stable):

    - ``decontaminate_against=eval_df`` inserts a benchmark-
      decontamination gate between the quality gate and dedup: docs
      sharing any ``decontaminate_n``-gram with the eval set are
      dropped via ``text.ngram_decontaminate`` (broadcast eval grams —
      a map-side filter at corpus scale).
    - ``redact=True`` scrubs PII (``text.pii_stats`` patterns) from the
      text BEFORE fingerprinting/near-dup, so two docs differing only
      in a contact line dedup together and no PII reaches the packed
      output.
    - ``decontaminate_embeddings=(doc_vectors, eval_vectors)`` adds the
      SEMANTIC decontamination gate next to the n-gram one:
      ``doc_vectors`` carries (id_col-matching vec_id, embedding) for
      the corpus, ``eval_vectors`` (eval_id, embedding) for the
      benchmark; docs whose vector reaches ``embedding_threshold``
      cosine against any eval vector are dropped
      (``similarity.embedding_decontaminate`` — broadcast eval side,
      zero corpus shuffle, catches paraphrases n-grams miss).
    - ``url_col='url'`` runs URL-level dedup FIRST (the C4/RefinedWeb
      stage order: two fetches of one canonical URL are the same page
      regardless of text mutations, so they must collapse before any
      text-based gate sees them): only ``dedup.url_dedup`` keepers
      enter the pipeline, via a broadcast-friendly skinny-id semi join.
    - ``robots=robots_df`` (requires ``url_col``; a (host, robots_txt)
      table) drops URLs the host's robots rules disallow for
      ``robots_agent`` BEFORE anything else — the crawl-order rule: a
      page robots forbids should never even be fetched, let alone
      curated.  ``dedup.robots_rules`` + ``robots_allowed``; the rule
      table is skinny-per-host and broadcast-friendly.
    - ``host_max_docs`` / ``host_max_dup_permille`` (requires
      ``url_col``) apply the RefinedWeb-style host gate next: every doc
      of a flooding or mirror host drops via one anti join against the
      one-row-per-host ``dedup.host_gate`` decision table.
    """
    # The stats are pure row maps over (id, text) — compute them inline
    # on the corpus scan instead of joining text_stats back on id (a
    # full corpus shuffle join for columns the scan can produce itself).
    from kafkastreamsinteractivequeries_spark.operators.text import (
        _stats_cols,
        contaminated_ids,
        redacted_text_col,
    )

    if robots is not None or host_max_docs is not None or (
        host_max_dup_permille is not None
    ):
        if url_col is None:
            raise ValueError(
                "robots / host-gate stages require url_col to be set"
            )

    if url_col is not None:
        from kafkastreamsinteractivequeries_spark.operators.dedup import (
            host_gate,
            robots_allowed,
            robots_rules,
            url_dedup,
            url_host_col,
            url_path_col,
        )

        if robots is not None:
            rules = robots_rules(robots, agent=robots_agent)
            probes = docs.select(
                F.col(id_col),
                url_host_col(F.col(url_col)).alias("host"),
                url_path_col(F.col(url_col)).alias("path"),
            )
            verdicts = robots_allowed(probes, rules)
            ok_ids = (
                probes.join(verdicts, ["host", "path"])
                .filter(F.col("allowed") == 1)
                .select(id_col)
            )
            docs = docs.join(ok_ids, id_col, "left_semi")
        if host_max_docs is not None or host_max_dup_permille is not None:
            blocked = host_gate(
                docs.select(id_col, F.col(url_col).alias("url")),
                max_docs_per_host=(
                    host_max_docs if host_max_docs is not None else 1 << 62
                ),
                max_dup_permille=(
                    host_max_dup_permille
                    if host_max_dup_permille is not None
                    else 1001
                ),
            ).filter(F.col("blocked") == 1).select("host")
            docs = docs.join(
                F.broadcast(blocked),
                url_host_col(F.col(url_col)) == blocked["host"],
                "left_anti",
            )
        keepers = url_dedup(docs, url_col=url_col, id_col=id_col).select(id_col)
        docs = docs.join(keepers, id_col, "left_semi")

    if redact:
        docs = docs.withColumn(text_col, redacted_text_col(text_col))

    gated = (
        spread(docs)
        .select("*", *_stats_cols(text_col))
        .filter(F.col("quality_score") >= min_quality)
        .select(*docs.columns, "quality_score", "n_tokens")
    )
    if decontaminate_against is not None:
        # pin the gated subtree (it feeds both the gram stream and the
        # anti-join probe side), and gate on the bad-id set directly —
        # ngram_decontaminate's per-doc counts + clean-doc restore join
        # would re-execute scan→stats→gate a third time for output this
        # stage immediately discards
        gated = gated.localCheckpoint(eager=False)
        bad = contaminated_ids(
            gated, decontaminate_against, n=decontaminate_n,
            text_col=text_col, id_col=id_col,
        )
        gated = gated.join(bad, id_col, "left_anti")
    if decontaminate_embeddings is not None:
        from kafkastreamsinteractivequeries_spark.operators.similarity import (
            embedding_decontaminate,
        )

        doc_vecs, eval_vecs = decontaminate_embeddings
        bad_sem = (
            embedding_decontaminate(
                doc_vecs, eval_vecs, threshold=embedding_threshold
            )
            .select(F.col("vec_id").alias(id_col))
            .distinct()
        )
        gated = gated.join(bad_sem, id_col, "left_anti")
    # The near-dup stage references `deduped` several times (minhash
    # signatures, token counts, the survivor anti-join), and each
    # reference would otherwise re-execute the scan→stats→gate→dedup
    # prefix.  Checkpoint the stage boundary so that prefix runs once —
    # measured 7.6 s → 4.3 s for the composed pipeline at sf0.1; at
    # cluster scale this is the "land the gated corpus in a stage
    # table" pattern (executor-local storage, not the driver).
    deduped = exact_dedup(gated, text_col, id_col).localCheckpoint(eager=False)
    pairs = weighted_near_duplicates(deduped, text_col, id_col, near_dup_threshold)
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    survivors = deduped.join(drop, id_col, "left_anti")
    # The prefix sum needs multiple passes (bounds, bucket totals, the
    # final read); checkpoint the survivor set so the quality/dedup/
    # near-dup prefix executes once instead of once per pass.  Local
    # checkpoint blocks are cleaned with the DataFrame's lifetime; at
    # cluster scale you would land survivors in a checkpoint table and
    # resume from it.
    survivors = survivors.localCheckpoint(eager=False)
    out = cumulative_sum(survivors, id_col, "n_tokens", "cum_tokens")
    if token_budget is not None:
        out = out.filter(F.col("cum_tokens") <= token_budget)
    return out.select(
        id_col, "lang", "source", "n_chars", "quality_score", "n_tokens", "cum_tokens"
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sequence packing for pre-training: lay documents end-to-end in
    id order and chunk the token stream into fixed ``seq_len`` bins
    (the concat-then-chunk scheme) — each doc gets its global start
    offset, owning bin, and in-bin offset; a doc may straddle bins.

    Built on ``cumulative_sum``, so the layout is computed with the
    scalable two-phase prefix sum — no single-partition window — and is
    deterministic for a fixed corpus.  NULL text counts as a 0-token
    doc (same degrade convention as the no-straddle variant)."""
    from kafkastreamsinteractivequeries_spark.operators.text import tokens_col

    with_n = docs.select(
        F.col(id_col),
        F.greatest(
            F.coalesce(F.size(tokens_col(F.col(text_col))), F.lit(0)), F.lit(0)
        ).alias("n_tokens"),
    )
    cum = cumulative_sum(with_n, id_col, "n_tokens", "cum_tokens")
    start = (F.col("cum_tokens") - F.col("n_tokens")).cast("long")
    return cum.select(
        id_col,
        "n_tokens",
        start.alias("start_token"),
        F.floor(start / F.lit(seq_len)).cast("long").alias("bin_id"),
        (start % seq_len).cast("long").alias("offset_in_bin"),
    )


def pack_sequences_no_straddle(
    docs: DataFrame,
    seq_len: int = 2048,
    shards: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """NO-STRADDLE sequence packing: each document lands WHOLE in one
    bin (next-fit in id order), the contamination-free layout for
    pre-training where attention must not see a neighbor's tokens
    across a bin boundary (Krell et al. arXiv:2107.02027 — straddling
    forces either cross-document attention or mid-document truncation).

    Output: (id, n_tokens, shard, bin_id, offset_in_bin, oversize) —
    ``bin_id`` is per-shard; a doc longer than ``seq_len`` gets a bin
    alone with ``oversize = true`` (route those to ``chunk_documents``).

    Scale shape: bin boundaries depend on the running remainder, so the
    fill is inherently sequential — the distributed form shards docs
    deterministically (``id % shards``) and runs next-fit PER SHARD in
    one Arrow batch (state = one integer), exactly the partition-local
    pattern of ``connected_components_local``.  One shuffle on the
    shard id; task size bounded by corpus/shards; deterministic and
    engine-replayable (the oracle replays next-fit as a recursive CTE).
    Raise ``shards`` with corpus size — packing quality is unaffected
    because bins never span shards by construction.

    ``n_tokens_col`` names a PRECOMPUTED length column to pack on
    instead of tokenizing ``text_col`` — the path for items whose
    packed length isn't their whitespace token count (rendered
    conversations with template overhead, pre-tokenized corpora)."""
    from kafkastreamsinteractivequeries_spark.operators.text import tokens_col

    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    # NULL text counts as a 0-token doc (it consumes no bin capacity
    # and never opens a bin) — degrade, never crash the Arrow fill
    # with a NaN (adversarial-input convention)
    length = (
        F.col(n_tokens_col).cast("int")
        if n_tokens_col is not None
        else F.size(tokens_col(F.col(text_col)))
    )
    with_n = docs.select(
        F.col(id_col),
        F.greatest(F.coalesce(length, F.lit(0)), F.lit(0)).alias("n_tokens"),
        (F.col(id_col) % shards).cast("int").alias("shard"),
    )
    schema = (
        f"{id_col} long, n_tokens int, shard int, bin_id long, "
        "offset_in_bin long, oversize boolean"
    )

    def pack(key, pdf):
        import pandas as pd

        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bins, offs, ovs = [], [], []
        bin_id, used, first = 0, 0, True
        for n in pdf["n_tokens"]:
            n = int(n)
            if not first and used + n > seq_len:
                bin_id += 1
                used = 0
            first = False
            bins.append(bin_id)
            offs.append(used)
            ovs.append(n > seq_len)
            used += n
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "n_tokens": pdf["n_tokens"],
                "shard": pdf["shard"],
                "bin_id": bins,
                "offset_in_bin": offs,
                "oversize": ovs,
            }
        )

    return with_n.groupBy("shard").applyInPandas(pack, schema)


def stratified_sample(
    docs: DataFrame,
    stratum_col: str = "source",
    per_stratum: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sample: keep up to ``per_stratum`` docs
    per stratum, chosen by md5(doc_id) order (a stable shuffle — no
    rand(), so the sample is reproducible across runs/engines and only
    grows monotonically as a stratum grows).

    One shuffle on the stratum; per-stratum ranking sorts only that
    stratum's rows.  Heavily skewed strata → rank with
    ``top_k_per_key_two_phase`` instead (same ordering key)."""
    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_stratum)
        .drop("_rn")
    )


def resolve_duplicate_groups(
    docs: DataFrame,
    near_dup_threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    groups: DataFrame | None = None,
) -> DataFrame:
    """Keep the BEST document per transitive near-dup group (highest
    quality score, lowest id on ties) instead of the curation
    pipeline's keep-lowest-id policy — the standard refinement when
    near-duplicates differ in quality (e.g. one copy is truncated or
    boilerplate-ridden).

    Composition: ``dedup.near_duplicate_groups`` (connected
    components) → inline quality stats → per-group ``max_by`` struct
    argmax.  Docs in no group survive untouched.  Shuffle profile: the
    group table is (id, group_id) — skinny — and the final winner join
    is id-only; document payloads move once, in the last semi join.

    ``groups``: optional precomputed ``(id, group_id)`` table (the
    ``dedup.near_duplicate_groups`` output, typically pinned) — when a
    caller also needs the groups elsewhere (``leakage_safe_split``
    shares the same components), passing them avoids re-running the
    whole LSH + connected-components pipeline.
    """
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        near_duplicate_groups,
    )
    from kafkastreamsinteractivequeries_spark.operators.text import _stats_cols

    if groups is None:
        groups = near_duplicate_groups(docs, text_col, id_col, near_dup_threshold)
    scored = spread(docs).select(
        F.col(id_col), *[c for c in _stats_cols(text_col)]
    ).select(id_col, "quality_score")
    member = groups.join(scored, id_col)
    winners = member.groupBy("group_id").agg(
        F.max_by(
            F.col(id_col),
            F.struct(F.col("quality_score"), -F.col(id_col)),
        ).alias(id_col)
    ).select(id_col)
    grouped_ids = groups.select(id_col)
    ungrouped = docs.join(grouped_ids, id_col, "left_anti")
    kept_dups = docs.join(winners, id_col, "left_semi")
    return ungrouped.unionByName(kept_dups)


def sample_mixture(
    docs: DataFrame,
    weights: dict[str, float],
    total: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic mixture sampling: draw ``total`` documents with
    per-stratum quotas proportional to ``weights`` (the data-mixture
    step of pre-training corpus assembly — e.g. 70% web / 20% code /
    10% reference).  Selection within a stratum is md5(id) order, so
    the sample is reproducible across runs and engines and grows
    monotonically with the corpus.

    Strata absent from ``weights`` contribute nothing; quotas round
    down (the sample may be slightly under ``total``).  One shuffle on
    the stratum; skewed strata rank only their own rows.
    """
    wsum = float(sum(weights.values()))
    quotas = {s: int(total * w / wsum) for s, w in weights.items()}
    return mixture_by_quota(docs, quotas, stratum_col, id_col)


def mixture_by_quota(
    docs: DataFrame,
    quotas: dict[str, int],
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Draw exactly ``quotas[s]`` documents from each stratum ``s`` in
    md5(id) order — the shared selection core of ``sample_mixture`` and
    ``temperature_mixture``.  One shuffle on the stratum; strata absent
    from ``quotas`` contribute nothing."""
    quota_df = docs.sparkSession.createDataFrame(
        list(quotas.items()), f"{stratum_col} string, _quota long"
    )
    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        docs.join(F.broadcast(quota_df), stratum_col)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("_quota"))
        .drop("_rn", "_quota")
    )


def temperature_mixture(
    docs: DataFrame,
    total: int,
    alpha: float = 0.5,
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """α-temperature mixture sampling (mT5 §3.1, arXiv:2010.11934; the
    Pile's source weighting): stratum weights ∝ count^α, so α = 1 is
    proportional, α = 0 uniform, and α ≈ 0.3–0.7 upsamples rare strata
    relative to their natural share — the standard correction for
    head-heavy pre-training corpora.

    Determinism contract: weights are ``floor(count^α)`` (an exact
    integer both engines compute identically — ``pow`` is within
    1 ulp and only perfect powers land on integers, where it is exact)
    and quotas are pure integer arithmetic ``total·w_s // Σw``, so
    quota boundaries can never flip on floating-point summation order.
    Selection inherits ``mixture_by_quota``'s md5(id) order.

    Scale shape: one tiny groupBy (rows = #strata) collected to the
    driver — bounded by contract like centroid tables — then the single
    stratum-window shuffle of the quota core.
    """
    counts = {
        r[0]: r[1]
        for r in docs.groupBy(stratum_col).count().collect()
        if r[0] is not None
    }
    weights = {s: int(c**alpha) for s, c in sorted(counts.items())}
    wsum = sum(weights.values())
    quotas = {s: total * w // wsum for s, w in weights.items()}
    return mixture_by_quota(docs, quotas, stratum_col, id_col)


def leakage_safe_split(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    near_dup_threshold: float = 0.8,
    train_pct: int = 90,
    val_pct: int = 5,
    groups: DataFrame | None = None,
) -> DataFrame:
    """Train/val/test assignment that near-duplicates CANNOT straddle:
    the split hash is computed on the doc's near-dup GROUP id (its own
    id when it has no near-dups), so a benchmark answer paraphrased in
    three training docs lands every copy on the same side — the split-
    leakage failure mode a per-doc hash cannot prevent (two near-dup
    docs hash independently and end up in train AND test).

    Output: (id, group_id, bucket, split) — same bucket/split semantics
    as ``text.deterministic_split`` and equally stable across runs and
    corpus growth (group ids are component-MIN doc ids, so adding docs
    never moves an existing group unless it genuinely merges).

    Scale shape: the near-dup group computation is d10's (bucketed LSH
    pairs → star connected components); the split itself is one
    broadcast-size-agnostic join on ``id_col`` plus a pure hash
    projection.

    ``groups``: optional precomputed ``(id, group_id)`` table — same
    sharing contract as ``resolve_duplicate_groups``.
    """
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        near_duplicate_groups,
    )
    from kafkastreamsinteractivequeries_spark.operators.text import _split_cols

    if groups is None:
        groups = near_duplicate_groups(docs, text_col, id_col, near_dup_threshold)
    with_group = (
        docs.select(id_col)
        .join(groups, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("group_id"), F.col(id_col)).alias("group_id"),
        )
    )
    return with_group.select(id_col, "group_id", *_split_cols("group_id", train_pct, val_pct))


# --------------------------------------------------------------------------
# DSIR — importance-weighted data selection
# --------------------------------------------------------------------------


def _hashed_gram_stream(
    docs: DataFrame,
    num_buckets: int,
    text_col: str,
    id_col: str | None = None,
) -> DataFrame:
    """Exploded hashed-ngram feature stream: one row per word unigram +
    bigram occurrence, bucketed to ``num_buckets`` via the low hex
    digits of md5 (bit-identical in Spark and DuckDB, so the oracle can
    replay the exact feature map).  Pure Column expressions + one
    explode — no Python, no join."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import tokens_col

    hex_digits = max(1, (num_buckets - 1).bit_length() // 4 + (1 if (num_buckets - 1).bit_length() % 4 else 0))
    # materialize the token array BEFORE the bigram lambda slices it —
    # subexpression elimination doesn't reach inside higher-order
    # lambdas, so slicing the raw split() expression re-runs
    # normalize+split per bigram (~10x the whole stream's cost).
    tok_docs = docs.select(
        *([F.col(id_col)] if id_col else []),
        tokens_col(F.col(text_col)).alias("_toks"),
    )
    toks = F.col("_toks")
    bis = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    cols = ([F.col(id_col)] if id_col else []) + [
        F.explode(F.concat(toks, bis)).alias("gram")
    ]
    bucket = (
        F.conv(F.substring(F.md5(F.col("gram")), 33 - hex_digits, hex_digits), 16, 10)
        .cast("int")
        % num_buckets
    )
    return tok_docs.select(*cols).select(
        *([id_col] if id_col else []), bucket.alias("bucket")
    )


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    num_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    raw_stream: DataFrame | None = None,
    target_stream: DataFrame | None = None,
    target_ids: DataFrame | None = None,
    raw_bucket_counts: DataFrame | None = None,
) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for Language
    Models via Importance Resampling", arXiv:2302.03169): score every
    raw-corpus document by how target-like its hashed-ngram profile is,
    ``log_weight`` = Σ_grams ln(p_target[bucket] / p_raw[bucket]) under
    add-1-smoothed bucket unigram models.  The standard recipe for
    "find me 10 B web tokens that look like Wikipedia" selection.

    Output: (id, n_grams, log_weight) — log_weight rounded to 6 places
    for cross-engine comparison; rank on (rounded weight, id) for a
    deterministic selection.

    Scale shape: the target model and both bucket tables are ≤
    ``num_buckets`` rows (bounded aggregates); the raw gram stream is
    scanned twice (once for its own bucket distribution, once for
    scoring) but each pass is map-side explode + broadcast join + one
    keyed aggregate — nothing corpus-sized ever shuffles except the
    final per-doc sum, and at 100 TB the raw distribution pass can run
    on a sample without changing this function's contract (pass the
    sample as ``raw`` to a first call and reuse its λ table).

    ``raw_stream`` / ``target_stream``: optional pre-built (and
    typically pinned) hashed-gram streams — the shared-scan convention
    (``minhash_signatures``'s ``tokens_df``).  ``raw_stream`` must be
    ``_hashed_gram_stream(raw, num_buckets, text_col, id_col)``-shaped
    (``id_col``, ``bucket``); ``target_stream`` needs only ``bucket``
    rows.  The raw stream is consumed TWICE (its own bucket
    distribution + scoring), so a caller that pins it saves a full
    tokenize+explode pass of the corpus.

    ``target_ids``: when the target corpus is a SUBSET of ``raw`` (one
    ``id_col`` row per target doc) and ``raw_stream`` is supplied, both
    bucket distributions fuse into ONE pass over the raw stream (a
    broadcast membership flag + one aggregate with a conditional
    count) instead of two — value-identical because the target gram
    multiset IS the target-doc rows of the raw stream.  Mutually
    exclusive with ``target_stream``.

    ``raw_bucket_counts``: optional pre-aggregated (``id_col``, bucket,
    ``_c``) per-doc-per-bucket count table (typically pinned, shared
    with ``_classifier_features`` — the x6 fused-scan contract) used in
    place of ``raw_stream``'s exploded rows: every sum/count weights by
    ``_c`` instead of scanning one row per gram occurrence.  Counts are
    integers so the distributions are value-identical; log_weight's
    float sum is regrouped (Σ over buckets of c·λ instead of Σ over
    occurrences of λ), the same class of reordering a distributed sum
    already performs — the 6-decimal round absorbs it (oracle-verified).
    Requires ``target_ids``.
    """
    b = F.lit(num_buckets)
    if target_ids is not None:
        if raw_bucket_counts is not None:
            stream, cnt = raw_bucket_counts, F.col("_c")
        elif raw_stream is not None:
            stream, cnt = raw_stream, F.lit(1)
        else:
            raise ValueError(
                "target_ids needs raw_stream/raw_bucket_counts and "
                "excludes target_stream"
            )
        if target_stream is not None:
            raise ValueError(
                "target_ids needs raw_stream and excludes target_stream"
            )
        flag = target_ids.select(
            F.col(id_col), F.lit(1).alias("_tgt")
        )
        bc = (
            stream.join(F.broadcast(flag), id_col, "left")
            .groupBy("bucket")
            .agg(
                F.sum(cnt).alias("cr"),
                F.sum(
                    F.when(F.col("_tgt").isNotNull(), cnt).otherwise(F.lit(0))
                ).alias("ct"),
            )
        )
        totals = bc.agg(
            F.sum("ct").alias("nt"), F.sum("cr").alias("nr")
        )
        lam = bc.crossJoin(F.broadcast(totals)).select(
            "bucket",
            (
                F.log((F.col("ct") + 1) / (F.col("nt") + b))
                - F.log((F.col("cr") + 1) / (F.col("nr") + b))
            ).alias("lam"),
        )
        return (
            stream.join(F.broadcast(lam), "bucket")
            .groupBy(id_col)
            .agg(
                F.sum(cnt).cast("long").alias("n_grams"),
                F.round(F.sum(cnt * F.col("lam")), 6).alias("log_weight"),
            )
        )
    tgt_stream = (
        target_stream
        if target_stream is not None
        else _hashed_gram_stream(target, num_buckets, text_col)
    )
    tgt = tgt_stream.groupBy("bucket").agg(F.count("*").alias("ct"))
    if raw_stream is None:
        raw_stream = _hashed_gram_stream(spread(raw), num_buckets, text_col, id_col)
    rawc = raw_stream.groupBy("bucket").agg(F.count("*").alias("cr"))
    totals = tgt.agg(F.sum("ct").alias("nt")).crossJoin(
        rawc.agg(F.sum("cr").alias("nr"))
    )
    lam = (
        tgt.join(rawc, "bucket", "full")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1) / (F.col("nt") + b))
                - F.log((F.coalesce(F.col("cr"), F.lit(0)) + 1) / (F.col("nr") + b))
            ).alias("lam"),
        )
    )
    return (
        raw_stream.join(F.broadcast(lam), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.round(F.sum("lam"), 6).alias("log_weight"),
        )
    )


def dsir_train_model(
    raw_sample: DataFrame,
    target: DataFrame,
    num_buckets: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """The frozen DSIR model: (bucket, lam) log-ratio table, ≤
    ``num_buckets`` rows — train once on a target set + a raw SAMPLE,
    persist/broadcast, score any amount of data with
    ``dsir_score_with_model``.  This split is the 100 TB deployment
    shape (the paper fits its bucket models on samples too): the full
    corpus never contributes to the model pass, only to scoring.
    """
    b = F.lit(num_buckets)
    tgt = _hashed_gram_stream(target, num_buckets, text_col).groupBy("bucket").agg(
        F.count("*").alias("ct")
    )
    rawc = (
        _hashed_gram_stream(raw_sample, num_buckets, text_col)
        .groupBy("bucket")
        .agg(F.count("*").alias("cr"))
    )
    totals = tgt.agg(F.sum("ct").alias("nt")).crossJoin(
        rawc.agg(F.sum("cr").alias("nr"))
    )
    return (
        tgt.join(rawc, "bucket", "full")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1) / (F.col("nt") + b))
                - F.log((F.coalesce(F.col("cr"), F.lit(0)) + 1) / (F.col("nr") + b))
            ).alias("lam"),
        )
    )


def dsir_score_with_model(
    docs: DataFrame,
    model: DataFrame,
    num_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents against a frozen DSIR model (``dsir_train_model``
    output): gram explode → broadcast λ join → per-doc sum.  Stateless
    except the final keyed aggregate, so it runs unchanged on a
    Structured Streaming frame (per-doc rows never split across
    micro-batches; use ``update`` output mode) — the continuous-ingest
    quality gate."""
    stream = _hashed_gram_stream(docs, num_buckets, text_col, id_col)
    return (
        stream.join(F.broadcast(model), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.round(F.sum("lam"), 6).alias("log_weight"),
        )
    )


def _classifier_features(
    docs: DataFrame,
    num_buckets: int,
    text_col: str,
    id_col: str,
    feature_scale: float,
    gram_stream: DataFrame | None = None,
    bucket_counts: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, bucket, x): tf-normalized hashed unigram+bigram features
    plus a constant bias feature at bucket -1 — the fastText input
    layer, shared by training and scoring so the two can never skew.

    Features are L2-NORMALIZED per document (x = cnt / ||cnt||₂,
    times ``feature_scale``): with unit-norm rows the logistic Hessian
    eigenvalues are bounded by ~(scale² + 1)/4, so full-batch GD is
    stable at lr ≈ 1 — tf (L1) normalization was measured to either
    freeze the bucket weights (bias 200× the feature magnitude) or
    oscillate when rescaled, while the L2 form separates monotonically."""
    # NOT pinned: both consumers (the L2-norm aggregate and the norm
    # join) hang off the same (id, bucket) aggregate exchange, which
    # ReuseExchange already dedups — an explicit localCheckpoint was
    # measured SLOWER (1.56 -> 1.85 s at sf0.1) than the shared
    # shuffle read.
    # ``bucket_counts``: optional pre-aggregated (id, bucket, _c) table
    # (typically pinned and shared with the DSIR passes — the x6
    # fused-scan contract); skips this function's own gram groupBy.
    if bucket_counts is not None:
        counts = bucket_counts.select(F.col(id_col), "bucket", "_c")
    else:
        if gram_stream is None:
            gram_stream = _hashed_gram_stream(docs, num_buckets, text_col, id_col)
        counts = gram_stream.groupBy(id_col, "bucket").agg(
            F.count("*").alias("_c")
        )
    tot = counts.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("_c") * F.col("_c"))).alias("_n")
    )
    # shuffle_hash: both sides are already doc-keyed aggregates — the
    # norm join needs no sort, and the doc-id partitioning it creates
    # is exactly what training's per-doc score aggregate reuses.
    feat = counts.join(tot.hint("shuffle_hash"), id_col).select(
        id_col,
        "bucket",
        F.round(
            F.lit(feature_scale) * F.col("_c").cast("double") / F.col("_n"), 6
        ).alias("x"),
    )
    bias = docs.select(
        F.col(id_col), F.lit(-1).alias("bucket"), F.lit(1.0).alias("x")
    )
    return feat.unionByName(bias)


def _pround(col: F.Column, d: int) -> F.Column:
    """Portable round: snap at d+6 decimals first so distributed
    sum-order noise (~1e-15) can't leave the value on the wrong side
    of a d-decimal half-boundary — the classifier's rounded-grid
    inputs make sums land EXACTLY on such boundaries (measured: one
    doc's score flipped 0.453247 vs 0.453246 between engines)."""
    return F.round(F.round(col, d + 6), d)


def quality_classifier_train(
    docs: DataFrame,
    label_col: str,
    num_buckets: int = 1024,
    iterations: int = 3,
    lr: float = 1.0,
    feature_scale: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """fastText-style linear quality classifier — logistic regression
    over tf-normalized hashed unigram+bigram features (Joulin et al.
    arXiv:1607.01759 is the public model shape), trained by full-batch
    gradient descent entirely in DataFrame ops so a SQL oracle can
    replay the trajectory step-for-step (the same contract as
    ``ivf_train``'s Lloyd rounds and ``bpe_train``'s merges).

    Returns the frozen model: ``(bucket, w)`` with the bias at bucket
    -1 — at most ``num_buckets + 1`` rows at ANY corpus size, so the
    model broadcasts everywhere; score any amount of data (or a
    stream) with ``quality_classifier_score``.

    Portability: per iteration the per-doc score is rounded to 6, the
    sigmoid to 6, and the per-bucket gradient AND weights to 9 decimals
    (the same grid, so the weight update never sits on a rounding
    half-boundary) — distributed double-sum ordering and engine libm
    ulps cannot drift the replayed trajectory.

    Scale (the DSIR deployment split): train on a labeled SAMPLE —
    model quality needs thousands of docs, not the corpus — then score
    the full 100 TB with the frozen table.  Per iteration the cost is
    one broadcast model join, one per-doc aggregate (co-partitioned
    with the pinned feature stream), and one per-bucket aggregate: two
    linear shuffles, no step proportional to iterations × corpus
    re-tokenization (features are computed once and pinned)."""
    feats = (
        _classifier_features(
            spread(docs), num_buckets, text_col, id_col, feature_scale
        )
        .repartition(F.col(id_col))
        .localCheckpoint(eager=False)
    )
    labels = docs.select(
        F.col(id_col), F.col(label_col).cast("double").alias("_y")
    ).localCheckpoint(eager=False)
    n_docs = labels.count()
    spark = docs.sparkSession
    w = spark.createDataFrame([], "bucket int, w double")
    for _ in range(iterations):
        scored = (
            feats.join(F.broadcast(w), "bucket", "left")
            .groupBy(id_col)
            .agg(
                _pround(
                    F.sum(F.col("x") * F.coalesce(F.col("w"), F.lit(0.0))), 6
                ).alias("_s")
            )
        )
        err = scored.join(labels.hint("shuffle_hash"), id_col).select(
            F.col(id_col),
            (
                _pround(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("_s"))), 6)
                - F.col("_y")
            ).alias("_e"),
        )
        grad = (
            feats.join(err.hint("shuffle_hash"), id_col)
            .groupBy("bucket")
            .agg(
                _pround(
                    F.sum(F.col("x") * F.col("_e")) / F.lit(float(n_docs)), 9
                ).alias("_g")
            )
        )
        w = (
            grad.join(w, "bucket", "full")
            .select(
                "bucket",
                # w lives on the SAME 1e-9 grid as the gradient: rounding
                # to 8 put w_old - grad exactly on 1e-8 half-boundaries
                # (grad's 9th decimal = 5), where Spark's exact-decimal
                # HALF_UP and DuckDB's scaled-double round diverge —
                # 24/859 weights flipped by 1e-8 at sf0.1.  On-grid
                # rounding is knife-edge-free (the nearest half is 5e-10
                # away, far beyond double ulp).  With lr = 1 the update
                # stays on-grid; other lr values should keep lr·grad on
                # a decimal grid coarser than 1e-9 for the same reason.
                _pround(
                    F.coalesce(F.col("w"), F.lit(0.0))
                    - F.lit(lr) * F.coalesce(F.col("_g"), F.lit(0.0)),
                    9,
                ).alias("w"),
            )
            .localCheckpoint(eager=False)
        )
    return w


def quality_classifier_score(
    docs: DataFrame,
    model: DataFrame,
    num_buckets: int = 1024,
    feature_scale: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_stream: DataFrame | None = None,
    bucket_counts: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, score, prob): documents scored against a frozen
    classifier — gram explode → tf features → broadcast model join →
    per-doc sum + sigmoid.  ``gram_stream``: optional pre-built hashed-
    gram stream (``id_col``, ``bucket``) — pass a pinned one when other
    passes over the same corpus already built it.  ``bucket_counts``:
    optional pre-aggregated (``id_col``, bucket, ``_c``) count table,
    one step further (skips the gram groupBy too — the x6 fused-scan
    contract).  Scoring is a PER-DOC pure function of
    (text, model), so on a stream apply it inside ``foreachBatch`` —
    micro-batch boundaries cannot change any doc's probability (a
    direct streaming plan is not possible: the L2 feature norm needs
    two chained keyed aggregates, which Structured Streaming forbids).
    ``num_buckets`` and ``feature_scale`` must match the training
    call."""
    feats = _classifier_features(
        docs, num_buckets, text_col, id_col, feature_scale, gram_stream,
        bucket_counts,
    )
    # fixed-point dot product: each term snapped to pico-units and
    # summed as LONGS, so the score is independent of summation order —
    # _pround's 12-decimal snap was not enough when the true sum sits
    # exactly on a 7-decimal half-boundary (observed at sf0.1:
    # -0.248201 vs -0.2482 between engines).  Terms are O(1), docs have
    # O(100) grams, so the long sum stays far below 2^53 and the /1e12
    # readout is exact.
    # no final ROUND: the pico sum is already on a 1e-12 grid and one
    # IEEE division is bit-identical across engines, while ROUND(x, 6)
    # mechanics differ exactly at half-boundaries (Spark exact-decimal
    # HALF_UP vs DuckDB scaled-double truncation)
    term = F.round(
        F.col("x") * F.coalesce(F.col("w"), F.lit(0.0)) * F.lit(1e12)
    ).cast("long")
    s = F.sum(term) / F.lit(1e12)
    return (
        feats.join(F.broadcast(model), "bucket", "left")
        .groupBy(id_col)
        .agg(s.alias("score"))
        .select(
            id_col,
            "score",
            _pround(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("score"))), 6
            ).alias("prob"),
        )
    )


def weighted_sample(
    docs: DataFrame,
    n: int = 50,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis & Spirakis 2006, "Weighted random sampling with a
    reservoir" — public): each row gets priority ``ln(u) / w`` with
    ``u`` a per-row uniform and ``w`` its positive weight; the ``n``
    LARGEST priorities are an exact weight-proportional sample.

    ``u`` derives from the first 12 hex digits of ``md5(id)`` (exact
    in a double: 16^12 < 2^53), NOT from ``rand()`` — the sample is
    reproducible across runs, engines, and partitionings, and an
    engine-independent oracle can replay it verbatim.

    Scale: priority is a map-only expression; selection is a global
    top-k (``TakeOrderedAndProject``: per-partition heaps of ``n``
    rows, then one ``n``-row merge on the driver side of the exchange)
    — never a full sort, never a shuffle of the corpus.  Zero-weight /
    null-weight rows are excluded (their priority would be -inf).
    """
    hex12 = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10)
    u = (hex12.cast("double") + F.lit(0.5)) / F.lit(float(16**12))
    pri = F.log(u) / F.col(weight_col).cast("double")
    return (
        docs.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("_pri", pri)
        .orderBy(F.col("_pri").desc(), F.col(id_col))
        .limit(n)
        .drop("_pri")
    )
