"""Similarity search over embedding columns (``array<float>``).

North-star extension (BASELINE.json): approximate-nearest-neighbor
over embeddings — brute-force cosine top-k as the exact baseline, and a
signed-random-projection (SRP) LSH path for scale.

Portability: the SRP hyperplanes are generated at plan-build time from
md5 (``hashlib``, driver-side) and embedded as ±1 literal arrays, so
the DuckDB oracle can embed the *same* planes — bucketing matches
bit-for-bit.  All vector math is cast to double and folded
sequentially, identical in both engines.

Scale design:
- ``knn_bruteforce``: the query set is broadcast (typically ≪ corpus);
  one scan of the corpus computes all query×vector scores map-side,
  then a per-query top-k window.  At 100 TB this is the right exact
  plan: no corpus shuffle at all — only top-k rows move.
- ``srp`` path: corpus is bucketed by LSH band; a query only scores
  vectors sharing a band — candidate count drops by ~bands/2^band_bits.
  The bucket join shuffles on (band_id, band_bits), AQE handles skew.
- Python never touches vector math (higher-order functions only).
  For very high dims or huge query sets, a block-matrix pandas_udf
  (numpy GEMM per partition) is the escape hatch — not needed here.
"""

from __future__ import annotations

import hashlib
import logging
import math

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kafkastreamsinteractivequeries_spark.sources.tables import spread

logger = logging.getLogger(__name__)


def srp_sign_matrix(num_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix from md5("p:j") parity —
    reproducible in any engine / language."""
    return [
        [1 if hashlib.md5(f"{p}:{j}".encode()).digest()[0] % 2 == 0 else -1 for j in range(dim)]
        for p in range(num_planes)
    ]


def srp_planes_for(
    corpus_size: int,
    chunks: int = 4,
    target_bucket_size: int = 256,
    min_band_bits: int = 4,
    max_band_bits: int = 24,
) -> int:
    """Pick ``num_planes`` so expected SRP bucket occupancy stays flat as
    the corpus grows.

    Band cardinality is 2^band_bits, so a FIXED plane count means bucket
    size — and the quadratic per-bucket pair join — grows linearly with
    the corpus (the round-1 scale bug: 16 planes / 4-bit bands grew 27×
    at a 16× corpus, SCALING.md).  Choosing
    ``band_bits = ceil(log2(n / target_bucket_size))`` keeps expected
    occupancy ≈ ``target_bucket_size`` at any n: pair-join cost grows
    ~linearly, and the ``max_bucket_size`` cap stops silently binding.

    ``max_band_bits=24`` (16.7M bucket values/band) holds the target up
    to n ≈ 4×10⁹ vectors; plane-code cost grows only as
    chunks × band_bits per row.
    """
    bits = math.ceil(math.log2(max(1.0, corpus_size / target_bucket_size)))
    bits = min(max(bits, min_band_bits), max_band_bits)
    return bits * chunks


_PLANES_CACHE: dict[tuple[int, int], F.Column] = {}


def _planes_literal(num_planes: int, dim: int) -> F.Column:
    """The SRP plane matrix as ONE array<array<double>> literal Column,
    memoized per shape — ``F.lit`` on the nested list is a single
    Python→JVM call vs 2048 per-element ``F.lit``/``F.array`` calls."""
    key = (num_planes, dim)
    if key not in _PLANES_CACHE:
        signs = srp_sign_matrix(num_planes, dim)
        _PLANES_CACHE[key] = F.lit([[float(s) for s in row] for row in signs])
    return _PLANES_CACHE[key]


def dot_expr(a: F.Column, b: F.Column) -> F.Column:
    """<a, b> — double-cast sequential fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(v: F.Column) -> F.Column:
    """L2 norm, double-cast sequential fold."""
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_expr(a: F.Column, b: F.Column) -> F.Column:
    """Cosine similarity of two float arrays, all-double sequential fold.

    Per-pair cost is dot + both norms; the verify paths below instead
    hoist ``norm_expr`` into per-vector projections UNDER the join (so
    each vector's norm is computed once, not once per candidate pair)
    and combine with ``cosine_from_parts`` — same operations, same
    float results, ~3× less per-pair work.
    """
    # try_divide: a zero-norm vector yields NULL cosine instead of an
    # ANSI DIVIDE_BY_ZERO error; callers drop NULLs from rankings.
    return _nan_to_null(F.try_divide(dot_expr(a, b), norm_expr(a) * norm_expr(b)))


def _nan_to_null(c: F.Column) -> F.Column:
    """NaN → NULL.  Spark ORDERS NaN greater than every value, so a
    NaN cosine (from a NaN embedding component) would pass every
    ``>= threshold`` verify filter AND rank FIRST in every kNN top-k —
    one corrupt vector becomes a false near-duplicate of its whole
    bucket.  As NULL it falls out of the existing isNotNull guards and
    null-last orderings instead."""
    return F.when(F.isnan(c), F.lit(None).cast("double")).otherwise(c)


def cosine_from_parts(a: F.Column, b: F.Column, norm_a: F.Column, norm_b: F.Column) -> F.Column:
    """dot(a,b)/(‖a‖·‖b‖) with precomputed norms — bit-identical to
    ``cosine_expr`` (same op sequence, norms merely hoisted)."""
    return _nan_to_null(F.try_divide(dot_expr(a, b), norm_a * norm_b))


def eval_once(c: F.Column) -> F.Column:
    """Value-identical pushdown barrier for an EXPENSIVE per-row
    expression a downstream filter references: shuffling a ONE-element
    array is the identity, so the value is bit-exactly ``c`` (-0.0 and
    NaN included — no arithmetic touches it), but shuffle's
    nondeterministic marker stops the optimizer inlining the filter
    into a join condition — which re-evaluates the wrapped expression
    per candidate row SEVERAL times (read the d6/s4 formatted plans:
    the 64-element cosine fold appeared four times in the join
    condition plus twice in the project).  The integer-sum variants
    apply ``shuffle`` across their piece arrays directly
    (``jaccard_verify``, ``hamming_distance_bits``); double sums are
    order-SENSITIVE in the last bits, so reordering is not
    value-preserving there — the 1-element form is the float-safe
    barrier.  (An always-true ``rand() >= -1`` guard does NOT work:
    the optimizer knows rand's bounds and folds the conditional away.)
    """
    return F.element_at(F.shuffle(F.array(c)), 1)


def srp_codes(
    embeddings: DataFrame,
    num_planes: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, code): SRP bit-code — bit p = 1 iff <vec, plane_p> > 0.

    The plane matrix is ONE nested array literal and the per-plane dot
    products run inside a single ``transform`` loop: one compact
    expression regardless of ``num_planes``.  (The first cut built
    ``num_planes`` separate fold expressions; at 32 planes that cost
    ~1.9s of per-evaluation planning/codegen vs 0.19s for this form —
    identical output bits.)

    The literal Column itself is MEMOIZED per (num_planes, dim):
    constructing it element-by-element is 2048 Python→JVM round-trips
    (~1.5 s per call — s4 was paying it three times per run: self-join
    codes, decon corpus codes, decon eval codes), while ``F.lit`` on
    the nested list is one call and Columns are immutable expression
    wrappers, safe to reuse across queries.  Measured 1.74 → 0.29 s
    per srp_codes evaluation at sf0.1.
    """
    embeddings = spread(embeddings)  # parallelize the plane dot-products
    planes = _planes_literal(num_planes, dim)
    code = F.array_join(
        F.transform(
            planes,
            lambda p: F.when(
                F.aggregate(
                    F.zip_with(F.col(vec_col), p, lambda x, s: x.cast("double") * s),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                > 0,
                F.lit("1"),
            ).otherwise("0"),
        ),
        "",
    )
    return embeddings.select(F.col(id_col), code.alias("code"))


def srp_band_buckets(
    codes: DataFrame, chunks: int = 4, id_col: str = "vec_id"
) -> DataFrame:
    """(id, band_id, band_bits): code split into equal bit-chunks
    (caller keeps num_planes % chunks == 0)."""
    return codes.select(
        id_col,
        F.explode(
            F.expr(
                f"transform(sequence(0, {chunks - 1}), c -> "
                f"struct(c as band_id, substring(code, c * (length(code) div {chunks}) + 1, "
                f"length(code) div {chunks}) as band_bits))"
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_bits")


def knn_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    (query_id, vec_id, cosine, rank) — rank on rounded cosine with
    vec_id tie-break for cross-engine determinism.  The query side is
    broadcast; the corpus is scanned once.

    ``exclude_self=True`` (default) drops rows where the corpus id
    equals the query id — correct when query ids ARE corpus ids (the
    "find neighbors of these corpus members" use).  For out-of-corpus
    queries whose ids could coincidentally collide with corpus ids,
    pass ``exclude_self=False`` or a legitimate neighbor is silently
    dropped.
    """
    corpus = spread(embeddings).select(
        id_col, vec_col, norm_expr(F.col(vec_col)).alias("_na")
    )
    qn = queries.select("*", norm_expr(F.col(query_vec_col)).alias("_nb"))
    scored = corpus.join(F.broadcast(qn))
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    cos = F.round(
        cosine_from_parts(F.col(vec_col), F.col(query_vec_col), F.col("_na"), F.col("_nb")), 6
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("cosine", eval_once(cos))
        .filter(F.col("cosine").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def knn_srp(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 48,
    chunks: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing ≥1 SRP band
    with the query (the 100 TB path — candidate set shrinks by the
    band collision rate instead of scanning everything).

    Defaults (48 planes / 16 3-bit bands) are RECALL-TUNED to the
    ≥0.95 recall@10 floor on the synthetic uniform-sphere corpus — the
    hardest case, since true neighbors sit at weak cosines where band
    collisions are rare (measured 0.97–0.99 across sf0.001/0.01/0.1,
    SCALING.md; the old 16/4 default measured 0.43–0.47).  Clustered
    real-world embeddings reach the floor with fewer bands; tighten
    ``chunks`` first when tuning cost down, and keep band BITS
    (num_planes/chunks) growing with the corpus via ``srp_planes_for``.

    ``exclude_self``: as in ``knn_bruteforce`` — disable for
    out-of-corpus queries whose ids may collide with corpus ids.

    ``code_rows``: a pre-landed ``pq_codes`` table (id, codes) — the
    deployment shape where codes land once at ingest (``encode_all``);
    when given, the per-query encode scan is skipped.  When None, codes
    derive inline (same values)."""
    corpus_codes = srp_codes(embeddings, num_planes, dim, vec_col, id_col)
    corpus_buckets = srp_band_buckets(corpus_codes, chunks, id_col)
    qcodes = srp_codes(
        queries.withColumnRenamed(query_vec_col, "embedding").withColumnRenamed(
            query_id_col, "vec_id"
        ),
        num_planes,
        dim,
    )
    q_buckets = srp_band_buckets(qcodes, chunks).withColumnsRenamed(
        {"vec_id": query_id_col}
    )
    cand = (
        corpus_buckets.join(q_buckets, ["band_id", "band_bits"])
        .select(id_col, query_id_col)
        .distinct()
    )
    scored = (
        cand.join(
            embeddings.select(
                id_col, vec_col, norm_expr(F.col(vec_col)).alias("_na")
            ).hint("shuffle_hash"),
            id_col,
        )
        .join(
            F.broadcast(queries.select("*", norm_expr(F.col(query_vec_col)).alias("_nb"))),
            query_id_col,
        )
    )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    cos = F.round(
        cosine_from_parts(F.col(vec_col), F.col(query_vec_col), F.col("_na"), F.col("_nb")), 6
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("cosine", eval_once(cos))
        .filter(F.col("cosine").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.9,
    num_planes: int | None = None,
    chunks: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """(id_a, id_b, cosine ≥ threshold) among pairs sharing ≥1 SRP band
    — the embedding-space near-dup detector (approximate by design;
    recall rises with num_planes/chunks).

    ``num_planes=None`` (default) auto-sizes band bits to the corpus via
    ``srp_planes_for`` (one cheap parquet-metadata count), keeping
    expected bucket occupancy flat as the corpus grows — without it a
    fixed band cardinality makes bucket sizes, and the quadratic
    per-bucket pair join, grow linearly with n (27× time at a 16×
    corpus in round 1, SCALING.md).

    ``max_bucket_size`` (default 4096) is the backstop cap on the
    quadratic join for adversarially skewed buckets.  The dropped-row
    fraction is retrievable via ``dropped_bucket_stats(result)`` (one
    small bucket-size agg job, run only on demand); a nonzero fraction
    is logged as a recall warning when retrieved.
    """
    # Corpus size is needed only for auto-sizing and the occupancy
    # routing heuristic — compute it lazily so a fully-pinned call
    # (num_planes set, max_bucket_size=None) never pays the count job
    # (cheap on parquet metadata, a real scan on other sources).
    _n: list[int | None] = [None]

    def corpus_n() -> int:
        if _n[0] is None:
            _n[0] = embeddings.count()
        return _n[0]

    if num_planes is None:
        num_planes = srp_planes_for(corpus_n(), chunks)
        logger.info(
            "embedding_near_duplicates auto-sized: corpus=%d -> %d planes (%d-bit bands)",
            corpus_n(), num_planes, num_planes // chunks,
        )
    codes = srp_codes(embeddings, num_planes, dim, vec_col, id_col)
    # The buckets table feeds BOTH sides of the self-join plus the
    # bucket-size agg — localCheckpoint materializes the (id, band)
    # rows once so the planes×dim code projection runs one time over
    # the corpus, not three.  The checkpointed table is chunks small
    # rows per vector, far cheaper to store than to recompute.
    buckets = srp_band_buckets(codes, chunks, id_col).localCheckpoint(eager=False)
    stats_fn = None
    if max_bucket_size is not None:
        sizes = buckets.groupBy("band_id", "band_bits").agg(F.count("*").alias("_n"))

        def stats_fn(sizes=sizes, cap=max_bucket_size):
            # one small agg job over bucket sizes (codes + explode +
            # partial agg; no quadratic join) — run only when asked
            row = sizes.agg(
                F.coalesce(
                    F.sum(F.when(F.col("_n") > cap, F.col("_n"))), F.lit(0)
                ).alias("dropped_rows"),
                F.coalesce(F.sum("_n"), F.lit(0)).alias("total_rows"),
            ).collect()[0]
            return int(row.dropped_rows), int(row.total_rows)

        # Strategy by EXPECTED OCCUPANCY n / 2^band_bits (both shapes
        # produce identical pairs; both measured, SCALING.md): chunky
        # buckets (auto-sized corpora hold ~target_bucket_size=256) →
        # equi-self-join, whose probe emission is two bare longs/row —
        # at a 16× corpus: join 2.4 s vs expand 13 s for the same 18M
        # pairs.  Sparse buckets (small corpus under a pinned plane
        # count) → group+expand, which skips the join's second
        # bucket-table shuffle.
        from kafkastreamsinteractivequeries_spark.operators.dedup import (
            bucket_self_join_pairs,
            pairs_within_buckets,
        )

        occupancy = corpus_n() / float(2 ** (num_planes // chunks))
        if occupancy <= 64:
            cand = pairs_within_buckets(
                buckets, ["band_id", "band_bits"], F.col(id_col), max_bucket_size
            ).withColumnsRenamed({"_a": "id_a", "_b": "id_b"})
        else:
            cand = bucket_self_join_pairs(
                buckets, ["band_id", "band_bits"], id_col, max_bucket_size
            )
    else:
        a = buckets.withColumnRenamed(id_col, "id_a")
        b = buckets.withColumnRenamed(id_col, "id_b")
        cand = (
            a.join(b, ["band_id", "band_bits"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    ea = embeddings.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        norm_expr(F.col(vec_col)).alias("_na"),
    )
    eb = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        norm_expr(F.col(vec_col)).alias("_nb"),
    )
    cos = F.round(
        cosine_from_parts(F.col("vec_a"), F.col("vec_b"), F.col("_na"), F.col("_nb")), 6
    )
    # shuffle_hash (not broadcast): the embedding side grows with the
    # corpus; the pair list must not be driver-collected either.
    out = (
        cand.join(ea.hint("shuffle_hash"), "id_a")
        .join(eb.hint("shuffle_hash"), "id_b")
        # eval_once: the threshold filter otherwise inlines the
        # 64-element fold into the join condition (4 evals per pair)
        .withColumn("cosine", eval_once(cos))
        .filter(F.col("cosine").isNotNull() & (F.col("cosine") >= threshold))
        .select("id_a", "id_b", "cosine")
    )
    out._dropped_bucket_stats_fn = stats_fn  # read via dropped_bucket_stats()
    return out


def embedding_decontaminate(
    embeddings: DataFrame,
    eval_embeddings: DataFrame,
    threshold: float = 0.9,
    num_planes: int = 32,
    chunks: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    eval_id_col: str = "eval_id",
) -> DataFrame:
    """(vec_id, eval_id, cosine): training-corpus vectors semantically
    near an EVAL-set vector — the embedding-space complement of the
    n-gram benchmark-decontamination gate (``text.ngram_decontaminate``
    catches verbatim/near-verbatim leakage; this catches paraphrases
    and translations that share no surface n-grams).

    Scale shape — bipartite, not the s4 self-join: both sides get SRP
    band codes from the SAME plane matrix, but the eval side is tiny
    relative to the corpus (benchmarks are KBs–MBs of text), so its
    bucket table BROADCASTS and candidate generation is a map-side join
    against the corpus's code projection — the training corpus is
    scanned once and never shuffled, and there is no quadratic bucket
    pair join at all.  Recall scales with num_planes/chunks exactly as
    in ``embedding_near_duplicates`` (band collision probability for
    cosine ≥ threshold pairs); raise ``num_planes`` for tighter bands
    on giant corpora, or lower it to widen the candidate net.

    Use ``corpus.join(result.select(id_col).distinct(), id_col,
    "left_anti")`` to drop contaminated rows (the same anti-join stage
    ``curation.curate_documents`` uses for the n-gram gate).
    """
    corpus_buckets = srp_band_buckets(
        srp_codes(embeddings, num_planes, dim, vec_col, id_col), chunks, id_col
    )
    eval_buckets = srp_band_buckets(
        srp_codes(
            eval_embeddings.withColumnsRenamed(
                {eval_id_col: "vec_id", **({vec_col: "embedding"} if vec_col != "embedding" else {})}
            ),
            num_planes,
            dim,
        ),
        chunks,
    ).withColumnRenamed("vec_id", eval_id_col)
    cand = (
        corpus_buckets.join(F.broadcast(eval_buckets), ["band_id", "band_bits"])
        .select(id_col, eval_id_col)
        .distinct()
    )
    ct = embeddings.select(
        id_col, F.col(vec_col).alias("_va"), norm_expr(F.col(vec_col)).alias("_na")
    )
    et = eval_embeddings.select(
        F.col(eval_id_col),
        F.col(vec_col).alias("_vb"),
        norm_expr(F.col(vec_col)).alias("_nb"),
    )
    cos = F.round(
        cosine_from_parts(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")), 6
    )
    return (
        cand.join(ct.hint("shuffle_hash"), id_col)
        .join(F.broadcast(et), eval_id_col)
        .withColumn("cosine", eval_once(cos))
        .filter(F.col("cosine").isNotNull() & (F.col("cosine") >= threshold))
        .select(id_col, eval_id_col, "cosine")
    )


def dropped_bucket_stats(result: DataFrame) -> dict[str, float] | None:
    """Dropped-bucket telemetry for an ``embedding_near_duplicates``
    result: ``{"dropped_rows", "total_rows", "fraction"}``.

    Runs one small aggregation job over the bucket-size table (the cheap
    pre-quadratic part of the plan).  Returns ``None`` when the cap was
    disabled.  Logs a recall warning when any bucket was dropped, so
    cap-induced recall decay is visible instead of silent.
    """
    fn = getattr(result, "_dropped_bucket_stats_fn", None)
    if fn is None:
        return None
    dropped, total = fn()
    frac = (dropped / total) if total else 0.0
    if dropped:
        logger.warning(
            "embedding_near_duplicates: %d/%d bucket rows (%.2f%%) exceeded "
            "max_bucket_size and were dropped — recall is reduced; raise "
            "num_planes (band bits) for this corpus size",
            dropped, total, 100.0 * frac,
        )
    return {"dropped_rows": dropped, "total_rows": total, "fraction": frac}


def recall_at_k(
    exact: DataFrame,
    approx: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> float:
    """recall@k of an approximate kNN result against the exact one:
    |approx top-k ∩ exact top-k| / |exact top-k|, averaged over all
    queries (both inputs are (query_id, vec_id, …, rank) frames as
    produced by the ``knn_*`` functions).

    This is the regression surface for the ANN paths — every tuned
    default (srp num_planes, ivf nprobe, pq m/k) is pinned to a stated
    floor by ``tests/test_similarity.py::test_ann_recall_floor`` and
    the table in SCALING.md.  Two bounded aggregate jobs (counts), no
    driver-side per-row work.
    """
    e = exact.filter(F.col("rank") <= k).select(query_id_col, id_col)
    a = approx.filter(F.col("rank") <= k).select(query_id_col, id_col)
    denom = e.count()
    if denom == 0:
        return 1.0
    hits = e.join(a, [query_id_col, id_col], "left_semi").count()
    return hits / denom


def recall_at_k_per_query(
    exact: DataFrame,
    approx: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query recall@k as a DataFrame — the distributed,
    driver-verifiable form of ``recall_at_k`` (which collects one
    averaged scalar): |approx top-k ∩ exact top-k| / |exact top-k| per
    query, rounded to 6 places for cross-engine hashing.

    One left join of two ≤ (queries×k)-row result tables + a keyed
    aggregate — bounded by the result sizes, never by the corpus, so
    the recall audit itself is free at 100 TB.
    """
    e = exact.filter(F.col("rank") <= k).select(query_id_col, id_col)
    a = (
        approx.filter(F.col("rank") <= k)
        .select(query_id_col, id_col)
        .withColumn("_hit", F.lit(1))
    )
    # broadcast-hint the approx side: both inputs are ≤ queries×k rows,
    # but when they come off a localCheckpoint Spark has no stats and
    # falls back to a sort-merge join — a needless shuffle of two tiny
    # result tables (and a violation of the s1 no-SMJ plan contract).
    return (
        e.join(F.broadcast(a), [query_id_col, id_col], "left")
        .groupBy(query_id_col)
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))) / F.count("*"), 6
            ).alias("recall")
        )
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# --------------------------------------------------------------------------


def ivf_centroids(
    embeddings: DataFrame,
    n_lists: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(centroid_id, centroid_vec, _nc): the coarse quantizer.

    Deterministic stand-in for k-means training: the first ``n_lists``
    vectors by id serve as centroids (reproducible in any engine; a
    real deployment would swap in k-means|| centroids — the query plans
    downstream are identical either way)."""
    return embeddings.filter(F.col(id_col) < n_lists).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("centroid_vec"),
        norm_expr(F.col(vec_col)).alias("_nc"),
    )


def ivf_train(
    embeddings: DataFrame,
    n_lists: int = 16,
    iterations: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """k-means-trained coarse quantizer: Lloyd iterations as pure
    DataFrame ops, seeded from the deterministic ``ivf_centroids``.

    Each iteration: (1) nearest-centroid assignment — one corpus scan
    against the broadcast centroid table; (2) per-list mean via
    posexplode → (list, dim) partial-agg mean → re-assemble, so the
    shuffle carries one row per (list, dimension), never a corpus of
    arrays; empty lists keep their previous centroid.  Centroids are
    ``localCheckpoint``ed per iteration — the classic iterative-lineage
    truncation (same pattern as ``dedup.connected_components``);
    driver traffic is zero (no collect), executor state is
    n_lists × dim floats.

    Returns (centroid_id, centroid_vec, _nc) — drop-in for
    ``ivf_assign(..., centroids=...)`` / ``knn_ivf(..., centroids=...)``.
    """
    # corpus (vectors + hoisted norms) is the loop's STATIC input — pin
    # it so the scan + norm fold executes once, not per iteration
    # (SCALING.md finding -2).
    corpus = spread(embeddings).select(
        id_col, vec_col, norm_expr(F.col(vec_col)).alias("_na")
    ).localCheckpoint(eager=False)
    cent = ivf_centroids(embeddings, n_lists, vec_col, id_col)
    for _ in range(iterations):
        # carry_vec: the winner's vector rides the argmin shuffle —
        # the old plan re-ran ivf_assign's corpus scan AND joined the
        # corpus back on id per iteration (two corpus shuffles + a
        # join → one argmin shuffle)
        assigned = _ivf_argmax(corpus, cent, id_col, vec_col, carry_vec=True)
        ex = assigned.select(
            F.col("list_id").alias("centroid_id"),
            F.posexplode(vec_col).alias("_p", "_v"),
        )
        # round-6 before the float cast: distributed double-sums are
        # order-nondeterministic in the last bits; rounding makes the
        # trained centroids bit-identical across engines/runs (same
        # trick as the rounded cosines), so a SQL oracle can replay
        # the identical Lloyd trajectory.
        means = (
            ex.groupBy("centroid_id", "_p")
            .agg(F.round(F.avg("_v"), 6).alias("_m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_p", "_m"))),
                    lambda s: s["_m"].cast("float"),
                ).alias("centroid_vec")
            )
        )
        # empty lists keep their previous centroid
        cent = (
            cent.select("centroid_id", F.col("centroid_vec").alias("_prev"))
            .join(means, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce("centroid_vec", "_prev").alias("centroid_vec"),
            )
            .withColumn("_nc", norm_expr(F.col("centroid_vec")))
            .localCheckpoint(eager=False)
        )
    return cent


def ivf_assign(
    embeddings: DataFrame,
    n_lists: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, list_id): nearest-centroid assignment by cosine
    (rounded, centroid-id tie-break — cross-engine deterministic).

    ``centroids`` defaults to the deterministic ``ivf_centroids``
    quantizer (oracle-mirrorable); pass ``ivf_train(...)`` output for a
    k-means-trained one — the plan is identical either way.

    Scale: centroids are O(n_lists) — genuinely broadcastable at any
    corpus size — so assignment is one corpus scan with a broadcast
    nested-loop against n_lists rows; no corpus shuffle."""
    cent = centroids if centroids is not None else ivf_centroids(
        embeddings, n_lists, vec_col, id_col
    )
    corpus = spread(embeddings).select(
        id_col, vec_col, norm_expr(F.col(vec_col)).alias("_na")
    )
    return _ivf_argmax(corpus, cent, id_col, vec_col).select(
        id_col, F.col("list_id")
    )


def _ivf_argmax(
    corpus: DataFrame,
    cent: DataFrame,
    id_col: str,
    vec_col: str,
    carry_vec: bool = False,
    carry_cos: bool = False,
) -> DataFrame:
    """(id, list_id[, vec][, centroid_cosine]): per-vector nearest
    centroid by rounded cosine (centroid-id tie-break), as a
    min-of-(−cos, centroid_id) struct under groupBy —
    partial-aggregates map-side, so the shuffle carries one row per
    vector, not the n × n_lists joined rows the previous
    Window-over-id plan hash-shuffled (the same argmin shape as
    ``_nearest_sub_centroid``; ordering is identical to
    ``ORDER BY cos DESC, centroid_id``).  ``carry_vec`` rides the
    vector through the struct for consumers that need the winner's
    vector next (ivf_train's means step) without a corpus join-back;
    ``carry_cos`` surfaces the winning cosine itself (negated struct
    head) for consumers ranking WITHIN a list (semdedup's keep rule)."""
    cos = F.round(
        cosine_from_parts(
            F.col(vec_col), F.col("centroid_vec"), F.col("_na"), F.col("_nc")
        ),
        6,
    )
    fields = [F.col("_ncos"), F.col("centroid_id")] + (
        [F.col(vec_col)] if carry_vec else []
    )
    out = [id_col, F.col("_best.centroid_id").alias("list_id")] + (
        [F.col(f"_best.{vec_col}").alias(vec_col)] if carry_vec else []
    ) + (
        [(-F.col("_best._ncos")).alias("centroid_cosine")] if carry_cos else []
    )
    return (
        corpus.join(F.broadcast(cent))
        .withColumn("_ncos", -cos)
        .filter(F.col("_ncos").isNotNull())
        .groupBy(id_col)
        .agg(F.min(F.struct(*fields)).alias("_best"))
        .select(*out)
    )


def knn_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k via IVF: probe the ``nprobe`` nearest inverted
    lists per query, score only their members exactly.

    ``centroids`` as in ``ivf_assign`` (default deterministic; pass
    ``ivf_train`` output for the k-means quantizer).

    The ``nprobe=12`` default is RECALL-TUNED to the ≥0.95 recall@10
    floor against the default 16-list quantizer on the uniform-sphere
    corpus (0.96–0.98 measured, SCALING.md; nprobe=4 measured
    0.81–0.93).  The high nprobe/n_lists ratio is a property of the
    tiny default quantizer and the structure-free corpus: with a real
    ``n_lists ≈ √n`` quantizer on clustered data the same floor holds
    at a far smaller probed fraction — scale ``nprobe`` with measured
    recall, not with n_lists.

    ``exclude_self``: as in ``knn_bruteforce`` — disable for
    out-of-corpus queries whose ids may collide with corpus ids.

    The candidate set is ~corpus × nprobe/n_lists — at 100 TB the
    assignment is precomputed once (a materialized column), queries
    touch only probed lists, and the final exact scoring joins on
    list_id (shuffle on a low-cardinality key; AQE splits skewed
    lists)."""
    cent = centroids if centroids is not None else ivf_centroids(
        embeddings, n_lists, vec_col, id_col
    )
    assign = ivf_assign(embeddings, n_lists, vec_col, id_col, centroids=cent)

    qn = queries.select("*", norm_expr(F.col(query_vec_col)).alias("_nb"))
    qcos = F.round(
        cosine_from_parts(F.col(query_vec_col), F.col("centroid_vec"), F.col("_nb"), F.col("_nc")), 6
    )
    qw = Window.partitionBy(query_id_col).orderBy(F.col("_cos").desc(), F.col("centroid_id"))
    probes = (
        qn.join(F.broadcast(cent))
        .withColumn("_cos", eval_once(qcos))
        .filter(F.col("_cos").isNotNull())
        .withColumn("_rn", F.row_number().over(qw))
        .filter(F.col("_rn") <= nprobe)
        .select(query_id_col, F.col("centroid_id").alias("list_id"))
    )

    cand = assign.join(F.broadcast(probes), "list_id").select(id_col, query_id_col)
    scored = (
        cand.join(
            embeddings.select(id_col, vec_col, norm_expr(F.col(vec_col)).alias("_na")).hint("shuffle_hash"),
            id_col,
        )
        .join(F.broadcast(qn), query_id_col)
    )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    cos = F.round(
        cosine_from_parts(F.col(vec_col), F.col(query_vec_col), F.col("_na"), F.col("_nb")), 6
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("cosine", eval_once(cos))
        .filter(F.col("cosine").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def semdedup(
    embeddings: DataFrame,
    n_lists: int = 16,
    threshold: float = 0.95,
    centroids: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_size: int | None = 4096,
    components: str = "local",
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540 — public): prune
    semantically duplicated examples by clustering embeddings with a
    coarse quantizer and comparing cosines only WITHIN clusters.

    Returns one row per member of a multi-vector duplicate group:
    ``(vec_id, list_id, group_id, centroid_cosine, keep)`` — vectors
    with no within-cluster neighbor at ``cosine >= threshold`` are
    implicitly kept and not emitted (the scalable shape: survivors =
    corpus anti-join on the emitted drop set, as in
    ``near_duplicate_groups``).  ``group_id`` is the transitive
    component minimum; ``keep`` marks the paper's survivor — the member
    with the LOWEST cosine to its cluster centroid (maximum-diversity
    choice; min-id tie-break).

    Scale: clustering bounds the quadratic corner to within-cluster —
    pick ``n_lists ≈ corpus_size / target_cluster_size`` (the paper
    runs 50k clusters over LAION-440M); ``max_cluster_size`` (default
    4096) is the backstop cap on adversarial clusters, same contract as
    ``embedding_near_duplicates``.  Assignment is one corpus scan
    against the broadcast centroid table; pair verification joins only
    within-cluster candidates; the keep rule is one bounded window
    over group members.  ``centroids`` defaults to the deterministic
    ``ivf_centroids`` (oracle-replayable); pass ``ivf_train(...)``
    output for a k-means quantizer — plans are identical.

    ``components="local"`` (default) exploits that pairs are
    within-cluster BY CONSTRUCTION and every vector belongs to exactly
    one cluster, so connected components factor per cluster: one
    ``connected_components_local`` union-find shuffle replaces the
    global O(log² n) star iteration (~2 shuffles + a convergence count
    per round — measured 3.2 s → 0.3 s on the sf0.1 graph, and at
    cluster scale it removes every driver-coordinated round).
    Per-cluster state is bounded by ``max_cluster_size``;
    ``components="star"`` keeps the global iteration (the only option
    that bounds executor memory when ``max_cluster_size=None`` leaves
    clusters uncapped — auto-selected in that case).
    """
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        connected_components_local,
        connected_components_star,
    )

    cent = centroids if centroids is not None else ivf_centroids(
        embeddings, n_lists, vec_col, id_col
    )
    corpus = spread(embeddings).select(
        id_col, vec_col, norm_expr(F.col(vec_col)).alias("_na")
    )
    # (id, list_id, centroid_cosine) — one argmin shuffle; pinned
    # because it feeds both pair-join sides AND the final members join.
    asg = _ivf_argmax(
        corpus, cent, id_col, vec_col, carry_cos=True
    ).localCheckpoint(eager=False)

    # Within-cluster candidate pairs, list_id kept on each pair (the
    # bucket key IS the component-partition key for components="local").
    # Same shape as bucket_self_join_pairs: cap anti-join first, then
    # the bucket equi-self-join emitting skinny id pairs.
    mem = asg.select(id_col, "list_id")
    if max_cluster_size is not None:
        sizes = mem.groupBy("list_id").agg(F.count("*").alias("_n"))
        mem = mem.join(
            F.broadcast(sizes.filter(F.col("_n") > max_cluster_size)),
            "list_id",
            "left_anti",
        )
    cand = (
        mem.select(F.col(id_col).alias("id_a"), "list_id")
        .join(mem.select(F.col(id_col).alias("id_b"), "list_id"), "list_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("list_id", "id_a", "id_b")
        .distinct()
    )
    ea = embeddings.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        norm_expr(F.col(vec_col)).alias("_pa"),
    )
    eb = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        norm_expr(F.col(vec_col)).alias("_pb"),
    )
    cos = F.round(
        cosine_from_parts(F.col("vec_a"), F.col("vec_b"), F.col("_pa"), F.col("_pb")),
        6,
    )
    # shuffle_hash as in embedding_near_duplicates: the embedding side
    # grows with the corpus, never broadcast it.
    pairs = (
        cand.join(ea.hint("shuffle_hash"), "id_a")
        .join(eb.hint("shuffle_hash"), "id_b")
        .withColumn("_cos", eval_once(cos))
        .filter(F.col("_cos").isNotNull() & (F.col("_cos") >= threshold))
        .select("list_id", "id_a", "id_b")
    )
    if components == "local" and max_cluster_size is not None:
        comp = connected_components_local(pairs, "list_id")
    else:
        comp = connected_components_star(pairs)
    # shuffle_hash: both sides are one-row-per-member tables with no
    # useful ordering — skip the sort a merge join would add.
    members = comp.select(F.col("doc_id").alias(id_col), "group_id").join(
        asg.hint("shuffle_hash"), id_col
    )
    w = Window.partitionBy("group_id").orderBy(
        F.col("centroid_cosine").asc(), F.col(id_col)
    )
    return members.select(
        id_col,
        "list_id",
        "group_id",
        "centroid_cosine",
        (F.row_number().over(w) == 1).alias("keep"),
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bound ANN scale path
# --------------------------------------------------------------------------


def _subvectors(
    df: DataFrame,
    m: int,
    dim: int,
    vec_col: str,
    id_col: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id[, carry…], sub_id, subvec): each vector split into ``m``
    contiguous ``dim/m``-dim subvectors (one posexplode; no
    per-subspace scans).  ``carry`` columns ride along unchanged —
    consumers that need a per-vector attribute downstream (knn_ivfpq's
    list_id) avoid a corpus-sized join back."""
    sub = dim // m
    slices = F.array(*[F.slice(F.col(vec_col), j * sub + 1, sub) for j in range(m)])
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.posexplode(slices).alias("sub_id", "subvec"),
    )


def _l2sq(a: F.Column, b: F.Column) -> F.Column:
    """Squared L2 distance, fixed-order double fold (engine-portable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _nearest_sub_centroid(
    subs: DataFrame,
    cent: DataFrame,
    id_col: str,
    carry_subvec: bool = False,
    carry_group: tuple[str, ...] = (),
) -> DataFrame:
    """(id, sub_id, code, _dist[, subvec]): nearest centroid per
    (vector, subspace) by squared L2 (centroid-id tie-break).  ``cent``
    is m × k rows — broadcastable at any corpus size.

    The argmin is a min-of-(dist, code) struct under groupBy — it
    partial-aggregates map-side, so the shuffle carries one row per
    (vector, subspace) (n × m), not the n × m × k joined rows a
    Window-over-(id, sub_id) would hash-shuffle.  Lexicographic struct
    ordering gives the same (dist, code) tie-break as an ORDER BY.

    ``carry_subvec=True`` rides the subvector through the argmin struct
    (it never affects ordering — (dist, code) is unique per group), so
    a consumer needing the winner's subvector (pq_train's means step)
    avoids a second (id, sub_id)-keyed shuffle join back to ``subs`` —
    one wider shuffle instead of two shuffles plus a join.
    ``carry_group`` columns are extra grouping passengers functionally
    dependent on the id (knn_ivfpq's list_id) — grouped, not
    aggregated, so they survive without a join-back either.
    """
    fields = [F.col("_dist"), F.col("code")] + (
        [F.col("subvec")] if carry_subvec else []
    )
    out = [
        id_col,
        *carry_group,
        "sub_id",
        F.col("_best.code").alias("code"),
        F.col("_best._dist").alias("_dist"),
    ] + ([F.col("_best.subvec").alias("subvec")] if carry_subvec else [])
    return (
        subs.join(F.broadcast(cent), "sub_id")
        .withColumn("_dist", F.round(_l2sq(F.col("subvec"), F.col("cvec")), 9))
        .groupBy(id_col, *carry_group, "sub_id")
        .agg(F.min(F.struct(*fields)).alias("_best"))
        .select(*out)
    )


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    iterations: int = 5,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization codebooks: per-subspace k-means, all ``m``
    subspaces trained JOINTLY in each iteration's two jobs (assignment +
    means) rather than m separate training loops.

    Returns (sub_id, code, cvec) — m × k rows, the broadcastable
    codebook consumed by ``pq_codes`` / ``knn_pq_adc``.

    Scale shape per iteration: one corpus scan for assignment (broadcast
    m×k codebook), one shuffle of (sub_id, code, dimension) partial
    means — row count bounded by m × k × dim, independent of corpus
    size after the partial agg.  Codebook is localCheckpoint'ed per
    iteration (iterative-lineage truncation).  Seeds are the first
    ``k`` vectors' subvectors — deterministic, like ``ivf_centroids``.
    """
    # subs feeds the seed join plus every iteration's assignment — pin
    # it so the scan + subvector slicing executes once (the iterative
    # static-input lesson from connected components, SCALING.md -2).
    subs = _subvectors(spread(embeddings), m, dim, vec_col, id_col).localCheckpoint(
        eager=False
    )
    # Seed = the k lowest-id vectors' subvectors, coded 0..k-1 by RANK —
    # not filter(id < k), which silently under-seeds (fewer than k codes
    # per subspace, or none) when ids are not dense 0-based integers.
    # For dense 0-based ids rank-1 == id, so outputs are unchanged.
    # limit(k) compiles to TakeOrderedAndProject; the row_number window
    # then runs over k driver-bounded rows, not the corpus.
    seeds = (
        embeddings.select(id_col).orderBy(id_col).limit(k)
        .withColumn("code", F.row_number().over(Window.orderBy(id_col)) - 1)
    )
    cent = (
        subs.join(F.broadcast(seeds), id_col)
        .select("sub_id", "code", F.col("subvec").alias("cvec"))
        .localCheckpoint(eager=False)
    )
    for _ in range(iterations):
        # carry_subvec: the winner's subvector rides the argmin shuffle,
        # replacing the old members join back to subs (two shuffles + a
        # join → one wider shuffle per iteration)
        assigned = _nearest_sub_centroid(subs, cent, id_col, carry_subvec=True)
        # round-6 before the float cast — engine-portable means, see
        # the matching comment in ivf_train.
        means = (
            assigned.select("sub_id", "code", F.posexplode("subvec").alias("_p", "_v"))
            .groupBy("sub_id", "code", "_p")
            .agg(F.round(F.avg("_v"), 6).alias("_m"))
            .groupBy("sub_id", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_p", "_m"))),
                    lambda s: s["_m"].cast("float"),
                ).alias("cvec")
            )
        )
        cent = (
            cent.select("sub_id", "code", F.col("cvec").alias("_prev"))
            .join(means, ["sub_id", "code"], "left")
            .select("sub_id", "code", F.coalesce("cvec", "_prev").alias("cvec"))
            .localCheckpoint(eager=False)
        )
    return cent


def pq_codes(
    embeddings: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes: array<int>[m]) — each vector compressed to m small
    codes (the 100 TB memory story: 64 float32 dims → m bytes-ish).
    One corpus scan against the broadcast codebook; codes re-assembled
    with a sort-by-subspace collect (per-id group of m rows)."""
    subs = _subvectors(spread(embeddings), m, dim, vec_col, id_col)
    assigned = _nearest_sub_centroid(subs, codebook, id_col)
    return assigned.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_id", "code"))),
            lambda s: s["code"].cast("int"),
        ).alias("codes")
    )


def knn_pq_adc(
    embeddings: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    k: int = 10,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    exclude_self: bool = True,
    rerank: int | None = None,
    code_rows: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC):
    per-query lookup tables of subvector→centroid distances, summed over
    each corpus vector's codes.

    (query_id, vec_id, adc_dist, rank) — rank ascending by approximate
    squared L2.  Scale shape: the distance tables are q × m × k rows
    (tiny — broadcast); the corpus side is its EXPLODED code table
    (id, sub_id, code), n × m skinny rows, aggregated back per
    (query, id) with a partial-agg sum.  The raw vectors are never
    touched after encoding — that is the point of PQ.

    ``rerank=R`` enables the standard ADC-then-refine pattern: the ADC
    pass selects each query's top-R candidates (codes only — still no
    raw-vector access for the corpus scan), then ONLY those R×q rows
    join back to the raw vectors for exact cosine scoring and the final
    top-k.  Raises recall from coarse-quantizer level to near-exact
    (measured in SCALING.md) while touching R/n of the corpus vectors;
    output is then (query_id, vec_id, cosine, rank) like the other
    ``knn_*`` functions.

    ``exclude_self``: as in ``knn_bruteforce`` — disable for
    out-of-corpus queries whose ids may collide with corpus ids."""
    tables = (
        queries.select(
            query_id_col, F.posexplode(
                F.array(*[F.slice(F.col(query_vec_col), j * (dim // m) + 1, dim // m) for j in range(m)])
            ).alias("sub_id", "qsub")
        )
        .join(F.broadcast(codebook), "sub_id")
        .select(
            query_id_col, "sub_id", "code",
            F.round(_l2sq(F.col("qsub"), F.col("cvec")), 9).alias("_d"),
        )
    )
    if code_rows is None:
        code_rows = pq_codes(embeddings, codebook, m, dim, vec_col, id_col)
    code_rows = code_rows.select(
        id_col, F.posexplode("codes").alias("sub_id", "code")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("adc_dist"), F.col(id_col))
    scored = (
        code_rows.join(F.broadcast(tables), ["sub_id", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("_d"), 6).alias("adc_dist"))
    )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    adc_top = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= (rerank if rerank is not None else k))
        .select(query_id_col, id_col, "adc_dist", "rank")
    )
    if rerank is None:
        return adc_top
    qn = queries.select(
        query_id_col,
        F.col(query_vec_col),
        norm_expr(F.col(query_vec_col)).alias("_nb"),
    )
    corpus = embeddings.select(
        id_col, vec_col, norm_expr(F.col(vec_col)).alias("_na")
    )
    cos = F.round(
        cosine_from_parts(F.col(vec_col), F.col(query_vec_col), F.col("_na"), F.col("_nb")), 6
    )
    rw = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        adc_top.select(query_id_col, id_col)
        .join(corpus.hint("shuffle_hash"), id_col)
        .join(F.broadcast(qn), query_id_col)
        .withColumn("cosine", eval_once(cos))
        .filter(F.col("cosine").isNotNull())
        .withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# --------------------------------------------------------------------------
# Index persistence
# --------------------------------------------------------------------------

_IVF_INDEX_COLS = ("centroid_id", "centroid_vec")
_PQ_INDEX_COLS = ("sub_id", "code", "cvec")


def save_index(index: DataFrame, path: str) -> None:
    """Persist a trained index table (IVF centroids or PQ codebook) to
    parquet.  Indexes are tiny relative to the corpus (n_lists×dim /
    m×k×sub-dim floats), so this is the 'train once, serve many'
    pattern: the expensive Lloyd iterations run in the training job,
    and query jobs broadcast-load the table in milliseconds.  Internal
    norm columns (``_nc``) are recomputed on load, so the stored
    artifact is engine-version-stable."""
    cols = [c for c in index.columns if not c.startswith("_")]
    index.select(*cols).write.mode("overwrite").parquet(path)


def load_ivf_centroids(spark: SparkSession, path: str) -> DataFrame:
    """Load IVF centroids saved by ``save_index``; validates the schema
    and recomputes the norm column ``ivf_assign``/``knn_ivf`` expect."""
    df = spark.read.parquet(path)
    missing = [c for c in _IVF_INDEX_COLS if c not in df.columns]
    if missing:
        raise ValueError(f"not an IVF centroid table (missing {missing}): {path}")
    return df.select(
        "centroid_id",
        "centroid_vec",
        norm_expr(F.col("centroid_vec")).alias("_nc"),
    )


def load_pq_codebook(spark: SparkSession, path: str) -> DataFrame:
    """Load a PQ codebook saved by ``save_index``; validates the schema
    expected by ``pq_codes``/``knn_pq_adc``."""
    df = spark.read.parquet(path)
    missing = [c for c in _PQ_INDEX_COLS if c not in df.columns]
    if missing:
        raise ValueError(f"not a PQ codebook (missing {missing}): {path}")
    return df.select(*_PQ_INDEX_COLS)


def encode_all(
    embeddings: DataFrame,
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
    num_planes: int = 16,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Serving-time encode for ALL index structures in ONE map-only
    corpus scan: (id, srp_code [, list_id] [, pq_codes]).

    ``srp_codes`` / ``ivf_assign`` / ``pq_codes`` each scan the corpus
    (and the latter two broadcast-join + partial-agg an argmin); when
    the quantizers are already trained, encoding is a pure FUNCTION of
    the vector — so this fuses everything into one projection: the
    centroid table (O(n_lists·dim)) and codebook (O(m·k·dim/m)) embed
    as literals — bounded by construction, like the SRP plane matrix —
    and each argmin becomes ``array_min``/``array_max`` over a struct
    array (lexicographic struct order reproduces the exact rounded-
    distance + id tie-breaks of the join-based operators, asserted
    equal by test).  Zero joins, zero aggregation, zero shuffle: at
    100 TB this encodes the corpus at scan speed and is trivially
    incremental (new rows encode independently).

    For TRAINING-time assignment (quantizer still changing, centroids
    not yet collectable) keep ``ivf_assign`` / ``pq_codes`` — this is
    the frozen-index path, typically fed from ``load_ivf_centroids`` /
    ``load_pq_codebook``.

    Zero-norm edge case: a degenerate (all-zero) vector gets
    ``list_id = NULL`` here — the row survives because its SRP/PQ
    columns are still defined — whereas ``ivf_assign`` omits the row
    entirely; on non-degenerate vectors (every real embedding corpus)
    the outputs are row-for-row identical.
    """
    v = F.col(vec_col)
    planes = _planes_literal(num_planes, dim)
    srp = F.array_join(
        F.transform(
            planes,
            lambda p: F.when(
                F.aggregate(
                    F.zip_with(v, p, lambda x, s: x.cast("double") * s),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                > 0,
                F.lit("1"),
            ).otherwise("0"),
        ),
        "",
    )
    cols = [F.col(id_col), srp.alias("srp_code")]

    # Literal-table shape matters: ONE nested array literal iterated by
    # a transform loop compiles to one codegen'd fold, where per-entry
    # inline expressions (16 cosine folds / 128 L2 folds spelled out)
    # cost ~10 s of planning+codegen per query (measured — the same
    # lesson as srp_codes' plane literal, see its docstring).
    if centroids is not None:
        cent_rows = sorted(
            centroids.select("centroid_id", "centroid_vec").collect(),
            key=lambda r: r["centroid_id"],
        )
        # single-call nested F.lit, not per-element F.lit/F.array: the
        # element-by-element build is one Python->JVM round-trip per
        # scalar (~1000+ calls here, seconds of pure driver latency —
        # same lesson as srp_codes' memoized plane literal)
        cents_lit = F.lit(
            [[float(x) for x in r["centroid_vec"]] for r in cent_rows]
        )
        ids_lit = F.lit([int(r["centroid_id"]) for r in cent_rows])
        na = norm_expr(v)
        structs = F.transform(
            F.sequence(F.lit(1), F.lit(len(cent_rows))),
            lambda i: F.struct(
                F.round(
                    cosine_from_parts(
                        v,
                        F.element_at(cents_lit, i),
                        na,
                        norm_expr(F.element_at(cents_lit, i)),
                    ),
                    6,
                ).alias("c"),
                (-F.element_at(ids_lit, i)).alias("ni"),
            ),
        )
        best = F.array_max(F.filter(structs, lambda s: s["c"].isNotNull()))
        cols.append((-best["ni"]).alias("list_id"))

    if codebook is not None:
        sub = dim // m
        book: dict[int, list] = {}
        for r in codebook.select("sub_id", "code", "cvec").collect():
            book.setdefault(int(r["sub_id"]), []).append((int(r["code"]), r["cvec"]))
        ordered = [sorted(book.get(j, [])) for j in range(m)]
        book_lit = F.lit(
            [[[float(x) for x in cvec] for _, cvec in row] for row in ordered]
        )
        codes_lit = F.lit([[int(code) for code, _ in row] for row in ordered])
        k_per_sub = [len(row) for row in ordered]
        assert len(set(k_per_sub)) == 1, "ragged codebook"
        codes = F.transform(
            F.sequence(F.lit(1), F.lit(m)),
            lambda j: F.array_min(
                F.transform(
                    F.sequence(F.lit(1), F.lit(k_per_sub[0])),
                    lambda c: F.struct(
                        F.round(
                            _l2sq(
                                F.slice(v, (j - 1) * sub + 1, sub),
                                F.element_at(F.element_at(book_lit, j), c),
                            ),
                            9,
                        ).alias("d"),
                        F.element_at(F.element_at(codes_lit, j), c).alias("code"),
                    ),
                )
            )["code"],
        )
        cols.append(codes.alias("pq_codes"))

    return spread(embeddings).select(*cols)


def quantize_embeddings(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, qvec array<int> in [-127, 127], scale double): symmetric
    per-vector int8 quantization — the 4×-smaller serving copy of the
    corpus (float32 → int8), the memory-bound middle ground between raw
    vectors and PQ's 32× codes.

    ``scale = max(|x|) / 127``; dequantized value = ``q * scale``.
    Cosine over quantized vectors needs NO dequantization at all: the
    per-vector scales cancel, so scoring is integer dot products —
    bit-exact across engines (``knn_int8``).  Map-only projection, no
    shuffle; zero vectors quantize to zeros under a unit scale."""
    absmax = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    )
    with_scale = spread(embeddings).select(
        F.col(id_col),
        F.col(vec_col),
        F.when(absmax > 0, absmax / F.lit(127.0)).otherwise(F.lit(1.0)).alias(
            "scale"
        ),
    )
    return with_scale.select(
        id_col,
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") / F.col("scale"), 0).cast("int"),
        ).alias("qvec"),
        "scale",
    )


def knn_int8(
    quantized: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact brute-force cosine top-k over an int8-quantized corpus
    (``quantize_embeddings`` output on BOTH sides): cosine(a, b) =
    Σ qa·qb / (‖qa‖‖qb‖) — the per-vector scales cancel, so candidate
    scoring is pure integer arithmetic over 4×-smaller rows.  Same plan
    as ``knn_bruteforce``: queries broadcast, one corpus scan, per-query
    top-k window; recall vs float brute force is bounded only by the
    quantization error (≥ 0.99 @10 on the testdata corpus, pinned in
    pytest)."""
    idot = F.aggregate(
        F.zip_with(
            F.col("qvec"), F.col("_qq"), lambda a, b: (a * b).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    qnorm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(F.col(c), lambda x: (x * x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("double")
    )
    qn = queries.select(
        F.col(query_id_col),
        F.col("qvec").alias("_qq"),
        qnorm("qvec").alias("_nb"),
    )
    scored = quantized.select(
        id_col, "qvec", qnorm("qvec").alias("_na")
    ).join(F.broadcast(qn))
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    cos = F.round(idot / (F.col("_na") * F.col("_nb")), 6)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("cosine", eval_once(cos))
        .filter(F.col("cosine").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def pool_embeddings(
    chunk_vecs: DataFrame,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    method: str = "mean",
    normalize: bool = False,
    portable_round: int | None = None,
) -> DataFrame:
    """Pool per-chunk vectors back to one vector per document —
    (id, embedding) — closing the chunk → embed → doc-vector loop that
    ``text.chunk_documents`` opens (mean pooling is the standard doc
    representation; ``method='sum'`` skips the division).

    Scale shape: posexplode to (id, dim, value) skinny rows, partial-agg
    the per-dimension sum/mean map-side, reassemble with a sorted
    collect_list per id — the same shuffle profile as the k-means mean
    step (one row per (id, dim) crosses the network, never arrays).
    ``normalize=True`` L2-normalizes the pooled vector (cosine-ready).
    ``portable_round`` rounds the per-dimension aggregate to N decimals
    BEFORE the float cast — the engine-portability pattern of
    ``ivf_train``/``pq_train``, for outputs that must hash-match a
    replaying SQL oracle.
    """
    if method not in ("mean", "sum"):
        raise ValueError(f"unknown pooling method {method!r}")
    agg = F.avg("_v") if method == "mean" else F.sum("_v")
    if portable_round is not None:
        agg = F.round(agg, portable_round)
    pooled = (
        spread(chunk_vecs)
        .select(F.col(id_col), F.posexplode(vec_col).alias("_p", "_v"))
        .groupBy(id_col, "_p")
        .agg(agg.alias("_m"))
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_m"))),
                lambda s: s["_m"].cast("float"),
            ).alias(vec_col)
        )
    )
    if normalize:
        # hoist the norm to its own projection so it evaluates ONCE per
        # row — embedded in the transform lambda it would re-fold the
        # whole array per element, O(d²) per doc (the cosine_from_parts
        # norms-hoisted lesson).  Zero-norm pools (canceling chunks)
        # stay as-is: dividing would NULL every element silently.
        pooled = (
            pooled.select(id_col, vec_col, norm_expr(F.col(vec_col)).alias("_n"))
            .select(
                id_col,
                F.when(
                    F.col("_n") > 0,
                    F.transform(
                        F.col(vec_col), lambda x: (x / F.col("_n")).cast("float")
                    ),
                )
                .otherwise(F.col(vec_col))
                .alias(vec_col),
            )
        )
    return pooled


# --------------------------------------------------------------------------
# IVF-PQ: the composed production index (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011 §IV) — coarse
# quantizer prunes the corpus to nprobe lists, PQ codes trained on the
# RESIDUAL (vec − centroid) compress what remains.  Residual encoding
# matters: residuals concentrate near zero, so the same m×k codebook
# spends its codewords on a far smaller volume than raw-vector PQ.
# --------------------------------------------------------------------------


def ivfpq_train(
    embeddings: DataFrame,
    n_lists: int = 16,
    m: int = 8,
    k: int = 16,
    iterations: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """(centroids, residual_codebook): train the coarse quantizer with
    ``ivf_train``, assign every vector, subtract its centroid, and train
    the PQ codebook on the residuals.

    Scale shape: residual computation is the ``_ivf_argmax`` corpus scan
    (broadcast centroids, min-of-struct argmin) plus one broadcast join
    and a ``zip_with`` subtraction — map-side throughout; ``pq_train``
    then sees a corpus-sized but skinny residual stream.  Both returned
    tables are broadcast-sized (n_lists and m×k rows) and persist via
    ``save_index``.
    """
    cent = ivf_train(embeddings, n_lists, iterations, vec_col, id_col)
    res = _residuals(embeddings, cent, vec_col, id_col)
    book = pq_train(
        res.select(id_col, F.col("residual").alias(vec_col)),
        m, k, iterations, dim, vec_col, id_col,
    )
    return cent, book


def _residuals(
    embeddings: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """(id, list_id, residual float[]): each vector minus its nearest
    centroid.  float32 subtraction is correctly-rounded and both
    operands are bit-identical across engines, so residuals are
    engine-portable without extra rounding (note: (a−b)+b ≠ a in
    float32 — the index never needs reconstruction, only agreement)."""
    corpus = spread(embeddings).select(
        id_col, vec_col, norm_expr(F.col(vec_col)).alias("_na")
    )
    assigned = _ivf_argmax(corpus, centroids, id_col, vec_col, carry_vec=True)
    return (
        assigned.join(
            F.broadcast(centroids.select(
                F.col("centroid_id").alias("list_id"), "centroid_vec"
            )),
            "list_id",
        )
        .select(
            id_col,
            "list_id",
            F.zip_with(
                vec_col, "centroid_vec", lambda a, b: (a - b).cast("float")
            ).alias("residual"),
        )
    )


def ivfpq_codes(
    embeddings: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, list_id, sub_id, code): the IVF-PQ residual code table —
    each vector's nearest-list assignment plus the PQ code of its
    residual in every subspace (n × m skinny rows).

    This is the IVF-PQ analogue of ``pq_codes``: the landing job a real
    deployment runs ONCE at ingest (and incrementally for new rows —
    each row encodes independently of every other), so query jobs like
    ``knn_ivfpq`` probe a pre-landed table instead of re-encoding the
    corpus per query.  Scale shape: one corpus scan for the residual
    (broadcast centroids, min-of-struct argmin), one more projection
    for the per-subspace argmin against the broadcast codebook — no
    corpus shuffle, no join wider than the broadcast index tables.
    """
    res = _residuals(embeddings, centroids, vec_col, id_col)
    subs = _subvectors(res, m, dim, "residual", id_col, carry=("list_id",))
    return _nearest_sub_centroid(
        subs, codebook, id_col, carry_group=("list_id",)
    ).select(id_col, "list_id", "sub_id", "code")


def reciprocal_rank_fusion(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k0: int = 60,
    k: int = 10,
) -> DataFrame:
    """Hybrid-retrieval fusion by Reciprocal Rank Fusion (Cormack et
    al., SIGIR 2009): each system's contribution for a doc is
    1/(k0 + rank); docs re-rank by the summed score.  The standard way
    to combine BM25 and vector top-k lists for RAG serving — rank
    arithmetic only, no score calibration between systems needed.

    Output: (id, rrf, rank) — ``rrf`` is the score scaled by 1e9 and
    kept in INTEGER space (``1000000000 div (k0 + rank)`` summed), so
    it is bit-deterministic in any engine regardless of how many
    systems fuse or in what order (float sums are order-sensitive past
    two addends).

    Scale shape: inputs are top-k lists — bounded by construction
    (Σ kᵢ rows total), so the global re-rank window is a sort of at
    most a few dozen rows, never a corpus-sized single-partition
    funnel; the union + sum is one tiny aggregate."""
    contrib = None
    for r in rankings:
        part = r.select(
            F.col(id_col),
            F.expr(f"1000000000 div ({k0} + {rank_col})").alias("_c"),
        )
        contrib = part if contrib is None else contrib.unionByName(part)
    w = Window.orderBy(F.col("rrf").desc(), F.col(id_col))
    return (
        contrib.groupBy(id_col)
        .agg(F.sum("_c").cast("long").alias("rrf"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rrf", "rank")
    )


def append_pq_codes(
    existing: DataFrame,
    new_embeddings: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Incremental ANN ingest for the ``pq_codes`` store: encode ONLY
    the new batch against the FROZEN codebook and union it with the
    landed code table — the serve-while-ingesting half of the
    train-once story.

    Frozen-quantizer semantics: the codebook does NOT move with new
    data — each new vector's codes are a pure function of (vector,
    codebook), so append(A) ⊕ append(B) is bit-identical to a one-shot
    encode of A ∪ B (driver-verified as the s2 'append' branch), and
    re-training is a POLICY (run the training job again when drift
    warrants, then re-encode) rather than a per-batch cost.

    Scale shape: the new batch is one map-only scan against the
    broadcast codebook (``pq_codes``); the existing store is untouched
    — at 100 TB this appends a partition, never rewrites (or even
    reads) the corpus-sized store.  Caller contract: ingest ids are
    unique across batches (the normal case — any dedup would have to
    scan the store per batch, which this operator refuses to do; a
    re-ingested id is harmless for SERVING anyway, since the frozen
    quantizer gives it identical codes, and is reconciled by a
    compaction pass, not here).
    """
    fresh = pq_codes(new_embeddings, codebook, m, dim, vec_col, id_col)
    return existing.unionByName(fresh)


def knn_ivfpq(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    exclude_self: bool = True,
    rerank: int | None = None,
    code_rows: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k over the IVF-PQ index: per query, probe the
    ``nprobe`` nearest lists; within each probed list, ADC against the
    residual codebook using the QUERY's residual for that list
    (q − centroid) — the asymmetric trick that keeps corpus vectors as
    m codes while queries stay exact.

    Scale shape: the corpus contributes its (id, list_id, sub_id, code)
    exploded code table — n × m skinny rows, computed in one scan and
    in a real deployment LANDED once by ``encode_all``-style jobs; the
    query side builds q × nprobe × m × k distance-table rows (tiny,
    broadcast).  The join key (list_id, sub_id, code) prunes unprobed
    lists inside the hash join itself: (1 − nprobe/n_lists) of the
    corpus stream matches nothing and never reaches the aggregate.
    ``rerank=R`` re-scores each query's top-R survivors with exact
    cosine like ``knn_pq_adc`` — the production config.

    ``code_rows``: a pre-landed ``ivfpq_codes`` table.  When given, the
    per-query encode scan is skipped entirely — the deployment shape,
    where codes land once at ingest and every query only pays the
    probing join + rerank.  When None, codes are derived inline (same
    values; ``ivfpq_codes`` IS the inline lineage).
    """
    if code_rows is None:
        code_rows = ivfpq_codes(
            embeddings, centroids, codebook, m, dim, vec_col, id_col
        )

    # per (query, probed list): rank lists by query↔centroid cosine
    qn = queries.select(
        query_id_col, query_vec_col, norm_expr(F.col(query_vec_col)).alias("_nq")
    )
    lw = Window.partitionBy(query_id_col).orderBy(
        F.col("_lcos").desc(), F.col("centroid_id")
    )
    probed = (
        qn.join(F.broadcast(centroids))
        .withColumn(
            "_lcos",
            F.round(
                cosine_from_parts(
                    F.col(query_vec_col), F.col("centroid_vec"),
                    F.col("_nq"), F.col("_nc"),
                ),
                6,
            ),
        )
        .withColumn("_lrank", F.row_number().over(lw))
        .filter(F.col("_lrank") <= nprobe)
        .select(
            query_id_col,
            F.col("centroid_id").alias("list_id"),
            F.zip_with(
                query_vec_col, "centroid_vec", lambda a, b: (a - b).cast("float")
            ).alias("qres"),
        )
    )
    # distance tables: (query, list, sub, code) → l2² of query-residual
    # subvector vs codeword
    sub_w = dim // m
    tables = (
        probed.select(
            query_id_col, "list_id",
            F.posexplode(
                F.array(*[
                    F.slice(F.col("qres"), j * sub_w + 1, sub_w) for j in range(m)
                ])
            ).alias("sub_id", "qsub"),
        )
        .join(F.broadcast(codebook), "sub_id")
        .select(
            query_id_col, "list_id", "sub_id", "code",
            F.round(_l2sq(F.col("qsub"), F.col("cvec")), 9).alias("_d"),
        )
    )
    scored = (
        code_rows.join(F.broadcast(tables), ["list_id", "sub_id", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("_d"), 6).alias("adc_dist"))
    )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.col("adc_dist"), F.col(id_col))
    adc_top = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= (rerank if rerank is not None else k))
        .select(query_id_col, id_col, "adc_dist", "rank")
    )
    if rerank is None:
        return adc_top
    qn2 = queries.select(
        query_id_col, query_vec_col, norm_expr(F.col(query_vec_col)).alias("_nb")
    )
    corpus = embeddings.select(
        id_col, vec_col, norm_expr(F.col(vec_col)).alias("_na")
    )
    cos = F.round(
        cosine_from_parts(
            F.col(vec_col), F.col(query_vec_col), F.col("_na"), F.col("_nb")
        ),
        6,
    )
    rw = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        adc_top.select(query_id_col, id_col)
        .join(corpus.hint("shuffle_hash"), id_col)
        .join(F.broadcast(qn2), query_id_col)
        .withColumn("cosine", eval_once(cos))
        .filter(F.col("cosine").isNotNull())
        .withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# --------------------------------------------------------------------------
# PCA: top principal component by integer power iteration
# --------------------------------------------------------------------------


def covariance_matrix_int(
    emb: DataFrame,
    dims: int = 16,
    quant_scale: int = 1000,
    shift_bits: int = 20,
    vec_col: str = "embedding",
) -> DataFrame:
    """The (scaled) covariance numerator of the first ``dims``
    embedding components as an EXACT-integer matrix: embeddings are
    quantized to ``floor(x * quant_scale)`` longs, then
    ``C[j,k] = n·Σx_j x_k − Σx_j·Σx_k`` — the n·covariance identity,
    computed entirely in int64 so the matrix is bit-identical across
    engines and partitionings (a float covariance would depend on the
    summation order).  The result is right-shifted ``shift_bits``
    (power-of-two division is exact in both engines' semantics) to
    leave headroom for the power iteration's products.

    Scale shape: ONE aggregate pass over the corpus — dims + dims² map-
    side partial sums, a 1-row result, then a dims²-row matrix derived
    from it.  The corpus is never shuffled; at any scale the cost is
    the scan.  Rows with NULL/NaN components are excluded (the NaN
    lesson: one NaN would poison every sum).  int64 envelope:
    ``n · (quant_scale·max|x|)² · dims`` must stay below 2^63 — at
    10^10 rows use quant_scale=100.

    Output: (j, k, c) over the full dims×dims grid (symmetric)."""
    x = F.col(vec_col)
    clean = emb.filter(
        x.isNotNull()
        & (F.size(x) >= dims)
        & ~F.exists(
            F.slice(x, 1, dims), lambda v: v.isNull() | F.isnan(v)
        )
    )
    xq = F.transform(
        F.slice(x, 1, dims),
        lambda v: F.floor(v.cast("double") * quant_scale).cast("long"),
    )
    q = clean.select(xq.alias("xq"))
    aggs = [F.count(F.lit(1)).alias("n")]
    for j in range(dims):
        aggs.append(F.sum(F.element_at("xq", j + 1)).alias(f"s{j}"))
    for j in range(dims):
        for k in range(j, dims):
            aggs.append(
                F.sum(
                    F.element_at("xq", j + 1) * F.element_at("xq", k + 1)
                ).alias(f"p{j}_{k}")
            )
    stats = q.agg(*aggs).localCheckpoint(eager=False)
    cells = []
    for j in range(dims):
        for k in range(dims):
            lo, hi = min(j, k), max(j, k)
            cells.append(
                F.struct(
                    F.lit(j).alias("j"),
                    F.lit(k).alias("k"),
                    (
                        F.col("n") * F.col(f"p{lo}_{hi}")
                        - F.col(f"s{j}") * F.col(f"s{k}")
                    ).alias("craw"),
                )
            )
    return (
        stats.select(F.explode(F.array(*cells)).alias("cell"))
        .select(
            F.col("cell.j").alias("j"),
            F.col("cell.k").alias("k"),
            # power-of-two scaling: exact in double, floor == div 2^b
            F.floor(F.col("cell.craw") / F.lit(float(1 << shift_bits)))
            .cast("long")
            .alias("c"),
        )
    )


def pca_power_iteration(
    emb: DataFrame,
    dims: int = 16,
    iterations: int = 3,
    quant_scale: int = 1000,
    shift_bits: int = 20,
    norm_target: int = 256,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top principal component of the embedding corpus by FIXED-POINT
    power iteration — the dimensionality-reduction primitive semantic-
    dedup and embedding-whitening pipelines run before clustering
    (SemDeDup uses PCA-reduced representations; public method per
    Golub & Van Loan, power method).

    Everything is integer: the covariance matrix from
    :func:`covariance_matrix_int`, then ``iterations`` rounds of
    ``w = C·v`` (a dims²⋈dims equi-join + a dims-row aggregation —
    the distributed matvec shape that scales to huge d where C itself
    is a table) with max-norm rescaling ``v ← w·norm_target div
    max|w|`` (integer floor division keeps the trajectory
    bit-deterministic; L2 normalization would need a sqrt).  Starting
    vector: all-``norm_target``.  Each round ends in a
    ``localCheckpoint`` barrier (the PageRank/BPE lineage pattern).

    Returns (dim, v, v_prev) — the final and previous iterates, sign
    and scale as the iteration leaves them (callers wanting a unit
    vector normalize the longs; the DIRECTION is the result)."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    spark = emb.sparkSession
    cmat = covariance_matrix_int(
        emb, dims, quant_scale, shift_bits, vec_col
    ).localCheckpoint(eager=False)
    v = spark.range(dims).select(
        F.col("id").cast("int").alias("dim"),
        F.lit(norm_target).cast("long").alias("v"),
        F.lit(norm_target).cast("long").alias("v_prev"),
    )
    for _ in range(iterations):
        w = (
            cmat.join(v.select(F.col("dim").alias("k"), "v"), "k")
            .groupBy(F.col("j").alias("dim"))
            .agg(F.sum(F.col("c") * F.col("v")).alias("w"))
        )
        m = w.agg(F.max(F.abs("w")).alias("m"))
        v = (
            w.join(v.select("dim", F.col("v").alias("pv")), "dim")
            .crossJoin(F.broadcast(m))
            .select(
                "dim",
                F.when(F.col("m") == 0, F.col("w"))
                .otherwise(
                    # products ≤ norm_target·max|w| < 2^53: the double
                    # floor-division is exact at this envelope
                    F.floor(F.col("w") * norm_target / F.col("m"))
                )
                .cast("long")
                .alias("v"),
                F.col("pv").alias("v_prev"),
            )
            .localCheckpoint(eager=False)
        )
    return v


def pca_project(
    emb: DataFrame,
    loadings: list[int],
    quant_scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Project every embedding onto an integer loading vector (the
    ``pca_power_iteration`` result, collected — dims longs, the
    literal-quantizer pattern): ``pc = Σ floor(x_j·quant_scale)·v_j``.
    Map-only, zero shuffle; the projection is the 1-D reduced
    representation (rank-ordering is scale-free)."""
    dims = len(loadings)
    x = F.col(vec_col)
    xq = F.transform(
        F.slice(x, 1, dims),
        lambda v: F.floor(v.cast("double") * quant_scale).cast("long"),
    )
    terms = F.aggregate(
        F.zip_with(
            xq,
            F.array(*[F.lit(int(v)).cast("long") for v in loadings]),
            lambda a, b: a * b,
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    return emb.select(F.col(id_col), terms.alias("pc1"))


def pca_top_components(
    emb: DataFrame,
    n_components: int = 2,
    dims: int = 16,
    iterations: int = 3,
    quant_scale: int = 1000,
    shift_bits: int = 20,
    norm_target: int = 256,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top ``n_components`` principal directions by power iteration
    with INTEGER DEFLATION: after each component ``v`` converges, the
    covariance deflates by the Hotelling step

        C' = C − (v vᵀ · (vᵀ C v)) div (vᵀv · vᵀv)

    computed entirely in int64 (each deflation's rounding is bounded
    by one unit per cell, so later components are approximate the way
    any finite-precision deflation is — but bit-deterministic, which
    a float deflation would not be).  The covariance is built ONCE
    (the corpus is scanned once); each extra component costs only
    dims²-table arithmetic.  Output: (component, dim, v) — sign and
    max-norm scale as the iteration leaves them."""
    if n_components < 1:
        raise ValueError("n_components must be >= 1")
    spark = emb.sparkSession
    cmat = covariance_matrix_int(
        emb, dims, quant_scale, shift_bits, vec_col
    ).localCheckpoint(eager=False)
    out = None
    for comp in range(n_components):
        v = spark.range(dims).select(
            F.col("id").cast("int").alias("dim"),
            F.lit(norm_target).cast("long").alias("v"),
        )
        for _ in range(iterations):
            w = (
                cmat.join(v.select(F.col("dim").alias("k"), "v"), "k")
                .groupBy(F.col("j").alias("dim"))
                .agg(F.sum(F.col("c") * F.col("v")).alias("w"))
            )
            m = w.agg(F.max(F.abs("w")).alias("m"))
            v = (
                w.crossJoin(F.broadcast(m))
                .select(
                    "dim",
                    F.when(F.col("m") == 0, F.col("w"))
                    .otherwise(F.floor(F.col("w") * norm_target / F.col("m")))
                    .cast("long")
                    .alias("v"),
                )
                .localCheckpoint(eager=False)
            )
        rows = v.select(
            F.lit(comp).cast("int").alias("component"), "dim", "v"
        )
        out = rows if out is None else out.unionByName(rows)
        if comp == n_components - 1:
            break
        # Hotelling deflation in integers: numerator/denominator as
        # 1-row scalars, the rank-1 update as a dims×dims join
        vk = v.select(F.col("dim").alias("k"), F.col("v").alias("vk"))
        vj = v.select(F.col("dim").alias("j"), F.col("v").alias("vj"))
        quad = (
            cmat.join(vk, "k")
            .join(vj, "j")
            .agg(F.sum(F.col("c") * F.col("vk") * F.col("vj")).alias("num"))
        )
        denom = v.agg(F.sum(F.col("v") * F.col("v")).alias("den"))
        cmat = (
            cmat.join(vj, "j")
            .join(vk, "k")
            .crossJoin(F.broadcast(quad))
            .crossJoin(F.broadcast(denom))
            .select(
                "j",
                "k",
                (
                    F.col("c")
                    - F.expr("(vj * vk * num) div (den * den)")
                ).cast("long").alias("c"),
            )
            .localCheckpoint(eager=False)
        )
    return out
