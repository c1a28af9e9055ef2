"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json "north_star"): exact
dedup, content fingerprinting, MinHash+LSH near-dup, SimHash, and
n-gram Jaccard verification — each a DataFrame→DataFrame operator with
no driver-side loops.

Portability-by-construction: every hash is md5-based (available and
bit-identical in Spark and DuckDB), so the driver's oracle can mirror
the *algorithm*, not just the semantics — signatures, band buckets, and
verified pairs hash-match across engines.

Scale design:
- shingling/minhash/simhash are per-row expressions (higher-order
  functions: transform/aggregate/zip_with) — whole-stage codegen, no
  Python, no explode-induced row blowup for signatures;
- LSH candidate generation is the classic band-bucket equi-join: one
  shuffle on (band_id, band_hash).  A pathological bucket (thousands of
  identical docs) would skew the join — AQE skew-join splitting is on,
  and ``lsh_candidate_pairs`` exposes ``max_bucket_size`` to cap
  adversarial buckets (drop-and-report rather than quadratic blowup);
- Jaccard verification only touches candidate pairs (shingle arrays
  shipped via the join, intersect/union computed JVM-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from kafkastreamsinteractivequeries_spark.sources.tables import spread

# --------------------------------------------------------------------------
# Normalization / shingling
# --------------------------------------------------------------------------


def normalized_text(col: F.Column) -> F.Column:
    """Lowercase + collapse whitespace — the canonical form fingerprints
    and shingles are computed over."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens_col(col: F.Column) -> F.Column:
    return F.split(normalized_text(col), " ")


def shingles_from_tokens(toks: F.Column, n: int = 3) -> F.Column:
    """Word ``n``-gram shingles of an ALREADY-TOKENIZED array column
    (``tokens_col``) — the shared-scan form: when several passes consume the same corpus, the
    caller tokenizes once (``select(id, tokens_col(text) AS tokens)``,
    pinned) and each pass shingles from that column instead of
    re-running normalize+split per pass."""
    if n == 1:
        # identical values, ~2x cheaper scan: a 1-gram of slice+join is
        # the token itself, so skip the per-token slice/array_join
        # machinery (unigram shingles are the near-dup default — this
        # is the hot path of d4/d5/p1 and x13's fuzzy branch).  The
        # size>=1 guard keeps the empty-doc whole-text fallback
        # byte-identical: array_join([], ' ') = ''.
        return F.when(F.size(toks) >= 1, F.array_distinct(toks)).otherwise(
            F.array(F.array_join(toks, " "))
        )
    ngrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(ngrams)).otherwise(
        F.array(F.array_join(toks, " "))
    )


# --------------------------------------------------------------------------
# Exact dedup + fingerprinting
# --------------------------------------------------------------------------


def fingerprint_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint per doc: md5 of normalized text."""
    return docs.withColumn("fingerprint", F.md5(normalized_text(F.col(text_col))))


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep exactly one row (lowest id) per distinct normalized text.

    Window over the fingerprint — ONE full-row shuffle, which on
    un-bucketed input is optimal: any fingerprint→winner-id plan still
    has to move the full rows once to re-attach payloads (a semi join
    on id shuffles the same bytes PLUS a skinny pass).  When the corpus
    IS bucketed/pre-partitioned by id (any real 100 TB deployment),
    use ``exact_dedup_ids`` + a storage-colocated semi join instead —
    then only (fingerprint, id) pairs ever cross the network.
    """
    fp = fingerprint_documents(docs, text_col)
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col))
    return (
        fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "fingerprint")
    )


def exact_dedup_ids(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Survivor ids of ``exact_dedup`` with a SKINNY shuffle only:
    the aggregation moves (32-byte fingerprint, id) pairs with a
    map-side partial min — never document payloads.  Semi-join the
    result against id-bucketed storage to materialize survivors
    without re-shuffling the corpus (the bucketing co-locates the
    join); on un-bucketed input prefer ``exact_dedup`` directly.
    """
    fp = fingerprint_documents(spread(docs), text_col)
    return (
        fp.select("fingerprint", id_col)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def exact_duplicate_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(fingerprint, n_docs, min id) for every text appearing >1 time."""
    fp = fingerprint_documents(docs, text_col)
    return (
        fp.groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    shingle_n: int = 3,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """(id, shingles, minhash: array<string>[num_hashes]).

    minhash_i = min over shingles of md5("<i>:" || shingle) — the
    lexicographic min of a uniform hex hash is a valid minhash, and it
    is reproducible in any engine with md5.

    ``tokens_df``: optional pre-tokenized ``(id_col, tokens)`` frame
    (``select(id, tokens_col(text) AS tokens)``, typically pinned) —
    shingles come from the shared token arrays and ``docs``/``text_col``
    are not touched, so N passes over one corpus tokenize once.
    """
    if tokens_df is not None:
        sh = F.array_distinct(shingles_from_tokens(F.col("tokens"), shingle_n))
        docs = tokens_df
    else:
        # materialize the token array before the gram lambda slices it
        # (n >= 2 shingles re-run normalize+split per gram otherwise —
        # the ngram_jaccard_pairs trap); single-split local files:
        # spread parallelizes the hashing
        docs = spread(docs).select(
            F.col(id_col), tokens_col(F.col(text_col)).alias("tokens")
        )
        sh = F.array_distinct(shingles_from_tokens(F.col("tokens"), shingle_n))

    def _minhash(seed: int):
        # NB: the lambda must take exactly one parameter — a two-param
        # lambda is interpreted by transform() as (element, index).
        return F.array_min(
            F.transform(F.col("shingles"), lambda x: F.md5(F.concat(F.lit(f"{seed}:"), x)))
        )

    sig = F.array(*[_minhash(i) for i in range(num_hashes)])
    return (
        docs.select(F.col(id_col), sh.alias("shingles"))
        .withColumn("minhash", sig)
    )


def lsh_band_buckets(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 3,
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [carry...], band_id, band_hash): one row per band, hash of
    that band's signature slice — docs sharing any (band_id, band_hash)
    are candidates.  ``carry`` names extra columns to keep alongside
    (e.g. the full signature) without a second pass or a join."""
    band_rows = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col("minhash")[b * rows_per_band + r] for r in range(rows_per_band)]
                )
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return signatures.select(
        id_col, *carry, F.explode(F.array(*band_rows)).alias("band")
    ).select(id_col, *carry, "band.band_id", "band.band_hash")


def pairs_within_buckets(
    buckets: DataFrame,
    bucket_cols: list[str],
    payload: F.Column,
    max_bucket_size: int,
) -> DataFrame:
    """Distinct ordered pairs (``_a`` < ``_b``) of ``payload`` values
    sharing a bucket, via group-then-bounded-expansion instead of a
    bucket self-join.

    One shuffle (the groupBy) replaces the self-join's two bucket-table
    shuffles; pair expansion is a pure codegen explode chain.  The
    anchor explode keeps every intermediate array ≤ ``max_bucket_size``
    elements (no per-row flatten of the full quadratic pair list), so
    memory per row is bounded by the cap, not the cap squared.  Buckets
    over the cap are dropped — the quadratic-corner guard; the cap is
    therefore REQUIRED here (an uncapped bucket would collect the whole
    corpus into one array; use a self-join formulation if you truly
    need uncapped).  ``payload`` may be the id itself or a struct whose
    FIRST field is the id (sort_array orders by leading field, so
    ``_a < _b`` on ids still holds).
    """
    grp = buckets.groupBy(*bucket_cols).agg(
        F.sort_array(F.collect_list(payload)).alias("_xs")
    )
    n = F.size("_xs")
    grp = grp.filter((n >= 2) & (n <= max_bucket_size))
    anchored = grp.select(
        "_xs", F.explode(F.sequence(F.lit(1), F.size("_xs") - 1)).alias("_i")
    )
    return anchored.select(
        F.element_at("_xs", F.col("_i")).alias("_a"),
        F.explode(
            F.slice("_xs", F.col("_i") + 1, F.size("_xs") - F.col("_i"))
        ).alias("_b"),
    ).distinct()


def bucket_self_join_pairs(
    buckets: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket_size: int | None,
) -> DataFrame:
    """Distinct ordered id pairs sharing a bucket via the classic
    equi-self-join (over-cap buckets dropped by an anti-join first).

    Faster than ``pairs_within_buckets`` when buckets are CHUNKY
    (median occupancy in the hundreds): the hash-probe emits pair rows
    as two bare longs, while the group form drags the collected id
    array through its explode chain.  Measured at a 16× corpus with
    ~256-occupancy SRP buckets: join 2.4 s vs expand 13 s for the same
    18M pairs; with p99-occupancy-31 minhash buckets the ranking flips
    (see ``lsh_candidate_pairs``).
    """
    if max_bucket_size is not None:
        sizes = buckets.groupBy(*bucket_cols).agg(F.count("*").alias("_n"))
        buckets = buckets.join(
            F.broadcast(sizes.filter(F.col("_n") > max_bucket_size)),
            bucket_cols,
            "left_anti",
        )
    a = buckets.select(F.col(id_col).alias("id_a"), *bucket_cols)
    b = buckets.select(F.col(id_col).alias("id_b"), *bucket_cols)
    return (
        a.join(b, bucket_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_candidate_pairs(
    buckets: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    strategy: str = "expand",
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing a band bucket.

    ``max_bucket_size`` guards the quadratic corner: buckets larger than
    the cap (e.g. boilerplate shared by millions of docs) are dropped —
    at 100 TB you'd route those to an exact-group path instead.

    ``strategy`` picks the physical shape (both produce identical
    output; both measured, SCALING.md):

    - ``"expand"`` (default) — ``pairs_within_buckets``: one
      bucket-table shuffle, group + bounded explode.  Wins when most
      buckets are SMALL (minhash banding: median ≤ a few, p99 ≤ ~400),
      where the self-join's second shuffle and probe overhead dominate.
    - ``"join"`` — ``bucket_self_join_pairs``: the equi-self-join.
      Wins when buckets are CHUNKY (occupancy engineered to O(100s),
      e.g. SRP bands, clustered simhash chunks): probe emission is two
      bare longs/row vs the expand form dragging its id array through
      the explode chain.  Also the only option uncapped (the group form
      would collect unboundedly large arrays).
    """
    if max_bucket_size is not None and strategy == "expand":
        return pairs_within_buckets(
            buckets, ["band_id", "band_hash"], F.col(id_col), max_bucket_size
        ).withColumnsRenamed({"_a": "id_a", "_b": "id_b"})
    return bucket_self_join_pairs(
        buckets, ["band_id", "band_hash"], id_col, max_bucket_size
    )


def jaccard_verify(
    pairs: DataFrame, signatures: DataFrame, threshold: float = 0.5, id_col: str = "doc_id"
) -> DataFrame:
    """(id_a, id_b, jaccard) for candidate pairs with exact shingle-set
    Jaccard ≥ threshold (computed JVM-side on the candidate set only).

    ``signatures.shingles`` must be duplicate-free per row (every
    builder in this module emits ``array_distinct`` arrays): the union
    size is then derived arithmetically as ``|A| + |B| - |A∩B|``
    instead of materializing ``array_union`` per pair — half the
    per-pair hash-set work for identical values."""
    sh = signatures.select(F.col(id_col), "shingles")
    # Stage 1 — prune on set sizes only: |A∩B| ≤ min(|A|,|B|) and
    # |A∪B| ≥ max, so jaccard ≤ min/max — a pair failing the size-ratio
    # test can never reach the threshold.  Sizes are one int per doc;
    # shipping them first means the heavy shingle arrays are only
    # joined to SURVIVING pairs.  (1e-6 slack covers the final round().)
    sz = sh.select(F.col(id_col), F.size("shingles").alias("_sz"))
    # SHUFFLE_HASH: the per-doc side must not be broadcast (it grows
    # with the corpus — forced broadcast would OOM at scale) and AQE
    # left alone may instead broadcast the multi-million-row pair list,
    # paying a driver collect + hash build per execution.  Shuffle-hash
    # joins on id are skinny-row shuffles that work at any size.
    pruned = (
        pairs.join(sz.withColumnsRenamed({id_col: "id_a", "_sz": "_sza"}).hint("shuffle_hash"), "id_a")
        .join(sz.withColumnsRenamed({id_col: "id_b", "_sz": "_szb"}).hint("shuffle_hash"), "id_b")
        .filter(
            F.least("_sza", "_szb")
            >= (threshold - 1e-6) * F.greatest("_sza", "_szb")
        )
        .select("id_a", "id_b", "_sza", "_szb")
    )
    # Stage 2 — exact verify on the pruned pair set.  Only the
    # intersection is computed per pair; the union size is exact
    # integer arithmetic over the sizes stage 1 already joined
    # (distinct arrays: |A∪B| = |A| + |B| - |A∩B|).  The intersect is
    # wrapped in ``size(shuffle(…))`` — value-identical (size is
    # permutation-invariant), but the nondeterministic marker stops
    # the optimizer inlining the threshold filter into the join
    # condition, which re-evaluated array_intersect 3x per pair
    # (twice in the pushed condition, once in the project — read the
    # formatted plan, not the intuition).
    joined = (
        pruned.join(sh.withColumnsRenamed({id_col: "id_a", "shingles": "sh_a"}).hint("shuffle_hash"), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "shingles": "sh_b"}).hint("shuffle_hash"), "id_b")
        .withColumn("_inter", F.size(F.shuffle(F.array_intersect("sh_a", "sh_b"))))
    )
    jac = F.col("_inter") / (F.col("_sza") + F.col("_szb") - F.col("_inter"))
    return (
        joined.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup: shingle → minhash → band-bucket
    join → exact-Jaccard verify.  Returns (id_a, id_b, jaccard).

    ``max_bucket_size`` defaults ON: per-bucket pair joins are
    quadratic, so saturated buckets (boilerplate, tiny vocabularies)
    otherwise scale runtime quadratically with the corpus.  Over-cap
    buckets belong to the exact-dedup path."""
    assert num_hashes % bands == 0
    sigs = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_n)
    # PIN the signature table: FIVE consumers read this subtree (the
    # band-bucket pass, jaccard_verify's two size joins and two
    # shingle joins), and Spark reuses exchanges, not arbitrary common
    # subtrees — unpinned, the tokenize + shingle + num_hashes×md5
    # pipeline re-executed once per consumer.  Lazy checkpoint is safe:
    # every downstream join is shuffle_hash and the candidate stage's
    # default "expand" strategy broadcasts nothing off this lineage.
    sigs = sigs.localCheckpoint(eager=False)
    buckets = lsh_band_buckets(sigs, bands, num_hashes // bands, id_col)
    pairs = lsh_candidate_pairs(buckets, id_col, max_bucket_size)
    return jaccard_verify(pairs, sigs, threshold, id_col)


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    audit_modulus: int,
    max_posting_size: int | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join (no LSH): candidate pairs
    via inverted-index join on shared shingles, then exact verify.

    This is an AUDIT operator, and its two blast-radius controls are
    REQUIRED keyword arguments — there are deliberately no defaults, so
    pointing it at a full corpus is an explicit decision (a TypeError
    otherwise), not a silent cluster incident:

    - ``audit_modulus``: deterministic sample — only ids with
      ``id % audit_modulus == 0`` participate (5 = the 20% audit
      slice; pass 1 to audit everything, explicitly).
    - ``max_posting_size``: shingles shared by more docs than this are
      dropped from candidate generation (stop-shingles contribute
      candidate volume quadratically but little similarity signal);
      pass None to keep them, explicitly.

    The non-approximate baseline for ``minhash_near_duplicates`` —
    quadratic only within postings of a shared shingle.  At 100 TB the
    LSH path is the default; this one is for calibration/audit on
    SAMPLES — a shingle shared by k docs costs k² join rows.
    """
    if not isinstance(audit_modulus, int) or audit_modulus < 1:
        raise ValueError(
            f"audit_modulus must be a positive int, got {audit_modulus!r}"
        )
    if audit_modulus > 1:
        docs = docs.filter(F.col(id_col) % audit_modulus == 0)
    # Tokens are MATERIALIZED as a column before the gram lambda
    # slices them (the duplicate_span_occurrences trap: slicing the
    # raw split() expression inside the transform lambda re-runs
    # normalize+split once per gram), and the shingle table is PINNED
    # — it feeds the posting explode AND both verify joins.  The
    # posting stream pins EAGERLY: the over-cap shingle list derived
    # from it is broadcast, and a broadcast-exchange thread
    # materializing a lazy checkpoint is the documented deadlock
    # class (operators/graph.py).
    sh = (
        docs.select(
            F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
        )
        .select(
            F.col(id_col),
            F.array_distinct(
                shingles_from_tokens(F.col("_toks"), shingle_n)
            ).alias("shingles"),
        )
        .localCheckpoint(eager=False)
    )
    posting = sh.select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    ).localCheckpoint(eager=True)
    if max_posting_size is not None:
        sizes = posting.groupBy("shingle").agg(F.count("*").alias("_n"))
        posting = posting.join(
            F.broadcast(sizes.filter(F.col("_n") > max_posting_size)),
            "shingle",
            "left_anti",
        ).localCheckpoint(eager=True)
    cand = (
        posting.alias("a")
        .join(posting.alias("b"), "shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return jaccard_verify(cand, sh, threshold, id_col)


def duplicate_span_occurrences(
    docs: DataFrame,
    k: int = 8,
    min_repeats: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Every position of a ``k``-token gram that occurs at least
    ``min_repeats`` times across the corpus (within-doc repeats count):
    (id, pos, end_pos, gram, n_toks) — the detection core of
    exact-substring dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better", arXiv:2107.06499, which removes any
    ≥50-token substring occurring twice; ``k`` is the minimum match
    length here).

    One shuffle: positions are generated per-row (transform over an
    index sequence, no join), then a count window partitioned by the
    gram hash marks repeated grams — hash-partition the token stream by
    gram once, filter, done.  No posting-list self-join, so cost is
    linear in corpus token count, not quadratic in duplicate count.

    The token array is MATERIALIZED as a column before the gram lambda
    touches it: Spark's subexpression elimination does not reach inside
    higher-order lambdas, so slicing the raw split() expression would
    re-run normalize+split once per position — measured 6.9 s vs 0.7 s
    at sf0.1 (same trap winnowing_fingerprints_full documents).
    """
    tok_docs = spread(docs).select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    rows = tok_docs.select(
        F.col(id_col),
        F.size(toks).alias("n_toks"),
        F.explode(
            F.when(
                F.size(toks) >= k,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(F.array_join(F.slice(toks, i, k), " ")).alias("gram"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<pos:int,gram:string>>"))
        ).alias("g"),
    ).select(
        id_col,
        "n_toks",
        F.col("g.pos").alias("pos"),
        (F.col("g.pos") + F.lit(k)).alias("end_pos"),
        F.col("g.gram").alias("gram"),
    )
    counts = Window.partitionBy("gram")
    return rows.withColumn("gram_count", F.count("*").over(counts)).filter(
        F.col("gram_count") >= min_repeats
    )


def duplicate_span_stats(
    docs: DataFrame,
    k: int = 8,
    min_repeats: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    occurrences: DataFrame | None = None,
) -> DataFrame:
    """Per-doc duplicated-substring report: repeated-gram occurrences
    merged into maximal spans (two k-gram hits starting ≤ k apart cover
    a contiguous duplicated substring), then
    ``dup_token_fraction`` = merged span tokens / doc tokens — the
    number a curation gate thresholds on to drop or trim boilerplate-
    heavy documents.

    Interval merge is the classic window recipe: a span STARTS where its
    position exceeds the running max end of all earlier spans in the
    doc; island id = running count of starts; per-island tokens =
    max(end) - min(start).  Both windows partition by doc — after the
    one gram-count shuffle in ``duplicate_span_occurrences`` this is one
    doc-keyed shuffle, so the whole operator is two shuffles of the
    token stream regardless of corpus size.  Docs with no repeated gram
    are absent (left-join + coalesce 0 in the caller if a dense report
    is needed).

    ``occurrences`` accepts a precomputed (ideally pinned)
    ``duplicate_span_occurrences`` result so a caller running several
    span consumers (occurrences ⊕ stats ⊕ trim) pays the tokenize +
    gram + gram-count shuffle ONCE — at corpus scale that is one token
    stream shuffle instead of one per consumer (measured 1.6 → 1.0 s
    at sf0.1 for the three-consumer x4 union).
    """
    occ = (
        occurrences
        if occurrences is not None
        else duplicate_span_occurrences(docs, k, min_repeats, text_col, id_col)
    )
    by_pos = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = (
        F.max("end_pos")
        .over(by_pos.rowsBetween(Window.unboundedPreceding, -1))
    )
    spans = occ.withColumn(
        "is_start",
        F.when(F.col("pos") > F.coalesce(prev_max_end, F.lit(-1)), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("is_start").over(by_pos.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_island = spans.groupBy(id_col, "island").agg(
        F.count("*").alias("n_grams"),
        (F.max("end_pos") - F.min("pos")).alias("span_tokens"),
        F.first("n_toks").alias("n_toks"),
    )
    return per_island.groupBy(id_col).agg(
        F.sum("n_grams").alias("n_dup_grams"),
        F.count("*").alias("n_spans"),
        F.sum("span_tokens").alias("dup_tokens"),
        F.round(
            F.sum("span_tokens") / F.first("n_toks").cast("double"), 6
        ).alias("dup_token_fraction"),
    )


# --------------------------------------------------------------------------
# Frequency-weighted (multiset) near-dup
# --------------------------------------------------------------------------


def token_counts(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """(id, tok, cnt) term-frequency table of the normalized text.
    ``tokens_df``: optional pre-tokenized ``(id_col, tokens)`` frame —
    same shared-scan contract as ``minhash_signatures``."""
    if tokens_df is not None:
        exploded = tokens_df.select(
            F.col(id_col), F.explode(F.col("tokens")).alias("tok")
        )
    else:
        docs = spread(docs)
        exploded = docs.select(
            F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("tok")
        )
    return exploded.groupBy(id_col, "tok").agg(F.count("*").alias("cnt"))


def multiset_jaccard_verify(
    pairs: DataFrame,
    counts: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    pre_pruned: bool = False,
) -> DataFrame:
    """(id_a, id_b, mjaccard): multiset (frequency-weighted) Jaccard —
    sum(min(tf)) / sum(max(tf)) — for candidate pairs.

    Catches permutation near-dups that set-based Jaccard cannot: on a
    small vocabulary every long document contains every word, so
    set-Jaccard saturates toward 1 while term frequencies still
    discriminate.

    Physical shape: each doc's term-frequency table is packed into ONE
    map column, joined to the pair list (per-doc side is tiny relative
    to the pair list, so AQE turns these into broadcast joins), and the
    intersection is a ``map_zip_with`` + ``aggregate`` expression
    evaluated inside codegen.  The naive alternative — explode pairs ×
    tokens and re-join on (id, tok) — materializes |pairs| × |tokens|
    shuffle rows (hundreds of millions at sf0.1 already); this shape
    keeps the work map-side and the intermediate at exactly |pairs|.
    """
    tf = counts.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("tok", "cnt"))).alias("tf"),
        F.sum("cnt").alias("total"),
    )
    # size(shuffle(…))-class barrier: the shuffled values list sums
    # identically (integer addition is commutative), and the
    # nondeterministic marker stops the threshold filter being inlined
    # into the join condition, which would re-run the whole map fold
    # per pair a second time — the jaccard_verify lesson.
    inter = F.aggregate(
        F.shuffle(
            F.map_values(
                F.map_zip_with(
                    "tf_a", "tf_b",
                    lambda _k, va, vb: F.least(F.coalesce(va, F.lit(0)), F.coalesce(vb, F.lit(0))),
                )
            )
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    jac = F.col("inter") / (F.col("total_a") + F.col("total_b") - F.col("inter"))
    # Stage 1 — exact pruning bound on TOTALS ONLY, before any map is
    # shipped: inter ≤ min(totals) and the union ≥ max(totals), so
    # mjaccard ≤ min/max — a pair failing the length-ratio test can
    # never reach the threshold.  Totals are one long per doc; the map
    # columns (the heavy payload) are only joined to pairs that survive.
    # (1e-6 slack covers the final round().)
    if pre_pruned:
        # pairs already carry (total_a, total_b) and passed the ratio
        # bound upstream (totals rode the bucket tables — see
        # weighted_near_duplicates): skip the two per-pair totals joins
        pruned = pairs
    else:
        tots = tf.select(F.col(id_col), "total")
        # SHUFFLE_HASH on the per-doc sides: they must not be broadcast
        # (they grow with the corpus — forced broadcast would OOM at
        # scale), and AQE left alone may instead broadcast the
        # sub-threshold but multi-million-row pair list, paying a
        # driver collect + hash build per execution.  Shuffle-hash on
        # id works at any size.
        pruned = (
            pairs.join(tots.withColumnsRenamed({id_col: "id_a", "total": "total_a"}).hint("shuffle_hash"), "id_a")
            .join(tots.withColumnsRenamed({id_col: "id_b", "total": "total_b"}).hint("shuffle_hash"), "id_b")
            .filter(
                F.least("total_a", "total_b")
                >= (threshold - 1e-6) * F.greatest("total_a", "total_b")
            )
        )
    # Stage 2 — map intersection on the pruned pair set only.
    maps_a = tf.select(F.col(id_col).alias("id_a"), F.col("tf").alias("tf_a"))
    maps_b = tf.select(F.col(id_col).alias("id_b"), F.col("tf").alias("tf_b"))
    return (
        pruned.join(maps_a.hint("shuffle_hash"), "id_a")
        .join(maps_b.hint("shuffle_hash"), "id_b")
        .withColumn("inter", inter)
        .withColumn("mjaccard", F.round(jac, 6))
        .filter(F.col("mjaccard") >= threshold)
        .select("id_a", "id_b", "mjaccard")
    )


def cross_corpus_near_duplicates(
    docs: DataFrame,
    eval_docs: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
    num_hashes: int = 16,
    bands: int = 2,
    shingle_n: int = 1,
    train_tokens: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, eval_id, mjaccard): training docs that are FUZZY
    near-duplicates of an eval/benchmark doc — the MinHash bridge
    between ``text.ngram_decontaminate`` (exact n-gram overlap; misses
    token-level paraphrase) and ``similarity.embedding_decontaminate``
    (semantic; needs vectors).  Catches lightly-edited benchmark text —
    reordered sentences, small substitutions — that defeats exact grams
    without requiring an embedding model.

    Scale shape — bipartite, like the embedding variant: both corpora
    get signatures from the SAME md5 minhash family, but the eval side
    is small by nature, so its band table, totals, and tf-maps all
    BROADCAST; the training corpus is scanned for signatures and then
    shuffles only candidate/verify rows keyed by its own ids — there is
    no quadratic bucket self-join anywhere.  The verify stays staged:
    the totals-ratio prune (one long per side) runs before any tf-map
    payload is joined (mjaccard ≤ min(total)/max(total), exact bound).

    ``train_tokens``: optional pre-tokenized ``(id_col, tokens)`` frame
    for the TRAIN side (pin it) — signatures, totals, and the tf-map
    build all read the shared token arrays, so a decontamination trio
    sharing one corpus tokenizes it once instead of once per pass.
    """
    t_sigs = minhash_signatures(
        docs, text_col, id_col, num_hashes, shingle_n, tokens_df=train_tokens
    )
    e_sigs = minhash_signatures(eval_docs, text_col, eval_id_col, num_hashes, shingle_n)
    rows = num_hashes // bands
    # Stage 1 (cheap): totals are just the token-array SIZE — a map-only
    # projection, no token explode/shuffle.  They ride the BUCKET
    # tables (bands × docs rows — the small side of everything) so the
    # length-ratio prune applies INSIDE the band join, before the
    # distinct: the candidate stream never exists unpruned, and the two
    # per-pair totals joins the old shape paid (candidates × 2) are
    # gone.  Same surviving pairs, same mjaccard — the bound is exact.
    if train_tokens is not None:
        tot_a = train_tokens.select(
            F.col(id_col), F.size(F.col("tokens")).alias("total_a")
        )
    else:
        tot_a = docs.select(
            F.col(id_col), F.size(tokens_col(F.col(text_col))).alias("total_a")
        )
    e_tot = eval_docs.select(
        F.col(eval_id_col),
        F.size(tokens_col(F.col(text_col))).alias("total_b"),
    )
    t_buckets = lsh_band_buckets(t_sigs, bands, rows, id_col).join(
        tot_a.hint("shuffle_hash"), id_col
    )
    e_buckets = lsh_band_buckets(e_sigs, bands, rows, eval_id_col).join(
        e_tot, eval_id_col
    )
    pruned = (
        t_buckets.join(F.broadcast(e_buckets), ["band_id", "band_hash"])
        .filter(
            F.least("total_a", "total_b")
            >= (threshold - 1e-6) * F.greatest("total_a", "total_b")
        )
        .select(id_col, eval_id_col, "total_a", "total_b")
        .distinct()
    )

    def _tf(frame: DataFrame, key: str) -> DataFrame:
        return token_counts(frame, text_col, key).groupBy(key).agg(
            F.map_from_entries(F.collect_list(F.struct("tok", "cnt"))).alias("tf"),
            F.sum("cnt").alias("total"),
        )

    # The tf-MAP build (explode + collect_list + map_from_entries over
    # every token) runs only for candidate-surviving train docs
    # (stage 2) — the same staged-verify contract d9 already keeps.
    e_tf = _tf(eval_docs, eval_id_col)
    # Stage 2 (heavy, candidates only): eval-side collisions bound the
    # survivor set, so its id list broadcasts; the corpus is filtered by
    # a broadcast semi join — never shuffled — before the map build.
    # The pruned pair table is pinned once (it is read twice: as the
    # survivor id source and as the output spine), so candidate
    # generation never re-executes.
    pruned = pruned.localCheckpoint(eager=False)
    surv = pruned.select(id_col).distinct()
    if train_tokens is not None:
        t_tf = (
            token_counts(
                None,
                id_col=id_col,
                tokens_df=train_tokens.join(F.broadcast(surv), id_col, "left_semi"),
            )
            .groupBy(id_col)
            .agg(
                F.map_from_entries(F.collect_list(F.struct("tok", "cnt"))).alias("tf"),
                F.sum("cnt").alias("total"),
            )
        )
    else:
        t_tf = _tf(docs.join(F.broadcast(surv), id_col, "left_semi"), id_col)
    # size(shuffle(…))-class barrier: the shuffled values list sums
    # identically (integer addition is commutative), and the
    # nondeterministic marker stops the threshold filter being inlined
    # into the join condition, which would re-run the whole map fold
    # per pair a second time — the jaccard_verify lesson.
    inter = F.aggregate(
        F.shuffle(
            F.map_values(
                F.map_zip_with(
                    "tf_a", "tf_b",
                    lambda _k, va, vb: F.least(F.coalesce(va, F.lit(0)), F.coalesce(vb, F.lit(0))),
                )
            )
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    jac = F.col("inter") / (F.col("total_a") + F.col("total_b") - F.col("inter"))
    return (
        pruned.join(
            t_tf.select(id_col, F.col("tf").alias("tf_a")).hint("shuffle_hash"), id_col
        )
        .join(F.broadcast(e_tf.select(eval_id_col, F.col("tf").alias("tf_b"))), eval_id_col)
        .withColumn("inter", inter)
        .withColumn("mjaccard", F.round(jac, 6))
        .filter(F.col("mjaccard") >= threshold)
        .select(id_col, eval_id_col, "mjaccard")
    )


def weighted_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_bucket_size: int | None = 1024,
    num_hashes: int = 16,
    bands: int = 2,
) -> DataFrame:
    """MinHash-LSH candidates (unigram, set-based — permutation dups
    have identical token sets, so set-Jaccard 1.0 and guaranteed
    candidacy) verified by exact multiset Jaccard.  The production
    near-dup detector for bag-of-words duplicates.

    Scale note: the default band curve is deliberately STEEP (2 bands ×
    8 rows, P(candidate) = 1-(1-j^8)^2) because this detector targets a
    high threshold (0.8): on saturated-vocabulary corpora a shallow
    3-row curve admits most of the O(n²) pair space as candidates and
    the verify join becomes the bottleneck; 8-row bands cut candidates
    ~15-20× while j≈1 true duplicates still collide with certainty."""
    # ONE pinned tokenize pass shared by the THREE token consumers
    # (minhash signatures, the length totals, the verify's tf table) —
    # each used to re-run scan→normalize→split over the corpus (the
    # x13 train_toks pattern).  EAGER: the verify's tf-map sides are
    # deliberately broadcastable (AQE picks broadcast when they fit),
    # and a broadcast-exchange thread must never be the first to
    # materialize a lazy checkpoint (the r10 deadlock class).
    toks = (
        spread(docs)
        .select(F.col(id_col), tokens_col(F.col(text_col)).alias("tokens"))
        .localCheckpoint(eager=True)
    )
    sigs = minhash_signatures(
        docs, text_col, id_col, num_hashes, shingle_n=1, tokens_df=toks
    )
    buckets = lsh_band_buckets(sigs, bands, num_hashes // bands, id_col)
    if max_bucket_size is not None:
        # totals ride the BUCKET rows (bands × docs — the small side),
        # so the exact length-ratio bound prunes pairs as the expansion
        # emits them, before the distinct; the verify then skips its
        # two per-pair totals joins.  Same surviving pairs and scores
        # (the bound is exact) — only the join count changes.
        tot = toks.select(F.col(id_col), F.size("tokens").alias("total"))
        buckets = buckets.join(tot.hint("shuffle_hash"), id_col)
        pairs = pairs_within_buckets(
            buckets,
            ["band_id", "band_hash"],
            F.struct(F.col(id_col), F.col("total")),
            max_bucket_size,
        ).select(
            F.col("_a")[id_col].alias("id_a"),
            F.col("_b")[id_col].alias("id_b"),
            F.col("_a")["total"].alias("total_a"),
            F.col("_b")["total"].alias("total_b"),
        ).filter(
            F.least("total_a", "total_b")
            >= (threshold - 1e-6) * F.greatest("total_a", "total_b")
        )
        return multiset_jaccard_verify(
            pairs,
            token_counts(None, text_col, id_col, tokens_df=toks),
            threshold,
            id_col,
            pre_pruned=True,
        )
    pairs = lsh_candidate_pairs(buckets, id_col, max_bucket_size)
    return multiset_jaccard_verify(
        pairs, token_counts(None, text_col, id_col, tokens_df=toks), threshold, id_col
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """(id, simhash) — simhash as a ``bits``-char '0'/'1' string.

    Classic Charikar simhash over distinct tokens, weight 1: every
    token hashes to `bits` bits (md5 hex → 4 bits per hex char); each
    bit position accumulates +1/-1 votes across tokens; the sign picks
    the output bit.  Implemented as one aggregate/zip_with expression —
    per-row, codegen'd, no explode (a pandas_udf variant only becomes
    worthwhile if `bits` × tokens per doc gets extreme).

    A '0'/'1' string (not a signed bigint) keeps the value portable
    across engines for oracle comparison.
    """
    docs = spread(docs)  # single-split local files: parallelize hashing
    assert bits <= 128 and bits % 4 == 0
    hex_chars = bits // 4
    toks = F.array_distinct(tokens_col(F.col(text_col)))

    # STAGED through lambda variables: expression subtrees inside
    # higher-order-function lambdas get no common-subexpression
    # elimination, so the old one-lambda form (votes referencing
    # conv(substring(md5(tok), p, 1)) per bit) re-hashed the token for
    # EVERY one of the 64 bit votes.  Stage 1 computes md5 once per
    # token; stage 2 extracts each nibble once (conv over the hash
    # LAMBDA VARIABLE, not a recomputed md5 subtree); stage 3 fans a
    # nibble out to its 4 votes.  Values are identical — same hash,
    # same MSB-first bit order, same +1/−1 votes.
    nibs_per_token = F.transform(
        toks,
        # md5 evaluates ONCE per token while building the 1-element
        # array; the nibble lambda then substrings the lambda VARIABLE
        lambda t: F.transform(
            F.array(F.md5(t)),
            lambda h: F.transform(
                F.sequence(F.lit(1), F.lit(hex_chars)),
                lambda p: F.conv(F.substring(h, p, 1), 16, 10).cast("int"),
            ),
        )[0],
    )

    def nib_votes(nib):
        return F.array(
            *[
                F.when(nib.bitwiseAND(F.lit(1 << b)) > 0, F.lit(1)).otherwise(
                    F.lit(-1)
                )
                for b in (3, 2, 1, 0)
            ]
        )

    votes = F.aggregate(
        nibs_per_token,
        F.array_repeat(F.lit(0), bits),
        lambda acc, nb: F.zip_with(
            acc, F.flatten(F.transform(nb, nib_votes)), lambda a, b: a + b
        ),
    )
    sim = F.array_join(
        F.transform(votes, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))), ""
    )
    return docs.select(F.col(id_col), sim.alias("simhash"))


def hamming_distance_bits(a, b, bits: int = 64):
    """Column: Hamming distance between two '0'/'1' bit-string columns,
    computed in INTEGER space — pack each string into 32-bit pieces via
    ``conv(_, 2, 10)`` and sum ``bit_count(piece_a XOR piece_b)``.
    Replaces the split→zip_with→filter→size array fold (two 64-element
    array allocations per candidate pair) with pure whole-stage-codegen
    arithmetic; values are identical.  32-bit pieces so the conv result
    always fits a signed long (a full 64-bit conv with the MSB set
    overflows the cast).

    The piece counts are summed through ``aggregate(shuffle(…))`` —
    value-identical (integer addition commutes over the 2-element
    list), but the nondeterministic marker stops a downstream
    ``hamming <= k`` filter being inlined into the candidate join
    condition, which would re-evaluate the conv/bit_count chain per
    pair a second time (the jaccard_verify plan lesson)."""
    npieces = (bits + 31) // 32
    pieces = []
    for i in range(npieces):
        width = min(32, bits - i * 32)
        xa = F.conv(F.substring(a, i * 32 + 1, width), 2, 10).cast("long")
        xb = F.conv(F.substring(b, i * 32 + 1, width), 2, 10).cast("long")
        pieces.append(F.bit_count(xa.bitwiseXOR(xb)))
    total = F.aggregate(
        F.shuffle(F.array(*pieces)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return total.cast("int")


def hamming_near_duplicates(
    sigs: DataFrame,
    sig_col: str = "simhash",
    id_col: str = "doc_id",
    bits: int = 64,
    chunks: int = 8,
    max_hamming: int = 6,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs within ``max_hamming`` bits over ANY
    '0'/'1' bit-string signature table — the pigeonhole chunk-bucket
    machinery shared by text simhash (``simhash_near_duplicates``) and
    image dHash (``multimodal.image_dhash`` →
    ``image_near_duplicates``).

    Candidate generation by the pigeonhole trick: split the signature
    into ``chunks`` equal substrings; when ``max_hamming < chunks`` a
    pair within the bound cannot differ in every chunk, so it shares at
    least one exact chunk — recall is EXACT (the defaults 8/6 satisfy
    this; callers weakening to chunks ≤ max_hamming get a documented
    approximate mode with reduced recall, traded for fewer/larger
    chunk buckets).  Equi-join per chunk — same shuffle shape as
    MinHash banding, and the same per-bucket quadratic corner:
    ``max_bucket_size`` (default ON) drops over-cap chunk buckets
    (dominated by near-identical boilerplate — the exact-dedup path's
    job).
    """
    sigs = sigs.select(F.col(id_col), F.col(sig_col).alias("simhash"))
    if max_bucket_size is not None:
        # (id, sig) feeds the chunk buckets AND both sides of the
        # verify join — materialize the signature expression once.
        sigs = sigs.localCheckpoint(eager=False)
    clen = bits // chunks
    chunk_rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("chunk_id"),
                    F.substring("simhash", c * clen + 1, clen).alias("chunk"),
                )
                for c in range(chunks)
            ]
        )
    ).alias("ch")
    buckets = sigs.select(id_col, "simhash", chunk_rows).select(
        id_col, "simhash", "ch.chunk_id", "ch.chunk"
    )
    if max_bucket_size is not None:
        # Pairs are generated and deduplicated as BARE IDS (16
        # bytes/row) — on clustered corpora the same pair collides in up
        # to ``chunks`` chunk buckets, so the pre-distinct stream is
        # large and must stay skinny; the signature strings are joined
        # back only for the distinct survivors.  Self-join strategy:
        # simhash chunk buckets on clustered corpora are CHUNKY (p99
        # ~800 at sf0.1), where probe emission beats the expand form
        # (measured 1.3 s vs 2.3 s for the same 3.1M pairs).
        ids = bucket_self_join_pairs(
            buckets, ["chunk_id", "chunk"], id_col, max_bucket_size
        )
        cand = ids.join(
            sigs.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a")).hint("shuffle_hash"),
            "id_a",
        ).join(
            sigs.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b")).hint("shuffle_hash"),
            "id_b",
        )
    else:
        a = buckets.select(
            F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "chunk_id", "chunk"
        )
        b = buckets.select(
            F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "chunk_id", "chunk"
        )
        cand = (
            a.join(b, ["chunk_id", "chunk"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sim_a", "sim_b")
            .distinct()
        )
    hamming = hamming_distance_bits(F.col("sim_a"), F.col("sim_b"), bits)
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    chunks: int = 8,
    max_hamming: int = 6,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs of near-duplicate DOCUMENTS by
    simhash — ``hamming_near_duplicates`` over
    ``simhash_signatures``; see there for the pigeonhole/caps story."""
    return hamming_near_duplicates(
        simhash_signatures(docs, text_col, id_col, bits),
        "simhash",
        id_col,
        bits,
        chunks,
        max_hamming,
        max_bucket_size,
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """(doc_id, group_id) connected components of the pair graph,
    group_id = the component's minimum doc id — the transitive closure
    that turns pairwise near-dup hits into dedup GROUPS.

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbors; converges in
    O(component diameter) rounds (near-dup clusters are tiny — the
    20-round cap is generous), checked with a per-round changed-count
    action.  This is the driver-coordinated-iteration pattern (like
    k-means/PageRank): per-round work is two shuffles on node id, state
    lives in DataFrames, the driver only sees one scalar per round.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        # The STATIC input of the iteration: referenced every round, so
        # without a checkpoint each round re-executes the entire
        # upstream pair pipeline (measured: 16× d10 spent ~50 of its
        # 65 s re-running d9 per round).  Iterative algorithms must pin
        # their static inputs, not just their evolving state.
        .localCheckpoint(eager=False)
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels.withColumnsRenamed({"node": "dst", "label": "nl"}), "dst")
            .groupBy("src")
            .agg(F.min("nl").alias("neighbor_label"))
            .withColumnRenamed("src", "node")
        )
        updated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    "label", F.coalesce("neighbor_label", F.col("label"))
                ).alias("label"),
                (F.coalesce("neighbor_label", F.col("label")) < F.col("label")).alias(
                    "_changed"
                ),
            )
        ).localCheckpoint(eager=True)  # truncate the per-round lineage
        changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if changed == 0:
            break
    else:
        # diameter > max_iterations: labels are NOT the transitive
        # closure — never return silently-wrong groups
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"rounds ({changed} labels still changing): the pair graph has "
            "a component with diameter above the round cap. Raise "
            "max_iterations, or use connected_components_star (large-star/"
            "small-star), which converges in O(log^2 n) rounds on any graph."
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("group_id"))


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 30,
) -> DataFrame:
    """(doc_id, group_id) connected components via alternating
    large-star / small-star rounds — the giant-component-safe variant.

    Plain min-label propagation needs O(component diameter) rounds: right
    for tiny near-dup clusters, wrong for adversarial graphs (a chain of
    pairwise-similar docs has diameter = length).  The large-star /
    small-star alternation (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014 — public) converges in
    O(log² n) rounds regardless of shape:

    - large-star: every node links its LARGER neighbors to its minimum
      neighborhood label (min over N(u) ∪ {u});
    - small-star: every node relinks its smaller-or-equal neighbors and
      itself to that minimum.

    Both are one groupBy + one join on node id per round; the edge set
    only shrinks toward the star fixed point (each node → component
    min).  Per-round convergence check is one (count, hash-sum) scalar
    pair — no edge-set anti-join.

    Small-graph fast path: near-dup pair graphs are usually SPARSE
    (the whole point of dedup thresholds), and each distributed round
    costs two shuffles of driver-side planning + a blocking job —
    pure overhead when the edge set is a few thousand rows.  When the
    distinct pair set fits ``KSIQ_CC_DRIVER_EDGE_CAP`` (default 65536
    edges, ≈ 1 MB — an explicitly BOUNDED driver buffer, the
    bounded-collect convention), components are labeled by one
    driver-side min-union-find over the already-materialized pin and
    returned as a local relation: identical labels (component-minimum
    id, the star fixed point) with zero iterative rounds.  Larger
    graphs take the distributed alternation unchanged — the 100 TB
    path does not depend on the cap.
    """
    import os as _os

    # pin the DISTINCT PAIR SET (self-loops kept): round 1 references
    # the edges several times (union + join sides) and the final node
    # table below also reads THIS pin — without it each reference
    # re-executes the upstream pair pipeline (the node table alone was
    # a full second LSH-pipeline execution in the labeling job).
    E0 = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    E = E0.filter(F.col("u") != F.col("v"))

    cap = int(_os.environ.get("KSIQ_CC_DRIVER_EDGE_CAP", "65536"))
    if cap > 0:
        # one bounded action: returns ≤ cap+1 rows.  NB a LIMIT job may
        # compute only a PREFIX of E0's partitions, so this does not by
        # itself fully materialize the lazy pin — fine on the small-graph
        # path (the collected rows are the whole graph), but the
        # distributed fallback below must force the rest first.
        head = E0.limit(cap + 1).collect()
        if len(head) > cap:
            # falling through to the distributed alternation: fully
            # materialize the pin now, or the partitions the LIMIT never
            # touched would re-execute the upstream pair pipeline in
            # round 1 AND in the final node-table job.
            E0.count()
        if len(head) <= cap:
            parent: dict = {}

            def _find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for row in head:
                for n in (row.u, row.v):
                    if n is not None and n not in parent:
                        parent[n] = n
                # NULL != NULL is NULL in SQL: a null-endpoint edge
                # links nothing (matches the distributed filter)
                if row.u is None or row.v is None or row.u == row.v:
                    continue
                ru, rv = _find(row.u), _find(row.v)
                if ru != rv:
                    # min-root union: the root IS the component min
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
            id_type = pairs.schema[id_a].dataType.simpleString()
            return pairs.sparkSession.createDataFrame(
                [(n, _find(n)) for n in parent],
                f"doc_id {id_type}, group_id {id_type}",
            )

    def _fingerprint(edges: DataFrame) -> tuple[int, int]:
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor, not sum: order/overflow-free set fingerprint
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return int(row.n), int(row.h)

    def _large_star(edges: DataFrame) -> DataFrame:
        both = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = both.groupBy("u").agg(F.min("v").alias("_mn")).select(
            "u", F.least(F.col("u"), F.col("_mn")).alias("m")
        )
        return (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(edges: DataFrame) -> DataFrame:
        # orient every edge toward the smaller endpoint
        directed = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        relink = (
            directed.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        return relink

    prev = None
    for _ in range(max_iterations):
        # LAZY checkpoint + the fingerprint aggregate as its
        # materializing action: one blocking job per round instead of
        # two (eager-checkpoint job + collect job).  Safe against the
        # broadcast-under-lazy-checkpoint deadlock because the
        # fingerprint collect below materializes E before any later
        # round's join can broadcast off this lineage.
        E = _small_star(_large_star(E)).localCheckpoint(eager=False)
        fp = _fingerprint(E)
        if fp == prev:
            break
        prev = fp
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iterations} rounds"
        )

    # fixed point: E holds (node -> component min) for every non-min
    # node; min nodes label themselves.  Nodes read the PINNED pair
    # set (E0 keeps self-loops, so self-pair-only nodes still label
    # themselves), not the raw pair pipeline.
    nodes = (
        E0.select(F.col("u").alias("doc_id"))
        .union(E0.select(F.col("v").alias("doc_id")))
        # a null endpoint is not a node: without this a corrupt edge
        # emits a phantom (NULL, NULL) component row (its edges are
        # already dropped by the u != v null semantics above)
        .filter(F.col("doc_id").isNotNull())
        .distinct()
    )
    return (
        nodes.join(E.withColumnsRenamed({"u": "doc_id", "v": "_m"}), "doc_id", "left")
        .select("doc_id", F.coalesce("_m", F.col("doc_id")).alias("group_id"))
    )


def connected_components_local(
    pairs: DataFrame,
    part_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(doc_id, group_id) connected components for a PARTITION-LOCAL
    edge set: every edge's endpoints share ``part_col`` and no node
    appears under two partition values (e.g. SemDeDup's within-cluster
    pairs — each vector belongs to exactly one cluster).  Under that
    contract components factor exactly by partition, so one
    ``applyInPandas`` union-find per partition replaces the global
    O(log² n) large-star/small-star iteration: ONE shuffle and zero
    driver-coordinated rounds instead of ~2 shuffles + a convergence
    count per round (measured 3.2 s → 0.3 s on semdedup's sf0.1 pair
    graph).

    Group-local is the documented Arrow slow path, but the group is
    bounded: per-partition state is O(nodes + edges) of ONE cluster,
    and callers that cap partition size (``max_cluster_size``) bound it
    a priori.  For global graphs (corpus-wide near-dup pairs) use
    ``connected_components_star`` — there is no partition key there and
    components span the whole corpus.

    ``group_id`` is the component-minimum node id — identical output to
    the star variant on the same edges.
    """
    id_type = dict(pairs.dtypes)[id_a]

    def _union_find(pdf):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            # path compression
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(pdf[id_a], pdf[id_b]):
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min keeps roots = component minima directly
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        nodes = set(pdf[id_a]).union(pdf[id_b])
        return pd.DataFrame(
            {"doc_id": list(nodes), "group_id": [find(n) for n in nodes]}
        )

    return (
        # null-endpoint edges are DROPPED, matching the star variant
        # (there `u != v` evaluates to null and filters them); a null
        # would otherwise crash the union-find's ordering comparison
        pairs.select(part_col, id_a, id_b)
        .filter(F.col(id_a).isNotNull() & F.col(id_b).isNotNull())
        .groupBy(part_col)
        .applyInPandas(_union_find, f"doc_id {id_type}, group_id {id_type}")
    )


def near_duplicate_groups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    method: str = "star",
) -> DataFrame:
    """Transitive near-dup groups: weighted_near_duplicates pairs →
    connected components.  (doc_id, group_id) for every doc in ≥1 pair.

    ``method="star"`` (default) uses large-star/small-star: it is both
    faster on dense pair graphs (16× stress corpus: 3.8 s vs 6.2 s,
    SCALING.md) and diameter-safe — label propagation hard-errors past
    its round cap on adversarial chains, the star alternation converges
    in O(log² n) rounds on any graph.  ``method="label"`` keeps plain
    min-label propagation (fewer shuffles per round on tiny-diameter
    graphs).  Both emit group_id = component-minimum doc id, so results
    are identical whichever runs.
    """
    pairs = weighted_near_duplicates(docs, text_col, id_col, threshold)
    if method == "star":
        return connected_components_star(pairs)
    if method == "label":
        return connected_components(pairs)
    raise ValueError(f"unknown method {method!r}: expected 'star' or 'label'")


def exact_dedup_incremental(
    new_docs: DataFrame,
    seen_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch-incremental exact dedup: survivors of ``new_docs`` that are
    duplicates neither of the already-landed corpus (``seen_fingerprints``:
    a 1-column ``fingerprint`` table, e.g. the landed corpus's
    ``fingerprint_documents`` output kept as a side table) nor of each
    other — the daily-increment pattern, where re-fingerprinting the
    whole historical corpus per batch would be O(corpus) instead of
    O(batch).

    Shuffle profile: intra-batch dedup is ``exact_dedup`` over the NEW
    batch only; the history check is an anti join on the 32-char
    fingerprint — broadcast when the seen set is small, shuffle-hash on
    the skinny hash column otherwise (never document payloads).  The
    streaming analog with watermark-bounded state is
    ``streaming.pipeline.streaming_exact_dedup``.
    """
    batch = exact_dedup(new_docs, text_col, id_col)
    fp = fingerprint_documents(batch, text_col)
    return fp.join(
        seen_fingerprints.select("fingerprint"), "fingerprint", "left_anti"
    ).drop("fingerprint")


# tracking query params dropped by URL canonicalization (C4/RefinedWeb
# run URL-level dedup BEFORE any text dedup — arXiv:2306.01116 §3.2);
# matched against the full `name=value` token, so `utm_sourcey=x` (a
# different param) survives while `utm_source` with or without a value
# is dropped
_TRACKING_PARAM_PATTERN = r"^(utm_[^=&]*|fbclid|gclid|msclkid|ref)(=|$)"


def canonicalize_url_col(col: F.Column) -> F.Column:
    """RFC 3986-style URL normalization as ONE Column expression chain
    (zero shuffle, zero Python; replayable in any engine with regex +
    list ops): strip the fragment, uppercase percent-escape hex (%2f →
    %2F — escapes are case-insensitive, paths are not), lowercase the
    scheme and host, drop userinfo (``user:pw@`` is never part of
    resource identity), drop the scheme's default port (:80 http /
    :443 https), normalize the empty path to ``/``, drop tracking
    params (``utm_*``, fbclid, gclid, msclkid, ref) and sort the
    surviving query params byte-lexicographically.

    A string with no ``scheme://`` is treated as an opaque key: it gets
    only the trim + %-case normalization (degrade, never NULL).
    IDN→punycode is out of scope for the expression form (needs a
    codec table); hosts are lowercased as-is.
    """
    raw = F.trim(col)
    # fragment off first — everything after '#' is client-side
    x = F.substring_index(raw, "#", 1)
    # uppercase %xx: split on '%', re-join with the 2 hex chars upper'd
    parts = F.split(x, "%")
    x = F.concat(
        F.element_at(parts, 1),
        F.array_join(
            F.transform(
                F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0))),
                lambda p: F.concat(
                    F.lit("%"),
                    F.upper(F.substring(p, 1, 2)),
                    F.substring(p, 3, 1 << 24),
                ),
            ),
            "",
        ),
    )
    scheme = F.lower(F.regexp_extract(x, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(x, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    auth = F.regexp_extract(rest, r"^([^/?]*)", 1)
    tail = F.substring(rest, F.length(auth) + 1, 1 << 24)
    # userinfo off (up to the FIRST '@' — later '@'s are malformed),
    # host+port lowercased
    host = F.lower(F.regexp_replace(auth, r"^[^@/?]*@", ""))
    host = F.when(scheme == "http", F.regexp_replace(host, ":80$", "")).when(
        scheme == "https", F.regexp_replace(host, ":443$", "")
    ).otherwise(host)
    path = F.regexp_extract(tail, r"^([^?]*)", 1)
    query = F.when(
        F.length(tail) > F.length(path),
        F.substring(tail, F.length(path) + 2, 1 << 24),
    ).otherwise(F.lit(""))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    kept_params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "")
            & ~F.regexp_like(p, F.lit(_TRACKING_PARAM_PATTERN)),
        )
    )
    qpart = F.when(
        F.size(kept_params) > 0,
        F.concat(F.lit("?"), F.array_join(kept_params, "&")),
    ).otherwise(F.lit(""))
    return F.when(scheme == "", x).otherwise(
        F.concat(scheme, F.lit("://"), host, path, qpart)
    )


def url_dedup(
    docs: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    canonical_col: str | None = None,
) -> DataFrame:
    """URL-level first-occurrence dedup — the stage C4/RefinedWeb run
    BEFORE any text dedup (two fetches of one canonical URL are the
    same document regardless of text mutations like rotating ads):
    keep the lowest-id row per ``canonicalize_url_col`` value.

    Output: (id, url, canonical_url, n_dups) — one row per KEPT doc,
    ``n_dups`` = how many raw URLs collapsed onto its canonical form.

    Scale shape: canonicalization is a map-only Column chain; the
    keeper is a min-struct AGGREGATE on the canonical string (map-side
    partial min — a hot URL costs one partial row per map task, the
    ``line_dedup`` argmin pattern, never a window funnel).

    ``canonical_col`` names an ALREADY-canonicalized column to reuse —
    the shared-scan contract for pipelines that also run
    ``host_stats``/``host_gate`` over the same URLs (canonicalize
    once, aggregate twice)."""
    canon = docs.select(
        F.col(id_col),
        F.col(url_col).alias("url"),
        (
            F.col(canonical_col)
            if canonical_col is not None
            else canonicalize_url_col(F.col(url_col))
        ).alias("canonical_url"),
    )
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.min(F.struct(id_col, "url")).alias("_w"),
            F.count("*").alias("n_dups"),
        )
        .select(
            F.col(f"_w.{id_col}").alias(id_col),
            F.col("_w.url").alias("url"),
            "canonical_url",
            F.col("n_dups").cast("long").alias("n_dups"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    min_repeats: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    occurrences: DataFrame | None = None,
) -> DataFrame:
    """Excise every merged duplicated span from each document — the
    remediation step of exact-substring dedup (Lee et al.
    arXiv:2107.06499 cut the repeated substrings out of the corpus
    rather than dropping whole docs).  Returns every input doc with
    ``trimmed_text`` (tokens inside any repeated span removed; docs
    with no repeated span pass through normalized-joined) and
    ``removed_tokens``.

    Shape: ``duplicate_span_stats``'s two shuffles + a per-doc
    collect_list of its (bounded: ≤ n_tokens/k) merged spans + one
    equi-join back to the corpus + a pure filter-by-position
    projection.  The span list rides a broadcastable skinny table when
    few docs are affected — Catalyst/AQE decides; nothing here is ever
    quadratic.

    ``occurrences``: precomputed ``duplicate_span_occurrences`` table,
    same single-shuffle sharing contract as ``duplicate_span_stats``.
    """
    occ = (
        occurrences
        if occurrences is not None
        else duplicate_span_occurrences(docs, k, min_repeats, text_col, id_col)
    )
    by_pos = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max("end_pos").over(
        by_pos.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        occ.withColumn(
            "is_start",
            F.when(F.col("pos") > F.coalesce(prev_max_end, F.lit(-1)), 1).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("is_start").over(by_pos.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "island")
        .agg(F.min("pos").alias("s"), F.max("end_pos").alias("e"))
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("spans"))
    )
    toks = tokens_col(F.col(text_col))
    with_spans = docs.join(spans, id_col, "left").select(
        F.col(id_col),
        toks.alias("toks"),
        F.coalesce(
            F.col("spans"), F.array().cast("array<struct<s:int,e:int>>")
        ).alias("spans"),
    )
    kept = F.filter(
        F.col("toks"),
        lambda tok, i: ~F.exists(
            F.col("spans"), lambda sp: (i + 1 >= sp["s"]) & (i + 1 < sp["e"])
        ),
    )
    return with_spans.select(
        id_col,
        F.array_join(kept, " ").alias("trimmed_text"),
        (F.size("toks") - F.size(kept)).alias("removed_tokens"),
    )


def edit_distance_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_a, id_b, edit_dist, edit_sim): exact character-level
    Levenshtein distance over an already-bounded candidate pair list,
    with ``edit_sim = 1 - dist / max(len_a, len_b)``.

    The precision audit layer for the token-level detectors: Jaccard
    and MinHash are order-insensitive, so reordered paraphrases score
    high; edit distance is the order-sensitive cross-check.  O(len²)
    per pair (JVM built-in, whole-stage codegen) — NEVER pointed at a
    raw corpus; the input must be a candidate list an upstream LSH or
    posting join already bounded.  Texts are joined to pairs via
    shuffle-hash on the id (the doc table grows with the corpus —
    broadcast would OOM; the pair list must not be driver-collected),
    the same staging contract as ``jaccard_verify``.
    """
    txt = docs.select(F.col(id_col), F.col(text_col).alias("_t"))
    joined = (
        pairs.select("id_a", "id_b")
        .join(txt.withColumnsRenamed({id_col: "id_a", "_t": "_ta"}).hint("shuffle_hash"), "id_a")
        .join(txt.withColumnsRenamed({id_col: "id_b", "_t": "_tb"}).hint("shuffle_hash"), "id_b")
        .select("id_a", "id_b", F.levenshtein("_ta", "_tb").alias("edit_dist"),
                F.greatest(F.length("_ta"), F.length("_tb")).alias("_maxlen"))
    )
    return joined.select(
        "id_a",
        "id_b",
        "edit_dist",
        F.round(
            F.lit(1.0) - F.col("edit_dist") / F.col("_maxlen"), 6
        ).alias("edit_sim"),
    )


def hybrid_near_duplicates(
    docs: DataFrame,
    embeddings: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    vec_id_col: str = "vec_id",
    shingle_n: int = 1,
    lexical_threshold: float = 0.6,
    cosine_threshold: float = 0.3,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard, cosine): LEXICAL ∧ SEMANTIC near-dup
    pairs — MinHash-LSH candidates that pass exact-Jaccard verify AND
    whose document embeddings are within ``cosine_threshold``.

    ``pairs``: optional precomputed ``minhash_near_duplicates`` output
    (id_a, id_b, jaccard) — the shared-scan form (the ``tokens_df``
    precedent): when a caller already ran the lexical detector (e.g.
    for its own output tier), pass its PINNED result here and the
    whole shingle→minhash→bucket→verify chain is skipped instead of
    recomputed.

    The two detectors fail differently: token-set Jaccard fires on
    reorderings/boilerplate shells and misses paraphrases; embedding
    cosine fires on paraphrases and can conflate topically-similar but
    distinct docs.  The conjunction is the HIGH-PRECISION tier of a
    tiered dedup policy (auto-drop the intersection, human-review or
    threshold-tighten the single-detector pairs).

    Scale: the pair list is already LSH-bounded, so the embedding
    attach is two shuffle-hash joins on the id (embeddings grow with
    the corpus — never broadcast, same staging contract as
    ``edit_distance_pairs``) and the cosine is row-local; no new
    quadratic corner is introduced.
    """
    # similarity imports dedup (for components) — import locally to
    # keep the module graph acyclic
    from kafkastreamsinteractivequeries_spark.operators.similarity import (
        cosine_from_parts,
        eval_once,
        norm_expr,
    )

    if pairs is None:
        pairs = minhash_near_duplicates(
            docs,
            text_col,
            id_col,
            shingle_n=shingle_n,
            threshold=lexical_threshold,
        )
    ea = embeddings.select(
        F.col(vec_id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        norm_expr(F.col(vec_col)).alias("_na"),
    )
    eb = embeddings.select(
        F.col(vec_id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        norm_expr(F.col(vec_col)).alias("_nb"),
    )
    return (
        pairs.join(ea.hint("shuffle_hash"), "id_a")
        .join(eb.hint("shuffle_hash"), "id_b")
        .withColumn(
            "cosine",
            # eval_once: the threshold filter otherwise inlines the
            # 64-element fold into the join condition (the s4 lesson)
            eval_once(
                F.round(
                    cosine_from_parts(
                        F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
                    ),
                    6,
                )
            ),
        )
        .filter(F.col("cosine").isNotNull() & (F.col("cosine") >= cosine_threshold))
        .select("id_a", "id_b", "jaccard", "cosine")
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
    join_delim: str | None = None,
) -> DataFrame:
    """C4-style line-level corpus deduplication (Raffel et al.
    1910.10683 §2.2 deduplicates repeated three-sentence spans; Dolma
    and RefinedWeb apply the same rule at line granularity): across the
    WHOLE corpus, keep only the FIRST occurrence of every exact line —
    first = lowest (document id, line position) — and drop the rest,
    then reassemble each document's surviving lines in original order.
    This is the boilerplate killer (nav bars, cookie banners, license
    headers repeated across millions of pages) that document-level
    near-dup cannot touch.

    Output: ``(id, n_lines, kept_lines, removed_lines, text)`` with
    ``text`` rebuilt (empty string when nothing survives — the row is
    kept so downstream gates can drop it explicitly).

    Scale shape: lines explode to ``(md5(line), id, pos, line)`` rows
    and the first occurrence per line is a ``min(struct(id, pos,
    line))`` AGGREGATION — deliberately not a ``row_number`` window:
    a hot boilerplate line (a nav bar repeated millions of times) would
    funnel every occurrence into one window task, while the min-struct
    aggregate combines map-side so hot lines cost one partial row per
    map task (the same argmin trick as the kNN min-of-struct).
    Reassembly is one groupBy on the id with a position-sorted fold.
    Identical empty lines dedup like any other line (documented C4
    behavior).

    ``delim`` is a split REGEX; ``join_delim`` is the literal string
    reassembly uses (defaults to ``delim`` — override it whenever the
    regex isn't a literal, e.g. paragraph granularity via
    ``paragraph_dedup``).
    """
    if join_delim is None:
        join_delim = delim
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), delim)).alias("pos", "line"),
    )
    # (id, pos) is unique, so `line` never participates in the ordering;
    # it rides along so no join back to the exploded rows is needed
    kept = (
        lines.groupBy(F.md5("line").alias("line_h"))
        .agg(F.min(F.struct(id_col, "pos", "line")).alias("_w"))
        .select(F.col(f"_w.{id_col}").alias(id_col), "_w.pos", "_w.line")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").alias("kept_lines"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            join_delim,
        ).alias("text"),
    )
    # NULL text contributes zero lines (adversarial-input convention:
    # corrupt rows degrade, they don't poison counts with NULL arithmetic)
    totals = docs.select(
        F.col(id_col),
        F.coalesce(
            F.size(F.split(F.col(text_col), delim)), F.lit(0)
        ).alias("n_lines"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_lines",
            F.coalesce("kept_lines", F.lit(0)).alias("kept_lines"),
            (F.col("n_lines") - F.coalesce("kept_lines", F.lit(0))).alias(
                "removed_lines"
            ),
            F.coalesce("text", F.lit("")).alias("text"),
        )
    )


def url_dedup_incremental(
    new_docs: DataFrame,
    seen_canonical_urls: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch-incremental URL dedup — the daily-crawl pattern: survivors
    of ``url_dedup`` over the NEW batch whose canonical URL is also
    absent from the landed corpus's side table
    (``seen_canonical_urls``: a 1-column ``canonical_url`` table, e.g.
    yesterday's ``url_dedup`` output kept as the seen set).

    Shuffle profile mirrors ``exact_dedup_incremental``: intra-batch
    dedup touches the batch only; the history check is an anti join on
    the canonical-url string — broadcast when the seen set is small,
    shuffle-hash on the skinny key otherwise (never page payloads)."""
    batch = url_dedup(new_docs, url_col, id_col)
    return batch.join(
        seen_canonical_urls.select("canonical_url"), "canonical_url", "left_anti"
    )


def url_host_col(col: F.Column) -> F.Column:
    """Canonical host of a URL: the lowercased authority with userinfo
    and the port stripped (any port — host identity doesn't depend on
    it).  Schemeless strings degrade to '' (never NULL).  Pure Column
    chain, replayable in any engine with regexes."""
    rest = F.regexp_replace(
        F.trim(col), r"^[A-Za-z][A-Za-z0-9+.-]*://", ""
    )
    has_scheme = F.regexp_like(
        F.trim(col), F.lit(r"^[A-Za-z][A-Za-z0-9+.-]*://")
    )
    auth = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    host = F.lower(F.regexp_replace(auth, r"^[^@/?]*@", ""))
    host = F.regexp_replace(host, r":[0-9]*$", "")
    return F.when(has_scheme, host).otherwise(F.lit(""))


def url_path_col(col: F.Column) -> F.Column:
    """Path + query of a URL (the part robots rules match against):
    everything after the authority, fragment stripped, empty path
    normalized to '/'.  Schemeless strings degrade to '/'."""
    rest = F.regexp_replace(
        F.trim(col), r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", ""
    )
    has_scheme = F.regexp_like(
        F.trim(col), F.lit(r"^[A-Za-z][A-Za-z0-9+.-]*://")
    )
    p = F.substring_index(rest, "#", 1)
    return F.when(has_scheme & (p != ""), p).otherwise(F.lit("/"))


def host_stats(
    docs: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    host_col: str | None = None,
    canonical_col: str | None = None,
) -> DataFrame:
    """Per-host crawl statistics — the aggregation behind RefinedWeb-
    style host/domain filtering (arXiv:2306.01116 §3.1 filters by URL
    before any text is read): for every canonical host, the page
    count, the distinct-canonical-URL count, and the duplicate share
    in integer permille (``1000*(n_docs-n_urls) div n_docs`` — fixed
    point, engine-portable).

    Scale shape: canonicalization is map-only; the distinct count
    aggregates the skinny (host, canonical_url) pair stream (Spark
    plans count-distinct as a two-phase expand — partial per map task,
    so one hot host never funnels raw rows to one reducer), and the
    first-doc keeper rides the same aggregate as a min-struct.
    Output: (host, n_docs, n_urls, dup_permille, first_id).

    ``host_col``/``canonical_col`` name ALREADY-extracted columns to
    reuse (the ``url_dedup`` shared-scan contract)."""
    canon = docs.select(
        F.col(id_col),
        (
            F.col(host_col)
            if host_col is not None
            else url_host_col(F.col(url_col))
        ).alias("host"),
        (
            F.col(canonical_col)
            if canonical_col is not None
            else canonicalize_url_col(F.col(url_col))
        ).alias("canonical_url"),
    )
    return (
        canon.groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("canonical_url").cast("long").alias("n_urls"),
            F.min(id_col).cast("long").alias("first_id"),
        )
        .select(
            "host",
            "n_docs",
            "n_urls",
            F.expr("(1000 * (n_docs - n_urls)) div n_docs")
            .cast("long")
            .alias("dup_permille"),
            "first_id",
        )
    )


def host_gate(
    docs: DataFrame,
    max_docs_per_host: int = 100_000,
    max_dup_permille: int = 700,
    url_col: str = "url",
    id_col: str = "doc_id",
    host_col: str | None = None,
    canonical_col: str | None = None,
) -> DataFrame:
    """Host-level keep/block decisions — the gate web pipelines apply
    BEFORE fetch-level text processing: a host is blocked when it
    floods the crawl (``n_docs > max_docs_per_host``: link farms,
    calendar traps) or when almost every page is a re-fetch of the
    same canonical URLs (``dup_permille >= max_dup_permille``: mirror
    and session-id hosts).  Thresholds are policy; both comparisons
    are integer, so the decision itself is hash-verifiable.

    Returns ``host_stats`` plus a ``blocked`` int (1 = drop every doc
    of this host).  Apply with a broadcast semi/anti join of the doc
    table against the (skinny, one-row-per-host) decision table."""
    hs = host_stats(docs, url_col, id_col, host_col, canonical_col)
    return hs.select(
        "*",
        F.when(
            (F.col("n_docs") > max_docs_per_host)
            | (F.col("dup_permille") >= max_dup_permille),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("blocked"),
    )


def extract_links_col(html: F.Column) -> F.Column:
    """All ``<a href="...">`` targets of an HTML document as a string
    array — one ``regexp_extract_all`` pass (zero shuffle, zero
    Python): single- or double-quoted hrefs, case-insensitive tag and
    attribute, other attributes before ``href`` tolerated.  NULL html
    degrades to an empty array."""
    pat = r"""(?i)<a\s[^>]*href\s*=\s*["']([^"']+)["']"""
    return F.coalesce(
        F.regexp_extract_all(html, F.lit(pat), 1),
        F.array().cast("array<string>"),
    )


def resolve_url_col(base: F.Column, ref: F.Column) -> F.Column:
    """Resolve a link target against its page URL — the RFC 3986 §5
    cases a link-graph builder meets: absolute (``scheme://``) passes
    through; protocol-relative (``//host/…``) takes the base's scheme;
    root-relative (``/x``) replaces the base's path; anything else is
    path-relative (appended to the base's directory).  Fragment-only
    refs resolve to the base itself.  Dot-segment normalization
    (``../``) is out of scope (canonicalization treats them as opaque
    path bytes — documented).  Pure Column chain."""
    b = F.trim(base)
    r = F.trim(ref)
    scheme = F.regexp_extract(b, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    authority = F.regexp_extract(b, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    origin = F.concat(scheme, F.lit("://"), authority)
    # base directory: everything through the last '/' of the path part
    path = F.regexp_extract(b, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    dirpart = F.when(
        path.rlike("/"), F.regexp_replace(path, r"/[^/]*$", "/")
    ).otherwise(F.lit("/"))
    return (
        F.when(r == "", b)
        .when(r.startswith("#"), b)
        .when(r.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"), r)
        .when(r.startswith("//"), F.concat(scheme, F.lit(":"), r))
        .when(r.startswith("/"), F.concat(origin, r))
        .otherwise(F.concat(origin, dirpart, r))
    )


def anchor_text_index(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """The anchor-text index — what OTHER pages' link text says about a
    page, the classic incoming relevance signal web search has used
    since its beginning (anchor text describes the TARGET better than
    the target describes itself): extract every ``<a href>…</a>`` pair,
    resolve + canonicalize the target, strip the anchor's inline
    markup, and aggregate per target URL.

    Output: (canonical_url, anchor_text, n_anchors) — ``anchor_text``
    is the distinct anchor strings sorted and joined with '\\n'
    (deterministic under any partitioning; feed it to ``bm25_search``
    as a document to rank pages by what the web calls them).  Shape:
    one map-only extract pass + one aggregation on the target URL;
    self-links are excluded (a page's own nav says nothing about it)."""
    pat = r"""(?is)<a\s[^>]*href\s*=\s*["']([^"']+)["'][^>]*>(.*?)</a>"""
    raw = pages.select(
        F.col(url_col).alias("_page"),
        canonicalize_url_col(F.col(url_col)).alias("_self"),
        F.explode_outer(
            F.arrays_zip(
                F.regexp_extract_all(F.col(html_col), F.lit(pat), 1).alias(
                    "href"
                ),
                F.regexp_extract_all(F.col(html_col), F.lit(pat), 2).alias(
                    "txt"
                ),
            )
        ).alias("a"),
    ).filter(F.col("a").isNotNull())
    text = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("a.txt"), r"<[^>]*>", " "),
            r"\s+",
            " ",
        )
    )
    resolved = raw.select(
        "_self",
        canonicalize_url_col(
            resolve_url_col(F.col("_page"), F.col("a.href"))
        ).alias("canonical_url"),
        text.alias("anchor"),
    ).filter(
        (F.col("anchor") != "") & (F.col("canonical_url") != F.col("_self"))
    )
    return (
        resolved.groupBy("canonical_url")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("anchor")), "\n"
            ).alias("anchor_text"),
            F.count(F.lit(1)).cast("long").alias("n_anchors"),
        )
    )


def web_link_graph(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    weighted: bool = False,
) -> DataFrame:
    """HOST-level link graph from raw crawled pages — the input
    ``graph.pagerank`` ranks: extract every href, resolve it against
    the page URL, canonicalize both ends, project to hosts, and emit
    normalized (src, dst) host edges (dedup'd, self-loops dropped —
    host-level PageRank ignores intra-site links by construction).

    Hosts travel as md5-derived 63-bit longs (``graph`` operators key
    on longs); the (src, dst, src_host, dst_host) output keeps the
    readable names beside the keys.  Shape: one map-only extract +
    explode pass, then the one distinct shuffle ``normalize_edges``
    costs anyway.

    ``weighted=True`` keeps the LINK COUNT per host pair as a ``w``
    column (same single shuffle — count instead of distinct) for
    ``graph.pagerank(weight_col='w')``: twenty links endorse more than
    one."""
    page_host = url_host_col(F.col(url_col))
    links = (
        pages.select(
            F.col(url_col).alias("_page"),
            page_host.alias("src_host"),
            F.explode_outer(extract_links_col(F.col(html_col))).alias("_ref"),
        )
        .filter(F.col("_ref").isNotNull())
        .select(
            "src_host",
            url_host_col(
                canonicalize_url_col(
                    resolve_url_col(F.col("_page"), F.col("_ref"))
                )
            ).alias("dst_host"),
        )
        .filter(
            (F.col("src_host") != "")
            & (F.col("dst_host") != "")
            & (F.col("src_host") != F.col("dst_host"))
        )
    )
    if weighted:
        links = links.groupBy("src_host", "dst_host").agg(
            F.count(F.lit(1)).cast("long").alias("w")
        )
    else:
        links = links.distinct()

    def hkey(c: str) -> F.Column:
        # low 15 hex chars of md5 → a positive 60-bit long key
        return F.conv(F.substring(F.md5(F.col(c)), 18, 15), 16, 10).cast(
            "long"
        )

    return links.select(
        hkey("src_host").alias("src"),
        hkey("dst_host").alias("dst"),
        "src_host",
        "dst_host",
        *(["w"] if weighted else []),
    )


def robots_rules(
    robots: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    text_col: str = "robots_txt",
) -> DataFrame:
    """Parse per-host robots.txt documents into the rule set that
    applies to ``agent`` — the crawl-stack step before any fetch enters
    a corpus pipeline.  Follows the REP as specified in RFC 9309:

    - groups are runs of consecutive ``User-agent:`` lines followed by
      their rules; several groups naming the same agent merge;
    - the MOST SPECIFIC matching group set wins — if any group names
      ``agent`` exactly (case-insensitive), the ``*`` groups are
      ignored;
    - directive names are case-insensitive, ``#`` comments and CR are
      stripped, empty-path ``Disallow:`` (allow-everything) drops out.

    Output: (host, allow int, path) — one row per applicable rule.
    Shape: posexplode of lines + two window passes partitioned BY HOST
    (never a global window) + one aggregation; the result is a skinny
    per-host rule table sized for a broadcast join against the URL
    stream."""
    lines = (
        robots.select(
            F.col(host_col).alias("host"),
            F.posexplode(
                F.split(F.regexp_replace(F.col(text_col), "\r", ""), "\n")
            ).alias("pos", "line"),
        )
        # strip comments + whitespace
        .withColumn("line", F.trim(F.regexp_replace("line", "#.*$", "")))
        .filter(F.col("line") != "")
        .withColumn(
            "ua",
            F.when(
                F.regexp_like(F.col("line"), F.lit(r"(?i)^user-agent\s*:")),
                F.lower(
                    F.trim(F.regexp_replace("line", r"(?i)^user-agent\s*:", ""))
                ),
            ),
        )
        .withColumn(
            "allow",
            F.when(
                F.regexp_like(F.col("line"), F.lit(r"(?i)^allow\s*:")), F.lit(1)
            ).when(
                F.regexp_like(F.col("line"), F.lit(r"(?i)^disallow\s*:")),
                F.lit(0),
            ),
        )
        .withColumn(
            "path",
            F.trim(F.regexp_replace("line", r"(?i)^(dis)?allow\s*:", "")),
        )
    )
    by_pos = Window.partitionBy("host").orderBy("pos")
    prev_ua = F.lag("ua").over(by_pos)
    sectioned = (
        lines.withColumn(
            "sec_start",
            F.when(F.col("ua").isNotNull() & prev_ua.isNull(), 1).otherwise(0),
        )
        .withColumn(
            "section",
            F.sum("sec_start").over(
                by_pos.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .filter(F.col("section") > 0)  # rules before any UA line: ignored
    )
    agent_lc = agent.lower()
    sec_spec = sectioned.groupBy("host", "section").agg(
        F.max(
            F.when(F.col("ua") == agent_lc, 2)
            .when(F.col("ua") == "*", 1)
            .otherwise(0)
        ).alias("spec")
    )
    host_spec = sec_spec.groupBy("host").agg(F.max("spec").alias("max_spec"))
    return (
        sectioned.filter(F.col("allow").isNotNull() & (F.col("path") != ""))
        .join(sec_spec, ["host", "section"])
        .join(host_spec, "host")
        .filter((F.col("spec") == F.col("max_spec")) & (F.col("spec") > 0))
        .select("host", F.col("allow").cast("int").alias("allow"), "path")
        .distinct()
    )


def robots_allowed(
    urls: DataFrame,
    rules: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Evaluate each (host, path) URL against a ``robots_rules`` table:
    the LONGEST matching rule wins; on a length tie ``Allow`` wins (the
    RFC 9309 precedence); no matching rule (or no rules for the host)
    means allowed.  Matching is prefix-based with the ``$`` end anchor
    (a rule ``/p$`` matches exactly ``/p``) and full RFC 9309 ``*``
    wildcards (``*`` matches any byte run, so ``/*?sessionid`` blocks
    every path carrying that query fragment).  Wildcards compile to a
    SQL ``LIKE`` pattern Column-side — ``%``/``_``/``\\`` in the rule
    are escaped, ``*`` becomes ``%``, and non-anchored rules get a
    trailing ``%`` for the prefix semantics — so evaluation stays a
    whole-stage-codegen string match, never a Python regex.  Rule
    precedence length is the raw rule-path length (octet count, the
    RFC 9309 / Googlebot convention — wildcards count as one octet).

    Output: one row per DISTINCT (host, path) with ``allowed int``
    (duplicate URL rows collapse — join the verdict back by key when
    per-fetch rows are needed).  Shape: one equi-join on host (rules
    are a skinny per-host table — broadcast while it fits, AQE
    decides) + a ``max_by`` aggregation over each URL's bounded
    matching-rule set (a map-side-combinable argmax, the line-dedup
    pattern — deliberately not a window, so one hot host never
    serializes into one task).  The URL stream is never shuffled
    beyond the join."""
    anchored = F.col("r_path").endswith("$")
    base = F.when(
        anchored, F.expr("substring(r_path, 1, length(r_path) - 1)")
    ).otherwise(F.col("r_path"))
    # Compile the rule path to a LIKE pattern: escape LIKE specials
    # (default escape char is backslash), then '*' -> '%'.  Anchored
    # rules must match the WHOLE path; others match any prefix (the
    # trailing '%').  LIKE's greedy '%' implements exactly the RFC's
    # "matches if any wildcard expansion does".
    patt = F.regexp_replace(
        F.regexp_replace(base, r"([%_\\])", r"\\$1"), r"\*", "%"
    )
    # Distinct BEFORE the rule join: the output is keyed on (host, path)
    # anyway, and duplicate URL rows produce identical match rows — so
    # collapse the URL stream to its distinct key set first (a skinny
    # two-string shuffle) and the per-rule join multiplier + the max_by
    # aggregate run over |distinct keys| rows instead of |URLs| × rules.
    # Same verdicts; at crawl scale (many fetches per page) this is the
    # difference between joining the fetch log and joining the site map.
    matches = (
        urls.select(
            F.col(host_col).alias("host"), F.col(path_col).alias("path")
        )
        .distinct()
        .join(
            rules.select(
                "host", "allow", F.col("path").alias("r_path")
            ),
            "host",
            "left",
        )
        .withColumn(
            "hit",
            F.when(
                F.col("r_path").isNull(), F.lit(None)
            ).when(
                anchored, F.like(F.col("path"), patt)
            ).otherwise(
                F.like(F.col("path"), F.concat(patt, F.lit("%")))
            ),
        )
    )
    return (
        matches.groupBy("host", "path")
        .agg(
            F.max_by(
                F.col("allow"),
                F.when(
                    F.col("hit"),
                    F.struct(
                        F.length("r_path").alias("l"), F.col("allow").alias("a")
                    ),
                ),
            ).alias("win_allow")
        )
        .select(
            "host",
            "path",
            F.coalesce(F.col("win_allow"), F.lit(1)).cast("int").alias("allowed"),
        )
    )


def paragraph_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``line_dedup`` at PARAGRAPH granularity — C4 deduplicates at
    multiple granularities; a paragraph is any run of text between
    blank lines (split on 2+ consecutive newlines, rejoined with a
    canonical blank line).  Same min-struct first-occurrence aggregate,
    same scale shape; only the unit changes."""
    return line_dedup(
        docs, text_col, id_col, delim=r"\n{2,}", join_delim="\n\n"
    )


# --------------------------------------------------------------------------
# Content-defined chunking (CDC)
# --------------------------------------------------------------------------


def cdc_chunk_dedup(
    docs: DataFrame,
    window: int = 4,
    divisor: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking + chunk-level dedup: split each doc at
    CONTENT-DERIVED boundaries (a rolling window hash hitting 0 mod
    ``divisor``), then find every chunk's first corpus-wide occurrence.

    Why content-defined (vs ``chunk_documents``' fixed windows): an
    insertion near the start of a near-duplicate shifts every fixed
    chunk boundary, so no downstream hash matches; CDC boundaries
    depend only on the local ``window`` tokens, so edits re-chunk only
    their neighborhood and the rest of the doc keeps its chunk hashes —
    the invariance rsync/LBFS-style dedup is built on (Muthitacharoen
    et al. SOSP'01), here at token granularity so the oracle can replay
    it exactly.  Expected chunk length ≈ ``divisor`` tokens (boundary
    probability 1/divisor per position); no min/max guards by design —
    the boundary predicate stays a pure expression, and pathological
    chunk-length tails are visible in the output rather than silently
    clamped.

    Boundary rule (deterministic, engine-replayable): after token
    position ``i`` (window ≤ i < n) iff the first 8 hex chars of
    md5(tokens[i-window+1 .. i] joined) — a 32-bit integer, exact in
    doubles for the DuckDB replay — ≡ 0 mod ``divisor``.

    Output: one row per chunk — (id, chunk_idx, chunk_start, chunk_len,
    chunk_hash, n_occurrences, is_first).  ``is_first`` marks the
    corpus-wide keeper (lowest (id, idx), a min-struct AGGREGATE like
    ``line_dedup`` — map-side combinable, never a window over a hot
    hash).  Drop ``is_first = false`` rows to dedupe storage; join
    survivors back by (id, start, len) to rebuild.

    Scale shape: one tokenize scan; per-doc bounded array work
    (boundaries → starts/ends → chunk hashes); ONE skinny shuffle of
    (32-hex hash, id, idx) rows for the first-occurrence aggregate +
    a shuffle-hash join back — document payloads never shuffle.
    """
    # the token array is MATERIALIZED as a column before the boundary/
    # chunk lambdas slice it (the duplicate_span_occurrences trap:
    # slicing the raw split() expression re-runs normalize+split once
    # per candidate boundary position)
    toks = F.col("_toks")
    n = F.size(toks)
    whash = lambda i: F.conv(  # noqa: E731 — 32-bit window hash at pos i
        F.substring(
            F.md5(F.array_join(F.slice(toks, i - window + 1, window), " ")), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    # sequence(a, b) RUNS BACKWARDS when b < a — guard short docs
    bpos = F.when(
        n - 1 >= window,
        F.filter(
            F.sequence(F.lit(window), n - 1),
            lambda i: whash(i) % divisor == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    starts = F.concat(
        F.array(F.lit(1)), F.transform(bpos, lambda b: (b + 1).cast("int"))
    )
    ends = F.concat(bpos.cast("array<int>"), F.array(n.cast("int")))
    chunks = F.zip_with(
        starts,
        ends,
        lambda a, b: F.struct(
            a.alias("s"),
            (b - a + 1).alias("l"),
            F.md5(F.array_join(F.slice(toks, a, b - a + 1), " ")).alias("h"),
        ),
    )
    rows = (
        spread(docs)
        .filter(F.col(text_col).isNotNull() & (normalized_text(F.col(text_col)) != ""))
        .select(F.col(id_col), tokens_col(F.col(text_col)).alias("_toks"))
        .select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "_c"))
        .select(
            id_col,
            "chunk_idx",
            F.col("_c.s").alias("chunk_start"),
            F.col("_c.l").alias("chunk_len"),
            F.col("_c.h").alias("chunk_hash"),
        )
        # pinned: the first-occurrence aggregate AND the join probe
        # side both read the chunk rows — unpinned, the whole
        # tokenize→chunk pipeline ran twice
        .localCheckpoint(eager=False)
    )
    keepers = rows.groupBy("chunk_hash").agg(
        F.min(F.struct(id_col, "chunk_idx")).alias("_keep"),
        F.count("*").alias("n_occurrences"),
    )
    return rows.join(keepers.hint("shuffle_hash"), "chunk_hash").select(
        id_col,
        "chunk_idx",
        "chunk_start",
        "chunk_len",
        "chunk_hash",
        "n_occurrences",
        (
            (F.col("_keep")[id_col] == F.col(id_col))
            & (F.col("_keep")["chunk_idx"] == F.col("chunk_idx"))
        ).alias("is_first"),
    )


def sitemap_urls_col(xml: F.Column) -> F.Column:
    """All ``<loc>`` URLs of a sitemap.xml / sitemapindex document as a
    trimmed string array — the crawl-frontier seed source next to
    robots.txt (sitemaps are referenced FROM robots via ``Sitemap:``
    lines; both plain urlsets and nested sitemap indexes carry their
    targets in ``<loc>``).  One ``regexp_extract_all`` pass, CDATA
    wrappers unwrapped; NULL xml degrades to an empty array."""
    unwrapped = F.regexp_replace(
        F.regexp_replace(xml, r"<!\[CDATA\[", ""), r"\]\]>", ""
    )
    locs = F.regexp_extract_all(
        unwrapped, F.lit(r"(?is)<loc>\s*(.*?)\s*</loc>"), 1
    )
    return F.coalesce(
        F.transform(locs, lambda x: F.trim(x)), F.array().cast("array<string>")
    )


def robots_sitemaps_col(robots_txt: F.Column) -> F.Column:
    """``Sitemap:`` declarations of a robots.txt as a string array
    (case-insensitive directive, one per line, comments tolerated) —
    the hand-off from the robots fetch to sitemap discovery."""
    return F.coalesce(
        F.transform(
            F.regexp_extract_all(
                robots_txt,
                F.lit(r"(?im)^\s*sitemap\s*:\s*([^#\r\n]+)"),
                1,
            ),
            lambda x: F.trim(x),
        ),
        F.array().cast("array<string>"),
    )
