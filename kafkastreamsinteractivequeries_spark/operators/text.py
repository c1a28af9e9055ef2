"""Text-analysis operators for training-data pipelines (north-star
extension): token counting, quality scoring, language-ID heuristic,
winnowing-style document fingerprinting.

Everything is a pure Column expression (Java-regex patterns kept inside
the RE2-compatible subset so the DuckDB oracle can mirror them), so the
whole suite rides whole-stage codegen — at 100 TB these are single-scan
map-only operators with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from kafkastreamsinteractivequeries_spark.operators.dedup import normalized_text, tokens_col
from kafkastreamsinteractivequeries_spark.sources.tables import spread

# Small stopword profiles for the language-ID heuristic.  Order matters:
# the CASE chain below breaks ties in this declaration order.
STOPWORDS = {
    "en": ["the", "a", "of", "to", "and", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour", "dans", "ce"],
}

PUNCT_CLASS = r"[.,;:!?]"
# BPE-ish pre-tokenization: letter runs, digit runs, single non-space symbols
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def _stop_hits(toks: F.Column, lang: str) -> F.Column:
    """Count of tokens (with multiplicity) in the language's stopword set."""
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))


def _stats_cols(text_col: str) -> list[F.Column]:
    """The aliased per-row stat/quality columns behind ``text_stats``."""
    norm = normalized_text(F.col(text_col))
    toks = tokens_col(F.col(text_col))
    n_tokens = F.size(toks)
    n_chars = F.length(norm)
    letters_only = F.regexp_replace(norm, r"[^a-z]", "")
    punct = n_chars - F.length(F.regexp_replace(norm, PUNCT_CLASS, ""))
    digits = n_chars - F.length(F.regexp_replace(norm, r"[0-9]", ""))
    stop_en = _stop_hits(toks, "en")

    punct_ratio = F.round(F.try_divide(punct, n_chars), 6)
    digit_ratio = F.round(F.try_divide(digits, n_chars), 6)
    stop_ratio = F.round(F.try_divide(stop_en, n_tokens), 6)
    avg_token_len = F.round(F.try_divide(F.length(F.regexp_replace(norm, r" ", "")), n_tokens), 6)

    length_component = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    punct_penalty = F.least(punct_ratio * 5.0, F.lit(1.0))
    digit_penalty = F.least(digit_ratio * 5.0, F.lit(1.0))
    stop_component = F.least(stop_ratio * 3.0, F.lit(1.0))
    score = F.round(
        0.4 * length_component
        + 0.2 * (1.0 - punct_penalty)
        + 0.2 * (1.0 - digit_penalty)
        + 0.2 * stop_component,
        6,
    )
    # least() SKIPS nulls (both engines), so a NULL text would take
    # full credit on the null components and score 0.6 — enough to
    # survive a curation gate.  Null documents score 0.
    score = F.when(F.col(text_col).isNull(), F.lit(0.0)).otherwise(score)
    return [
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_norm"),
        avg_token_len.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        stop_ratio.alias("stopword_ratio"),
        F.coalesce(score, F.lit(0.0)).alias("quality_score"),
        F.length(letters_only).alias("n_letters"),
    ]


def text_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc stats + composite quality score.

    score ∈ [0,1]: rewards reasonable length, penalizes punctuation /
    digit density, rewards stopword presence (fluency proxy) — the
    standard cheap quality gate before expensive model-based filters.
    """
    return spread(docs).select(F.col(id_col), *_stats_cols(text_col))


def token_counts_report(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace vs BPE-ish token counts (regexp pre-tokenizer)."""
    docs = spread(docs)
    norm = normalized_text(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(tokens_col(F.col(text_col))).alias("ws_tokens"),
        F.regexp_count(norm, F.lit(BPE_PATTERN)).alias("bpe_tokens"),
    )


def _lang_cols(text_col: str) -> list[F.Column]:
    """The aliased per-row language-ID columns behind ``language_id``."""
    toks = tokens_col(F.col(text_col))
    hits = {lang: _stop_hits(toks, lang) for lang in STOPWORDS}
    has_cjk = F.length(F.regexp_replace(F.col(text_col), r"[^一-鿿]", "")) > 0

    langs = list(STOPWORDS)
    pred = F.when(has_cjk, F.lit("zh"))
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            ge = hits[lang] >= hits[other] if langs.index(other) > langs.index(lang) else hits[lang] > hits[other]
            cond = ge if cond is None else (cond & ge)
        pred = pred.when(cond & (hits[lang] > 0), F.lit(lang))
    pred = pred.otherwise(F.lit("unknown"))

    return [
        *[hits[lang].alias(f"hits_{lang}") for lang in langs],
        pred.alias("lang_pred"),
    ]


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-profile language-ID heuristic over {en,de,es,fr} + a CJK
    character check for zh.  Deterministic CASE-chain argmax (first
    declared language wins ties).  On real text this is the classic
    cheap n-gram/stopword LID; on the synthetic corpus it mostly returns
    'en' — the *shape* (per-doc scores + argmax) is what matters."""
    return spread(docs).select(F.col(id_col), *_lang_cols(text_col))


def winnowing_fingerprint(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
) -> DataFrame:
    """Winnowing-style fingerprint: md5 over each ``window``-token
    sliding window; the doc fingerprint is the minimum window hash
    (shorter docs hash the whole text).  Robust to local edits — two
    docs sharing any window share candidate fingerprints."""
    # materialize the token array BEFORE the lambda slices it: Spark's
    # subexpression elimination does not reach inside higher-order
    # function lambdas, so slicing the raw split() expression re-ran
    # normalize+split once per window (the duplicate_span_occurrences
    # trap)
    docs = spread(docs).select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    window_hashes = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (window - 1)),
        lambda i: F.md5(F.array_join(F.slice(toks, i, window), " ")),
    )
    fp = F.when(F.size(toks) >= window, F.array_min(window_hashes)).otherwise(
        F.md5(F.array_join(toks, " "))
    )
    return docs.select(F.col(id_col), fp.alias("winnow_fp"))


def deterministic_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Assign each doc a stable train/val/test split by md5(doc_id) mod
    100 — deterministic across runs, engines, and cluster sizes (no
    rand(), no row ordering dependence), so re-running the pipeline on
    a grown corpus never moves an old doc between splits."""
    return docs.select(F.col(id_col), *_split_cols(id_col, train_pct, val_pct))


def _split_cols(id_col: str, train_pct: int = 90, val_pct: int = 5) -> list[F.Column]:
    """The aliased split-assignment columns behind ``deterministic_split``."""
    bucket = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10).cast(
        "bigint"
    ) % 100
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return [bucket.cast("int").alias("bucket"), split.alias("split")]


def doc_profile(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass per-document profile: ``text_stats`` ⊕ ``language_id`` ⊕
    ``deterministic_split`` ⊕ the BPE-ish token count of
    ``token_counts_report`` in a single zero-shuffle projection
    (``n_tokens`` already IS that report's whitespace count).

    At 100 TB this is the shape that matters: all four are pure row
    maps over (id, text), so computing them in one ``select`` reads the
    corpus once and never shuffles — vs four scans or three joins if
    the operators ran separately.
    """
    norm = normalized_text(F.col(text_col))
    return spread(docs).select(
        F.col(id_col),
        *_stats_cols(text_col),
        *_lang_cols(text_col),
        *_split_cols(id_col),
        F.regexp_count(norm, F.lit(BPE_PATTERN)).cast("int").alias("bpe_tokens"),
    )


def vocabulary_coverage(
    docs: DataFrame,
    top_k: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``top_k`` corpus vocabulary with rank and cumulative coverage
    — the tokenizer/vocab-building step of a pre-training pipeline
    ("how many token types cover 95% of the corpus?").

    Columns: (token, count, rank, cum_fraction) where ``cum_fraction``
    is the running share of ALL corpus tokens (not just the top-k)
    covered by ranks 1..r.  Ties break by token string, so the output
    is deterministic.

    Scale shape: one shuffle for the (token, count) aggregate with
    map-side partial aggregation; the global top-k is
    ``orderBy().limit(k)`` — Spark plans TakeOrderedAndProject
    (per-partition top-k, merge of k-row heaps; never a full sort);
    rank/cumsum then run on the ≤ k surviving rows (a single tiny
    partition by construction).  The corpus-total is one scalar
    broadcast.  No stage touches more than the vocab table.
    """
    docs = spread(docs)
    counts = (
        docs.select(F.explode(tokens_col(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("count"))
    )
    total = counts.agg(F.sum("count").alias("_total"))
    top = counts.orderBy(F.col("count").desc(), F.col("token")).limit(top_k)
    w = (
        Window.orderBy(F.col("count").desc(), F.col("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "token",
            "count",
            F.row_number().over(
                Window.orderBy(F.col("count").desc(), F.col("token"))
            ).alias("rank"),
            F.round(F.sum("count").over(w) / F.col("_total"), 6).alias("cum_fraction"),
        )
    )


def length_percentiles(
    docs: DataFrame,
    text_col: str = "text",
    lengths_df: DataFrame | None = None,
) -> DataFrame:
    """Exact token-length distribution stats of the corpus (the
    pre-training length-histogram sanity check).  Exact percentiles
    (single aggregation; Spark's `percentile` merges per-partition
    digests — no global sort).  At extreme scale swap in
    `percentile_approx` and accept the epsilon.

    ``lengths_df``: optional precomputed per-doc token-count frame with
    an ``n`` column (typically pinned) — the ``tokens_df`` convention
    one level up: several length consumers over one corpus tokenize
    once instead of once each."""
    if lengths_df is not None:
        return lengths_df.select(F.col("n")).agg(
            F.count("*").alias("n_docs"),
            F.min("n").alias("min_tokens"),
            F.expr("percentile(n, 0.25)").alias("p25"),
            F.expr("percentile(n, 0.5)").alias("p50"),
            F.expr("percentile(n, 0.75)").alias("p75"),
            F.expr("percentile(n, 0.95)").alias("p95"),
            F.max("n").alias("max_tokens"),
            F.round(F.avg("n"), 4).alias("mean_tokens"),
        )
    n = F.size(tokens_col(F.col(text_col)))
    return docs.select(n.alias("n")).agg(
        F.count("*").alias("n_docs"),
        F.min("n").alias("min_tokens"),
        F.expr("percentile(n, 0.25)").alias("p25"),
        F.expr("percentile(n, 0.5)").alias("p50"),
        F.expr("percentile(n, 0.75)").alias("p75"),
        F.expr("percentile(n, 0.95)").alias("p95"),
        F.max("n").alias("max_tokens"),
        F.round(F.avg("n"), 4).alias("mean_tokens"),
    )


def length_histogram_quantiles(
    docs: DataFrame,
    bins: int = 64,
    lo: int = 0,
    hi: int = 512,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    text_col: str = "text",
    lengths_df: DataFrame | None = None,
) -> DataFrame:
    """One row of histogram-estimated token-length quantiles
    (``hp25, hp50, …``) from FIXED-WIDTH bins — the mergeable quantile
    path for 100 TB.

    ``length_percentiles``'s exact ``percentile`` must see the full
    value multiset; this needs one map pass producing ≤ ``bins``
    counter rows (map-side combined), and two histograms MERGE by
    adding counts — the same pre-aggregability story as the sketches.
    Estimates interpolate linearly inside the first bin whose
    cumulative count reaches q·N (the classic histogram quantile);
    error is bounded by the bin width.  Bin edges are data-INDEPENDENT
    constants, so partial histograms from different corpus slices /
    days are combinable without re-binning, and the arithmetic is
    exactly reproducible in the SQL oracle.  Lengths ≥ ``hi`` clamp to
    the last bin (widen ``hi`` if the tail matters).
    """
    width = (hi - lo) / bins
    # lengths_df: precomputed per-doc token counts ("n" column) — the
    # length_percentiles convention.
    n = (
        F.col("n")
        if lengths_df is not None
        else F.size(tokens_col(F.col(text_col)))
    )
    bin_col = F.least(
        F.greatest(F.floor((n - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(bins - 1),
    ).cast("int")
    src = lengths_df if lengths_df is not None else spread(docs)
    counts = src.select(bin_col.alias("bin")).groupBy("bin").agg(
        F.count("*").alias("cnt")
    )
    # cumulative + total over ≤ bins rows — bounded windows, not a
    # corpus-sized ORDER BY (the cumulative_sum lesson doesn't apply at
    # this cardinality)
    cum = counts.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("total", F.sum("cnt").over(Window.partitionBy()))
    aggs = []
    for q in quantiles:
        target = F.lit(q) * F.col("total")
        est = F.round(
            F.lit(float(lo))
            + F.col("bin") * F.lit(width)
            + F.lit(width) * (target - (F.col("cum") - F.col("cnt"))) / F.col("cnt"),
            4,
        )
        aggs.append(
            F.min(F.when(F.col("cum") >= target, F.struct("bin", est.alias("est"))))[
                "est"
            ].alias(f"hp{int(q * 100)}")
        )
    return cum.agg(*aggs)


def bigram_logprob_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """Corpus-conditional bigram LM score per doc: mean over the doc's
    bigrams of ln((c(w1,w2)+α) / (c(w1)+α·V)) with Laplace smoothing —
    the classic statistical fluency filter between the cheap ratio
    gates and an expensive model-based judge.  Low scores = improbable
    token sequences (boilerplate, shuffled text, wrong language).

    Two aggregation passes over the corpus (bigram + unigram counts)
    and one scoring join — all shuffle-partitioned on the bigram/token
    keys, no driver-side model object; V (vocab size) is the only
    scalar and is computed as a 1-row aggregate.

    ``tokens_df``: optional pre-tokenized ``(id_col, tokens)`` frame —
    the shared-scan contract of ``minhash_signatures``.  The exploded
    bigram stream is PINNED internally (eager — the vocab scalar is
    broadcast off this lineage, the lazy-checkpoint-under-broadcast
    deadlock class): four consumers (bigram counts, unigram counts,
    vocab, the scoring join) each re-ran the tokenize+explode subtree
    otherwise — Spark reuses identical exchanges, not arbitrary
    common subplans.
    """
    if tokens_df is not None:
        base = tokens_df.select(
            F.col(id_col), F.col("tokens").alias("t")
        ).filter(F.size("t") >= 2)
    else:
        toks = tokens_col(F.col(text_col))
        docs = spread(docs)
        base = docs.select(F.col(id_col), toks.alias("t")).filter(
            F.size("t") >= 2
        )
    pairs = base.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 2),
                lambda i: F.struct(
                    F.col("t")[i].alias("w1"), F.col("t")[i + 1].alias("w2")
                ),
            )
        ).alias("bg"),
    ).select(id_col, "bg.w1", "bg.w2").localCheckpoint(eager=True)

    bc = pairs.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    uc = pairs.groupBy("w1").agg(F.count("*").alias("cu"))
    vocab = pairs.select(F.col("w1").alias("tok")).union(
        pairs.select(F.col("w2").alias("tok"))
    )
    v = vocab.agg(F.countDistinct("tok").alias("v"))

    lp = F.log((F.col("cb") + alpha) / (F.col("cu") + alpha * F.col("v")))
    return (
        pairs.join(bc.hint("shuffle_hash"), ["w1", "w2"])
        .join(uc.hint("shuffle_hash"), "w1")
        .join(F.broadcast(v))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(lp), 6).alias("avg_logprob"),
        )
    )


def kneser_ney_trigram_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """Interpolated Kneser–Ney trigram LM scores in EXACT integer
    fixed point — the published CCNet-class fluency filter (Wenzek et
    al. arXiv:1911.00359 trains a real smoothed LM; Chen & Goodman
    1999 is the KN formulation) beside the add-1 bigram stand-in
    (:func:`bigram_logprob_scores`).

    Formulation (discount D = 1/2 so everything stays integral after
    doubling; all lower orders derived from the trigram TYPE table,
    the standard continuation-count construction)::

        P1(w)    = (S·N1+(·w))              div N1+(··)
        P2(w|v)  = (S·max(2·N1+(·vw)−1, 0)) div (2·N1+(·v·))
                 + (N1+(v·)·P1(w))          div (2·N1+(·v·))
        P3(w|uv) = (S·max(2·c(uvw)−1, 0))   div (2·c(uv))
                 + (N1+(uv·)·P2(w|v))       div (2·c(uv))

    with S = ``scale`` micro-units and integer floor division
    throughout (the pagerank fixed-point discipline: every quantity is
    non-negative, so Spark's truncating ``div`` IS floor and the
    DuckDB ``//`` replay is bit-identical — no libm, no float sums).

    Output per doc (≥3 tokens): ``(id, n_trigrams, sum_p_micro,
    avg_p_micro)`` — ``avg_p_micro`` is the mean interpolated KN
    probability of the doc's own trigrams in micro-units, the
    monotone fluency signal (high = fluent, the head of a CCNet-style
    split; a log readout would leave the integer grid, the
    verify-the-logit rule).

    Scale shape: one trigram explode, five partial-agg count tables
    off the trigram-type table, one 1-row broadcast total, and a
    scoring join chain on skinny (token…) keys — the
    ``bigram_logprob_scores`` cost model with one extra order.

    ``tokens_df``: optional pre-tokenized ``(id_col, tokens)`` frame
    (the shared-scan contract).  The trigram stream and the trigram-
    type table are PINNED internally (eager — the 1-row total is
    broadcast off this lineage): their multiple aggregation consumers
    each re-ran the whole upstream subtree otherwise."""
    if tokens_df is not None:
        base = tokens_df.select(
            F.col(id_col), F.col("tokens").alias("t")
        ).filter(F.size("t") >= 3)
    else:
        toks = tokens_col(F.col(text_col))
        docs = spread(docs)
        base = docs.select(F.col(id_col), toks.alias("t")).filter(
            F.size("t") >= 3
        )
    t = F.col("t")
    tris = base.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 3),
                lambda i: F.struct(
                    t[i].alias("u"), t[i + 1].alias("v"), t[i + 2].alias("w")
                ),
            )
        ).alias("tg"),
    ).select(id_col, "tg.u", "tg.v", "tg.w").localCheckpoint(eager=True)
    # trigram occurrence counts; every lower-order statistic below is
    # a TYPE count derived from this one table (continuation counts);
    # pinned — ctx/cont and the scoring join all read it
    c3 = tris.groupBy("u", "v", "w").agg(
        F.count("*").alias("c3")
    ).localCheckpoint(eager=True)
    ctx = c3.groupBy("u", "v").agg(
        F.sum("c3").cast("long").alias("cuv"),  # c(uv)
        F.count("*").alias("n1p_uv"),  # N1+(uv·)
    )
    cont = c3.groupBy("v", "w").agg(F.count("*").alias("nvw"))  # N1+(·vw)
    mid = c3.groupBy("v").agg(F.count("*").alias("nv"))  # N1+(·v·)
    fan = cont.groupBy("v").agg(F.count("*").alias("fv"))  # N1+(v·)
    uni = cont.groupBy("w").agg(F.count("*").alias("nw"))  # N1+(·w)
    tot = cont.agg(F.count("*").alias("tt"))  # N1+(··), 1 row
    # fold the backoff orders into a BIGRAM-TYPE table first (types ≪
    # occurrences), so the corpus-sized occurrence stream joins only
    # three skinny tables instead of six
    p2vw = (
        cont.join(mid.hint("shuffle_hash"), "v")
        .join(fan.hint("shuffle_hash"), "v")
        .join(uni.hint("shuffle_hash"), "w")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "p1", F.expr(f"(CAST({scale} AS BIGINT) * nw) div tt")
        )
        .select(
            "v",
            "w",
            F.expr(
                f"((CAST({scale} AS BIGINT) * greatest(2 * nvw - 1, 0))"
                " div (2 * nv)) + ((fv * p1) div (2 * nv))"
            ).alias("p2"),
        )
    )
    scored = (
        tris.join(c3.hint("shuffle_hash"), ["u", "v", "w"])
        .join(ctx.hint("shuffle_hash"), ["u", "v"])
        .join(p2vw.hint("shuffle_hash"), ["v", "w"])
        .withColumn(
            "p3",
            F.expr(
                f"((CAST({scale} AS BIGINT) * greatest(2 * c3 - 1, 0))"
                " div (2 * cuv)) + ((n1p_uv * p2) div (2 * cuv))"
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_trigrams"),
        F.sum("p3").cast("long").alias("sum_p_micro"),
        F.expr("CAST(sum(p3) div count(*) AS BIGINT)").alias("avg_p_micro"),
    )


def perplexity_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    scores: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style head/middle/tail perplexity bucketing (Wenzek et
    al., "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data", arXiv:1911.00359 — public): score each document with
    the corpus bigram LM, convert to perplexity, and split the corpus
    into equal-mass terciles — 'head' = most fluent (lowest
    perplexity), 'tail' = least.  CCNet trains on and keeps the head/
    middle; the bucket label is the standard curation signal.

    Output: (id, n_bigrams, ppl, bucket).  ``ppl`` = exp(-avg_logprob)
    rounded to 2 decimals (coarse on purpose — engine-portable);
    bucket thresholds are the exact corpus terciles of the rounded
    avg_logprob, themselves rounded to 6.

    Scale shape: scoring is ``bigram_logprob_scores`` (two corpus
    aggregations + one scoring join); the tercile thresholds are ONE
    1-row aggregate broadcast back via crossJoin — no global sort, no
    single-partition window (the NTILE formulation would need one).
    At 100 TB swap the exact ``percentile`` for ``percentile_approx``
    on a calibration sample, exactly as CCNet fixes its cutoffs from a
    held-out Wikipedia sample rather than the full crawl.

    ``scores`` accepts a precomputed (ideally pinned)
    ``bigram_logprob_scores`` result so callers emitting both raw
    scores and buckets pay the LM passes once.
    """
    sc = scores if scores is not None else bigram_logprob_scores(
        docs, text_col, id_col, alpha
    )
    th = sc.agg(
        F.round(F.expr("percentile(avg_logprob, 1.0/3)"), 6).alias("_t1"),
        F.round(F.expr("percentile(avg_logprob, 2.0/3)"), 6).alias("_t2"),
    )
    # head = HIGHEST avg_logprob tercile = lowest perplexity (most
    # fluent); >= on rounded-6 values keeps boundary docs deterministic
    # in any engine.
    return sc.crossJoin(F.broadcast(th)).select(
        F.col(id_col),
        "n_bigrams",
        F.round(F.exp(-F.col("avg_logprob")), 2).alias("ppl"),
        F.when(F.col("avg_logprob") >= F.col("_t2"), F.lit("head"))
        .when(F.col("avg_logprob") >= F.col("_t1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def repetition_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc token-repetition signals (Gopher-style repetition gate):
    duplicate-token ratio and most-frequent-token share.

    Shape: explode → count per (doc, token) → fold per doc.  Both
    aggregations combine map-side (partial agg), so the shuffled volume
    is the per-doc *vocabulary*, not the token stream.  The top token is
    picked with ``min_by`` over a (-count, token) struct — deterministic
    highest-count-then-lexicographic winner with zero extra shuffle
    (a window rank would reshuffle on doc_id).
    """
    docs = spread(docs)
    counts = (
        docs.select(F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("cnt"))
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_distinct_tokens"),
        F.min_by("token", F.struct((-F.col("cnt")).alias("nc"), F.col("token"))).alias(
            "top_token"
        ),
        F.max("cnt").alias("top_token_count"),
    )
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        "n_distinct_tokens",
        F.round(1.0 - F.try_divide(F.col("n_distinct_tokens"), F.col("n_tokens")), 6).alias(
            "dup_token_ratio"
        ),
        "top_token",
        F.round(F.try_divide(F.col("top_token_count"), F.col("n_tokens")), 6).alias(
            "top_token_ratio"
        ),
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k TF-IDF terms per document (keyword extraction).

    tf = term count / doc length; idf = ln((N+1)/(df+1)) + 1 (smoothed,
    sklearn-style).  N comes from one parquet-metadata count — the only
    driver-side scalar.  Document frequencies join back on ``term``:
    both sides are term-keyed aggregates, so at scale this is one
    co-partitioned shuffle join; the final per-doc top-k ranks ≤ |vocab|
    rows per doc.  Ties: higher score, then lexicographic term.
    """
    n_docs = docs.count()
    docs = spread(docs)
    tf = (
        docs.select(F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf_count"))
    )
    doc_len = tf.groupBy(id_col).agg(F.sum("tf_count").alias("doc_len"))
    df_counts = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df_count"))
    idf = F.log((F.lit(n_docs) + 1.0) / (F.col("df_count") + 1.0)) + 1.0
    scored = (
        tf.join(doc_len, id_col)
        .join(df_counts, "term")
        .select(
            F.col(id_col),
            F.col("term"),
            F.round(F.try_divide(F.col("tf_count"), F.col("doc_len")) * idf, 6).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_stats: tuple[int, float] | None = None,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query by Okapi BM25 —
    the full-text-retrieval side of the text suite (x9's TF-IDF scores
    a doc's own terms; BM25 ranks docs against a QUERY).

    score(d) = Σ_t idf(t) · tf / (tf + k1·(1 − b + b·dl/avgdl)), with
    the Lucene-style non-negative idf ln(1 + (N − df + 0.5)/(df + 0.5)).

    Scale shape — the posting-list discipline: exploded tokens are
    filtered to the BROADCAST query-term set *before* any aggregation,
    so only matching postings (≈ Σ_t df_t rows) ever shuffle — the
    corpus-sized token stream never does.  N / avgdl are one-row
    aggregates broadcast-cross-joined in (no driver scalar, fully
    lazy); df per term aggregates the already-filtered postings.  The
    final top-k is a TakeOrderedAndProject-shaped global rank over the
    ≤ matched-docs scored rows.  Determinism: round-6 scores, doc-id
    tie-break — the oracle replays the identical formula.

    ``corpus_stats=(n_docs, avgdl)``: N and the average doc length are
    corpus CONSTANTS that need all docs, so deriving them here costs a
    second full scan per query — at serving scale precompute them once
    (one cheap aggregate at index-build time) and pass them in; every
    query then touches only its own postings.  Default None keeps the
    self-contained two-scan form for ad-hoc use.
    """
    terms = F.array(*[F.lit(t) for t in query_terms])
    docs = spread(docs)
    toks = docs.select(F.col(id_col), tokens_col(F.col(text_col)).alias("_t"))
    # per-doc length must count ALL tokens (not just matches) — computed
    # as a projection before the posting filter, no extra aggregation
    with_len = toks.select(id_col, F.size("_t").alias("dl"), F.explode("_t").alias("term"))
    postings = (
        with_len.filter(F.array_contains(terms, F.col("term")))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    if corpus_stats is not None:
        n_docs, avgdl = corpus_stats
        stats = docs.sparkSession.range(1).select(
            F.lit(int(n_docs)).alias("n_docs"), F.lit(float(avgdl)).alias("avgdl")
        )
    else:
        stats = toks.agg(
            F.count("*").alias("n_docs"), F.avg(F.size("_t")).alias("avgdl")
        )
    dfc = postings.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tfn = F.col("tf") / (
        F.col("tf")
        + F.lit(k1) * (1.0 - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        postings.join(F.broadcast(dfc), "term")
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), (idf * tfn).alias("_s"))
        .groupBy(id_col)
        .agg(F.round(F.sum("_s"), 6).alias("bm25"))
    )
    # global top-k as TakeOrderedAndProject (per-partition k-row heaps,
    # one merge) — a bare ORDER BY window would pull every matched doc
    # through ONE task, and a common query term matches most of the
    # corpus; the rank window then runs over k driver-bounded survivors
    # (the x11 vocab-coverage pattern).
    top = scored.orderBy(F.col("bm25").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("bm25").desc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        id_col, "bm25", "rank"
    )


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

# Detection/replacement patterns, applied IN ORDER (emails first so an
# address's digit runs can't be half-eaten by the phone pattern).  Kept
# inside the RE2-compatible subset — no lookaround, no backrefs, no \b —
# so Java regex (Spark) and RE2 (DuckDB oracle) agree byte-for-byte.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("phone", r"[+]?[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
]


# Candidate card-number shapes: 4 groups of 4 digits with optional
# space/dash separators (the 16-digit families — Visa/MC/Discover).
# RE2-compatible like PII_PATTERNS.  A regex ALONE over-matches (any
# 16-digit number); candidates must pass the Luhn checksum to count as
# PII — see ``luhn_valid_col``.
CARD_PATTERN = r"[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}"


def luhn_valid_col(digits: F.Column) -> F.Column:
    """Luhn checksum (ISO/IEC 7812) over a digits-only string, as pure
    Column arithmetic: from the RIGHT, double every second digit,
    subtract 9 from two-digit products, valid iff the sum ≡ 0 mod 10.
    This is what separates a real card-shaped number from 16 random
    digits — the validator a PII scrubber needs so it neither leaks
    real numbers nor shreds benign ids.  Zero shuffle, zero Python."""
    n = F.length(digits)
    total = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0).cast("int"),
        lambda acc, i: acc
        + F.when(
            (n - i) % 2 == 1,  # position from right is even → double
            F.when(
                (F.ascii(F.substring(digits, i.cast("int"), 1)) - 48) * 2 > 9,
                (F.ascii(F.substring(digits, i.cast("int"), 1)) - 48) * 2 - 9,
            ).otherwise(
                (F.ascii(F.substring(digits, i.cast("int"), 1)) - 48) * 2
            ),
        ).otherwise(F.ascii(F.substring(digits, i.cast("int"), 1)) - 48),
    )
    return digits.rlike("^[0-9]{13,19}$") & (total % 10 == 0)


def valid_cards_col(text_col: str = "text") -> F.Column:
    """array<string> of Luhn-VALID card candidates in the text, in
    match order: regexp_extract_all finds the shapes, the Luhn fold
    keeps only real checksums.

    Digit-boundary guard: RE2 (the oracle engine) forbids lookaround,
    so instead of anchoring the pattern we post-filter — a candidate is
    dropped if ANY occurrence of it in the text touches another digit
    (the first 16 digits of a longer number can pass Luhn ~10% of the
    time, and the literal global replace in ``redact_cards_col`` would
    then shred that longer number).  Conservative by design: a string
    that appears both standalone and digit-embedded is left intact
    rather than corrupting the embedded occurrence.  Candidate chars
    are digits/space/dash only, all regex-literal, so the candidate
    itself is safe to splice into a pattern unescaped."""
    t = F.col(text_col)
    cands = F.regexp_extract_all(t, F.lit(CARD_PATTERN), 0)
    strip = lambda c: F.replace(F.replace(c, F.lit("-")), F.lit(" "))  # noqa: E731
    return F.filter(
        cands,
        lambda c: luhn_valid_col(strip(c))
        & ~F.regexp_like(t, F.concat(F.lit("[0-9]"), c))
        & ~F.regexp_like(t, F.concat(c, F.lit("[0-9]"))),
    )


def redacted_text_col(text_col: str = "text") -> F.Column:
    """The ``PII_PATTERNS`` replacement chain as one Column — the
    SINGLE definition of redaction order, shared by ``pii_stats`` and
    the batch/streaming curation pipelines (a pattern added here
    propagates everywhere; the x12 oracle pins the order).  Card
    numbers are handled separately (``redact_cards_col``) because a
    pure regexp replace cannot express the Luhn validity condition."""
    red = F.col(text_col)
    for _, pat, rep in PII_PATTERNS:
        red = F.regexp_replace(red, pat, rep)
    return red


def redact_cards_col(red: F.Column, cards: F.Column) -> F.Column:
    """Replace each Luhn-valid candidate (literal match, all
    occurrences) with ``<CARD>`` — a fold over the validated list, so
    only numbers that PASSED the checksum are scrubbed; near-misses
    (wrong check digit) are left intact by design."""
    return F.aggregate(
        cards, red, lambda acc, c: F.replace(acc, c, F.lit("<CARD>"))
    )


def pii_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc PII detection counts + redacted text: emails, dashed
    phone numbers, and IPv4 literals replaced by typed placeholder
    tokens (``<EMAIL>``/``<PHONE>``/``<IP>``), the standard scrub
    before large-scale training-data release.

    Output: (id, n_email, n_phone, n_ipv4, n_card, redacted_text,
    redacted_len, clean).  Counts are measured on the ORIGINAL text;
    replacements apply sequentially in ``PII_PATTERNS`` order, then
    Luhn-VALID card numbers (``CARD_PATTERN`` candidates passing the
    checksum) are replaced last — a candidate failing the checksum is
    neither counted nor redacted (shredding benign 16-digit ids is a
    recall-destroying over-scrub).

    Scale shape: pure Column regexps + two bounded array folds (Luhn,
    replace-per-valid-card) — single corpus scan, zero shuffle; no
    Python anywhere.
    """
    t = F.col(text_col)
    raw_counts = [F.regexp_count(t, F.lit(pat)) for _, pat, _ in PII_PATTERNS]
    counts = [
        c.cast("int").alias(f"n_{name}")
        for (name, _, _), c in zip(PII_PATTERNS, raw_counts)
    ]
    cards = valid_cards_col(text_col)
    n_card = F.size(cards)
    red = redact_cards_col(redacted_text_col(text_col), cards)
    total = raw_counts[0]
    for c in raw_counts[1:]:
        total = total + c
    total = total + n_card
    return spread(docs).select(
        F.col(id_col),
        *counts,
        n_card.cast("int").alias("n_card"),
        red.alias("redacted_text"),
        F.length(red).cast("int").alias("redacted_len"),
        (total == 0).alias("clean"),
    )


# --------------------------------------------------------------------------
# Benchmark decontamination
# --------------------------------------------------------------------------


def decontamination_gram_rows(
    docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """Public handle on the (id, gram-md5) stream both decontamination
    passes consume: compute it ONCE (and pin it) when running exact and
    Bloom screening over the same corpus — the tokenize + n-gram + md5
    scan is the dominant cost of each pass and is identical between
    them (the x4 shared-occurrence-table lesson).

    ``tokens_df``: optional pre-tokenized ``(id_col, tokens)`` frame —
    grams slice the shared token arrays instead of re-tokenizing, so a
    trio also running fuzzy MinHash over the same corpus shares ONE
    tokenize scan across all three passes."""
    if tokens_df is not None:
        return _gram_hash_rows_from_tokens(
            tokens_df.select(F.col(id_col), F.col("tokens").alias("_toks")),
            n,
            id_col,
        )
    return _gram_hash_rows(spread(docs), n, text_col, id_col)


def ngram_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_eval: bool = True,
    train_grams: DataFrame | None = None,
) -> DataFrame:
    """Flag training documents sharing any word ``n``-gram with an
    evaluation/benchmark set — the standard train-set decontamination
    pass (13-gram overlap is the published convention; pin a smaller
    ``n`` for short documents).

    Output: one row per train doc — (id, n_contaminated_ngrams,
    contaminated).  N-grams use the same normalization as the dedup
    suite; comparison is on md5 of the joined token window, so the
    shuffle (if any) carries 32-byte hashes, never raw text.

    Scale shape: the eval n-gram set is DISTINCT'd and broadcast by
    default (benchmarks are MBs, corpora are TBs) — the contamination
    join is then map-side against the corpus's exploded n-gram stream
    (≈ tokens-per-doc rows, one corpus scan), followed by a partial-agg
    count per doc and a skinny id-only left join to restore clean docs.
    Set ``broadcast_eval=False`` only if the "eval" side is itself
    corpus-scale (then the join shuffles both sides on the hash).
    ``train_grams``: a pre-computed ``decontamination_gram_rows``
    stream — pass the SAME pinned table to this and the Bloom pass so
    the corpus tokenize+gram scan runs once, not per pass.
    """

    eval_grams = _gram_hash_rows(eval_docs, n, text_col, None).distinct()
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    if train_grams is None:
        train_grams = decontamination_gram_rows(train, n, text_col, id_col)
    hits = (
        train_grams
        .join(eval_grams, "gram")
        .groupBy(id_col)
        # grams are array_distinct per doc already — count(*) IS the
        # distinct-collision count, no countDistinct shuffle needed
        .agg(F.count("*").cast("int").alias("n_contaminated_ngrams"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_contaminated_ngrams", F.lit(0)).alias(
                "n_contaminated_ngrams"
            ),
            (F.coalesce("n_contaminated_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def _gram_hash_rows(
    df: DataFrame, n: int, text_col: str, id_col: str | None
) -> DataFrame:
    """Exploded distinct n-gram md5 stream: (id?, gram).  The ONE
    definition of decontamination gram hashing (exact and Bloom paths
    both call it).  Docs shorter than ``n`` tokens yield no grams —
    the explicit guard matters because ``sequence(1, k)`` RUNS
    BACKWARDS when k < 1.

    The token array is materialized as a column before the gram lambda
    slices it: subexpression elimination doesn't reach inside
    higher-order lambdas, so slicing the raw split() expression would
    re-run normalize+split once PER GRAM (measured ~10x on this
    stream's cost at sf0.1)."""
    tok_df = df.select(
        *([F.col(id_col)] if id_col else []),
        tokens_col(F.col(text_col)).alias("_toks"),
    )
    return _gram_hash_rows_from_tokens(tok_df, n, id_col)


def _gram_hash_rows_from_tokens(
    tok_df: DataFrame, n: int, id_col: str | None
) -> DataFrame:
    """The gram-slicing half of ``_gram_hash_rows`` over a frame that
    already carries the ``_toks`` array column."""
    toks = F.col("_toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.md5(F.array_join(F.slice(toks, i, n), " ")),
    )
    safe = F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )
    cols = ([F.col(id_col)] if id_col else []) + [F.explode(safe).alias("gram")]
    return tok_df.select(*cols)


def contaminated_ids(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Just the ids of train docs sharing any n-gram with the eval set
    — the anti-join side of a decontamination GATE.  Unlike
    ``ngram_decontaminate`` (one row per train doc, with counts), this
    skips the clean-doc restore join, so a pipeline that only needs to
    DROP contaminated docs evaluates the train subtree once here plus
    once in its own anti-join — not three times."""
    eval_grams = _gram_hash_rows(eval_docs, n, text_col, None).distinct()
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    return (
        _gram_hash_rows(spread(train), n, text_col, id_col)
        .join(eval_grams, "gram")
        .select(id_col)
        .distinct()
    )


def _bloom_positions(gram: F.Column, num_bits: int, num_hashes: int) -> F.Column:
    """The k bit positions of a gram hash: independent md5-derived
    integers mod the filter size (15 hex chars < 2^60, exact in a
    long)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: (
            F.conv(
                F.substring(F.md5(F.concat(gram, F.lit(":"), i.cast("string"))), 1, 15),
                16,
                10,
            ).cast("long")
            % num_bits
        ),
    )


def bloom_filter_grams(
    eval_docs: DataFrame,
    n: int = 13,
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Build a Bloom filter over the eval set's n-gram hashes as a
    DataFrame of bitset words: (word_idx int, word long), at most
    ``num_bits / 64`` rows.

    This is the 100 TB shape of decontamination's eval side: a distinct
    gram table grows with the benchmark corpus (and must be broadcast
    in full), while the Bloom filter is a FIXED-size bitset — size it
    via m ≈ -n·ln(p)/(ln2)² for a target false-positive rate p, e.g.
    ~1.2 MB of words screens 10⁶ grams at p≈1%.  Build is one pass
    over the eval grams: explode k positions per gram, partial-agg
    ``bit_or`` per 64-bit word — fully distributed, mergeable across
    benchmark shards by construction (bit_or is associative).
    """
    pos = _gram_hash_rows(eval_docs, n, text_col, None).select(
        F.explode(_bloom_positions(F.col("gram"), num_bits, num_hashes)).alias("pos")
    )
    return (
        pos.select(
            (F.col("pos") / 64).cast("int").alias("word_idx"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )


def ngram_decontaminate_bloom(
    train: DataFrame,
    bloom_words: DataFrame,
    n: int = 13,
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_grams: DataFrame | None = None,
) -> DataFrame:
    """Probabilistic variant of ``ngram_decontaminate`` against a
    ``bloom_filter_grams`` bitset: NO false negatives (every truly
    contaminated doc is flagged — the guarantee that matters for
    decontamination), false-positive rate set by the filter sizing.

    Per train gram: compute the k positions and test ALL k bits against
    the whole bitset shipped as ONE broadcast row carrying an
    array<long> (element_at on an array is O(1); a map column would
    linear-scan) — the probe is a map-side ``forall`` expression, so
    the only shuffle is the per-doc count of grams that actually HIT.
    The previous shape posexploded k rows per gram, broadcast-joined
    the word table, and re-grouped by (id, gram) to AND the bits — a
    k×-gram-stream shuffle that existed only to reassemble what one
    expression can test in place (same verdicts: grams are distinct per
    doc, the word array is gap-filled with 0 exactly like the old
    left-join coalesce).
    """
    if train_grams is None:
        train_grams = decontamination_gram_rows(train, n, text_col, id_col)
    nwords = (num_bits + 63) // 64
    idx = train.sparkSession.range(nwords).select(
        F.col("id").cast("int").alias("word_idx")
    )
    # one word per index: duplicate rows OR together, where a second
    # row would lengthen the array and shift every probe after it
    words = bloom_words.groupBy("word_idx").agg(F.bit_or("word").alias("word"))
    warr = (
        idx.join(words, "word_idx", "left")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("word_idx"),
                            F.coalesce(F.col("word"), F.lit(0).cast("long")).alias(
                                "word"
                            ),
                        )
                    )
                ),
                lambda e: e["word"],
            ).alias("_warr")
        )
    )
    # the positions arithmetic mirrors _bloom_positions exactly (conv of
    # 15 md5 hex chars, cast long, mod num_bits); SQL text because
    # higher-order lambdas can't close over Column-built shiftleft
    pos_sql = (
        f"transform(sequence(0, {num_hashes - 1}), "
        f"i -> CAST(conv(substring(md5(concat(gram, ':', CAST(i AS STRING))), "
        f"1, 15), 16, 10) AS BIGINT) % {num_bits})"
    )
    hit_sql = (
        f"forall({pos_sql}, p -> (element_at(_warr, CAST(p DIV 64 AS INT) + 1) "
        f"& shiftleft(1L, CAST(p % 64 AS INT))) != 0)"
    )
    hit = (
        train_grams.crossJoin(F.broadcast(warr))
        .filter(F.expr(hit_sql))
        .groupBy(id_col)
        .agg(F.count("*").cast("int").alias("n_contaminated_ngrams"))
    )
    return (
        train.select(id_col)
        .join(hit, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_contaminated_ngrams", F.lit(0)).alias(
                "n_contaminated_ngrams"
            ),
            (F.coalesce("n_contaminated_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def winnowing_fingerprints_full(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Full winnowing fingerprint SET per document (Schleimer et al.,
    SIGMOD 2003 'local algorithms for document fingerprinting'): hash
    every ``k``-token gram, slide a ``window`` over consecutive hashes,
    keep each window's minimum, emit the distinct selected hashes —
    one row per (doc, fingerprint).

    Guarantees (from the paper): any shared substring of at least
    ``window + k - 1`` tokens contributes at least one SHARED
    fingerprint, while only ~2/(window+1) of hashes are kept — the
    recall-with-compression contract ``winnowing_fingerprint`` (doc-min
    only) cannot give.  Fingerprint matching across docs is then a
    group-by join on the fingerprint column (same inverted-index shape
    as the LSH buckets).

    Physical shape: gram hashes explode to (id, pos, gram) rows —
    each md5 computed exactly ONCE — and the sliding minimum is a
    rows-window over pos.  (The tempting pure-expression form — a
    ``transform`` whose lambda slices a grams array built outside it —
    re-evaluates the WHOLE gram array per window because Spark's
    subexpression elimination does not reach inside higher-order
    lambdas: measured O(tokens²) md5s per doc, 12 s vs 1.4 s at sf0.1.)
    One explode + one per-doc window shuffle; output ≈
    2·tokens/(window+1) distinct rows per doc."""
    # materialize the token array BEFORE the gram lambda slices it
    # (same trap as the note below, one level down: the slice argument
    # re-evaluated normalize+split once per gram)
    docs = spread(docs).select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.md5(F.array_join(F.slice(toks, i, k), " ")),
    )
    long_docs = docs.filter(n >= window + k - 1).select(
        F.col(id_col),
        (n - (k - 1) - (window - 1)).alias("_starts"),
        F.posexplode(grams).alias("_pos", "_gram"),
    )
    win = (
        Window.partitionBy(id_col)
        .orderBy("_pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    selected = (
        long_docs.withColumn("_fp", F.min("_gram").over(win))
        .filter(F.col("_pos") < F.col("_starts"))
        .select(F.col(id_col), F.col("_fp").alias("fingerprint"))
        .distinct()
    )
    # short docs (< window+k-1 tokens): fall back to the whole-doc hash
    # so every doc has at least one fingerprint (matches the doc-min
    # operator's short-doc contract)
    short = docs.filter(n < window + k - 1).select(
        F.col(id_col),
        F.md5(F.array_join(toks, " ")).alias("fingerprint"),
    )
    return selected.unionByName(short)


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 256,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap —
    (id, chunk_idx, chunk_text, n_tokens) — the standard chunking step
    before embedding/indexing (stride = chunk_tokens - overlap; the
    final chunk may be short; docs shorter than one chunk yield
    themselves as chunk 0).

    Pure expression: token split → stride sequence → per-chunk
    slice/array_join → one explode.  Single scan, no shuffle; at
    100 TB chunking is a map over the corpus and the output feeds
    ``similarity``'s embedding/encode stages directly."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens_col(F.col(text_col))
    # NULL text degrades to one (chunk_idx=0, chunk_text=NULL,
    # n_tokens=0) row — without the coalesce, Spark's NULL-skipping
    # least() would report n_tokens=chunk_tokens for a NULL doc
    n = F.greatest(F.coalesce(F.size(toks), F.lit(0)), F.lit(0))
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.struct(
            c.alias("chunk_idx"),
            F.array_join(
                F.slice(toks, c * stride + 1, chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(n - c * stride, F.lit(chunk_tokens)).alias("n_tokens"),
        ),
    )
    return spread(docs).select(
        F.col(id_col), F.explode(chunks).alias("chunk")
    ).select(id_col, "chunk.chunk_idx", "chunk.chunk_text", "chunk.n_tokens")


def _merge_pair_expr(syms: F.Column, left: str, right: str) -> F.Column:
    """One greedy left-to-right BPE pair merge over a symbol array, as
    a fold: append each symbol unless it completes the (left, right)
    pair with the accumulator's last element, in which case the last
    element becomes the merged symbol.  Equivalent to the reference
    scan (emit merged, skip 2) — after a merge the last element is
    left+right, which can never equal ``left`` again, so runs of
    identical symbols pair up exactly like the sequential algorithm
    (a two-pass string replace() gets runs of 5+ wrong because Java's
    replace cannot re-match across a consumed region)."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == left)
            & (x == right),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(left + right))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    docs: DataFrame,
    num_merges: int = 50,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Learn byte-pair-encoding merges from a corpus — the classic
    tokenizer-training loop (Sennrich et al. 2016), DataFrame-native.

    Returns the ordered merge list [(left, right), ...]; apply with
    ``bpe_segment``.  Determinism: the best pair each round is
    (max count, then lexicographically smallest pair) — reproducible
    across runs, partitionings, and engines; verified against a direct
    Python reference implementation in tests.

    Scale shape: training runs over the DISTINCT-WORD table (word,
    count) — corpus-size-independent after the first aggregation (the
    standard BPE formulation trains on word frequencies, not running
    text).  Per merge: one explode of adjacent symbol pairs weighted by
    word count, one partial-agg count, and a driver-side top-1 (one
    row per round — bounded like the connected-components convergence
    scalar); the word table is re-segmented by a pure fold expression
    and localCheckpoint'ed so round N+1 never replays rounds 1..N.
    """
    return [
        (left, right)
        for _step, left, right, _n in bpe_train_trajectory(docs, num_merges, text_col)
    ]


def bpe_train_trajectory(
    docs: DataFrame,
    num_merges: int = 50,
    text_col: str = "text",
) -> list[tuple[int, str, str, int]]:
    """``bpe_train``'s merge TRAJECTORY: [(step, left, right,
    pair_count), ...] with 1-based steps — the training loop's full
    decision record, suitable for oracle replay (each round's winning
    pair and its corpus count are deterministic given the corpus:
    max count, then lexicographically smallest ``left right`` string).
    Same plan as ``bpe_train``; only the bookkeeping differs."""
    words = (
        spread(docs)
        .select(F.explode(tokens_col(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        # initial segmentation: characters + end-of-word marker
        .select(
            F.concat(
                F.split(F.col("w"), ""), F.array(F.lit("</w>"))
            ).alias("syms"),
            "cnt",
        )
        .localCheckpoint(eager=False)
    )
    out: list[tuple[int, str, str, int]] = []
    for step in range(1, num_merges + 1):
        syms = F.col("syms")
        pairs = words.filter(F.size(syms) >= 2).select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(syms) - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(syms, i), F.element_at(syms, i + 1)
                    ),
                )
            ).alias("pair"),
            "cnt",
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), F.col("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0]["pair"].split(" ", 1)
        out.append((step, left, right, int(top[0]["n"])))
        words = words.select(
            _merge_pair_expr(F.col("syms"), left, right).alias("syms"), "cnt"
        ).localCheckpoint(eager=False)
    return out


def bpe_segment(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge list: (id, bpe_tokens_learned array,
    n_bpe_tokens) — each word character-segmented then merged in
    training order, the standard greedy BPE encode.

    Pure Column expression (the merge list unrolls into a chain of
    fold expressions — no Python, no shuffle).  Suited to the modest
    merge counts the tests and demos use; a production encode with a
    30k-merge vocabulary would ship the trained merges into an
    Arrow-batched ``mapInPandas`` tokenizer instead (expression depth
    grows linearly with merges) — the Spark-native contribution here
    is the TRAINING loop, which has no such limit.
    """
    toks = tokens_col(F.col(text_col))

    def encode_word(w: F.Column) -> F.Column:
        syms = F.concat(F.split(w, ""), F.array(F.lit("</w>")))
        for left, right in merges:
            syms = _merge_pair_expr(syms, left, right)
        return syms

    segmented = F.flatten(F.transform(toks, encode_word))
    return spread(docs).select(
        F.col(id_col),
        segmented.alias("bpe_tokens_learned"),
        F.size(segmented).cast("int").alias("n_bpe_tokens"),
    )


def bpe_segment_arrow(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The PRODUCTION BPE encoder: same output as ``bpe_segment`` —
    (id, bpe_tokens_learned, n_bpe_tokens) — but the merge list ships
    once into an Arrow-batched ``mapInPandas`` tokenizer instead of
    unrolling into an expression chain, so it handles real 30k-merge
    vocabularies where the expression form hits Catalyst's expression-
    depth/codegen limits (it grows one fold per merge).

    Semantics are pinned to the expression path
    (``test_bpe_segment_arrow_matches_expression_path``): merges apply
    in TRAINING ORDER, each as one greedy left-to-right pass — not the
    min-rank re-scan loop some encoders use, which can re-fire an
    earlier merge that a later one makes adjacent.

    Scale shape: map-only (zero shuffle, zero join); the merge list is
    closure-captured once per executor, not per row.  Per batch, two
    built-in fast paths keep 30k merges tractable: a per-batch
    distinct-word cache (natural language re-uses words heavily), and
    a substring pre-filter — a merge (l, r) can only apply to a word if
    ``l+r`` occurs contiguously in ``word + '</w>'`` (every symbol is a
    contiguous slice of that string), so inapplicable merges cost one
    C-level ``in`` check instead of a symbol pass.
    """
    import re

    merge_seq = [(left, right, left + right) for left, right in merges]
    id_type = dict(docs.dtypes)[id_col]
    schema = (
        f"{id_col} {id_type}, bpe_tokens_learned array<string>, "
        "n_bpe_tokens int"
    )
    # normalized_text replica: Java regex \s is ASCII-only, unlike
    # Python's unicode-aware str.split()
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def encode_batches(batches):
        import pandas as pd

        cache: dict[str, list[str]] = {}

        def encode_word(w: str) -> list[str]:
            got = cache.get(w)
            if got is None:
                # Spark's split(w, '') yields [''] for the empty word
                syms = (list(w) if w else [""]) + ["</w>"]
                full = w + "</w>"
                for left, right, lr in merge_seq:
                    if len(syms) < 2:
                        break
                    if lr not in full:
                        continue
                    out: list[str] = []
                    for x in syms:
                        if out and out[-1] == left and x == right:
                            out[-1] = lr
                        else:
                            out.append(x)
                    syms = out
                cache[w] = got = syms
            return got

        for pdf in batches:
            ids, toks, ns = [], [], []
            for rid, txt in zip(pdf[id_col], pdf[text_col]):
                ids.append(rid)
                if txt is None or (isinstance(txt, float) and txt != txt):
                    toks.append(None)
                    ns.append(None)
                    continue
                norm = ws.sub(" ", str(txt).lower()).strip(" \t\n\x0b\f\r")
                segs: list[str] = []
                for w in norm.split(" "):
                    segs.extend(encode_word(w))
                toks.append(segs)
                ns.append(len(segs))
            yield pd.DataFrame(
                {id_col: ids, "bpe_tokens_learned": toks, "n_bpe_tokens": ns}
            )

    return (
        spread(docs)
        .select(id_col, text_col)
        .mapInPandas(encode_batches, schema)
    )


def wordpiece_vocab(
    docs: DataFrame,
    max_piece_len: int = 4,
    top_start: int = 60,
    top_cont: int = 60,
    text_col: str = "text",
) -> DataFrame:
    """A deterministic WordPiece-style vocabulary: the top
    ``top_start`` word PREFIXES (start pieces) and top ``top_cont``
    interior substrings (continuation pieces, applied with the ``##``
    convention at segment time) by occurrence-weighted corpus count,
    capped at ``max_piece_len`` chars.  Frequency-ranked substring
    selection is the deterministic stand-in for WordPiece's
    likelihood-greedy vocab learning (Wu et al. arXiv:1609.08144 §4.1
    — the INFERENCE algorithm, greedy longest-match-first, is the
    standard one; vocab construction differs per implementation) —
    and, unlike the learned build, it is exactly replayable in SQL.

    Output: (piece, is_cont, count, rank) — rank per piece class by
    (count DESC, piece ASC), the total-order rule every hash-verified
    top-k in this repo uses.

    Scale shape: one token scan, candidate pieces exploded via
    ``transform(sequence(...))`` (≤ max_piece_len² per word occurrence
    — array ops, no join), one aggregation shuffle on the piece
    string, and a top-k that plans as TakeOrderedAndProject (never a
    global sort)."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import tokens_col
    from kafkastreamsinteractivequeries_spark.sources.tables import spread

    words = (
        spread(docs)
        .select(F.explode(tokens_col(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    L = int(max_piece_len)
    starts = (
        words.select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, least(length(w), {L})),"
                    " l -> substring(w, 1, l))"
                )
            ).alias("piece"),
            "c",
        )
        .groupBy("piece")
        .agg(F.sum("c").cast("long").alias("count"))
        .orderBy(F.col("count").desc(), "piece")
        .limit(int(top_start))
        .select(
            "piece",
            F.lit(0).alias("is_cont"),
            "count",
            F.row_number()
            .over(Window.orderBy(F.col("count").desc(), "piece"))
            .cast("long")
            .alias("rank"),
        )
    )
    conts = (
        words.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(2, length(w)), p ->"
                    f" transform(sequence(1, least({L}, length(w) - p + 1)),"
                    " l -> substring(w, p, l))))"
                )
            ).alias("piece"),
            "c",
        )
        .groupBy("piece")
        .agg(F.sum("c").cast("long").alias("count"))
        .orderBy(F.col("count").desc(), "piece")
        .limit(int(top_cont))
        .select(
            "piece",
            F.lit(1).alias("is_cont"),
            "count",
            F.row_number()
            .over(Window.orderBy(F.col("count").desc(), "piece"))
            .cast("long")
            .alias("rank"),
        )
    )
    return starts.unionByName(conts)


def wordpiece_segment_arrow(
    docs: DataFrame,
    start_pieces: list[str],
    cont_pieces: list[str],
    unk_token: str = "[UNK]",
    text_col: str = "text",
    id_col: str = "doc_id",
    byte_fallback: bool = False,
) -> DataFrame:
    """BERT-style WordPiece segmentation — greedy longest-match-first
    (MaxMatch): at a word's start the longest matching START piece is
    taken, after it the longest matching continuation piece (emitted
    with the ``##`` prefix); a position with no match makes the WHOLE
    word ``unk_token`` (the reference WordPiece behavior, not a
    partial emit).  Output: (id, wp_tokens, n_wp_tokens).

    ``byte_fallback=True`` switches to the SentencePiece/Llama
    convention instead: an unmatched position NEVER produces UNK — the
    single character there decomposes into its UTF-8 bytes as
    ``<0xNN>`` tokens and MaxMatch resumes after it, so every input
    round-trips losslessly (the property production tokenizers
    guarantee; UNK destroys training text).

    The production shape mirrors ``bpe_segment_arrow``: one Arrow
    ``mapInPandas`` pass, piece sets closure-captured once per
    executor, a per-batch distinct-word cache, and length-bucketed
    lookups (longest-first probe over a set is O(max_piece_len) per
    position).  Map-only — zero shuffle, zero join.  NULL text
    degrades to a NULL token row."""
    import re

    starts = set(start_pieces)
    conts = set(cont_pieces)
    max_s = max((len(p) for p in starts), default=0)
    max_c = max((len(p) for p in conts), default=0)
    id_type = dict(docs.dtypes)[id_col]
    schema = f"{id_col} {id_type}, wp_tokens array<string>, n_wp_tokens int"
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def encode_batches(batches):
        import pandas as pd

        cache: dict[str, list[str]] = {}

        def encode_word(w: str) -> list[str]:
            got = cache.get(w)
            if got is not None:
                return got
            toks: list[str] = []
            pos, n = 0, len(w)
            while pos < n:
                table, cap = (starts, max_s) if pos == 0 else (conts, max_c)
                match = None
                for ln in range(min(cap, n - pos), 0, -1):
                    cand = w[pos : pos + ln]
                    if cand in table:
                        match = cand
                        break
                if match is None:
                    if not byte_fallback:
                        toks = [unk_token]
                        break
                    toks.extend(
                        f"<0x{b:02X}>" for b in w[pos].encode("utf-8")
                    )
                    pos += 1
                    continue
                toks.append(match if pos == 0 else "##" + match)
                pos += len(match)
            cache[w] = toks
            return toks

        for pdf in batches:
            ids, toks, ns = [], [], []
            for rid, txt in zip(pdf[id_col], pdf[text_col]):
                ids.append(rid)
                if txt is None or (isinstance(txt, float) and txt != txt):
                    toks.append(None)
                    ns.append(None)
                    continue
                norm = ws.sub(" ", str(txt).lower()).strip(" \t\n\x0b\f\r")
                segs: list[str] = []
                for w in norm.split(" "):
                    if w:
                        segs.extend(encode_word(w))
                toks.append(segs)
                ns.append(len(segs))
            yield pd.DataFrame(
                {id_col: ids, "wp_tokens": toks, "n_wp_tokens": ns}
            )

    from kafkastreamsinteractivequeries_spark.sources.tables import spread

    return (
        spread(docs)
        .select(id_col, text_col)
        .mapInPandas(encode_batches, schema)
    )


def _hb(n: int) -> int:
    """floor(2·log2 n) by exact integer bit arithmetic — the half-bit
    fixed-point log this repo's unigram LM scores live on.  Python
    ``(n*n).bit_length() - 1`` equals SQL ``length(bin(n*n)) - 1``
    bit-for-bit (both engines verified), so trajectory replays never
    touch libm (whose last-ulp rounding differs across engines and
    would flip Viterbi argmins)."""
    if n < 1:
        raise ValueError("hb is defined for n >= 1")
    return (n * n).bit_length() - 1


_USEP = "\x01"  # path separator < every corpus char: joined-string
# comparison == piece-tuple comparison in both engines


def _unigram_viterbi(
    w: str,
    costs: dict[str, int],
    max_piece_len: int,
    unk_cost: int,
    cache: dict[str, list[str]],
) -> list[str]:
    """Min-cost segmentation of one word under a unigram piece-cost
    table: DP over end positions, state = (total_cost, n_pieces,
    pieces-joined-with-\\x01); ties break on fewer pieces then the
    lexicographically smallest joined path — a TOTAL order both
    engines replay (DuckDB compares the same UTF-8 strings).  A
    character absent from the table segments as itself at
    ``unk_cost`` (never fires on training data: every corpus char is
    in the vocab by construction)."""
    got = cache.get(w)
    if got is not None:
        return got
    n = len(w)
    best: list[tuple[int, int, str] | None] = [(0, 0, "")] + [None] * n
    for p in range(1, n + 1):
        cur = None
        for ln in range(1, min(max_piece_len, p) + 1):
            prev = best[p - ln]
            if prev is None:
                continue
            piece = w[p - ln : p]
            c = costs.get(piece)
            if c is None:
                if ln != 1:
                    continue
                c = unk_cost
            cand = (
                prev[0] + c,
                prev[1] + 1,
                piece if prev[2] == "" else prev[2] + _USEP + piece,
            )
            if cur is None or cand < cur:
                cur = cand
        best[p] = cur
    out = best[n][2].split(_USEP) if n else [""]
    cache[w] = out
    return out


def unigram_lm_train(
    docs: DataFrame,
    max_piece_len: int = 4,
    top_k: int = 40,
    text_col: str = "text",
) -> list[tuple[str, int, int, int]]:
    """SentencePiece-style unigram-LM vocabulary training (Kudo,
    arXiv:1804.10959), deterministic and fixed-point so the full
    trajectory replays in SQL — the third major tokenizer family
    beside BPE (``bpe_train_trajectory``) and WordPiece
    (``wordpiece_vocab``), and the one Llama-class pipelines train:

    1. SEED: every substring of every corpus word up to
       ``max_piece_len`` chars, occurrence-weighted; ALL single
       characters are kept (the character-coverage guarantee), plus
       the ``top_k`` multi-char pieces by (count DESC, piece ASC).
       Seed cost = hb(T) − hb(count) in HALF-BITS, where
       hb = floor(2·log2 n) via exact integer bit-length (libm logs
       differ across engines in the last ulp and would flip Viterbi
       argmins — the quantized-log discipline).
    2. HARD-EM round (the E step is Viterbi, the M step a recount —
       the deterministic core of Kudo's EM+prune loop): segment every
       DISTINCT word under the seed costs, count occurrence-weighted
       piece USAGE, PRUNE multi-char pieces never used, and re-score
       from add-one-smoothed usage (count = usage + 1, so unused
       single chars stay defined).  Rank by (count DESC, piece ASC).

    Returns the final vocab as [(piece, count, cost_halfbits, rank)]
    — a BOUNDED list (≤ top_k + |alphabet|), suitable for closure
    shipping into ``unigram_segment_arrow`` and for
    ``spark.createDataFrame``.

    Scale shape: both corpus-sized passes are distributed (substring
    explosion + aggregation for the seed; an Arrow ``mapInPandas``
    Viterbi over the distinct-word table for usage); only the
    bounded vocab tables are collected, and their cost/rank
    arithmetic runs in exact Python big-ints (no int64 envelope on
    the totals).  int64 note for the SQL replay: the oracle squares
    counts in BIGINT, exact while corpus piece totals stay below
    2^31.5 — switch the replay to HUGEINT squaring past that."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import tokens_col
    from kafkastreamsinteractivequeries_spark.sources.tables import spread

    L = int(max_piece_len)
    words = (
        spread(docs)
        .select(F.explode(tokens_col(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    # no checkpoint: the candidate table feeds exactly ONE action (the
    # unioned singles+multis collect below)
    cand = (
        words.select(
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, length(w)), p ->"
                    f" transform(sequence(1, least({L}, length(w) - p + 1)),"
                    " l -> substring(w, p, l))))"
                )
            ).alias("piece"),
            "c",
        )
        .groupBy("piece")
        .agg(F.sum("c").cast("long").alias("count"))
    )
    seed_rows = (
        cand.filter(F.length("piece") == 1)
        .unionByName(
            cand.filter(F.length("piece") >= 2)
            .orderBy(F.col("count").desc(), "piece")
            .limit(int(top_k))
        )
        .collect()  # one bounded action: |alphabet| + top_k rows
    )
    seed = {r["piece"]: int(r["count"]) for r in seed_rows}
    t_seed = sum(seed.values())
    hb_t = _hb(t_seed)
    seed_costs = {p: hb_t - _hb(c) for p, c in seed.items()}
    unk = max(seed_costs.values(), default=0) + 2

    # E step: distributed Viterbi over the distinct-word table — the
    # seed table is bounded, closure-captured once per executor
    def usage_batches(batches):
        import pandas as pd

        cache: dict[str, list[str]] = {}
        for pdf in batches:
            counts: dict[str, int] = {}
            for w, c in zip(pdf["w"], pdf["c"]):
                for piece in _unigram_viterbi(
                    str(w), seed_costs, L, unk, cache
                ):
                    counts[piece] = counts.get(piece, 0) + int(c)
            yield pd.DataFrame(
                {"piece": list(counts), "usage": list(counts.values())}
            )

    usage_rows = (
        words.mapInPandas(usage_batches, "piece string, usage long")
        .groupBy("piece")
        .agg(F.sum("usage").cast("long").alias("usage"))
        .collect()
    )
    usage = {r["piece"]: int(r["usage"]) for r in usage_rows}

    # M step + prune: add-one-smoothed usage over the surviving pieces
    final_counts = {
        p: usage.get(p, 0) + 1
        for p in seed
        if len(p) == 1 or usage.get(p, 0) > 0
    }
    t_final = sum(final_counts.values())
    hb_tf = _hb(t_final)
    ranked = sorted(final_counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [
        (piece, cnt, hb_tf - _hb(cnt), rank)
        for rank, (piece, cnt) in enumerate(ranked, start=1)
    ]


def unigram_segment_arrow(
    docs: DataFrame,
    vocab: list[tuple[str, int, int, int]] | list[tuple[str, int]],
    max_piece_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Viterbi segmentation of every doc under a trained unigram-LM
    vocab (``unigram_lm_train`` rows, or bare (piece, cost) pairs) —
    the production encode path, shaped like ``bpe_segment_arrow``:
    one Arrow ``mapInPandas`` pass, vocab closure-captured once per
    executor, per-batch distinct-word cache, zero shuffle.  Unknown
    characters (never present in training data) segment as
    themselves at max-cost+2.  Output: (id, u_tokens, n_u_tokens)."""
    import re

    costs = {
        row[0]: int(row[2]) if len(row) >= 3 else int(row[1])
        for row in vocab
    }
    unk = max(costs.values(), default=0) + 2
    L = int(max_piece_len)
    id_type = dict(docs.dtypes)[id_col]
    schema = f"{id_col} {id_type}, u_tokens array<string>, n_u_tokens int"
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def encode_batches(batches):
        import pandas as pd

        cache: dict[str, list[str]] = {}
        for pdf in batches:
            ids, toks, ns = [], [], []
            for rid, txt in zip(pdf[id_col], pdf[text_col]):
                ids.append(rid)
                if txt is None or (isinstance(txt, float) and txt != txt):
                    toks.append(None)
                    ns.append(None)
                    continue
                norm = ws.sub(" ", str(txt).lower()).strip(" \t\n\x0b\f\r")
                segs: list[str] = []
                for w in norm.split(" "):
                    if w:
                        segs.extend(
                            _unigram_viterbi(w, costs, L, unk, cache)
                        )
                toks.append(segs)
                ns.append(len(segs))
            yield pd.DataFrame(
                {id_col: ids, "u_tokens": toks, "n_u_tokens": ns}
            )

    from kafkastreamsinteractivequeries_spark.sources.tables import spread

    return (
        spread(docs)
        .select(id_col, text_col)
        .mapInPandas(encode_batches, schema)
    )


def gram_histogram(
    corpus: DataFrame,
    num_buckets: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """(bucket, cnt): the hashed unigram+bigram occurrence histogram of
    a corpus — one linear gram scan collapsing to ≤ num_buckets rows.
    The snapshot artifact `distribution_divergence_from_histograms`
    compares; the streaming twin is
    ``streaming.pipeline.StreamingGramHistogramSink`` (same bucketing,
    add-mergeable, so landed snapshots diff against any batch
    histogram)."""
    from kafkastreamsinteractivequeries_spark.operators.curation import (
        _hashed_gram_stream,
    )
    from kafkastreamsinteractivequeries_spark.sources.tables import spread

    return (
        _hashed_gram_stream(spread(corpus), num_buckets, text_col)
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )


def distribution_divergence_from_histograms(
    hist_a: DataFrame,
    hist_b: DataFrame,
    num_buckets: int = 4096,
    top_k: int = 20,
) -> DataFrame:
    """`distribution_divergence` over precomputed (bucket, cnt)
    histograms (``gram_histogram`` output or a landed
    ``StreamingGramHistogramSink`` snapshot) — the snapshot-diff form:
    yesterday-vs-today needs no second pass over yesterday's corpus,
    only its ≤ num_buckets-row artifact."""
    ha = hist_a.select("bucket", F.col("cnt").alias("ca"))
    hb = hist_b.select("bucket", F.col("cnt").alias("cb"))
    hist = (
        ha.join(hb, "bucket", "full")
        .select(
            "bucket",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
        .localCheckpoint(eager=False)
    )
    totals = hist.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb"),
        F.count("*").alias("n_obs"),
    )
    B = float(num_buckets)
    p = (F.col("ca") + 1) / (F.col("na") + B)
    q = (F.col("cb") + 1) / (F.col("nb") + B)
    m = (p + q) / 2
    jsc = 0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)
    scored = hist.crossJoin(F.broadcast(totals)).select(
        "bucket", "ca", "cb", "na", "nb", "n_obs",
        (p * F.log(p / q)).alias("_kab"),
        (q * F.log(q / p)).alias("_kba"),
        jsc.alias("_js"),
    )
    # absent-bucket constant terms (ca = cb = 0), added in closed form
    p0 = 1 / (F.col("na") + B)
    q0 = 1 / (F.col("nb") + B)
    m0 = (p0 + q0) / 2
    tail = F.lit(num_buckets) - F.col("n_obs")
    sums = (
        scored.groupBy("na", "nb", "n_obs")
        .agg(
            F.sum("_kab").alias("skab"),
            F.sum("_kba").alias("skba"),
            F.sum("_js").alias("sjs"),
        )
        .select(
            "na", "nb",
            F.round(F.round(F.col("skab") + tail * p0 * F.log(p0 / q0), 12), 6).alias("kl_ab"),
            F.round(F.round(F.col("skba") + tail * q0 * F.log(q0 / p0), 12), 6).alias("kl_ba"),
            F.round(
                F.round(
                    F.col("sjs")
                    + tail * (0.5 * p0 * F.log(p0 / m0) + 0.5 * q0 * F.log(q0 / m0)),
                    12,
                ),
                6,
            ).alias("js"),
        )
    )
    metrics = sums.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("metric"),
                        F.lit(-1).alias("bucket"),
                        F.col(name).alias("value"),
                        F.col("na").cast("long").alias("count_a"),
                        F.col("nb").cast("long").alias("count_b"),
                    )
                    for name in ("js", "kl_ab", "kl_ba")
                ]
            )
        ).alias("r")
    ).select("r.*")
    top = (
        scored.select(
            F.lit("bucket").alias("metric"),
            "bucket",
            F.round(F.round(F.col("_js"), 15), 9).alias("value"),
            F.col("ca").cast("long").alias("count_a"),
            F.col("cb").cast("long").alias("count_b"),
        )
        .orderBy(F.abs(F.col("value")).desc(), "bucket")
        .limit(top_k)
    )
    return metrics.unionByName(top)


def distribution_divergence(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    num_buckets: int = 4096,
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """Corpus-distribution DRIFT monitor: compare two corpus snapshots
    by add-1-smoothed hashed unigram+bigram histograms (DSIR's feature
    space — ``curation._hashed_gram_stream``), reporting Jensen-Shannon
    divergence, both KL directions, and the ``top_k`` buckets by
    absolute JS contribution.

    Returns (metric, bucket, value, count_a, count_b):

    - metric 'js' / 'kl_ab' / 'kl_ba': bucket = -1, value = nats,
      count_* = total gram occurrences per corpus;
    - metric 'bucket': the top contributors, value = the bucket's JS
      contribution, count_* = its raw occurrence counts — the "what
      changed" drill-down next to the "how much" scalar.

    Smoothing covers ABSENT buckets in closed form: a bucket unseen in
    both corpora contributes a constant term, so the (num_buckets −
    observed) tail is added arithmetically — the compare never
    materializes more than the observed ≤ num_buckets rows.

    Scale: one linear gram scan per corpus collapsing to a bounded
    histogram, one full-outer join of two ≤ num_buckets-row tables, one
    aggregate.  Run between any two snapshots (yesterday/today, source
    A vs B, pre/post filter) for ingest observability; on a stream,
    land the histogram via ``StreamingGramHistogramSink`` and diff
    snapshots with ``distribution_divergence_from_histograms``."""
    return distribution_divergence_from_histograms(
        gram_histogram(corpus_a, num_buckets, text_col),
        gram_histogram(corpus_b, num_buckets, text_col),
        num_buckets,
        top_k,
    )


def _gopher_cols(
    text_col: str = "text",
    toks: F.Column | None = None,
    srt: F.Column | None = None,
) -> dict[str, F.Column]:
    """The Gopher rule signals as raw Columns keyed by output name —
    shared by ``gopher_quality_rules`` (standalone gate table) and
    ``quality_signal_export`` (the one-pass wide signals row), so both
    read the corpus once and compute identical values.

    ``toks``/``srt`` optionally name PRE-MATERIALIZED token /
    sorted-token array columns.  The repetition fold's lambda indexes
    the sorted array per element, and Spark's subexpression
    elimination does not reach inside higher-order lambdas — with the
    default inline expressions the whole normalize+split+sort chain
    re-runs once PER TOKEN (the duplicate_span_occurrences trap,
    measured there at ~10x).  Callers that own the projection should
    materialize both arrays in a prior select and pass column refs."""
    if toks is None:
        toks = tokens_col(F.col(text_col))
    norm = normalized_text(F.col(text_col))
    wc = F.size(toks)
    mwl = (
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double")
        / wc
    )
    punct_ratio = (
        (F.length(norm) - F.length(F.regexp_replace(norm, PUNCT_CLASS, ""))).cast(
            "double"
        )
        / wc
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double") / wc
    )
    en_stops = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in STOPWORDS["en"]])
        )
    )
    # longest equal-run of the sorted tokens == max unigram frequency
    if srt is None:
        srt = F.array_sort(toks)
    eq = F.transform(
        F.sequence(F.lit(2), wc),
        lambda i: (F.element_at(srt, i) == F.element_at(srt, i - 1)).cast("int"),
    )
    maxrun = F.when(wc <= 1, F.lit(1)).otherwise(
        F.aggregate(
            eq,
            F.struct(F.lit(1).alias("cur"), F.lit(1).alias("best")),
            lambda acc, e: F.struct(
                (F.when(e == 1, acc["cur"] + 1).otherwise(F.lit(1))).alias("cur"),
                F.greatest(
                    acc["best"],
                    F.when(e == 1, acc["cur"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )
    )
    top_share = F.round(maxrun.cast("double") / wc, 6)
    mask = (
        F.when((wc < 20) | (wc > 100000), 1).otherwise(0)
        + F.when((mwl < 3.0) | (mwl > 10.0), 2).otherwise(0)
        + F.when(punct_ratio > 0.1, 4).otherwise(0)
        + F.when(alpha_frac < 0.8, 8).otherwise(0)
        + F.when(en_stops == 0, 16).otherwise(0)
        + F.when(top_share > 0.2, 32).otherwise(0)
    )
    # a NULL text nulls every metric, which would fold the mask to 0
    # and PASS the gate — a null document fails everything instead
    mask = F.when(F.col(text_col).isNull(), F.lit(63)).otherwise(mask)
    return {
        "word_count": wc.cast("long"),
        "mean_word_len": F.round(mwl, 6),
        "top_share": top_share,
        "failure_mask": mask.cast("long"),
        "passed": (mask == 0).cast("int"),
    }


def gopher_quality_rules(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al.,
    arXiv:2112.11446 §A1.1 — public), adapted to this corpus's signals.
    Per doc: ``(doc_id, word_count, mean_word_len, top_share,
    failure_mask, passed)`` where ``failure_mask`` is a bitmask of the
    rules the doc FAILS:

      1  word count outside [20, 100000]
      2  mean word length outside [3, 10]
      4  punctuation-to-word ratio > 0.1
      8  fraction of words containing a letter < 0.8
      16 zero distinct English stopwords present (fluency proxy)
      32 most-frequent word share > 0.2 (repetition rule)

    Scale: every rule is a zero-shuffle Column expression.  The
    repetition rule is LINEAR in document length — top frequency =
    the longest equal-run of the SORTED token array, computed by one
    ``aggregate`` fold (never the O(n·distinct) count-per-distinct
    shape, which dies on 100k-token documents).  The token and
    sorted-token arrays are materialized as columns before the fold's
    lambda touches them (see ``_gopher_cols``)."""
    prep = spread(docs).select(
        F.col(id_col),
        F.col(text_col),
        tokens_col(F.col(text_col)).alias("_toks"),
    ).select(
        F.col(id_col),
        F.col(text_col),
        F.col("_toks"),
        F.array_sort("_toks").alias("_srt"),
    )
    cols = _gopher_cols(text_col, toks=F.col("_toks"), srt=F.col("_srt"))
    return prep.select(
        F.col(id_col), *[c.alias(name) for name, c in cols.items()]
    )


def blocklist_gate(
    docs: DataFrame,
    blocked: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style bad-words gate (Raffel et al. 1910.10683 §2.2 drops any
    page containing a word from a fixed blocklist): per-doc blocked-token
    count/fraction and the pass flag (pass = zero blocked tokens over a
    non-null document; NULL text FAILS explicitly per the
    adversarial-input convention — a gate must never vacuously pass a
    corrupt row).

    Scale shape: the blocklist is bounded by contract (a curated list,
    KBs at most) and ships as ONE literal array Column — one py4j call
    regardless of list size (the big-literal lesson) — matched with
    ``array_contains`` inside a single map stage: no shuffle, no UDF,
    no join.  Exact-token matching on the shared normalized tokenizer;
    substring/obfuscation matching is a different operator by design
    (this replicates C4's word-boundary semantics).
    """
    cols = _blocklist_cols(blocked, text_col)
    return docs.select(
        F.col(id_col), *[c.alias(name) for name, c in cols.items()]
    )


def _blocklist_cols(
    blocked: list[str], text_col: str = "text", toks: F.Column | None = None
) -> dict[str, F.Column]:
    """The C4 bad-words signals as raw Columns keyed by output name —
    shared by ``blocklist_gate`` and ``quality_signal_export`` (same
    one-pass contract as ``_gopher_cols``; ``toks`` optionally names a
    pre-materialized token array column)."""
    if toks is None:
        toks = tokens_col(F.col(text_col))
    if blocked:
        barr = F.lit([str(b) for b in blocked])
        nb = F.size(F.filter(toks, lambda t: F.array_contains(barr, t)))
    else:
        # F.lit([]) is array<void>, which fails analysis inside
        # array_contains — an empty blocklist blocks nothing.
        nb = F.lit(0)
    n = F.size(toks)
    null_text = F.col(text_col).isNull()
    return {
        "n_tokens": F.when(null_text, F.lit(0)).otherwise(n).cast("long"),
        "n_blocked": F.when(null_text, F.lit(0)).otherwise(nb).cast("long"),
        "blocked_frac": F.when(null_text | (n == 0), F.lit(0.0)).otherwise(
            F.round(nb / n, 6)
        ),
        "passed": (~null_text & (nb == 0)).cast("int"),
    }


def quality_signal_export(
    docs: DataFrame,
    blocked: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dolma/RefinedWeb-style per-document quality-signals EXPORT
    table (Soldaini et al. arXiv:2402.00159 land per-doc "attributes"
    files; Penedo et al. arXiv:2306.01116 tune thresholds offline):
    every rule-based signal the curation gates consume, assembled as
    ONE wide row per document so thresholds can be tuned offline
    without re-scanning the corpus per signal.

    Columns: ``(id, n_chars, word_count, mean_word_len, top_share,
    failure_mask, gopher_passed, n_blocked, blocked_frac, bl_passed)``
    — the Gopher bundle and the C4 blocklist bundle, value-identical
    to ``gopher_quality_rules`` / ``blocklist_gate`` (same shared
    Column builders).

    Scale shape: one ``select`` over the corpus — every signal is a
    zero-shuffle Column expression evaluated in the SAME scan stage
    (plan-pinned by test: one file scan, zero exchanges).  At 100 TB
    this is the difference between one pass and one pass per signal
    family."""
    gop = _gopher_cols(text_col, toks=F.col("_toks"), srt=F.col("_srt"))
    bl = _blocklist_cols(blocked, text_col, toks=F.col("_toks"))
    prep = spread(docs).select(
        F.col(id_col),
        F.col(text_col),
        tokens_col(F.col(text_col)).alias("_toks"),
    ).select(
        F.col(id_col),
        F.col(text_col),
        F.col("_toks"),
        F.array_sort("_toks").alias("_srt"),
    )
    return prep.select(
        F.col(id_col),
        F.coalesce(F.length(F.col(text_col)), F.lit(0))
        .cast("long")
        .alias("n_chars"),
        gop["word_count"].alias("word_count"),
        gop["mean_word_len"].alias("mean_word_len"),
        gop["top_share"].alias("top_share"),
        gop["failure_mask"].alias("failure_mask"),
        gop["passed"].alias("gopher_passed"),
        bl["n_blocked"].alias("n_blocked"),
        bl["blocked_frac"].alias("blocked_frac"),
        bl["passed"].alias("bl_passed"),
    )


# --------------------------------------------------------------------------
# HTML stripping (boilerplate removal, web-corpus prep)
# --------------------------------------------------------------------------

# Block elements whose CONTENT must go (scripts/styles/comments), then
# remaining tags, then entities.  Kept in the RE2-compatible subset
# (non-greedy + (?s), no lookaround) so Java regex (Spark) and RE2
# (DuckDB oracle) agree byte-for-byte.
HTML_BLOCK_PATTERNS: list[str] = [
    r"(?s)<script[^>]*>.*?</script>",
    r"(?s)<style[^>]*>.*?</style>",
    r"(?s)<!--.*?-->",
]
HTML_TAG_PATTERN = r"<[^>]+>"
# decode order matters: '&amp;' LAST, or '&amp;lt;' would double-decode
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


# ---- encoding repair (mojibake) -------------------------------------
# The two dominant real-corpus text corruptions (ftfy's core cases) are
# UTF-8 bytes mis-decoded as cp1252/latin-1 and re-saved as UTF-8:
# 'é' (C3 A9) becomes 'Ã©', '’' (E2 80 99) becomes 'â€™'.  The reverse
# map is a PURE FUNCTION of the character table below — generated at
# import (never hand-maintained) by encoding each target char to UTF-8
# and decoding byte-wise as cp1252 with the WHATWG latin-1 fallback for
# cp1252's five undefined bytes (0x81 8D 8F 90 9D), exactly the browser
# behavior that produced the corruption.  Every mojibake sequence is
# ≥2 chars of non-ASCII, so clean ASCII text can never match and passes
# through byte-identical.
_MOJIBAKE_TARGETS = (
    "éèêëàâáäçîïíìôöóòùûúüñÿœæÃ"  # accented latin + the Ã of double-double
    "’‘“”–—…€•©®°±«»¿¡"  # punctuation/symbols (3-byte UTF-8 mostly)
)
_CP1252_UNDEF = {0x81, 0x8D, 0x8F, 0x90, 0x9D}


def _mojibake_of(s: str) -> str:
    """What ``s`` looks like after the UTF-8→cp1252 mis-decode (the
    corruption this module repairs) — also used by tests/oracles to
    MANUFACTURE corrupted fixtures from clean text."""
    out = []
    for x in s.encode("utf-8"):
        if x < 0x80:
            out.append(chr(x))
        elif x in _CP1252_UNDEF:
            out.append(chr(x))  # WHATWG fallback: C1 control as-is
        else:
            out.append(bytes([x]).decode("cp1252"))
    return "".join(out)


#: (mojibake_sequence, repaired_char), longest sequence first (3-byte
#: UTF-8 targets repair before 2-byte ones so 'â€™' wins over 'Ã¢'),
#: lexicographic within a length for a deterministic chain.  ONE layer
#: of corruption is reversed per pass (doubly-corrupted text needs two
#: applications — rare enough that the fixpoint loop is the caller's
#: policy).
MOJIBAKE_PAIRS: list[tuple[str, str]] = sorted(
    {(_mojibake_of(ch), ch) for ch in _MOJIBAKE_TARGETS},
    key=lambda p: (-len(p[0]), p[0]),
)


def normalize_nfc_arrow(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode NFC normalization — the companion hygiene op to mojibake
    repair: decomposed sequences (e + combining acute), out-of-order
    combining marks, and legacy composed forms all collapse to one
    canonical byte form, so dedup/fingerprinting stop treating visually
    identical text as distinct.

    Output: (id, text_nfc, n_raw, n_nfc, changed).  Lengths are CODE
    POINTS (Python ``len`` == DuckDB ``length`` semantics, astral-safe
    — Spark's ``length`` counts UTF-16 units and would diverge on
    supplementary-plane text, so lengths are computed inside the batch
    and never re-derived engine-side).  NULL text degrades to
    (NULL, 0, 0, false).

    Scale shape: Spark has no NFC builtin, so this is one Arrow
    ``mapInPandas`` pass over (id, text) — the sanctioned Python
    boundary (same slot as the production BPE encoder); zero shuffle,
    batch-local, trivially incremental.  Cross-engine verified: the
    oracle replays with DuckDB's ``nfc_normalize`` (both implement
    UAX #15 canonical composition, asserted equal by the driver hash).
    """
    schema = (
        f"{id_col} long, text_nfc string, n_raw int, n_nfc int, changed boolean"
    )

    def norm(batches):
        import pandas as pd
        import unicodedata

        for pdf in batches:
            texts = pdf[text_col]
            nfc, n_raw, n_nfc, changed = [], [], [], []
            for x in texts:
                if isinstance(x, str):
                    y = unicodedata.normalize("NFC", x)
                    nfc.append(y)
                    n_raw.append(len(x))
                    n_nfc.append(len(y))
                    changed.append(x != y)
                else:
                    nfc.append(None)
                    n_raw.append(0)
                    n_nfc.append(0)
                    changed.append(False)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "text_nfc": nfc,
                    "n_raw": n_raw,
                    "n_nfc": n_nfc,
                    "changed": changed,
                }
            )

    return spread(docs).select(id_col, text_col).mapInPandas(norm, schema)


def repair_mojibake_col(col: F.Column) -> F.Column:
    """Reverse one layer of UTF-8-as-cp1252 mojibake as a pure Column
    replace chain (zero shuffle, zero Python at runtime; the oracle
    replays the identical chain with nested ``replace()``).  Clean text
    — including legitimate accented text containing the TARGET chars —
    passes through byte-identical, because only the multi-char
    corrupted sequences are touched."""
    out = col
    for moji, fixed in MOJIBAKE_PAIRS:
        out = F.replace(out, F.lit(moji), F.lit(fixed))
    return out


def strip_html_col(col: F.Column) -> F.Column:
    """Markup-stripped text as one Column chain: script/style/comment
    BLOCKS first (their content is code, not text — a bare tag-strip
    would leak it into the corpus), then tags, then the common
    entities, then whitespace collapse.  Pure regexp/replace — zero
    shuffle, zero Python; a real extraction stack (readability-style
    DOM scoring) slots in as a mapInPandas stage downstream, but this
    chain is the deterministic, oracle-replayable 90% case."""
    out = col
    for pat in HTML_BLOCK_PATTERNS:
        out = F.regexp_replace(out, pat, " ")
    out = F.regexp_replace(out, HTML_TAG_PATTERN, " ")
    for ent, rep in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"[ \t\n\x0B\f\r]+", " "))


def main_content_col(
    col: F.Column,
    min_chars: int = 40,
    max_link_density_permille: int = 500,
) -> F.Column:
    """Main-content extraction beyond tag stripping — the
    readability/trafilatura-class heuristic reduced to its load-bearing
    signal, LINK DENSITY: navigation, footers, and sidebars are mostly
    anchor text, article bodies are not.  One Column chain:

    1. script/style/comment content removed (the ``strip_html_col``
       prefix — their text is code);
    2. the page splits into BLOCKS at block-level tag boundaries
       (p/div/section/article/headers/li/tr/br);
    3. per block, integer permille link density = anchor-text chars ÷
       text chars, computed inside a ``transform`` over the block
       array — no explode, no shuffle;
    4. blocks shorter than ``min_chars`` or denser than
       ``max_link_density_permille`` drop; survivors strip their
       remaining inline tags and rejoin with blank lines.

    Zero shuffle, zero Python, deterministic — the 90% case of a DOM
    scorer, same stance as ``strip_html_col`` (which remains the
    keep-everything variant).  NULL html degrades to NULL."""
    cleaned = col
    for pat in HTML_BLOCK_PATTERNS:
        cleaned = F.regexp_replace(cleaned, pat, " ")
    blocks = F.split(
        cleaned,
        r"(?i)</?(?:p|div|section|article|main|aside|nav|footer|header"
        r"|h[1-6]|li|ul|ol|tr|table|br)\b[^>]*>",
    )

    def block_text(b: F.Column) -> F.Column:
        t = F.regexp_replace(b, HTML_TAG_PATTERN, " ")
        for ent, rep in HTML_ENTITIES:
            t = F.replace(t, F.lit(ent), F.lit(rep))
        return F.trim(F.regexp_replace(t, r"[ \t\n\x0B\f\r]+", " "))

    def link_chars(b: F.Column) -> F.Column:
        anchors = F.regexp_extract_all(
            b, F.lit(r"(?is)<a\b[^>]*>(.*?)</a>"), 1
        )
        return F.aggregate(
            F.transform(
                anchors, lambda a: F.length(block_text(a))
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )

    scored = F.transform(
        blocks,
        lambda b: F.struct(
            block_text(b).alias("t"),
            F.length(block_text(b)).alias("n"),
            link_chars(b).alias("lc"),
        ),
    )
    kept = F.filter(
        scored,
        lambda s: (s["n"] >= min_chars)
        & (
            (s["lc"] * 1000)
            <= F.lit(max_link_density_permille) * s["n"]
        ),
    )
    return F.when(
        col.isNotNull(),
        F.array_join(F.transform(kept, lambda s: s["t"]), "\n\n"),
    )


def html_markup_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc markup diagnostics for web corpora: (id, n_tags,
    clean_len, markup_ratio_micros, text_clean).

    ``markup_ratio_micros`` = floor(1e6 · stripped-away-bytes /
    raw-bytes) — an INTEGER (micro-units, exact in both engines; a
    double round-6 ratio sits on half-boundaries for power-of-two
    lengths, the round-6 determinism lesson).  NULL text degrades to
    (0 tags, 0 len, 0 ratio, NULL clean)."""
    raw = F.col(text_col)
    clean = strip_html_col(raw)
    raw_len = F.length(raw)
    clean_len = F.length(clean)
    micros = F.when(
        raw_len > 0,
        ((raw_len - clean_len).cast("bigint") * 1000000)
        / raw_len.cast("bigint"),
    ).otherwise(F.lit(0))
    return spread(docs).select(
        F.col(id_col),
        F.coalesce(F.regexp_count(raw, F.lit(HTML_TAG_PATTERN)), F.lit(0))
        .cast("long")
        .alias("n_tags"),
        F.coalesce(clean_len, F.lit(0)).cast("long").alias("clean_len"),
        F.floor(micros).cast("long").alias("markup_ratio_micros"),
        clean.alias("text_clean"),
    )


def tokenizer_fertility(
    seg: DataFrame,
    docs: DataFrame,
    tokens_col_name: str = "wp_tokens",
    by: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-group tokenizer evaluation — the fertility table every
    multilingual tokenizer report leads with (e.g. XLM-R/mBERT
    comparisons): join a segmentation output (id, subword array) back
    to the corpus and aggregate, per ``by`` group:

    - ``fertility_micro``  — subword tokens per whitespace word ×1e6
      (integer micro-units: Σtokens·1e6 div Σwords — the fixed-point
      rule, deterministic under any partitioning);
    - ``chars_per_token_micro`` — normalized chars per subword ×1e6;
    - ``cont_permille``    — continuation-piece share (``##…`` or
      ``<0x…>`` byte-fallback tokens) in permille;
    - ``unk_permille``     — ``[UNK]`` share in permille (0 under
      byte fallback by construction).

    High fertility on a language = the vocab underserves it — the
    signal tokenizer-vocab allocation decisions are made on.  One
    equi-join on id + one aggregation; the token arrays never shuffle
    beyond the join."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        normalized_text,
        tokens_col,
    )

    base = docs.select(
        F.col(id_col),
        F.col(by).alias("grp"),
        F.size(tokens_col(F.col(text_col))).alias("_words"),
        F.length(normalized_text(F.col(text_col))).alias("_chars"),
    ).join(
        seg.select(F.col(id_col), F.col(tokens_col_name).alias("_toks")),
        id_col,
    )
    n_toks = F.size("_toks")
    n_cont = F.size(
        F.filter(
            F.col("_toks"),
            lambda t: t.startswith("##") | t.startswith("<0x"),
        )
    )
    n_unk = F.size(F.filter(F.col("_toks"), lambda t: t == "[UNK]"))
    return (
        base.groupBy(F.col("grp").alias(by))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(n_toks).cast("long").alias("total_tokens"),
            F.sum("_words").cast("long").alias("total_words"),
            F.sum("_chars").cast("long").alias("total_chars"),
            F.sum(n_cont).cast("long").alias("_cont"),
            F.sum(n_unk).cast("long").alias("_unk"),
        )
        .select(
            by,
            "n_docs",
            "total_tokens",
            "total_words",
            F.expr(
                "CASE WHEN total_words > 0"
                " THEN (total_tokens * 1000000) div total_words END"
            ).cast("long").alias("fertility_micro"),
            F.expr(
                "CASE WHEN total_tokens > 0"
                " THEN (total_chars * 1000000) div total_tokens END"
            ).cast("long").alias("chars_per_token_micro"),
            F.expr(
                "CASE WHEN total_tokens > 0"
                " THEN (1000 * _cont) div total_tokens END"
            ).cast("long").alias("cont_permille"),
            F.expr(
                "CASE WHEN total_tokens > 0"
                " THEN (1000 * _unk) div total_tokens END"
            ).cast("long").alias("unk_permille"),
        )
    )
