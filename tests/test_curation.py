"""Curation pipeline tests: scalable prefix sum correctness against the
single-partition window, and end-to-end pipeline invariants."""

import pytest
from pyspark.sql import Window, functions as F

from kafkastreamsinteractivequeries_spark.operators.curation import (
    cumulative_sum,
    curate_documents,
)
from kafkastreamsinteractivequeries_spark.sources.tables import load_table


def test_cumulative_sum_matches_global_window(spark):
    # non-contiguous, shuffled ids with varying weights
    rows = [(i * 7 % 101, (i % 13) + 1) for i in range(101)]
    df = spark.createDataFrame(rows, ["id", "w"]).repartition(8)
    got = {r.id: r.cum for r in cumulative_sum(df, "id", "w", "cum", 8).collect()}
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        r.id: r.cum
        for r in df.withColumn("cum", F.sum("w").over(w).cast("long")).collect()
    }
    assert got == want


@pytest.mark.slow  # >10 s; runs in the full suite
def test_cumulative_sum_many_buckets(spark):
    # num_partitions in the thousands must neither blow up codegen
    # (the round-1 per-bucket CASE chain) nor change results
    rows = [(i, (i % 13) + 1) for i in range(0, 50_000, 7)]
    df = spark.createDataFrame(rows, ["id", "w"]).repartition(8)
    out = cumulative_sum(df, "id", "w", "cum", num_partitions=4096)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # offsets join, not a CASE chain
    got = {r.id: r.cum for r in out.collect()}
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        r.id: r.cum
        for r in df.withColumn("cum", F.sum("w").over(w).cast("long")).collect()
    }
    assert got == want


def test_cumulative_sum_empty(spark):
    df = spark.createDataFrame([], "id long, w long")
    assert cumulative_sum(df, "id", "w").count() == 0


def test_curation_pipeline_invariants(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = curate_documents(
        docs, min_quality=0.5, near_dup_threshold=0.8, token_budget=20_000
    ).orderBy("doc_id")
    rows = out.collect()
    assert 0 < len(rows) < docs.count()  # every stage bites
    # quality gate
    assert all(r.quality_score >= 0.5 for r in rows)
    # budget: cumulative is monotone in id order and within budget
    cums = [r.cum_tokens for r in rows]
    assert cums == sorted(cums) and cums[-1] <= 20_000
    running = 0
    for r in rows:
        running += r.n_tokens
        assert r.cum_tokens >= running  # earlier (dropped-later) docs may pad the prefix
    # no exact duplicates survive
    texts = spark.createDataFrame([(r.doc_id,) for r in rows], ["doc_id"]).join(
        docs, "doc_id"
    )
    from kafkastreamsinteractivequeries_spark.operators.dedup import fingerprint_documents

    fps = [r.fingerprint for r in fingerprint_documents(texts).collect()]
    assert len(fps) == len(set(fps))


def test_pack_sequences_layout(spark):
    from kafkastreamsinteractivequeries_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate([100, 30, 50, 900, 64])],
        ["doc_id", "text"],
    )
    rows = sorted(pack_sequences(docs, seq_len=128).collect(), key=lambda r: r.doc_id)
    # contiguous layout: each start = previous start + previous length
    assert rows[0].start_token == 0
    for prev, cur in zip(rows, rows[1:]):
        assert cur.start_token == prev.start_token + prev.n_tokens
    for r in rows:
        assert r.bin_id == r.start_token // 128
        assert r.offset_in_bin == r.start_token % 128


def test_stratified_sample_deterministic_and_monotone(spark):
    from kafkastreamsinteractivequeries_spark.operators.curation import stratified_sample

    docs = spark.createDataFrame(
        [(i, "t", "s%d" % (i % 3)) for i in range(300)], ["doc_id", "text", "source"]
    )
    a = {r.doc_id for r in stratified_sample(docs, "source", 20).collect()}
    b = {r.doc_id for r in stratified_sample(docs.repartition(5), "source", 20).collect()}
    assert a == b and len(a) == 60  # 3 strata x 20, partitioning-independent
    # growing the corpus keeps previously selected docs only if they
    # still rank in the top-k; shrinking per_stratum nests the sample
    small = {r.doc_id for r in stratified_sample(docs, "source", 10).collect()}
    assert small < a


def test_curation_decontaminate_stage_drops_overlapping_docs(spark, sf_dir):
    from kafkastreamsinteractivequeries_spark.sources.tables import load_table
    from kafkastreamsinteractivequeries_spark.operators.curation import curate_documents

    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    base = curate_documents(train, min_quality=0.5, near_dup_threshold=0.8)
    decon = curate_documents(
        train, min_quality=0.5, near_dup_threshold=0.8,
        decontaminate_against=eval_docs, decontaminate_n=3,
    )
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    decon_ids = {r["doc_id"] for r in decon.select("doc_id").collect()}
    # decontamination only removes docs, never adds
    assert decon_ids <= base_ids
    # with trigrams on this vocab some survivors must actually be dropped
    assert len(decon_ids) < len(base_ids)


def test_curation_embedding_decontaminate_stage_drops_semantic_matches(spark, sf_dir):
    from kafkastreamsinteractivequeries_spark.operators.curation import curate_documents
    from kafkastreamsinteractivequeries_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    vecs = load_table(spark, sf_dir, "embeddings")  # vec_id aligns with doc_id
    # eval set: exact copies of every 25th doc's vector under fresh ids
    eval_vecs = vecs.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 10_000).alias("eval_id"), "embedding"
    )
    base = curate_documents(docs, min_quality=0.5, near_dup_threshold=0.8)
    decon = curate_documents(
        docs,
        min_quality=0.5,
        near_dup_threshold=0.8,
        decontaminate_embeddings=(vecs, eval_vecs),
        embedding_threshold=0.99,
    )
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    decon_ids = {r["doc_id"] for r in decon.select("doc_id").collect()}
    # every multiple-of-25 doc must be gone (its vector IS in the eval
    # set at cosine 1.0); strict-subset is deliberately NOT asserted —
    # removing a doc upstream can resurrect its near-dup partner
    # downstream (the dropped doc was the pair's surviving id_a)
    assert not any(i % 25 == 0 for i in decon_ids)
    assert any(i % 25 == 0 for i in base_ids)  # the assertion has teeth
    # only docs the gate targeted (or near-dup reshuffles) differ: the
    # non-%25 survivor count stays within the base count
    assert len(decon_ids) < len(base_ids)


def test_curation_redact_scrubs_pii_before_dedup(spark):
    from kafkastreamsinteractivequeries_spark.operators.curation import curate_documents

    # two docs identical except for their contact lines: with redact=True
    # they fingerprint identically and dedup to the lower id
    body = "the quick brown fox jumps over the lazy dog " * 4
    df = spark.createDataFrame(
        [
            (1, body + "contact alice@example.com", "en", "s", 100),
            (2, body + "contact bob@example.com", "en", "s", 100),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = curate_documents(df, min_quality=0.0, near_dup_threshold=1.01, redact=True)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1]


def test_resolve_duplicate_groups_keeps_best_quality_member(spark):
    from kafkastreamsinteractivequeries_spark.operators.curation import (
        resolve_duplicate_groups,
    )

    good = "the cat sat on the mat and it is a fine day for all of us here"
    rows = [
        # docs 1/2: doc 2 = doc 1 plus three new stopword tokens —
        # multiset jaccard 17/20 = 0.85 (same group at 0.7), and the
        # extra stopwords give doc 2 the higher quality score
        (1, good, "en", "s", 10),
        (2, good + " to in that", "en", "s", 10),
        (3, "completely different text about other things entirely", "en", "s", 10),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = resolve_duplicate_groups(df, near_dup_threshold=0.7)
    ids = sorted(r["doc_id"] for r in out.collect())
    # doc 3 untouched; of (1,2) only one survives
    assert 3 in ids and len(ids) == 2
    survivor = [i for i in ids if i != 3][0]
    # the higher-quality member wins (doc 2 is longer with more stopwords)
    assert survivor == 2


def test_sample_mixture_quotas_and_determinism(spark, sf_dir):
    from kafkastreamsinteractivequeries_spark.operators.curation import sample_mixture
    from kafkastreamsinteractivequeries_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = sample_mixture(docs, {"src0": 0.6, "src1": 0.2, "src2": 0.2}, total=10)
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts.get("src0", 0) == 6
    assert counts.get("src1", 0) == 2
    assert counts.get("src2", 0) == 2
    assert set(counts) == {"src0", "src1", "src2"}  # unweighted strata absent
    # deterministic under repartitioning
    again = sample_mixture(docs.repartition(7), {"src0": 0.6, "src1": 0.2, "src2": 0.2}, total=10)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(r["doc_id"] for r in again.collect())


def test_leakage_safe_split_keeps_near_dups_on_one_side(spark):
    from kafkastreamsinteractivequeries_spark.operators.curation import (
        leakage_safe_split,
    )

    # 40 groups of 3 permutation near-dups + 80 singletons.  Permuted
    # copies share the token MULTISET, so their minhash signatures are
    # identical and candidacy is certain — the grouping mechanism is
    # under test here, not LSH's (tuned, probabilistic) recall, which
    # at jaccard ~0.97 misses ~5% of pairs by design.
    rows = []
    for g in range(40):
        toks = [f"tok{g}_{i}" for i in range(30)]
        for j in range(3):
            rot = toks[j * 7 :] + toks[: j * 7]
            rows.append((g * 10 + j, f"group {g} body " + " ".join(rot)))
    for s in range(80):
        rows.append((1000 + s, f"singleton {s} " + " ".join(f"s{s}_{i}" for i in range(25))))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = leakage_safe_split(docs, near_dup_threshold=0.8)
    assigned = {r.doc_id: (r.group_id, r.split) for r in out.collect()}
    assert len(assigned) == len(rows)
    # every member of a replica group shares group id AND split side
    for g in range(40):
        trio = [assigned[g * 10 + j] for j in range(3)]
        assert len({t[0] for t in trio}) == 1, f"group {g} split across group ids"
        assert len({t[1] for t in trio}) == 1, f"group {g} leaks across splits"
    # rough split proportions on the ~120 group keys
    from collections import Counter

    sides = Counter(s for _, s in assigned.values())
    assert sides["train"] > sides["val"] and sides["train"] > sides["test"]


def test_leakage_safe_split_is_deterministic(spark):
    from kafkastreamsinteractivequeries_spark.operators.curation import (
        leakage_safe_split,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} " + " ".join(f"t{i}_{k}" for k in range(20))) for i in range(50)],
        ["doc_id", "text"],
    )
    a = {r.doc_id: r.split for r in leakage_safe_split(docs).collect()}
    b = {r.doc_id: r.split for r in leakage_safe_split(docs.repartition(7)).collect()}
    assert a == b


def test_dsir_weights_favor_target_like_docs(spark):
    # DSIR (arXiv:2302.03169): docs sharing the target's hashed-ngram
    # profile must outscore docs that don't.
    from kafkastreamsinteractivequeries_spark.operators.curation import (
        dsir_importance_weights,
    )

    target = spark.createDataFrame(
        [(100, "the cat sat on the mat"), (101, "a cat and a dog sat")],
        ["doc_id", "text"],
    )
    raw = spark.createDataFrame(
        [
            (0, "the cat sat on the mat today"),       # target-like
            (1, "quantum flux capacitors emit tachyon bursts"),  # not
            (2, "a dog sat on a mat"),                 # target-like
        ],
        ["doc_id", "text"],
    )
    w = {r.doc_id: r.log_weight for r in dsir_importance_weights(raw, target).collect()}
    assert w[0] > w[1] and w[2] > w[1]


def test_dsir_target_ids_fused_pass_matches_two_pass(spark):
    """The fused single-pass form (target_ids + raw_stream) must emit
    exactly the two-pass weights when the target is a subset of raw —
    the x6 'dsir' derivation off the pinned gram stream."""
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.curation import (
        _hashed_gram_stream,
        dsir_importance_weights,
    )

    raw = spark.createDataFrame(
        [
            (0, "the cat sat on the mat today"),
            (1, "quantum flux capacitors emit tachyon bursts"),
            (2, "a dog sat on a mat"),
            (3, "the cat and the dog"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    target = raw.filter(F.col("doc_id").isin(0, 3))
    base = {
        r.doc_id: (r.n_grams, r.log_weight)
        for r in dsir_importance_weights(raw, target).collect()
    }
    stream = _hashed_gram_stream(raw, 4096, "text", "doc_id")
    fused = {
        r.doc_id: (r.n_grams, r.log_weight)
        for r in dsir_importance_weights(
            raw,
            target,
            raw_stream=stream,
            target_ids=target.select("doc_id"),
        ).collect()
    }
    assert fused == base

    import pytest

    with pytest.raises(ValueError, match="target_ids"):
        dsir_importance_weights(
            raw, target, target_ids=target.select("doc_id")
        )


def test_dsir_plan_broadcasts_model_no_corpus_shuffle_join(spark):
    # the λ table (≤ num_buckets rows) must broadcast to the raw gram
    # stream — a sort-merge join there would shuffle the whole corpus'
    # token stream by bucket, the 100 TB killer.
    from kafkastreamsinteractivequeries_spark.operators.curation import (
        dsir_importance_weights,
    )

    target = spark.range(20).selectExpr(
        "id as doc_id", "concat('alpha beta gamma doc ', id) as text"
    )
    raw = spark.range(200).selectExpr(
        "id as doc_id", "concat('some raw words number ', id) as text"
    )
    plan = (
        dsir_importance_weights(raw, target)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    # the ONLY sort-merge join allowed is the FullOuter merge of the
    # two ≤ num_buckets-row bucket-count tables (full-outer cannot
    # broadcast; both sides are bounded, so it's scale-safe) — never an
    # inner SMJ, which would mean the corpus stream shuffled by bucket.
    smj_lines = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert all("FullOuter" in ln for ln in smj_lines)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_frozen_model_matches_one_pass(spark):
    # train-once/score-many must equal the fused one-pass form when the
    # model sample IS the full raw corpus.
    from kafkastreamsinteractivequeries_spark.operators.curation import (
        dsir_importance_weights,
        dsir_score_with_model,
        dsir_train_model,
    )

    target = spark.createDataFrame(
        [(100, "the cat sat on the mat"), (101, "a cat and a dog sat")],
        ["doc_id", "text"],
    )
    raw = spark.createDataFrame(
        [
            (0, "the cat sat on the mat today"),
            (1, "quantum flux capacitors emit tachyon bursts"),
            (2, "a dog sat on a mat"),
        ],
        ["doc_id", "text"],
    )
    model = dsir_train_model(raw, target)
    assert model.count() <= 4096
    frozen = {
        r.doc_id: (r.n_grams, r.log_weight)
        for r in dsir_score_with_model(raw, model).collect()
    }
    fused = {
        r.doc_id: (r.n_grams, r.log_weight)
        for r in dsir_importance_weights(raw, target).collect()
    }
    assert frozen == fused


# ---------------------------------------------------------------------------
# quality_classifier_* — fastText-style trained quality gate
# ---------------------------------------------------------------------------


def _labeled_corpus(spark, n=200):
    import random

    random.seed(11)
    good = "insightful rigorous thorough detailed measured careful documented verified".split()
    bad = "spam click buy now free winner lottery prize".split()
    rows = []
    for i in range(n):
        pos = i % 2 == 0
        vocab = good if pos else bad
        rows.append(
            (i, " ".join(random.choice(vocab) for _ in range(30)), 1 if pos else 0)
        )
    return spark.createDataFrame(rows, "doc_id long, text string, y int")


def test_quality_classifier_learns_separable_labels(spark):
    """On disjoint-vocabulary positives/negatives, 10 full-batch GD
    rounds must fully separate the classes — the training is a real
    optimizer, not a deterministic ritual.  Training cost is
    sample-sized (the 100 TB pass is scoring, not training), so
    iterations in the tens are the expected deployment config."""
    from kafkastreamsinteractivequeries_spark.operators.curation import (
        quality_classifier_score,
        quality_classifier_train,
    )

    docs = _labeled_corpus(spark)
    model = quality_classifier_train(docs, "y", num_buckets=1024, iterations=10, lr=2.0)
    scored = quality_classifier_score(docs, model, num_buckets=1024).join(
        docs.select("doc_id", "y"), "doc_id"
    )
    rows = scored.collect()
    acc = sum(1 for r in rows if (r.prob >= 0.5) == (r.y == 1)) / len(rows)
    assert acc == 1.0
    mean_pos = sum(r.prob for r in rows if r.y == 1) / sum(r.y for r in rows)
    mean_neg = sum(r.prob for r in rows if r.y == 0) / sum(1 - r.y for r in rows)
    assert mean_pos > 0.8 and mean_neg < 0.2


def test_quality_classifier_model_is_bounded_and_broadcast(spark):
    """Scale contract: the frozen model is <= num_buckets + 1 rows at
    any corpus size, and scoring joins it via broadcast — never a
    corpus-stream shuffle-by-bucket; no Python in the plan."""
    from kafkastreamsinteractivequeries_spark.operators.curation import (
        quality_classifier_score,
        quality_classifier_train,
    )

    docs = _labeled_corpus(spark, n=60)
    model = quality_classifier_train(docs, "y", num_buckets=64, iterations=2)
    assert model.count() <= 65
    plan = (
        quality_classifier_score(docs, model, num_buckets=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    smj_lines = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert not smj_lines
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_weighted_sample_proportional_deterministic_and_distributed(spark):
    """Efraimidis-Spirakis sampling: (1) heavier rows are selected at a
    rate ≈ their weight share (statistical check on a 2-weight
    population), (2) the sample is identical across runs AND
    partitionings (hash-derived priorities, no rand()), (3) zero/null
    weights are excluded, (4) selection is a top-k
    (TakeOrderedAndProject), never a global sort of the corpus."""
    from kafkastreamsinteractivequeries_spark.operators.curation import weighted_sample
    from pyspark.sql import functions as F

    # 1000 docs: ids 0-499 weight 1, ids 500-999 weight 9 → the heavy
    # half holds 90% of total weight; in a 200-sample (without
    # replacement) expect ≈ 171 heavy rows (hypergeometric-ish), allow
    # a generous band
    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") >= 500, 9.0).otherwise(1.0).alias("w"),
    )
    got = weighted_sample(docs, n=200, weight_col="w")
    rows = got.collect()
    assert len(rows) == 200
    heavy = sum(1 for r in rows if r.doc_id >= 500)
    assert 140 <= heavy <= 195, f"heavy-share off: {heavy}/200"

    # determinism across partitionings
    again = weighted_sample(docs.repartition(17), n=200, weight_col="w")
    assert {r.doc_id for r in again.collect()} == {r.doc_id for r in rows}

    # zero / null weights never sampled
    docs2 = docs.withColumn(
        "w", F.when(F.col("doc_id") < 990, F.col("w")).otherwise(F.lit(None))
    ).withColumn(
        "w", F.when(F.col("doc_id").between(980, 989), 0.0).otherwise(F.col("w"))
    )
    sampled2 = {r.doc_id for r in weighted_sample(docs2, n=980, weight_col="w").collect()}
    assert sampled2 == set(range(980))

    # plan: top-k, not a global sort
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_temperature_mixture_upsamples_rare_strata(spark):
    """alpha=0.5 gives rare strata a larger share than proportional
    sampling, with quotas from exact integer arithmetic."""
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.curation import (
        temperature_mixture,
    )

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 7, "web")
        .when(F.col("id") % 10 < 9, "code")
        .otherwise("ref")
        .alias("source"),
    )
    out = temperature_mixture(docs, total=60, alpha=0.5)
    got = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # counts: web 700, code 200, ref 100 -> isqrt weights 26, 14, 10 (sum 50)
    # quotas: 60*26//50=31, 60*14//50=16, 60*10//50=12
    assert got == {"web": 31, "code": 16, "ref": 12}
    # proportional (alpha=1) for contrast: 42/12/6 — ref got doubled
    prop = temperature_mixture(docs, total=60, alpha=1.0)
    gp = {r["source"]: r["n"] for r in prop.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert gp == {"web": 42, "code": 12, "ref": 6}
    # deterministic: same ids both runs
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(r["doc_id"] for r in temperature_mixture(docs, total=60, alpha=0.5).collect())
    assert ids1 == ids2


def test_classifier_weights_stay_on_gradient_grid(spark, sf_dir):
    """Weights must live on the 1e-9 gradient grid: rounding onto a
    COARSER grid put updates exactly on half-boundaries, where Spark and
    DuckDB round differently (the sf0.1 qlr regression)."""
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.curation import (
        quality_classifier_train,
    )
    from kafkastreamsinteractivequeries_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_y", (F.col("lang") == "en").cast("int")
    )
    model = quality_classifier_train(docs, "_y", num_buckets=512, iterations=2)
    off_grid = model.filter(
        F.abs(F.col("w") * 1e9 - F.round(F.col("w") * 1e9)) > 1e-3
    ).count()
    assert off_grid == 0


def test_pack_sequences_no_straddle_invariants(spark, sf_dir):
    """No-straddle contract: every doc whole in one bin; every bin's
    total <= seq_len unless it is a single oversize doc; offsets are
    the exclusive running sum within the bin; output is deterministic
    across input partitionings."""
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.curation import (
        pack_sequences_no_straddle,
    )
    from kafkastreamsinteractivequeries_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    seq_len = 128
    out = pack_sequences_no_straddle(docs, seq_len=seq_len, shards=8)
    rows = out.collect()
    assert len(rows) == docs.count()  # every doc placed exactly once

    bins = {}
    for r in rows:
        bins.setdefault((r["shard"], r["bin_id"]), []).append(r)
    for (shard, b), members in bins.items():
        members.sort(key=lambda r: r["doc_id"])
        total = sum(r["n_tokens"] for r in members)
        if any(r["oversize"] for r in members):
            assert len(members) == 1  # oversize docs bin alone
        else:
            assert total <= seq_len, (shard, b, total)
        off = 0
        for r in members:
            assert r["offset_in_bin"] == off
            off += r["n_tokens"]

    # determinism across partitionings
    again = pack_sequences_no_straddle(
        docs.repartition(13), seq_len=seq_len, shards=8
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    # next-fit never wastes a bin: consecutive bins imply the earlier
    # one could not hold the next doc (fill is maximal in scan order)
    for (shard, b), members in bins.items():
        nxt = bins.get((shard, b + 1))
        if nxt is None:
            continue
        first_next = min(nxt, key=lambda r: r["doc_id"])
        total = sum(r["n_tokens"] for r in members)
        assert total + first_next["n_tokens"] > seq_len


def test_pack_sequences_no_straddle_oversize_flagged(spark):
    from kafkastreamsinteractivequeries_spark.operators.curation import (
        pack_sequences_no_straddle,
    )

    docs = spark.createDataFrame(
        [(0, "a b c"), (8, " ".join(["w"] * 50)), (16, "d e")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in
            pack_sequences_no_straddle(docs, seq_len=10, shards=8).collect()}
    assert rows[8]["oversize"] is True
    assert rows[0]["oversize"] is False
    # 0 and 16 share shard 0; the oversize doc 8 is alone in shard 0? no -
    # shard = id % 8 -> all three land in shard 0; doc 8 must bin ALONE
    assert rows[8]["bin_id"] not in (
        rows[0]["bin_id"],
    ) or rows[0]["shard"] != rows[8]["shard"]
    same_bin = [
        r for r in rows.values()
        if (r["shard"], r["bin_id"]) == (rows[8]["shard"], rows[8]["bin_id"])
    ]
    assert len(same_bin) == 1


def test_pack_sequences_no_straddle_null_text_degrades(spark):
    """NULL / empty text must not crash the Arrow fill: null docs pack
    as 0-token rows (no bin capacity consumed), empty docs as their
    1-token normalized form — the adversarial-input convention."""
    from kafkastreamsinteractivequeries_spark.operators.curation import (
        pack_sequences_no_straddle,
    )

    df = spark.createDataFrame(
        [(0, "a b c"), (1, None), (2, "")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in
            pack_sequences_no_straddle(df, seq_len=4, shards=2).collect()}
    assert len(rows) == 3
    assert rows[1]["n_tokens"] == 0 and rows[1]["oversize"] is False


def test_curation_url_dedup_stage_runs_first(spark):
    """url_col wires dedup.url_dedup in as the FIRST stage: two fetches
    of one canonical URL collapse to the lowest id before any
    text-based gate sees them — even when their TEXTS differ (rotating
    ads), which text dedup alone could never catch."""
    from kafkastreamsinteractivequeries_spark.operators.curation import curate_documents

    body = "the quick brown fox jumps over the lazy dog " * 4
    df = spark.createDataFrame(
        [
            (1, body + "ad variant alpha", "en", "s", 100,
             "https://example.com/page?a=1"),
            (2, body + "ad variant beta", "en", "s", 100,
             "HTTPS://EXAMPLE.COM:443/page?a=1&utm_source=x#frag"),
            (3, body + "another page entirely", "en", "s", 100,
             "https://example.com/other"),
        ],
        ["doc_id", "text", "lang", "source", "n_chars", "url"],
    )
    out = curate_documents(
        df, min_quality=0.0, near_dup_threshold=1.01, url_col="url"
    )
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 3]  # doc 2 is the same canonical URL as doc 1
    # without the stage, all three survive (texts differ)
    base = curate_documents(df, min_quality=0.0, near_dup_threshold=1.01)
    assert sorted(r["doc_id"] for r in base.collect()) == [1, 2, 3]


@pytest.mark.slow  # >10 s; runs in the full suite
def test_curate_documents_web_stages(spark):
    """The full crawl-order front of the pipeline: robots disallow →
    host flood/mirror gate → URL-level dedup, each dropping before any
    text stage runs."""
    from kafkastreamsinteractivequeries_spark.operators.curation import (
        curate_documents,
    )

    good = "spark streams data pipeline with plenty of words to pass quality " * 3
    rows = [
        # blocked by robots (path /private/)
        (1, good + "one", "https://a.com/private/x"),
        # allowed by robots, survives
        (2, good + "two", "https://a.com/open/x"),
        # flood host: 5 docs on b.com with cap 3 -> all dropped
        *[(10 + i, good + f"b{i}", f"https://b.com/p{i}") for i in range(5)],
        # URL dup pair on c.com: only the first survives
        (20, good + "same page", "https://c.com/page?utm_source=x"),
        (21, good + "same page again", "https://C.COM/page"),
    ]
    rows = [(i, t, "en", "web", len(t), u) for i, t, u in rows]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long, url string",
    )
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string",
    )
    out = curate_documents(
        docs,
        min_quality=0.0,
        near_dup_threshold=1.01,  # disable near-dup for this test
        url_col="url",
        robots=robots,
        host_max_docs=3,
    )
    ids = {r["doc_id"] for r in out.collect()}
    assert 1 not in ids        # robots
    assert ids.isdisjoint({10, 11, 12, 13, 14})  # host flood
    assert 20 in ids and 21 not in ids  # URL dedup keeps lowest id
    assert 2 in ids

    # the stages demand url_col
    try:
        curate_documents(docs, robots=robots)
    except ValueError:
        pass
    else:
        raise AssertionError("expected ValueError without url_col")
