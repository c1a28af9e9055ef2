"""Dedup operator tests: exact, fingerprint, MinHash-LSH, SimHash,
n-gram Jaccard — on constructed fixtures plus the testdata documents
table (which contains injected near-duplicate pairs at adjacent ids).
"""

import pytest
from pyspark.sql import functions as F

from kafkastreamsinteractivequeries_spark.operators.dedup import (
    exact_dedup,
    exact_duplicate_groups,
    fingerprint_documents,
    lsh_band_buckets,
    lsh_candidate_pairs,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    simhash_signatures,
)
from kafkastreamsinteractivequeries_spark.sources.tables import load_table

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "The  Quick  Brown Fox jumps over the lazy dog"),  # ws/case dup of 0
    (3, "the quick brown fox leaps over the lazy dog"),  # near dup (1 word)
    (4, "completely different text about spark engines and parquet files"),
    (5, "short doc"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_fingerprint_normalizes(docs):
    fp = {r.doc_id: r.fingerprint for r in fingerprint_documents(docs).collect()}
    assert fp[0] == fp[1] == fp[2]
    assert fp[0] != fp[3]


def test_exact_dedup_keeps_lowest_id(docs):
    kept = sorted(r.doc_id for r in exact_dedup(docs).collect())
    assert kept == [0, 3, 4, 5]


def test_exact_duplicate_groups(docs):
    groups = exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0].n_docs == 3 and groups[0].keep_id == 0


def test_minhash_signature_shape_and_determinism(docs):
    s1 = minhash_signatures(docs, num_hashes=12).select("doc_id", "minhash").collect()
    s2 = minhash_signatures(docs, num_hashes=12).select("doc_id", "minhash").collect()
    assert {r.doc_id: r.minhash for r in s1} == {r.doc_id: r.minhash for r in s2}
    assert all(len(r.minhash) == 12 for r in s1)
    # identical (normalized) texts → identical signatures
    by_id = {r.doc_id: r.minhash for r in s1}
    assert by_id[0] == by_id[1] == by_id[2]


def test_lsh_finds_exact_and_near_dups(docs):
    got = minhash_near_duplicates(docs, threshold=0.5)
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    # jaccard of exact dups is 1.0
    jac = {(r.id_a, r.id_b): r.jaccard for r in got.collect()}
    assert jac[(0, 1)] == 1.0


def test_lsh_max_bucket_cap(docs):
    sigs = minhash_signatures(docs)
    buckets = lsh_band_buckets(sigs)
    # cap of 1 drops every shared bucket → no candidates
    assert lsh_candidate_pairs(buckets, max_bucket_size=1).count() == 0


def test_ngram_jaccard_exact_baseline(docs):
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            # full audit + uncapped postings, both now required-explicit
            docs, audit_modulus=1, max_posting_size=None, threshold=0.3
        ).collect()
    }
    assert got[(0, 1)] == 1.0
    assert (0, 3) in got and 0.3 <= got[(0, 3)] < 1.0
    # disjoint docs absent
    assert not any(4 in p for p in got)


def test_ngram_jaccard_requires_explicit_audit_args(docs):
    """The audit controls have no defaults: omitting them is a
    TypeError, nonsense values a ValueError — misuse at corpus scale
    fails at call time, not on the cluster."""
    with pytest.raises(TypeError):
        ngram_jaccard_pairs(docs)
    with pytest.raises(ValueError):
        ngram_jaccard_pairs(docs, audit_modulus=0, max_posting_size=None)


def test_simhash_properties(docs):
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    assert all(len(s) == 64 and set(s) <= {"0", "1"} for s in sigs.values())
    assert sigs[0] == sigs[1] == sigs[2]
    # near-dup differs in few bits, unrelated doc in many
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert ham(sigs[0], sigs[3]) < ham(sigs[0], sigs[4])


def test_simhash_near_duplicates(docs):
    got = {(r.id_a, r.id_b): r.hamming for r in simhash_near_duplicates(docs, max_hamming=10).collect()}
    assert got[(0, 1)] == 0 and got[(0, 2)] == 0
    assert not any(4 in p for p in got)


def test_simhash_pigeonhole_recall_exact(spark, sf_dir):
    # default chunks=8 > max_hamming=6: candidate generation must find
    # EVERY pair within the bound — verify against brute-force hamming
    # over all signature pairs (cap disabled to isolate the guarantee)
    docs = load_table(spark, sf_dir, "documents")
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    ids = sorted(sigs)
    want = set()
    for i, a in enumerate(ids):
        sa = sigs[a]
        for b in ids[i + 1:]:
            if sum(x != y for x, y in zip(sa, sigs[b])) <= 6:
                want.add((a, b))
    got = {
        (r.id_a, r.id_b)
        for r in simhash_near_duplicates(docs, max_hamming=6, max_bucket_size=None).collect()
    }
    assert got == want


def test_testdata_injected_near_dups(spark, sf_dir):
    # The synthetic documents table contains adjacent-id near-dup pairs
    # with token-set jaccard ≥ 0.9 but shuffled word order — so the
    # detector uses unigram shingles (n-gram jaccard of the same pairs
    # is ~0.02).
    docs = load_table(spark, sf_dir, "documents")
    got = minhash_near_duplicates(docs, shingle_n=1, threshold=0.6)
    pairs = [(r.id_a, r.id_b, r.jaccard) for r in got.collect()]
    assert len(pairs) > 0
    assert any(b == a + 1 for a, b, _ in pairs)


def test_no_python_in_signature_plan(docs):
    plan = minhash_signatures(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_connected_components_transitivity(spark):
    """Chained pairs must collapse into one group (the transitive
    closure pairwise detection cannot express)."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        ["id_a", "id_b"],
    )
    groups = {r.doc_id: r.group_id for r in connected_components(pairs).collect()}
    assert groups == {
        1: 1, 2: 1, 3: 1, 4: 1,      # 4-chain → min id 1
        10: 10, 11: 10,              # isolated pair
        20: 20, 21: 20, 22: 20,      # 3-chain
    }


def test_connected_components_raises_on_nonconvergence(spark):
    from kafkastreamsinteractivequeries_spark.operators.dedup import connected_components

    # a 60-node path has diameter 59 > max_iterations=3: silent wrong
    # groups are forbidden — the operator must refuse
    chain = spark.createDataFrame([(i, i + 1) for i in range(60)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=3)


def test_connected_components_star_matches_label_propagation(spark):
    import random

    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(13)
    edges = {(rng.randrange(120), rng.randrange(120)) for _ in range(150)}
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    want = {r.doc_id: r.group_id for r in connected_components(pairs, max_iterations=200).collect()}
    got = {r.doc_id: r.group_id for r in connected_components_star(pairs).collect()}
    assert got == want


def test_connected_components_star_giant_component(spark):
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        connected_components_star,
    )

    # a 300-node path (diameter 299) converges in O(log^2 n) star rounds
    chain = spark.createDataFrame([(i, i + 1) for i in range(300)], ["id_a", "id_b"])
    groups = {r.doc_id: r.group_id for r in connected_components_star(chain).collect()}
    assert len(groups) == 301
    assert set(groups.values()) == {0}

    # empty input
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components_star(empty).count() == 0


def test_pairs_within_buckets_edge_cases(spark):
    """Singleton buckets yield nothing (no descending-sequence trap),
    over-cap buckets are dropped, struct payloads order by leading id."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        pairs_within_buckets,
    )

    rows = [
        # bucket A: 3 members -> 3 pairs
        (1, "b0", "hA"), (2, "b0", "hA"), (3, "b0", "hA"),
        # bucket B: singleton -> nothing
        (4, "b0", "hB"),
        # bucket C: 4 members, over cap 3 -> dropped
        (5, "b0", "hC"), (6, "b0", "hC"), (7, "b0", "hC"), (8, "b0", "hC"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, band_id string, band_hash string")
    got = {
        (r._a, r._b)
        for r in pairs_within_buckets(
            df, ["band_id", "band_hash"], F.col("doc_id"), 3
        ).collect()
    }
    assert got == {(1, 2), (1, 3), (2, 3)}
    # empty input -> empty output, no error
    empty = spark.createDataFrame([], "doc_id long, band_id string, band_hash string")
    assert (
        pairs_within_buckets(empty, ["band_id", "band_hash"], F.col("doc_id"), 3).count()
        == 0
    )


def test_adversarial_hot_bucket_degrades_gracefully(spark):
    """Skew hardening: one boilerplate page near-duplicated 10,000×
    lands every copy in the same LSH buckets.  Uncapped, the per-bucket
    pair join would emit ~50M pairs from this one bucket; the
    DEFAULT-ON cap must instead drop the hot bucket (bounded output,
    no runaway shuffle partition) while normal-sized buckets keep
    producing verified pairs, and the dropped volume must be visible
    via bucket-size telemetry rather than silent."""
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        lsh_band_buckets,
        lsh_candidate_pairs,
        minhash_signatures,
        weighted_near_duplicates,
    )

    hot = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox jumps over the lazy dog boilerplate page "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    normal = spark.range(10_100, 10_120).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("genuinely unique document body number "),
                 F.col("id").cast("string"),
                 F.lit(" with its own words")).alias("text"),
    )
    docs = hot.union(normal)

    # capped candidate generation: the 10k-copy bucket is dropped, so
    # pair output is bounded by the cap, not by the hot bucket's n^2
    buckets = lsh_band_buckets(minhash_signatures(docs))
    pairs = lsh_candidate_pairs(buckets, max_bucket_size=1024)
    n_pairs = pairs.count()
    assert n_pairs < 1024 * 1024  # nowhere near the ~50M uncapped blowup

    # the end-to-end detector still completes and still emits verified
    # pairs from normal-occupancy buckets (the 'normal' family differs
    # only in its number token — genuine near-dups), while the hot
    # family's quadratic bucket is suppressed
    found = weighted_near_duplicates(docs, threshold=0.7, max_bucket_size=1024)
    ids = {(r.id_a, r.id_b) for r in found.select("id_a", "id_b").collect()}
    assert any(a >= 10_100 and b >= 10_100 for a, b in ids)
    hot_pairs = sum(1 for a, b in ids if a < 10_100 and b < 10_100)
    assert hot_pairs < 1024 * 1024

    # the hot bucket is observable, not silent: its size dwarfs the cap
    sizes = buckets.groupBy("band_id", "band_hash").count()
    assert sizes.agg(F.max("count")).collect()[0][0] > 5 * 1024


def test_exact_dedup_ids_matches_full_variant_with_skinny_shuffle(spark, sf_dir):
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        exact_dedup,
        exact_dedup_ids,
    )
    from kafkastreamsinteractivequeries_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    full = {r["doc_id"] for r in exact_dedup(docs).select("doc_id").collect()}
    ids = {r["doc_id"] for r in exact_dedup_ids(docs).collect()}
    assert ids == full
    # the ids variant must aggregate with a map-side partial min and
    # never carry the text column past the scan
    plan = exact_dedup_ids(docs)._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan
    assert "Window" not in plan


def test_exact_dedup_incremental_skips_seen_and_intra_batch_dups(spark):
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        exact_dedup_incremental,
        fingerprint_documents,
    )

    landed = spark.createDataFrame(
        [(1, "old doc one"), (2, "old doc two")], ["doc_id", "text"]
    )
    seen = fingerprint_documents(landed).select("fingerprint")
    new = spark.createDataFrame(
        [
            (10, "old doc one"),        # dup of landed corpus
            (11, "fresh doc"),          # genuinely new
            (12, "fresh  doc"),         # intra-batch dup of 11 (whitespace-normalized)
            (13, "another fresh doc"),  # genuinely new
        ],
        ["doc_id", "text"],
    )
    out = sorted(r["doc_id"] for r in exact_dedup_incremental(new, seen).collect())
    assert out == [11, 13]


def test_cross_corpus_near_duplicates_flags_fuzzy_benchmark_leaks(spark):
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        cross_corpus_near_duplicates,
    )

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            # light edit of eval 100: one substitution in ten tokens
            (2, "alpha beta gamma delta epsilon zeta eta theta iota NU"),
            (3, "completely different content about other things entirely now yes"),
        ],
        ["doc_id", "text"],
    )
    eval_docs = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["eval_id", "text"],
    )
    out = cross_corpus_near_duplicates(train, eval_docs, threshold=0.8).collect()
    flagged = {(r.doc_id, r.eval_id): r.mjaccard for r in out}
    assert flagged[(1, 100)] == 1.0  # verbatim leak
    assert (2, 100) in flagged  # one-token edit: 9/11 ≈ 0.818
    assert abs(flagged[(2, 100)] - round(9 / 11, 6)) < 1e-9
    assert all(d != 3 for d, _ in flagged)


def test_cross_corpus_near_duplicates_broadcasts_eval_side(spark):
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        cross_corpus_near_duplicates,
    )

    train = spark.range(50).selectExpr(
        "id as doc_id", "concat('tok', id, ' filler words here') as text"
    )
    eval_docs = spark.createDataFrame(
        [(1, "tok7 filler words here")], ["eval_id", "text"]
    )
    plan = (
        cross_corpus_near_duplicates(train, eval_docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_duplicate_span_stats_merges_overlapping_grams(spark):
    # Lee-et-al. exact-substring detection (arXiv:2107.06499): a shared
    # 5-token run yields k-1-overlapping 3-gram hits that must merge
    # into ONE maximal span per doc.
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        duplicate_span_stats,
    )

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "one two alpha beta gamma delta epsilon nine ten"),
            (2, "totally unrelated words that repeat in no document at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in duplicate_span_stats(docs, k=3).collect()}
    # doc 2 has no repeated gram -> absent from the sparse report
    assert set(out) == {0, 1}
    # doc 0: grams at pos 1,2,3 merge to [1,6) = 5 tokens of 8
    assert out[0].n_dup_grams == 3 and out[0].n_spans == 1
    assert out[0].dup_tokens == 5 and out[0].dup_token_fraction == 0.625
    # doc 1: same 5-token run at pos 3..7 of 9 tokens
    assert out[1].dup_tokens == 5 and out[1].n_spans == 1


def test_duplicate_span_stats_within_doc_and_disjoint_spans(spark):
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        duplicate_span_stats,
    )

    docs = spark.createDataFrame(
        [
            # within-doc repetition: every 3-gram of "x y z"*3 recurs;
            # the merged span covers the whole 9-token doc
            (0, "x y z x y z x y z"),
            # the SAME phrase at two separated positions + shared with
            # doc 2 -> two disjoint spans, counted separately
            (1, "p q r a b c d p q r"),
            (2, "p q r something entirely else"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in duplicate_span_stats(docs, k=3).collect()}
    assert out[0].n_spans == 1 and out[0].dup_tokens == 9
    assert out[0].dup_token_fraction == 1.0
    assert out[1].n_spans == 2 and out[1].dup_tokens == 6
    assert round(out[1].dup_token_fraction, 6) == 0.6
    assert out[2].n_spans == 1 and out[2].dup_tokens == 3


def test_duplicate_span_plan_is_two_shuffles_no_join(spark):
    # the 100 TB contract: detection is gram-count-window + doc-window
    # over ONE generated position stream - two exchanges, no join of
    # any kind, no Python.
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        duplicate_span_stats,
    )

    docs = spark.range(100).selectExpr(
        "id as doc_id",
        "concat('w', id, ' a b c d e f g h i j k l m n o p') as text",
    )
    plan = (
        duplicate_span_stats(docs, k=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_remove_duplicate_spans_excises_and_passes_through(spark):
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "one two alpha beta gamma delta epsilon nine ten"),
            (2, "totally unrelated words that repeat nowhere at all"),
            # exact dup pair: BOTH become fully-excised (empty text) -
            # whole-doc dups are d1's job; this operator cuts substrings
            (3, "x y z p q r"),
            (4, "x y z p q r"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in remove_duplicate_spans(docs, k=3).collect()}
    assert len(out) == 5  # every doc present, affected or not
    assert out[0].trimmed_text == "zeta eta theta" and out[0].removed_tokens == 5
    assert out[1].trimmed_text == "one two nine ten"
    assert out[2].removed_tokens == 0 and out[2].trimmed_text.startswith("totally")
    assert out[3].trimmed_text == "" and out[3].removed_tokens == 6


def test_duplicate_span_hot_gram_stays_linear(spark):
    # adversarial input: ONE boilerplate gram shared by every doc.  The
    # gram-count window puts all its occurrences in one partition, but
    # the work is a COUNT + a per-doc merge - linear rows in, linear
    # rows out, never the k^2 pair blowup a posting self-join would hit.
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        duplicate_span_occurrences,
        duplicate_span_stats,
    )

    boiler = "all rights reserved by the example corporation inc"
    docs = spark.range(2000).selectExpr(
        "id as doc_id",
        f"concat('unique lead token u', id, ' ', '{boiler}') as text",
    )
    occ = duplicate_span_occurrences(docs, k=8)
    # exactly one hot-gram occurrence row per doc (the 8-gram fully
    # inside the boilerplate tail), not pairs
    assert occ.count() <= 3 * 2000
    stats = duplicate_span_stats(docs, k=8)
    rows = stats.collect()
    assert len(rows) == 2000
    assert all(r.n_spans == 1 for r in rows)


def test_edit_distance_pairs_closed_form(spark):
    """Hand-computed Levenshtein fixtures, including the case that
    motivates the operator: a word-order paraphrase whose token-set
    Jaccard is 1.0 but whose edit similarity is far lower."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        edit_distance_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "the quick brown fax"),   # 1 substitution
            (3, "brown fox the quick"),   # same token SET, reordered
            (4, "entirely different words"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    rows = {
        (r.id_a, r.id_b): (r.edit_dist, r.edit_sim)
        for r in edit_distance_pairs(pairs, docs).collect()
    }
    assert rows[(1, 2)][0] == 1
    assert abs(rows[(1, 2)][1] - (1 - 1 / 19)) < 1e-6
    # reordering costs many edits despite identical token sets
    assert rows[(1, 3)][0] >= 8
    assert rows[(1, 4)][0] >= 15


def test_edit_distance_pairs_joins_shuffle_hash_not_broadcast(spark):
    """The doc-text side grows with the corpus: both text joins must be
    ShuffledHashJoin (the staging contract shared with jaccard_verify)."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        edit_distance_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(50)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "id_a long, id_b long"
    )
    plan = (
        edit_distance_pairs(pairs, docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("ShuffledHashJoin") == 2
    assert "BroadcastHashJoin" not in plan


def test_hybrid_near_duplicates_is_conjunction_of_detectors(spark, sf_dir):
    """hybrid = lexical ∧ semantic: every hybrid pair must be an LSH
    near-dup pair with cosine ≥ the semantic threshold; the embedding
    attach must be shuffle-hash (the embedding side grows with the
    corpus — never broadcast)."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        hybrid_near_duplicates,
        minhash_near_duplicates,
    )
    from kafkastreamsinteractivequeries_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    hyb = hybrid_near_duplicates(
        docs, emb, shingle_n=1, lexical_threshold=0.6, cosine_threshold=0.3
    )
    rows = hyb.collect()
    assert rows, "no hybrid pairs at this sf — thresholds too tight"
    lex = {
        (r.id_a, r.id_b)
        for r in minhash_near_duplicates(docs, shingle_n=1, threshold=0.6).collect()
    }
    assert {(r.id_a, r.id_b) for r in rows} <= lex
    assert all(r.cosine >= 0.3 and r.jaccard >= 0.6 for r in rows)

    plan = hyb._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # both embedding attaches are shuffled hash joins, not broadcasts
    assert plan.count("ShuffledHashJoin") >= 2


def test_line_dedup_keeps_first_corpus_occurrence(spark):
    from kafkastreamsinteractivequeries_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha\nboiler\ngamma"),
            (2, "boiler\ndelta"),
            (3, "boiler\nalpha\nepsilon"),
            (4, "boiler"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert out[1]["text"] == "alpha\nboiler\ngamma"  # doc 1 owns both firsts
    assert out[2]["text"] == "delta"
    assert out[3]["text"] == "epsilon"
    assert out[4]["text"] == "" and out[4]["removed_lines"] == 1
    assert out[3]["n_lines"] == 3 and out[3]["kept_lines"] == 1
    # conservation: every line kept exactly once corpus-wide
    total_kept = sum(r["kept_lines"] for r in out.values())
    distinct_lines = {"alpha", "boiler", "gamma", "delta", "epsilon"}
    assert total_kept == len(distinct_lines)


def test_line_dedup_order_preserved_and_single_line_shuffle(spark, sf_dir):
    from kafkastreamsinteractivequeries_spark.operators.dedup import line_dedup
    from kafkastreamsinteractivequeries_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    # synthesize 6-token lines from the flat synthetic text
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size(F.split("text", " ")) - 1) / 6).cast("int"),
                ),
                lambda i: F.array_join(
                    F.slice(F.split("text", " "), i * 6 + 1, 6), " "
                ),
            ),
            "\n",
        ).alias("text"),
    )
    out = line_dedup(docs)
    rows = out.collect()
    assert all(r["kept_lines"] + r["removed_lines"] == r["n_lines"] for r in rows)
    # kept lines appear in original relative order: rebuild doc 0's kept
    # lines independently and compare
    d0 = docs.filter(F.col("doc_id") == 0).collect()[0]["text"].split("\n")
    got0 = [r for r in rows if r["doc_id"] == 0][0]["text"].split("\n")
    it = iter(d0)
    assert all(any(line == cand for cand in it) for line in got0 if line != "")


def test_line_dedup_null_text_degrades_to_zero_lines(spark):
    from kafkastreamsinteractivequeries_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, None), (3, "")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert out[2]["n_lines"] == 0 and out[2]["removed_lines"] == 0
    assert out[2]["text"] == ""
    # the empty-string doc still counts its one (empty) line
    assert out[3]["n_lines"] == 1 and out[3]["kept_lines"] == 1


def test_cdc_chunking_survives_prefix_insertion(spark):
    """The CDC contract: an insertion near the start of a near-duplicate
    re-chunks only its neighborhood — most chunk hashes survive, where
    fixed-window chunking would shift every boundary and share none."""
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        cdc_chunk_dedup,
    )

    base = " ".join(f"tok{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, base), (2, "inserted words here " + base), (3, None), (4, "  ")],
        "doc_id long, text string",
    )
    rows = cdc_chunk_dedup(df, window=4, divisor=8).collect()
    h1 = {r["chunk_hash"] for r in rows if r["doc_id"] == 1}
    h2 = {r["chunk_hash"] for r in rows if r["doc_id"] == 2}
    assert len(h1) >= 10  # expected chunk ~8 tokens over 200 tokens
    shared = len(h1 & h2) / len(h1)
    assert shared >= 0.8, f"only {shared:.0%} of chunk hashes survived"
    # null / whitespace-only docs contribute no chunks
    assert not [r for r in rows if r["doc_id"] in (3, 4)]

    # chunk rows tile each doc exactly: starts/lengths reconstruct 1..n
    for did in (1, 2):
        doc_rows = sorted(
            (r for r in rows if r["doc_id"] == did), key=lambda r: r["chunk_idx"]
        )
        pos = 1
        for r in doc_rows:
            assert r["chunk_start"] == pos
            pos += r["chunk_len"]
        n = len(
            df.filter(F.col("doc_id") == did).collect()[0]["text"].split()
        ) + (3 if did == 2 else 0) - (3 if did == 2 else 0)
        # doc 2 has 3 extra tokens prepended
        want = 200 + (3 if did == 2 else 0)
        assert pos - 1 == want

    # first-occurrence bookkeeping: every hash has exactly one keeper
    by_hash = {}
    for r in rows:
        by_hash.setdefault(r["chunk_hash"], []).append(r)
    for h, occ in by_hash.items():
        assert sum(1 for r in occ if r["is_first"]) == 1
        assert all(r["n_occurrences"] == len(occ) for r in occ)
        keeper = min(occ, key=lambda r: (r["doc_id"], r["chunk_idx"]))
        assert keeper["is_first"]

    # plan: one skinny hash shuffle + shuffle-hash join back; no window,
    # no python, document payloads never shuffle
    plan = (
        cdc_chunk_dedup(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "ShuffledHashJoin" in plan
    assert "Window" not in plan and "EvalPython" not in plan


def test_canonicalize_url_adversarial(spark):
    """RFC-normalization rules, each exercised by a hostile raw form:
    case, default ports, userinfo, %-escape case, tracking params,
    param order, fragments, empty path, non-URL degrade."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        canonicalize_url_col,
        url_dedup,
    )

    rows = [
        (1, "HTTPS://User:Pw@Example.COM:443/Path%2fA?b=2&utm_source=x&a=1#frag"),
        (2, "https://example.com/Path%2FA?a=1&b=2"),
        (3, "http://example.com:80/"),
        (4, "http://example.com"),  # empty path -> '/'
        (5, "not a url %2f"),  # no scheme: opaque-key degrade
        (6, "https://example.com/p?utm_campaign=z&fbclid=y&gclid=w&ref=v"),
        (7, "https://example.com/p"),
        (8, "ftp://Example.com:21/f"),  # :21 is NOT an http default — kept
        (9, "https://example.com/p?reference=keep"),  # 'ref' prefix != 'ref'
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id", canonicalize_url_col(F.col("url")).alias("c")
        ).collect()
    }
    assert got[1] == got[2] == "https://example.com/Path%2FA?a=1&b=2"
    assert got[3] == got[4] == "http://example.com/"
    assert got[5] == "not a url %2F"
    assert got[6] == got[7] == "https://example.com/p"
    assert got[8] == "ftp://example.com:21/f"
    assert got[9] == "https://example.com/p?reference=keep"

    kept = {r["doc_id"]: r for r in url_dedup(df).collect()}
    assert set(kept) == {1, 3, 5, 6, 8, 9}
    assert kept[1]["n_dups"] == 2 and kept[6]["n_dups"] == 2

    # canonicalization itself is a zero-shuffle Column chain; the
    # keeper is ONE aggregate exchange, never a window funnel
    plan = (
        url_dedup(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert plan.count("Exchange") <= 2  # partial agg + final agg exchange


def test_paragraph_dedup(spark):
    """Paragraph granularity: a paragraph repeated across docs survives
    only at its first (id, position); intra-doc structure and unique
    paragraphs are preserved; rejoin uses a canonical blank line."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import paragraph_dedup

    boiler = "subscribe to our newsletter"
    rows = [
        (1, f"unique one\n\n{boiler}\n\nunique two"),
        (2, f"{boiler}\n\n\nother text"),  # 3 newlines split the same
        (3, "other text"),  # duplicate of doc 2's second paragraph
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert out[1]["text"] == f"unique one\n\n{boiler}\n\nunique two"
    assert out[1]["n_lines"] == 3 and out[1]["removed_lines"] == 0
    assert out[2]["text"] == "other text"  # boilerplate excised
    assert out[2]["kept_lines"] == 1 and out[2]["removed_lines"] == 1
    assert out[3]["text"] == "" and out[3]["removed_lines"] == 1


def test_url_dedup_incremental(spark):
    """Daily-increment URL dedup: batch survivors dedup within the
    batch AND anti-join the landed canonical set — a URL already
    crawled yesterday never re-enters, whatever raw form it arrives in."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        url_dedup,
        url_dedup_incremental,
    )

    landed = spark.createDataFrame(
        [
            (1, "https://example.com/a"),
            (2, "https://example.com/b?x=1"),
        ],
        "doc_id long, url string",
    )
    seen = url_dedup(landed).select("canonical_url")
    batch = spark.createDataFrame(
        [
            (10, "HTTPS://EXAMPLE.COM:443/a#frag"),  # yesterday's /a
            (11, "https://example.com/b?utm_source=z&x=1"),  # yesterday's /b
            (12, "https://example.com/new"),
            (13, "https://example.com/new?utm_x"),  # intra-batch dup of 12
            (14, "https://example.com/other"),
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in url_dedup_incremental(batch, seen).collect()}
    assert set(out) == {12, 14}
    assert out[12]["n_dups"] == 2  # 13 collapsed into it inside the batch


def test_host_stats_and_gate(spark):
    """Host aggregation + RefinedWeb-style gate: extraction through
    adversarial raw forms, exact distinct-canonical counts, integer
    permille dup share, and both gate decisions exercised."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        host_gate,
        host_stats,
    )

    rows = [
        # mirror.example: 4 fetches of ONE canonical page -> 750 permille
        (1, "https://MIRROR.example/a"),
        (2, "https://mirror.example:443/a#x"),
        (3, "https://u:pw@mirror.example/a?utm_source=t"),
        (4, "https://mirror.example/a"),
        # ok.example: 3 distinct pages, no dups
        (5, "https://ok.example/p1"),
        (6, "https://ok.example/p2"),
        (7, "http://ok.example:80/p3"),
        # flood.example: 5 distinct pages but over the doc cap of 4
        (8, "https://flood.example/1"),
        (9, "https://flood.example/2"),
        (10, "https://flood.example/3"),
        (11, "https://flood.example/4"),
        (12, "https://flood.example/5"),
        # schemeless junk degrades to host ''
        (13, "not a url"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    hs = {r["host"]: r for r in host_stats(docs).collect()}
    assert hs["mirror.example"]["n_docs"] == 4
    assert hs["mirror.example"]["n_urls"] == 1
    assert hs["mirror.example"]["dup_permille"] == 750
    assert hs["mirror.example"]["first_id"] == 1
    assert hs["ok.example"]["n_urls"] == 3 and hs["ok.example"]["dup_permille"] == 0
    assert "" in hs  # degraded, never NULL

    gate = {
        r["host"]: r["blocked"]
        for r in host_gate(docs, max_docs_per_host=4, max_dup_permille=700).collect()
    }
    assert gate["mirror.example"] == 1  # dup share
    assert gate["flood.example"] == 1  # doc cap
    assert gate["ok.example"] == 0


def test_robots_rules_and_evaluation(spark):
    """RFC 9309 robots evaluation: group parsing (consecutive UA lines,
    merged same-agent groups, comments/CR stripped), most-specific
    agent-group selection, longest-match precedence with Allow winning
    ties, $ anchors, empty Disallow dropped, ruleless hosts allowed."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        robots_allowed,
        robots_rules,
    )

    a_txt = (
        "# comment\r\n"
        "User-agent: googlebot\r\n"
        "User-Agent: otherbot\r\n"
        "Disallow: /private/\r\n"
        "Allow: /private/ok\r\n"
        "\r\n"
        "User-agent: *\r\n"
        "Disallow: /\r\n"
    )
    b_txt = (
        "User-agent: *\r\n"
        "Disallow: /tmp$\r\n"
        "Disallow:\r\n"          # empty: allow-everything, must drop out
        "disallow: /logs/  # inline comment\r\n"
        "\r\n"
        "User-agent: *\r\n"      # second * group merges
        "Allow: /logs/public\r\n"
    )
    robots = spark.createDataFrame(
        [("a.com", a_txt), ("b.com", b_txt)], "host string, robots_txt string"
    )

    # specific agent: the * group on a.com must be IGNORED
    rules_g = robots_rules(robots, agent="GoogleBot")
    got_a = {(r["allow"], r["path"]) for r in rules_g.filter("host='a.com'").collect()}
    assert got_a == {(0, "/private/"), (1, "/private/ok")}
    # b.com has no googlebot group -> falls back to its * groups, merged
    got_b = {(r["allow"], r["path"]) for r in rules_g.filter("host='b.com'").collect()}
    assert got_b == {(0, "/tmp$"), (0, "/logs/"), (1, "/logs/public")}

    urls = spark.createDataFrame(
        [
            ("a.com", "/private/secret"),   # disallowed
            ("a.com", "/private/ok/page"),  # longer Allow wins
            ("a.com", "/open"),             # no matching rule -> allowed
            ("b.com", "/tmp"),              # $ anchor exact -> disallowed
            ("b.com", "/tmpfile"),          # anchor does NOT match prefix
            ("b.com", "/logs/secret"),      # disallowed
            ("b.com", "/logs/public/x"),    # longer Allow wins
            ("c.com", "/anything"),         # host without robots -> allowed
        ],
        "host string, path string",
    )
    verdicts = {
        (r["host"], r["path"]): r["allowed"]
        for r in robots_allowed(urls, rules_g).collect()
    }
    assert verdicts[("a.com", "/private/secret")] == 0
    assert verdicts[("a.com", "/private/ok/page")] == 1
    assert verdicts[("a.com", "/open")] == 1
    assert verdicts[("b.com", "/tmp")] == 0
    assert verdicts[("b.com", "/tmpfile")] == 1
    assert verdicts[("b.com", "/logs/secret")] == 0
    assert verdicts[("b.com", "/logs/public/x")] == 1
    assert verdicts[("c.com", "/anything")] == 1

    # generic-agent evaluation: a.com's * group (Disallow /) now applies
    rules_star = robots_rules(robots, agent="randombot")
    v2 = {
        (r["host"], r["path"]): r["allowed"]
        for r in robots_allowed(urls, rules_star).collect()
    }
    assert v2[("a.com", "/open")] == 0


def test_robots_wildcard_rules(spark):
    """RFC 9309 '*' wildcards: '/*?sessionid' blocks any path carrying
    the fragment, '/fish*.php' needs both segments in order, '*' + '$'
    compose, LIKE specials (%/_) in real paths stay literal, and the
    longest-rule precedence still counts raw rule octets."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        robots_allowed,
        robots_rules,
    )

    txt = (
        "User-agent: *\n"
        "Disallow: /*?sessionid\n"
        "Disallow: /fish*.php\n"
        "Disallow: /static/*.map$\n"
        "Allow: /fish*public*.php\n"
        "Disallow: /pct%2F\n"
        "Disallow: /under_score\n"
    )
    robots = spark.createDataFrame(
        [("w.com", txt)], "host string, robots_txt string"
    )
    rules = robots_rules(robots, agent="anybot")
    urls = spark.createDataFrame(
        [
            ("w.com", "/page?sessionid=abc"),        # /*?sessionid
            ("w.com", "/a/b/c?sessionid=1&x=2"),     # deep path, still hit
            ("w.com", "/page?other=1"),              # no fragment -> allowed
            ("w.com", "/fishery/run.php"),           # /fish*.php
            ("w.com", "/fish.html"),                 # .php missing -> allowed
            ("w.com", "/fish/public/x.php"),         # Allow (longer rule) wins
            ("w.com", "/static/app.js.map"),         # anchored wildcard
            ("w.com", "/static/app.js.map2"),        # $ rejects the suffix
            ("w.com", "/pct%2Fx"),                   # literal % in rule+path
            ("w.com", "/pctX2Fx"),                   # % must NOT wildcard
            ("w.com", "/under_score/y"),             # literal _ in rule+path
            ("w.com", "/underXscore/y"),             # _ must NOT wildcard
        ],
        "host string, path string",
    )
    got = {
        r["path"]: r["allowed"]
        for r in robots_allowed(urls, rules).collect()
    }
    assert got["/page?sessionid=abc"] == 0
    assert got["/a/b/c?sessionid=1&x=2"] == 0
    assert got["/page?other=1"] == 1
    assert got["/fishery/run.php"] == 0
    assert got["/fish.html"] == 1
    assert got["/fish/public/x.php"] == 1
    assert got["/static/app.js.map"] == 0
    assert got["/static/app.js.map2"] == 1
    assert got["/pct%2Fx"] == 0
    assert got["/pctX2Fx"] == 1
    assert got["/under_score/y"] == 0
    assert got["/underXscore/y"] == 1


@pytest.mark.slow  # >10 s; runs in the full suite
def test_extract_resolve_and_link_graph(spark):
    """Href extraction, RFC 3986 reference resolution, and the
    host-level link graph feeding pagerank end-to-end."""
    from kafkastreamsinteractivequeries_spark.operators import graph as G
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        extract_links_col,
        resolve_url_col,
        web_link_graph,
    )
    from pyspark.sql import functions as F

    # resolution cases
    cases = spark.createDataFrame(
        [
            ("https://a.com/dir/page.html", "https://b.com/x", "https://b.com/x"),
            ("https://a.com/dir/page.html", "//c.com/y", "https://c.com/y"),
            ("https://a.com/dir/page.html", "/root.html", "https://a.com/root.html"),
            ("https://a.com/dir/page.html", "sib.html", "https://a.com/dir/sib.html"),
            ("https://a.com/dir/page.html", "#frag", "https://a.com/dir/page.html"),
            ("https://a.com", "x", "https://a.com/x"),  # no path -> root dir
        ],
        "base string, ref string, want string",
    )
    got = cases.select(
        "want", resolve_url_col(F.col("base"), F.col("ref")).alias("got")
    ).collect()
    for r in got:
        assert r["got"] == r["want"], (r["got"], r["want"])

    html_a = (
        '<p>x</p><A class="l" HREF="https://b.com/p1">b</A>'
        "<a href='/local'>l</a><a href=\"//c.com/q\">c</a>"
        '<a href="#top">top</a><a href="rel.html">r</a>'
    )
    pages = spark.createDataFrame(
        [
            ("https://a.com/dir/page.html", html_a),
            ("https://b.com/p1", '<a href="https://a.com/">back</a>'
                                 '<a href="https://b.com/self">self</a>'),
            ("https://d.com/", None),  # null html degrades to no links
        ],
        "url string, html string",
    )
    edges = web_link_graph(pages)
    named = {(r["src_host"], r["dst_host"]) for r in edges.collect()}
    # a.com links out to b.com and c.com (local/#/rel stay on a.com and drop)
    assert named == {("a.com", "b.com"), ("a.com", "c.com"), ("b.com", "a.com")}

    # the long keys feed pagerank directly
    pr = G.pagerank(G.normalize_edges(edges.select("src", "dst")), iterations=2)
    assert pr.count() == 3 and pr.filter("rank <= 0").count() == 0


@pytest.mark.slow  # >10 s; runs in the full suite
def test_web_link_graph_weighted(spark):
    """weighted=True keeps link counts per host pair and feeds
    pagerank(weight_col='w')."""
    from kafkastreamsinteractivequeries_spark.operators import graph as G
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        web_link_graph,
    )

    pages = spark.createDataFrame(
        [
            ("https://a.com/", '<a href="https://b.com/1">1</a>'
                               '<a href="https://b.com/2">2</a>'
                               '<a href="https://b.com/3">3</a>'
                               '<a href="https://c.com/">c</a>'),
            ("https://b.com/", '<a href="https://a.com/">x</a>'),
            ("https://c.com/", '<a href="https://a.com/">x</a>'),
        ],
        "url string, html string",
    )
    e = web_link_graph(pages, weighted=True)
    w = {(r["src_host"], r["dst_host"]): r["w"] for r in e.collect()}
    assert w[("a.com", "b.com")] == 3 and w[("a.com", "c.com")] == 1
    pr = {
        r["id"]: r["rank"]
        for r in G.pagerank(
            e.select("src", "dst", "w"), weight_col="w"
        ).collect()
    }
    keyed = {r["src"]: r["src_host"] for r in e.collect()}
    keyed.update({r["dst"]: r["dst_host"] for r in e.collect()})
    by_host = {keyed[i]: v for i, v in pr.items()}
    assert by_host["b.com"] > by_host["c.com"]  # 3 links beat 1


def test_anchor_text_index(spark):
    """Anchor text aggregates per canonical target: inline markup
    stripped, relative targets resolved, tracking-param forms collapse
    onto one canonical, self-links excluded, text deterministic
    (sorted distinct)."""
    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        anchor_text_index,
    )

    pages = spark.createDataFrame(
        [
            ("https://a.com/", '<a href="https://t.com/p">great <b>docs</b></a>'
                               '<a href="https://a.com/">home</a>'),  # self
            ("https://b.com/", '<a href="https://t.com/p?utm_source=x">very '
                               'useful reference</a>'
                               '<a href="/local">b local</a>'),
            ("https://c.com/dir/", '<a href="../other">elsewhere</a>'
                                   '<a href="https://t.com/p">great docs</a>'),
        ],
        "url string, html string",
    )
    out = {r["canonical_url"]: r for r in anchor_text_index(pages).collect()}
    t = out["https://t.com/p"]
    assert t["n_anchors"] == 3
    # distinct, sorted, markup-stripped
    assert t["anchor_text"] == "great docs\nvery useful reference"
    assert "https://a.com/" not in out  # only self-link pointed there
    assert out["https://b.com/local"]["anchor_text"] == "b local"


def test_sitemap_and_robots_sitemap_extraction(spark):
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        robots_sitemaps_col,
        sitemap_urls_col,
    )

    xml = (
        '<?xml version="1.0"?><urlset><url><loc> https://a.com/1 </loc>'
        "</url><url><LOC>https://a.com/2</LOC></url>"
        "<url><loc><![CDATA[https://a.com/3?x=1&amp;y=2]]></loc></url></urlset>"
    )
    robots = (
        "User-agent: *\nDisallow: /x\n"
        "Sitemap: https://a.com/sitemap.xml  # main\n"
        "sitemap:https://a.com/news.xml\n"
    )
    df = spark.createDataFrame([(xml, robots), (None, None)], "xml string, rb string")
    r = df.select(
        sitemap_urls_col(F.col("xml")).alias("locs"),
        robots_sitemaps_col(F.col("rb")).alias("maps"),
    ).collect()
    assert r[0]["locs"] == [
        "https://a.com/1", "https://a.com/2", "https://a.com/3?x=1&amp;y=2"
    ]
    assert r[0]["maps"] == [
        "https://a.com/sitemap.xml", "https://a.com/news.xml"
    ]
    assert r[1]["locs"] == [] and r[1]["maps"] == []


def test_connected_components_star_driver_path_matches_distributed(spark, monkeypatch):
    """The bounded small-graph fast path (driver union-find over the
    pinned pair set) must emit exactly the distributed star labels —
    including self-loop-only nodes and null-endpoint edges."""
    import random

    from kafkastreamsinteractivequeries_spark.operators.dedup import (
        connected_components_star,
    )

    rng = random.Random(29)
    edges = list({(rng.randrange(80), rng.randrange(80)) for _ in range(90)})
    edges.append((777, 777))  # self-loop-only node labels itself
    edges.append((5, None))  # null endpoint links nothing
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    monkeypatch.setenv("KSIQ_CC_DRIVER_EDGE_CAP", "0")  # force distributed
    want = {
        r.doc_id: r.group_id
        for r in connected_components_star(pairs).collect()
    }
    monkeypatch.setenv("KSIQ_CC_DRIVER_EDGE_CAP", "65536")  # force driver
    got = {
        r.doc_id: r.group_id
        for r in connected_components_star(pairs).collect()
    }
    assert got == want
    assert want[777] == 777

    # cap smaller than the edge set falls back to the distributed path
    monkeypatch.setenv("KSIQ_CC_DRIVER_EDGE_CAP", "3")
    fallback = {
        r.doc_id: r.group_id
        for r in connected_components_star(pairs).collect()
    }
    assert fallback == want
