"""Unit tests for operators/text.py (north-star text analysis).

Oracle parity at testdata scale is covered by test_oracle_parity.py;
these are targeted semantic checks on hand-built fixtures.
"""

import pytest
from pyspark.sql import functions as F

from kafkastreamsinteractivequeries_spark.operators.text import (
    language_id,
    text_stats,
    token_counts_report,
    winnowing_fingerprint,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The cat sat on the mat, and it is that for the win."),
        (2, "Der Hund ist nicht mit der Katze und das ist gut."),
        (3, "el perro es un animal que no se va de la casa"),
        (4, "12345 67890 11 22 33 44"),
        (5, ""),
        (6, "one two three four five six seven eight nine ten"),
        (7, "zero two three four five six seven eight nine ten"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _by_id(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


def test_text_stats_shape_and_bounds(docs):
    out = _by_id(text_stats(docs))
    assert set(out) == {1, 2, 3, 4, 5, 6, 7}
    for r in out.values():
        assert 0.0 <= r["quality_score"] <= 1.0
    assert out[1]["n_tokens"] == 13
    # "12345 67890 11 22 33 44" → all digits, no letters
    assert out[4]["n_letters"] == 0
    assert out[4]["digit_ratio"] > 0.5
    # empty doc: no NULLs leak (least() ignores the NULL ratios); the
    # only surviving component is length = 1 token / 100 → 0.4 * 0.01
    assert out[5]["quality_score"] == pytest.approx(0.004)
    assert out[1]["stopword_ratio"] > out[2]["stopword_ratio"]


def test_token_counts(docs):
    out = _by_id(token_counts_report(docs))
    # "The cat sat on the mat, and it is that for the win."
    assert out[1]["ws_tokens"] == 13
    # BPE-ish: 13 letter runs + comma + period
    assert out[1]["bpe_tokens"] == 15
    # digits doc: 6 digit runs either way
    assert out[4]["ws_tokens"] == 6
    assert out[4]["bpe_tokens"] == 6


def test_language_id(docs):
    out = _by_id(language_id(docs))
    assert out[1]["lang_pred"] == "en"
    assert out[2]["lang_pred"] == "de"
    assert out[3]["lang_pred"] == "es"
    assert out[4]["lang_pred"] == "unknown"


def test_language_id_cjk(spark):
    df = spark.createDataFrame([(1, "这是一个中文文档")], ["doc_id", "text"])
    assert _by_id(language_id(df))[1]["lang_pred"] == "zh"


def test_winnowing_fingerprint(docs, spark):
    out = _by_id(winnowing_fingerprint(docs))
    # 10-token docs differing only in token 1: they share the windows
    # starting at positions 2 and 3, so the min-hash CAN coincide but
    # fingerprints must be deterministic and non-null.
    assert all(r["winnow_fp"] for r in out.values())
    # determinism
    again = _by_id(winnowing_fingerprint(docs))
    assert {k: v["winnow_fp"] for k, v in out.items()} == {
        k: v["winnow_fp"] for k, v in again.items()
    }
    # short doc (< window tokens) hashes the whole normalized text
    short = _by_id(winnowing_fingerprint(spark.createDataFrame([(9, "a b c")], ["doc_id", "text"])))
    import hashlib

    assert short[9]["winnow_fp"] == hashlib.md5(b"a b c").hexdigest()
    # identical docs share fingerprints even with differing whitespace
    pair = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine"),
         (2, "one  two three\tfour five six seven eight nine")],
        ["doc_id", "text"],
    )
    fps = _by_id(winnowing_fingerprint(pair))
    assert fps[1]["winnow_fp"] == fps[2]["winnow_fp"]


def test_deterministic_split_stability(spark):
    from kafkastreamsinteractivequeries_spark.operators.text import deterministic_split

    df = spark.createDataFrame([(i, "x") for i in range(1000)], ["doc_id", "text"])
    a = {r.doc_id: (r.bucket, r.split) for r in deterministic_split(df).collect()}
    # identical on recompute and independent of partitioning
    b = {
        r.doc_id: (r.bucket, r.split)
        for r in deterministic_split(df.repartition(7)).collect()
    }
    assert a == b
    counts = {}
    for _, s in a.values():
        counts[s] = counts.get(s, 0) + 1
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # roughly 90/5/5 (md5 is uniform; allow slack)
    assert 850 <= counts["train"] <= 950


def test_length_percentiles_shape(spark):
    from kafkastreamsinteractivequeries_spark.operators.text import length_percentiles

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate([1, 2, 3, 4, 100])],
        ["doc_id", "text"],
    )
    r = length_percentiles(docs).collect()[0]
    assert r.n_docs == 5 and r.min_tokens == 1 and r.max_tokens == 100
    assert r.p50 == 3.0 and r.p25 == 2.0


def test_bigram_logprob_discriminates_fluency(spark):
    from kafkastreamsinteractivequeries_spark.operators.text import bigram_logprob_scores

    common = "the cat sat on the mat"
    rows = [(i, common) for i in range(10)]  # repeated phrase = high-prob bigrams
    rows.append((99, "zq xv qj wk zzz yyy"))  # singleton bigrams
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in bigram_logprob_scores(df).collect()}
    assert out[0].n_bigrams == 5
    assert out[0].avg_logprob > out[99].avg_logprob  # fluent >> gibberish
    # identical docs score identically
    assert out[0].avg_logprob == out[5].avg_logprob


def test_perplexity_buckets_ccnet_terciles(spark, sf_dir):
    """CCNet head/middle/tail: buckets split the corpus into roughly
    equal masses, head holds the LOWEST perplexities, tail the highest,
    and bucket boundaries never interleave (max(head.ppl) <=
    min(middle.ppl) etc. on the underlying score ordering)."""
    from kafkastreamsinteractivequeries_spark.operators.text import (
        bigram_logprob_scores,
        perplexity_buckets,
    )
    from kafkastreamsinteractivequeries_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = perplexity_buckets(docs).collect()
    n = len(out)
    sizes = {b: sum(1 for r in out if r.bucket == b) for b in ("head", "middle", "tail")}
    assert sum(sizes.values()) == n
    # equal-mass terciles up to threshold ties
    for b, c in sizes.items():
        assert abs(c - n / 3) < 0.12 * n, (b, c, n)
    # head is the most fluent (lowest perplexity) band
    hi_head = max(r.ppl for r in out if r.bucket == "head")
    lo_mid = min(r.ppl for r in out if r.bucket == "middle")
    hi_mid = max(r.ppl for r in out if r.bucket == "middle")
    lo_tail = min(r.ppl for r in out if r.bucket == "tail")
    assert hi_head <= lo_mid + 0.01 and hi_mid <= lo_tail + 0.01
    # precomputed-scores path is row-identical to the self-computed one
    sc = bigram_logprob_scores(docs)
    again = perplexity_buckets(docs, scores=sc).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_repetition_stats(spark):
    from kafkastreamsinteractivequeries_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "w x y z"), (3, "b b a a")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert rows[1].n_tokens == 4 and rows[1].n_distinct_tokens == 2
    assert rows[1].top_token == "a" and rows[1].top_token_ratio == 0.75
    assert rows[2].dup_token_ratio == 0.0
    # tie on count (a=2, b=2) → lexicographically smallest token wins
    assert rows[3].top_token == "a"


def test_tfidf_top_terms(spark):
    from kafkastreamsinteractivequeries_spark.operators.text import tfidf_top_terms

    # "rare" appears in one doc only → highest idf → its doc's top term;
    # "common" appears everywhere → idf floor.
    df = spark.createDataFrame(
        [(1, "common rare"), (2, "common common"), (3, "common other")],
        ["doc_id", "text"],
    )
    out = tfidf_top_terms(df, k=1).collect()
    top = {r.doc_id: r.term for r in out}
    assert top[1] == "rare"  # equal tf, higher idf wins
    assert top[3] == "other"
    assert top[2] == "common"
    assert all(r.rank == 1 for r in out)


def test_bm25_ranks_relevant_docs_first(spark):
    import math

    from kafkastreamsinteractivequeries_spark.operators.text import bm25_search

    df = spark.createDataFrame(
        [
            (1, "spark spark spark filler filler"),  # high tf for the query
            (2, "spark filler filler filler filler"),  # one hit
            (3, "filler filler filler filler filler"),  # no hit
            (4, "spark spark other other other"),
        ],
        ["doc_id", "text"],
    )
    out = bm25_search(df, ["spark"], k=10).collect()
    got = {r.doc_id: (r.bm25, r.rank) for r in out}
    assert 3 not in got  # no-match docs never appear
    # more query-term occurrences at equal length → higher score
    assert got[1][0] > got[4][0] > got[2][0]
    assert [r.doc_id for r in sorted(out, key=lambda r: r.rank)] == [1, 4, 2]
    # closed-form check for doc 2: N=4, df=3, dl=5, avgdl=5, tf=1
    idf = math.log(1.0 + (4 - 3 + 0.5) / (3 + 0.5))
    expected = idf * 1 / (1 + 1.2 * (1 - 0.75 + 0.75 * 5 / 5))
    assert abs(got[2][0] - round(expected, 6)) < 1e-9


def test_bm25_multi_term_sums_and_breaks_ties_by_id(spark):
    from kafkastreamsinteractivequeries_spark.operators.text import bm25_search

    df = spark.createDataFrame(
        [(1, "a b x"), (2, "a b x"), (3, "x y z")], ["doc_id", "text"]
    )
    out = bm25_search(df, ["a", "b"], k=2).collect()
    assert [(r.doc_id, r.rank) for r in sorted(out, key=lambda r: r.rank)] == [
        (1, 1),
        (2, 2),
    ]


def test_bm25_top_k_plans_as_take_ordered(spark):
    from kafkastreamsinteractivequeries_spark.operators.text import bm25_search

    df = spark.range(100).selectExpr(
        "id as doc_id", "'spark filler' as text"
    )
    plan = bm25_search(df, ["spark"], k=5)._jdf.queryExecution().executedPlan().toString()
    # global top-k must be per-partition heaps + single merge, never a
    # full Sort|Window over every matched doc
    assert "TakeOrderedAndProject" in plan


def test_vocabulary_coverage_ranks_and_cumulates(spark):
    from kafkastreamsinteractivequeries_spark.operators.text import (
        vocabulary_coverage,
    )

    rows = [(1, "a a a b b c"), (2, "a b x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.token: r for r in vocabulary_coverage(df, top_k=2).collect()}
    # a:4 b:3 c:1 x:1, total 9; top-2 = a, b
    assert set(got) == {"a", "b"}
    assert got["a"].rank == 1 and got["a"]["count"] == 4
    assert abs(got["a"].cum_fraction - round(4 / 9, 6)) < 1e-9
    assert got["b"].rank == 2
    assert abs(got["b"].cum_fraction - round(7 / 9, 6)) < 1e-9


def test_pii_stats_counts_and_redacts(spark):
    from kafkastreamsinteractivequeries_spark.operators.text import pii_stats

    df = spark.createDataFrame(
        [
            (1, "mail me at bob.smith+1@corp.example.org today"),
            (2, "call +1-555-867-5309 or 1-555-000-1234"),
            (3, "server at 192.168.1.250 went down"),
            (4, "nothing sensitive here"),
            (5, "bob@x.io from 10.0.0.1 call 1-555-111-2222"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in pii_stats(df).collect()}
    assert (rows[1]["n_email"], rows[1]["n_phone"], rows[1]["n_ipv4"]) == (1, 0, 0)
    assert "<EMAIL>" in rows[1]["redacted_text"]
    assert "bob.smith" not in rows[1]["redacted_text"]
    assert rows[2]["n_phone"] == 2 and "<PHONE>" in rows[2]["redacted_text"]
    assert "555" not in rows[2]["redacted_text"]
    assert rows[3]["n_ipv4"] == 1 and "<IP>" in rows[3]["redacted_text"]
    assert rows[4]["clean"] and rows[4]["redacted_text"] == "nothing sensitive here"
    assert (rows[5]["n_email"], rows[5]["n_phone"], rows[5]["n_ipv4"]) == (1, 1, 1)
    assert not rows[5]["clean"]


def test_ngram_decontaminate_flags_planted_overlap(spark):
    from kafkastreamsinteractivequeries_spark.operators.text import ngram_decontaminate

    eval_docs = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # contains the 13.. well n=4 window "quick brown fox jumps"
            (1, "she saw the quick brown fox jumps over a fence"),
            # same words, different order — no shared 4-gram
            (2, "fox brown quick the jumps dog lazy over"),
            # too short for any 4-gram
            (3, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in ngram_decontaminate(train, eval_docs, n=4).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[1]["contaminated"] and rows[1]["n_contaminated_ngrams"] >= 1
    assert not rows[2]["contaminated"] and rows[2]["n_contaminated_ngrams"] == 0
    assert not rows[3]["contaminated"]


def test_pii_redaction_is_a_fixpoint_on_random_texts(spark):
    # redacted output must contain no residual matches: running the
    # operator on its own redacted_text yields zero counts and the
    # identical text (the placeholders are inert by construction)
    import random

    from kafkastreamsinteractivequeries_spark.operators.text import pii_stats

    rng = random.Random(42)
    words = ["alpha", "beta", "gamma", "delta", "x9", "hello,", "end."]
    rows = []
    for i in range(60):
        body = " ".join(rng.choices(words, k=rng.randint(3, 12)))
        if i % 3 == 0:
            body += f" {rng.choice(['a','bob.smith','x+y'])}{i}@ex{i%7}.org"
        if i % 4 == 0:
            body += f" +{rng.randint(1,99)}-{rng.randint(100,999)}-{rng.randint(100,999)}-{rng.randint(1000,9999)}"
        if i % 5 == 0:
            body += f" {rng.randint(0,255)}.{rng.randint(0,255)}.{rng.randint(0,255)}.{rng.randint(0,255)}"
        rows.append((i, body))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    first = pii_stats(df)
    planted = {
        r["doc_id"]: r
        for r in first.collect()
    }
    for i, _ in rows:
        if i % 3 == 0:
            assert planted[i]["n_email"] >= 1, i
        if i % 4 == 0:
            assert planted[i]["n_phone"] >= 1, i
        if i % 5 == 0:
            assert planted[i]["n_ipv4"] >= 1, i
    again = pii_stats(
        first.select("doc_id", F.col("redacted_text").alias("text"))
    ).collect()
    for r in again:
        assert (r["n_email"], r["n_phone"], r["n_ipv4"]) == (0, 0, 0), r
        assert r["clean"]


def test_self_decontamination_flags_every_long_doc(spark, sf_dir):
    # decontaminating a corpus against ITSELF must flag exactly the
    # docs long enough to have any n-gram; an n beyond every doc's
    # length must flag nothing
    from kafkastreamsinteractivequeries_spark.operators.text import (
        ngram_decontaminate,
        tokens_col,
    )
    from kafkastreamsinteractivequeries_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(80)
    out = {r["doc_id"]: r for r in ngram_decontaminate(docs, docs, n=5).collect()}
    lens = {
        r["doc_id"]: r["n"]
        for r in docs.select("doc_id", F.size(tokens_col(F.col("text"))).alias("n")).collect()
    }
    for did, n in lens.items():
        assert out[did]["contaminated"] == (n >= 5), (did, n)
    none = ngram_decontaminate(docs, docs, n=10_000).filter("contaminated").count()
    assert none == 0


def test_bloom_decontamination_no_false_negatives_and_bounded_fps(spark, sf_dir):
    from kafkastreamsinteractivequeries_spark.operators.text import (
        bloom_filter_grams,
        ngram_decontaminate,
        ngram_decontaminate_bloom,
    )
    from kafkastreamsinteractivequeries_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)

    exact = {
        r["doc_id"]
        for r in ngram_decontaminate(train, eval_docs, n=3)
        .filter("contaminated")
        .collect()
    }
    words = bloom_filter_grams(eval_docs, n=3, num_bits=1 << 16, num_hashes=4)
    approx = {
        r["doc_id"]
        for r in ngram_decontaminate_bloom(
            train, words, n=3, num_bits=1 << 16, num_hashes=4
        )
        .filter("contaminated")
        .collect()
    }
    # the decontamination guarantee: nothing truly contaminated escapes
    assert exact <= approx
    # FPR sanity at this sizing: false flags stay a small minority of
    # the clean population
    n_train = train.count()
    clean = n_train - len(exact)
    fps = len(approx - exact)
    assert clean == 0 or fps / clean < 0.25, (fps, clean)


def test_bloom_word_table_is_bounded_and_broadcast(spark, sf_dir):
    from kafkastreamsinteractivequeries_spark.operators.text import (
        bloom_filter_grams,
        ngram_decontaminate_bloom,
    )
    from kafkastreamsinteractivequeries_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 20 == 0)
    words = bloom_filter_grams(eval_docs, n=3, num_bits=1 << 16, num_hashes=4)
    assert words.count() <= (1 << 16) // 64
    plan = (
        ngram_decontaminate_bloom(
            docs.filter(F.col("doc_id") % 20 != 0), words, n=3,
            num_bits=1 << 16, num_hashes=4,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # fixed-size word table broadcast; the corpus gram stream never
    # sort-merge-joins
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_words_with_a_duplicate_word_idx_give_the_same_verdicts(spark):
    from kafkastreamsinteractivequeries_spark.operators.text import (
        bloom_filter_grams,
        ngram_decontaminate_bloom,
    )

    schema = "doc_id long, text string"
    eval_docs = spark.createDataFrame([(1, "the quick brown fox jumps over the lazy dog")], schema)
    train = spark.createDataFrame(
        [(10, "a quick brown fox jumps high"), (11, "nothing in common here at all"),
         (12, "over the lazy dog again")],
        schema,
    )
    words = bloom_filter_grams(eval_docs, n=3, num_bits=1 << 12, num_hashes=4)
    # each word as two rows of one word_idx that OR to it: its lowest
    # set bit, and the rest
    split = words.select("word_idx", F.expr("word & -word").alias("word")).unionByName(
        words.select("word_idx", F.expr("word & (word - 1)").alias("word"))
    )

    def verdicts(bloom_words):
        out = ngram_decontaminate_bloom(train, bloom_words, n=3, num_bits=1 << 12, num_hashes=4)
        return sorted(tuple(r) for r in out.collect())

    assert split.count() == 2 * words.count()
    want = verdicts(words)
    assert [d for d, _, hit in want if hit] == [10, 12]
    assert verdicts(split) == want


def test_winnowing_full_matches_python_reference(spark):
    """The Spark selection must equal a direct Python implementation of
    the winnowing algorithm, and any shared substring of >= window+k-1
    tokens must produce a shared fingerprint across docs."""
    import hashlib

    from kafkastreamsinteractivequeries_spark.operators.text import (
        winnowing_fingerprints_full,
    )

    K, W = 3, 4
    texts = {
        1: "a b c d e f g h i j k l m n",
        2: "x y z a b c d e f g h i q r",  # shares "a b c d e f g h" (8 >= W+K-1=6)
        3: "p q",                           # short doc
    }
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {}
    for r in winnowing_fingerprints_full(df, k=K, window=W).collect():
        got.setdefault(r["doc_id"], set()).add(r["fingerprint"])

    def ref(text):
        t = text.split()
        if len(t) < W + K - 1:
            return {hashlib.md5(" ".join(t).encode()).hexdigest()}
        grams = [
            hashlib.md5(" ".join(t[i : i + K]).encode()).hexdigest()
            for i in range(len(t) - K + 1)
        ]
        return {min(grams[i : i + W]) for i in range(len(grams) - W + 1)}

    for did, text in texts.items():
        assert got[did] == ref(text), did
    # the shared-substring guarantee
    assert got[1] & got[2]
    # compression: fewer fingerprints than grams
    assert len(got[1]) < len(texts[1].split()) - K + 1


def test_chunk_documents_windows_and_overlap(spark):
    from kafkastreamsinteractivequeries_spark.operators.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(11))
    df = spark.createDataFrame([(1, words), (2, "tiny doc")], ["doc_id", "text"])
    rows = sorted(
        chunk_documents(df, chunk_tokens=4, overlap=1).collect(),
        key=lambda r: (r["doc_id"], r["chunk_idx"]),
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: stride 3 over 11 tokens → ceil(10/3)=4 chunks at 0,3,6,9
    c1 = by_doc[1]
    assert [r["chunk_idx"] for r in c1] == [0, 1, 2, 3]
    assert c1[0]["chunk_text"] == "w0 w1 w2 w3"
    assert c1[1]["chunk_text"] == "w3 w4 w5 w6"  # 1-token overlap
    assert c1[3]["chunk_text"] == "w9 w10" and c1[3]["n_tokens"] == 2
    # every token appears in some chunk; consecutive chunks overlap by 1
    assert c1[0]["chunk_text"].split()[-1] == c1[1]["chunk_text"].split()[0]
    # short doc → itself as chunk 0
    assert [
        (r["chunk_idx"], r["chunk_text"], r["n_tokens"]) for r in by_doc[2]
    ] == [(0, "tiny doc", 2)]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def _ref_bpe_train(word_counts, num_merges):
    # direct Python reference (Sennrich et al. alg. 1) with the same
    # (max count, lexicographically smallest pair) tie-break
    words = {tuple(list(w) + ["</w>"]): c for w, c in word_counts.items()}
    merges = []
    for _ in range(num_merges):
        pairs = {}
        for syms, c in words.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))[0]
        merges.append(best)
        merged = {}
        for syms, c in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            merged[tuple(out)] = merged.get(tuple(out), 0) + c
        words = merged
    return merges, words


def test_bpe_train_matches_python_reference(spark):
    from kafkastreamsinteractivequeries_spark.operators.text import (
        bpe_segment,
        bpe_train,
    )

    # word counts: low 5, lower 2, lowest 2, newest 6, new 3 — plus
    # "aaaaaa" 4, whose identical-symbol runs are exactly the case a
    # string-replace merge implementation gets wrong
    counts = {"low": 5, "lower": 2, "lowest": 2, "newest": 6, "new": 3, "aaaaaa": 4}
    text = " ".join(w for w, c in counts.items() for _ in range(c))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    merges = bpe_train(df, num_merges=10)
    ref_merges, ref_words = _ref_bpe_train(counts, 10)
    assert merges == ref_merges
    # segmentation with the learned merges reproduces the reference's
    # final word segmentations
    seg = bpe_segment(df, merges).collect()[0]
    got_tokens = list(seg["bpe_tokens_learned"])
    # per-word check: segment each distinct word once
    one_each = spark.createDataFrame(
        [(i, w) for i, w in enumerate(counts)],
        ["doc_id", "text"],
    )
    per_word = {
        r["doc_id"]: list(r["bpe_tokens_learned"])
        for r in bpe_segment(one_each, merges).collect()
    }
    ref_seg = {}
    for syms, c in ref_words.items():
        ref_seg["".join(syms).replace("</w>", "")] = list(syms)
    for i, w in enumerate(counts):
        assert per_word[i] == ref_seg[w], w
    assert seg["n_bpe_tokens"] == sum(len(ref_seg[w]) * m for w, m in counts.items())


def test_length_histogram_quantiles_track_exact_within_bin_width(spark):
    from kafkastreamsinteractivequeries_spark.operators.text import (
        length_histogram_quantiles,
        length_percentiles,
    )

    docs = spark.range(1000).selectExpr(
        "id as doc_id",
        # token lengths spread over ~10..100
        "array_join(transform(sequence(1, 10 + cast(id % 91 as int)), x -> 'w'), ' ') as text",
    )
    exact = length_percentiles(docs).collect()[0]
    hist = length_histogram_quantiles(docs, bins=64, lo=0, hi=512).collect()[0]
    for q, hq in ((exact.p25, hist.hp25), (exact.p50, hist.hp50),
                  (exact.p75, hist.hp75), (exact.p95, hist.hp95)):
        assert abs(hq - q) <= 8.0  # one bin width


def test_length_histogram_is_mergeable_across_slices(spark):
    # fixed bin edges → the histogram over A ∪ B equals the histogram
    # over the concatenation; quantile estimates follow.
    from kafkastreamsinteractivequeries_spark.operators.text import (
        length_histogram_quantiles,
    )

    mk = lambda lo, n: spark.range(lo, lo + n).selectExpr(
        "id as doc_id",
        "array_join(transform(sequence(1, 10 + cast(id % 61 as int)), x -> 'w'), ' ') as text",
    )
    a, b = mk(0, 400), mk(400, 400)
    merged = length_histogram_quantiles(a.unionByName(b)).collect()[0]
    direct = length_histogram_quantiles(mk(0, 800)).collect()[0]
    assert merged == direct


def test_bm25_precomputed_stats_matches_self_contained(spark):
    from kafkastreamsinteractivequeries_spark.operators.text import bm25_search

    df = spark.createDataFrame(
        [(i, "spark filler " + " ".join(f"w{i}_{j}" for j in range(i % 5))) for i in range(20)],
        ["doc_id", "text"],
    )
    base = sorted(map(tuple, bm25_search(df, ["spark"], k=5).collect()))
    # the exact corpus constants the two-scan form derives internally
    n_docs = 20
    avgdl = sum(2 + (i % 5) for i in range(20)) / 20
    pre = sorted(
        map(tuple, bm25_search(df, ["spark"], k=5, corpus_stats=(n_docs, avgdl)).collect())
    )
    assert pre == base


# ---------------------------------------------------------------------------
# distribution_divergence — corpus drift monitor
# ---------------------------------------------------------------------------


def test_distribution_divergence_orders_real_vs_null_drift(spark):
    """Disjoint-vocabulary corpora must show far larger JS divergence
    than two samples of the SAME distribution; identical corpora sit at
    exactly zero; and JS is symmetric."""
    from kafkastreamsinteractivequeries_spark.operators.text import (
        distribution_divergence,
    )

    a = spark.range(50).selectExpr(
        "id AS doc_id", "'alpha beta gamma delta epsilon' AS text"
    )
    b = spark.range(50).selectExpr(
        "id + 100 AS doc_id", "'omega sigma tau upsilon phi' AS text"
    )
    a2 = spark.range(50).selectExpr(
        "id + 200 AS doc_id", "'alpha beta gamma delta epsilon' AS text"
    )

    def js(x, y):
        rows = distribution_divergence(x, y).filter("metric = 'js'").collect()
        return rows[0].value

    disjoint = js(a, b)
    null_drift = js(a, a2)
    assert disjoint > 10 * max(null_drift, 1e-9)
    assert null_drift == 0.0  # identical gram multisets
    assert js(a, b) == js(b, a)  # symmetric

    # top buckets carry the drill-down: every contributor is one-sided
    top = (
        distribution_divergence(a, b).filter("metric = 'bucket'").collect()
    )
    assert top and all((r.count_a == 0) != (r.count_b == 0) for r in top)
    assert all(r.value > 0 for r in top)


def test_distribution_divergence_plan_is_bounded(spark):
    """Scale contract: the compare side is a full-outer join of two
    <= num_buckets-row histograms — the corpus appears only in the two
    linear gram scans, never in a join; no Python anywhere."""
    from kafkastreamsinteractivequeries_spark.operators.text import (
        distribution_divergence,
    )

    a = spark.range(500).selectExpr("id AS doc_id", "concat('w', id % 97, ' x', id % 31) AS text")
    b = spark.range(500).selectExpr("id AS doc_id", "concat('w', id % 89, ' x', id % 37) AS text")
    plan = (
        distribution_divergence(a, b)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan  # the totals ride a broadcast


def test_gopher_rules_bitmask_closed_form(spark):
    """Each rule bit fires on a constructed document; the repetition
    rule's sorted-run fold must equal the true top-unigram share."""
    from kafkastreamsinteractivequeries_spark.operators.text import (
        gopher_quality_rules,
    )

    base = "the quick brown fox jumps over a lazy dog and runs far away " * 3
    docs = spark.createDataFrame(
        [
            # 0: healthy doc — 36 words, stopwords, varied vocab... but
            # 'the'/'a'/'and' repeat 3x each over 36 words = 0.083 share
            (0, base.strip()),
            # 1: too short (bit 1) and repetitive (bit 32: 5/10 = 0.5)
            (1, "spam spam spam spam spam one two three four five"),
            # 2: no English stopwords (bit 16) + word count < 20 (bit 1)
            (2, "der hund läuft schnell durch den großen wald heute"),
            # 3: huge mean word length (bit 2) + short (bit 1) + no
            #    stopwords (bit 16)
            (3, "pneumonoultramicroscopicsilicovolcanoconiosis " * 25),
            # 4: numerals only → alpha fraction 0 (bit 8) + no stops
            #    (bit 16) + short (bit 1) + mean len 1 (bit 2)
            (4, "1 2 3 4 5 6 7 8 9"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in gopher_quality_rules(docs).collect()}
    assert got[0].failure_mask == 0 and got[0].passed == 1
    # 'spam one two...' has no en stopwords either → bits 1+16+32
    assert got[1].failure_mask == 1 + 16 + 32
    assert got[1].top_share == 0.5
    assert got[2].failure_mask == 1 + 16
    # 25 words ≥ 20, so only mean-length + stopwords + repetition fire
    assert got[3].failure_mask == 2 + 16 + 32
    assert got[3].top_share == 1.0
    # 9 distinct numerals: top share 1/9 < 0.2 → no repetition bit
    assert got[4].failure_mask == 1 + 2 + 8 + 16
    assert all(r.passed == (1 if r.failure_mask == 0 else 0) for r in got.values())


def test_gopher_rules_degenerate_inputs_never_pass(spark):
    """Empty, whitespace-only, and NULL documents must FAIL the gate —
    a null text nulls every metric, which would otherwise fold the
    bitmask to 0 and pass."""
    from kafkastreamsinteractivequeries_spark.operators.text import (
        gopher_quality_rules,
    )

    docs = spark.createDataFrame(
        [(0, ""), (1, "   \t\n"), (2, None), (3, "🎉 🎉 🎉")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in gopher_quality_rules(docs).collect()}
    assert all(r.passed == 0 for r in got.values())
    assert got[2].failure_mask == 63  # null fails every rule


def test_text_stats_null_document_scores_zero(spark):
    """least() skips nulls in both engines, so a NULL text would take
    full credit on the length and stopword components and score 0.6 —
    enough to survive a curation quality gate.  Null docs score 0."""
    from kafkastreamsinteractivequeries_spark.operators.text import text_stats

    docs = spark.createDataFrame(
        [(0, None), (1, "the quick brown fox and the lazy dog in the yard")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.quality_score for r in text_stats(docs).collect()}
    assert got[0] == 0.0
    assert got[1] > 0.3


def test_blocklist_gate_word_boundary_and_null_semantics(spark):
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.text import blocklist_gate

    docs = spark.createDataFrame(
        [
            (1, "clean words only"),
            (2, "contains dup here"),
            (3, "dupdup is not the word dup"),  # substring must NOT match
            (4, None),
            (5, "dup dup dup"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in blocklist_gate(docs, ["dup", "legacy"]).collect()}
    assert out[1]["passed"] == 1 and out[1]["n_blocked"] == 0
    assert out[2]["passed"] == 0 and out[2]["n_blocked"] == 1
    assert out[3]["n_blocked"] == 1  # only the exact token, not 'dupdup'
    assert out[4]["passed"] == 0 and out[4]["n_tokens"] == 0  # null fails
    assert out[5]["n_blocked"] == 3 and out[5]["blocked_frac"] == 1.0
    # map-only plan
    plan = (
        blocklist_gate(docs, ["dup"])._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Join" not in plan
    # empty blocklist blocks nothing (F.lit([]) is array<void> and used
    # to fail analysis inside array_contains) — every non-null doc passes
    empty = {r["doc_id"]: r for r in blocklist_gate(docs, []).collect()}
    assert all(empty[i]["passed"] == 1 for i in (1, 2, 3, 5))
    assert empty[4]["passed"] == 0  # null text still fails explicitly
    assert all(r["n_blocked"] == 0 for r in empty.values())


def test_luhn_card_detection_and_redaction(spark):
    """Card PII = shape AND checksum: Luhn-valid candidates count and
    redact; near-misses (wrong check digit) and benign 16-digit ids
    survive untouched.  Separator variants normalize before the check."""
    from kafkastreamsinteractivequeries_spark.operators.text import pii_stats

    df = spark.createDataFrame(
        [
            (1, "pay 4111-1111-1111-1111 ok"),  # valid (Visa test number)
            (2, "pay 4111-1111-1111-1112 ok"),  # fails Luhn
            (3, "a 4111 1111 1111 1111 and 5500 0000 0000 0004"),  # two valid
            (4, "order 1234567812345678"),  # 16 digits, invalid
            (5, "mixed 4111-1111 1111-1111 sep"),  # mixed separators, valid
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_stats(df).collect()}
    assert out[1]["n_card"] == 1 and "<CARD>" in out[1]["redacted_text"]
    assert out[1]["clean"] is False
    assert out[2]["n_card"] == 0 and "4111-1111-1111-1112" in out[2]["redacted_text"]
    assert out[2]["clean"] is True
    assert out[3]["n_card"] == 2 and out[3]["redacted_text"].count("<CARD>") == 2
    assert out[4]["n_card"] == 0 and out[4]["clean"] is True
    assert out[5]["n_card"] == 1 and "<CARD>" in out[5]["redacted_text"]
    # map-only plan, no Python
    plan = pii_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_card_digit_boundary_guard(spark):
    """A Luhn-valid 16-digit window inside a LONGER digit run is not a
    card: the boundary guard must neither count it nor let the literal
    replace corrupt the longer number (round-7 ADVICE #3)."""
    from kafkastreamsinteractivequeries_spark.operators.text import pii_stats

    # 4111111111111111 is Luhn-valid; embed it in longer digit runs
    df = spark.createDataFrame(
        [
            (1, "ref 41111111111111119 end"),  # valid 16-prefix of 17 digits
            (2, "ref 94111111111111111 end"),  # digit before the window
            # the same string appears standalone AND digit-embedded:
            # conservative skip (redacting would corrupt the long run)
            (3, "a 4111111111111111 b 41111111111111112 c"),
            (4, "ok 4111111111111111 alone"),  # control: still redacts
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_stats(df).collect()}
    assert out[1]["n_card"] == 0 and out[1]["redacted_text"] == df.collect()[0]["text"]
    assert out[2]["n_card"] == 0 and "94111111111111111" in out[2]["redacted_text"]
    assert out[3]["n_card"] == 0 and "41111111111111112" in out[3]["redacted_text"]
    assert out[4]["n_card"] == 1 and "<CARD>" in out[4]["redacted_text"]


def test_strip_html_blocks_tags_entities(spark):
    """The strip chain: script/style/comment CONTENT removed (a bare
    tag-strip would leak code into the corpus), tags to spaces,
    entities decoded (amp LAST so '&amp;lt;' does not double-decode),
    whitespace collapsed; bare '<' inside a script survives removal."""
    from kafkastreamsinteractivequeries_spark.operators.text import (
        html_markup_stats,
    )

    df = spark.createDataFrame(
        [
            (
                1,
                "<html><body><h1>Title</h1><p>hello world</p>"
                "<script>var x = 1 < 2;</script><!-- note --></body></html>",
            ),
            (2, '<div class="a">text &amp; more &lt;tokens&gt;</div>'),
            (3, "double &amp;lt; stays"),
            (4, "plain text"),
            (5, None),
            (6, "<style>p { color: red; }</style>visible"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in html_markup_stats(df).collect()}
    assert out[1]["text_clean"] == "Title hello world"
    assert out[2]["text_clean"] == "text & more <tokens>"
    assert out[3]["text_clean"] == "double &lt; stays"  # amp decoded last
    assert out[4]["text_clean"] == "plain text" and out[4]["n_tags"] == 0
    assert out[4]["markup_ratio_micros"] == 0
    assert out[5]["text_clean"] is None and out[5]["clean_len"] == 0
    assert out[6]["text_clean"] == "visible"
    # map-only
    plan = html_markup_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_repair_mojibake_col(spark):
    """UTF-8-as-cp1252 mojibake reverses exactly one layer; clean text
    (including legitimately accented text) passes through
    byte-identical; the pair table is import-generated so any char the
    corruption helper produces, the repair chain reverses."""
    from kafkastreamsinteractivequeries_spark.operators.text import (
        MOJIBAKE_PAIRS,
        _mojibake_of,
        repair_mojibake_col,
    )

    clean = [
        "plain ascii only",
        "légitime café — already correct “text” €5",
        "",
    ]
    rows = [(i, _mojibake_of(c)) for i, c in enumerate(clean)] + [
        (10, clean[0]),
        (11, clean[1]),
        (12, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["rep"]
        for r in df.select(
            "doc_id", repair_mojibake_col(F.col("text")).alias("rep")
        ).collect()
    }
    for i, c in enumerate(clean):
        assert got[i] == c, f"repair failed for {c!r}: {got[i]!r}"
    assert got[10] == clean[0] and got[11] == clean[1]  # pass-through
    assert got[12] is None  # NULL degrades to NULL
    # every pair's mojibake form is multi-char non-ASCII (the
    # no-false-positive-on-ASCII guarantee)
    assert all(len(m) >= 2 and all(ord(ch) > 127 for ch in m)
               for m, _ in MOJIBAKE_PAIRS)
    # zero-shuffle, zero-Python plan
    plan = (
        df.select(repair_mojibake_col(F.col("text")))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_normalize_nfc_arrow(spark):
    """UAX #15 canonical composition via the Arrow pass: decomposed
    sequences compose, out-of-order combining marks reorder+compose,
    composed text passes through, NULL degrades; lengths are CODE
    POINTS (astral-safe, unlike Spark's UTF-16 length)."""
    import unicodedata

    from kafkastreamsinteractivequeries_spark.operators.text import (
        normalize_nfc_arrow,
    )

    rows = [
        (1, "cafe\u0301"),            # e + combining acute -> caf\u00e9
        (2, "caf\u00e9"),              # already composed -> unchanged
        (3, "x\u0307\u0323y"),         # ccc 230 before 220 -> reorder+compose
        (4, None),
        (5, "astral \U0001F600 A\u030a"),  # astral + composing pair
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in normalize_nfc_arrow(df).collect()}
    for i, t in rows:
        if t is None:
            continue
        want = unicodedata.normalize("NFC", t)
        assert out[i]["text_nfc"] == want
        assert out[i]["n_raw"] == len(t) and out[i]["n_nfc"] == len(want)
        assert out[i]["changed"] == (t != want)
    assert out[1]["text_nfc"] == "caf\u00e9" and out[1]["changed"]
    assert out[1]["n_raw"] == 5 and out[1]["n_nfc"] == 4
    assert not out[2]["changed"]
    # canonical REORDERING (dot-below ccc 220 ahead of dot-above 230)
    # then NON-ADJACENT composition: no x-with-dot-below codepoint
    # exists, and the intervening lower-ccc mark does not block, so the
    # dot-above composes across it -> U+1E8B + U+0323
    assert out[3]["text_nfc"] == "\u1e8b\u0323y" and out[3]["changed"]
    assert out[4]["text_nfc"] is None and not out[4]["changed"]
    assert out[4]["n_raw"] == 0 and out[4]["n_nfc"] == 0
    # astral char counts as ONE code point; the A+ring pair composes
    assert out[5]["n_raw"] == 11 and out[5]["n_nfc"] == 10


def test_wordpiece_vocab_and_maxmatch(spark):
    """WordPiece: frequency-ranked prefix/continuation vocab and greedy
    longest-match-first segmentation pinned against an independent
    Python reference, including the whole-word-[UNK] rule, the ##
    continuation convention, and NULL/empty degradation."""
    from kafkastreamsinteractivequeries_spark.operators.text import (
        wordpiece_segment_arrow,
        wordpiece_vocab,
    )

    docs = spark.createDataFrame(
        [
            (0, "unbearable unbearable unbend"),
            (1, "bear bears bend the the the"),
            (2, "un un un able able"),
            (3, "zzz9"),  # chars the vocab will not cover -> [UNK]
            (4, None),
            (5, "   "),
        ],
        "doc_id long, text string",
    )
    vocab = wordpiece_vocab(docs, max_piece_len=4, top_start=12, top_cont=12)
    rows = vocab.collect()
    starts = {r["piece"]: r for r in rows if r["is_cont"] == 0}
    conts = [r["piece"] for r in rows if r["is_cont"] == 1]

    # Python reference for the vocab: occurrence-weighted prefix counts
    words = {}
    for t in [
        "unbearable", "unbearable", "unbend", "bear", "bears", "bend",
        "the", "the", "the", "un", "un", "un", "able", "able", "zzz9",
    ]:
        words[t] = words.get(t, 0) + 1
    pref = {}
    for w, c in words.items():
        for l in range(1, min(len(w), 4) + 1):
            p = w[:l]
            pref[p] = pref.get(p, 0) + c
    expect = sorted(pref.items(), key=lambda kv: (-kv[1], kv[0]))[:12]
    assert sorted(starts) == sorted(p for p, _ in expect)
    for i, (p, c) in enumerate(expect, 1):
        assert starts[p]["count"] == c and starts[p]["rank"] == i

    seg = {
        r["doc_id"]: r
        for r in wordpiece_segment_arrow(
            docs, list(starts), conts
        ).collect()
    }

    # Python MaxMatch reference
    sset, cset = set(starts), set(conts)

    def mm(w):
        toks, pos = [], 0
        while pos < len(w):
            table = sset if pos == 0 else cset
            m = next(
                (w[pos:pos + l] for l in range(min(4, len(w) - pos), 0, -1)
                 if w[pos:pos + l] in table),
                None,
            )
            if m is None:
                return ["[UNK]"]
            toks.append(m if pos == 0 else "##" + m)
            pos += len(m)
        return toks

    for did, text in [(0, "unbearable unbearable unbend"),
                      (1, "bear bears bend the the the"),
                      (2, "un un un able able"),
                      (3, "zzz9")]:
        want = [t for w in text.split() for t in mm(w)]
        assert seg[did]["wp_tokens"] == want, (did, seg[did]["wp_tokens"], want)
    assert seg[3]["wp_tokens"] == ["[UNK]"]
    assert seg[4]["wp_tokens"] is None and seg[4]["n_wp_tokens"] is None
    assert seg[5]["wp_tokens"] == [] and seg[5]["n_wp_tokens"] == 0


def test_wordpiece_byte_fallback_roundtrips(spark):
    """byte_fallback: no UNK ever — unmatched characters decompose to
    <0xNN> UTF-8 byte tokens and the token stream reconstructs the
    input losslessly (the SentencePiece/Llama property)."""
    from kafkastreamsinteractivequeries_spark.operators.text import (
        wordpiece_segment_arrow,
    )

    docs = spark.createDataFrame(
        [(0, "the thé zzz9 漢字 the"), (1, "€uro")],
        "doc_id long, text string",
    )
    starts = ["the", "t", "z"]
    conts = ["he", "h", "e", "z"]
    out = {
        r["doc_id"]: r["wp_tokens"]
        for r in wordpiece_segment_arrow(
            docs, starts, conts, byte_fallback=True
        ).collect()
    }
    assert not any(t == "[UNK]" for toks in out.values() for t in toks)

    def rebuild(toks):
        words, cur, byte_buf = [], "", b""
        for t in toks:
            if t.startswith("<0x") and t.endswith(">"):
                byte_buf += bytes([int(t[3:-1], 16)])
                continue
            if byte_buf:
                cur += byte_buf.decode("utf-8")
                byte_buf = b""
            if t.startswith("##"):
                cur += t[2:]
            else:
                if cur:
                    words.append(cur)
                cur = t
        if byte_buf:
            cur += byte_buf.decode("utf-8")
        if cur:
            words.append(cur)
        return words

    # Word boundaries are lost in the flat stream when a word STARTS
    # with a fallback byte (no un-##'d token opens it) — rebuild per
    # word instead: re-encode each word alone and round-trip it.
    for word in ["the", "thé", "zzz9", "漢字", "€uro"]:
        single = spark.createDataFrame(
            [(0, word)], "doc_id long, text string"
        )
        toks = wordpiece_segment_arrow(
            single, starts, conts, byte_fallback=True
        ).collect()[0]["wp_tokens"]
        assert rebuild(toks) in ([word.lower()], [word]), (word, toks)


def test_main_content_extraction_by_link_density(spark):
    """Link-density block filtering: navigation/footer (anchor-dense)
    and short fragments drop, article paragraphs survive with inline
    markup stripped; script content never leaks; NULL degrades."""
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.text import (
        main_content_col,
    )

    para1 = (
        "This is the actual article body with a good amount of running "
        "text that any reader would consider the main content of the page."
    )
    para2 = (
        "A second substantial paragraph continues the article with more "
        "prose and even an inline <b>bold</b> span plus one "
        '<a href="/ref">reference link</a> inside otherwise long text.'
    )
    html = (
        '<div class="nav"><a href="/">Home</a> <a href="/a">Products and '
        'things</a> <a href="/b">About our company</a> <a href="/c">Contact '
        "and support pages</a></div>"
        "<script>var x = 'this must never leak into the corpus';</script>"
        f"<p>{para1}</p><p>short bit</p><p>{para2}</p>"
        '<footer><a href="/t">Terms of service</a> <a href="/p">Privacy '
        "policy information</a> <a href=\"/i\">Imprint and legal</a></footer>"
    )
    docs = spark.createDataFrame(
        [(1, html), (2, None)], "doc_id long, html string"
    )
    out = {
        r["doc_id"]: r["main"]
        for r in docs.select(
            "doc_id", main_content_col(F.col("html")).alias("main")
        ).collect()
    }
    main = out[1]
    assert "actual article body" in main
    assert "second substantial paragraph" in main
    assert "bold" in main and "<b>" not in main  # inline tags stripped
    assert "Home" not in main and "Privacy" not in main  # link-dense gone
    assert "never leak" not in main  # script content removed
    assert "short bit" not in main  # min_chars
    assert out[2] is None


def test_tokenizer_fertility(spark):
    """Fertility table: integer micro-unit tokens/word and chars/token,
    continuation and UNK shares, per language group."""
    from kafkastreamsinteractivequeries_spark.operators.text import (
        tokenizer_fertility,
        wordpiece_segment_arrow,
        wordpiece_vocab,
    )

    docs = spark.createDataFrame(
        [
            (0, "aaa bbb aaa", "en"),
            (1, "aaa aaa", "en"),
            (2, "zzzz yyyy", "xx"),  # vocab will not cover -> UNK-heavy
        ],
        "doc_id long, text string, lang string",
    )
    vocab = wordpiece_vocab(docs.filter("lang = 'en'"), max_piece_len=2,
                            top_start=4, top_cont=4)
    rows = vocab.collect()
    seg = wordpiece_segment_arrow(
        docs,
        [r["piece"] for r in rows if r["is_cont"] == 0],
        [r["piece"] for r in rows if r["is_cont"] == 1],
    )
    out = {r["lang"]: r for r in tokenizer_fertility(seg, docs).collect()}
    en, xx = out["en"], out["xx"]
    # 'aaa' -> aa ##a (2 pieces), 'bbb' -> bb ##b: 5 words -> 10 tokens
    assert en["total_words"] == 5 and en["total_tokens"] == 10
    assert en["fertility_micro"] == 2_000_000
    assert en["unk_permille"] == 0 and en["cont_permille"] == 500
    # xx words are whole-word UNK: fertility 1.0, unk 1000
    assert xx["fertility_micro"] == 1_000_000
    assert xx["unk_permille"] == 1000


def _brute_min_segmentation(w, costs, max_piece_len, unk):
    """Independent reference: enumerate EVERY segmentation of w into
    vocab pieces (unknown single chars allowed at unk cost), pick the
    minimum by (total_cost, n_pieces, joined-with-\\x01 path) — the
    engine's total order, derived without the DP."""
    outs = []

    def rec(pos, acc_cost, acc_path):
        if pos == len(w):
            outs.append((acc_cost, len(acc_path), "\x01".join(acc_path)))
            return
        for ln in range(1, min(max_piece_len, len(w) - pos) + 1):
            piece = w[pos : pos + ln]
            c = costs.get(piece)
            if c is None:
                if ln != 1:
                    continue
                c = unk
            rec(pos + ln, acc_cost + c, acc_path + [piece])

    rec(0, 0, [])
    return min(outs)[2].split("\x01")


def test_unigram_lm_train_and_viterbi(spark):
    """Unigram-LM training: seed = all substrings (singles always
    kept, top-k multis by count desc/piece asc), costs in exact
    half-bit fixed point, one hard-EM prune round; segmentation is
    Viterbi with the (cost, n_pieces, path) total order — pinned
    against a brute-force enumeration of every segmentation, and
    partitioning-invariant."""
    from kafkastreamsinteractivequeries_spark.operators.text import (
        _hb,
        unigram_lm_train,
        unigram_segment_arrow,
    )

    rows = [
        (1, "banana bandana"),
        (2, "banana banana band"),
        (3, "an ban nab"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    vocab = unigram_lm_train(docs, max_piece_len=3, top_k=8)
    pieces = {p: (cnt, cost, rank) for p, cnt, cost, rank in vocab}
    # every corpus character survives pruning
    chars = {ch for _i, t in rows for w in t.split() for ch in w}
    assert chars <= set(pieces)
    # ranks are the (count desc, piece asc) total order, 1-based dense
    ordered = sorted(vocab, key=lambda r: (-r[1], r[0]))
    assert [r[3] for r in ordered] == list(range(1, len(vocab) + 1))
    # costs replay exactly from the counts (half-bit fixed point)
    t_final = sum(cnt for _p, cnt, _c, _r in vocab)
    for p, cnt, cost, _rank in vocab:
        assert cost == _hb(t_final) - _hb(cnt), p
    # multi-char pieces all have nonzero usage (count = usage + 1 >= 2)
    assert all(cnt >= 2 for p, cnt, _c, _r in vocab if len(p) >= 2)

    costs = {p: c for p, _n, c, _r in vocab}
    unk = max(costs.values()) + 2
    for parts in (1, 5):
        seg = {
            r["doc_id"]: (r["u_tokens"], r["n_u_tokens"])
            for r in unigram_segment_arrow(
                docs.repartition(parts), vocab, max_piece_len=3
            ).collect()
        }
        for i, text in rows:
            expect = []
            for w in text.split():
                expect.extend(_brute_min_segmentation(w, costs, 3, unk))
            assert seg[i][0] == expect, (parts, i)
            assert seg[i][1] == len(expect)
        # lossless: pieces re-concatenate to the normalized words
        for i, text in rows:
            assert "".join(seg[i][0]) == text.replace(" ", "")

    # unknown characters segment as themselves (never UNK-destroyed)
    zdocs = spark.createDataFrame([(9, "banqzq")], "doc_id long, text string")
    z = unigram_segment_arrow(zdocs, vocab, max_piece_len=3).collect()[0]
    assert "".join(z["u_tokens"]) == "banqzq"


def test_kneser_ney_trigram_exact_replay(spark):
    """KN trigram scores replay a hand computation on a tiny corpus:
    counts, continuation counts, D=1/2 discounting, and the integer
    floor-div interpolation — plus the fluency ordering and
    partitioning invariance."""
    from kafkastreamsinteractivequeries_spark.operators.text import (
        kneser_ney_trigram_scores,
    )

    rows = [(i, "the cat sat on the mat") for i in range(4)]
    rows.append((99, "zq xv qj wk"))
    rows.append((100, "ab cd"))  # <3 tokens: excluded
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in kneser_ney_trigram_scores(df).collect()}
    assert 100 not in out
    assert out[0].n_trigrams == 4 and out[99].n_trigrams == 2

    # hand replay in exact integer arithmetic
    corpus = [r[1].split() for r in rows if len(r[1].split()) >= 3]
    tri: dict[tuple, int] = {}
    for toks in corpus:
        for i in range(len(toks) - 2):
            tri[tuple(toks[i : i + 3])] = tri.get(tuple(toks[i : i + 3]), 0) + 1
    ctx: dict[tuple, list[int]] = {}
    cont: dict[tuple, int] = {}
    for (u, v, w), c in tri.items():
        cu = ctx.setdefault((u, v), [0, 0])
        cu[0] += c
        cu[1] += 1
        cont[(v, w)] = cont.get((v, w), 0) + 1
    nv = {}
    for (u, v, w) in tri:
        nv[v] = nv.get(v, 0) + 1
    fv, nw = {}, {}
    for (v, w) in cont:
        fv[v] = fv.get(v, 0) + 1
        nw[w] = nw.get(w, 0) + 1
    tt = len(cont)
    S = 1_000_000

    def p3(u, v, w):
        p1 = (S * nw[w]) // tt
        p2 = (S * max(2 * cont[(v, w)] - 1, 0)) // (2 * nv[v]) + (
            fv[v] * p1
        ) // (2 * nv[v])
        cuv, n1p = ctx[(u, v)]
        return (S * max(2 * tri[(u, v, w)] - 1, 0)) // (2 * cuv) + (
            n1p * p2
        ) // (2 * cuv)

    for doc_id, text in rows:
        toks = text.split()
        if len(toks) < 3:
            continue
        ps = [p3(*toks[i : i + 3]) for i in range(len(toks) - 2)]
        assert out[doc_id].sum_p_micro == sum(ps), doc_id
        assert out[doc_id].avg_p_micro == sum(ps) // len(ps), doc_id
    # fluency ordering: repeated phrase >> singleton gibberish
    assert out[0].avg_p_micro > out[99].avg_p_micro
    # partitioning invariance (integer arithmetic, no float sums)
    again = {
        r.doc_id: (r.sum_p_micro, r.avg_p_micro)
        for r in kneser_ney_trigram_scores(df.repartition(5)).collect()
    }
    assert again == {k: (v.sum_p_micro, v.avg_p_micro) for k, v in out.items()}


def test_quality_signal_export_matches_standalone_gates(spark):
    """The wide signals row must be value-identical to the standalone
    gopher_quality_rules / blocklist_gate outputs (shared builders)."""
    from kafkastreamsinteractivequeries_spark.operators.text import (
        blocklist_gate,
        gopher_quality_rules,
        quality_signal_export,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat with a dup token " * 3),
            (2, "short"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    sig = {r["doc_id"]: r for r in quality_signal_export(docs, ["dup"]).collect()}
    gop = {r["doc_id"]: r for r in gopher_quality_rules(docs).collect()}
    bl = {r["doc_id"]: r for r in blocklist_gate(docs, ["dup"]).collect()}
    for i in (1, 2, 3):
        assert sig[i]["word_count"] == gop[i]["word_count"]
        assert sig[i]["mean_word_len"] == gop[i]["mean_word_len"]
        assert sig[i]["top_share"] == gop[i]["top_share"]
        assert sig[i]["failure_mask"] == gop[i]["failure_mask"]
        assert sig[i]["gopher_passed"] == gop[i]["passed"]
        assert sig[i]["n_blocked"] == bl[i]["n_blocked"]
        assert sig[i]["blocked_frac"] == bl[i]["blocked_frac"]
        assert sig[i]["bl_passed"] == bl[i]["passed"]
    assert sig[3]["n_chars"] == 0 and sig[3]["failure_mask"] == 63
