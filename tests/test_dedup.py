"""Dedup family: exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding."""

import pytest
from pyspark.sql import functions as F

from ftm_columnstore_spark.operators.dedup import (
    dedup_exact,
    exact_duplicates,
    minhash_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash_pairs_portable,
)

BASE = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
)


@pytest.fixture(scope="module")
def corpus(spark):
    near = BASE.replace("theta", "thetaX")  # one token differs
    return spark.createDataFrame(
        [
            (1, BASE),
            (2, BASE),                      # exact dup of 1
            (3, near),                      # near dup of 1
            (4, "completely different words about spark query engines and columnar storage"),
            (5, "yet another unrelated document mentioning data pipelines and benchmarks"),
        ],
        ["doc_id", "text"],
    )


def test_exact_duplicates(corpus):
    groups = {r["keep_id"]: r["n_copies"] for r in exact_duplicates(corpus).collect()}
    assert groups[1] == 2
    assert groups[3] == 1
    assert dedup_exact(corpus).count() == 4


def test_minhash_signature_shape(corpus):
    sig = minhash_signature(corpus, num_hashes=16, shingle_k=3).collect()
    assert all(len(r["signature"]) == 16 for r in sig)
    by_id = {r["id"]: r["signature"] for r in sig}
    assert by_id[1] == by_id[2]  # identical docs → identical signatures
    agree = sum(a == b for a, b in zip(by_id[1], by_id[3]))
    assert agree > 8  # near dup agrees on most positions


def test_minhash_lsh_pairs(corpus):
    sigs = minhash_signature(corpus, num_hashes=16, shingle_k=3)
    pairs = {
        (r["left_id"], r["right_id"]): r["jaccard_est"]
        for r in minhash_lsh_pairs(sigs, num_bands=8).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.5
    assert (4, 5) not in pairs


def test_minhash_clusters(corpus, spark):
    from ftm_columnstore_spark.operators.dedup import minhash_clusters

    # doc 6 has null text → no signature → singleton by its own id
    docs = corpus.unionByName(
        spark.createDataFrame([(6, None)], corpus.schema)
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in minhash_clusters(
            docs, num_hashes=16, num_bands=8, threshold=0.5
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 6}, got


def test_minhash_pair_dedup_is_narrow(corpus):
    """Scale-shape pin: the candidate-pair distinct groups bare ids only —
    signatures must NOT ride the band join into the dedup aggregate (a
    duplicate-heavy corpus emits O(c²·bands) raw matches per c-sized
    cluster; wide rows there OOMed a 500k-doc soak)."""
    sigs = minhash_signature(corpus, num_hashes=16, shingle_k=3)
    pairs = minhash_lsh_pairs(sigs, num_bands=8)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    agg_lines = [ln for ln in plan.splitlines() if "Aggregate [" in ln]
    assert agg_lines, plan
    # dropDuplicates over payload columns would show up as first(...)
    # agg expressions; the narrow distinct has none
    assert all("first(" not in ln for ln in agg_lines), agg_lines


def test_minhash_dedup(corpus):
    kept = sorted(
        r["doc_id"]
        for r in minhash_dedup(
            corpus, num_hashes=16, num_bands=8, threshold=0.5
        ).collect()
    )
    # 2 (exact) and 3 (near) collapse into 1
    assert kept == [1, 4, 5]


def test_embedding_dup_pairs_portable(spark):
    from ftm_columnstore_spark.operators.dedup import embedding_dup_pairs_portable

    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    pairs = {
        (r["left_id"], r["right_id"]): r["cosine"]
        for r in embedding_dup_pairs_portable(df, min_cosine=0.95).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
    assert all(3 not in p for p in pairs)


def test_simhash_pairs_portable(corpus):
    # bands=8 → any pair with hamming ≤ 7 shares a chunk (pigeonhole)
    pairs = {
        (r["left_id"], r["right_id"]): r["hamming"]
        for r in simhash_pairs_portable(corpus, max_hamming=6, bands=8).collect()
    }
    assert pairs[(1, 2)] == 0  # identical text → identical simhash
    assert (4, 5) not in pairs  # unrelated docs don't pair


def test_simhash_near_dup_long_doc(spark):
    """One changed token out of 100: expected bit flips ≈ 64·P(|margin|
    of the other 99 votes ≤ 1)/2 ≈ 5 (σ≈2.2), so hamming ≤ 14 holds with
    overwhelming margin — a threshold from the SimHash math, not from
    luck of a particular hash draw (the 20-token corpus version sat at
    expected hamming ~11 and only passed by hash accident)."""
    base_tokens = [f"tok{i}" for i in range(100)]
    near_tokens = base_tokens[:50] + ["CHANGED"] + base_tokens[51:]
    df = spark.createDataFrame(
        [
            (1, " ".join(base_tokens)),
            (2, " ".join(near_tokens)),
            (3, " ".join(f"other{i}" for i in range(100))),
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r["left_id"], r["right_id"]): r["hamming"]
        for r in simhash_pairs_portable(df, max_hamming=14, bands=16).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_pairs(corpus):
    pairs = {
        (r["left_id"], r["right_id"]): r["jaccard"]
        for r in ngram_jaccard_pairs(corpus, shingle_k=3, min_jaccard=0.2).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.2 < pairs[(1, 3)] < 1.0
    assert (4, 5) not in pairs


def test_jaccard_dedup(corpus):
    from ftm_columnstore_spark.operators.dedup import jaccard_dedup

    kept = sorted(
        r["doc_id"]
        for r in jaccard_dedup(corpus, shingle_k=3, min_jaccard=0.5).collect()
    )
    assert kept == [1, 4, 5]


def test_simhash_param_validation(spark, docs_df=None):
    """bands must divide 64; max_hamming must stay below bands (the
    pigeonhole recall guarantee)."""
    import pytest

    from ftm_columnstore_spark.operators.dedup import simhash_chunks

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="evenly divide 64"):
        simhash_chunks(df, bands=5)
    with pytest.raises(ValueError, match="evenly divide 64"):
        simhash_pairs_portable(df, bands=7)
    with pytest.raises(ValueError, match="must be < bands"):
        simhash_pairs_portable(df, bands=4, max_hamming=4)


def test_scope_releases_pair_intermediates(spark, cache_empty):
    """Pair operators persist a mid-relation for their self-join; the
    documented release path must actually clear it."""
    from ftm_columnstore_spark.lifecycle import scope
    from ftm_columnstore_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(1, "one two three four five six"), (2, "one two three four five seven")],
        "doc_id long, text string",
    )
    with scope():
        ngram_jaccard_pairs(df, shingle_k=2, min_jaccard=0.2).count()
        assert not cache_empty()
    assert cache_empty()


def test_line_dedup(spark):
    from ftm_columnstore_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [
            (1, "alpha one\nshared line\nbeta two"),
            (2, "shared line\ngamma three\nshared line"),
            (3, "   \n\n"),  # whitespace-only → absent from output
            (4, "delta four"),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in line_dedup(df).collect()}
    # doc 1 holds the globally-first "shared line" and keeps everything
    assert out[1].n_lines == 3 and out[1].n_kept == 3
    assert out[1].text == "alpha one\nshared line\nbeta two"
    # doc 2 loses BOTH of its "shared line" occurrences
    assert out[2].n_lines == 3 and out[2].n_kept == 1
    assert out[2].text == "gamma three"
    assert 3 not in out
    assert out[4].text == "delta four"


def test_line_dedup_keep_order_col(spark):
    from pyspark.sql import functions as F

    from ftm_columnstore_spark.operators.dedup import line_dedup

    # priority flips which doc is "globally first" for the shared line
    df = spark.createDataFrame(
        [
            (1, 9, "shared line\nonly in one"),
            (2, 1, "shared line\nonly in two"),
        ],
        "doc_id long, prio long, text string",
    )
    out = {r.id: r for r in line_dedup(df, keep_order_col="prio").collect()}
    assert out[2].n_kept == 2 and "shared line" in out[2].text
    assert out[1].n_kept == 1 and out[1].text == "only in one"


def test_line_dedup_order_ties_keep_exactly_one(spark):
    from ftm_columnstore_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [(1, 5, "shared line"), (2, 5, "shared line")],
        "doc_id long, prio long, text string",
    )
    out = {r.id: r for r in line_dedup(df, keep_order_col="prio").collect()}
    assert out[1].n_kept + out[2].n_kept == 1
    assert out[1].n_kept == 1  # id breaks the tie deterministically


def test_semantic_dedup_portable(spark):
    from ftm_columnstore_spark.operators.dedup import semantic_dedup_portable

    # ids 0/1 are the fixed centroids (axis anchors); near-dups follow
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0, 0.0]),   # ~dup of 0
        (3, [0.0, 0.98, 0.02, 0.0]),   # ~dup of 1
        (4, [0.0, 0.0, 0.0, 0.0]),     # zero norm: kept, joins no pairs
        (5, [0.5, 0.5, 0.5, 0.5]),     # not >=0.95-similar to anything
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in
           semantic_dedup_portable(df, n_centroids=2, threshold=0.95).collect()}
    assert len(out) == 6
    assert not out[0].is_dup and out[2].is_dup
    assert not out[1].is_dup and out[3].is_dup
    assert not out[4].is_dup and not out[5].is_dup
    # dups landed in the same cluster as their original
    assert out[2].cid == out[0].cid and out[3].cid == out[1].cid


def test_semantic_dedup_empty_centroids(spark):
    from ftm_columnstore_spark.operators.dedup import semantic_dedup_portable

    df = spark.createDataFrame(
        [(0, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    assert semantic_dedup_portable(df).count() == 0


def test_minhash_lsh_pairs_cross(spark, cache_empty):
    from ftm_columnstore_spark.lifecycle import scope
    from ftm_columnstore_spark.operators.dedup import (
        minhash_lsh_pairs_cross,
        minhash_signature,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    new = spark.createDataFrame(
        [(100, base), (101, "completely different text about sailing boats")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, base + " tomorrow"), (3, "unrelated corpus entry")],
        "doc_id long, text string",
    )
    with scope():
        rows = minhash_lsh_pairs_cross(
            minhash_signature(new, num_hashes=32, shingle_k=3),
            minhash_signature(corpus, num_hashes=32, shingle_k=3),
            num_bands=8,
        ).collect()
    assert cache_empty()
    got = {(r.new_id, r.corpus_id): r.jaccard_est for r in rows}
    assert (100, 1) in got and got[(100, 1)] == 1.0
    # direction is strictly new → corpus; no within-set pairs possible
    assert all(nid >= 100 and cid < 100 for nid, cid in got)


def test_dedup_keep_best(spark):
    from ftm_columnstore_spark.operators.dedup import dedup_keep_best

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)],
        "entity_id long, canonical_id long",
    )
    scores = spark.createDataFrame(
        # cluster 1: 2 and 3 tie on the max score → min id (2) wins
        [(1, 10.0), (2, 50.0), (3, 50.0), (7, 5.0), (8, 9.0)],
        "entity_id long, score double",
    )
    out = {r.canonical: r for r in dedup_keep_best(comp, scores).collect()}
    assert out[1].keep_id == 2 and out[1].n_members == 3
    assert out[1].best_score == 50.0
    assert out[7].keep_id == 8 and out[7].n_members == 2


def test_semantic_dedup_null_embeddings(spark):
    """NULL embeddings — even among the lowest-id (centroid-candidate)
    rows — are excluded, not a crash."""
    from ftm_columnstore_spark.operators.dedup import semantic_dedup_portable

    rows = [
        (0, None),                     # would be a centroid candidate
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.99, 0.01, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in
           semantic_dedup_portable(df, n_centroids=2, threshold=0.95).collect()}
    assert set(out) == {1, 2, 3}
    assert out[3].is_dup and not out[1].is_dup


def test_line_dedup_literal_separator(spark):
    """sep is literal, not regex: '.' splits on periods only and
    round-trips through reassembly."""
    from ftm_columnstore_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [(1, "first sentence.shared one.last bit"),
         (2, "shared one.other text")],
        "doc_id long, text string",
    )
    out = {r.id: r for r in line_dedup(df, sep=".").collect()}
    assert out[1].n_lines == 3 and out[1].n_kept == 3
    assert out[1].text == "first sentence.shared one.last bit"
    assert out[2].n_kept == 1 and out[2].text == "other text"


def test_exact_substring_dedup(spark):
    from ftm_columnstore_spark.operators.dedup import exact_substring_dedup

    shared = "one two three four five six seven eight nine ten"  # 10 tokens
    rows = [
        (1, f"{shared} tail1 unique1"),           # first occurrence: kept whole
        (2, f"head2 {shared} tail2"),             # later copy: span cut
        (3, "totally different words with no overlap at all here ok"),
        (4, ""),                                   # empty doc
        (5, "short doc"),                          # < k tokens
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["id"]: r
        for r in exact_substring_dedup(df, k=8).collect()
    }
    # doc 1 is the globally-first occurrence → byte-for-byte untouched
    assert out[1]["n_removed"] == 0
    assert out[1]["text"] == f"{shared} tail1 unique1"
    # doc 2 loses exactly the 10 shared tokens; the separators AROUND
    # the cut span survive (only separators inside a span are cut), so
    # the original bytes outside the span are preserved verbatim
    assert out[2]["n_removed"] == 10
    assert out[2]["text"] == "head2  tail2"
    # untouched docs
    assert out[3]["n_removed"] == 0
    assert out[4]["n_tokens"] == 0 and out[4]["text"] == ""
    assert out[5]["n_removed"] == 0 and out[5]["text"] == "short doc"


def test_exact_substring_dedup_preserves_original_bytes(spark):
    """The span cut operates on the run decomposition of the ORIGINAL
    text: untouched docs come back byte-identical (case, punctuation,
    unicode, whitespace intact) and cut docs keep everything outside
    the span verbatim."""
    from ftm_columnstore_spark.operators.dedup import exact_substring_dedup

    fancy = 'Hello, World!  "Quoted" — naïve…\ttabs & CASE.'
    shared = "one two three four five six seven eight"
    rows = [
        (1, fancy),
        (2, shared),
        (3, f"Keep, THIS! {shared} (and this)"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["id"]: r for r in exact_substring_dedup(df, k=8).collect()}
    assert out[1]["text"] == fancy and out[1]["n_removed"] == 0
    assert out[2]["text"] == shared and out[2]["n_removed"] == 0
    assert out[3]["text"] == "Keep, THIS!  (and this)"
    assert out[3]["n_removed"] == 8


def test_exact_substring_dedup_within_doc(spark):
    from ftm_columnstore_spark.operators.dedup import exact_substring_dedup

    span = "a1 a2 a3 a4 a5 a6 a7 a8"  # exactly k tokens
    df = spark.createDataFrame(
        [(1, f"{span} mid {span}")], ["doc_id", "text"]
    )
    out = exact_substring_dedup(df, k=8).collect()[0]
    # second within-doc occurrence removed, first kept (boundary
    # separator of the cut span survives → trailing space)
    assert out["text"] == f"{span} mid "
    assert out["n_removed"] == 8

    with pytest.raises(ValueError):
        exact_substring_dedup(df, k=1)


def test_exact_substring_dedup_cross(spark):
    from ftm_columnstore_spark.operators.dedup import (
        corpus_gram_index,
        exact_substring_dedup_cross,
    )

    span = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"  # 10 tokens, lives in corpus
    corpus = spark.createDataFrame(
        [(1, f"{span} corpus tail")], ["doc_id", "text"]
    )
    bspan = "b1 b2 b3 b4 b5 b6 b7 b8"  # batch-internal duplicate
    batch = spark.createDataFrame(
        [
            (10, f"pre {span} post"),          # corpus span cut
            (11, f"{bspan} fresh new stuff"),  # first batch occurrence kept
            (12, f"also {bspan}"),             # second one cut
            (13, "nothing shared here with anybody at all really"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["id"]: r
        for r in exact_substring_dedup_cross(batch, corpus=corpus, k=8).collect()
    }
    assert out[10]["text"] == "pre  post" and out[10]["n_removed"] == 10
    assert out[11]["n_removed"] == 0
    assert out[12]["text"] == "also " and out[12]["n_removed"] == 8
    assert out[13]["n_removed"] == 0

    # prebuilt persisted index path + within_batch off
    idx = corpus_gram_index(corpus, k=8).persist()
    out2 = {
        r["id"]: r
        for r in exact_substring_dedup_cross(
            batch, corpus_grams=idx, k=8, within_batch=False
        ).collect()
    }
    idx.unpersist()
    assert out2[10]["n_removed"] == 10
    assert out2[12]["n_removed"] == 0  # batch-internal dup kept now

    with pytest.raises(ValueError):
        exact_substring_dedup_cross(batch, corpus=corpus, corpus_grams=idx)
    with pytest.raises(ValueError):
        exact_substring_dedup_cross(batch)


def test_embedding_clusters_labels_everyone(spark):
    from ftm_columnstore_spark.operators.dedup import embedding_clusters

    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
        (3, [0.998, 0.02, 0.0, 0.0]),   # near-dup of 1 and 2
        (4, [0.0, 1.0, 0.0, 0.0]),      # orthogonal singleton
        (5, [0.0, 0.0, 1.0, 0.0]),      # orthogonal singleton
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in embedding_clusters(df, min_cosine=0.95).collect()
    }
    # every vector labeled; the near-dup triple shares the min id
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == 4 and got[5] == 5


# ---------------------------------------------------------------------------
# asymmetric containment pairs
# ---------------------------------------------------------------------------


def test_containment_pairs_directed(spark):
    from ftm_columnstore_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [
            (1, "p q r s"),            # shingles {p q r, q r s} (size 2)
            (2, "p q r s t u"),        # superset doc (size 4)
            (3, "z z z"),              # short doc -> whole-doc shingle
        ],
        "doc_id long, text string",
    )
    rows = containment_pairs(
        df, shingle_k=3, min_containment=0.8
    ).collect()
    got = {
        (r["left_id"], r["right_id"]): (
            r["overlap"],
            r["left_size"],
            r["containment"],
        )
        for r in rows
    }
    # doc 1 fully contained in doc 2; reverse is only 0.5
    assert got == {(1, 2): (2, 2, 1.0)}
    both = containment_pairs(
        df, shingle_k=3, min_containment=0.5
    ).collect()
    dirs = {(r["left_id"], r["right_id"]): r["containment"] for r in both}
    assert dirs == {(1, 2): 1.0, (2, 1): 0.5}


def test_containment_pairs_max_df_guard(spark):
    from ftm_columnstore_spark.operators.dedup import containment_pairs

    # one boilerplate shingle shared by all docs; max_df=2 drops it,
    # so no pair survives — but left_size still counts the full set
    df = spark.createDataFrame(
        [(i, "common boiler plate") for i in range(1, 5)],
        "doc_id long, text string",
    )
    assert (
        containment_pairs(
            df, shingle_k=3, min_containment=0.5, max_df=2
        ).count()
        == 0
    )
    # without the guard all 12 directed pairs match exactly
    assert (
        containment_pairs(df, shingle_k=3, min_containment=0.5).count()
        == 12
    )


def test_containment_pairs_validation(spark):
    from ftm_columnstore_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="min_containment"):
        containment_pairs(df, min_containment=0.0)
    with pytest.raises(ValueError, match="max_df"):
        containment_pairs(df, max_df=1)


def test_tfidf_cosine_pairs_hand_computed(spark):
    import math

    from ftm_columnstore_spark.operators.dedup import tfidf_cosine_pairs

    df = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "apple banana cherry"),
            (3, "dog dog dog"),
        ],
        "doc_id long, text string",
    )
    rows = tfidf_cosine_pairs(df, threshold=0.4, n=1).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]
    i, c = math.log(3 / 2), math.log(3)
    n1 = math.sqrt(4 * i * i + i * i)
    n2 = math.sqrt(2 * i * i + c * c)
    expect = round(3 * i * i / (n1 * n2), 6)
    assert abs(rows[0]["cos"] - expect) < 1e-5


def test_tfidf_cosine_pairs_identical_docs_score_one(spark):
    from ftm_columnstore_spark.operators.dedup import tfidf_cosine_pairs

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zzz qqq")],
        "doc_id long, text string",
    )
    rows = tfidf_cosine_pairs(df, threshold=0.99, n=1).collect()
    assert [(r["id_a"], r["id_b"], r["cos"]) for r in rows] == [(1, 2, 1.0)]


def test_tfidf_cosine_pairs_max_df_prunes_stopwords(spark):
    from ftm_columnstore_spark.operators.dedup import tfidf_cosine_pairs

    # "the" appears in all 4 docs; with max_df=3 it leaves the space,
    # so docs sharing ONLY "the" never pair
    df = spark.createDataFrame(
        [
            (1, "the apple pie"),
            (2, "the apple pie"),
            (3, "the submarine"),
            (4, "the volcano"),
        ],
        "doc_id long, text string",
    )
    rows = tfidf_cosine_pairs(df, threshold=0.01, n=1, max_df=3).collect()
    assert [(r["id_a"], r["id_b"], r["cos"]) for r in rows] == [(1, 2, 1.0)]


def test_tfidf_cosine_pairs_shingle_mode(spark):
    from ftm_columnstore_spark.operators.dedup import tfidf_cosine_pairs

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d x"),
            (3, "p q r s t"),
        ],
        "doc_id long, text string",
    )
    rows = tfidf_cosine_pairs(df, threshold=0.1, n=2).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]
    assert 0 < rows[0]["cos"] < 1


def test_tfidf_cosine_pairs_validation(spark):
    import pytest

    from ftm_columnstore_spark.operators.dedup import tfidf_cosine_pairs

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="threshold"):
        tfidf_cosine_pairs(df, threshold=0.0)
    with pytest.raises(ValueError, match="n must"):
        tfidf_cosine_pairs(df, n=0)
    with pytest.raises(ValueError, match="max_df"):
        tfidf_cosine_pairs(df, max_df=1)
