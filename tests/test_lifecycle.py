"""Persisted-intermediate lifecycle (``ftm_columnstore_spark.lifecycle``):
every persisting operator family leaves Spark's CacheManager empty once
the caller's scope exits, and an operator that fails mid-build releases
what it had persisted, with or without a scope."""

from __future__ import annotations

import pytest

from ftm_columnstore_spark.lifecycle import scope

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
TEXTS = [
    BASE,
    BASE + " again",
    "an entirely different note about spark engines and large datasets",
    "an entirely different note about spark engines and tiny datasets",
    "short unrelated line",
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        list(enumerate(TEXTS, start=1)), "doc_id long, text string"
    )


def _pairs(spark, docs):
    from ftm_columnstore_spark.operators.dedup import containment_pairs

    return [containment_pairs(docs, max_df=4)]


def _clusters(spark, docs):
    # regression: the CC edge relation behind minhash_clusters was dropped
    # by the attribute hand-off and stayed cached
    from ftm_columnstore_spark.operators.dedup import (
        embedding_clusters,
        minhash_clusters,
    )

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.99, 0.01]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    return [
        minhash_clusters(
            docs, num_hashes=16, num_bands=8, threshold=0.5, shingle_k=3
        ),
        embedding_clusters(vecs, min_cosine=0.9),
    ]


def _text(spark, docs):
    from ftm_columnstore_spark.operators.text import (
        idf_rarity,
        ngram_novelty,
        pmi_collocations,
        rake_keywords,
    )

    return [
        rake_keywords(docs, ["the", "and", "about"], top_k=2),
        ngram_novelty(docs, n=3),
        pmi_collocations(docs, min_count=1, top_n=5),
        idf_rarity(docs),
    ]


def _sketches(spark, docs):
    from pyspark.sql import functions as F

    from ftm_columnstore_spark.operators.sketches import (
        bloom_ngram_decontaminate,
        ks_drift_by_group,
    )

    sized = docs.withColumn("n", F.length("text")).withColumn(
        "g", F.col("doc_id") % 2
    )
    return [
        bloom_ngram_decontaminate(docs, docs.limit(1), m_bits=1 << 10),
        ks_drift_by_group(sized, "n", "g"),
    ]


def _multimodal(spark, docs):
    import numpy as np

    from ftm_columnstore_spark.operators.codecs import encode_bmp
    from ftm_columnstore_spark.operators.multimodal import image_dup_pairs

    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [(i, bytearray(encode_bmp(img))) for i in (1, 2)],
        "media_id long, payload binary",
    )
    return [image_dup_pairs(media)]


def _pipeline(spark, docs):
    # regression: exact_substring_dedup's gram relation was never
    # propagated out of prepare_training_data
    from ftm_columnstore_spark.operators.pipeline import prepare_training_data

    return [
        prepare_training_data(
            docs, line_dedup_sep=None, substring_dedup={"k": 4}
        )
    ]


def _blocking_cc(spark, docs):
    from ftm_columnstore_spark.operators.blocking import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "left_id string, right_id string"
    )
    # the small-graph union-find path and the distributed star path
    return [
        connected_components(edges),
        connected_components(edges, small_graph_threshold=0),
    ]


@pytest.mark.parametrize(
    "family",
    [
        _pairs,
        _clusters,
        _text,
        _sketches,
        _multimodal,
        _pipeline,
        _blocking_cc,
    ],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_scope_leaves_cache_empty(spark, docs, cache_empty, family):
    with scope():
        for out in family(spark, docs):
            out.collect()
    assert cache_empty()


def test_unscoped_success_stays_cached(spark, docs, cache_empty):
    """No open scope: the persists stay cached for the lazy result
    (released wholesale by clearCache)."""
    from ftm_columnstore_spark.operators.text import idf_rarity

    idf_rarity(docs)
    assert not cache_empty()
    spark.catalog.clearCache()


@pytest.mark.parametrize("scoped", [False, True], ids=["unscoped", "scoped"])
def test_failed_stream_start_releases_artifacts(
    spark, tmp_path, cache_empty, scoped
):
    """Regression: the classifier weights were persisted and counted
    before the near_dedup options were rejected, and stayed cached."""
    from contextlib import nullcontext

    from ftm_columnstore_spark.streaming.clean import (
        stream_clean_against_corpus,
    )

    corpus = spark.createDataFrame(
        [(1, "corpus text")], "doc_id long, text string"
    )
    weights = spark.createDataFrame(
        [("spam", -1.0)], "token string, weight double"
    )
    with scope() if scoped else nullcontext():
        with pytest.raises(ValueError, match="near_dedup"):
            stream_clean_against_corpus(
                spark,
                str(tmp_path / "in"),
                corpus,
                str(tmp_path / "out"),
                str(tmp_path / "ckpt"),
                corpus.schema,
                classifier={"weights": weights},
                near_dedup={"bogus": 1},
            )
        assert cache_empty()


@pytest.mark.parametrize("scoped", [False, True], ids=["unscoped", "scoped"])
def test_mid_build_failure_releases_persists(
    spark, docs, cache_empty, monkeypatch, scoped
):
    """An operator that raises after persisting — here both sides of
    the cross pairing, and in the nested case the LSH bands plus CC's
    edge relation — leaves nothing cached, scope or not."""
    from contextlib import nullcontext

    from ftm_columnstore_spark.operators import blocking, dedup

    def boom(*args, **kwargs):
        raise RuntimeError("injected")

    monkeypatch.setattr(dedup, "cross_pairs_from_banded", boom)
    monkeypatch.setattr(blocking, "_cc_union_find", boom)
    sigs = dedup.minhash_signature(docs, num_hashes=16, shingle_k=3)
    with scope() if scoped else nullcontext():
        with pytest.raises(RuntimeError, match="injected"):
            dedup.minhash_lsh_pairs_cross(sigs, sigs, num_bands=8)
        assert cache_empty()
        with pytest.raises(RuntimeError, match="injected"):
            dedup.minhash_clusters(
                docs, num_hashes=16, num_bands=8, threshold=0.5, shingle_k=3
            )
        assert cache_empty()
