"""End-to-end training-data pipeline showcase: the composition the brief
targets — exact dedup → near dedup → quality/language filter → token
stats — as one lazy DataFrame program (single action at the end)."""

from pyspark.sql import functions as F

from ftm_columnstore_spark.operators.dedup import dedup_exact, jaccard_dedup
from ftm_columnstore_spark.operators.text import (
    language_id_col,
    quality_score_col,
    token_count_col,
)

GOOD = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "to the river bank where it meets the other animals of the forest"
)
NEAR = GOOD.replace("forest", "woods")
GERMAN = (
    "der schnelle braune fuchs springt über den faulen hund und läuft "
    "dann weit weg zum fluss wo er die anderen tiere des waldes trifft"
)


def test_pipeline_composition(spark):
    rows = [
        (1, GOOD),
        (2, GOOD),        # exact dup → dropped
        (3, NEAR),        # near dup of 1 → dropped
        (4, GERMAN),      # wrong language → dropped
        (5, "x y"),       # too short / low quality → dropped
        (6, "completely different english text about the spark engine and "
            "the way it runs queries over the very large datasets it reads"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    step1 = dedup_exact(docs)                                 # -2
    step2 = jaccard_dedup(step1, shingle_k=3, min_jaccard=0.5)  # -3
    step3 = step2.filter(language_id_col("text") == "en")       # -4
    step4 = step3.filter(quality_score_col("text") >= 0.5)      # -5
    result = step4.select(
        "doc_id", token_count_col("text").alias("n_tokens")
    ).orderBy("doc_id")

    out = result.collect()
    assert [r["doc_id"] for r in out] == [1, 6]
    assert all(r["n_tokens"] > 20 for r in out)


def test_prepare_training_data(spark, cache_empty):
    """Packaged pipeline: gate → line dedup → exact dedup → near dedup →
    split, with each stage's effect visible in the survivors."""
    from ftm_columnstore_spark.lifecycle import scope
    from ftm_columnstore_spark.operators.pipeline import prepare_training_data

    boiler = "standard footer line with the usual and boring legal words"
    rows = [
        (1, f"{GOOD}\n{boiler}"),
        (2, f"{GOOD}\n{boiler}"),          # exact dup after line dedup → dropped
        (3, f"{NEAR}\n{boiler}"),          # near dup → dropped
        (4, "tiny\ntext"),                 # fails the quality gate
        (5, "completely different english text about the spark engine and "
            "the way it runs queries over the very large datasets it reads"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    with scope():
        out = prepare_training_data(
            docs,
            quality={"min_tokens": 10, "min_stopwords": 2},
            near_dedup={"num_hashes": 16, "num_bands": 8, "threshold": 0.5},
            splits={"train": 0.5, "test": 0.5},
            seed="p",
        )
        got = {r.doc_id: r for r in out.collect()}
    assert cache_empty()
    assert set(got) == {1, 5}
    # line dedup kept the boilerplate only in the globally-first doc
    assert boiler in got[1].text and GOOD in got[1].text
    assert got[1].split in ("train", "test")


def test_prepare_training_data_substring_and_perplexity(spark):
    """The optional CCNet-perplexity and ExactSubstr stages: the tail
    bucket is dropped, and a duplicated span is cut from the later doc."""
    from ftm_columnstore_spark.operators.pipeline import prepare_training_data

    span = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"
    fluent = ("the engine reads the data and the engine writes the data "
              "while the tests check the results of the engine runs")
    rows = [
        (1, f"{fluent} {span}"),
        (2, f"{span} other trailing words follow here nicely today"),
        (3, fluent),  # exact content appears inside doc 1? no — standalone
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = prepare_training_data(
        docs,
        line_dedup_sep=None,
        substring_dedup={"k": 8},
    )
    got = {r.doc_id: r.text for r in out.collect()}
    # doc 2's copy of the span is cut; doc 1 (globally first) keeps it
    assert span in got[1]
    assert span not in got[2] and "other trailing words" in got[2]

    # perplexity filter: cutoffs chosen so some docs fall in the tail
    out2 = prepare_training_data(
        docs,
        line_dedup_sep=None,
        perplexity={"cutoffs": (0.5, 1.0), "keep": ("head",)},
    )
    assert out2.count() == 0  # nothing scores below 0.5 bits/bigram
    out3 = prepare_training_data(
        docs,
        line_dedup_sep=None,
        perplexity={"cutoffs": (0.5, 99.0)},  # keep head+middle → all pass
    )
    assert out3.count() == 3


def test_investigative_workflow_composition(spark, tmp_path):
    """Reference-side showcase: write entities → resolve duplicates →
    canonicalized statements → relationship graph → centrality +
    clustering metrics, as one flow over the store."""
    from ftm_columnstore_spark.operators.graph import pagerank, triangle_count
    from ftm_columnstore_spark.operators.xref import resolve
    from ftm_columnstore_spark.sources.statements import statements_from_rows
    from ftm_columnstore_spark.store import Store

    def stmt(eid, prop, value, ds="d1", prop_type="string", schema="Company"):
        return dict(
            id=f"s-{eid}-{prop}-{value}", entity_id=eid, prop=prop,
            prop_type=prop_type, schema=schema, value=value, dataset=ds,
            last_seen=None,
        )

    rows = [
        stmt("a", "name", "Alpha Holding AG", prop_type="name"),
        stmt("a2", "name", "ALPHA HOLDING AG", ds="d2", prop_type="name"),
        stmt("b", "name", "Beta GmbH", prop_type="name"),
        stmt("c", "name", "Gamma LLC", prop_type="name"),
        # ownership triangle a-b-c (via entity-valued props)
        stmt("a", "ownerOf", "b", prop_type="entity"),
        stmt("b", "ownerOf", "c", prop_type="entity"),
        stmt("c", "ownerOf", "a", prop_type="entity"),
        # duplicate a2 also points at b: must collapse onto canonical a
        stmt("a2", "ownerOf", "b", ds="d2", prop_type="entity"),
    ]
    store = Store(spark, str(tmp_path / "inv"))
    store.ensure()
    store.write_statements(statements_from_rows(spark, rows))
    store.set_resolver(resolve(store.statements(), min_score=0.9))

    st = store.statements()
    edges = st.where(F.col("prop_type") == "entity").select(
        F.col("canonical_id").alias("src"), F.col("value").alias("dst")
    )
    # a2 resolved to a: graph has exactly the 3 canonical nodes
    tri = {r["id"]: r for r in triangle_count(edges).collect()}
    assert set(tri) == {"a", "b", "c"}
    assert all(r["triangles"] == 1 and r["clustering"] == 1.0
               for r in tri.values())

    # distinct BEFORE ranking: the collapsed duplicate statement (a2→b
    # became a→b) is a multi-edge that would otherwise weight the walk
    e1 = edges.distinct()
    und = e1.union(
        e1.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = {r["id"]: r["rank"] for r in pagerank(und, iterations=2).collect()}
    assert set(pr) == {"a", "b", "c"}
    # symmetric triangle -> equal centrality
    assert max(pr.values()) - min(pr.values()) < 1e-9


def test_pipeline_keeps_ungradable_and_tokenless_docs(spark):
    """Review regressions: (1) keeping every perplexity bucket is a
    no-op even for one-token docs (no bigrams -> ungradable -> kept);
    (2) the substring stage never drops zero-token docs."""
    from ftm_columnstore_spark.operators.pipeline import prepare_training_data

    docs = spark.createDataFrame(
        [(1, "solo"), (2, "a b c d e f g longer doc here"), (3, "!!!")],
        ["doc_id", "text"],
    )
    out = prepare_training_data(
        docs,
        line_dedup_sep=None,
        perplexity={"cutoffs": (0.001, 99.0),
                    "keep": ("head", "middle", "tail")},
    )
    assert {r.doc_id for r in out.collect()} == {1, 2, 3}

    out2 = prepare_training_data(
        docs, line_dedup_sep=None, substring_dedup={"k": 8}
    )
    assert {r.doc_id for r in out2.collect()} == {1, 2, 3}


def test_pipeline_classifier_stage(spark):
    """The NB-classifier stage drops below-threshold documents and
    keeps unscorable ones."""
    from ftm_columnstore_spark.operators.pipeline import (
        prepare_training_data,
    )
    from ftm_columnstore_spark.operators.text import (
        train_quality_classifier,
    )

    good = spark.createDataFrame(
        [("prose about science history nature",)] * 4, ["text"]
    )
    bad = spark.createDataFrame(
        [("spam winner cash prize click",)] * 4, ["text"]
    )
    w = train_quality_classifier(good, bad)
    docs = spark.createDataFrame(
        [
            (1, "an essay about science and nature"),
            (2, "cash prize spam click winner"),
            (3, "zzzz qqqq"),  # fully out-of-vocabulary: unscorable, kept
        ],
        ["doc_id", "text"],
    )
    out = prepare_training_data(
        docs,
        classifier={"weights": w, "min_score": 0.0},
        line_dedup_sep=None,
    )
    assert {r["doc_id"] for r in out.collect()} == {1, 3}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown classifier"):
        prepare_training_data(
            docs, classifier={"weights": w, "bogus": 1}, line_dedup_sep=None
        ).collect()


def test_pipeline_c4_lines_stage(spark):
    from ftm_columnstore_spark.operators.pipeline import (
        prepare_training_data,
    )

    docs = spark.createDataFrame(
        [
            (1, "A good proper sentence here.\nEnable javascript now."),
            (2, "no terminal punctuation at all"),
        ],
        ["doc_id", "text"],
    )
    out = prepare_training_data(
        docs, c4_lines={"min_words": 3}, line_dedup_sep=None
    ).collect()
    assert len(out) == 1
    assert out[0]["doc_id"] == 1
    assert out[0]["text"] == "A good proper sentence here."


def test_pipeline_decontaminate_stage(spark, cache_empty):
    """Batch decontamination mirrors the streaming stage: docs sharing
    an n-gram with the bench set drop, clean docs survive untouched;
    unknown options raise; the stage's persisted doc grams are released
    with the caller's scope."""
    import pytest

    from ftm_columnstore_spark.lifecycle import scope
    from ftm_columnstore_spark.operators.pipeline import (
        prepare_training_data,
    )

    docs = spark.createDataFrame(
        [
            (1, "this doc leaks the secret benchmark passage verbatim"),
            (2, "a perfectly clean document about gardens and rivers"),
        ],
        "doc_id: long, text: string",
    )
    bench = spark.createDataFrame(
        [(9, "the secret benchmark passage nobody should train on")],
        "doc_id: long, text: string",
    )
    with scope():
        out = prepare_training_data(
            docs,
            decontaminate={"bench": bench, "n": 3, "m_bits": 1 << 12, "k": 2},
            line_dedup_sep=None,
        )
        assert [r["doc_id"] for r in out.collect()] == [2]
        # the stage's persisted doc grams live until the scope exits
        assert not cache_empty()
    assert cache_empty()

    with pytest.raises(ValueError, match="decontaminate"):
        prepare_training_data(
            docs,
            decontaminate={"bench": bench, "bogus": 1},
            line_dedup_sep=None,
        )
