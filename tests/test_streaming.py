"""Structured Streaming: ingest round-trip + windowed aggs (SURVEY §2.11)."""

import json
import time

from pyspark.sql import functions as F

from ftm_columnstore_spark.store import Store
from ftm_columnstore_spark.streaming.ingest import stream_statements_to_store
from ftm_columnstore_spark.streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)


def test_stream_ingest_roundtrip(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    entities = [
        {"id": f"e{i}", "schema": "Company",
         "properties": {"name": [f"Firm {i}"]},
         "datasets": ["streamed"], "referents": []}
        for i in range(5)
    ]
    (src / "batch1.json").write_text(
        "\n".join(json.dumps(e) for e in entities)
    )
    q = stream_statements_to_store(
        spark,
        str(src),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
        dataset="streamed",
        available_now=True,
    )
    q.awaitTermination(120)
    store = Store(spark, str(tmp_path / "store"))
    stmts = store.statements()
    assert stmts.select("entity_id").distinct().count() == 5
    assert stmts.filter(F.col("prop") == "name").count() == 5


def _events(spark):
    rows = [
        (1, "2024-01-01 10:05:00", 7, "click", 1.0),
        (2, "2024-01-01 10:20:00", 7, "click", 2.0),
        (3, "2024-01-01 11:10:00", 7, "view", 3.0),
        (4, "2024-01-01 12:30:00", 8, "click", 4.0),
    ]
    return spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    ).withColumn("ts", F.to_timestamp("ts"))


def test_tumbling_window_batch(spark):
    out = tumbling_window_agg(_events(spark), "1 hour").collect()
    by_key = {(str(r["window_start"]), r["event_type"]): r for r in out}
    r = by_key[("2024-01-01 10:00:00", "click")]
    assert r["n"] == 2 and r["sum_value"] == 3.0


def test_sliding_window_batch(spark):
    out = sliding_window_agg(_events(spark), "1 hour", "30 minutes").collect()
    # event 1 at 10:05 belongs to windows starting 09:30 and 10:00
    starts = {
        str(r["window_start"]) for r in out if r["event_type"] == "click"
    }
    assert "2024-01-01 09:30:00" in starts and "2024-01-01 10:00:00" in starts


def test_session_window_batch(spark):
    out = session_window_agg(_events(spark), gap="30 minutes").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r["n_events"])
    # user 7: events at 10:05+10:20 (one session), 11:10 (another)
    assert sorted(by_user[7]) == [1, 2]
    assert by_user[8] == [1]


def test_streaming_window_agg(spark, tmp_path):
    """The same tumbling agg as a real stream (file source, memory sink)."""
    src = tmp_path / "ev"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T10:05:00.000Z", "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T10:20:00.000Z", "event_type": "click", "value": 2.0},
    ]
    (src / "p1.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE"
        ).json(str(src))
    )
    agg = tumbling_window_agg(stream, "1 hour", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from win_test").collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 2 and rows[0]["sum_value"] == 3.0


def test_streaming_dataset_stats(spark, tmp_path):
    import json as _json

    from ftm_columnstore_spark.streaming.windows import streaming_dataset_stats

    src = tmp_path / "stats_in"
    src.mkdir()
    ents = [
        {"id": f"x{i}", "schema": "Company", "properties": {"name": [f"N{i}"]},
         "datasets": ["mv"], "referents": []}
        for i in range(3)
    ]
    (src / "b.json").write_text("\n".join(_json.dumps(e) for e in ents))
    from ftm_columnstore_spark.model.schemas import ENTITY_SCHEMA
    from ftm_columnstore_spark.sources.statements import entities_to_statements

    stream = spark.readStream.schema(ENTITY_SCHEMA).json(str(src))
    stats = streaming_dataset_stats(entities_to_statements(stream, "mv"))
    q = (
        stats.writeStream.format("memory").queryName("mv_stats")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from mv_stats").collect()
    assert len(rows) == 1
    assert rows[0]["dataset"] == "mv"
    assert rows[0]["entities"] == 3
    assert rows[0]["statements"] == 6


def test_stateful_anomaly_operator(spark, tmp_path):
    """applyInPandasWithState: per-user running stats flag outliers."""
    import json as _json

    from ftm_columnstore_spark.streaming.stateful import streaming_anomalies

    src = tmp_path / "anom_in"
    src.mkdir()
    rows = [
        {"event_id": i, "user_id": 1, "value": 10.0 + (i % 3) * 0.1}
        for i in range(20)
    ]
    rows.append({"event_id": 99, "user_id": 1, "value": 500.0})  # outlier
    rows.extend(
        {"event_id": 200 + i, "user_id": 2, "value": 1.0} for i in range(6)
    )
    (src / "b.json").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = spark.readStream.schema(
        "event_id LONG, user_id LONG, value DOUBLE"
    ).json(str(src))
    q = (
        streaming_anomalies(stream)
        .writeStream.format("memory")
        .queryName("anoms")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # under the default processing-time idle timeout the query keeps
    # running no-data batches and never ends by itself, nor does
    # processAllAvailable() return: stop it once the input is committed
    deadline = time.monotonic() + 120
    try:
        while sum(p["numInputRows"] for p in q.recentProgress) < len(rows):
            assert time.monotonic() < deadline, "input never committed"
            q.awaitTermination(0.1)
    finally:
        q.stop()
    out = spark.sql("select * from anoms").collect()
    assert [r["event_id"] for r in out] == [99]
    assert out[0]["zscore"] > 3


def test_streaming_xref_pairs(spark, tmp_path):
    """Stateful candidate-pair stream: running union across micro-batches
    equals batch blocking+pairing over the same final fpx rows."""
    from ftm_columnstore_spark.operators.blocking import (
        blocking_candidates,
        candidate_pairs,
    )
    from ftm_columnstore_spark.streaming.xref import streaming_xref_pairs

    # fpx rows: block "smith" grows 2 -> 4 entities across two batches;
    # block "hot" exceeds the cap in batch 2; block "solo" never reaches
    # the floor.
    b1 = [
        {"algorithm": "fingerprint", "value": "smith", "entity_id": "e1"},
        {"algorithm": "fingerprint", "value": "smith", "entity_id": "e2"},
        {"algorithm": "fingerprint", "value": "solo", "entity_id": "e9"},
        {"algorithm": "fingerprint", "value": "hot", "entity_id": "h1"},
        {"algorithm": "fingerprint", "value": "hot", "entity_id": "h2"},
        {"algorithm": "fingerprint", "value": "hot", "entity_id": "h3"},
    ]
    b2 = [
        {"algorithm": "fingerprint", "value": "smith", "entity_id": "e3"},
        {"algorithm": "fingerprint", "value": "smith", "entity_id": "e4"},
        {"algorithm": "fingerprint", "value": "hot", "entity_id": "h4"},
        {"algorithm": "fingerprint", "value": "hot", "entity_id": "h5"},
    ]
    src = tmp_path / "fpx_in"
    src.mkdir()
    schema = "algorithm string, value string, entity_id string"

    out = tmp_path / "pairs_out"

    def run_drain():
        # shared checkpoint: each drain resumes state and reads only new files
        stream = spark.readStream.schema(schema).json(str(src))
        q = (
            streaming_xref_pairs(stream, min_entities=3, max_entities=4)
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / "ck_xref"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["left_id"], r["right_id"])
            for r in spark.read.parquet(str(out)).collect()
        }

    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    got1 = run_drain()
    # smith has 2 < floor, solo 1 < floor; hot has 3 = floor -> 3 pairs
    assert got1 == {("h1", "h2"), ("h1", "h3"), ("h2", "h3")}

    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))
    got2 = run_drain()  # file sink accumulates across drains
    # smith crosses the floor: all 6 pairs; hot crosses the cap: nothing new
    assert got2 - got1 == {
        ("e1", "e2"), ("e1", "e3"), ("e1", "e4"),
        ("e2", "e3"), ("e2", "e4"), ("e3", "e4"),
    }

    # running union == batch pipeline over the final rows, except the
    # tombstoned hot block (batch drops it entirely; stream keeps the
    # pairs it emitted while under the cap — documented divergence)
    fpx = spark.createDataFrame(
        [(r["algorithm"], r["value"], r["entity_id"], "ds", "Company",
          "name", "name") for r in b1 + b2],
        "algorithm string, value string, entity_id string, dataset string,"
        "schema string, prop string, prop_type string",
    )
    batch_pairs = {
        (r["left_id"], r["right_id"])
        for r in candidate_pairs(
            blocking_candidates(fpx, min_entities=3, max_entities=4)
        ).collect()
    }
    assert got2 == batch_pairs | {("h1", "h2"), ("h1", "h3"), ("h2", "h3")}


def test_sampling_ops_compose_with_streams(spark, tmp_path):
    """split_by_hash / sample_mixture are stateless pure-column
    expressions, so the same operators run unchanged on a stream —
    and assign the same splits a batch run assigns (the md5 contract
    doesn't know or care about the execution mode)."""
    import json

    from ftm_columnstore_spark.operators.sampling import split_by_hash

    src = tmp_path / "docs_in"
    src.mkdir()
    docs = [{"doc_id": i, "text": f"streamed document {i}"} for i in range(50)]
    (src / "b1.json").write_text("\n".join(json.dumps(d) for d in docs))

    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).json(str(src))
    out = tmp_path / "split_out"
    q = (
        split_by_hash(stream, {"train": 0.8, "test": 0.2}, seed="s")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "split_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = spark.read.parquet(str(out)).select("doc_id", "split")
    batch = split_by_hash(
        spark.createDataFrame([(d["doc_id"], d["text"]) for d in docs], schema),
        {"train": 0.8, "test": 0.2},
        seed="s",
    ).select("doc_id", "split")
    assert streamed.count() == 50
    assert streamed.exceptAll(batch).count() == 0  # identical assignment


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join: clicks matched to errors of the
    same user within the band; the cross-user / out-of-band pairs drop."""
    from ftm_columnstore_spark.streaming.windows import interval_join_streams

    src = tmp_path / "ssj"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00.000Z", "user_id": 7, "event_type": "click"},
        {"event_id": 2, "ts": "2024-01-01T10:04:00.000Z", "user_id": 7, "event_type": "error"},
        {"event_id": 3, "ts": "2024-01-01T11:30:00.000Z", "user_id": 7, "event_type": "error"},
        {"event_id": 4, "ts": "2024-01-01T10:03:00.000Z", "user_id": 9, "event_type": "error"},
    ]
    (src / "p1.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING"

    def stream():
        return spark.readStream.schema(schema).json(str(src))

    joined = interval_join_streams(
        stream().filter("event_type = 'click'"),
        stream().filter("event_type = 'error'"),
        key="user_id",
        band="10 minutes",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "select l_event_id, r_event_id from ssj_test"
    ).collect()
    # click 1 pairs only with error 2 (same user, 4 min apart);
    # error 3 is out of band, error 4 is another user
    assert [(r["l_event_id"], r["r_event_id"]) for r in got] == [(1, 2)]


def test_stream_dedup_against_corpus(spark, tmp_path):
    """Micro-batches are near-dedup'd against a static corpus index:
    near-dups of corpus docs are dropped, novel docs survive."""
    import json

    from pyspark.sql import types as T

    from ftm_columnstore_spark.streaming.dedup import (
        stream_dedup_against_corpus,
    )

    base = ("the quick brown fox jumps over the lazy dog and keeps on "
            "running through the quiet field until the evening comes")
    corpus = spark.createDataFrame(
        [(1, base), (2, "some established corpus document about benchmarks")],
        "doc_id long, text string",
    )
    src = tmp_path / "docs_in"
    src.mkdir()
    incoming = [
        {"doc_id": 100, "text": base},                        # exact dup → drop
        {"doc_id": 101, "text": base.replace("quiet", "loud")},  # near dup → drop
        {"doc_id": 102, "text": "a completely novel report on sailing and tides"},
    ]
    (src / "batch0.json").write_text(
        "\n".join(json.dumps(d) for d in incoming)
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    out = tmp_path / "deduped"
    q = stream_dedup_against_corpus(
        spark,
        str(src),
        corpus,
        str(out),
        str(tmp_path / "ckpt_dedup"),
        schema,
        min_jaccard_est=0.5,
        available_now=True,
    )
    q.awaitTermination(120)
    kept = [r.doc_id for r in spark.read.parquet(str(out)).collect()]
    assert kept == [102]


def test_stream_substring_cut_against_corpus(spark, tmp_path, cache_empty):
    """Micro-batch documents lose the spans already present in the
    static corpus; novel text is untouched. The persisted corpus index
    outlives the caller scope the stream was started in and is released
    when the query terminates."""
    import json

    from pyspark.sql import types as T

    from ftm_columnstore_spark.lifecycle import scope
    from ftm_columnstore_spark.streaming.dedup import (
        stream_substring_cut_against_corpus,
    )

    span = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(1, f"{span} corpus remainder")], "doc_id long, text string"
    )
    src = tmp_path / "docs_in_ss"
    src.mkdir()
    incoming = [
        {"doc_id": 100, "text": f"intro {span} outro"},   # span cut
        {"doc_id": 101, "text": "novel words entirely free of corpus overlap"},
    ]
    (src / "batch0.json").write_text(
        "\n".join(json.dumps(d) for d in incoming)
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    out = tmp_path / "cleaned"
    with scope():
        q = stream_substring_cut_against_corpus(
            spark,
            str(src),
            corpus,
            str(out),
            str(tmp_path / "ckpt_ss"),
            schema,
            k=8,
        )
    try:
        q.processAllAvailable()
        rows = {r["id"]: r for r in spark.read.parquet(str(out)).collect()}
        # byte-preserving span cut keeps the separators around the span
        assert rows[100]["text"] == "intro  outro"
        assert rows[100]["n_removed"] == 10
        assert rows[101]["n_removed"] == 0
        # the index is still cached while the query runs
        assert not cache_empty()
    finally:
        q.stop()
    # released once the stream terminates (listener fires
    # asynchronously — poll briefly)
    import time

    for _ in range(100):
        if cache_empty():
            break
        time.sleep(0.2)
    assert cache_empty()


def test_stream_clean_against_corpus(spark, tmp_path):
    """Full ingest-time cleanup stream: gate, reference-LM screen,
    span cut, and near-dup drop compose over persisted corpus indices."""
    import json

    from pyspark.sql import types as T

    from ftm_columnstore_spark.streaming.clean import (
        stream_clean_against_corpus,
    )

    fluent = ("the quick brown fox jumps over the lazy dog and the dog "
              "sleeps while the fox runs through the field again and again")
    span = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(1, f"{fluent} {span}")], "doc_id long, text string"
    )
    incoming = [
        # near dup of the corpus doc -> dropped by the minhash stage
        {"doc_id": 100, "text": f"{fluent} {span} extra"},
        # copies the span only -> span cut, doc survives with it removed
        # (wording reuses corpus vocabulary so the LM screen passes it)
        {"doc_id": 101, "text": f"the fox runs and the dog sleeps then {span} "
                                "the fox jumps again and again"},
        # gibberish -> dropped by the LM screen
        {"doc_id": 102, "text": "zz qq xx vv kk jj pp ww zz qq xx vv kk"},
        # too short -> dropped by the gate
        {"doc_id": 103, "text": "tiny"},
        # clean novel text in-domain -> kept untouched
        {"doc_id": 104, "text": "the fox and the dog meet again over the "
                                "field and the quick fox jumps over the dog"},
    ]
    src = tmp_path / "clean_in"
    src.mkdir()
    (src / "b0.json").write_text(
        "\n".join(json.dumps(d) for d in incoming)
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    out = tmp_path / "clean_out"
    q = stream_clean_against_corpus(
        spark,
        str(src),
        corpus,
        str(out),
        str(tmp_path / "ckpt_clean"),
        schema,
        quality={"min_tokens": 5, "min_stopwords": 0,
                 "min_mean_word_len": 0.0, "min_alnum_ratio": 0.0},
        # unseen-bigram floor is log2(V) ~ 4.6 on this toy corpus;
        # in-vocabulary docs score <= 3.9, so 4.2 separates them
        max_bits_per_bigram=4.2,
        substring_k=8,
        # 16 bands x 2 rows: band-collision prob ~0.999 at J~0.6
        # (8x4 would miss the candidate ~1/3 of the time)
        near_dedup={"num_hashes": 32, "num_bands": 16,
                    "min_jaccard_est": 0.5},
        available_now=True,
    )
    q.awaitTermination(180)
    rows = {r["doc_id"]: r["text"] for r in
            spark.read.parquet(str(out)).collect()}
    assert set(rows) == {101, 104}
    assert "alpha" not in rows[101] and "fox runs" in rows[101]
    assert "fox" in rows[104]


def test_stream_index_ivfpq_matches_batch_append(spark, tmp_path):
    """Streamed micro-batch ingest into an IVF-PQ index must serve
    identically to the batch full-corpus build with the same quantizer
    artifacts (shared append path by construction)."""
    import json as _json
    import random

    from pyspark.sql import functions as F

    from ftm_columnstore_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_topk_indexed,
        ivfpq_topk_portable,
    )
    from ftm_columnstore_spark.streaming.ann import stream_index_ivfpq

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(120)
    ]
    all_vecs = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    first = all_vecs.filter(F.col("vec_id") < 60)
    path = str(tmp_path / "ivfpq_stream")
    cents, cbs = build_ivfpq_index(first, path, m=4, n_codes=16, n_centroids=8)

    src = tmp_path / "vec_src"
    src.mkdir()
    late = [
        {"vec_id": i, "embedding": [float(x) for x in v]}
        for i, v in rows
        if i >= 60
    ]
    (src / "a.json").write_text("\n".join(_json.dumps(r) for r in late))
    q = stream_index_ivfpq(
        spark,
        str(src),
        path,
        str(tmp_path / "ckpt"),
        "vec_id bigint, embedding array<float>",
        available_now=True,
    )
    q.awaitTermination(120)

    qv = rows[90][1]
    a = [
        (r["vec_id"], r["adist"])
        for r in ivfpq_topk_indexed(
            spark, path, qv, k=5, n_probe=3, refine=40
        ).collect()
    ]
    b = [
        (r["vec_id"], r["adist"])
        for r in ivfpq_topk_portable(
            all_vecs, qv, k=5, m=4, n_codes=16, n_probe=3, refine=40,
            centroids=cents, codebooks=cbs,
        ).collect()
    ]
    assert a == b and a[0] == (90, 0)


def test_stream_clean_classifier_stage(spark, tmp_path):
    """Streaming clean with a pre-trained NB classifier drops
    below-threshold documents; unscorable documents survive."""
    import json as _json

    from pyspark.sql import functions as F

    from ftm_columnstore_spark.operators.text import (
        train_quality_classifier,
    )
    from ftm_columnstore_spark.streaming.clean import (
        stream_clean_against_corpus,
    )

    good = spark.createDataFrame(
        [("prose about science history nature",)] * 3, ["text"]
    )
    bad = spark.createDataFrame(
        [("spam winner cash prize click",)] * 3, ["text"]
    )
    w = train_quality_classifier(good, bad)
    corpus = spark.createDataFrame(
        [(1000, "completely unrelated corpus text")], ["doc_id", "text"]
    )
    src = tmp_path / "clf_src"
    src.mkdir()
    rows = [
        {"doc_id": 1, "text": "an essay about science and nature"},
        {"doc_id": 2, "text": "cash prize spam click winner"},
        {"doc_id": 3, "text": "zzzz qqqq"},
    ]
    (src / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    out = str(tmp_path / "clf_out")
    q = stream_clean_against_corpus(
        spark,
        str(src),
        corpus,
        out,
        str(tmp_path / "clf_ckpt"),
        "doc_id bigint, text string",
        classifier={"weights": w, "min_score": 0.0},
        substring_k=None,
        available_now=True,
    )
    q.awaitTermination(120)
    kept = {
        r["doc_id"] for r in spark.read.parquet(out).collect()
    }
    assert kept == {1, 3}


def test_stream_clean_bloom_decontaminate(spark, tmp_path):
    """Streaming decontamination stage: the bench-gram Bloom filter is
    built once at stream start; micro-batch docs overlapping the bench
    set are dropped, clean docs pass — identical verdicts to the batch
    operator (no false negatives, so the kept set is exact here)."""
    import json

    from pyspark.sql import types as T

    from ftm_columnstore_spark.streaming.clean import (
        stream_clean_against_corpus,
    )

    corpus = spark.createDataFrame(
        [(1, "background corpus text unrelated to anything")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "the secret benchmark passage nobody should train on")],
        "doc_id long, text string",
    )
    incoming = [
        # contains a bench 3-gram -> dropped
        {"doc_id": 200,
         "text": "this doc leaks the secret benchmark passage verbatim"},
        # clean -> kept
        {"doc_id": 201,
         "text": "a perfectly clean document about gardens and rivers"},
    ]
    src = tmp_path / "dc_in"
    src.mkdir()
    (src / "b0.json").write_text("\n".join(json.dumps(d) for d in incoming))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    out = tmp_path / "dc_out"
    q = stream_clean_against_corpus(
        spark,
        str(src),
        corpus,
        str(out),
        str(tmp_path / "ckpt_dc"),
        schema,
        substring_k=None,
        decontaminate={"bench": bench, "n": 3, "m_bits": 1 << 12, "k": 2},
        available_now=True,
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    assert got == {201}, got

    import pytest

    with pytest.raises(ValueError, match="decontaminate"):
        stream_clean_against_corpus(
            spark, str(src), corpus, str(out), str(tmp_path / "ckpt_dc2"),
            schema, decontaminate={"bench": bench, "bogus": 1},
        )


def test_windowed_hll_stream_matches_batch(spark, tmp_path):
    """Per-window HLL registers as a REAL stream (file source, update
    mode): the materialized register state read off with the batch
    estimator equals the batch-mode estimate AND the exact distinct
    count at this cardinality (p=8 registers, 6 users)."""
    import json as _json

    from ftm_columnstore_spark.streaming.windows import (
        hll_estimate_from_windowed_registers,
        windowed_hll_registers,
    )

    src = tmp_path / "hll_ev"
    src.mkdir()
    rows = [
        {"event_id": i, "ts": f"2024-01-01T10:{i:02d}:00.000Z",
         "user_id": 100 + (i % 6), "event_type": "click", "value": 1.0}
        for i in range(20)
    ] + [
        {"event_id": 100, "ts": "2024-01-01T11:05:00.000Z",
         "user_id": 999, "event_type": "click", "value": 1.0}
    ]
    (src / "p1.json").write_text("\n".join(_json.dumps(r) for r in rows))
    schema = (
        "event_id LONG, ts TIMESTAMP, user_id LONG, "
        "event_type STRING, value DOUBLE"
    )
    stream = spark.readStream.schema(schema).json(str(src))
    regs = windowed_hll_registers(stream, "user_id", "1 hour", p=8)
    q = (
        regs.writeStream.format("memory")
        .queryName("hll_regs")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = hll_estimate_from_windowed_registers(
        spark.table("hll_regs"), p=8
    ).collect()
    batch = spark.read.schema(schema).json(str(src))
    expect = {
        r["window_start"]: r["n_distinct_est"]
        for r in hll_estimate_from_windowed_registers(
            windowed_hll_registers(batch, "user_id", "1 hour", p=8),
            p=8,
        ).collect()
    }
    got = {r["window_start"]: r["n_distinct_est"] for r in streamed}
    assert got == expect
    # linear-counting regime at this cardinality -> estimates exact
    assert got["2024-01-01 10:00:00"] == 6
    assert got["2024-01-01 11:00:00"] == 1


def test_windowed_cms_stream_matches_batch_and_exact(spark, tmp_path):
    """Per-window CMS cells as a REAL stream (file source, complete
    mode): the materialized cell state read off with the batch
    heavy-hitter probe equals the batch-mode result AND the exact
    per-window counts (w=256 >> 3 keys, so no cell collisions)."""
    import json as _json

    from ftm_columnstore_spark.streaming.windows import (
        cms_heavy_hitters_from_windowed,
        windowed_cms_counts,
    )

    src = tmp_path / "cms_ev"
    src.mkdir()
    # hour 10: click x5, view x3, buy x1; hour 11: view x4
    rows = (
        [{"event_id": i, "ts": f"2024-01-01T10:{i:02d}:00.000Z",
          "user_id": 1, "event_type": "click", "value": 1.0}
         for i in range(5)]
        + [{"event_id": 10 + i, "ts": f"2024-01-01T10:{30 + i:02d}:00.000Z",
            "user_id": 1, "event_type": "view", "value": 1.0}
           for i in range(3)]
        + [{"event_id": 20, "ts": "2024-01-01T10:45:00.000Z",
            "user_id": 1, "event_type": "buy", "value": 1.0}]
        + [{"event_id": 30 + i, "ts": f"2024-01-01T11:{i:02d}:00.000Z",
            "user_id": 1, "event_type": "view", "value": 1.0}
           for i in range(4)]
    )
    (src / "p1.json").write_text("\n".join(_json.dumps(r) for r in rows))
    schema = (
        "event_id LONG, ts TIMESTAMP, user_id LONG, "
        "event_type STRING, value DOUBLE"
    )
    stream = spark.readStream.schema(schema).json(str(src))
    cells = windowed_cms_counts(
        stream, "event_type", "1 hour", d=4, w=256
    )
    q = (
        cells.writeStream.format("memory")
        .queryName("cms_cells")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batch = spark.read.schema(schema).json(str(src))
    keys = batch.selectExpr(
        "date_format(window(ts, '1 hour').start, "
        "'yyyy-MM-dd HH:mm:ss') AS window_start",
        "event_type",
    ).distinct()
    streamed = {
        (r["window_start"], r["event_type"]): r["est_count"]
        for r in cms_heavy_hitters_from_windowed(
            spark.table("cms_cells"), keys, "event_type",
            threshold=3, d=4, w=256,
        ).collect()
    }
    batched = {
        (r["window_start"], r["event_type"]): r["est_count"]
        for r in cms_heavy_hitters_from_windowed(
            windowed_cms_counts(
                batch, "event_type", "1 hour", d=4, w=256, watermark=None
            ),
            keys, "event_type", threshold=3, d=4, w=256,
        ).collect()
    }
    assert streamed == batched
    assert streamed == {
        ("2024-01-01 10:00:00", "click"): 5,
        ("2024-01-01 10:00:00", "view"): 3,
        ("2024-01-01 11:00:00", "view"): 4,
    }


def test_windowed_cms_merge_across_shards(spark):
    """Cell relations from two shards merge losslessly: probing the
    merged state equals probing the single-pass state on the union."""
    from ftm_columnstore_spark.streaming.windows import (
        cms_heavy_hitters_from_windowed,
        windowed_cms_counts,
    )

    schema = "ts TIMESTAMP, event_type STRING"
    a = spark.createDataFrame(
        [("2024-01-01 10:01:00", "x")] * 3 + [("2024-01-01 10:02:00", "y")],
        "ts STRING, event_type STRING",
    ).selectExpr("CAST(ts AS TIMESTAMP) ts", "event_type")
    b = spark.createDataFrame(
        [("2024-01-01 10:03:00", "x")] * 2,
        "ts STRING, event_type STRING",
    ).selectExpr("CAST(ts AS TIMESTAMP) ts", "event_type")
    del schema
    ca = windowed_cms_counts(a, "event_type", "1 hour", d=2, w=64,
                             watermark=None)
    cb = windowed_cms_counts(b, "event_type", "1 hour", d=2, w=64,
                             watermark=None)
    u = windowed_cms_counts(a.unionByName(b), "event_type", "1 hour",
                            d=2, w=64, watermark=None)
    keys = spark.createDataFrame(
        [("2024-01-01 10:00:00", "x"), ("2024-01-01 10:00:00", "y")],
        "window_start STRING, event_type STRING",
    )
    merged = {
        (r["window_start"], r["event_type"]): r["est_count"]
        for r in cms_heavy_hitters_from_windowed(
            ca.unionByName(cb), keys, "event_type", threshold=1, d=2, w=64
        ).collect()
    }
    single = {
        (r["window_start"], r["event_type"]): r["est_count"]
        for r in cms_heavy_hitters_from_windowed(
            u, keys, "event_type", threshold=1, d=2, w=64
        ).collect()
    }
    assert merged == single == {
        ("2024-01-01 10:00:00", "x"): 5,
        ("2024-01-01 10:00:00", "y"): 1,
    }


def test_windowed_cms_validation(spark):
    import pytest

    from ftm_columnstore_spark.streaming.windows import (
        cms_heavy_hitters_from_windowed,
        windowed_cms_counts,
    )

    df = spark.createDataFrame(
        [("2024-01-01 10:00:00", "x")], "ts STRING, event_type STRING"
    ).selectExpr("CAST(ts AS TIMESTAMP) ts", "event_type")
    with pytest.raises(ValueError, match="d and w"):
        windowed_cms_counts(df, "event_type", d=0, watermark=None)
    cells = windowed_cms_counts(df, "event_type", watermark=None)
    with pytest.raises(ValueError, match="threshold"):
        cms_heavy_hitters_from_windowed(
            cells, df.selectExpr("'w' window_start", "event_type"),
            "event_type", threshold=0,
        )


def test_ohlc_rollup_stream_matches_batch(spark, tmp_path):
    """OHLC as a REAL stream (complete mode): min/max(struct) are
    monotone under row arrival, so the bar aggregation is
    streaming-legal as-is — streamed bars equal batch bars."""
    import json as _json

    from ftm_columnstore_spark.operators.temporal import ohlc_rollup

    src = tmp_path / "ohlc_ev"
    src.mkdir()
    rows = [
        {"event_id": i, "ts": f"2024-01-01T10:{i * 7 % 60:02d}:00.000Z",
         "user_id": 1, "event_type": "trade",
         "value": float((i * 13) % 29)}
        for i in range(30)
    ]
    (src / "p1.json").write_text("\n".join(_json.dumps(r) for r in rows))
    schema = (
        "event_id LONG, ts TIMESTAMP, user_id LONG, "
        "event_type STRING, value DOUBLE"
    )
    stream = spark.readStream.schema(schema).json(str(src))
    bars = ohlc_rollup(
        stream, key_col="event_type", tiebreak_col="event_id"
    )
    q = (
        bars.writeStream.format("memory")
        .queryName("ohlc_bars")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batch = spark.read.schema(schema).json(str(src))
    expect = {
        (r["key"], r["window_start"]): (
            r["open"], r["high"], r["low"], r["close"], r["n"]
        )
        for r in ohlc_rollup(
            batch, key_col="event_type", tiebreak_col="event_id"
        ).collect()
    }
    got = {
        (r["key"], r["window_start"]): (
            r["open"], r["high"], r["low"], r["close"], r["n"]
        )
        for r in spark.table("ohlc_bars").collect()
    }
    assert got == expect and len(got) == 1


def test_windowed_moments_stream_matches_batch_and_exact(spark, tmp_path):
    """Per-window moments as a REAL stream: streamed sketch state reads
    off to the same stats as the batch plan and a python replay."""
    import json as _json
    import math

    from ftm_columnstore_spark.operators.sketches import moments_stats
    from ftm_columnstore_spark.streaming.windows import windowed_moments

    vals = [1.25, 2.5, 2.5, 7.0, 100.0]
    src = tmp_path / "mom_ev"
    src.mkdir()
    rows = [
        {"event_id": i, "ts": f"2024-01-01T10:{i:02d}:00.000Z",
         "user_id": 1, "event_type": "x", "value": v}
        for i, v in enumerate(vals)
    ] + [{"event_id": 99, "ts": "2024-01-01T11:30:00.000Z",
          "user_id": 1, "event_type": "x", "value": 3.0}]
    (src / "p1.json").write_text("\n".join(_json.dumps(r) for r in rows))
    schema = (
        "event_id LONG, ts TIMESTAMP, user_id LONG, "
        "event_type STRING, value DOUBLE"
    )
    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        windowed_moments(stream, "value", "1 hour")
        .writeStream.format("memory")
        .queryName("mom_state")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["window_start"]: (r["m0"], r["mean"], r["variance"])
        for r in moments_stats(spark.table("mom_state")).collect()
    }
    batch = spark.read.schema(schema).json(str(src))
    batched = {
        r["window_start"]: (r["m0"], r["mean"], r["variance"])
        for r in moments_stats(
            windowed_moments(batch, "value", "1 hour", watermark=None)
        ).collect()
    }
    assert streamed == batched
    qs = [math.floor(v * 100 + 0.5) for v in vals]
    mean = sum(qs) / len(qs)
    var = sum(q * q for q in qs) / len(qs) - mean * mean
    m0, got_mean, got_var = streamed["2024-01-01 10:00:00"]
    assert m0 == 5
    assert abs(got_mean - mean) < 1e-6
    assert abs(got_var - var) < 1e-4
    assert streamed["2024-01-01 11:00:00"][0] == 1


def test_stream_ingest_clears_compaction_marker(spark, tmp_path):
    """ADVICE r6 (high): the streaming sink appends parquet directly,
    so starting a stream into a compacted store must re-arm
    dedup-on-read by clearing the marker."""
    import json as _json

    from ftm_columnstore_spark.sources.statements import statements_from_rows

    store = Store(spark, str(tmp_path / "store"))
    store.ensure()
    df = statements_from_rows(
        spark,
        [dict(id="s1", entity_id="e", prop="name", schema="Company",
              value="A", dataset="streamed", last_seen=None)],
    ).withColumn("last_seen", F.to_timestamp(F.lit("2024-01-01")))
    store.write_statements(df)
    store.optimize()
    assert store.is_compacted()
    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.json").write_text(_json.dumps(
        {"id": "e2", "schema": "Company",
         "properties": {"name": ["Firm"]},
         "datasets": ["streamed"], "referents": []}
    ))
    q = stream_statements_to_store(
        spark,
        str(src),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
        dataset="streamed",
        available_now=True,
    )
    q.awaitTermination(120)
    assert not store.is_compacted()
    plan = store.statements()._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" in plan  # dedup-on-read active again
    # the metadata-log trap (round 7): a direct parquet writeStream sink
    # leaves _spark_metadata in statements/, and batch reads then list
    # ONLY log-named files — pre-existing statements vanish. The
    # foreachBatch sink must keep BOTH the batch-written and the
    # streamed rows visible.
    seen = {
        r["entity_id"]
        for r in store.statements().select("entity_id").distinct().collect()
    }
    assert seen == {"e", "e2"}


def test_stream_ingest_rejects_bad_backpressure(spark, tmp_path):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_files_per_trigger"):
        stream_statements_to_store(
            spark,
            str(tmp_path / "in"),
            str(tmp_path / "store"),
            str(tmp_path / "ckpt"),
            max_files_per_trigger=0,
        )


def test_clean_stream_rejects_bad_backpressure(spark, tmp_path):
    from pyspark.sql.types import StringType, StructField, StructType

    from ftm_columnstore_spark.streaming.clean import (
        stream_clean_against_corpus,
    )

    schema = StructType([StructField("text", StringType())])
    corpus = spark.createDataFrame([("x",)], schema)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_files_per_trigger"):
        stream_clean_against_corpus(
            spark, str(tmp_path / "in"), corpus, str(tmp_path / "o"),
            str(tmp_path / "c"), schema, max_files_per_trigger=0,
        )


def test_ingest_sink_skips_replayed_batch(spark, tmp_path):
    """ADVICE r7: on checkpoint replay after a crash, a micro-batch the
    sink already fully wrote (and recorded in its ledger) is SKIPPED —
    no duplicate physical files, so deduped=False counts stay honest.
    A batch written but not yet recorded still re-appends once and is
    collapsed by dedup-on-read (the documented residual window)."""
    from ftm_columnstore_spark.sources.statements import statements_from_rows
    from ftm_columnstore_spark.streaming.ingest import (
        _already_committed,
        _record_committed,
        make_statement_sink,
    )

    store = Store(spark, str(tmp_path / "store"))
    store.ensure()
    ckpt = str(tmp_path / "ckpt")
    sink = make_statement_sink(store, ckpt)
    batch = statements_from_rows(
        spark,
        [dict(id="s1", entity_id="e", prop="name", schema="Company",
              value="A", dataset="d", last_seen=None)],
    ).withColumn("last_seen", F.to_timestamp(F.lit("2024-01-01")))
    sink(batch, 0)
    assert store.statements(deduped=False).count() == 1
    assert _already_committed(ckpt, 0)
    # replay of the committed batch: nothing appended
    sink(batch, 0)
    assert store.statements(deduped=False).count() == 1
    # next batch still writes (ledger is a high-water mark)
    assert not _already_committed(ckpt, 1)
    sink(batch, 1)
    assert store.statements(deduped=False).count() == 2
    assert store.statements().count() == 1  # dedup-on-read collapses
    _record_committed(ckpt, 7)
    assert _already_committed(ckpt, 7) and not _already_committed(ckpt, 8)


def test_clean_stream_replay_is_idempotent(spark, tmp_path):
    """VERDICT r7 item 3: replaying a committed micro-batch through the
    cleanup stream must not double its survivors. Simulated the way a
    real crash does it: drop Spark's commit marker for the last batch
    and restart the stream from the same checkpoint — the batch re-runs
    and overwrites its own batch=<id> partition."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from ftm_columnstore_spark.streaming.clean import (
        stream_clean_against_corpus,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    src = tmp_path / "replay_in"
    src.mkdir()
    (src / "b0.json").write_text(
        "\n".join(
            _json.dumps(d)
            for d in [
                {"doc_id": 10, "text": "the dog meets the fox by the field "
                                       "and the day goes on quietly"},
                {"doc_id": 11, "text": "tiny"},
            ]
        )
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    out = str(tmp_path / "replay_out")
    ckpt = str(tmp_path / "ckpt_replay")

    def run() -> None:
        q = stream_clean_against_corpus(
            spark, str(src), corpus, out, ckpt, schema,
            quality={"min_tokens": 5, "min_stopwords": 0,
                     "min_mean_word_len": 0.0, "min_alnum_ratio": 0.0},
            substring_k=None,
            available_now=True,
        )
        q.awaitTermination(120)

    run()
    first = sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    )
    assert first == [10]
    # crash simulation: the batch was written but Spark's commit marker
    # never landed — on restart the engine replays the batch
    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits"))
        if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()
    replayed = sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    )
    assert replayed == first  # no duplicate survivors
    # provenance column present and single-valued for the one batch
    batches = spark.read.parquet(out).select("batch").distinct().collect()
    assert len(batches) == 1
