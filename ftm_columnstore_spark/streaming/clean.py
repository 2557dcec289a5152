"""Streaming training-data cleanup: the whole ingest-time pipeline —
Gopher quality gate → reference-corpus LM screen → MinHash near-dup
drop against a corpus signature index → ExactSubstr span cut against a
corpus gram index — as ONE foreachBatch stream whose reference artifacts
(LM counts, gram index, banded signatures) are built from the static
corpus once at stream start and persisted across micro-batches.

Each stage reuses the exact batch operator, so streaming ingest and a
batch backfill of the same files produce identical survivors and
identical cleaned text — one cleanup semantics, not two. A single-stage
stream is this one with the other stages off: ``near_dedup={...},
substring_k=None`` for the near-dup drop alone, ``substring_k=k`` alone
for the span cut.

Per micro-batch cost: columnar gate scan + batch-sized LM join (the
count relations are vocabulary-bounded and broadcastable) + batch gram
probe + batch signing/banding. The corpus is never rescanned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ftm_columnstore_spark.lifecycle import persist, scope
from ftm_columnstore_spark.streaming.release import released_on_termination


def _write_batch(out: DataFrame, out_path: str, batch_id: int) -> None:
    """Replay-idempotent survivor sink: each micro-batch lands in its
    own hive partition ``batch=<id>``, overwritten WHOLE on checkpoint
    replay — a crash between the write and Spark's commit marker replays
    the batch into the same directory instead of double-appending
    (regression-tested by replaying a committed batch). Consumers read
    ``out_path`` as one parquet table; the extra ``batch`` partition
    column is write provenance, drop it if unwanted."""
    out.write.mode("overwrite").parquet(
        os.path.join(out_path, f"batch={batch_id}")
    )


@released_on_termination
def stream_clean_against_corpus(
    spark: SparkSession,
    source_path: str,
    corpus: DataFrame,
    out_path: str,
    checkpoint_path: str,
    schema,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality: dict | None = None,
    classifier: dict | None = None,
    max_bits_per_bigram: float | None = None,
    substring_k: int | None = 8,
    within_batch: bool = False,
    near_dedup: dict | None = None,
    decontaminate: dict | None = None,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start the cleanup stream; returns the StreamingQuery handle.

    Stage toggles mirror :func:`~ftm_columnstore_spark.operators.
    pipeline.prepare_training_data`: ``quality`` = quality_gate kwargs
    (None → skip); ``classifier`` = {"weights": trained (token, weight)
    relation, "min_score": float} — the NB log-odds filter with a
    PRE-TRAINED model (training belongs to a batch job, same
    versioned-artifact stance as the LM and signature indexes; the
    weight relation is persisted at stream start and broadcast per
    batch; unscorable documents are kept); ``max_bits_per_bigram``
    screens against the
    corpus-trained LM (None → skip); ``substring_k`` cuts duplicated
    spans (None → skip; ``within_batch=False`` by default so cleaned
    text never depends on micro-batch boundaries — batch backfill and
    any trigger config produce identical output; duplicates BETWEEN
    stream documents are the periodic re-index's job, same contract as
    the minhash stream); ``near_dedup`` = kwargs num_hashes /
    num_bands / shingle_k / min_jaccard_est for the corpus-index drop
    (None → skip; unknown keys raise); ``decontaminate`` = {"bench":
    benchmark DataFrame, "n": 3, "m_bits": 1<<16, "k": 2,
    "max_hit_rate": 0.0} — bench n-grams collapse into ONE Bloom word
    table at stream start (persisted, broadcast per batch); documents
    whose distinct-n-gram hit_rate exceeds ``max_hit_rate`` are dropped
    (0.0 = any maybe-hit drops; clean verdicts are exact — the filter
    has no false negatives).

    ``max_files_per_trigger`` bounds each micro-batch (same backpressure
    knob as the statement ingest stream: without it, availableNow plans
    ONE corpus-sized batch and every per-batch join scales with the
    whole backfill instead of the trigger size).

    Exactly-once: survivors land in per-batch hive partitions
    ``out_path/batch=<id>`` overwritten whole on checkpoint replay, so a
    crash after the write but before Spark's commit marker re-runs the
    batch into the SAME directory — no double-appended survivors (the
    cleanup output has no statement-id dedup net, unlike the ingest
    stream, so idempotency must come from the sink itself). Consumers
    read ``out_path`` as one table and may drop the ``batch`` column."""
    if max_files_per_trigger is not None and max_files_per_trigger < 1:
        raise ValueError(
            f"max_files_per_trigger must be >= 1, got {max_files_per_trigger}"
        )
    from ftm_columnstore_spark.operators.dedup import (
        _band_relation,
        corpus_gram_index,
        cross_pairs_from_banded,
        minhash_signature,
    )
    from ftm_columnstore_spark.operators.text import (
        quality_gate,
        score_with_bigram_lm,
        train_bigram_lm,
    )

    weights = None
    min_score = 0.0
    if classifier is not None:
        copts = dict(classifier)
        weights = copts.pop("weights")
        min_score = float(copts.pop("min_score", 0.0))
        if copts:
            raise ValueError(f"unknown classifier options: {sorted(copts)}")
        weights = persist(weights)
        weights.count()  # build at stream start, not first batch
    lm = None
    if max_bits_per_bigram is not None:
        c2, c1, vocab = train_bigram_lm(corpus, text_col, id_col)
        c2, c1 = persist(c2), persist(c1)
        c2.count(), c1.count()  # build indexes at stream start
        lm = (c2, c1, vocab)
    grams = None
    if substring_k is not None:
        grams = corpus_gram_index(
            corpus, text_col, id_col, substring_k
        ).transform(persist)
        grams.count()  # build the index at stream start, not first batch
    bloom_words = None
    dc_n, dc_m, dc_k, dc_max = 3, 1 << 16, 2, 0.0
    if decontaminate is not None:
        from ftm_columnstore_spark.operators.sketches import (
            bloom_build,
            word_ngrams,
        )

        dc = dict(decontaminate)
        dc_bench = dc.pop("bench")
        dc_n = int(dc.pop("n", dc_n))
        dc_m = int(dc.pop("m_bits", dc_m))
        dc_k = int(dc.pop("k", dc_k))
        dc_max = float(dc.pop("max_hit_rate", dc_max))
        if dc:
            raise ValueError(f"unknown decontaminate options: {sorted(dc)}")
        bloom_words = bloom_build(
            word_ngrams(dc_bench, text_col, None, dc_n), "gram", dc_m, dc_k
        ).transform(persist)
        bloom_words.count()  # build the filter at stream start
    banded = None
    nd = dict(near_dedup or {})
    allowed = {"num_hashes", "num_bands", "shingle_k", "min_jaccard_est"}
    if set(nd) - allowed:
        raise ValueError(
            f"unknown near_dedup keys {sorted(set(nd) - allowed)}; "
            f"allowed: {sorted(allowed)}"
        )
    min_jaccard_est = nd.pop("min_jaccard_est", 0.5)
    if near_dedup is not None:
        banded = _band_relation(
            minhash_signature(
                corpus,
                text_col,
                id_col,
                nd.get("num_hashes", 32),
                nd.get("shingle_k", 3),
            ),
            nd.get("num_bands", 8),
        ).transform(persist)
        # eager: the per-batch cross pairing reads it twice (band join +
        # signature join-back) — build once at stream start
        banded.count()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # Each stage builds a kill-set subquery FROM ``out`` and then
        # anti-joins it back onto ``out`` — lazily chained, stage k's
        # subquery would recompute stages 1..k-1 from the source, and
        # the span stage references ``out`` three times (cut + rewrite
        # + write). Persisting ``out`` at each stage boundary bounds
        # every branch to one upstream computation: measured 1.6x on
        # the 1M-doc soak drain (1215s -> 760s; steady batch wall
        # ~120s -> ~80s per 100k-doc batch) with byte-identical
        # survivors. The scope releases the per-batch cache even when
        # the batch write fails: a retried micro-batch must not stack
        # persisted frames.
        with scope():
            out = persist(batch_df)
            if out.isEmpty():
                return
            if quality is not None:
                gate = quality_gate(
                    out, text_col=text_col, id_col=id_col, **quality
                )
                keep = gate.where(F.col("keep")).select(
                    F.col("id").alias(id_col)
                )
                out = persist(out.join(keep, on=id_col, how="left_semi"))
            if bloom_words is not None:
                # contamination drop EARLY (map-side broadcast probe — the
                # cheapest reference-artifact stage) so contaminated docs
                # never reach the LM / signature passes
                from ftm_columnstore_spark.operators.sketches import (
                    bloom_ngram_hits,
                )

                hits = bloom_ngram_hits(
                    out, bloom_words, text_col, id_col, dc_n, dc_m, dc_k
                )
                dirty = hits.where(F.col("hit_rate") > dc_max).select(
                    F.col("id").alias(id_col)
                )
                out = persist(out.join(dirty, on=id_col, how="left_anti"))
            if weights is not None:
                from ftm_columnstore_spark.operators.text import (
                    score_quality_classifier,
                )

                nb = score_quality_classifier(out, weights, text_col, id_col)
                low = nb.where(F.col("nb_score") < min_score).select(
                    F.col("id").alias(id_col)
                )
                out = persist(out.join(low, on=id_col, how="left_anti"))
            if lm is not None:
                scored = score_with_bigram_lm(out, lm, text_col, id_col)
                bad = scored.where(
                    F.col("bits_per_bigram") > max_bits_per_bigram
                ).select(F.col("id").alias(id_col))
                out = persist(out.join(bad, on=id_col, how="left_anti"))
            if banded is not None:
                # near-dup drop BEFORE the span cut: a document fully
                # contained in the corpus would otherwise be cut down to
                # crumbs the signature can no longer recognise (the same
                # dedup-before-span pipeline-order lesson as the batch path)
                sigs = minhash_signature(
                    out,
                    text_col,
                    id_col,
                    nd.get("num_hashes", 32),
                    nd.get("shingle_k", 3),
                )
                dup_ids = (
                    cross_pairs_from_banded(
                        _band_relation(sigs, nd.get("num_bands", 8)),
                        banded,
                        min_jaccard_est,
                    )
                    .select(F.col("new_id").alias(id_col))
                    .distinct()
                )
                out = persist(out.join(dup_ids, on=id_col, how="left_anti"))
            if grams is not None:
                from ftm_columnstore_spark.operators.dedup import (
                    exact_substring_dedup_cross,
                    rewrite_cut_text,
                )

                cut = exact_substring_dedup_cross(
                    out,
                    corpus_grams=grams,
                    text_col=text_col,
                    id_col=id_col,
                    k=substring_k,
                    within_batch=within_batch,
                )
                out = rewrite_cut_text(out, cut, text_col, id_col)
            _write_batch(out, out_path, batch_id)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.json(source_path)
    writer = docs.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
