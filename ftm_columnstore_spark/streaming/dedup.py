"""Streaming incremental near-dedup (north-star extension): each
micro-batch of incoming documents is MinHash-signed and banded-joined
against a STATIC corpus signature index; documents with a near-dup in
the corpus are dropped, survivors append to the output path.

Why ``foreachBatch`` and not a stream-static join: the signature
derivation is an aggregation (min over shingle hashes per document),
and Structured Streaming does not allow an aggregation upstream of a
join in append mode. Inside foreachBatch each micro-batch is a bounded
batch DataFrame, so the full batch machinery (groupBy agg + bucket
join) applies unchanged — and the batch/streaming paths share the exact
same operators (``minhash_signature`` / ``cross_pairs_from_banded``),
so there is one dedup semantics, not two.

Scale shape per batch: the corpus is banded ONCE at stream start and
persisted (this is the relation a persisted dedup index stores); each
batch pays only its own signing (one agg shuffle on the batch's doc
ids, batch-sized) plus the (band, bucket) join against the index.
Corpus growth: this operator treats the corpus as static for the
stream's lifetime — survivors are appended to the OUTPUT, not the
index. Folding survivors back into the index is a periodic batch job
(re-band the appended parquet), keeping the streaming path free of
self-referential state; within-stream duplicates are caught by the
upstream exact-dedup watermark stage or the periodic re-index, mirroring
how the batch store splits dedup-on-read from compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ftm_columnstore_spark.lifecycle import persist, scope
from ftm_columnstore_spark.operators.dedup import (
    _band_relation,
    cross_pairs_from_banded,
    minhash_signature,
)
from ftm_columnstore_spark.streaming.release import released_on_termination


@released_on_termination
def stream_dedup_against_corpus(
    spark: SparkSession,
    source_path: str,
    corpus: DataFrame,
    out_path: str,
    checkpoint_path: str,
    schema,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 3,
    num_bands: int = 8,
    min_jaccard_est: float = 0.5,
    available_now: bool = False,
) -> StreamingQuery:
    """Start the dedup stream; returns the StreamingQuery handle.

    ``corpus`` is the reference document set (batch DataFrame with
    ``id_col``/``text_col``); its banded signature index is built once
    here. ``schema`` is the JSON schema of the incoming documents.
    ``available_now=True`` drains the current source contents and stops
    (backfill/test mode)."""
    corpus_banded = _band_relation(
        minhash_signature(corpus, text_col, id_col, num_hashes, shingle_k),
        num_bands,
    ).transform(persist)
    # eager: build the index NOW, once — a lazy persist would make the
    # first micro-batch's two consumers (band join + signature join-back)
    # race to compute the corpus lineage concurrently
    corpus_banded.count()

    def process(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sigs = minhash_signature(
            batch_df, text_col, id_col, num_hashes, shingle_k
        )
        dup_ids = (
            cross_pairs_from_banded(
                _band_relation(sigs, num_bands),
                corpus_banded,
                min_jaccard_est,
            )
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        batch_df.join(dup_ids, on=id_col, how="left_anti").write.mode(
            "append"
        ).parquet(out_path)

    docs = spark.readStream.schema(schema).json(source_path)
    writer = (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


@released_on_termination
def stream_substring_cut_against_corpus(
    spark: SparkSession,
    source_path: str,
    corpus: DataFrame,
    out_path: str,
    checkpoint_path: str,
    schema,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    within_batch: bool = True,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming ExactSubstr: every micro-batch loses the >= ``k``-token
    runs already present in the static corpus (and, per micro-batch,
    its own internal duplicates) before the CLEANED text appends to
    ``out_path`` — span-level cutting at ingest, where
    :func:`stream_dedup_against_corpus` drops whole documents.

    The corpus gram index (:func:`~ftm_columnstore_spark.operators.
    dedup.corpus_gram_index`) is built and persisted ONCE at stream
    start; each batch pays only its own gram derive plus the probe join
    — identical semantics and operators as the batch path
    (:func:`~ftm_columnstore_spark.operators.dedup.
    exact_substring_dedup_cross`), so batch backfill and streaming
    ingest produce byte-identical cleaned text. Same index-refresh
    contract as the minhash stream: survivors append to the OUTPUT;
    folding them into the index is a periodic batch re-index."""
    from ftm_columnstore_spark.operators.dedup import (
        corpus_gram_index,
        exact_substring_dedup_cross,
    )

    grams = persist(corpus_gram_index(corpus, text_col, id_col, k))
    grams.count()  # build the index at stream start, not first batch

    def process(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        with scope():
            exact_substring_dedup_cross(
                batch_df,
                corpus_grams=grams,
                text_col=text_col,
                id_col=id_col,
                k=k,
                within_batch=within_batch,
            ).write.mode("append").parquet(out_path)

    docs = spark.readStream.schema(schema).json(source_path)
    writer = (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
