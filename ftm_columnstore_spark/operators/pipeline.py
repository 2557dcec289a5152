"""One-call training-data preparation pipeline — the composition every
stage of this package exists for, packaged so a user can run the whole
cleanup with defaults and override per-stage knobs:

    quality gate (Gopher rules) → NB classifier filter (CCNet/
    RefinedWeb-style) → perplexity bucket filter (CCNet) →
    C4 line-quality strip → line-level dedup (C4) → exact dedup →
    ExactSubstr span cut → MinHash near-dedup → deterministic
    train/val/test split

Every stage is one of the individually oracle-checked operators; the
pipeline adds NO new semantics, only order. Order rationale (measured in
NOTES.md): cheap map-only filters first (gate), then the passes whose
cost grows with duplicate density (exact before near — collapsing exact
copies first removed the adversarial-corpus blow-up in both the SimHash
and Jaccard benchmarks).

Everything stays lazy; the stages that persist a mid-relation follow
:mod:`ftm_columnstore_spark.lifecycle` — consume the result inside a
``scope()`` to release them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ftm_columnstore_spark.lifecycle import persisting


@persisting
def prepare_training_data(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality: dict | None = None,
    decontaminate: dict | None = None,
    classifier: dict | None = None,
    perplexity: dict | None = None,
    c4_lines: dict | None = None,
    line_dedup_sep: str | None = "\n",
    substring_dedup: dict | None = None,
    near_dedup: dict | None = None,
    splits: dict[str, float] | None = None,
    seed: str = "",
) -> DataFrame:
    """Run the standard cleanup pipeline; returns the surviving rows of
    ``df`` (original columns) plus a ``split`` column when ``splits`` is
    given.

    ``quality``: kwargs for :func:`~ftm_columnstore_spark.operators.text.
    quality_gate` (None → skip the stage). ``classifier``: a dict with
    ``weights`` (the trained (token, weight) relation from
    :func:`~ftm_columnstore_spark.operators.text.
    train_quality_classifier`) and optional ``min_score`` (default 0.0)
    — documents scoring below it are dropped; documents with no
    in-vocabulary tokens are KEPT (unscorable != bad, same stance as
    the perplexity stage). One broadcast join + one agg, placed after
    the codegen-only gate and before the LM stage (cheap-first order).
    ``perplexity``: kwargs for
    :func:`~ftm_columnstore_spark.operators.text.perplexity_buckets`
    plus an optional ``keep`` tuple of bucket names (default
    ``("head", "middle")`` — drop the tail, the CCNet recipe).
    ``c4_lines``: kwargs for :func:`~ftm_columnstore_spark.operators.
    text.c4_line_filter` (None → skip) — the C4 boilerplate strip,
    run BEFORE line dedup per the C4 recipe; REWRITES ``text_col`` and
    drops documents with no surviving line.
    ``line_dedup_sep``: separator for :func:`~ftm_columnstore_spark.
    operators.dedup.line_dedup` (None → skip; note this stage REWRITES
    ``text_col`` to the cleaned text). ``substring_dedup``: kwargs for
    :func:`~ftm_columnstore_spark.operators.dedup.
    exact_substring_dedup` (None → skip; also rewrites ``text_col`` —
    the cut preserves the ORIGINAL bytes outside the removed spans, so
    documents with no duplicated spans pass through unchanged — and
    runs AFTER exact dedup: whole-document copies are collapsed
    cheaply first, then only partial overlap pays the span machinery).
    ``near_dedup``: kwargs for :func:`~ftm_columnstore_spark.
    operators.dedup.minhash_dedup` (None → skip). ``splits``: weights
    for :func:`~ftm_columnstore_spark.operators.sampling.split_by_hash`.
    ``decontaminate``: {"bench": benchmark DataFrame, "n": 3,
    "m_bits": 1<<16, "k": 2, "max_hit_rate": 0.0} — drops documents
    whose distinct-n-gram Bloom hit_rate against the bench set exceeds
    the threshold (:func:`~ftm_columnstore_spark.operators.sketches.
    bloom_ngram_decontaminate`; no false negatives, so clean docs are
    exactly clean). Runs right after the gate — the same stage, same
    defaults, and same placement as the streaming cleaner's
    decontaminate, so batch backfill and ingest agree.
    """
    from ftm_columnstore_spark.operators.dedup import (
        dedup_exact,
        exact_substring_dedup,
        line_dedup,
        minhash_dedup,
    )
    from ftm_columnstore_spark.operators.sampling import split_by_hash
    from ftm_columnstore_spark.operators.text import (
        perplexity_buckets,
        quality_gate,
    )

    out = df
    if quality is not None:
        gate = quality_gate(out, text_col=text_col, id_col=id_col, **quality)
        keep_ids = gate.where(F.col("keep")).select(
            F.col("id").alias(id_col)
        )
        out = out.join(keep_ids, on=id_col, how="left_semi")
    if decontaminate is not None:
        from ftm_columnstore_spark.operators.sketches import (
            bloom_ngram_decontaminate,
        )

        kwargs = dict(decontaminate)
        bench = kwargs.pop("bench")
        max_hit_rate = float(kwargs.pop("max_hit_rate", 0.0))
        allowed = {"n", "m_bits", "k"}
        if set(kwargs) - allowed:
            raise ValueError(
                f"unknown decontaminate options: {sorted(set(kwargs) - allowed)}"
            )
        hits = bloom_ngram_decontaminate(
            out, bench, text_col=text_col, id_col=id_col, **kwargs
        )
        dirty = hits.where(F.col("hit_rate") > max_hit_rate).select(
            F.col("id").alias(id_col)
        )
        out = out.join(dirty, on=id_col, how="left_anti")
    if classifier is not None:
        from ftm_columnstore_spark.operators.text import (
            score_quality_classifier,
        )

        kwargs = dict(classifier)
        weights = kwargs.pop("weights")
        min_score = float(kwargs.pop("min_score", 0.0))
        if kwargs:
            raise ValueError(f"unknown classifier options: {sorted(kwargs)}")
        scored = score_quality_classifier(
            out, weights, text_col=text_col, id_col=id_col
        )
        drop_ids = scored.where(F.col("nb_score") < min_score).select(
            F.col("id").alias(id_col)
        )
        out = out.join(drop_ids, on=id_col, how="left_anti")
    if perplexity is not None:
        kwargs = dict(perplexity)
        keep_buckets = tuple(kwargs.pop("keep", ("head", "middle")))
        graded = perplexity_buckets(
            out, text_col=text_col, id_col=id_col, **kwargs
        )
        # docs with < 2 tokens have no bigrams and thus no grade — they
        # are KEPT (ungradable != bad; dropping tiny docs is the quality
        # gate's job), so keeping every bucket stays a no-op
        drop_ids = graded.where(
            ~F.col("bucket").isin(*keep_buckets)
        ).select(F.col("id").alias(id_col))
        out = out.join(drop_ids, on=id_col, how="left_anti")
    if c4_lines is not None:
        from ftm_columnstore_spark.operators.text import c4_line_filter

        c4_out = c4_line_filter(
            out, text_col=text_col, id_col=id_col, **c4_lines
        )
        filtered = c4_out.where(F.col("n_kept") > 0)
        out = out.drop(text_col).join(
            filtered.select(
                F.col("id").alias(id_col), F.col("text").alias(text_col)
            ),
            on=id_col,
        )
    if line_dedup_sep is not None:
        deduped_lines = line_dedup(
            out, text_col=text_col, id_col=id_col, sep=line_dedup_sep
        )
        cleaned = deduped_lines.where(F.col("n_kept") > 0)
        out = (
            out.drop(text_col)
            .join(
                cleaned.select(
                    F.col("id").alias(id_col), F.col("text").alias(text_col)
                ),
                on=id_col,
            )
        )
    out = dedup_exact(out, text_col=text_col, id_col=id_col)
    if substring_dedup is not None:
        from ftm_columnstore_spark.operators.dedup import rewrite_cut_text

        cut = exact_substring_dedup(
            out, text_col=text_col, id_col=id_col, **substring_dedup
        )
        out = rewrite_cut_text(out, cut, text_col, id_col)
    if near_dedup is not None:
        out = minhash_dedup(
            out, text_col=text_col, id_col=id_col, **near_dedup
        )
    if splits is not None:
        out = split_by_hash(out, splits, id_col=id_col, seed=seed)
    return out
