"""Text-analysis operators over a documents table (north-star extension;
SURVEY §7 step 9 — language-ID, quality scoring, token counting, document
fingerprinting). All pure-column expressions; designed to run as one scan
over 100 TB of text with no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ftm_columnstore_spark.functions.text import word_tokens_col
from ftm_columnstore_spark.lifecycle import persist, persisting

#: tiny per-language stopword marker sets for the n-gram/stopword heuristic.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "with", "for", "was"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "für", "von"),
    "fr": ("le", "la", "les", "et", "est", "pas", "une", "pour", "que", "dans"),
    "es": ("el", "la", "los", "las", "es", "una", "por", "que", "para", "con"),
}


def token_count_col(text: Column | str) -> Column:
    """Whitespace-ish token count (BPE-ish proxy: alnum runs)."""
    return F.size(word_tokens_col(text))


def language_id_col(text: Column | str) -> Column:
    """Stopword-voting language ID: the language whose marker set overlaps
    the document's token set the most; 'und' (undetermined) when no marker
    hits. Columnar: one array_intersect per language over the token set."""
    tokens = F.array_distinct(word_tokens_col(text))
    scored = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(
                        tokens, F.array(*[F.lit(m) for m in markers])
                    )
                ).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, markers in sorted(_LANG_MARKERS.items())
        ]
    )
    best = F.array_max(scored)
    return F.when(best.getField("score") > 0, best.getField("lang")).otherwise(
        F.lit("und")
    )


def quality_score_col(text: Column | str) -> Column:
    """Heuristic quality in [0,1]: penalize too-short docs, extreme mean
    word length, and high non-alnum ratio (boilerplate/garbage signals)."""
    t = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(t)
    tokens = word_tokens_col(t)
    n_tokens = F.size(tokens)
    alnum_chars = F.length(F.regexp_replace(F.lower(t), "[^a-z0-9]", ""))
    mean_len = alnum_chars / F.greatest(n_tokens, F.lit(1))
    len_ok = F.least(n_tokens / F.lit(20.0), F.lit(1.0))
    word_ok = F.when((mean_len >= 3) & (mean_len <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    alnum_ratio = alnum_chars / F.greatest(n_chars, F.lit(1))
    return F.round(len_ok * word_ok * alnum_ratio, 4)


def doc_fingerprint_col(text: Column | str) -> Column:
    """Deterministic 64-bit-ish document fingerprint: xxhash64 over the
    normalized token stream (rolling-hash analogue, exact-normalized dedup
    key)."""
    return F.xxhash64(F.array_join(word_tokens_col(text), " "))


def repetition_stats(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 3,
) -> DataFrame:
    """Within-document repetition profile (the Gopher/MassiveText
    repetition filters, Rae et al. 2021 §A1.1): per document, the total /
    distinct / most-frequent n-gram counts, from which the duplicate-
    n-gram fraction (``1 - n_distinct/n_grams``) and top-gram fraction
    follow as plain columns.

    Shape: a single Arrow-batched narrow pass — each document's Counter
    lives only inside its batch, so the operator is embarrassingly
    parallel with ZERO shuffles at any corpus size (contrast a relational
    groupBy(doc, gram) formulation, which shuffles one row per n-gram
    occurrence). Same measured rationale as `shingle_sets`: token-
    granular derives are Arrow + C-speed, not interpreted HOF lambdas.

    Documents with fewer than ``ngram_n`` tokens yield no row (they have
    no n-grams — matches the SQL formulation's WHERE len >= n)."""
    import re as _re
    from collections import Counter

    import pandas as pd
    from pyspark.sql import types as T

    from ftm_columnstore_spark.functions.text import NON_ALNUM, fan_out

    documents = fan_out(documents)
    out_schema = T.StructType(
        [
            T.StructField("id", documents.schema[id_col].dataType),
            T.StructField("n_grams", T.LongType(), False),
            T.StructField("n_distinct", T.LongType(), False),
            T.StructField("top_count", T.LongType(), False),
        ]
    )
    pat = _re.compile(NON_ALNUM)
    n = ngram_n

    def gen(batches):
        for pdf in batches:
            ids, totals, dists, tops = [], [], [], []
            for doc_id, txt in zip(pdf["id"], pdf["__text"]):
                if not isinstance(txt, str):
                    continue
                toks = [t for t in pat.split(txt.lower()) if t]
                if len(toks) < n:
                    continue
                counts = Counter(
                    tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)
                )
                ids.append(doc_id)
                totals.append(sum(counts.values()))
                dists.append(len(counts))
                tops.append(max(counts.values()))
            if ids:  # empty frames default to float64 columns
                yield pd.DataFrame(
                    {
                        "id": ids,
                        "n_grams": pd.Series(totals, dtype="int64"),
                        "n_distinct": pd.Series(dists, dtype="int64"),
                        "top_count": pd.Series(tops, dtype="int64"),
                    }
                )

    narrow = documents.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__text")
    )
    return narrow.mapInPandas(gen, schema=out_schema)


def analyze_documents(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One-scan document profile: tokens, language, quality, fingerprint."""
    return documents.select(
        id_col,
        token_count_col(text_col).alias("n_tokens"),
        language_id_col(text_col).alias("lang_pred"),
        quality_score_col(text_col).alias("quality"),
        doc_fingerprint_col(text_col).alias("fingerprint"),
    )


#: broadcast bound for the distinct-bigram count relation: ~5M rows of
#: (w1, w2, count) is a few hundred MB serialized — comfortably inside
#: Spark's broadcast limit while leaving driver headroom.
_C2_BROADCAST_ROWS = 5_000_000


def _gate_c2(c2: DataFrame, vocab_size: int) -> DataFrame:
    """Build-side guard for the distinct-bigram relation: unlike c1
    (vocabulary-bounded), c2 grows ~with the corpus (Heaps' law), so a
    forced broadcast can exceed the broadcast limit / driver memory on
    a corpus this operator's docstring claims to survive. Broadcast
    only when provably or measurably small (vocab² bound skips the
    count job for small vocabularies); otherwise pin c2 as the BUILD
    side of a shuffled hash join — the stream side must never be the
    corpus-sized bigram relation (the measured 119s inversion).

    When the vocab² bound can't prove smallness, the gate must COUNT
    c2 — and c2's lineage is the full corpus bigram aggregation, so the
    count is materialized (localCheckpoint) before measuring: counting
    the raw lineage would run that aggregation once for the gate and
    AGAIN inside the join, doubling the dominant cost."""
    if vocab_size * vocab_size <= _C2_BROADCAST_ROWS:
        return F.broadcast(c2)
    c2 = c2.localCheckpoint(eager=True)
    if c2.count() <= _C2_BROADCAST_ROWS:
        return F.broadcast(c2)
    return c2.hint("shuffle_hash")


def _bigram_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, w1, w2) — one row per consecutive token pair, derived
    NARROWLY: the token array sliced into positions [1..n-1] and
    [2..n] and zipped. Replaces the posexplode + per-doc lag-window
    form: identical multiset of bigrams, but zero shuffles and cheap
    enough to recompute per consumer instead of checkpointing a
    corpus-sized intermediate."""
    ts = word_tokens_col(text_col)
    n1 = F.greatest(F.size(ts) - 1, F.lit(0))
    z = F.arrays_zip(
        F.slice(ts, 1, n1).alias("w1"), F.slice(ts, 2, n1).alias("w2")
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(z).alias("p")
    ).select("id", "p.w1", "p.w2")


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
) -> DataFrame:
    """Per-document cross-entropy under a corpus-trained add-k bigram LM —
    the KenLM-style quality proxy used by CCNet-like pipelines: documents
    scoring far above the corpus mean are atypical (boilerplate, noise,
    wrong language). score = mean over a doc's bigrams of
    ``-log2 P(w2|w1)`` with ``P = (c(w1,w2)+k) / (c(w1)+k·V)``.

    Fully relational (100 TB path): tokenize AND the bigram derive are
    narrow (consecutive array slices zipped — no per-doc window, no
    shuffle, nothing materialized; each consumer recomputes the cheap
    map lineage rather than checkpointing a corpus-sized bigram
    relation, which measured 18× super-linear at a 500k-doc soak from
    the checkpoint's serialize+spill alone); the LM "training" is two
    corpus-wide aggregations on token keys whose outputs are
    vocabulary-sized (AQE broadcasts them back when small); the scoring
    join shuffles on the bigram key. Docs with < 2 tokens are excluded
    (they have no bigrams). Output: (id, n_bigrams, bits_per_bigram)."""
    vocab_size = (
        df.select(F.explode(word_tokens_col(text_col)).alias("w"))
        .distinct()
        .count()
    )
    big = _bigram_rows(df, text_col, id_col)
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    bits = (
        F.log(F.col("c1").cast("double") + F.lit(float(k) * vocab_size))
        - F.log(F.col("c2").cast("double") + F.lit(float(k)))
    ) / F.log(F.lit(2.0))
    # EXPLICIT build-side control on the count relations: Catalyst's
    # size estimate downstream of explode+join is unreliable enough
    # that it chose BuildLeft here — broadcasting the CORPUS-sized
    # bigram stream and probing it with the 31-row c1 (measured 119s
    # vs 13s for a 27M-bigram corpus). c1 is vocabulary-bounded →
    # always broadcast; c2 is the DISTINCT-BIGRAM relation, which
    # grows with the corpus (Heaps' law), so it is broadcast only
    # below a row bound and otherwise becomes the BUILD side of a
    # shuffled hash join (_gate_c2 — never the stream side).
    #
    # bits is PROJECTED before the aggregate: avg(<log expression>)
    # inline evaluates the expression on the interpreted path inside
    # the agg (measured 178s vs 17s over 27M bigrams); avg over a
    # projected column stays in whole-stage codegen.
    return (
        big.join(_gate_c2(c2, vocab_size), on=["w1", "w2"])
        .join(F.broadcast(c1), on="w1")
        .withColumn("__bits", bits)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("__bits"), 6).alias("bits_per_bigram"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top: int = 3,
) -> DataFrame:
    """Top-``top`` characteristic terms per document by smoothed TF-IDF
    (``tf · (ln((N+1)/(df+1)) + 1)``), ties broken lexicographically —
    the classic keyword-extraction / feature-selection pass.

    Relational: term frequencies are one groupBy(id, term); document
    frequencies one vocabulary-keyed aggregation; ranking one window on
    the doc id (WindowGroupLimit prunes to top-k per group before the
    final sort). Output: (id, term, tfidf, rank)."""
    from pyspark.sql import Window

    n_docs = df.select(F.col(id_col)).distinct().count()
    terms = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_tokens_col(text_col)).alias("term"),
    )
    # localCheckpoint: dfreq aggregates tf and the scoring join reads it
    # again; blocks release once unreferenced (no stranded cache entries)
    tf = (
        terms.groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(float(n_docs + 1)) / (F.col("df").cast("double") + F.lit(1.0))
    ) + F.lit(1.0)
    scored = tf.join(dfreq, on="term").select(
        "id", "term", (F.col("tf").cast("double") * idf).alias("tfidf")
    )
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
        .select(
            "id",
            "term",
            F.round("tfidf", 6).alias("tfidf"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    window: int = 4,
) -> DataFrame:
    """MOSS winnowing fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003): hash every k-token gram, slide a ``window``-wide window
    over the per-document hash sequence, and keep each window's minimum —
    guaranteeing any shared token run of length >= window + k - 1 between
    two documents produces at least one shared fingerprint. The standard
    local document-fingerprinting scheme for partial-overlap / plagiarism
    detection, complementing MinHash (whole-document similarity).

    Scale shape: tokenize is narrow; gram construction and the rolling
    min are TWO window passes over the SAME (id, pos) sort — Spark reuses
    one shuffle + sort for both. Everything is codegen (md5/conv/concat),
    no Python. Output ``(id, fp)`` distinct; at 100 TB this is one
    shuffle on doc id plus the final distinct.

    Portability: the gram hash is the engine-portable 60-bit md5 prefix
    (Spark ``conv(substr(md5(g),1,15),16,10)`` == DuckDB
    ``('0x'||substr(md5(g),1,15))::BIGINT``) so any SQL engine can
    reproduce fingerprints bit-for-bit for audits.

    Documents with fewer than ``k`` tokens yield no row; documents with
    1..window-1 grams yield their single minimum hash (so every hashable
    document keeps at least one fingerprint)."""
    from pyspark.sql import Window

    if k < 1 or window < 1:
        raise ValueError("k and window must be >= 1")
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.posexplode(word_tokens_col(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, k)]
    # positions are dense per doc, so lead(k-1) NULL <=> incomplete gram;
    # the when() gate matters because concat_ws silently skips NULLs
    gram = F.when(
        F.lead("tok", k - 1).over(w).isNotNull() | F.lit(k == 1),
        F.concat_ws(" ", *parts),
    )
    grams = toks.select("id", "pos", gram.alias("gram")).where(
        F.col("gram").isNotNull()
    )
    h = F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("long")
    hg = grams.select("id", "pos", h.alias("h"))
    roll = F.min("h").over(w.rowsBetween(0, window - 1))
    full = F.lead("h", window - 1).over(w)
    return (
        hg.select(
            "id",
            "pos",
            roll.alias("fp"),
            (full.isNotNull() | (F.col("pos") == 0)).alias("__keep"),
        )
        .where(F.col("__keep"))
        .select("id", "fp")
        .distinct()
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints —
    the MOSS match step (local-overlap detection: quotes, boilerplate,
    partial plagiarism) that whole-document MinHash misses.

    ``max_df`` drops fingerprints occurring in more than that many
    documents before the self-join — the inverted-index stopword cap that
    keeps hot boilerplate fingerprints (page headers, licence blocks)
    from exploding the pair count at corpus scale. The join shuffles on
    the fingerprint value only; per-fingerprint fan-out is bounded by
    max_df, so worst-case pair expansion is max_df² per fingerprint, not
    corpus².

    Output: (left_id, right_id, n_shared), left_id < right_id."""
    fps = winnow_fingerprints(
        df, text_col=text_col, id_col=id_col, k=k, window=window
    )
    # both join sides (and the optional frequency filter) read fps;
    # localCheckpoint so the tokenize + double-window lineage runs once
    fps = fps.localCheckpoint(eager=True)
    if max_df is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_df)
            .select("fp")
        )
        fps = fps.join(F.broadcast(hot), on="fp", how="left_anti")
    left = fps.select(F.col("id").alias("left_id"), "fp")
    right = fps.select(F.col("id").alias("right_id"), "fp")
    return (
        left.join(right, on="fp")
        .where(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


#: PII patterns — deliberately RE2-compatible (no lookarounds/backrefs)
#: so the same patterns run verbatim in Spark (Java regex) and any
#: RE2-based engine (DuckDB/Go) for cross-engine audits.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "card": r"\b\d{16}\b",
}


def pii_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document PII detection counts + redacted text — the standard
    training-data scrub pass (emails / IPv4s / 16-digit card-like runs).

    Pure codegen: ``regexp_extract_all`` for counts, chained
    ``regexp_replace`` for redaction — no UDF, no shuffle (embarrassingly
    parallel over input partitions; at 100 TB this is a map-only stage
    whose cost is the scan itself)."""
    c = F.col(text_col)
    counts = {
        name: F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        for name, pat in PII_PATTERNS.items()
    }
    redacted = c
    for name, pat in PII_PATTERNS.items():
        redacted = F.regexp_replace(redacted, pat, f"[{name.upper()}]")
    return df.select(
        F.col(id_col).alias("id"),
        counts["email"].cast("long").alias("n_emails"),
        counts["ipv4"].cast("long").alias("n_ipv4"),
        counts["card"].cast("long").alias("n_cards"),
        redacted.alias("redacted"),
    )


def quality_gate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alnum_ratio: float = 0.6,
    min_stopwords: int = 2,
    stopwords: tuple[str, ...] = _LANG_MARKERS["en"],
    max_dup_ngram_frac: float | None = None,
    ngram_n: int = 3,
) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021 §A1.1,
    adapted): token-count bounds, mean-word-length band, alphanumeric
    character ratio, minimum distinct-stopword presence, and (optional)
    the duplicate-n-gram repetition cap. Returns every non-null-text row
    with its metrics and a ``keep`` verdict — filtering is the caller's
    ``where(keep)``, so rejected rows stay inspectable (the audit
    pattern every real pipeline wants).

    Scale shape: the columnar rules are ONE codegen scan, zero shuffles.
    The repetition rule (when enabled) joins the zero-shuffle Arrow pass
    :func:`repetition_stats` on the doc id — one shuffle, and only when
    asked for. Documents with fewer than ``ngram_n`` tokens have no
    n-grams; their dup fraction is 0 (can't repeat what doesn't exist).
    """
    t = F.col(text_col)
    tokens = word_tokens_col(t)
    n_tokens = F.size(tokens)
    alnum_chars = F.length(F.regexp_replace(F.lower(t), "[^a-z0-9]", ""))
    mean_len = alnum_chars / F.greatest(n_tokens, F.lit(1))
    alnum_ratio = alnum_chars / F.greatest(F.length(t), F.lit(1))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(tokens), F.array(*[F.lit(s) for s in stopwords])
        )
    )
    base = df.where(t.isNotNull()).select(
        F.col(id_col).alias("id"),
        n_tokens.alias("n_tokens"),
        mean_len.alias("__mean_len"),
        alnum_ratio.alias("__alnum_ratio"),
        n_stop.alias("n_stopwords"),
    )
    keep = (
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("__mean_len") >= min_mean_word_len)
        & (F.col("__mean_len") <= max_mean_word_len)
        & (F.col("__alnum_ratio") >= min_alnum_ratio)
        & (F.col("n_stopwords") >= min_stopwords)
    )
    if max_dup_ngram_frac is not None:
        rep = repetition_stats(
            df.where(t.isNotNull()), text_col, id_col, ngram_n
        ).select(
            "id",
            (
                F.lit(1.0)
                - F.col("n_distinct") / F.col("n_grams").cast("double")
            ).alias("__dup_frac"),
        )
        base = base.join(rep, on="id", how="left").withColumn(
            "__dup_frac", F.coalesce("__dup_frac", F.lit(0.0))
        )
        keep = keep & (F.col("__dup_frac") <= max_dup_ngram_frac)
        return base.select(
            "id",
            "n_tokens",
            F.round("__mean_len", 6).alias("mean_word_len"),
            F.round("__alnum_ratio", 6).alias("alnum_ratio"),
            "n_stopwords",
            F.round("__dup_frac", 6).alias("dup_frac"),
            keep.alias("keep"),
        )
    return base.select(
        "id",
        "n_tokens",
        F.round("__mean_len", 6).alias("mean_word_len"),
        F.round("__alnum_ratio", 6).alias("alnum_ratio"),
        "n_stopwords",
        keep.alias("keep"),
    )


def perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cutoffs: tuple[float, float] = (4.871234, 4.912345),
    k: float = 0.5,
) -> DataFrame:
    """CCNet-style head/middle/tail quality partition (Wenzek et al.
    2020 §4.3): documents bucketed by their LM cross-entropy —
    ``head`` (most fluent) below ``cutoffs[0]`` bits/bigram, ``middle``
    below ``cutoffs[1]``, ``tail`` above. Downstream pipelines keep
    head+middle or re-weight by bucket.

    Cutoffs are FIXED constants, exactly as CCNet uses thresholds from
    a reference distribution: bucketing by per-batch quantiles would
    need a global sort (or an approximate-quantile pass whose result
    differs engine-to-engine) and would silently re-grade documents as
    the batch mix shifts — fixed cutoffs are reproducible, incremental
    (a new batch buckets without seeing the corpus), and auditable.
    Calibrate them once per corpus/LM with ``percentile_approx`` over
    :func:`bigram_lm_scores` output and pin the values.

    Adds zero shuffles on top of :func:`bigram_lm_scores` (one codegen
    CASE over its aggregate). Output: (id, n_bigrams, bits_per_bigram,
    bucket)."""
    lo, hi = float(cutoffs[0]), float(cutoffs[1])
    if not lo < hi:
        raise ValueError(f"cutoffs must be increasing, got {cutoffs}")
    scored = bigram_lm_scores(df, text_col, id_col, k)
    return scored.withColumn(
        "bucket",
        F.when(F.col("bits_per_bigram") < lo, F.lit("head"))
        .when(F.col("bits_per_bigram") < hi, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Fixed-size token-window chunking with overlap — the RAG /
    context-window prep step: each document becomes ceil-strided chunks
    of ``size`` tokens starting every ``size - overlap`` tokens, the
    last chunk ending at the document end (short documents yield one
    whole-document chunk; empty documents yield none).

    Chunk starts are ``i * stride`` for ``i = 0 .. ceil(max(n - size,
    0) / stride)`` — deterministic, positionally stable (editing a
    document's tail never renumbers earlier chunks), and reproducible
    in any engine for audits.

    Scale shape: tokenize + per-row sequence explode — completely
    narrow, ZERO shuffles at any corpus size; chunk rows inherit the
    input partitioning. Pair with :func:`~ftm_columnstore_spark.
    operators.sampling.pack_sequences` to re-pack chunks to a training
    context budget.

    Output: (id, chunk_no, n_chunk_tokens, text).
    """
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    if not 0 <= overlap < size:
        raise ValueError(
            f"overlap must be in [0, size), got {overlap} for size {size}"
        )
    stride = size - overlap
    toks = F.coalesce(
        word_tokens_col(text_col), F.array().cast("array<string>")
    )
    base = df.select(F.col(id_col).alias("id"), toks.alias("toks"))
    n = F.size(F.col("toks"))
    last = F.ceil(
        F.greatest(n - size, F.lit(0)) / F.lit(float(stride))
    ).cast("int")
    chunked = base.where(n > 0).select(
        "id",
        "toks",
        F.explode(F.sequence(F.lit(0), last)).alias("chunk_no"),
    )
    piece = F.slice(
        F.col("toks"), F.col("chunk_no") * stride + 1, size
    )
    return chunked.select(
        "id",
        "chunk_no",
        F.size(piece).alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("text"),
    )


def train_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple:
    """Train the add-k bigram LM's sufficient statistics on a REFERENCE
    corpus: returns ``(c2, c1, vocab_size)`` where ``c2`` is the
    (w1, w2, c2) bigram-count relation, ``c1`` the (w1, c1) unigram-
    context counts, and ``vocab_size`` the distinct-token count.
    Persist the two relations to score many batches (or micro-batches)
    against one fixed reference distribution — the actual CCNet shape,
    where the LM is trained once on trusted text and applied to
    everything ingested afterwards (:func:`bigram_lm_scores` trains and
    scores on the SAME corpus; this split decouples them).

    Both relations are map-side-combinable aggregations on token keys;
    their size is vocabulary-bounded, independent of corpus size.

    Empty-LM contract: a reference corpus with zero tokens yields the
    degenerate-but-defined LM ``(empty c2, empty c1, vocab_size=1)`` —
    the vocabulary is floored at 1 so the add-k smoother
    ``(c2 + k) / (c1 + k·V)`` never divides by (or logs) zero; every
    scored bigram then falls back to ``-log2(k / k) = 0`` bits. The
    DuckDB oracle mirrors this with ``greatest(v.vs, 1)``."""
    vocab_size = max(
        df.select(F.explode(word_tokens_col(text_col)).alias("w"))
        .distinct()
        .count(),
        1,
    )
    big = _bigram_rows(df, text_col, id_col).select("w1", "w2")
    # ONE corpus pass: c1 folds out of c2 (sum of bigram counts per
    # context) — the vocabulary-sized c2 relation, never the corpus,
    # is re-aggregated (bigram_lm_scores localCheckpoints the same
    # lineage for the same reason)
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    return c2, c1, vocab_size


def score_with_bigram_lm(
    df: DataFrame,
    lm: tuple,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
) -> DataFrame:
    """Score documents against a PRE-TRAINED bigram LM (from
    :func:`train_bigram_lm`): bits/bigram of ``-log2 P(w2|w1)`` with
    ``P = (c2 + k) / (c1 + k·V)``; bigrams unseen in the reference
    corpus fall back to c2=0 (and c1=0 for unseen contexts), so
    out-of-domain text scores high — exactly the screening signal.

    One narrow bigram derive + one left join against the (vocabulary-
    bounded, broadcastable) count relations. Output:
    (id, n_bigrams, bits_per_bigram)."""
    c2, c1, vocab_size = lm
    big = _bigram_rows(df, text_col, id_col)
    # same build-side guard as bigram_lm_scores: c1 is vocabulary-
    # bounded (always broadcast); c2 grows with the REFERENCE corpus,
    # so its broadcast is gated behind a row bound (_gate_c2)
    joined = (
        big.join(_gate_c2(c2, vocab_size), on=["w1", "w2"], how="left")
        .join(F.broadcast(c1), on="w1", how="left")
        .withColumn("__c2", F.coalesce("c2", F.lit(0)))
        .withColumn("__c1", F.coalesce("c1", F.lit(0)))
    )
    bits = (
        F.log(
            F.col("__c1").cast("double") + F.lit(float(k) * vocab_size)
        )
        - F.log(F.col("__c2").cast("double") + F.lit(float(k)))
    ) / F.log(F.lit(2.0))
    # projected before the agg — avg(<expression>) inline runs the
    # expression interpreted inside the aggregate (see bigram_lm_scores)
    return (
        joined.withColumn("__bits", bits)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("__bits"), 6).alias("bits_per_bigram"),
        )
    )


def train_quality_classifier(
    good_df: DataFrame,
    bad_df: DataFrame,
    text_col: str = "text",
    alpha: float = 1.0,
) -> DataFrame:
    """Train a Naive-Bayes log-odds quality classifier — the
    discriminative document filter every modern pretraining pipeline
    runs (fastText-style classifiers in CCNet/Wenzek+'20 and
    RefinedWeb/Penedo+'23; multinomial NB is their closed-form,
    shuffle-friendly sibling): per-token weight

        w(t) = ln((cg+α)/(Ng+α·V)) − ln((cb+α)/(Nb+α·V))

    with cg/cb the token's count in the good/bad corpus, Ng/Nb the
    corpus token totals, V the joint vocabulary size (floored at 1 —
    the empty-corpus contract, learned from the t20 ln(0) episode:
    degenerate inputs yield a defined, empty-ish model, never a
    runtime error).

    Fully relational train: two token-count aggregations + one
    full-outer join, all map-side-combinable; the result is the
    vocabulary-bounded (token, weight) relation — persist it once and
    score every batch/stream against it. The three corpus totals are
    one bounded driver collect (3 int64s)."""
    gt = (
        good_df.select(F.explode(word_tokens_col(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cg"))
    )
    bt = (
        bad_df.select(F.explode(word_tokens_col(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    joint = (
        gt.join(bt, on="token", how="full_outer")
        .select(
            "token",
            F.coalesce("cg", F.lit(0)).alias("cg"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
        .localCheckpoint()  # vocabulary-bounded; cut the double lineage
    )
    tot = joint.agg(
        F.count(F.lit(1)).alias("v"), F.sum("cg").alias("ng"), F.sum("cb").alias("nb")
    ).collect()[0]
    v = max(int(tot["v"] or 0), 1)
    ng, nb = int(tot["ng"] or 0), int(tot["nb"] or 0)
    a = float(alpha)
    return joint.select(
        "token",
        (
            F.log((F.col("cg") + F.lit(a)) / F.lit(float(ng + a * v)))
            - F.log((F.col("cb") + F.lit(a)) / F.lit(float(nb + a * v)))
        ).alias("weight"),
    )


def score_quality_classifier(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents against a trained (token, weight) relation:
    mean per-token log-odds (length-normalized, so long documents don't
    dominate), rounded to 6 decimals per the repo's float-portability
    convention (NOTES.md). Positive → good-corpus-like.

    One narrow token explode + one BROADCAST join against the
    vocabulary-bounded weight relation (same build-side guard as
    score_with_bigram_lm) + one map-side-combinable aggregation.
    Out-of-vocabulary tokens carry no signal and are dropped (inner
    join); documents with zero in-vocabulary tokens yield no row."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_tokens_col(text_col)).alias("token"),
    )
    return (
        toks.join(F.broadcast(weights), on="token")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_scored_tokens"),
            F.round(F.avg("weight"), 6).alias("nb_score"),
        )
    )


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_words: int = 3,
    require_terminal: bool = True,
    blocklist: tuple = ("javascript",),
) -> DataFrame:
    """C4's line-quality rules (Raffel+'20 §2.2): keep only lines that
    end in terminal punctuation, contain at least ``min_words`` words,
    and mention no blocklisted term; reassemble each document from its
    surviving lines in original order. The boilerplate-stripping pass
    that runs BEFORE any dedup in the C4 recipe (nav bars, cookie
    banners, JS warnings are exactly what it removes).

    Scale shape (same as line_dedup): one narrow explode → map-only
    line predicates (pure codegen — regexes are RE2-compatible) → one
    per-document reassembly aggregation. No join against anything, no
    Python. Output: (id, n_lines, n_kept, text) for EVERY input
    document — ``n_lines`` counts non-blank lines, ``text`` is ''
    when nothing survives.

    Determinism contract (ADVICE r8): the two consumers below evaluate
    the exploded line relation independently, so ``df``'s lineage must
    be deterministic — an upstream ``sample()``/``rand()``/
    non-deterministic UDF could make ``n_lines`` and ``n_kept`` come
    from different evaluations and disagree. Pre-materialize
    (persist/checkpoint) such inputs before calling."""
    if min_words < 0:
        raise ValueError(f"min_words must be >= 0, got {min_words}")
    # NOTE (r08): this op deliberately computes the exploded line
    # relation TWICE (kept + counts) from the scan, with no fan_out and
    # no persist. Both "fixes" were tried and measured SLOWER here:
    # fan_out round-robins the full text corpus through an exchange
    # (min 0.57s → 1.19s at sf0.1), and persist additionally
    # materializes the exploded relation (≈ corpus-sized) for two
    # cheap codegen consumers. At scale the input is multi-split, so
    # the single-task concern doesn't apply, and re-scanning parquet
    # twice beats caching an exploded corpus.
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + sep + "\\E")
        ).alias("pos", "line"),
    ).where(F.trim("line") != "")
    keep = F.lit(True)
    if require_terminal:
        keep = keep & F.col("line").rlike('[.!?"]\\s*$')
    if min_words:
        keep = keep & (
            F.size(F.split(F.trim(F.col("line")), "\\s+")) >= min_words
        )
    for term in blocklist:
        keep = keep & ~F.lower(F.col("line")).contains(term.lower())
    kept = lines.where(keep)
    counts = lines.groupBy("id").agg(F.count(F.lit(1)).alias("n_lines"))
    rebuilt = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("__text"),
    )
    out = (
        df.select(F.col(id_col).alias("id"))
        .join(counts, on="id", how="left")
        .join(rebuilt, on="id", how="left")
        .select(
            "id",
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("__text", F.lit("")).alias("text"),
        )
    )
    return out


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    out_col: str | None = None,
) -> DataFrame:
    """Unicode-normalize a text column (NFC/NFD/NFKC/NFKD via
    ``unicodedata``) — the canonicalization step multilingual pipelines
    run before hashing/dedup so that visually-identical strings with
    different codepoint sequences (composed é vs e + combining accent)
    hash identically. Arrow-batched pandas UDF (no builtin Spark
    normalizer); map-only, no shuffle. Nulls pass through.

    NFC output is oracle-checkable against DuckDB's
    ``nfc_normalize``; compatibility forms (NFKC/NFKD) additionally
    fold width/ligature variants — the usual choice before
    tokenization."""
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")

    def _norm(s):
        return s.map(
            lambda x: unicodedata.normalize(form, x) if x is not None else None
        )

    udf = pandas_udf(_norm, "string")
    return df.withColumn(out_col or text_col, udf(F.col(text_col)))


def zipf_alpha(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 500,
) -> DataFrame:
    """Zipf power-law exponent of the corpus token distribution — the
    one-number sanity check that a scraped corpus still looks like
    natural language (natural text sits near alpha ≈ 1; boilerplate and
    spam skew it). Hill's estimator over the ``top_n`` most frequent
    tokens: alpha = 1 + n / Σ ln(f_i / f_min), f_min = the n-th
    frequency (Hill 1975; Clauset-Shalizi-Newman 2009 §3.1 treat it as
    the discrete-power-law MLE up to the x_min convention).

    Determinism/portability: frequencies are exact integers from one
    count; the top-n cut is a TakeOrderedAndProject by the total order
    (cnt DESC, token ASC); the only float work is one ln per ranked
    token, ROUNDED to 12 dp and summed as DECIMAL — an exact integer
    aggregation, so the sum is partition-order-independent (the house
    fix for float-sum wobble, cf. _dsum) — and one final division.
    Output: ONE row (n_ranked, f_min, alpha), alpha rounded to 6 dp;
    alpha is NULL when every ranked frequency equals f_min (the
    estimator's denominator is 0 — e.g. a tiny or uniform corpus)."""
    from ftm_columnstore_spark.functions.text import word_tokens_col

    if top_n < 2:
        raise ValueError(f"top_n must be >= 2, got {top_n}")
    counts = (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(word_tokens_col(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(int(top_n))
        .localCheckpoint(eager=True)  # bounded (≤ top_n rows); two consumers
    )
    fmin = counts.agg(F.min("cnt").alias("f_min"))
    terms = counts.crossJoin(F.broadcast(fmin)).select(
        "f_min",
        F.round(
            F.log(F.col("cnt").cast("double") / F.col("f_min").cast("double")),
            12,
        )
        .cast("decimal(28,12)")
        .alias("__lt"),
    )
    agg = terms.groupBy("f_min").agg(
        F.count(F.lit(1)).alias("n_ranked"),
        F.sum("__lt").alias("__s"),
    )
    alpha = F.when(
        F.col("__s") > 0,
        F.round(
            F.lit(1.0)
            + F.col("n_ranked").cast("double")
            / F.col("__s").cast("double"),
            6,
        ),
    )
    return agg.select("n_ranked", "f_min", alpha.alias("alpha"))


def _rake_doc(
    text: str, stops: set[str], top_k: int
) -> list[tuple[str, float, int]]:
    """Pure-Python per-document RAKE, arithmetic-identical to the
    relational path: ratio = HALF_UP(degree/freq, 12dp) summed as exact
    Decimal, score = HALF_UP(sum-as-double, 6dp) — the same BigDecimal
    tail Spark's round() applies (Double.toString and repr() both emit
    the shortest round-trip decimal, so the 12dp quantize sees the same
    digits). Pinned equal to the relational path by
    tests/test_text_functions.py::test_rake_arrow_matches_relational."""
    import re as _re
    from decimal import ROUND_HALF_UP, Decimal

    from ftm_columnstore_spark.functions.text import NON_ALNUM

    q12 = Decimal("1e-12")
    q6 = Decimal("1e-6")
    toks = [t for t in _re.split(NON_ALNUM, text.lower()) if t]
    phrases: list[list[str]] = []
    cur: list[str] = []
    for t in toks:
        if t in stops:
            if cur:
                phrases.append(cur)
                cur = []
        else:
            cur.append(t)
    if cur:
        phrases.append(cur)
    if not phrases:
        return []
    freq: dict[str, int] = {}
    degree: dict[str, int] = {}
    for p in phrases:
        for w in p:
            freq[w] = freq.get(w, 0) + 1
            degree[w] = degree.get(w, 0) + len(p)
    ratio = {
        w: Decimal(repr(degree[w] / freq[w])).quantize(
            q12, rounding=ROUND_HALF_UP
        )
        for w in freq
    }
    out = []
    for pid, p in enumerate(phrases):
        s = sum((ratio[w] for w in p), Decimal(0))
        score = float(
            Decimal(repr(float(s))).quantize(q6, rounding=ROUND_HALF_UP)
        )
        out.append((" ".join(p), score, len(p), pid))
    out.sort(key=lambda r: (-r[1], r[0], r[3]))
    return [(ph, sc, nw) for ph, sc, nw, _ in out[:top_k]]


def _rake_arrow(
    df: DataFrame,
    stops: list[str],
    id_col: str,
    text_col: str,
    top_k: int,
) -> DataFrame:
    """One narrow Arrow pass: RAKE is per-document, so the corpus never
    shuffles — the scale path (see rake_keywords docstring)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    id_type = df.schema[id_col].dataType
    schema = StructType(
        [
            StructField("id", id_type),
            StructField("phrase", StringType()),
            StructField("score", DoubleType()),
            StructField("n_words", LongType()),
        ]
    )
    stop_set = set(stops)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids, phs, scs, nws = [], [], [], []
            for i, txt in zip(pdf["id"], pdf["text"]):
                if txt is None or (isinstance(txt, float)):
                    continue
                for ph, sc, nw in _rake_doc(txt, stop_set, top_k):
                    ids.append(i)
                    phs.append(ph)
                    scs.append(sc)
                    nws.append(nw)
            yield pd.DataFrame(
                {"id": ids, "phrase": phs, "score": scs, "n_words": nws}
            )

    src = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    return src.mapInPandas(gen, schema)


@persisting
def rake_keywords(
    df: DataFrame,
    stopwords: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
    use_arrow: bool = True,
) -> DataFrame:
    """RAKE keyword extraction (Rose, Engel, Cramer & Cowley, "Automatic
    Keyword Extraction from Individual Documents", 2010): candidate
    phrases are maximal runs of non-stopword tokens; each word scores
    degree/frequency (degree = summed length of the phrases its
    occurrences sit in), and a phrase scores the sum of its words'
    ratios. The reference has no keyword surface; this is the
    unsupervised topic-probe an LLM-data pipeline runs per document.

    Two executions, pinned equal by test:

    - ``use_arrow=True`` (default, the SCALE path): RAKE is strictly
      per-document, so one narrow Arrow ``mapInPandas`` pass computes
      each doc's phrases/scores/top-k with ZERO shuffles — the
      shingle_sets measured-exception rule (per-doc text work in
      batched Python beats exploding the corpus into a 5x-larger
      token relation and shuffling it three times; measured 254s ->
      ~15s at a 500k-doc soak, NOTES round 6).
    - ``use_arrow=False`` (the executable cross-engine SPEC, what the
      t35 oracle replays in DuckDB): tokens get positions via
      posexplode; phrase ids are a running count of stopwords per doc
      (one window keyed by doc id); word freq/degree and phrase scores
      are keyed aggregations on (id, term) / (id, phrase_id). Each
      word ratio is rounded to 12 dp and summed as DECIMAL (the _dsum
      rule) so partial-aggregation order can't flip the 6-dp final
      rounding against another engine. Every shuffle key contains the
      doc id, so nothing exceeds per-doc fan-out — correct but pays
      three occurrence-relation shuffles the Arrow path doesn't.

    Output: (id, phrase, score, n_words) — top_k rows per doc, ordered
    within doc by (score desc, phrase, phrase_id)."""
    if not stopwords:
        raise ValueError("stopwords must be non-empty — without them "
                         "every document is one giant candidate phrase")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    stops = sorted({s.lower() for s in stopwords})
    if use_arrow:
        return _rake_arrow(df, stops, id_col, text_col, top_k)
    from pyspark.sql import Window

    from ftm_columnstore_spark.functions.text import word_tokens_col

    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.posexplode(word_tokens_col(text_col)).alias("pos", "term"),
    )
    toks = toks.withColumn(
        "is_stop", F.col("term").isin(stops).cast("int")
    )
    w_doc = Window.partitionBy("id").orderBy("pos")
    marked = toks.withColumn(
        "phrase_id", F.sum("is_stop").over(w_doc)
    )
    # persist: three consumers (phrase lengths, the degree/freq join,
    # the phrase-score join) would otherwise each re-run the tokenize +
    # phrase-id window pass (the d14 rebuilt-relation lesson)
    words = persist(
        marked.where(F.col("is_stop") == 0).select(
            "id", "phrase_id", "pos", "term"
        )
    )
    plen = words.groupBy("id", "phrase_id").agg(
        F.count(F.lit(1)).alias("plen")
    )
    # degree(w) = sum of containing-phrase lengths over w's occurrences;
    # freq(w) = occurrence count — both keyed by (id, term)
    wstats = (
        words.join(plen, on=["id", "phrase_id"])
        .groupBy("id", "term")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("degree"),
        )
        .select(
            "id",
            "term",
            F.round(
                F.col("degree").cast("double")
                / F.col("freq").cast("double"),
                12,
            )
            .cast("decimal(32,12)")
            .alias("ratio"),
        )
    )
    scored = (
        words.join(wstats, on=["id", "term"])
        .groupBy("id", "phrase_id")
        .agg(
            F.round(F.sum("ratio").cast("double"), 6).alias("score"),
            F.count(F.lit(1)).alias("n_words"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "term"))
                    ),
                    lambda s: s["term"],
                ),
            ).alias("phrase"),
        )
    )
    w_rank = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("phrase"), F.col("phrase_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= top_k)
        .select("id", "phrase", "score", "n_words")
    )


def vocab_divergence(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    top_n: int = 20,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-token contributions to the symmetric KL divergence between
    two corpora's smoothed unigram distributions (Jeffreys divergence;
    Kullback-Leibler 1951) — the corpus diagnostic that names WHICH
    vocabulary drifts between two sources/snapshots, not just how much
    (KMV overlap, v17, answers the set question; this answers the
    distributional one).

    contrib(t) = p·ln(p/q) + q·ln(q/p), with add-alpha smoothing
    p = (cnt_a+α)/(N_a+α·V) over the UNION vocabulary V, so unseen
    tokens are finite and every token contributes symmetrically.

    Plan: both corpora tokenize into one union relation tagged by
    side; ONE groupBy(token) with conditional counts is the only
    corpus-sized shuffle; totals reduce the vocabulary relation and
    broadcast back as one row; top_n is a TakeOrderedAndProject by the
    strict total order (contrib desc, token). Determinism: counts are
    exact integers, p/q are single IEEE divisions, the one ln per
    token is rounded to 12 dp (libm wobble ~1e-16 relative dies well
    below that — the t32/zipf rule).

    Output: (token, cnt_a, cnt_b, contrib) — top_n rows."""
    from ftm_columnstore_spark.functions.text import word_tokens_col

    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")

    def toks(df: DataFrame, side: int) -> DataFrame:
        return df.where(F.col(text_col).isNotNull()).select(
            F.explode(word_tokens_col(text_col)).alias("token"),
            F.lit(side).alias("side"),
        )

    c = (
        toks(a, 0)
        .unionByName(toks(b, 1))
        .groupBy("token")
        .agg(
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias(
                "cnt_a"
            ),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias(
                "cnt_b"
            ),
        )
    )
    totals = c.agg(
        F.sum("cnt_a").alias("n_a"),
        F.sum("cnt_b").alias("n_b"),
        F.count(F.lit(1)).alias("v"),
    )
    al = F.lit(float(alpha))
    j = c.crossJoin(F.broadcast(totals))
    p = (F.col("cnt_a").cast("double") + al) / (
        F.col("n_a").cast("double") + al * F.col("v").cast("double")
    )
    q = (F.col("cnt_b").cast("double") + al) / (
        F.col("n_b").cast("double") + al * F.col("v").cast("double")
    )
    contrib = F.round(p * F.log(p / q) + q * F.log(q / p), 12)
    return (
        j.select("token", "cnt_a", "cnt_b", contrib.alias("contrib"))
        .orderBy(F.col("contrib").desc(), "token")
        .limit(int(top_n))
    )


@persisting
def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    word n-grams that appear in NO other document (corpus df == 1) —
    high novelty marks original content, low novelty marks boilerplate
    and near-copies BEFORE any pairwise dedup runs (the cheap triage
    that decides whether d3/d5/d17 are worth their joins). Complements
    d9 (within-doc repetition) and d8 (containment vs a benchmark):
    this one is against the corpus itself.

    Plan — NO gram-relation join back (the first cut joined the 30M-row
    gram relation against its own frequency aggregate and went
    superlinear at the 500k-doc soak, 104s): a df==1 gram lives in
    exactly ONE document, so its owner rides the frequency aggregation
    itself as min(id). Two keyed aggregations over the persisted Arrow
    shingle pass (one on gram, one on doc id) and a |docs|-row join —
    nothing corpus-sized is ever joined. 104s → ~9s at the same soak.

    Output: (id, n_grams, n_novel, novelty) — novelty = n_novel /
    n_grams, one correctly-rounded division, 6 dp."""
    from ftm_columnstore_spark.functions.text import shingle_rows

    tall = persist(
        shingle_rows(df, text_col, id_col, n).select("id", "shingle")
    )
    n_grams = tall.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    novel = (
        tall.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"), F.min("id").alias("id"))
        .where(F.col("__df") == 1)
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        n_grams.join(novel, on="id", how="left")
        .withColumn("n_novel", F.coalesce(F.col("n_novel"), F.lit(0)))
        .select(
            "id",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


@persisting
def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    top_n: int = 20,
) -> DataFrame:
    """Top collocations (adjacent word pairs) ranked by pointwise
    mutual information (Church & Hanks 1990) — the classic "which
    bigrams are phrases, not chance" signal used to build tokenizer
    merge seeds and phrase tables.

    pmi(x,y) = ln( p(x,y) / (p(x)·p(y)) )
             = ln( c_xy · N_uni² / (N_big · c_x · c_y) )
    with counts over the whole corpus and a ``min_count`` floor on
    c_xy (PMI is notoriously noisy on rare pairs; the floor is the
    standard fix and it also bounds the marginal join to surviving
    pairs only). N_big is the unfiltered whole-corpus bigram total —
    the floor prunes which pairs are REPORTED, not the denominator.

    Plan: ONE tokenize pass feeds both relations — unigram counts via
    explode+groupBy(token), bigram counts via an in-array adjacent-pair
    transform (no self-join; the pair is built inside the row). The
    min_count filter runs BEFORE the marginal joins, so at web scale
    the two keyed joins see only the surviving-pair relation, not the
    corpus. Totals reduce the count relations and ride a broadcast
    1-row crossJoin. top_n is a TakeOrderedAndProject over the strict
    total order (pmi DESC, w1, w2). Determinism: all counts are exact
    integers; the single ln per surviving pair is rounded to 12 dp
    (the t32/zipf libm rule).

    Output: (w1, w2, cnt, pmi) — top_n rows."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    toks = df.where(F.col(text_col).isNotNull()).select(
        word_tokens_col(text_col).alias("__t")
    )
    # persist both count relations: without it the unigram aggregation
    # re-tokenizes the corpus for EACH consumer (totals + two marginal
    # join sides — 5 corpus scans at explain, the d14 rebuilt-relation
    # lesson); both are vocabulary-/surviving-pair-bounded, never
    # corpus-sized
    uni = persist(
        toks.select(F.explode("__t").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt_t"))
    )
    # Adjacent pairs built inside the row: element i pairs with i+1.
    pairs_col = F.when(
        F.size("__t") >= 2,
        F.transform(
            F.slice(F.col("__t"), 1, F.size("__t") - 1),
            lambda x, i: F.struct(
                x.alias("w1"),
                F.element_at(F.col("__t"), i + 2).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    # N_big must be the WHOLE-corpus bigram total (Church & Hanks
    # denominator), so the sum is taken BEFORE the min_count filter —
    # filtering first shifts every PMI up by ln(N_all/N_surviving)
    # (ADVICE r5). big_all is vocabulary²-bounded (distinct pairs),
    # never corpus-sized; it feeds both the total and the filter.
    big_all = persist(
        toks.select(F.explode(pairs_col).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    big = big_all.where(F.col("cnt") >= int(min_count))
    totals = uni.agg(F.sum("cnt_t").alias("n_uni")).crossJoin(
        big_all.agg(F.sum("cnt").alias("n_big"))
    )
    u1 = uni.select(F.col("token").alias("w1"), F.col("cnt_t").alias("c1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("cnt_t").alias("c2"))
    j = (
        big.join(u1, on="w1")
        .join(u2, on="w2")
        .crossJoin(F.broadcast(totals))
    )
    ratio = (
        F.col("cnt").cast("double")
        * F.col("n_uni").cast("double")
        * F.col("n_uni").cast("double")
    ) / (
        F.col("n_big").cast("double")
        * F.col("c1").cast("double")
        * F.col("c2").cast("double")
    )
    return (
        j.select(
            "w1", "w2", "cnt", F.round(F.log(ratio), 12).alias("pmi")
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(int(top_n))
    )


@persisting
def idf_rarity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document rare-word density: the occurrence-weighted mean
    IDF of a document's tokens (idf = ln(N/df), document frequency) —
    high scores mark jargon-dense / entity-rich text, scores near
    ln(N/N)=0 mark stopword soup; the quality signal that complements
    t21's NB classifier (supervised) and t37's novelty (n-gram level)
    with a corpus-statistical one.

    Plan: one tokenize pass → tall (id, token); document frequency is
    a distinct+groupBy(token) (map-side combinable); the IDF relation
    (vocabulary-sized, NOT broadcast — 100 TB vocabularies are
    billions of rows) joins back to the tall relation hash-keyed on
    token. Stopword keys are hot in that join; if a corpus is
    pathological, route through functions/skew.py:skew_hybrid_join —
    the default hash join is fine under Zipf because hot keys are few
    and AQE splits oversized partitions. Determinism: per-token
    ln(N/df) rounded to 12 dp, per-doc sum as DECIMAL(28,12)
    (partition-order-independent), one final division rounded 6 dp.

    Output: (id, n_tokens, idf_rarity)."""
    tall = persist(
        df.where(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            F.explode(word_tokens_col(text_col)).alias("token"),
        )
    )
    n_docs = df.where(F.col(text_col).isNotNull()).select(
        F.countDistinct(id_col).alias("n_docs")
    )
    dfreq = (
        tall.select("id", "token")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "token",
        F.round(
            F.log(
                F.col("n_docs").cast("double") / F.col("__df").cast("double")
            ),
            12,
        )
        .cast("decimal(28,12)")
        .alias("__idf"),
    )
    return (
        tall.join(idf, on="token")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__idf").alias("__s"),
        )
        .select(
            "id",
            "n_tokens",
            F.round(
                F.col("__s").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("idf_rarity"),
        )
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon entropy of the character distribution (in
    nats) — the cheap gibberish detector: natural language sits ~2.8-3.2
    nats, base64/hex blobs push toward ln(alphabet) with a flat
    histogram, and single-char repetition floors near 0. Complements
    d9's token-level repetition stats with a sub-token signal (a doc of
    'aaaa…' separated by spaces fools token filters, not this).

    Plan: explode to (id, char) — linear in corpus BYTES, the one
    unavoidable relation — then two keyed aggregations: per-(id, char)
    counts (map-side combinable; per-doc alphabet is ≤ a few hundred
    rows after the first combine) and the per-id entropy reduce.
    Determinism: counts are exact integers, p = c/n is one IEEE
    division, the per-char ln is rounded 12 dp (the t32 libm rule) and
    the per-doc sum runs in DECIMAL(38,12); final entropy rounded 6 dp.

    Output: (id, n_chars_counted, entropy)."""
    tall = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), "")).alias("ch"),
        )
        .groupBy("id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = tall.groupBy("id").agg(
        F.sum("c").alias("n"),
        F.sum(
            F.round(
                -(F.col("c").cast("double"))
                * F.log(F.col("c").cast("double")),
                12,
            ).cast("decimal(38,12)")
        ).alias("__s"),
    )
    # H = -Σ (c/n)·ln(c/n) = ln(n) + (Σ -c·ln c)/n — one ln per doc
    # plus one per distinct char, all through the 12-dp rule
    return per_doc.select(
        "id",
        F.col("n").alias("n_chars_counted"),
        F.round(
            F.round(F.log(F.col("n").cast("double")), 12)
            + F.col("__s").cast("double") / F.col("n").cast("double"),
            6,
        ).alias("entropy"),
    )


def readability_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch-Kincaid grade-level readability per document — the
    classic "is this text for humans" quality gate (too low = baby
    talk / keyword stuffing, too high = OCR garbage / legalese;
    training-data pipelines band-pass on it).

    grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59
    (Kincaid et al. 1975), with the standard cheap heuristics:
    sentences = runs of [.!?] (floored at 1 — headline-style text is
    one sentence), syllables = vowel-group runs [aeiouy]+ over the
    lowercased text (counted text-wide, so all-consonant tokens
    contribute 0 rather than the per-word floor of 1 — a documented
    simplification that keeps the whole operator ONE narrow projection:
    pure column expressions, zero shuffles, zero Python, identical
    regexes replayable in any engine). Tokenless docs are dropped.

    Output: (id, n_words, n_sentences, n_syllables, fk_grade)."""
    from ftm_columnstore_spark.functions.text import word_tokens_col

    words = F.size(word_tokens_col(text_col))
    sentences = F.greatest(
        F.size(F.regexp_extract_all(F.col(text_col), F.lit("[.!?]+"), 0)),
        F.lit(1),
    )
    syllables = F.size(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[aeiouy]+"), 0)
    )
    return (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            words.alias("n_words"),
            sentences.alias("n_sentences"),
            syllables.alias("n_syllables"),
        )
        .where(F.col("n_words") > 0)
        .select(
            "id",
            "n_words",
            "n_sentences",
            "n_syllables",
            F.round(
                F.lit(0.39)
                * (
                    F.col("n_words").cast("double")
                    / F.col("n_sentences").cast("double")
                )
                + F.lit(11.8)
                * (
                    F.col("n_syllables").cast("double")
                    / F.col("n_words").cast("double")
                )
                - F.lit(15.59),
                6,
            ).alias("fk_grade"),
        )
    )
