"""Scale soak of the full cleanup pipeline (VERDICT r2 item 4).

Expands the sf0.1 documents table (5k rows) by deterministic
replication to 50k and 500k synthetic documents — each replica gets a
replica-salted token appended so corpora are not trivially exact-dup
(replica 0 keeps originals; every 10th replica repeats replica 0's
text verbatim to keep real exact/near duplicates in the mix) — then
times each pipeline stage standalone at every scale, plus one
end-to-end ``prepare_training_data`` run at the largest. A stage is
"linear" when 10× rows cost <= ~12-13× wall (allowing constant
overheads); anything super-linear is a scale bug.

Run:  PYTHONPATH=/root/repo python tools/soak_pipeline.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALES = [1, 10, 100]


def expand(spark, factor: int):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang", "n_chars"
    )
    n_base = base.count()
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    out = (
        base.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * n_base).alias("doc_id"),
            F.when(F.col("rep") % 10 == 0, F.col("text"))
            .otherwise(
                F.concat_ws(
                    " ", F.col("text"), F.concat(F.lit("rep"), F.col("rep"))
                )
            )
            .alias("text"),
            "lang",
            "n_chars",
        )
    )
    path = f"/tmp/soak_docs_{factor}"
    out.repartition(32).write.mode("overwrite").parquet(path)
    return path


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 2)


def main() -> None:
    from ftm_columnstore_spark.operators.dedup import (
        dedup_exact,
        exact_substring_dedup,
        line_dedup,
        minhash_dedup,
    )
    from ftm_columnstore_spark.lifecycle import scope
    from ftm_columnstore_spark.operators.pipeline import (
        prepare_training_data,
    )
    from ftm_columnstore_spark.operators.sampling import split_by_hash
    from ftm_columnstore_spark.operators.text import (
        perplexity_buckets,
        quality_gate,
    )
    from ftm_columnstore_spark.session import get_spark

    spark = get_spark(
        "ftmcs-soak",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        extra_conf={"spark.ui.enabled": "false"},
    )

    def materialize(df):
        # same full-row digest the bench uses: no Catalyst elision
        df.select(F.xxhash64(F.struct(*df.columns)).alias("h")).groupBy().agg(
            F.count("h"), F.try_sum("h")
        ).collect()

    results = []
    for factor in SCALES:
        path = expand(spark, factor)
        docs = spark.read.parquet(path)
        n = docs.count()
        row: dict = {"factor": factor, "rows": n, "stages": {}}
        s = row["stages"]
        s["quality_gate"] = timed(
            lambda: materialize(quality_gate(docs, min_tokens=5))
        )
        s["perplexity_buckets"] = timed(
            lambda: materialize(perplexity_buckets(docs))
        )
        s["line_dedup"] = timed(lambda: materialize(line_dedup(docs)))
        s["dedup_exact"] = timed(lambda: materialize(dedup_exact(docs)))
        s["exact_substring_dedup"] = timed(
            lambda: materialize(exact_substring_dedup(docs, k=8))
        )

        def near():
            with scope():
                materialize(minhash_dedup(docs))

        s["minhash_dedup"] = timed(near)
        s["split_by_hash"] = timed(
            lambda: materialize(
                split_by_hash(docs, {"train": 0.9, "val": 0.1})
            )
        )
        if factor == SCALES[-1]:

            def full():
                with scope():
                    materialize(
                        prepare_training_data(
                            docs,
                            quality={"min_tokens": 5},
                            perplexity={},
                            line_dedup_sep="\n",
                            substring_dedup={"k": 8},
                            near_dedup={},
                            splits={"train": 0.9, "val": 0.1},
                        )
                    )

            row["full_pipeline"] = timed(full)
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        results.append(row)
        print(json.dumps(row), flush=True)

    # scaling ratios stage by stage
    for a, b in zip(results, results[1:]):
        ratio = {
            k: round(b["stages"][k] / max(a["stages"][k], 1e-9), 1)
            for k in a["stages"]
        }
        print(
            json.dumps(
                {
                    "rows_ratio": round(b["rows"] / a["rows"], 1),
                    "wall_ratios": ratio,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
