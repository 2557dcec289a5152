"""Similarity search: brute-force exactness, LSH recall, kNN join."""

import math

import pytest
from pyspark.sql import functions as F

from ftm_columnstore_spark.operators.similarity import (
    brute_force_topk,
    knn_join,
)


@pytest.fixture(scope="module")
def vectors(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)
    ]
    return (
        spark.createDataFrame(rows, ["vec_id", "embedding"])
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
        .cache()
    )


def brute_py(rows, q, k):
    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    scored = sorted(
        ((round(cos(r, q), 6), i) for i, r in rows), key=lambda t: (-t[0], t[1])
    )
    return [i for _, i in scored[:k]]


def test_brute_force_matches_python(vectors):
    data = [(r["vec_id"], list(r["embedding"])) for r in vectors.collect()]
    q = data[0][1]
    expected = brute_py([(i, v) for i, v in data], q, 10)
    got = [r["vec_id"] for r in brute_force_topk(vectors, q, k=10).collect()]
    assert got == expected


def test_lsh_topk_portable_recall(vectors):
    from ftm_columnstore_spark.operators.similarity import lsh_topk_portable

    q = list(vectors.filter(F.col("vec_id") == 0).collect()[0]["embedding"])
    exact = {r["vec_id"] for r in brute_force_topk(vectors, q, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in lsh_topk_portable(
            vectors, q, k=10, num_planes=8, probe_bits=3
        ).collect()
    }
    assert len(exact & approx) >= 5


def test_ivf_topk_portable_recall(vectors):
    from ftm_columnstore_spark.operators.similarity import ivf_topk_portable

    q = list(vectors.filter(F.col("vec_id") == 0).collect()[0]["embedding"])
    corpus = vectors.filter(F.col("vec_id") != 0)
    exact = {r["vec_id"] for r in brute_force_topk(corpus, q, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in ivf_topk_portable(
            corpus, q, k=10, n_centroids=8, n_probe=5
        ).collect()
    }
    assert len(approx) == 10
    assert len(exact & approx) >= 4


def test_knn_join(vectors):
    queries = vectors.filter(F.col("vec_id") < 3)
    out = knn_join(queries, vectors, k=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append((r["cid"], r["cosine"]))
    assert set(by_q) == {0, 1, 2}
    for qid, hits in by_q.items():
        assert len(hits) == 4
        assert hits[0][0] == qid  # self is the nearest
        sims = [s for _, s in hits]
        assert sims == sorted(sims, reverse=True)


def test_brute_force_np_matches_columnar(vectors):
    from ftm_columnstore_spark.operators.similarity import brute_force_topk_np

    q = list(vectors.filter(F.col("vec_id") == 0).collect()[0]["embedding"])
    exact = [(r["vec_id"], r["cosine"]) for r in brute_force_topk(vectors, q, k=10).collect()]
    np_out = [(r["vec_id"], r["cosine"]) for r in brute_force_topk_np(vectors, q, k=10).collect()]
    assert np_out == exact


def test_ivf_trained_centroids_recall(vectors):
    """Integer-Lloyd centroids serve through ivf_topk_portable with
    recall against the exact top-k."""
    from ftm_columnstore_spark.operators.similarity import (
        ivf_topk_portable,
        kmeans_centroids_portable,
    )

    cents = kmeans_centroids_portable(vectors, n_centroids=8)
    assert len(cents) == 8 and all(len(v) == 16 for _, v in cents)
    q = list(vectors.filter(F.col("vec_id") == 0).collect()[0]["embedding"])
    exact = {r["vec_id"] for r in brute_force_topk(vectors, q, k=10).collect()}
    trained = {
        r["vec_id"]
        for r in ivf_topk_portable(
            vectors, q, k=10, n_probe=4, centroids=cents
        ).collect()
    }
    assert len(exact & trained) >= 6


def test_knn_join_np_matches_expression_path(spark):
    """The BLAS kNN join returns exactly what the expression form does."""
    import random

    from ftm_columnstore_spark.operators.similarity import knn_join, knn_join_np

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter("vec_id < 4")
    a = sorted(map(tuple, knn_join(q, df, k=3).collect()))
    b = sorted(map(tuple, knn_join_np(q, df, k=3).collect()))
    assert [x[:2] for x in a] == [x[:2] for x in b]  # same neighbours
    for (_, _, ca), (_, _, cb) in zip(a, b):
        assert abs(ca - cb) < 1e-6  # cosines agree to rounding


def test_knn_join_np_empty_query_side(spark):
    from ftm_columnstore_spark.operators.similarity import knn_join_np

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    assert knn_join_np(df.filter("vec_id > 99"), df, k=2).count() == 0


def test_ivf_portable_string_ids(spark):
    """ivf_topk_portable preserves the input id dtype (string ids used to
    raise ValueError via int() coercion)."""
    import numpy as np

    from ftm_columnstore_spark.operators.similarity import ivf_topk_portable

    rows = [
        (f"doc-{i}", [float((i * 7 + j * 3) % 10) / 10 for j in range(8)])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    out = ivf_topk_portable(
        df, rows[0][1], k=5, n_centroids=4, n_probe=2
    )
    got = out.collect()
    assert out.schema["vec_id"].dataType.simpleString() == "string"
    assert 0 < len(got) <= 5
    assert all(r["vec_id"].startswith("doc-") for r in got)


def test_ivf_portable_empty_schema_matches_input_dtype(spark):
    from ftm_columnstore_spark.operators.similarity import ivf_topk_portable

    df = spark.createDataFrame(
        [("a", [0.0, 0.0])], "vec_id string, embedding array<float>"
    )
    out = ivf_topk_portable(df, [1.0, 0.0], k=3, n_centroids=2)
    assert out.schema["vec_id"].dataType.simpleString() == "string"
    assert out.count() == 0


def test_kmeans_centroids_portable(spark):
    from ftm_columnstore_spark.operators.similarity import (
        ivf_topk_portable,
        kmeans_centroids_portable,
    )

    # two tight clusters around (1,0) and (0,1); seeds = lowest 2 ids
    rows = [
        (1, [1.0, 0.01]), (2, [0.0, 1.0]),          # seeds, one per cluster
        (3, [0.9, 0.0]), (4, [1.0, 0.1]),
        (5, [0.05, 0.9]), (6, [0.0, 1.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = kmeans_centroids_portable(df, n_centroids=2, iterations=2)
    assert [cid for cid, _ in cents] == [1, 2]
    (c1, v1), (c2, v2) = cents
    # cluster means land near the cluster axes (quantized at 1e6)
    assert v1[0] > 800_000 and abs(v1[1]) < 100_000
    assert v2[1] > 800_000 and abs(v2[0]) < 100_000

    # trained centroids serve through the same exact path
    out = ivf_topk_portable(
        df, [1.0, 0.0], k=3, n_probe=1, centroids=cents
    ).collect()
    assert [r["vec_id"] for r in out[:1]] == [3]  # exact [0.9, 0] match

    # empty input -> empty centroid list
    assert kmeans_centroids_portable(
        df.where("vec_id > 99"), n_centroids=2
    ) == []


def test_auto_centroid_sizing_formulas():
    """n_centroids defaults derive from corpus size: sqrt(N) for IVF
    probe balance, N/4096 for Σ|cluster|² pair stages — both floored at
    16 (the old fixed default) and capped."""
    from ftm_columnstore_spark.operators.similarity import (
        auto_n_centroids_ivf,
        auto_n_centroids_pairs,
    )

    # floors: tiny corpora keep the old behavior
    assert auto_n_centroids_ivf(0) == 16
    assert auto_n_centroids_ivf(100) == 16
    assert auto_n_centroids_pairs(100) == 16
    # growth: 100× the corpus → 10× the IVF lists, 100× the pair clusters
    assert auto_n_centroids_ivf(1_000_000) == 1000
    assert auto_n_centroids_ivf(100_000_000) == 4096  # capped
    assert auto_n_centroids_pairs(1_000_000) == 245  # ceil(1e6/4096)
    assert auto_n_centroids_pairs(100_000_000) == 24415
    # expected cluster size stays ~target under pairs sizing
    for n in (10**5, 10**6, 10**7):
        k = auto_n_centroids_pairs(n)
        assert n / k <= 4096 + 1

    import pytest as _pytest

    with _pytest.raises(ValueError):
        auto_n_centroids_ivf(-1)


def test_semantic_dedup_auto_sizing_scales(spark):
    """semantic_dedup_portable with the None default picks more
    centroids for a bigger corpus (and still returns every input row)."""
    from ftm_columnstore_spark.operators.dedup import semantic_dedup_portable
    from ftm_columnstore_spark.operators.similarity import (
        auto_n_centroids_pairs,
    )

    rows = [
        (i, [float((i * 13 + j * 5) % 17) / 17 + 0.01 for j in range(4)])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup_portable(df, threshold=0.999999)
    got = out.collect()
    assert len(got) == 300
    # the auto default at N=300 is the floor — same as the old fixed 16
    assert auto_n_centroids_pairs(300) == 16
    n_clusters = len({r["cid"] for r in got})
    assert 1 <= n_clusters <= 16


def test_ivf_topk_auto_sizing(spark):
    """ivf_topk_portable runs with the None default (auto count job)
    and still returns exact-cosine-ordered results."""
    from ftm_columnstore_spark.operators.similarity import ivf_topk_portable

    rows = [
        (i, [float((i * 7 + j * 3) % 10) / 10 + 0.01 for j in range(8)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = ivf_topk_portable(df, rows[0][1], k=5, n_probe=16).collect()
    assert 0 < len(got) <= 5
    # the target vector itself ranks first
    assert got[0]["vec_id"] == 0


# --- product quantization ----------------------------------------------------


def _pq_brute_py(data, q, scale=1_000_000, m=4, n_codes=16, k=5, refine=None):
    """Pure-python PQ replay: fixed codebooks from lowest ids, argmin
    encode, ADC sums, optional exact-L2 refine — the oracle arithmetic."""
    qz = lambda v: [math.floor(float(x) * scale + 0.5) for x in v]
    rows = sorted((i, qz(v)) for i, v in data)
    dim = len(rows[0][1])
    dsub = dim // m
    cb = [
        [(c, vec[s * dsub : (s + 1) * dsub]) for c, (_, vec) in enumerate(rows[:n_codes])]
        for s in range(m)
    ]
    qq = qz(q)

    def enc(vec):
        codes = []
        for s in range(m):
            sub = vec[s * dsub : (s + 1) * dsub]
            d = [
                (sum((a - b) * (a - b) for a, b in zip(sub, cvec)), c)
                for c, cvec in cb[s]
            ]
            codes.append(min(d)[1])
        return codes

    dtab = [
        [
            sum(
                (a - b) * (a - b)
                for a, b in zip(qq[s * dsub : (s + 1) * dsub], cvec)
            )
            for _, cvec in cb[s]
        ]
        for s in range(m)
    ]
    scored = sorted(
        (sum(dtab[s][c] for s, c in enumerate(enc(vec))), i) for i, vec in rows
    )
    if refine is None:
        return [(i, d) for d, i in scored[:k]]
    cand = {i for _, i in scored[:refine]}
    exact = sorted(
        (sum((a - b) * (a - b) for a, b in zip(vec, qq)), i)
        for i, vec in rows
        if i in cand
    )
    return [(i, d) for d, i in exact[:k]]


def test_pq_topk_matches_python_replay(vectors):
    from ftm_columnstore_spark.operators.similarity import pq_topk

    data = [(r["vec_id"], list(r["embedding"])) for r in vectors.collect()]
    q = data[3][1]
    expected = _pq_brute_py(data, q, m=4, n_codes=16, k=5)
    got = [
        (r["vec_id"], r["adist"])
        for r in pq_topk(vectors, q, k=5, m=4, n_codes=16).collect()
    ]
    assert got == expected


def test_pq_topk_refine_matches_python_replay(vectors):
    from ftm_columnstore_spark.operators.similarity import pq_topk

    data = [(r["vec_id"], list(r["embedding"])) for r in vectors.collect()]
    q = data[7][1]
    expected = _pq_brute_py(data, q, m=4, n_codes=16, k=5, refine=40)
    got = [
        (r["vec_id"], r["adist"])
        for r in pq_topk(vectors, q, k=5, m=4, n_codes=16, refine=40).collect()
    ]
    assert got == expected


def test_pq_refine_improves_exact_recall(vectors):
    """The two-stage serve path must beat raw ADC on exact-neighbour
    recall (that is its reason to exist)."""
    from ftm_columnstore_spark.operators.similarity import pq_topk

    q = list(vectors.filter(F.col("vec_id") == 0).collect()[0]["embedding"])
    exact = {r["vec_id"] for r in brute_force_topk(vectors, q, k=10).collect()}
    adc = {
        r["vec_id"] for r in pq_topk(vectors, q, k=10, m=4, n_codes=16).collect()
    }
    refined = {
        r["vec_id"]
        for r in pq_topk(vectors, q, k=10, m=4, n_codes=16, refine=60).collect()
    }
    assert len(refined & exact) >= len(adc & exact)
    assert len(refined & exact) >= 5


def test_pq_params_validated(vectors):
    from ftm_columnstore_spark.operators.similarity import pq_topk

    q = [0.1] * 16
    with pytest.raises(ValueError, match="must divide"):
        pq_topk(vectors, q, m=5)
    with pytest.raises(ValueError, match="n_codes"):
        pq_topk(vectors, q, m=4, n_codes=0)
    with pytest.raises(ValueError, match="refine"):
        pq_topk(vectors, q, k=10, m=4, refine=5)


def test_pq_topk_plan_has_no_shuffle(vectors):
    """The ADC stage is the PQ scale contract: one codegen scan +
    TakeOrderedAndProject, no Exchange before the top-k."""
    from ftm_columnstore_spark.operators.similarity import (
        pq_codebooks_fixed,
        pq_topk,
    )

    cbs = pq_codebooks_fixed(vectors, dim=16, m=4, n_codes=16)
    q = [0.1] * 16
    plan = pq_topk(vectors, q, k=5, m=4, n_codes=16, codebooks=cbs)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def _pq_train_py(data, dim, m, n_codes, iterations, scale=1_000_000):
    """Pure-python integer-Lloyd replay of pq_codebooks_trained: argmin
    assignment by integer squared-L2 with (dist, code) tiebreak, update
    by floor(sum/count) per dimension, empty codes keep their entry."""
    qz = lambda v: [math.floor(float(x) * scale + 0.5) for x in v]
    rows = sorted((i, qz(v)) for i, v in data if len(v) == dim)
    dsub = dim // m
    cbs = [
        [(c, vec[s * dsub : (s + 1) * dsub]) for c, (_, vec) in enumerate(rows[:n_codes])]
        for s in range(m)
    ]
    for _ in range(iterations):
        sums = {}
        for _, vec in rows:
            for s in range(m):
                sub = vec[s * dsub : (s + 1) * dsub]
                code = min(
                    (sum((a - b) * (a - b) for a, b in zip(sub, cv)), c)
                    for c, cv in cbs[s]
                )[1]
                acc, n = sums.setdefault((s, code), ([0] * dsub, [0]))
                for p, v in enumerate(sub):
                    acc[p] += v
                n[0] += 1
        cbs = [
            [
                (
                    c,
                    [
                        math.floor(sums[(s, c)][0][p] / sums[(s, c)][1][0])
                        for p in range(dsub)
                    ]
                    if (s, c) in sums
                    else old,
                )
                for c, old in cb
            ]
            for s, cb in enumerate(cbs)
        ]
    return cbs


def test_pq_codebooks_trained_matches_python_replay(vectors):
    from ftm_columnstore_spark.operators.similarity import pq_codebooks_trained

    data = [(r["vec_id"], list(r["embedding"])) for r in vectors.collect()]
    expected = _pq_train_py(data, dim=16, m=4, n_codes=8, iterations=2)
    got = pq_codebooks_trained(vectors, dim=16, m=4, n_codes=8, iterations=2)
    assert got == expected


def test_pq_trained_improves_adc_recall(vectors):
    """Trained codebooks exist because fixed ones quantize poorly; the
    integer-Lloyd pass must not make raw-ADC exact-L2 recall worse."""
    from ftm_columnstore_spark.operators.similarity import (
        pq_codebooks_fixed,
        pq_codebooks_trained,
        pq_topk,
    )

    data = sorted(
        (r["vec_id"], list(r["embedding"])) for r in vectors.collect()
    )
    q = data[11][1]
    qz = [math.floor(float(x) * 1_000_000 + 0.5) for x in q]
    exact = {
        i
        for _, i in sorted(
            (
                sum(
                    (math.floor(float(x) * 1_000_000 + 0.5) - b) ** 2
                    for x, b in zip(vec, qz)
                ),
                i,
            )
            for i, vec in data
        )[:10]
    }
    fixed = pq_codebooks_fixed(vectors, dim=16, m=4, n_codes=16)
    trained = pq_codebooks_trained(vectors, dim=16, m=4, n_codes=16, iterations=3)
    r_fixed = {
        r["vec_id"]
        for r in pq_topk(vectors, q, k=10, m=4, n_codes=16, codebooks=fixed).collect()
    }
    r_trained = {
        r["vec_id"]
        for r in pq_topk(vectors, q, k=10, m=4, n_codes=16, codebooks=trained).collect()
    }
    assert len(r_trained & exact) >= len(r_fixed & exact)
    assert len(r_trained & exact) >= 3


def test_pq_encode_join_matches_expr(vectors):
    """The broadcast-join encode (scale path for 256-code books) must
    produce byte-identical codes to the codegen expression path."""
    from ftm_columnstore_spark.operators.similarity import (
        pq_codebooks_fixed,
        pq_encode,
    )

    cbs = pq_codebooks_fixed(vectors, dim=16, m=4, n_codes=16)
    a = {
        r["id"]: list(r["codes"])
        for r in pq_encode(vectors, cbs, method="expr").collect()
    }
    b = {
        r["id"]: list(r["codes"])
        for r in pq_encode(vectors, cbs, method="join").collect()
    }
    assert a == b
    with pytest.raises(ValueError, match="method"):
        pq_encode(vectors, cbs, method="nope")


def test_pq_trained_join_path_matches_replay(vectors):
    """Training with a >32-code book takes the join-assignment branch;
    it must match the same pure-python integer-Lloyd replay."""
    from ftm_columnstore_spark.operators.similarity import pq_codebooks_trained

    data = [(r["vec_id"], list(r["embedding"])) for r in vectors.collect()]
    expected = _pq_train_py(data, dim=16, m=4, n_codes=40, iterations=1)
    got = pq_codebooks_trained(vectors, dim=16, m=4, n_codes=40, iterations=1)
    assert got == expected


# --- IVF-PQ ------------------------------------------------------------------


def _ivfpq_brute_py(
    data, q, scale=1_000_000, m=4, n_codes=16, n_centroids=8, n_probe=3,
    k=5, refine=None,
):
    """Pure-python IVF-PQ replay: lowest-id centroids+codebooks, integer
    L2 routing with (dist, cid) tiebreak, PQ-ADC rank within probed
    cells, optional exact-L2 refine."""
    qz = lambda v: [math.floor(float(x) * scale + 0.5) for x in v]
    rows = sorted((i, qz(v)) for i, v in data)
    dim = len(rows[0][1])
    dsub = dim // m
    cents = [(c, vec) for c, (_, vec) in enumerate(rows[:n_centroids])]
    cb = [
        [(c, vec[s * dsub : (s + 1) * dsub]) for c, (_, vec) in enumerate(rows[:n_codes])]
        for s in range(m)
    ]
    qq = qz(q)
    l2 = lambda a, b: sum((x - y) * (x - y) for x, y in zip(a, b))
    probed = {c for _, c in sorted((l2(qq, cv), c) for c, cv in cents)[:n_probe]}
    cand = [
        (i, vec)
        for i, vec in rows
        if min((l2(vec, cv), c) for c, cv in cents)[1] in probed
    ]

    def enc(vec):
        return [
            min(
                (l2(vec[s * dsub : (s + 1) * dsub], cvec), c)
                for c, cvec in cb[s]
            )[1]
            for s in range(m)
        ]

    dtab = [
        [l2(qq[s * dsub : (s + 1) * dsub], cvec) for _, cvec in cb[s]]
        for s in range(m)
    ]
    scored = sorted(
        (sum(dtab[s][c] for s, c in enumerate(enc(vec))), i) for i, vec in cand
    )
    if refine is None:
        return [(i, d) for d, i in scored[:k]]
    keep = {i for _, i in scored[:refine]}
    exact = sorted((l2(vec, qq), i) for i, vec in cand if i in keep)
    return [(i, d) for d, i in exact[:k]]


def test_ivfpq_portable_matches_python_replay(vectors):
    from ftm_columnstore_spark.operators.similarity import ivfpq_topk_portable

    data = [(r["vec_id"], list(r["embedding"])) for r in vectors.collect()]
    q = data[5][1]
    expected = _ivfpq_brute_py(data, q, m=4, n_codes=16, n_centroids=8, n_probe=3, k=5)
    got = [
        (r["vec_id"], r["adist"])
        for r in ivfpq_topk_portable(
            vectors, q, k=5, m=4, n_codes=16, n_centroids=8, n_probe=3
        ).collect()
    ]
    assert got == expected


def test_ivfpq_portable_refine_matches_python_replay(vectors):
    from ftm_columnstore_spark.operators.similarity import ivfpq_topk_portable

    data = [(r["vec_id"], list(r["embedding"])) for r in vectors.collect()]
    q = data[9][1]
    expected = _ivfpq_brute_py(
        data, q, m=4, n_codes=16, n_centroids=8, n_probe=4, k=5, refine=30
    )
    got = [
        (r["vec_id"], r["adist"])
        for r in ivfpq_topk_portable(
            vectors, q, k=5, m=4, n_codes=16, n_centroids=8, n_probe=4, refine=30
        ).collect()
    ]
    assert got == expected


def test_ivfpq_params_validated(vectors):
    from ftm_columnstore_spark.operators.similarity import ivfpq_topk_portable

    q = [0.1] * 16
    with pytest.raises(ValueError, match="n_centroids"):
        ivfpq_topk_portable(vectors, q, m=4, n_centroids=0)
    with pytest.raises(ValueError, match="n_probe"):
        ivfpq_topk_portable(vectors, q, m=4, n_probe=0)
    with pytest.raises(ValueError, match="refine"):
        ivfpq_topk_portable(vectors, q, k=10, m=4, refine=2)


def test_pq_knn_join_matches_python_replay(vectors):
    from ftm_columnstore_spark.operators.similarity import pq_knn_join

    data = sorted(
        (r["vec_id"], list(r["embedding"])) for r in vectors.collect()
    )
    queries = data[:4]
    left = vectors.sparkSession.createDataFrame(
        [(i, v) for i, v in queries], ["vec_id", "embedding"]
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))

    got = {}
    for r in pq_knn_join(left, vectors, k=3, m=4, n_codes=16).collect():
        got.setdefault(r["qid"], []).append((r["cid"], r["adist"]))
    for qid, qv in queries:
        expected = _pq_brute_py(data, qv, m=4, n_codes=16, k=3)
        assert got[qid] == expected, qid


def test_pq_knn_join_refine_is_exact(vectors):
    from ftm_columnstore_spark.operators.similarity import pq_knn_join

    data = sorted(
        (r["vec_id"], list(r["embedding"])) for r in vectors.collect()
    )
    queries = data[10:12]
    left = vectors.sparkSession.createDataFrame(
        [(i, v) for i, v in queries], ["vec_id", "embedding"]
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    got = {}
    for r in pq_knn_join(left, vectors, k=3, m=4, n_codes=16, refine=40).collect():
        got.setdefault(r["qid"], []).append((r["cid"], r["adist"]))
    for qid, qv in queries:
        expected = _pq_brute_py(data, qv, m=4, n_codes=16, k=3, refine=40)
        assert got[qid] == expected, qid
        # the query is its own nearest neighbour at distance 0
        assert got[qid][0] == (qid, 0)


def test_pq_knn_join_empty_left(vectors):
    from ftm_columnstore_spark.operators.similarity import pq_knn_join

    empty = vectors.sparkSession.createDataFrame(
        [], "vec_id bigint, embedding array<float>"
    )
    out = pq_knn_join(empty, vectors, k=3, m=4)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["qid", "cid", "adist"]


def test_pq_knn_join_uses_window_group_limit(vectors):
    """The per-query top-k must be a WindowGroupLimit (map-side partial
    top-k), not a full sort of the N x Q stacked relation."""
    from ftm_columnstore_spark.operators.similarity import pq_knn_join

    left = vectors.limit(3)
    plan = pq_knn_join(left, vectors, k=3, m=4)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


# --- MMR re-rank -------------------------------------------------------------


def test_mmr_lam1_is_pure_relevance(vectors):
    from ftm_columnstore_spark.operators.similarity import mmr_rerank

    q = list(vectors.filter(F.col("vec_id") == 0).first()["embedding"])
    cand = vectors.filter(F.col("vec_id") < 40)
    got = [i for i, _, _ in mmr_rerank(cand, q, k=10, lam=1.0)]
    exact = [
        r["vec_id"] for r in brute_force_topk(cand, q, k=10).collect()
    ]
    assert got == exact


def test_mmr_penalizes_duplicates(spark):
    """Two identical highly-relevant vectors: plain ranking takes both;
    MMR takes one, then something diverse."""
    from ftm_columnstore_spark.operators.similarity import mmr_rerank

    q = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (1, [0.9, 0.436, 0.0, 0.0]),   # rel 0.9
        (2, [0.9, 0.436, 0.0, 0.0]),   # exact duplicate of 1
        (3, [0.9, -0.436, 0.0, 0.0]),  # equally relevant, diverse
        (4, [0.0, 1.0, 0.0, 0.0]),     # orthogonal to q
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    got = [i for i, _, _ in mmr_rerank(df, q, k=3, lam=0.5)]
    assert got[0] == 1          # most relevant, lowest id
    assert got[1] == 3          # NOT the duplicate (2): diversity wins
    assert 2 not in got[:3][:2]


def test_mmr_deterministic_and_validated(vectors):
    from ftm_columnstore_spark.operators.similarity import mmr_rerank

    q = [0.1] * 16
    cand = vectors.filter(F.col("vec_id") < 30)
    a = mmr_rerank(cand, q, k=5, lam=0.4)
    b = mmr_rerank(cand, q, k=5, lam=0.4)
    assert a == b and len(a) == 5
    with pytest.raises(ValueError, match="lam"):
        mmr_rerank(cand, q, lam=1.5)
    with pytest.raises(ValueError, match="k"):
        mmr_rerank(cand, q, k=0)
    empty = cand.filter(F.col("vec_id") < 0)
    assert mmr_rerank(empty, q, k=5) == []


def test_truncated_recall_full_dims_is_perfect(spark):
    from ftm_columnstore_spark.operators.similarity import truncated_recall

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = truncated_recall(e, [0, 1], dims=64, k=10).collect()
    assert {r["qid"] for r in rows} == {0, 1}
    assert all(r["recall"] == 1.0 and r["n_hits"] == 10 for r in rows)


def test_truncated_recall_degrades_below_one(spark):
    from ftm_columnstore_spark.operators.similarity import truncated_recall

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = truncated_recall(e, [0, 1, 2], dims=4, k=10).collect()
    assert len(rows) == 3
    assert all(0.0 <= r["recall"] <= 1.0 for r in rows)
    assert any(r["recall"] < 1.0 for r in rows)


def test_truncated_recall_validation(spark):
    import pytest

    from ftm_columnstore_spark.operators.similarity import truncated_recall

    e = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="dims"):
        truncated_recall(e, [0], dims=0)
    with pytest.raises(ValueError, match="k must"):
        truncated_recall(e, [0], dims=1, k=0)
    with pytest.raises(ValueError, match="query_ids"):
        truncated_recall(e, [], dims=1)
