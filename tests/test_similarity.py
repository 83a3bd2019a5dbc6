"""ANN quality gates: approximate methods must actually find neighbors.
(The single-table SRP-LSH this replaced had recall@5 = 0.02.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.operators import similarity as sim
from odp_dynamic_data_pipeline_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _recall(exact, approx):
    return len(exact & approx) / len(exact)


def test_ann_recall_floors(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.where(F.col("vec_id") < 20)
    exact = {(r["qid"], r["cand_id"]) for r in sim.cosine_topk(emb, q, k=5).collect()}
    assert len(exact) == 100

    lsh = {(r["qid"], r["cand_id"]) for r in sim.lsh_topk(emb, q, k=5).collect()}
    assert _recall(exact, lsh) >= 0.5, "multi-table SRP-LSH recall collapsed"

    ivf = {(r["qid"], r["cand_id"]) for r in sim.ivf_topk(emb, q, k=5, nlist=8, nprobe=2).collect()}
    assert _recall(exact, ivf) >= 0.5, "IVF nprobe=2 recall collapsed"


def test_exact_topk_selfconsistent(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.where(F.col("vec_id") < 3)
    rows = sim.cosine_topk(emb, q, k=5).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["cosine"], r["cand_id"]))
    for qid, lst in by_q.items():
        lst.sort()
        cosines = [c for _, c, _ in lst]
        assert cosines == sorted(cosines, reverse=True)  # ranks follow cosine
        assert all(cid != qid for _, _, cid in lst)  # self excluded


def test_quantize_int8_bounds_and_zero_vector(spark):
    from odp_dynamic_data_pipeline_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    # max|x| = 1.0 -> codes = round(x * 127)
    assert got[1]["scale"] == 1.0
    assert got[1]["codes"] == [64, -127, 32, 0]  # 63.5 rounds half-up to 64
    # zero vector: scale 0, all-zero codes, no NaN/division error
    assert got[2]["scale"] == 0.0
    assert got[2]["codes"] == [0, 0, 0, 0]


def test_pq_adc_recall_floor(spark):
    """PQ-ADC shortlist + exact re-rank must recover most exact neighbors
    (flat-PQ scan, m=8 subspaces x 16 centroids over 64 dims)."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.where(F.col("vec_id") < 20)
    exact = {(r["qid"], r["cand_id"]) for r in sim.cosine_topk(emb, q, k=5).collect()}
    pq = {(r["qid"], r["cand_id"]) for r in sim.pq_topk(emb, q, k=5, shortlist=64).collect()}
    assert _recall(exact, pq) >= 0.7, "PQ-ADC recall collapsed"


def test_centroid_assign_exact_argmin_and_ties(spark):
    from odp_dynamic_data_pipeline_spark.operators.similarity import (
        centroid_assign_exact,
        quantized,
    )

    rows = [
        (1, [1.0, 0.0]),   # equidistant from both centroids -> lowest index
        (2, [4.0, 0.0]),   # nearest c1
        (3, [-1.0, 0.0]),  # nearest c0
    ]
    df = quantized(spark.createDataFrame(rows, "vec_id long, embedding array<float>"))
    cents = [[0, 0], [2_000_000, 0]]  # e6-quantized constants
    out = {r["vec_id"]: (r["topic"], r["d2"]) for r in centroid_assign_exact(df, cents).collect()}
    assert out[1] == (0, 1_000_000**2)
    assert out[2] == (1, 2_000_000**2)
    assert out[3] == (0, 1_000_000**2)


@pytest.mark.parametrize("k", [2, 20])
def test_null_vector_belongs_to_no_centroid(spark, k):
    """A null vector belongs to no centroid: ivf_assign gives the -1
    sentinel (nprobe=1, column still non-nullable) or an empty probe list,
    centroid_assign_exact and assign_two_level a null topic and distance.
    The other rows in the same batches keep their exact assignment; k=20
    runs two-level with 5 supers."""
    rows = [(1, [1.0, 0.0]), (2, [4.0, 0.0]), (3, None), (4, [-1.0, 0.0])]
    df = sim.quantized(
        spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ).select("vec_id", "qvec", "qnorm")
    # c0, c1 near the data; the rest far away, so two-level == exact here
    cents = [[0, 0], [2_000_000, 0]] + [
        [100_000_000 + j, 100_000_000] for j in range(k - 2)
    ]

    one = sim.ivf_assign(df, cents, nprobe=1)
    assert not one.schema["ivf_list"].nullable
    assert {r["vec_id"]: r["ivf_list"] for r in one.collect()} == {1: 0, 2: 1, 3: -1, 4: 0}
    multi = sim.ivf_assign(df, cents, nprobe=2)
    assert {r["vec_id"]: list(r["ivf_list"]) for r in multi.collect()} == {
        1: [0, 1], 2: [1, 0], 3: [], 4: [0, 1]
    }
    want = {1: (0, 1_000_000**2), 2: (1, 2_000_000**2), 3: (None, None), 4: (0, 1_000_000**2)}
    for op in (sim.centroid_assign_exact, sim.assign_two_level):
        out = op(df, cents).select("vec_id", "topic", "d2").collect()
        assert {r["vec_id"]: (r["topic"], r["d2"]) for r in out} == want, op.__name__


@pytest.mark.parametrize("op", ["ivf_assign", "centroid_assign_exact", "assign_two_level"])
def test_empty_centroids_raise_value_error(spark, op):
    df = sim.quantized(
        spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    )
    with pytest.raises(ValueError, match="centroids must be non-empty"):
        getattr(sim, op)(df, [])

def test_random_projection_exact_and_jl(spark):
    """random_projection equals a pure-Python replay of the md5-parity
    Rademacher matrix (exact integers), and the projection obeys the JL
    energy law: E[||Pv||^2] = d_out * ||v||^2 within sampling error."""
    import hashlib

    emb = load_table(spark, SF, "embeddings").where(F.col("vec_id") < 30)
    rows = sim.random_projection(emb, out_dim=16).select("vec_id", "embedding", "proj").collect()
    assert rows

    def sign(i, j):
        return 1 if int(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[0], 16) % 2 else -1

    import math

    ratios = []
    for r in rows:
        q = [math.floor(float(x) * 10000 + 0.5) for x in r["embedding"]]
        expect = [sum(q[i] * sign(i, j) for i in range(len(q))) for j in range(16)]
        assert list(r["proj"]) == expect, f"vec {r['vec_id']} projection mismatch"
        n_orig = sum(x * x for x in q)
        n_proj = sum(x * x for x in expect)
        if n_orig:
            ratios.append(n_proj / n_orig)
    mean_ratio = sum(ratios) / len(ratios)
    # E[ratio] = 16 exactly for +-1 entries; per-vector std ~ sqrt(2/16)*16
    assert 10.0 < mean_ratio < 24.0, f"JL energy law violated: {mean_ratio:.2f}"

def test_random_projection_literal_path_equals_portable(spark):
    """The plan-time literal sign matrix (in_dim=64) must be bit-identical
    to the per-row md5 derivation, and the runtime guard must reject a
    vector whose length violates the in_dim contract (zip_with would
    otherwise null-pad silently)."""
    emb = load_table(spark, SF, "embeddings").where(F.col("vec_id") < 30)
    slow = sim.random_projection(emb, out_dim=16).select("vec_id", "proj")
    fast = sim.random_projection(emb, out_dim=16, in_dim=64).select("vec_id", "proj")
    assert slow.exceptAll(fast).count() == 0
    assert fast.exceptAll(slow).count() == 0

    import pytest as _pytest

    short = emb.withColumn("embedding", F.expr("slice(embedding, 1, 10)"))
    with _pytest.raises(Exception, match="not true"):
        sim.random_projection(short, out_dim=4, in_dim=64).collect()


def test_python_xxhash64_matches_spark(spark):
    """functions/xxh.py must replicate Spark's xxhash64 exactly for INT and
    BIGINT chains (including negatives) -- the contract that lets hash-derived
    constants be folded at plan-build time."""
    from odp_dynamic_data_pipeline_spark.functions.xxh import (
        xxhash64_ints,
        xxhash64_longs,
    )

    rows = spark.sql(
        "SELECT p, j, xxhash64(CAST(p AS INT), CAST(j AS INT)) AS hi,"
        " xxhash64(CAST(p AS BIGINT), CAST(j AS BIGINT)) AS hl"
        " FROM (SELECT explode(array(-5, 0, 3, 31)) AS p),"
        " (SELECT explode(sequence(-2, 13)) AS j)"
    ).collect()
    for r in rows:
        assert xxhash64_ints(r.p, r.j) == r.hi
        assert xxhash64_longs(r.p, r.j) == r.hl


def test_lsh_hyperplane_literal_matches_runtime_hash(spark):
    """The plan-time literal sign vectors must reproduce the original
    per-row xxhash64 hyperplane expression bit-for-bit."""
    emb = quantized_embeddings(spark)
    old_bits = []
    new_bits = []
    for plane in (0, 7, 31):
        old = (
            F.expr(
                f"aggregate(zip_with(qvec, sequence(0, 63),"
                f" (x, j) -> CASE WHEN xxhash64({plane}, j) % 2 = 0 THEN x ELSE -x END),"
                f" CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))"
            )
            > 0
        ).cast("int")
        old_bits.append(old.alias(f"o{plane}"))
        new_bits.append(sim._hyperplane_sign("qvec", plane, 64).alias(f"n{plane}"))
    rows = emb.select(*old_bits, *new_bits).collect()
    assert rows
    for r in rows:
        for plane in (0, 7, 31):
            assert r[f"o{plane}"] == r[f"n{plane}"]


def quantized_embeddings(spark):
    emb = load_table(spark, SF, "embeddings").where(F.col("vec_id") < 50)
    return sim.quantized(emb, "embedding")


def test_hard_negatives_labels_differ(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    rows = sim.hard_negatives(emb, q, k=5).collect()
    assert len(rows) == 25
    qlabels = {r["vec_id"]: r["label"] for r in q.select("vec_id", "label").collect()}
    for r in rows:
        assert r["cand_label"] != qlabels[r["qid"]]
        assert 1 <= r["rank"] <= 5


def test_ivfpq_recall_floor(spark):
    """IVF-PQ (probed-list residual ADC + exact re-rank) must recover a
    reasonable share of exact neighbors.  The bound is looser than flat
    PQ's: the coarse quantizer already drops any neighbor whose list is not
    probed (nprobe=2 of nlist=8), and md5 codebooks are untrained."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.where(F.col("vec_id") < 20)
    exact = {(r["qid"], r["cand_id"]) for r in sim.cosine_topk(emb, q, k=5).collect()}
    ivfpq = {
        (r["qid"], r["cand_id"])
        for r in sim.ivfpq_topk(emb, q, k=5, nlist=8, nprobe=2, shortlist=64).collect()
    }
    assert _recall(exact, ivfpq) >= 0.4, "IVF-PQ recall collapsed"
    # every returned pair must also be list-consistent: a candidate only
    # appears if it sits in one of its query's probed lists
    assert all(qid != cid for qid, cid in ivfpq)
