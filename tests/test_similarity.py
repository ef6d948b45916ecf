"""ANN operators: brute-force exactness + SRP-LSH recall on real testdata."""

import re

import pyspark.sql.functions as F

from project_cascade_spark.operators.similarity import (
    add_srp_buckets,
    brute_force_topk,
    srp_lsh_topk,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return df.withColumn("embedding", F.col("embedding").cast("array<double>"))


def test_srp_buckets_deterministic(spark):
    emb = _emb(spark)
    a = add_srp_buckets(emb, "embedding", dim=64, n_planes=8, seed=1)
    b = add_srp_buckets(emb, "embedding", dim=64, n_planes=8, seed=1)
    assert a.select("vec_id", "srp_bucket").exceptAll(
        b.select("vec_id", "srp_bucket")
    ).count() == 0


def test_srp_lsh_recall_vs_brute_force(spark):
    emb = _emb(spark).limit(200)
    truth = brute_force_topk(emb, emb, "vec_id", "embedding", k=1).filter(
        F.col("rank") == 1
    )
    approx = srp_lsh_topk(
        emb, "vec_id", "embedding", dim=64, k=1, n_planes=4, n_tables=8
    )
    t = {(r["q_id"], r["n_id"]) for r in truth.collect()}
    a = {(r["q_id"], r["n_id"]) for r in approx.filter(F.col("rank") == 1).collect()}
    # this testdata's top-1 neighbors sit at ~72° (cosine ~0.3) — the hard
    # case for SRP; 4 planes x 8 tables gives expected recall ~0.64
    assert len(a) > 0
    assert len(t & a) / len(t) >= 0.45


def test_ivf_topk_recall_and_shape(spark):
    from project_cascade_spark.operators.similarity import ivf_topk

    emb = _emb(spark).limit(200)
    truth = brute_force_topk(emb, emb, "vec_id", "embedding", k=1).filter(
        F.col("rank") == 1
    )
    approx = ivf_topk(
        emb, "vec_id", "embedding", dim=64, k=1, n_cells=8, n_probe=3
    )
    t = {(r["q_id"], r["n_id"]) for r in truth.collect()}
    a = {(r["q_id"], r["n_id"]) for r in approx.filter(F.col("rank") == 1).collect()}
    assert len(a) > 0
    # probing 3/8 cells scans ~38% of the corpus; near-neighbors
    # co-locate in cells far more often than random, so recall ≫ 0.38
    assert len(t & a) / len(t) >= 0.5
    # every query emits at most k rows, ranks are 1..k dense
    byq = approx.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("rank").alias("mx")
    ).collect()
    assert all(r["n"] == r["mx"] for r in byq)


def test_ivf_trained_quantizer_beats_id_prefix(spark):
    """The round-3 verdict's ask: trained (deterministic spherical k-means,
    farthest-point init) centroids must measurably beat the id-prefix
    quantizer at equal n_probe.  Data: 8 well-separated gaussian blobs with
    ids laid out so the LOW ids all come from ONE blob — the id-prefix
    quantizer then wastes all 8 centroids on that blob, while training
    spreads them across the modes."""
    import numpy as np

    from project_cascade_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )

    rng = np.random.RandomState(0)
    dim, blobs, per = 16, 8, 50
    centers = rng.randn(blobs, dim) * 5
    # wide blobs: with centroids that don't align to the modes, a blob's
    # members SPLIT across cells (tight blobs co-locate under any quantizer
    # and would mask the difference)
    vecs = np.concatenate([
        centers[b] + rng.randn(per, dim) * 2.0 for b in range(blobs)
    ])  # ids 0..49 are blob 0, 50..99 blob 1, ...
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    truth = brute_force_topk(emb, emb, "vec_id", "embedding", k=1).filter(
        F.col("rank") == 1
    )
    t = {(r["q_id"], r["n_id"]) for r in truth.collect()}

    def recall(centroids):
        approx = ivf_topk(
            emb, "vec_id", "embedding", dim=dim, k=1, n_cells=blobs,
            n_probe=1, centroids=centroids, use_kernel=True,
        )
        a = {(r["q_id"], r["n_id"]) for r in approx.filter(F.col("rank") == 1).collect()}
        return len(t & a) / len(t)

    trained = train_ivf_centroids(vecs, n_cells=blobs)
    r_prefix = recall(None)          # centroids = vectors with id < 8 (blob 0)
    r_trained = recall(trained)
    # id-prefix centroids all sit in blob 0: the other blobs split across
    # near-arbitrary cells and n_probe=1 drops cross-cell neighbors
    assert r_trained >= r_prefix + 0.1, (r_trained, r_prefix)
    assert r_trained >= 0.85, (r_trained, r_prefix)


def test_ivf_cells_capped(spark):
    """A degenerate centroid that attracts everything must still be capped
    by the salted window (no single-task sort of the hot cell)."""
    from project_cascade_spark.operators.similarity import ivf_topk

    emb = _emb(spark).limit(100)
    # k LARGER than max_cell_size, so the per-query row count reflects the
    # candidate set, not the rank<=k filter: with the cap broken a probed
    # cell holds up to ~99 rows and queries would emit up to 50 — the
    # assertion can actually fail (round-3 advice: k=3 made it vacuous)
    out = ivf_topk(
        emb, "vec_id", "embedding", dim=64, k=50, n_cells=2, n_probe=1,
        max_cell_size=10,
    )
    mx = out.groupBy("q_id").count().agg(F.max("count")).first()[0]
    assert mx <= 10


def test_ann_candidate_exchange_fusion_plan(spark):
    """Round-6 §6b plan contract: the ids-only candidate set crosses ONE
    exchange (repartition by q_id feeds the dedup aggregate AND the
    per-query top-k window — guide §2.4), and the window sits on the join
    output with no exchange below it.  A regression re-introducing the
    dropDuplicates exchange, the separate floor repartition, or the
    window re-shuffle shows up as extra shuffle Exchange nodes."""
    emb = _emb(spark)
    out = srp_lsh_topk(
        emb, "vec_id", "embedding", dim=64, k=3, n_planes=4, n_tables=2,
        seed=1, use_kernel=True,
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    tree = plan.split("\n\n")[0]
    # node-anchored: "BroadcastExchange (" and "ReusedExchange (" do not match
    n_shuffle = len(re.findall(r"\bExchange \(", tree))
    # one fused candidate exchange; the scoring sides may add their own
    # (non-broadcast) exchanges at other scales, but at this size they
    # broadcast — so exactly 1 shuffle exchange survives
    assert n_shuffle == 1, f"expected 1 shuffle Exchange, got {n_shuffle}:\n{tree}"
    # the Window must not sit above an Exchange (its q_id clustering is
    # satisfied by the fused repartition surviving the broadcast joins).
    # The tree prints root-first, so the Window's inputs follow its line:
    # check the operators between it and the first join below it.
    below_window = tree.split("Window (", 1)[1].split("Join", 1)[0]
    assert not re.search(r"\bExchange \(", below_window), tree
