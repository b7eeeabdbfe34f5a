"""ANN paths: IVF structure + recall vs the exact baseline."""

from __future__ import annotations

from pyspark.sql import functions as F

from image_deid_etl_spark.operators.similarity import (
    cosine_knn,
    ivf_knn,
    kmeans_centroids,
)


def test_kmeans_deterministic(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c1 = kmeans_centroids(e, k=4, n_iters=2)
    c2 = kmeans_centroids(e, k=4, n_iters=2)
    assert c1 == c2
    assert len(c1) == 4 and all(len(c) == 64 for c in c1)


def test_ivf_structure_and_recall(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    exact = cosine_knn(e, q, k=5).toPandas()
    approx = ivf_knn(e, q, k=5, n_centroids=8, n_probe=3).toPandas()

    # structure: <=5 ranked neighbors per query, no self-matches
    per_q = approx.groupby("query_id").size()
    assert (per_q <= 5).all() and len(per_q) == 10
    assert (approx["query_id"] != approx["neighbor_id"]).all()

    # recall@5 vs exact — random 64-dim vectors have weak cluster
    # structure, so the bound is deliberately loose; the dial is n_probe
    exact_sets = exact.groupby("query_id")["neighbor_id"].apply(set)
    approx_sets = approx.groupby("query_id")["neighbor_id"].apply(set)
    hits = sum(
        len(exact_sets[qid] & approx_sets.get(qid, set())) for qid in exact_sets.index
    )
    recall = hits / (5 * len(exact_sets))
    assert recall >= 0.2, f"recall@5 = {recall}"


def test_ivf_full_probe_equals_exact(spark, sf_dir):
    """Probing ALL cells must reproduce the exact top-k (sanity anchor)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    exact = cosine_knn(e, q, k=3).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    full = ivf_knn(e, q, k=3, n_centroids=4, n_probe=4).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    assert exact.equals(full)


def _recall_at_5(e, exact_sets, **kw):
    from image_deid_etl_spark.operators.similarity import lsh_bucketed_knn

    ap = lsh_bucketed_knn(e, k=5, **kw).toPandas()
    aps = ap.groupby("query_id")["neighbor_id"].apply(set)
    hits = sum(len(exact_sets[q] & aps.get(q, set())) for q in exact_sets.index)
    return hits / (5 * len(exact_sets))


def test_lsh_knn_recall_on_clustered_corpus(spark):
    """r3 recall evidence: on embeddings with real cluster structure (the
    100 TB use case — model embeddings of near-dup corpora), the shipped
    defaults (12 planes x 3 bands) with multi-probe reach recall@5 >= 0.6
    vs exact cosine kNN, and multi-probe strictly improves on home-bucket
    probing. The sf0.1 `embeddings` table is deliberately NOT used here:
    it is isotropic noise (top-5 cosine ~= 0.37, i.e. theta ~= 68 deg),
    where ANY sign-bit scheme's per-plane agreement is ~0.62 and banded
    collision probability is irreducibly tiny — a data property, not an
    implementation one; DESIGN.md documents the measured curve."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.randn(40, 64)
    vecs = np.repeat(centers, 50, axis=0) + 0.35 * rng.randn(2000, 64)
    e = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    exact = cosine_knn(e, e, k=5).toPandas()
    exact_sets = exact.groupby("query_id")["neighbor_id"].apply(set)

    home = _recall_at_5(e, exact_sets, multiprobe=False)  # ablation baseline
    multi = _recall_at_5(e, exact_sets)  # SHIPPED defaults (multiprobe=True, r4)
    assert multi >= 0.6, f"shipped-default recall@5 = {multi}"
    assert multi > home, f"multi-probe ({multi}) must beat home-only ({home})"


def test_arrow_pair_scoring_bit_identical_to_jvm_fold(spark):
    """r6: `_score_pairs_arrow`'s column-wise accumulation must reproduce
    the engine's sequential `aggregate(zip_with(...))` fold BIT-FOR-BIT
    (same ordered IEEE multiply/adds), not merely approximately — rank
    ties in the top-k window depend on exact doubles."""
    import numpy as np

    from pyspark.sql import functions as F

    from image_deid_etl_spark.operators.similarity import _dot, _norm

    rng = np.random.RandomState(11)
    vecs = rng.randn(300, 64).astype(np.float32)
    e = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    a = e.select(F.col("vec_id").alias("_lo"), F.col("embedding").alias("_vlo"),
                 _norm(F.col("embedding")).alias("_nlo"))
    b = e.select(F.col("vec_id").alias("_hi"), F.col("embedding").alias("_vhi"),
                 _norm(F.col("embedding")).alias("_nhi"))
    pairs = a.join(b, F.col("_lo") < F.col("_hi"))  # all ordered pairs
    jvm = pairs.select(
        "_lo", "_hi",
        (_dot(F.col("_vlo"), F.col("_vhi")) / (F.col("_nlo") * F.col("_nhi"))).alias("_cos"),
    ).toPandas().sort_values(["_lo", "_hi"]).reset_index(drop=True)
    from image_deid_etl_spark.operators.similarity import _score_pairs_arrow

    arrow = (
        pairs.select("_lo", "_hi", "_vlo", "_vhi", "_nlo", "_nhi")
        .mapInPandas(_score_pairs_arrow, "_lo long, _hi long, _cos double")
        .toPandas().sort_values(["_lo", "_hi"]).reset_index(drop=True)
    )
    assert len(jvm) == len(arrow) == 300 * 299 // 2
    # bit-level comparison: reinterpret the doubles as int64
    jb = jvm["_cos"].to_numpy().view(np.int64)
    ab = arrow["_cos"].to_numpy().view(np.int64)
    assert (jb == ab).all()


def _band_bucket_reference(vec, dim: int, n_planes: int, band: int) -> str:
    """Plain-Python band bucket: a sequential double fold over the plane's
    coefficients, bit ``'1'`` iff the dot is ``>= 0``."""
    from image_deid_etl_spark.operators.similarity import _hyperplane

    bits = []
    for p in range(n_planes):
        dot = 0.0
        for x, c in zip(vec, _hyperplane(band * n_planes + p, dim)):
            dot = dot + float(x) * c
        bits.append("1" if dot >= 0 else "0")
    return f"{band}|" + "".join(bits)


def test_band_table_matches_python_reference(spark):
    """`lsh_band_table` buckets equal the plain-Python fold bit for bit,
    on float32 vectors with negative dots and exactly-zero dots (the zero
    vector, and the unit vector e_0 against plane 11, whose first
    coefficient is 0): a ``> 0`` bit rule would flip those."""
    import numpy as np

    from image_deid_etl_spark.operators.similarity import _hyperplane, lsh_band_table

    dim, n_planes, n_bands = 64, 12, 3
    assert _hyperplane(11, dim)[0] == 0.0
    rng = np.random.RandomState(5)
    vecs = [v for v in rng.randn(196, dim).astype(np.float32)]
    e0 = np.zeros(dim, dtype=np.float32)
    e0[0] = 1.0
    vecs += [np.zeros(dim, dtype=np.float32), e0, -e0, np.full(dim, -1.0, dtype=np.float32)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = sorted(
        tuple(r) for r in lsh_band_table(e, "vec_id", "embedding", dim, n_planes, n_bands).collect()
    )
    want = sorted(
        (i, _band_bucket_reference(v, dim, n_planes, b)) for i, v in rows for b in range(n_bands)
    )
    assert len(got) == 200 * n_bands
    assert got == want
    bits = "".join(b.split("|")[1] for _, b in want)
    assert "0" in bits and "1" in bits  # both signs occur
    zero_vec = [b for i, b in want if i == 196]
    assert all(set(b.split("|")[1]) == {"1"} for b in zero_vec)  # dot == 0 → '1'
    assert [b for i, b in want if i == 197][0][2 + 11] == "1"  # e_0 · plane 11 == 0
