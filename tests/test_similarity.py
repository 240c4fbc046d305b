"""Similarity-search operators: native vs vectorized equivalence, bucket
pruning behavior."""

from pii_detection_service_spark.operators import similarity

SF = "/root/testdata/sf0.001"


def test_fast_topk_matches_native(spark):
    native = similarity.topk_cosine(spark, SF).collect()
    fast = similarity.topk_cosine_fast(spark, SF).collect()
    assert [r["vec_id"] for r in native] == [r["vec_id"] for r in fast]
    for a, b in zip(native, fast):
        assert abs(a["cos"] - b["cos"]) < 1e-9


def test_ann_search_prunes_to_query_bucket(spark):
    res = similarity.ann_search_multiprobe(
        spark, SF, query_vec_id=0, radius=0
    ).collect()
    assert len(res) > 0
    assert len({r["bucket"] for r in res}) == 1  # single probed bucket
    # candidates are a subset of the corpus (pruning actually happened)
    from pii_detection_service_spark.operators.relational import table

    total = table(spark, SF, "embeddings").count()
    bucket_hist = {
        r["bucket"]: r["n_vecs"]
        for r in similarity.lsh_buckets(spark, SF).collect()
    }
    assert sum(bucket_hist.values()) == total
    assert max(bucket_hist.values()) < total  # vectors spread over buckets


def test_ivf_learned_beats_anchor_quantizer_on_planted_clusters(spark, tmp_path):
    """8 tight clusters whose anchor vectors (vec_id 1..8) sit BETWEEN the
    true centers (deliberately bad coarse quantizer): after 2 Lloyd
    iterations the learned cells align with the clusters, so single-probe
    search recovers the query's true neighborhood where the raw-anchor
    quantizer (``iters=0``) splits it across cells. Deterministic (seeded)."""
    import numpy as np

    rng = np.random.default_rng(15)
    k, per, dim = 8, 40, 64
    centers = rng.normal(0, 1, (k, dim)) * 4.0
    rows = []
    # vec_id 0 = query (member of cluster 3)
    rows.append((0, (centers[3] + rng.normal(0, 0.1, dim)).astype(np.float32)))
    # vec_id 1..8 = anchors at MIDPOINTS of adjacent centers (bad quantizer)
    for i in range(k):
        mid = (centers[i] + centers[(i + 1) % k]) / 2.0
        rows.append((i + 1, mid.astype(np.float32)))
    nid = k + 1
    for c in range(k):
        for _ in range(per):
            rows.append(
                (nid, (centers[c] + rng.normal(0, 0.1, dim)).astype(np.float32))
            )
            nid += 1
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    sf = str(tmp_path)
    df.repartition(4).write.parquet(f"{sf}/embeddings.parquet")

    # ground-truth top-10 by exact cosine (excluding query and anchors'
    # artificial positions is NOT needed — both engines rank the same set)
    V = {i: np.array(v, dtype=np.float64) for i, v in rows}
    q = V[0]
    cos = {
        i: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for i, v in V.items() if i != 0
    }
    truth = {i for i, _ in sorted(cos.items(), key=lambda kv: -kv[1])[:10]}

    learned = {
        r["vec_id"]
        for r in similarity.ann_ivf_learned(spark, sf, n_probe=1).collect()
    }
    anchor = {
        r["vec_id"]
        for r in similarity.ann_ivf_learned(
            spark, sf, n_probe=1, iters=0
        ).collect()
    }
    r_learned = len(learned & truth) / 10
    r_anchor = len(anchor & truth) / 10
    assert r_learned > r_anchor, (r_learned, r_anchor)
    assert r_learned >= 0.9 and r_anchor <= 0.7, (r_learned, r_anchor)


def test_ivf_learned_equal_probe_matches_exact_topk(spark):
    """On the real testdata embeddings, 2-probe learned IVF must return
    results consistent with its own cells (subset check) and overlap the
    exact brute-force top-10."""
    got = similarity.ann_ivf_learned(spark, SF, n_probe=2).collect()
    assert 0 < len(got) <= 10
    exact = {r["vec_id"] for r in similarity.topk_cosine(spark, SF).collect()}
    assert len({r["vec_id"] for r in got} & exact) >= 5


def test_ivf_search_computes_centroid_distances_once(spark):
    """The probe filter must not inline the cell assignment: each of the
    8 centroid-distance folds appears once in the search plan, over the
    quantized column, and the quantizing transform is not repeated inside
    them."""
    for iters in (0, 2):
        df = similarity.ann_ivf_learned(spark, SF, iters=iters)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("aggregate(zip_with(q#") == 8, plan
        assert "zip_with(transform(" not in plan, plan
