"""Approximate aggregates are the 100 TB scale path for the exact
operators we oracle (exact percentile → approx_percentile; count distinct
→ approx_count_distinct HLL; brute-force cosine → LSH ANN). These tests
pin that each approximation lands within its documented tolerance of the
exact operator on the same input, so swapping them in at scale is a
config change, not a semantics change."""

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.01"


def test_approx_count_distinct_within_rsd(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    exact = d.select(F.countDistinct("text")).head()[0]
    approx = d.select(F.approx_count_distinct("text", rsd=0.02)).head()[0]
    assert abs(approx - exact) / exact < 0.10  # 2% rsd → 10% is generous


def test_approx_percentile_close_to_exact(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    row = ev.agg(
        F.expr("percentile(value, 0.5)").alias("exact"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("approx"),
    ).head()
    spread = ev.agg(F.max("value") - F.min("value")).head()[0]
    assert abs(row["approx"] - row["exact"]) <= 0.01 * spread


def test_ann_scores_faithful_and_bucket_prunes(spark):
    """Bucket-pruned ANN trades RECALL for scan cost (one probe of a 2^8
    sign-LSH space; production raises recall with more tables/probes —
    a parameter, not a redesign). What must hold regardless: (a) every
    returned score is the TRUE cosine of that vector (identical to the
    brute-force value), and (b) the candidate set is a strict subset of
    the corpus — the pruning actually pruned."""
    import math

    from pii_detection_service_spark.operators import similarity
    from pii_detection_service_spark.operators.relational import table

    ann = similarity.ann_search_multiprobe(spark, SF, radius=0).collect()
    assert ann, "query bucket must contain candidates"

    vecs = {
        r["vec_id"]: r["embedding"]
        for r in table(spark, SF, "embeddings").collect()
    }
    q = vecs[0]
    qn = math.sqrt(sum(float(x) * float(x) for x in q))
    n_total = len(vecs) - 1
    assert len(ann) < n_total  # (b) pruned
    for r in ann:
        v = vecs[r["vec_id"]]
        dot = sum(float(a) * float(b) for a, b in zip(v, q))
        vn = math.sqrt(sum(float(x) * float(x) for x in v))
        assert abs(r["cos"] - dot / (vn * qn)) < 1e-3  # (a) faithful


def test_multiprobe_lifts_recall_over_single_probe(spark, tmp_path):
    """Radius-1 multi-probe must recover exactly the single-sign-flip misses:
    30 near-dups of the query are planted with noise calibrated (seed 11,
    σ=0.2·‖q‖/√d) so ~1/3 keep the query's bucket, ~1/3 flip one sign and
    ~1/3 flip several. Single-probe candidate recall ≲ 0.5; Hamming-1
    probing must add every one-flip dup back while still pruning the scan."""
    import numpy as np

    from pii_detection_service_spark.operators import similarity
    from pii_detection_service_spark.operators.relational import table

    base = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .where(F.col("vec_id") < 60)
        .collect()
    )
    rows = [
        (r["vec_id"], r["label"], [float(x) for x in r["embedding"]]) for r in base
    ]
    q = np.array(dict((r[0], r[2]) for r in rows)[0])
    rng = np.random.default_rng(11)
    sigma = 0.2 * float(np.linalg.norm(q)) / np.sqrt(len(q))
    planted = set()
    for i in range(30):
        noisy = q + rng.normal(0.0, sigma, len(q))
        rows.append((1000 + i, "dup", [float(x) for x in noisy]))
        planted.add(1000 + i)
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    ).withColumn("embedding", F.col("embedding").cast("array<float>")).write.mode(
        "overwrite"
    ).parquet(f"{sf}/embeddings.parquet")

    # candidate-region recall, measured with the operator's own bucket expr
    anchors = similarity._anchor_literals(spark, sf, 8)
    bucketed = (
        table(spark, sf, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("bucket", F.expr(similarity._bucket_sql(anchors)))
    )
    buckets = {r["vec_id"]: r["bucket"] for r in bucketed.select("vec_id", "bucket").collect()}
    qb = buckets[0]
    single = sum(1 for p in planted if buckets[p] == qb)
    multi = sum(1 for p in planted if bin(buckets[p] ^ qb).count("1") <= 1)
    assert single / 30 <= 0.55, f"noise calibration drifted: single={single}"
    assert multi > single
    assert multi / 30 >= 0.6, f"multi-probe recall {multi}/30"

    # the search itself: every returned row is a planted dup (cos≈0.97 vs
    # ~0.5 background), and the scan still pruned (≤ 9/256 of bucket space)
    got = similarity.ann_search_multiprobe(spark, sf).collect()
    assert len(got) == 10
    assert all(r["vec_id"] in planted for r in got)
    probed = {b for b in set(buckets.values()) if bin(b ^ qb).count("1") <= 1}
    assert len(probed) < len(set(buckets.values()))


def test_ivf_probes_subset_and_scores_faithful(spark):
    """IVF search over the raw-anchor cells (iters=0): (a) candidates come
    only from the query's 2 probed cells (a strict subset of the corpus —
    pruning is real), (b) every returned score is the true cosine."""
    import math

    from pii_detection_service_spark.operators import similarity
    from pii_detection_service_spark.operators.relational import table

    got = similarity.ann_ivf_learned(spark, SF, iters=0).collect()
    assert got
    assert len({r["cell"] for r in got}) <= 2  # ≤ n_probe cells represented

    vecs = {
        r["vec_id"]: r["embedding"]
        for r in table(spark, SF, "embeddings").collect()
    }
    q = vecs[0]
    qn = math.sqrt(sum(float(x) ** 2 for x in q))
    for r in got:
        v = vecs[r["vec_id"]]
        dot = sum(float(a) * float(b) for a, b in zip(v, q))
        vn = math.sqrt(sum(float(x) ** 2 for x in v))
        assert abs(r["cos"] - dot / (vn * qn)) < 1e-3
