"""Similarity search over the embeddings table (array<float> column).

- brute-force cosine top-k: broadcast the query vector, map-side cosine in
  JVM higher-order functions, TakeOrderedAndProject for the top-k (no full
  sort materialization).
- LSH-bucketed ANN: random-hyperplane signs → bucket id. Anchors are
  data-derived (fixed vec_ids) so the oracle is portable. At scale, the
  bucket id becomes the shuffle/partition key and a query probes the
  buckets within Hamming ``radius`` of its own (radius 0 = its one bucket)
  instead of the full corpus.
- IVF ANN: nearest-centroid cells over an integer-quantized k-means
  codebook that starts from the same anchors (``iters=0`` keeps the raw
  anchors as centroids); a query probes its ``n_probe`` nearest cells.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .relational import table

_DOT = (
    "aggregate(zip_with({u}, {v}, (x, y) -> x * y), "
    "cast(0.0 as double), (acc, x) -> acc + x)"
)
_NORM = "sqrt(aggregate(transform({u}, x -> x * x), cast(0.0 as double), (acc, x) -> acc + x))"


def topk_cosine(spark, sf_dir, k: int = 10) -> DataFrame:
    """Top-k by cosine against the vec_id=0 embedding (broadcast join —
    the dimension side is one row; nothing shuffles)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cos = F.round(
        F.expr(_DOT.format(u="v", v="qv"))
        / (F.expr(_NORM.format(u="v")) * F.expr(_NORM.format(u="qv"))),
        4,
    )
    return (
        e.where(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select("vec_id", cos.alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(k)
    )


def topk_cosine_fast(spark, sf_dir, k: int = 10) -> DataFrame:
    """The 100 TB path for brute-force top-k: numpy matmul inside an Arrow
    UDF (one BLAS call per batch instead of an interpreted fold per row),
    followed by the same TakeOrderedAndProject. Per-partition work is
    embarrassingly parallel; only k rows per partition reach the driver-side
    ordering. Same results as topk_cosine up to float summation order
    (pairwise vs sequential — verified to 1e-9 in tests)."""
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = np.array(
        e.where(F.col("vec_id") == 0).select("embedding").head()[0], dtype=np.float64
    )
    qn = float(np.sqrt((qv * qv).sum()))
    bqv = spark.sparkContext.broadcast(qv)

    def fn(batches):
        q = bqv.value
        for pdf in batches:
            M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            dots = M @ q
            norms = np.sqrt((M * M).sum(axis=1))
            cos = np.round(dots / (norms * qn), 4)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "cos": cos})

    scored = e.where(F.col("vec_id") != 0).mapInPandas(
        fn, "vec_id long, cos double"
    )
    return scored.orderBy(F.col("cos").desc(), "vec_id").limit(k)


def _anchor_literals(spark, sf_dir, n_anchors: int = 8) -> dict[int, list[float]]:
    """Collect the n_anchors data-derived hyperplanes (vec_id 1..n) to the
    driver. They are model constants of the LSH index — 8×64 doubles — and
    inlining them makes bucket assignment MAP-ONLY: no join, no per-vector
    groupBy shuffle. At 100 TB this is the difference between a scan-speed
    pass and shuffling 8× the corpus row count."""
    rows = (
        table(spark, sf_dir, "embeddings")
        .where((F.col("vec_id") >= 1) & (F.col("vec_id") <= n_anchors))
        .select("vec_id", "embedding")
        .collect()
    )
    return {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}


def _bucket_sql(anchors: dict[int, list[float]]) -> str:
    """bucket = Σ_j (dot(v, anchor_j) > 0) << (j-1), anchors inlined as
    array literals. The dot stays the same sequential fold as the oracle's,
    so the sign (and thus the bucket) matches bit-for-bit."""
    terms = []
    for aid in sorted(anchors):
        arr = "array(" + ", ".join(repr(x) for x in anchors[aid]) + ")"
        dot = _DOT.format(u="v", v=arr)
        terms.append(
            f"(case when {dot} > 0 then cast({1 << (aid - 1)} as bigint) "
            "else cast(0 as bigint) end)"
        )
    return "(" + " + ".join(terms) + ")"


def _bucket_probe(spark, sf_dir, query_vec_id, n_anchors, probe) -> DataFrame:
    """Top-10 cosine neighbours of the query among the vectors whose
    sign-LSH bucket passes ``probe`` — a join condition over the vector's
    ``bucket`` and the broadcast query row's ``qbucket``. Bucket
    assignment is a map-only projection (anchors inlined as literals)."""
    anchors = _anchor_literals(spark, sf_dir, n_anchors)
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bucketed = e.withColumn("bucket", F.expr(_bucket_sql(anchors)))
    qb = bucketed.where(F.col("vec_id") == query_vec_id).select(
        F.col("bucket").alias("qbucket"), F.col("v").alias("qv")
    )
    cand = bucketed.join(F.broadcast(qb), probe)
    cos = F.round(
        F.expr(_DOT.format(u="v", v="qv"))
        / (F.expr(_NORM.format(u="v")) * F.expr(_NORM.format(u="qv"))),
        4,
    )
    return (
        cand.where(F.col("vec_id") != query_vec_id)
        .select("vec_id", "bucket", cos.alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(10)
    )


def ann_search_multiprobe(
    spark,
    sf_dir,
    query_vec_id: int = 0,
    n_anchors: int = 8,
    radius: int = 1,
) -> DataFrame:
    """Multi-probe ANN: probe every bucket within Hamming distance ``radius``
    of the query's bucket (bit_count(bucket XOR qbucket) ≤ radius), not just
    the exact bucket. Single-probe recall falls off for vectors near a
    hyperplane — a near-identical pair at angle θ flips any one of the 8
    signs with prob ≈ 8·θ/π, and one flipped sign means a different bucket.
    Radius-1 probing covers exactly those single-flip misses, lifting recall
    from ~(1−θ/π)^8 to ≈ 1 − O(θ²) while scanning 9/256 of the corpus
    instead of 1/256 (at scale: 9 partitions of a bucket-partitioned table —
    still pruned, still no shuffle; the probe predicate is evaluated
    map-side under a broadcast of the single query row). ``radius=0``
    probes the query's own bucket only: ~1/2^b of the corpus."""
    return _bucket_probe(
        spark,
        sf_dir,
        query_vec_id,
        n_anchors,
        F.expr(f"bit_count(bucket ^ qbucket) <= {radius}"),
    )


# --- IVF (integer-quantized Lloyd iterations) --------------------------------
#
# The coarse quantizer of an IVF index is a k-means codebook (Jégou, Douze,
# Schmid, TPAMI 2011). Its starting point is the raw anchor vectors
# (vec_id 1..n); each Lloyd round moves the centroids toward the data's
# density (the classic IVF recall-per-scanned-fraction win), and
# ``iters=0`` searches the raw-anchor cells themselves. To keep the index
# EXACTLY reproducible across engines (the oracle re-derives the whole
# training relationally), the index math is integer-only:
# - vectors quantize to q_d = floor(v_d * 1e6) (floor has no tie-rounding
#   semantics to diverge on, unlike round);
# - assignment = argmin of Σ (q_d − c_d)² in int64 (max ~2.6e14, exact),
#   ties to the smallest centroid id;
# - centroid update = floor(Σ q_d / n). Sums ≤ 1e10 < 2^53, so SQL's
#   floor(sum::DOUBLE / n) and Python's integer // agree exactly (a
#   non-exact quotient sits ≥ 1/n away from any integer — far beyond one
#   ulp — so the double division cannot round across the floor boundary).
# Search quality is unaffected by quantization (1e-6 relative grid);
# the final top-k still ranks by true double-precision cosine.

_QSCALE = 1_000_000


def _sqdist_sql(cvec: list[int]) -> str:
    arr = "array(" + ", ".join(f"{x}L" for x in cvec) + ")"
    return (
        f"aggregate(zip_with(q, {arr}, (x, y) -> (x - y) * (x - y)), "
        "0L, (a, x) -> a + x)"
    )


def ivf_learned_search(
    e: DataFrame,
    query_vec_id: int = 0,
    n_centroids: int = 8,
    n_probe: int = 2,
    iters: int = 2,
) -> DataFrame:
    """IVF ANN over an embeddings DataFrame (vec_id, embedding): every
    vector is assigned to its nearest centroid's cell (map-only argmin over
    inlined literals, no shuffle) and the query probes its ``n_probe``
    nearest cells. Index build = ``iters`` Lloyd passes from the anchor
    centroids, each one map-only assignment + one (cell, dim) aggregate
    whose 8×64-row result is collected driver-side to re-inline the next
    centroids as literals (the same index-constants pattern as
    _anchor_literals — no join or shuffle ever touches the vectors beyond
    the k·d-row aggregate). Search = driver-side probe resolution + ONE
    map-only scan with a literal IN filter (at scale: n_probe partitions
    of a cell-partitioned table); exact cosine runs only on probed
    candidates; deterministic top-10."""
    e = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn(
        "q", F.expr(f"transform(v, x -> cast(floor(x * {float(_QSCALE)!r}) as bigint))")
    )
    # initial centroids: the quantized anchor vectors (vec_id 1..n)
    rows = (
        e.where((F.col("vec_id") >= 1) & (F.col("vec_id") <= n_centroids))
        .select("vec_id", "q")
        .collect()
    )
    cents: dict[int, list[int]] = {
        r["vec_id"]: [int(x) for x in r["q"]] for r in rows
    }

    def with_cell(df: DataFrame) -> DataFrame:
        dists = F.array(*[F.expr(_sqdist_sql(cents[c])) for c in sorted(cents)])
        # argmin, ties to the smallest centroid id (array is id-ordered and
        # array_position returns the FIRST match)
        return df.withColumn("ds", dists).withColumn(
            "cell", F.expr("array_position(ds, array_min(ds))")
        )

    for _ in range(iters):
        agg = (
            with_cell(e)
            .select("cell", F.posexplode("q").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cell: dict[int, dict[int, tuple[int, int]]] = {}
        for r in agg:
            by_cell.setdefault(int(r["cell"]), {})[int(r["dim"])] = (
                int(r["s"]), int(r["n"]),
            )
        new_cents = {}
        for i, cid in enumerate(sorted(cents), start=1):
            if i in by_cell:
                dims = by_cell[i]
                # Python // is exact floor — matches SQL floor(s/n), see top
                new_cents[cid] = [
                    dims[d][0] // dims[d][1] for d in sorted(dims)
                ]
            else:
                new_cents[cid] = cents[cid]  # empty cell keeps its centroid
        cents = new_cents

    # search: resolve probe cells driver-side on the query's quantized vec
    qrow = e.where(F.col("vec_id") == query_vec_id).select("q", "v").head()
    qq = [int(x) for x in qrow["q"]]
    qv = [float(x) for x in qrow["v"]]
    order = sorted(
        (sum((x - y) * (x - y) for x, y in zip(qq, c)), i)
        for i, c in enumerate((cents[cid] for cid in sorted(cents)), start=1)
    )
    probe = [i for _, i in order[:n_probe]]
    qarr = "array(" + ", ".join(repr(x) for x in qv) + ")"
    cos = F.round(
        F.expr(_DOT.format(u="v", v=qarr))
        / (F.expr(_NORM.format(u="v")) * F.expr(_NORM.format(u=qarr))),
        4,
    )
    # The probe filter reads ``cell`` from a generator's output, which
    # Catalyst cannot push a filter below; filtered on the projected
    # ``cell``, it would inline the 8 distance folds into the filter and
    # the projection would compute them again for every probed row.
    probed = with_cell(e).select(
        "vec_id", "v", F.explode(F.array("cell")).alias("cell")
    )
    return (
        probed.where(F.col("cell").isin(probe) & (F.col("vec_id") != query_vec_id))
        .select("vec_id", F.col("cell").cast("bigint").alias("cell"), cos.alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(10)
    )


def ann_ivf_learned(spark, sf_dir, **kw) -> DataFrame:
    return ivf_learned_search(table(spark, sf_dir, "embeddings"), **kw)


def lsh_buckets(spark, sf_dir) -> DataFrame:
    """Sign-LSH bucket histogram: 8 data-derived hyperplanes (embeddings of
    vec_id 1..8); bucket = Σ_j (dot(v, anchor_j) > 0) << (j-1). One map-only
    pass + one histogram aggregate — the only shuffle carries ≤2^8 rows."""
    anchors = _anchor_literals(spark, sf_dir, 8)
    e = table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    per_vec = e.select(F.expr(_bucket_sql(anchors)).alias("bucket"))
    return per_vec.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vecs"))
