"""Scale-shape guards for the two dedup verify steps (VERDICT r1 findings
1-2): exact verification must run on LSH-proposed candidates, never on
all pairs within a block — the pair counts here pin that the quadratic
shape is actually gone, not just hidden at small SF."""

import numpy as np
import pyspark.sql.functions as F

from pii_detection_service_spark.operators import dedup

SF = "/root/testdata/sf0.001"


def test_jaccard_candidates_count_is_star_edges_not_block_pairs(spark):
    """Verified-pair count == distinct star-edge count (doc ↔ band-group
    min), and orders of magnitude below both the all-pairs-within-band-group
    count and the (lang, source) block-pair count a blocked all-pairs
    self-join would produce."""
    verified = dedup.jaccard_candidates(spark, SF).count()

    # star edges straight from the band assignments (independent recompute)
    from pyspark.sql import Window

    bands = dedup._band_assignments(dedup.minhash_signatures(spark, SF))
    w = Window.partitionBy("band", "band_key")
    star = bands.withColumn("grp_min", F.min("doc_id").over(w))
    star_edges = (
        star.where(F.col("doc_id") != F.col("grp_min"))
        .select("grp_min", "doc_id")
        .distinct()
        .count()
    )
    assert verified == star_edges

    # all-pairs within band groups: Σ n·(n−1)/2 over group sizes — the
    # quadratic shape the star edges avoid (79k vs ~500 at sf0.001)
    groups = dedup.minhash_band_candidates(spark, SF).collect()
    band_all_pairs = sum(r["n_docs"] * (r["n_docs"] - 1) // 2 for r in groups)
    assert verified < band_all_pairs / 10

    # linear-shape evidence across SFs: the candidate count tracks true
    # near-dup structure, not corpus pairings (the all-pairs shapes grow
    # quadratically with any block/bucket growth; star edges stay flat)
    verified_big = dedup.jaccard_candidates(spark, "/root/testdata/sf0.01").count()
    assert verified_big < verified * 2


def test_jaccard_candidates_scores_match_exact(spark):
    """Every verified candidate's Jaccard equals the direct shingle-set
    computation (spot-check a sample against Python sets)."""
    rows = dedup.jaccard_candidates(spark, SF).limit(20).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }

    def shingles(t):
        return {t[i : i + 3] for i in range(len(t) - 2)}

    for r in rows:
        a, b = shingles(docs[r["doc_a"]]), shingles(docs[r["doc_b"]])
        assert abs(r["jac"] - len(a & b) / len(a | b)) < 1e-12


def _write_planted_embeddings(spark, tmp_path, n_base=60, n_dups=30):
    """Embeddings table with PLANTED near-dups: base vectors from sf0.001
    (anchors 1..8 kept — the index is data-derived), plus n_dups copies of
    base vectors perturbed by tiny deterministic noise (cos ≈ 0.9999)."""
    base = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .where(F.col("vec_id") < n_base)
        .select("vec_id", "label", "embedding")
        .collect()
    )
    rng = np.random.default_rng(7)
    rows = [(r["vec_id"], r["label"], [float(x) for x in r["embedding"]]) for r in base]
    planted = []
    for i in range(n_dups):
        src = rows[10 + i]  # skip 0..9 so anchors/query stay pristine
        v = np.array(src[2])
        noisy = v + rng.normal(0.0, 0.003 * np.linalg.norm(v) / np.sqrt(len(v)), len(v))
        rows.append((1000 + i, src[1], [float(x) for x in noisy]))
        planted.append((src[0], 1000 + i))
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    return planted


def test_embedding_near_dup_bucket_blocking_recall(spark, tmp_path):
    """Bucket-blocked near-dup on planted duplicates: (a) the candidate set
    shrinks to Σ bucket² (vs all pairs), (b) recall of planted cos≈0.9999
    pairs stays high (8 hyperplanes split a θ≈1° pair with prob ≈ 8·θ/π),
    (c) reported cosines are the true cosines."""
    sf = str(tmp_path)
    planted = _write_planted_embeddings(spark, sf)

    got = dedup.embedding_near_dup(spark, sf).collect()
    got_pairs = {(r["vec_a"], r["vec_b"]) for r in got}
    hits = sum(1 for p in planted if p in got_pairs)
    recall = hits / len(planted)
    assert recall >= 0.7, f"planted-pair recall {recall} (got {len(got)} pairs)"

    # candidate-set reduction: same-bucket pairs ≪ all pairs
    from pii_detection_service_spark.operators.similarity import (
        _anchor_literals,
        _bucket_sql,
    )

    anchors = _anchor_literals(spark, sf, 8)
    bucket_sizes = [
        r["n"]
        for r in spark.read.parquet(f"{sf}/embeddings.parquet")
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .select(F.expr(_bucket_sql(anchors)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    n = sum(bucket_sizes)
    cand_pairs = sum(nb * (nb - 1) // 2 for nb in bucket_sizes)
    all_pairs = n * (n - 1) // 2
    assert cand_pairs < all_pairs / 3, (cand_pairs, all_pairs)

    # faithfulness: returned cos == true cosine
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    }
    for r in got[:20]:
        a, b = vecs[r["vec_a"]], vecs[r["vec_b"]]
        true = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["cos"] - true) < 1e-3


# ---------------------------------------------------------------------------
# phash (image-side) near-dup candidates
# ---------------------------------------------------------------------------


def _py_phash_star_edges(phs: dict[str, int], max_hamming: int) -> set:
    """Independent pure-Python reimplementation of the banding + star-edge
    + Hamming-verify contract (the same semantics the DuckDB oracle
    re-derives relationally)."""
    groups: dict[tuple[int, int], list[str]] = {}
    for iid, ph in phs.items():
        u = ph & 0xFFFFFFFFFFFFFFFF
        for b in range(4):
            groups.setdefault((b, (u >> (16 * b)) & 0xFFFF), []).append(iid)
    out = set()
    for g in groups.values():
        m = min(g)
        for other in g:
            if other == m:
                continue
            ham = bin((phs[m] ^ phs[other]) & 0xFFFFFFFFFFFFFFFF).count("1")
            if ham <= max_hamming:
                out.add((m, other, ham))
    return out


def test_phash_planted_near_dups_recovered(spark):
    """10 far-apart random base hashes, each with a twin at 0-3 bit flips:
    the operator's output must equal the pure-Python star-edge contract
    exactly, and every planted (base, twin) pair must surface with its
    exact Hamming distance."""
    rng = np.random.default_rng(7)
    phs: dict[str, int] = {}
    for k in range(10):
        ph = int(rng.integers(-(2**63), 2**63 - 1, dtype=np.int64))
        nbits = k % 4
        mask = 0
        for b in rng.choice(62, size=3, replace=False)[:nbits]:
            mask |= 1 << int(b)
        phs[f"p{k:02d}"] = ph
        phs[f"p{k:02d}_twin"] = ph ^ mask  # bits < 62 → stays in int64
    df = spark.createDataFrame(
        sorted(phs.items()), "image_id string, phash long"
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.phash_near_dup_candidates(df).collect()
    }
    assert got == _py_phash_star_edges(phs, dedup.PHASH_MAX_HAMMING)
    for k in range(10):  # planted recall (deterministic under seed 7:
        # no foreign band collision shadows a base as its twin's grp_min)
        assert (f"p{k:02d}", f"p{k:02d}_twin", k % 4) in got


def test_phash_corpus_query_contract(spark):
    """The registered query over the synthetic image corpus: exact-dup
    pixel clusters (i % 11 == 0 share pixels → identical phash) must all
    pair with img_00000000 at Hamming 0, planted variants surface, and
    nothing above the verify threshold leaks out."""
    out = dedup.phash_candidates(spark, SF).collect()
    assert out, "corpus has planted structure; empty output is a bug"
    assert all(r["hamming"] <= dedup.PHASH_MAX_HAMMING for r in out)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    for i in range(11, 300, 11):
        assert pairs.get(("img_00000000", f"img_{i:08d}")) == 0
    # planted _v variants: each shares >= 2 band words with its base, so
    # it always lands in a candidate group; the star edge survives the
    # Hamming filter whenever the group min is its base (the common case)
    variant_hits = sum(
        1
        for i in range(3, 300, 7)
        if any(f"img_{i:08d}_v" in p for p in pairs)
    )
    assert variant_hits >= 0.8 * len(range(3, 300, 7))


def test_phash_clusters_transitive_chain(spark):
    """The clustering contract the candidate query alone can't give: a
    chain A -(3 bits)- B -(3 bits)- C where A and C are 6 bits apart
    (outside the pairwise verify) must still collapse to ONE cluster via
    transitive closure, while a far-away singleton D stays its own
    cluster and survivor flags mark exactly the cluster minima.

    Chain construction respects the star-edge recall contract: each link's
    flipped bits stay inside ONE band, so the A-B link surfaces in the
    band-0..2 groups (min = A) and the B-C link surfaces in the band-3
    group {B, C} (min = B). A chain whose links each scatter bits across
    three bands would leave every shared group min'd at A, and the
    (A, C) star edge fails the Hamming verify — candidates pair members
    with their group min, not all-pairs (by design: all-pairs is
    quadratic under template skew)."""
    base = 0x0123456789ABCDEF
    a = base
    b = a ^ (1 << 48) ^ (1 << 52) ^ (1 << 56)  # 3 bits, all in band 3
    c = b ^ (1 << 1) ^ (1 << 5) ^ (1 << 9)  # 3 bits in band 0; (a,c)=6
    d = ~base & 0x7FFFFFFFFFFFFFFF  # far from everything
    rows = [(0, "imgA", a), (1, "imgB", b), (2, "imgC", c), (3, "imgD", d)]
    df = spark.createDataFrame(rows, "nid long, image_id string, phash long")
    got = {
        r["image_id"]: (r["cluster_id"], r["survivor"])
        for r in dedup.phash_cluster_labels(df).collect()
    }
    assert got == {
        "imgA": ("imgA", True),
        "imgB": ("imgA", False),
        "imgC": ("imgA", False),
        "imgD": ("imgD", True),
    }


def test_phash_clusters_corpus_contract(spark):
    """Registered query over the synth corpus: every i % 11 == 0 exact-dup
    row (identical pixels → identical phash) lands in img_00000000's
    cluster, each planted _v variant shares a cluster with its base, and
    cluster_id always names the lexicographic... rather, the min-nid
    member (which for this corpus's id scheme is also the min image_id in
    the cluster)."""
    out = dedup.phash_clusters(spark, SF).collect()
    lab = {r["image_id"]: r["cluster_id"] for r in out}
    n_rows = 300 + len(range(3, 300, 7))
    assert len(lab) == n_rows
    for i in range(0, 300, 11):
        assert lab[f"img_{i:08d}"] == lab["img_00000000"]
    merged = sum(
        1
        for i in range(3, 300, 7)
        if lab.get(f"img_{i:08d}_v") == lab[f"img_{i:08d}"]
    )
    assert merged >= 0.8 * len(range(3, 300, 7))
    # survivor flags: exactly one per cluster, and it is the min member
    surv = {r["image_id"] for r in out if r["survivor"]}
    assert surv == {min(ids) for c in set(lab.values())
                    for ids in [[k for k, v in lab.items() if v == c]]}
