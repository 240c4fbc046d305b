"""Connected-components clustering: the transitive closure that one-round
survivor rules (minhash_survivors) cannot reach."""

import pyspark.sql.functions as F

from pii_detection_service_spark.operators import dedup

SF = "/root/testdata/sf0.001"


def test_chain_collapses_to_one_cluster(spark):
    """A–B and B–C edges (no direct A–C) must land all three in cluster A:
    exactly the transitive link the one-round band-min rule misses."""
    nodes = spark.createDataFrame([(1,), (2,), (3,), (4,), (9,)], "doc_id long")
    # chain 1-2-3, pair 4-9
    edges = spark.createDataFrame([(2, 1), (3, 2), (9, 4)], "a long, b long")
    got = {
        r["doc_id"]: r["cluster"]
        for r in dedup.connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 9: 4}


def test_singletons_keep_their_own_label(spark):
    nodes = spark.createDataFrame([(7,), (8,)], "doc_id long")
    edges = spark.createDataFrame([], "a long, b long")
    tel = {}
    got = {
        r["doc_id"]: r["cluster"]
        for r in dedup.connected_components(nodes, edges, telemetry=tel).collect()
    }
    assert got == {7: 7, 8: 8}
    assert tel == {"rounds": 0, "rounds_executed": 0}


def test_clusters_refine_survivors(spark):
    """Cluster ids must be ≤ the one-round dup_of for every doc (transitive
    closure can only merge further down, never up), and the survivor flag
    must be consistent with the min-id rule."""
    surv = {
        r["doc_id"]: r["dup_of"]
        for r in dedup.minhash_survivors(spark, SF).collect()
    }
    clus = dedup.dedup_clusters(spark, SF).collect()
    assert len(clus) == len(surv)
    for r in clus:
        assert r["cluster_id"] <= surv[r["doc_id"]]
        assert r["survivor"] == (r["cluster_id"] == r["doc_id"])
    # every cluster id is itself a member of the cluster it names
    ids = {r["doc_id"] for r in clus}
    assert {r["cluster_id"] for r in clus} <= ids


def _chain(spark, n):
    """Path graph 1-2-...-n: diameter n-1, the deep-diameter stress case
    (min-label propagation would need ~n-1 rounds)."""
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "a long, b long"
    )
    return nodes, edges


def _union_find_labels(nodes, es):
    """Reference CC: doc_id -> minimum id of its component, pure Python."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in es:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in nodes}


def test_nonconvergence_raises_instead_of_splitting(spark):
    """max_iters exhausted before the fixpoint must raise, never silently
    return split clusters (ADVICE r1)."""
    import pytest

    nodes, edges = _chain(spark, 24)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(nodes, edges, max_iters=1)


def test_deep_chain_converges_with_bounded_plan(spark):
    """A 15-node path runs several star rounds, each sub-round
    checkpointed. Checks (a) the labels are still exactly one cluster,
    (b) the returned plan is truncated (starts from the checkpointed scan,
    not a plan that grew with every round)."""
    nodes, edges = _chain(spark, 15)
    tel = {}
    labels = dedup.connected_components(nodes, edges, telemetry=tel)
    got = {r["doc_id"]: r["cluster"] for r in labels.collect()}
    assert got == {i: 1 for i in range(1, 16)}
    assert tel["rounds"] >= 3
    # lineage truncation: the logical plan must be a handful of nodes (scan
    # of the checkpointed RDD + the final attach join/agg), not a plan that
    # grew with all rounds (~10 lines per sub-round).
    plan = labels._jdf.queryExecution().analyzed().toString()
    assert plan.count("\n") < 40, f"plan not truncated:\n{plan[:2000]}"


def test_star_variant_matches_min_label_on_arbitrary_graphs(spark):
    """connected_components (large-star/small-star) must label every node
    with EXACTLY its component minimum — a pure-Python union-find
    reference — on chains, random graphs, and forests of stars with
    singletons."""
    import random

    cases = []
    # 20-node chain (worst diameter)
    cases.append((list(range(1, 21)), [(i, i + 1) for i in range(1, 20)]))
    # seeded random graphs
    for seed in (5, 17):
        rnd = random.Random(seed)
        nodes = list(range(1, 61))
        es = [
            (u, v)
            for u in nodes
            for v in nodes
            if u < v and rnd.random() < 0.04
        ]
        cases.append((nodes, es))
    # two stars + singletons
    cases.append(
        ([1, 2, 3, 4, 10, 11, 12, 99, 100],
         [(1, 2), (1, 3), (1, 4), (10, 11), (10, 12)])
    )
    for nodes, es in cases:
        ndf = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
        edf = spark.createDataFrame(es, "a long, b long")
        got = {
            r["doc_id"]: r["cluster"]
            for r in dedup.connected_components(ndf, edf).collect()
        }
        assert got == _union_find_labels(nodes, es), (len(nodes), len(es))


def test_star_variant_converges_fast_on_long_chain(spark):
    """A 24-node path has diameter 23 — min-label propagation needs ~23
    rounds, star contraction must close in far fewer (O(log n)); pinned by
    giving it only 8 rounds."""
    nodes, edges = _chain(spark, 24)
    got = {
        r["doc_id"]: r["cluster"]
        for r in dedup.connected_components(nodes, edges, max_iters=8).collect()
    }
    assert got == {i: 1 for i in range(1, 25)}


# --- durable per-round resume (checkpoint_dir) -------------------------------


def test_cc_durable_resume_recomputes_only_remaining_rounds(spark, tmp_path):
    """Kill CC between rounds (max_iters abort after the round-2 state
    committed), restart with the same checkpoint_dir: the restart resumes
    FROM round 2, executes only the remaining rounds, and produces the same
    labels as an uninterrupted run."""
    import pytest

    nodes, edges = _chain(spark, 26)
    ckpt = str(tmp_path / "cc")
    with pytest.raises(RuntimeError):
        dedup.connected_components(
            nodes, edges, max_iters=2, checkpoint_dir=ckpt
        )  # dies after round 2; rounds 1 and 2 are committed
    tel = {}
    got = {
        r["doc_id"]: r["cluster"]
        for r in dedup.connected_components(
            nodes, edges, telemetry=tel, checkpoint_dir=ckpt
        ).collect()
    }
    assert tel["resumed_from_round"] == 2
    assert tel["rounds"] > 2
    assert tel["rounds_executed"] == tel["rounds"] - 2  # only the remainder
    assert got == {i: 1 for i in range(1, 27)}
    # uninterrupted fresh run agrees exactly
    want = {
        r["doc_id"]: r["cluster"]
        for r in dedup.connected_components(nodes, edges).collect()
    }
    assert got == want


def test_cc_durable_resume_ignores_torn_state(spark, tmp_path):
    """A crash between a round's data commit and its state commit (or a
    torn state write) must fall back to the previous committed round, not
    resume from half-written state: deleting the round-2 state table makes
    the restart resume from round 1 and still converge correctly."""
    import shutil

    import pytest

    nodes, edges = _chain(spark, 26)
    ckpt = str(tmp_path / "cc")
    with pytest.raises(RuntimeError):
        dedup.connected_components(
            nodes, edges, max_iters=2, checkpoint_dir=ckpt
        )
    shutil.rmtree(f"{ckpt}/star_state_2")  # simulate torn round-2 commit
    tel = {}
    got = {
        r["doc_id"]: r["cluster"]
        for r in dedup.connected_components(
            nodes, edges, telemetry=tel, checkpoint_dir=ckpt
        ).collect()
    }
    assert tel["resumed_from_round"] == 1
    assert got == {i: 1 for i in range(1, 27)}


def test_cc_star_durable_resume_matches_fresh_run(spark, tmp_path):
    """CC with a checkpoint_dir: abort after 1 round, restart resumes from
    the committed round-1 edge state and the final labels equal an
    uninterrupted run. An immediate re-run on the converged checkpoint
    runs no round: its two newest state rows already show the fixpoint."""
    import pytest

    nodes, edges = _chain(spark, 40)
    ckpt = str(tmp_path / "star")
    with pytest.raises(RuntimeError):
        dedup.connected_components(
            nodes, edges, max_iters=1, checkpoint_dir=ckpt
        )
    tel = {}
    got = {
        r["doc_id"]: r["cluster"]
        for r in dedup.connected_components(
            nodes, edges, telemetry=tel, checkpoint_dir=ckpt
        ).collect()
    }
    assert tel["resumed_from_round"] == 1
    assert got == {i: 1 for i in range(1, 41)}
    fresh = {}
    want = {
        r["doc_id"]: r["cluster"]
        for r in dedup.connected_components(
            nodes, edges, telemetry=fresh
        ).collect()
    }
    assert got == want
    assert tel["rounds"] == fresh["rounds"]

    again = {}
    rerun = {
        r["doc_id"]: r["cluster"]
        for r in dedup.connected_components(
            nodes, edges, telemetry=again, checkpoint_dir=ckpt
        ).collect()
    }
    assert again["resumed_from_round"] == fresh["rounds"]
    assert again["rounds_executed"] == 0
    assert again["rounds"] == fresh["rounds"]
    assert rerun == want


def test_dedup_clusters_checkpoint_dir_output_unchanged(spark, tmp_path):
    """The registered query's output is identical with and without a
    checkpoint_dir (resume is a pure execution concern, not a semantic
    one), and an immediate re-run resumes from the converged state."""
    plain = {
        (r["doc_id"], r["cluster_id"], r["survivor"])
        for r in dedup.dedup_clusters(spark, SF).collect()
    }
    ckpt = str(tmp_path / "q")
    tel = {}
    durable = {
        (r["doc_id"], r["cluster_id"], r["survivor"])
        for r in dedup.dedup_clusters(
            spark, SF, telemetry=tel, checkpoint_dir=ckpt
        ).collect()
    }
    assert plain == durable
