"""Deduplication family for the training-data pipeline — the operators a
100 TB caption corpus actually needs, each Spark-native (higher-order
functions, no Python UDFs) so the hot path stays in the JVM.

Every near-dup path is the same banded-candidate algorithm: band words
→ star edges against the band-group minimum (_star_edges, which states
the recall contract once) → an exact verify on the candidate edges only.
_jaccard_edges verifies MinHash bands by shingle Jaccard (text);
_hamming_edges verifies 4×16-bit words by Σ bit_count(xor) (simhash
text, phash images). The clusterings feed verified edges to one
connected_components (large-star/small-star contraction, durable rounds
under a checkpoint_dir), and _image_clusters relabels numeric cluster
ids to image ids.

Scale notes (one-off 5M-doc runs at local[32]; records in history to 32712c5):
- exact:    one hash-groupBy shuffle on md5(text) — map-side partial agg (3 s).
- minhash:  signatures are per-row map-only over a shingle-id array computed
            once per row (51 s; the original inline per-shingle fold was
            599 s); banding is a groupBy keyed on small band strings.
- simhash:  64-bit sketch via a vectorized Arrow kernel (42-53 s); banding
            + Hamming ≤ 3 verify 46 s incl. sketch.
- jaccard:  56 s for 16.4M verified pairs — linear in corpus.
- embedding near-dup: sign-LSH bucket blocking shared with similarity.py's
            ANN index; exact cosine only on same-bucket pairs.
- group-min everywhere via groupBy+join (AQE-splittable), never a Window
            over (band, band_key) — a hot band group would sort in one task.
"""

from __future__ import annotations

from decimal import Decimal

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .relational import table

# Fixed minhash permutation parameters (k=8), small primes — portable to
# the SQL oracle verbatim.
MINHASH_A = [2, 3, 5, 7, 11, 13, 17, 19]
MINHASH_B = [1, 2, 3, 4, 5, 6, 7, 8]
MOD = 1_000_000_007

# Shared sub-expressions (SQL strings so the DuckDB oracle mirrors 1:1).
#
# Shingle ids: each 3-char shingle maps to ONE integer via base-0x110000
# positional encoding (injective over all of Unicode, max ≈ 1.4e18 < int64),
# reduced mod 1e9+7 so downstream permutations can't overflow. This replaces
# the original per-shingle rolling fold over split(s, '') — an interpreted
# HOF chain (split + transform + aggregate, 3 array allocations per shingle)
# that measured 599 s for 5M docs at 32 cores; the arithmetic form runs the
# same corpus in seconds. The codepoint array is materialized ONCE per row
# (named column) and the three lookups per shingle are plain element_at.
_BASE = 0x110000  # one above the max Unicode codepoint → injective
_CODEPOINTS = "transform(split(text, ''), c -> ascii(c))"
_SHINGLE_IDS_FROM_CS = (
    "array_distinct(transform(sequence(1, length(text) - 2), i -> "
    f"(element_at(cs, i) * {_BASE * _BASE}L + element_at(cs, i + 1) * {_BASE}L "
    "+ element_at(cs, i + 2)) % 1000000007))"
)
def _with_shingles(d: DataFrame) -> DataFrame:
    """(…, hs: array<bigint>) — distinct 3-gram shingle ids, computed once
    per row behind a named column so multi-consumer plans can't inline and
    recompute the expensive part."""
    return (
        d.withColumn("cs", F.expr(_CODEPOINTS))
        .withColumn("hs", F.expr(_SHINGLE_IDS_FROM_CS))
        .drop("cs")
    )


def exact_dedup(spark, sf_dir) -> DataFrame:
    """Exact dedup: group on content hash, keep the smallest id (stable
    survivor rule), count multiplicity."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
    )


def _minhash_sig(sh: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh7) from a (doc_id, hs: array<bigint>) frame — each of
    the k permutations is a cheap arithmetic array_min over the shared
    shingle-id array, so the whole signature stays map-only."""
    cols = [
        F.expr(f"array_min(transform(hs, h -> ({a} * h + {b}) % {MOD}))").alias(
            f"mh{j}"
        )
        for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return sh.select("doc_id", *cols)


def minhash_signatures(spark, sf_dir) -> DataFrame:
    """MinHash (k=8) over distinct character 3-gram shingle ids. Map-only:
    the shingle-id array is computed once per row (see _with_shingles),
    then each permutation is an array_min over that shared array."""
    return _minhash_sig(
        _with_shingles(
            table(spark, sf_dir, "documents").where(F.length("text") >= 3)
        )
    )


def _band_assignments(sig: DataFrame) -> DataFrame:
    """LSH banding (4 bands × 2 rows): (doc_id, band, band_key) rows.

    ONE posexplode over an array of the 4 band keys — not a 4-way union of
    projections, which would plant 4 scans of the signature plan (the
    signature expressions would run 4× per row)."""
    arr = F.array(
        *[
            F.concat_ws("_", F.col(f"mh{2 * b}"), F.col(f"mh{2 * b + 1}"))
            for b in range(4)
        ]
    )
    return sig.select(
        "doc_id", F.posexplode(arr).alias("band", "band_key")
    )


def _with_grp_min(bands: DataFrame) -> DataFrame:
    """Attach each band-assignment row its group's min doc_id.

    groupBy + equi-join instead of a Window min: the partial aggregate
    combines map-side (the min table is one row per band group regardless
    of skew), and the join back is an AQE-splittable shuffle — a Window
    over (band, band_key) would sort every row of a hot band group in ONE
    task, exactly the skew a template-heavy corpus produces."""
    mins = bands.groupBy("band", "band_key").agg(
        F.min("doc_id").alias("grp_min")
    )
    return bands.join(mins, ["band", "band_key"])


def minhash_band_candidates(spark, sf_dir) -> DataFrame:
    """LSH banding: docs sharing any band key are near-dup candidates.
    Returns per-band bucket sizes — the shuffle is keyed on tiny band
    strings, never on document text."""
    bands = _band_assignments(minhash_signatures(spark, sf_dir))
    return (
        bands.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc"))
        .where(F.col("n_docs") > 1)
    )


def minhash_survivors(spark, sf_dir) -> DataFrame:
    """End-to-end MinHash dedup: a doc survives unless some band bucket
    contains a smaller doc_id (min-id survivor rule — the single-round
    connected-components approximation used by LSH dedup pipelines).
    Group-min over (band, band_key) (skew-safe groupBy+join, see
    _with_grp_min), then per-doc reduction."""
    bands = _band_assignments(minhash_signatures(spark, sf_dir))
    per_band = _with_grp_min(bands)
    return (
        per_band.groupBy("doc_id")
        .agg(F.min("grp_min").alias("dup_of"))
        .withColumn("survivor", F.col("dup_of") == F.col("doc_id"))
    )


# --- connected components ----------------------------------------------------
# CC is the most expensive query family at every scale notch (minutes at
# 5-20M rows, hours at 100 TB), and localCheckpoint truncates lineage but
# dies with the driver. With a checkpoint_dir, each round's edge set
# persists as parquet plus a tiny Spark-written state table carrying
# (round, checksum). Ordering invariant: the state table for round k
# commits strictly AFTER round k's data parquet, so the existence of a
# state row implies its data committed — a crash anywhere leaves the
# newest VALID state pointing at a fully-written round, and the torn round
# directory is simply overwritten on re-run. Everything goes through Spark
# writes/reads (Hadoop FS), so the same paths work on HDFS / object
# stores, not just the local FS.


def _cc_load_latest(spark, checkpoint_dir: str):
    """Newest committed round: (round, previous round's checksum or None,
    checksum, edge DataFrame) or None. Discovery reads the state tables by
    glob (no directory-listing API — works on any Hadoop FS)."""
    try:
        rows = spark.read.parquet(f"{checkpoint_dir}/star_state_*").collect()
    except Exception:
        return None
    if not rows:
        return None
    by_round = {}
    for r in rows:
        n, s = r["checksum"]
        by_round[int(r["round"])] = (int(n), None if s == "None" else Decimal(s))
    rnd = max(by_round)
    edges = spark.read.parquet(f"{checkpoint_dir}/star_round_{rnd}")
    return rnd, by_round.get(rnd - 1), by_round[rnd], edges


def _cc_save_state(spark, checkpoint_dir: str, rnd: int, checksum):
    """Commit the state row for round ``rnd`` (call only after the round's
    data parquet has committed). Checksums are stringified: the edge-hash
    sum is a decimal(38,0) that would overflow int64."""
    spark.createDataFrame(
        [(rnd, [str(x) for x in checksum])],
        "round int, checksum array<string>",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{checkpoint_dir}/star_state_{rnd}"
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iters: int = 50,
    telemetry: dict | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
    2014): O(log n) rounds on ANY graph, so high-diameter dup graphs (long
    similarity chains) converge in a handful of rounds, where min-label
    propagation would need O(diameter).

    large-star: every node's neighbors LARGER than it re-attach to the
    minimum of its neighborhood (incl. itself); small-star: the ≤ neighbors
    do. Both keep components intact and monotonically pull edges toward the
    component minimum; the fixpoint is a star forest centered on component
    minima. Each sub-round is one groupBy-min + one join, both
    AQE-splittable, with lineage truncated by a checkpoint.

    nodes: one column ``doc_id``. edges: columns (a, b) in either direction
    (the undirected closure is taken here). Returns (doc_id, cluster), the
    cluster being the minimum doc_id of the node's component.

    If ``max_iters`` runs out before the fixpoint, the result would contain
    SPLIT clusters, so this raises RuntimeError instead. ``max_iters`` is a
    safety cap against pathological graphs, not a tuning knob.

    ``checkpoint_dir`` makes the rounds DURABLE: each round's small-star
    edge set is written to parquet (in place of that sub-round's
    localCheckpoint — both truncate lineage, the parquet also survives the
    driver), and a re-run with the same directory resumes from the newest
    committed round instead of round 0. ``telemetry`` (optional dict)
    records ``rounds`` (the round the fixpoint was reached in),
    ``rounds_executed`` (the rounds this call ran) and, on a resume,
    ``resumed_from_round``.
    """
    spark = nodes.sparkSession
    # Fixpoint test: edge sets are DISTINCT (a, b) sets, so equal
    # (count, sum of a 64-bit per-edge hash) across consecutive rounds is a
    # sound set-equality check up to a 2^-64-scale hash-sum collision —
    # unlike (count, sum(a+b)), where different edge sets collide easily
    # (edges are not 1:1 across star rounds). One scalar aggregate per
    # round, after its small-star sub-round.
    # decimal(38,0) sum: int64 hash values would overflow a long sum under
    # ANSI mode; the decimal accumulator is exact and order-independent
    checksum_cols = (
        F.count(F.lit(1)),
        F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
    )
    st = None if checkpoint_dir is None else _cc_load_latest(spark, checkpoint_dir)
    prev_checksum = None
    if st is not None:
        start_round, prev_checksum, checksum, cur = st
        if telemetry is not None:
            telemetry["resumed_from_round"] = start_round
    else:
        start_round = 0
        # undirected closure, no self-loops
        cur = (
            edges.select("a", "b")
            .unionAll(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .cache()
        )
        checksum = tuple(cur.agg(*checksum_cols).collect()[0])
    rnd = start_round
    # no edges: every node is its own cluster; two equal newest committed
    # rounds: the checkpoint already holds the fixpoint
    converged = checksum[0] == 0 or checksum == prev_checksum
    while not converged:
        if rnd >= max_iters:
            raise RuntimeError(
                f"connected_components did not converge in {max_iters} "
                "rounds; returning labels here would silently split "
                "clusters — raise max_iters"
            )
        rnd += 1
        for large in (True, False):
            nbrs = cur.unionAll(
                cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
            )
            mins = nbrs.groupBy("a").agg(F.min("b").alias("mb"))
            mins = mins.select(
                "a", F.least(F.col("a"), F.col("mb")).alias("m")
            )
            joined = nbrs.join(mins, "a")
            if large:
                out = joined.where(F.col("b") > F.col("a"))
            else:
                out = joined.where(F.col("b") <= F.col("a")).unionAll(
                    joined.select("a", F.col("a").alias("b"), "m")
                )
            nxt = (
                out.select(F.col("b").alias("a"), F.col("m").alias("b"))
                .where(F.col("a") != F.col("b"))
                .distinct()
            )
            # checkpoint EVERY sub-round: the neighborhood closure
            # references `cur` twice, so an un-truncated plan tree DOUBLES
            # per round (exponential — a cached-only variant OOMed the
            # driver on plan tree strings by round ~12). With a
            # checkpoint_dir, the small-star sub-round's edge set goes to
            # parquet instead (durable twin; one write per full round).
            if large or checkpoint_dir is None:
                nxt = nxt.localCheckpoint(eager=True)
            else:
                path = f"{checkpoint_dir}/star_round_{rnd}"
                nxt.write.mode("overwrite").parquet(path)
                nxt = spark.read.parquet(path)
            cur.unpersist()
            cur = nxt
        new_checksum = tuple(cur.agg(*checksum_cols).collect()[0])
        if checkpoint_dir is not None:
            _cc_save_state(spark, checkpoint_dir, rnd, new_checksum)
        converged = new_checksum == checksum
        checksum = new_checksum
    if telemetry is not None:
        telemetry.update(rounds=rnd, rounds_executed=rnd - start_round)
    # fixpoint is a star forest: every non-root points at its component
    # minimum; roots/singletons label themselves
    attach = cur.groupBy("a").agg(F.min("b").alias("cluster"))
    labels = nodes.join(attach, nodes["doc_id"] == attach["a"], "left").select(
        "doc_id",
        F.least(F.coalesce("cluster", F.col("doc_id")), F.col("doc_id")).alias(
            "cluster"
        ),
    )
    # releases the closure's cache when no round ran (no-op on checkpoints)
    cur.unpersist()
    return labels


def _star_edges(bands: DataFrame) -> DataFrame:
    """Distinct (lo, hi) LSH candidate edges from (doc_id, band, band_key)
    rows: each doc paired with its band-group minimum (``hi`` the doc,
    ``lo`` the minimum; ``hi != lo``), an edge sharing several bands once.

    Recall contract of every banded dedup path (minhash Jaccard, simhash
    and phash Hamming, the clusterings over them): any pair that shares a
    band key lands in a shared band GROUP, but the emitted edges are each
    doc ↔ its group minimum — ≤ bands·n rows however skewed the groups
    get, the linear star set connected components consume. A pair (B, C)
    whose shared group's minimum A fails the verify against both is NOT
    emitted directly: all-pairs within a group would be, at O(group²) cost
    (measured: 79k pairs from 500 docs at sf0.001, 63% of ALL pairs —
    quadratic under template skew). For min-id survivor dedup and
    clustering this is the standard formulation; exhaustive pair-level
    mining would verify all pairs within each band group instead."""
    return (
        _with_grp_min(bands)
        .where(F.col("doc_id") != F.col("grp_min"))
        .select(F.col("grp_min").alias("lo"), F.col("doc_id").alias("hi"))
        .distinct()
    )


def dedup_clusters(
    spark,
    sf_dir,
    telemetry: dict | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Transitive near-dup clustering — the endgame of MinHash dedup: a doc
    sharing a band with B, where B shares a *different* band with C, must
    land in ONE cluster (single-round survivor rules miss the A~C link).
    Star edges (see _star_edges) keep the edge count linear in corpus
    size, then connected components collapse chains to their global min
    id. ``checkpoint_dir`` (one directory per job) makes the CC rounds
    durably resumable — the hours-long path at 100 TB restarts from the
    last committed round, not round 0."""
    edges = _star_edges(_band_assignments(minhash_signatures(spark, sf_dir)))
    # node set = same filter as the signatures, WITHOUT recomputing the
    # minhash expressions (a full signature pass just to list ids)
    nodes = (
        table(spark, sf_dir, "documents")
        .where(F.length("text") >= 3)
        .select("doc_id")
    )
    labels = connected_components(
        nodes,
        edges.toDF("a", "b"),
        telemetry=telemetry,
        checkpoint_dir=checkpoint_dir,
    )
    return labels.select(
        "doc_id",
        F.col("cluster").alias("cluster_id"),
        (F.col("cluster") == F.col("doc_id")).alias("survivor"),
    )


# --- 64-bit SimHash with Hamming banding -------------------------------------
#
# The r2 sketch was 16 bits matched by equality — at 10^12 rows that is pure
# collision noise (~10^7 docs per sketch value) AND it was the slowest per-row
# kernel (84 s at 5M: interpreted HOF votes). The r3 rework:
#
# - 64 genuine bits per word from two portable rolling hashes:
#     h1 = fold (acc*31 + cp) % 1_000_000_007      (the repo-wide word hash)
#     h2 = fold (acc*37 + cp) % 998_244_353
#     g  = h1 * 998_244_353 + h2   — injective in (h1, h2), < 2^60 → 60 bits
#     t  = (3*h1 + 5*h2) % 16      — 4 more independent bits
#   Integer arithmetic only, so the Arrow/numpy kernel and the DuckDB oracle
#   produce bit-identical sketches (unlike float kernels, no quantization).
# - sketch = 4×16-bit band words sh0..sh3 (bit j of band i = global bit
#   16i+j; band 3 packs g-bits 48..59 + the 4 t-bits). Keeping the bands as
#   separate non-negative 16-bit columns sidesteps cross-engine sign
#   semantics of a packed signed int64 while carrying the same 64 bits.
# - candidates = docs sharing ANY band word (classic 4×16 simhash banding),
#   verified at Hamming ≤ 3 by _hamming_edges.
#
# The sketch runs as a VECTORIZED Arrow kernel (mapInPandas): the per-word
# rolling hash folds column-at-a-time over a padded codepoint matrix, votes
# are one (n_words × 64) bit-unpack + segment-sum — no per-char or per-bit
# Python. This replaces the 84 s interpreted HOF form; the banding and
# Hamming verify stay in JVM expressions.

_P1, _B1 = 1_000_000_007, 31
_P2, _B2 = 998_244_353, 37
SIMHASH_MAX_HAMMING = 3


def _simhash64_kernel(texts) -> "np.ndarray":
    """(n_docs, 4) int64 array of 16-bit band words — vectorized numpy
    implementation of the sketch definition above. Exact integer math:
    bit-identical to the DuckDB oracle's per-word SQL folds.

    Memory-bandwidth note (measured at 5M docs, 32 concurrent workers):
    the obvious formulation — an (n_words × 64) int64 shift matrix plus an
    equal-size ±1 votes matrix — moves ~1 GB of temporaries per 10k-row
    batch and the 32 workers saturate DRAM (183 s for 5M). This version
    keeps word-level intermediates at 1–8 bytes/row:
    - rolling hashes fold over CONTIGUOUS prefix slices of length-sorted
      words (no per-column boolean fancy indexing);
    - all 64 bits are packed into one int64 bit pattern and exploded with a
      single np.unpackbits pass (uint8, 8 B/word total);
    - vote sums use 2·Σbits − n_words, so no ±1 matrix ever exists, and
      reduceat accumulates straight into an int64 doc-level array.
    Net: 42 s for the 5M sketch (was 183 s naive numpy, 84 s for the
    16-bit interpreted-HOF sketch it replaces)."""
    import numpy as np

    words: list[str] = []
    counts = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        ws = t.split(" ")
        counts[i] = len(ws)
        words.extend(ws)
    n = len(words)
    if n == 0:
        return np.zeros((len(texts), 4), dtype=np.int64)
    lens = np.fromiter((len(w) for w in words), dtype=np.int64, count=n)
    # one utf-32 decode for the whole batch
    flat = np.frombuffer("".join(words).encode("utf-32-le"), dtype=np.uint32)
    flat = flat.astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    # process words longest-first: the words still active at char position c
    # form the prefix [0:k_c) — contiguous slices instead of masked updates
    order = np.argsort(-lens, kind="stable")
    lens_s = lens[order]
    starts_s = starts[order]
    maxlen = int(lens_s[0])
    # k_c = number of words with length > c  (lens_s is descending)
    k_for = np.searchsorted(-lens_s, -(np.arange(maxlen)), side="left")
    h1 = np.zeros(n, dtype=np.int64)
    h2 = np.zeros(n, dtype=np.int64)
    for c in range(maxlen):
        k = k_for[c]
        cv = flat[starts_s[:k] + c]
        h1[:k] = (h1[:k] * _B1 + cv) % _P1
        h2[:k] = (h2[:k] * _B2 + cv) % _P2
    # unsort back to corpus word order
    inv = np.empty(n, dtype=np.int64)
    inv[order] = np.arange(n)
    h1, h2 = h1[inv], h2[inv]
    g = h1 * _P2 + h2                      # < 2^60, exact int64
    t = (3 * h1 + 5 * h2) % 16
    # all 64 bits as ONE int64 bit pattern (t<<60 may set the sign bit —
    # irrelevant, only the bit pattern is read), exploded in a single
    # C-level unpackbits pass: (n_words, 64) uint8
    full = g | (t << 60)
    bits = np.unpackbits(
        full.astype("<i8").view(np.uint8).reshape(n, 8), axis=1, bitorder="little"
    )
    ends = np.cumsum(counts)
    offs = np.concatenate(([0], ends[:-1]))
    sums = np.add.reduceat(bits, offs, axis=0, dtype=np.int64)  # Σ bits per doc
    # Σ votes = 2·Σ bits − n_words  (votes are ±1)
    sketch_bits = (2 * sums > counts[:, None]).astype(np.int64)
    weights = 1 << np.arange(16, dtype=np.int64)
    return sketch_bits.reshape(len(texts), 4, 16) @ weights


def simhash64_sketch(d: DataFrame) -> DataFrame:
    """(doc_id, sh0..sh3) — the 64-bit simhash of ``text`` as 4×16-bit band
    words, via the vectorized Arrow kernel."""
    import pandas as pd

    def fn(batches):
        for pdf in batches:
            sk = _simhash64_kernel(pdf["text"].tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sh0": sk[:, 0], "sh1": sk[:, 1],
                    "sh2": sk[:, 2], "sh3": sk[:, 3],
                }
            )

    return d.select("doc_id", "text").mapInPandas(
        fn, "doc_id long, sh0 long, sh1 long, sh2 long, sh3 long"
    )


def _hamming_edges(sk: DataFrame, words: list, max_hamming: int) -> DataFrame:
    """(lo, hi, hamming) verified Hamming edges from a sketch table ``sk``
    (doc_id + whatever ``words`` reads): ONE posexplode of the band words
    into (band, band_key) rows, star edges (_star_edges), the words
    re-attached to both ends of the candidate edges only, then
    hamming = Σ bit_count(word xor word') ≤ max_hamming. With 4 words
    covering disjoint bit ranges, pigeonhole puts every pair within
    Hamming 3 in a shared band group."""
    n = len(words)
    w = sk.select("doc_id", *[c.alias(f"w{i}") for i, c in enumerate(words)])
    bands = w.select(
        "doc_id", F.posexplode(F.array(*w.columns[1:])).alias("band", "band_key")
    )
    hamming = sum(
        F.bit_count(F.col(f"lo{i}").bitwiseXOR(F.col(f"hi{i}"))) for i in range(n)
    )
    return (
        _star_edges(bands)
        .join(w.toDF("lo", *[f"lo{i}" for i in range(n)]), "lo")
        .join(w.toDF("hi", *[f"hi{i}" for i in range(n)]), "hi")
        .select("lo", "hi", hamming.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def simhash64_candidates(
    d: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    """Near-dup candidate pairs (doc_a, doc_b, hamming) by 4×16 simhash
    banding + Hamming verify (_hamming_edges; recall contract at
    _star_edges): doc_a is the band-group minimum, doc_b the doc."""
    # The sketch plan is consumed 4× (band explode, group-min join-back,
    # both ends of the verify join) — materialize the Arrow kernel's output
    # ONCE (5 longs/doc ≈ 40 B/row) instead of re-running it per consumer.
    # At 100 TB this is the sketch table a real pipeline persists anyway;
    # localCheckpoint is the single-job equivalent.
    sk = simhash64_sketch(d).localCheckpoint(eager=False)
    return (
        _hamming_edges(sk, [F.col(f"sh{i}") for i in range(4)], max_hamming)
        .toDF("doc_a", "doc_b", "hamming")
        .orderBy("hamming", "doc_a", "doc_b")
    )


def simhash_candidates(spark, sf_dir) -> DataFrame:
    return simhash64_candidates(table(spark, sf_dir, "documents"))


def _jaccard_edges(sh: DataFrame) -> DataFrame:
    """(lo, hi, jac) from a (doc_id, hs) shingle table: MinHash → 4×2
    bands → star edges (_star_edges) → exact n-gram Jaccard on the
    candidate edges only. The shingle arrays are attached afterwards by
    two doc_id-keyed joins — no shuffle ever carries a shingle array for a
    non-candidate doc, and no blocked all-pairs self-join appears."""
    cand = _star_edges(_band_assignments(_minhash_sig(sh)))

    def end(k):
        return sh.select(F.col("doc_id").alias(k), F.col("hs").alias(f"sh_{k}"))

    jac = F.size(F.array_intersect("sh_lo", "sh_hi")) / F.size(
        F.array_union("sh_lo", "sh_hi")
    )
    return (
        cand.join(end("lo"), "lo")
        .join(end("hi"), "hi")
        .select("lo", "hi", jac.alias("jac"))
    )


def jaccard_candidates(spark, sf_dir) -> DataFrame:
    """Exact n-gram Jaccard verification restricted to LSH band candidates —
    the verify-after-candidates wiring a 100 TB dedup actually runs: every
    doc is verified against its band-group minimum (the same star edges
    dedup_clusters feeds to connected components), NOT against every
    co-bucketed doc. Verified-pair count == candidate-edge count, pinned
    by test."""
    sh = _with_shingles(
        table(spark, sf_dir, "documents").where(F.length("text") >= 3)
    ).select("doc_id", "hs")
    return (
        _jaccard_edges(sh)
        .toDF("doc_a", "doc_b", "jac")
        .orderBy(F.col("jac").desc(), "doc_a", "doc_b")
    )


def embedding_near_dup(spark, sf_dir, n_anchors: int = 8) -> DataFrame:
    """Embedding-cosine near-dup with sign-LSH bucket blocking: every vector
    gets a map-only 8-hyperplane bucket (the SAME index the ANN probe uses —
    similarity._bucket_sql, anchors inlined as literals, no join/shuffle per
    vector), then exact double-precision cosine runs only on same-bucket
    pairs. Candidate count is Σ_b n_b·(n_b−1)/2 over bucket sizes instead of
    O(n²/L) block pairs — with 2^8 buckets the pair count drops ~100×
    (pinned by test) and the self-join shuffle is keyed on the bucket id.
    Vectors whose 8 signs all agree are exactly the sign-LSH near-dup
    definition; recall vs the brute-force baseline is tolerance-tested in
    tests/test_approx_scale_paths.py. Deterministic top-50.

    ``n_anchors`` sets the bucket width (2^n buckets) — the knob that must
    GROW with corpus size: expected candidate pairs ≈ n²/2^(b+1), so 8
    bits is right for ~10^4 vectors and ~16 bits for 10^6 (a one-off 1M
    run, recorded in commit 32712c5, used 16). The driver-oracled query
    keeps the default 8 to match the DuckDB twin."""
    from .similarity import _anchor_literals, _bucket_sql

    anchors = _anchor_literals(spark, sf_dir, n_anchors)
    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("bucket", F.expr(_bucket_sql(anchors)))
    )
    a, b = e.alias("a"), e.alias("b")
    dot = F.expr(
        "aggregate(zip_with(a.v, b.v, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
    )
    nrm = lambda side: F.sqrt(
        F.expr(
            f"aggregate(transform({side}.v, x -> x * x), cast(0.0 as double), (acc, x) -> acc + x)"
        )
    )
    cos = F.round(dot / (nrm("a") * nrm("b")), 4)
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "vec_a", "vec_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Image-side near-dup: perceptual-hash Hamming banding.
#
# The input schema (BASELINE.json input_hint) carries phash:int64 — an
# 8x8 average hash of the decoded pixels (imagecodec.average_hash; the
# stage already buckets its writes on it, plans/stage.py). This is the
# image pillar of the dedup family: near-duplicate IMAGES (re-encodes,
# small crops/noise) differ in a few phash bits, exactly like near-dup
# texts differ in a few simhash bits — so the machinery is the same
# 4x16-bit banding + bit_count(xor) verify (_hamming_edges) as simhash, and
# the oracle is pure int64 bit arithmetic (DuckDB-portable, exact).
# ---------------------------------------------------------------------------

PHASH_MAX_HAMMING = 3


def phash_near_dup_candidates(
    d: DataFrame, max_hamming: int = PHASH_MAX_HAMMING, ordered: bool = True
) -> DataFrame:
    """Near-duplicate image candidate pairs (id_a, id_b, hamming) from
    (image_id, phash) rows, id_a the band-group minimum.

    4 bands x 16 bits: ``(phash >> 16b) & 0xFFFF`` — after the mask,
    arithmetic vs logical shift semantics are indistinguishable, so the
    expression is engine-portable even for negative hashes. The four
    words cover all 64 bits, so their summed popcount in _hamming_edges
    equals ``bit_count(ph_a ^ ph_b)``. Star edges are skew-proof for
    template/logo clusters that concentrate one phash (see _star_edges).

    The input plan is consumed 3x (band explode + both ends of the
    verify join); callers passing an EXPENSIVE plan (e.g. a decode
    pipeline) get it materialized once via localCheckpoint — phash rows
    are 8 B + id, the sketch table a real pipeline persists anyway.

    ``ordered=False`` skips the output sort (a range-partition shuffle):
    the clustering consumers feed these edges straight into connected
    components, where edge order is irrelevant — only the oracled
    report query pays for a deterministic presentation order."""
    ph = d.select(
        F.col("image_id").alias("doc_id"), "phash"
    ).localCheckpoint(eager=False)
    words = [F.expr(f"shiftright(phash, {16 * b}) & 65535") for b in range(4)]
    out = _hamming_edges(ph, words, max_hamming).toDF("id_a", "id_b", "hamming")
    return out.orderBy("hamming", "id_a", "id_b") if ordered else out


def phash_variant_bits(i: int) -> int:
    """XOR mask for the planted near-dup variant of synth row i: flips
    bit (i % 62) and bit ((i * 31) % 62) — ≤ 2-bit perturbations (0 when
    the two coincide, i ≡ 0 mod 31: an exact-dup twin; both cases stay
    within the Hamming-3 verify). Bits ≥ 62 never used: 1<<63 overflows
    differently across engines. Mirrored literally in the SQL oracle."""
    return (1 << (i % 62)) ^ (1 << ((i * 31) % 62))


def planted_corpus(spark, n: int = 300) -> DataFrame:
    """(image_id, caption, phash, nid) over n synth rows PLUS planted
    near-dup twins: every 7th row (i % 7 == 3) contributes an ``<id>_v``
    variant whose phash differs by phash_variant_bits(i). The synth table
    itself plants exact-dup clusters (pixels_for: i % 11 == 0 share pixels
    → identical phash) and exact text dups (the degenerate captions
    "tiny", "spam …"), so rows that sit in both bridge the two modalities
    transitively; the twins add genuine 1-2-bit neighbors so the Hamming
    verify is exercised at every distance it accepts. Variants carry an
    EMPTY caption (the realistic shape: a re-encode arrives uncaptioned),
    so they can only cluster through the image side. nid = 2i, variants
    2i+1 — the numeric id connected components run on. All mirrored
    literally in the SQL twins."""
    from ..sources.synth import synth_spark

    base = synth_spark(spark, n).select("image_id", "caption", "phash")
    i = "cast(substring(image_id, 5) as bigint)"
    base = base.withColumn("nid", F.expr(f"{i} * 2"))
    pert = base.where(F.expr(f"({i}) % 7 = 3")).select(
        F.concat("image_id", F.lit("_v")).alias("image_id"),
        F.lit("").alias("caption"),
        F.expr(
            f"phash ^ shiftleft(cast(1 as bigint), cast({i} % 62 as int)) "
            f"^ shiftleft(cast(1 as bigint), cast(({i} * 31) % 62 as int))"
        ).alias("phash"),
        F.expr(f"{i} * 2 + 1").alias("nid"),
    )
    return base.unionByName(pert)


def phash_candidates(spark, sf_dir) -> DataFrame:
    """Driver-oracled image near-dup query: the DuckDB twin recomputes
    every phash driver-side with the pure-Python reference
    (imagecodec.average_hash over pixels_for) + the same variant masks,
    inlines them as VALUES, and re-derives banding + star edges +
    Hamming verify relationally. What it pins: the distributed synth →
    phash pipeline is bit-identical to the reference, AND the banding
    logic matches an independent SQL implementation."""
    return phash_near_dup_candidates(planted_corpus(spark, 300))


def _image_clusters(rows, edges, telemetry) -> DataFrame:
    """(image_id, cluster_id, survivor) from (nid, image_id) rows and
    numeric edges: connected components run on the NUMERIC id — at 10¹²
    rows numeric shuffle keys beat string keys — then the cluster id is
    relabelled to the minimum member's image_id."""
    ids = rows.select(F.col("nid").alias("doc_id"), "image_id")
    labels = connected_components(
        ids.select("doc_id"), edges.toDF("a", "b"), telemetry=telemetry
    )
    cl = ids.toDF("cluster", "cluster_id")
    return (
        labels.join(ids, "doc_id")
        .join(cl, "cluster")
        .select(
            "image_id",
            "cluster_id",
            (F.col("cluster") == F.col("doc_id")).alias("survivor"),
        )
    )


def phash_cluster_labels(
    d: DataFrame,
    max_hamming: int = PHASH_MAX_HAMMING,
    telemetry: dict | None = None,
) -> DataFrame:
    """Transitive image near-dup clustering — the endgame of phash dedup,
    mirroring dedup_clusters on the text side: a re-encode A within
    Hamming 3 of B, where B is within 3 of a further re-encode C, must
    land in ONE cluster even when A and C are 6 bits apart. Edges are the
    VERIFIED candidate pairs (banded star edges + bit_count(xor) ≤ k —
    never unverified band collisions, which would merge unrelated images
    through a shared 16-bit word), then connected components collapse
    chains to their minimum member.

    Input needs (nid:long, image_id, phash); callers derive nid from
    their id scheme (the registered query uses planted_corpus's; a
    production pipeline ships a surrogate key). Returns (image_id,
    cluster_id, survivor) with cluster_id the minimum member's image_id
    string."""
    rows = d.select("nid", "image_id", "phash").localCheckpoint(eager=False)
    edges = phash_near_dup_candidates(
        rows.select(F.col("nid").alias("image_id"), "phash"),
        max_hamming,
        ordered=False,
    ).select("id_a", "id_b")
    return _image_clusters(rows, edges, telemetry)


def phash_clusters(spark, sf_dir) -> DataFrame:
    """Driver-oracled image clustering query over the planted synth corpus
    (exact-dup pixel clusters + 0-2-bit variants). The DuckDB twin
    re-derives banding, star edges, the Hamming verify, AND the
    transitive closure (recursive CTE) over driver-side reference
    phashes."""
    return phash_cluster_labels(planted_corpus(spark, 300))


# ---------------------------------------------------------------------------
# Cross-modal near-dup clustering: image (phash) ∪ caption (minhash-LSH)
# edges feeding ONE connected-components pass — "duplicate if EITHER
# modality matches", the dedup rule an image+caption training corpus
# (LAION-style) actually applies. A re-encoded image with a fresh caption
# and a re-captioned copy of the same photo both collapse into the
# original's cluster, including chains that alternate modalities
# (A ~image~ B ~text~ C ⇒ one cluster even though A and C share nothing).
# ---------------------------------------------------------------------------

CROSSMODAL_JACCARD_TAU = 0.8


def caption_lsh_edges(
    rows: DataFrame, tau: float = CROSSMODAL_JACCARD_TAU
) -> DataFrame:
    """Verified caption near-dup edges (a, b) from (nid, caption) rows:
    the Jaccard star edges (_jaccard_edges) over caption shingles, kept
    at Jaccard ≥ tau. Captions shorter than one shingle (< 3 chars, incl.
    empty) take no part — a bare re-encode with no caption can still
    cluster through the image side. The shingle table is localCheckpointed
    once for its three plan consumers (signature + both verify joins)."""
    sh = (
        _with_shingles(
            rows.where(F.length("caption") >= 3).select(
                F.col("nid").alias("doc_id"), F.col("caption").alias("text")
            )
        )
        .select("doc_id", "hs")
        .localCheckpoint(eager=False)
    )
    return _jaccard_edges(sh).where(F.col("jac") >= tau).select(
        F.col("lo").alias("a"), F.col("hi").alias("b")
    )


def crossmodal_cluster_labels(
    d: DataFrame,
    tau: float = CROSSMODAL_JACCARD_TAU,
    max_hamming: int = PHASH_MAX_HAMMING,
    telemetry: dict | None = None,
) -> DataFrame:
    """Transitive clusters over the UNION of image and caption edges.

    Input: (nid:long, image_id, caption, phash). Image edges are the
    banded-phash star edges verified at Hamming ≤ max_hamming
    (phash_near_dup_candidates); caption edges are LSH star edges verified
    at Jaccard ≥ tau (caption_lsh_edges). Both verify BEFORE the union —
    an unverified band collision in either modality would fuse unrelated
    clusters through one bad edge, which transitivity then amplifies.
    Connected components run once on the merged graph over numeric nids.
    Returns (image_id, cluster_id, survivor), cluster_id = the minimum
    member's image_id."""
    rows = d.select("nid", "image_id", "caption", "phash").localCheckpoint(
        eager=False
    )
    ie = phash_near_dup_candidates(
        rows.select(F.col("nid").alias("image_id"), "phash"),
        max_hamming,
        ordered=False,
    ).toDF("a", "b", "hamming").select("a", "b")
    te = caption_lsh_edges(rows.select("nid", "caption"), tau)
    return _image_clusters(rows, ie.unionByName(te).distinct(), telemetry)


def crossmodal_clusters(spark, sf_dir) -> DataFrame:
    """Driver-oracled cross-modal clustering query over the planted synth
    corpus. The DuckDB twin recomputes every phash AND every caption
    driver-side (pure-Python average_hash / caption_for — no Spark), then
    re-derives BOTH edge families (phash banding + Hamming verify; caption
    shingles + minhash + banding + Jaccard verify) and the transitive
    closure as a recursive CTE."""
    return crossmodal_cluster_labels(planted_corpus(spark, 300))
