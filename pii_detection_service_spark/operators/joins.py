"""Join-family operators.

The reference has NO relational joins (SURVEY.md §2.3) — its one cross-table
relationship (model.doc_id → document_table.doc_id, database_manager.py:25)
is always resolved by separate point lookups. A complete analytics engine at
100 TB needs the full join toolbox, so these operators exercise every join
strategy the target pipeline relies on, each with an exact DuckDB oracle:

- broadcast hash join of small dims (gazetteer-pattern: region/nation);
- large shuffled equi-join (orders ⋈ lineitem, TPC-H Q3 shape) — the
  verification self-join of results-vs-reference-labels uses this plan;
- left-semi / left-anti joins — the relational form of the lineage-resume
  prune (plans/stage.py drops completed buckets with a collected
  ``NOT IN`` filter instead, since its done set is at most n_buckets ids);
- an explicitly SALTED skewed join: the dominant key ('en' ≈ 43% of
  documents) is spread over SALT reducers by replicating the small side —
  the north rule's "salted repartitioning for skewed language clusters"
  expressed as a join.

All are pure DataFrame API: Catalyst picks broadcast automatically where the
stats allow, and we pin it with F.broadcast where the 100 TB plan must never
fall back to a shuffle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .relational import table

# Small deterministic language dim (weight per language) — inlined on both
# the Spark and the DuckDB side so the salted join has a dim to replicate.
LANG_DIM = [("en", 1.0), ("de", 1.25), ("es", 1.5), ("fr", 1.75), ("zh", 2.0)]
SALT = 8


def region_rollup(spark, sf_dir) -> DataFrame:
    """customer ⋈ nation ⋈ region with both dims BROADCAST (they are tiny:
    25 + 5 rows; at 100 TB they are still tiny — this join must never
    shuffle the fact side). Rollup per region."""
    cust = table(spark, sf_dir, "customer")
    nat = F.broadcast(table(spark, sf_dir, "nation"))
    reg = F.broadcast(table(spark, sf_dir, "region"))
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    return (
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(bal).cast("double").alias("sum_acctbal"),
            (F.sum(bal).cast("double") / F.count(F.lit(1))).alias("avg_acctbal"),
        )
    )


def shipping_priority(spark, sf_dir) -> DataFrame:
    """TPC-H Q3 shape: filtered customer ⋈ orders ⋈ lineitem, revenue per
    order, top 10. customer is broadcast (small after the segment filter);
    orders ⋈ lineitem is the honest large shuffled equi-join — at scale AQE
    plans it as sort-merge with both sides hash-partitioned on the key.
    Decimal revenue keeps the oracle comparison exact under any shuffle
    order."""
    cust = table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1.0).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def semi_join_big_spenders(spark, sf_dir) -> DataFrame:
    """LEFT SEMI: customers having at least one order over 300k. The semi
    join deduplicates on the build side for free — no distinct needed, no
    row explosion on customers with many qualifying orders."""
    cust = table(spark, sf_dir, "customer")
    big = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000.0)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment", "c_acctbal")


def anti_join_inactive(spark, sf_dir) -> DataFrame:
    """LEFT ANTI: customers with no order in 2001 — the relational form of
    the stage's checkpoint-resume (pending = all buckets minus completed
    lineage; plans/stage.py collects the tiny done set and filters with
    ``NOT IN`` instead). Broadcast of the filtered build side keeps it
    map-only."""
    cust = table(spark, sf_dir, "customer")
    recent = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp_ntz")
    )
    return cust.join(
        F.broadcast(recent), cust.c_custkey == recent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def salted_skew_join(spark, sf_dir) -> DataFrame:
    """Skew-salted join: documents.lang is heavily skewed ('en' ≈ 43%), so a
    plain hash join on lang lands ~half the table on one reducer. Salting:
    fact side gets salt = pmod(hash(doc_id), SALT); the small dim side is
    replicated SALT× (explode) and the join key becomes (lang, salt) — the
    hot key spreads over SALT reducers. Result is identical to the plain
    join, which is exactly what the oracle asserts."""
    docs = table(spark, sf_dir, "documents").withColumn(
        "salt", F.pmod(F.hash("doc_id"), F.lit(SALT)).cast("int")
    )
    dim = spark.createDataFrame(LANG_DIM, "lang string, weight double").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(SALT)]))
    )
    # pin a SHUFFLE join (a broadcast join has no skew problem and would
    # hide the point): the exchange hashes on (lang, salt), which is what
    # spreads the hot key — guarded in tests/test_plans.py
    w_chars = F.col("n_chars") * F.col("weight")
    return (
        docs.join(dim.hint("shuffle_hash"), ["lang", "salt"])
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(w_chars.cast("decimal(18,2)")).cast("double").alias(
                "weighted_chars"
            ),
        )
    )


# Dictionary for the gazetteer-join demo: terms that occur in the testdata
# vocabulary (the tagger's own name gazetteer plays this role over captions;
# the join SHAPE is identical — tiny broadcast dim filtering exploded words).
GAZETTEER_TERMS = ("join", "hash", "merge", "broadcast", "shuffle", "spark")


def gazetteer_name_hits(spark, sf_dir) -> DataFrame:
    """SURVEY §2.3(a): broadcast join of text against a GAZETTEER table —
    the native alternative to the in-UDF name set the tagger uses. Words
    explode, the (tiny, broadcast) dim filters them, and hits aggregate
    per document. At 100 TB the gazetteer stays broadcast-sized while the
    exploded fact side never shuffles before the join."""
    d = table(spark, sf_dir, "documents")
    names = spark.createDataFrame(
        [(n,) for n in sorted(GAZETTEER_TERMS)], "name string"
    )
    words = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    hits = words.join(F.broadcast(names), words.w == names.name)
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_name_hits"),
        F.concat_ws(",", F.array_sort(F.collect_set("w"))).alias("names_joined"),
    )


def brand_revenue(spark, sf_dir) -> DataFrame:
    """lineitem ⋈ part (mid-size dim, broadcast) → revenue per brand. The
    dim is big enough that auto-broadcast depends on stats; we pin it, since
    at 100 TB part stays executor-memory-sized while lineitem does not."""
    li = table(spark, sf_dir, "lineitem")
    part = F.broadcast(table(spark, sf_dir, "part"))
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1.0).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
