"""Relational operators from SURVEY.md §2.2/§2.4 (F1-F7, G3, S8) plus
engine-health aggregates, expressed Catalyst-native so filters/limits push
into the parquet scan and aggregates stay in whole-stage codegen.

Each function takes (spark, sf_dir) and returns a DataFrame whose column
names match the paired DuckDB oracle in queries.py exactly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def filter_sort_limit(spark, sf_dir) -> DataFrame:
    """F1 — the reference's entire query language: conjunctive equality
    filter + ORDER BY + LIMIT (database_manager.py:79-99). doc_id breaks
    ties so the limit is deterministic."""
    return (
        table(spark, sf_dir, "documents")
        .where((F.col("lang") == "en") & (F.col("source") == "src0"))
        .orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        .limit(100)
        .select("doc_id", "lang", "source", "n_chars")
    )


def point_lookup(spark, sf_dir) -> DataFrame:
    """F2 — point lookup by key (ml_service_app.py:50 et al.)."""
    return (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") == 42)
        .limit(1)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )


def notnull_topn(spark, sf_dir) -> DataFrame:
    """F3 — NOT NULL filter + top-N recency (backend_service_app.py:241-244).
    We keep SQL filter-then-limit semantics (the reference filters after
    limit — a documented divergence, SURVEY.md §2.2)."""
    return (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        .limit(10)
        .select("doc_id", "n_chars")
    )


def truncate_preview(spark, sf_dir) -> DataFrame:
    """F6 — display truncation (backend_service_app.py:261-263)."""
    t = F.col("text")
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.length(t) > 50, F.concat(F.substring(t, 1, 50), F.lit("..."))
        )
        .otherwise(t)
        .alias("preview"),
    )


def slice_inner(spark, sf_dir) -> DataFrame:
    """F7 — strip first/last element (sentinel slice tokens[1:-1],
    backend_service_app.py:184-185). Words play the token role; output is
    re-joined so the oracle compares strings, not array encodings."""
    words = F.split(F.col("text"), " ")
    return (
        table(spark, sf_dir, "documents")
        .where(F.size(words) >= 3)
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.slice(words, 2, F.size(words) - 2)
            ).alias("inner_text"),
        )
    )


def span_export(spark, sf_dir) -> DataFrame:
    """S8 — long-format span export via posexplode (sample_output.csv
    shape: one row per tagged token). Gazetteer words stand in for PII."""
    df = table(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    return df.where(F.col("token").isin("spark", "join", "hash")).select(
        "doc_id", "pos", "token"
    )


def group_metrics(spark, sf_dir) -> DataFrame:
    """G3-style metrics aggregate (the target pipeline's honest groupBy)."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("n_chars").alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def lineitem_pricing(spark, sf_dir) -> DataFrame:
    """TPC-H Q1-shaped engine-health aggregate. Decimal sums keep the
    oracle comparison exact (double sums are shuffle-order-dependent)."""
    li = table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1.0).cast("decimal(18,4)") - disc))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def events_hourly(spark, sf_dir) -> DataFrame:
    """Hourly event rollup (honest time-bucketed aggregate over events)."""
    ev = table(spark, sf_dir, "events")
    val = F.col("value").cast("decimal(18,6)")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").cast("string").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(val).cast("double") / F.count(F.lit(1))).alias("avg_value"),
        )
    )


def window_topn_per_group(spark, sf_dir) -> DataFrame:
    """Top-3 docs by n_chars per language via row_number — the window-rank
    dedup/top-N shape (SURVEY §2.6: the one window op the target needs)."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("lang", "rn", "doc_id", "n_chars")
    )


def rollup_doc_counts(spark, sf_dir) -> DataFrame:
    """ROLLUP over (lang, source): per-combination, per-lang subtotal, and
    grand total in ONE pass (Spark expands grouping sets before the
    exchange, so partial aggregation still applies — no extra shuffle vs a
    plain groupBy). Nulls from the rollup are coalesced to 'ALL' so the
    oracle compare is stable."""
    d = table(spark, sf_dir, "documents")
    return (
        d.rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
            "n",
            "total_chars",
        )
    )


def set_ops_sources(spark, sf_dir) -> DataFrame:
    """§2.6 set operations in one result: per-op distinct-source counts for
    UNION / INTERSECT / EXCEPT between the English and Spanish slices.
    Distinct variants (not *All) — the relational set semantics."""
    d = table(spark, sf_dir, "documents")
    en = d.where(F.col("lang") == "en").select("source")
    es = d.where(F.col("lang") == "es").select("source")

    def tagged(name: str, df: DataFrame) -> DataFrame:
        return df.distinct().groupBy().agg(
            F.lit(name).alias("op"), F.count(F.lit(1)).alias("n_sources")
        )

    return (
        tagged("union", en.union(es))
        .unionAll(tagged("intersect", en.intersect(es)))
        .unionAll(tagged("except", en.subtract(es)))  # EXCEPT DISTINCT
        .select("op", "n_sources")
    )


def validated_coalesce(spark, sf_dir) -> DataFrame:
    """The reference's `validated_labels ?? labels` choice
    (backend_service_app.py:265-269) as native coalesce over documents
    (source stands in for the validated column when lang is null — columns
    here are non-null, so exercise coalesce on a derived nullable)."""
    d = table(spark, sf_dir, "documents")
    nullable = F.when(F.col("n_chars") % 3 == 0, F.col("source"))
    return d.select(
        "doc_id",
        F.coalesce(nullable, F.col("lang")).alias("effective_label"),
    )
