"""Row-level mutation semantics (SURVEY §2.2 F4/F5, §2.5 A10/A13).

The reference mutates Postgres rows in place (update_entry / delete_entries,
database_manager.py:62-117). The Spark-idiomatic equivalent is MERGE
semantics: join the base table with an updates table and produce the new
snapshot (on Iceberg this is `MERGE INTO`; on plain parquet the same plan
writes a new partition — idempotent either way, which is what the stage's
resume logic relies on).

The validated-label splice (A10) applies the human relabel inside an Arrow
UDF using the shared pure-Python kernel (textref.splice_validated_label), so
batch MERGE results match the reference's one-row-at-a-time endpoint
bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions import textref


def merge_update(
    base: DataFrame,
    updates: DataFrame,
    key: str,
    cols: list[str],
) -> DataFrame:
    """F4 — filtered UPDATE as MERGE: rows matching ``updates`` on ``key``
    take the update's values for ``cols``; everything else passes through.

    The join carries no hint: AQE picks the shape from the updates side's
    runtime size — a broadcast for point updates (no shuffle of ``base``),
    a sort-merge join keyed on ``key`` for bulk batches above
    ``spark.sql.adaptive.autoBroadcastJoinThreshold`` (nothing must fit in
    one JVM)."""
    u = updates.select(
        F.col(key), *[F.col(c).alias(f"__u_{c}") for c in cols]
    )
    out = base.join(u, key, "left")
    for c in cols:
        out = out.withColumn(c, F.coalesce(F.col(f"__u_{c}"), F.col(c)))
    return out.drop(*[f"__u_{c}" for c in cols])


def delete_where(base: DataFrame, predicate) -> DataFrame:
    """F5 — filtered DELETE: the surviving snapshot (anti-semantics)."""
    return base.where(~predicate)


def apply_label_validations(docs: DataFrame, updates: DataFrame) -> DataFrame:
    """A10 + A13 — batch of human relabels applied BIO-correctly.

    ``docs``:    (doc_id, tokens array<string>, labels array<string>,
                  validated_labels array<string> nullable)
    ``updates``: (doc_id, token_index int, new_label string) — token_index
                 addresses the *merged display token* (backend variant A4
                 over sentinel-stripped tokens), exactly like the reference's
                 /update-labels endpoint (backend_service_app.py:360-397).

    The join shape is AQE's, as in ``merge_update``: broadcast for the
    interactive point-relabel shape, sort-merge on doc_id for bulk
    validation batches.
    """
    upd = updates.groupBy("doc_id").agg(
        F.collect_list(F.struct("token_index", "new_label")).alias("upds")
    )
    joined = docs.join(upd, "doc_id", "left")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_labels = []
            for tokens, labels, validated, upds in zip(
                pdf["tokens"], pdf["labels"], pdf["validated_labels"], pdf["upds"]
            ):
                tokens = list(tokens)
                labels = list(validated) if validated is not None and len(validated) else list(labels)
                if upds is not None and len(upds):
                    inner = tokens[1:-1]  # sentinel strip, as the reference
                    display, _ = textref.merge_subwords_backend(
                        inner, labels[1:-1]
                    )
                    for u in upds:
                        labels = textref.splice_validated_label(
                            labels, inner, display,
                            int(u["token_index"]), u["new_label"],
                        )
                out_labels.append(labels)
            res = pdf[["doc_id", "tokens", "labels"]].copy()
            res["validated_labels"] = out_labels
            yield res

    return joined.mapInPandas(
        fn,
        schema="doc_id long, tokens array<string>, labels array<string>, "
        "validated_labels array<string>",
    )
