"""MERGE/upsert (F4/F5/A10/A13) and multimodal binary-column operators."""

from contextlib import contextmanager

import numpy as np
import pyspark.sql.functions as F
import pytest

from pii_detection_service_spark.functions import textref
from pii_detection_service_spark.operators import merge, multimodal
from pii_detection_service_spark.sources import pngcodec, synth


def test_merge_update_point_semantics(spark):
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, v string, n long"
    )
    upd = spark.createDataFrame([(2, "B2")], "id long, v string")
    out = {r["id"]: r for r in merge.merge_update(base, upd, "id", ["v"]).collect()}
    assert out[2]["v"] == "B2" and out[2]["n"] == 20
    assert out[1]["v"] == "a" and out[3]["v"] == "c"


def test_delete_where(spark):
    base = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    left = merge.delete_where(base, F.col("id") == 2).collect()
    assert sorted(r["id"] for r in left) == [1, 3]


def test_apply_label_validations_matches_pure_python(spark):
    # document shaped like the reference: sentinel tokens + aligned labels
    tokens = ["[CLS]", "▁Gil", "berto", "▁came", "▁by", "[SEP]"]
    labels = ["O", "O", "O", "O", "O", "O"]
    docs = spark.createDataFrame(
        [(1, tokens, labels, None)],
        "doc_id long, tokens array<string>, labels array<string>, "
        "validated_labels array<string>",
    )
    # relabel display-token 0 ("▁Gilberto") as NAME_STUDENT
    upd = spark.createDataFrame(
        [(1, 0, "NAME_STUDENT")], "doc_id long, token_index int, new_label string"
    )
    out = merge.apply_label_validations(docs, upd).collect()[0]

    inner = tokens[1:-1]
    display, _ = textref.merge_subwords_backend(inner, labels[1:-1])
    expected = textref.splice_validated_label(
        list(labels), inner, display, 0, "NAME_STUDENT"
    )
    assert out["validated_labels"] == expected
    assert expected[1] == "B-NAME_STUDENT" and expected[2] == "I-NAME_STUDENT"


def test_apply_label_validations_noop_rows_pass_through(spark):
    docs = spark.createDataFrame(
        [(7, ["[CLS]", "▁hi", "[SEP]"], ["O", "O", "O"], None)],
        "doc_id long, tokens array<string>, labels array<string>, "
        "validated_labels array<string>",
    )
    upd = spark.createDataFrame(
        [], "doc_id long, token_index int, new_label string"
    )
    out = merge.apply_label_validations(docs, upd).collect()[0]
    assert out["validated_labels"] == ["O", "O", "O"]


@pytest.fixture(scope="module")
def img_df(spark):
    return synth.synth_spark(spark, 40).cache()


def test_decode_stats(spark, img_df):
    out = multimodal.decode_stats(img_df).collect()
    assert len(out) == 40
    assert all(r["decode_ok"] for r in out)
    assert all(r["dec_w"] == 24 and r["dec_h"] == 24 for r in out)


def test_extract_features_deterministic(spark, img_df):
    out = {r["image_id"]: r["features"] for r in multimodal.extract_features(img_df).collect()}
    assert len(out["img_00000001"]) == 4 * 4 * 3
    # recompute one locally
    px = synth.pixels_for(1).astype(np.float32)
    assert abs(out["img_00000001"][0] - float(px[:6, :6, 0].mean())) < 1e-3


def test_resize_roundtrip(spark, img_df):
    out = multimodal.resize(img_df, 8).collect()
    for r in out[:5]:
        px = pngcodec.decode_png(bytes(r["bytes"]))
        assert px.shape == (8, 8, 3)


def _base_updates(spark, n=40, step=3):
    base = spark.createDataFrame(
        [(i, f"text {i}", "en") for i in range(n)],
        "doc_id long, text string, lang string",
    )
    updates = spark.createDataFrame(
        [(i, f"edited {i}") for i in range(0, n, step)],
        "doc_id long, text string",
    )
    return base, updates


_BROADCAST_CONFS = (
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
)


@contextmanager
def _broadcast_threshold(spark, value):
    """Set both broadcast-join thresholds (static and AQE) for the block,
    restoring the session's previous values afterwards."""
    old = {k: spark.conf.get(k, None) for k in _BROADCAST_CONFS}
    try:
        for k in _BROADCAST_CONFS:
            spark.conf.set(k, value)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _collect_final_plan(df):
    """Collect ``df``, then return (rows, the final adaptive plan's text) —
    the join AQE actually ran, not the static plan it started from."""
    rows = sorted(map(tuple, df.collect()))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    return rows, plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]


def test_merge_shuffle_strategy_has_no_broadcast_and_matches(spark):
    """The bulk-batch MERGE shape: with broadcasting switched off the final
    plan must sort-merge join with NO BroadcastExchange (a validated-labels
    batch at 10^12-row scale can exceed broadcast size), and produce the
    same rows as the broadcast join AQE picks for the small batch."""
    base, updates = _base_updates(spark)
    bc_rows, bc_plan = _collect_final_plan(
        merge.merge_update(base, updates, "doc_id", ["text"])
    )
    assert "BroadcastExchange" in bc_plan
    with _broadcast_threshold(spark, "-1"):
        sh_rows, sh_plan = _collect_final_plan(
            merge.merge_update(base, updates, "doc_id", ["text"])
        )
    assert "BroadcastExchange" not in sh_plan
    assert "SortMergeJoin" in sh_plan
    assert sh_rows == bc_rows
    assert len(bc_rows) == 40
    assert sum(r[1].startswith("edited") for r in bc_rows) == 14


def test_merge_auto_picks_by_updates_size(spark):
    """AQE sizes the updates side at runtime: under a 16 KiB threshold the
    14-row batch broadcasts and the 4,000-row batch sort-merge joins."""
    with _broadcast_threshold(spark, "16k"):
        base, small = _base_updates(spark)
        _, plan = _collect_final_plan(
            merge.merge_update(base, small, "doc_id", ["text"])
        )
        assert "BroadcastExchange" in plan
        base, bulk = _base_updates(spark, n=4000, step=1)
        rows, plan = _collect_final_plan(
            merge.merge_update(base, bulk, "doc_id", ["text"])
        )
        assert "BroadcastExchange" not in plan
        assert "SortMergeJoin" in plan
    assert rows == [(i, f"edited {i}", "en") for i in range(4000)]


def test_label_validation_shuffle_parity(spark):
    """apply_label_validations over the sort-merge join must match the
    broadcast join row-for-row (same Arrow splice kernel downstream)."""
    docs = spark.createDataFrame(
        [
            (1, ["[CLS]", "▁jo", "hn", "▁works", "[SEP]"],
             ["O", "B-NAME_STUDENT", "I-NAME_STUDENT", "O", "O"], None),
            (2, ["[CLS]", "▁a", "▁b", "[SEP]"], ["O", "O", "O", "O"], None),
        ],
        "doc_id long, tokens array<string>, labels array<string>, "
        "validated_labels array<string>",
    )
    updates = spark.createDataFrame(
        [(1, 1, "O")], "doc_id long, token_index int, new_label string"
    )
    a, a_plan = _collect_final_plan(merge.apply_label_validations(docs, updates))
    assert "BroadcastExchange" in a_plan
    with _broadcast_threshold(spark, "-1"):
        b, b_plan = _collect_final_plan(
            merge.apply_label_validations(docs, updates)
        )
    assert "BroadcastExchange" not in b_plan
    assert "SortMergeJoin" in b_plan
    assert len(a) == 2
    assert a == b
