"""MERGE/upsert (F4/F5/A10/A13) and multimodal binary-column operators."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from pii_detection_service_spark.functions import textref
from pii_detection_service_spark.operators import merge, multimodal
from pii_detection_service_spark.sources import imagecodec, synth


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
        px = imagecodec.decode_png(bytes(r["bytes"]))
        assert px.shape == (8, 8, 3)


def _base_updates(spark, n=40):
    base = spark.createDataFrame(
        [(i, f"text {i}", "en") for i in range(n)],
        "doc_id long, text string, lang string",
    )
    updates = spark.createDataFrame(
        [(i, f"edited {i}") for i in range(0, n, 3)],
        "doc_id long, text string",
    )
    return base, updates


def test_merge_shuffle_strategy_has_no_broadcast_and_matches(spark):
    """The bulk-batch MERGE path: strategy='shuffle' must produce a plan
    with NO BroadcastExchange (a validated-labels batch at 10^12-row scale
    can exceed broadcast size) and byte-identical results to the broadcast
    path."""
    base, updates = _base_updates(spark)
    bc = merge.merge_update(base, updates, "doc_id", ["text"], strategy="broadcast")
    sh = merge.merge_update(base, updates, "doc_id", ["text"], strategy="shuffle")
    plan_sh = sh._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan_sh
    plan_bc = bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan_bc
    assert sorted(map(tuple, sh.collect())) == sorted(map(tuple, bc.collect()))


def test_merge_auto_picks_by_updates_size(spark):
    base, updates = _base_updates(spark)
    auto = merge.merge_update(base, updates, "doc_id", ["text"], strategy="auto")
    # small updates side → auto resolves to broadcast
    assert "BroadcastExchange" in auto._jdf.queryExecution().executedPlan().toString()
    old = merge.MERGE_BROADCAST_MAX_ROWS
    merge.MERGE_BROADCAST_MAX_ROWS = 5  # force the bulk path
    try:
        auto2 = merge.merge_update(base, updates, "doc_id", ["text"], strategy="auto")
        assert "BroadcastExchange" not in auto2._jdf.queryExecution().executedPlan().toString()
        assert sorted(map(tuple, auto2.collect())) == sorted(map(tuple, auto.collect()))
    finally:
        merge.MERGE_BROADCAST_MAX_ROWS = old


def test_label_validation_shuffle_parity(spark):
    """apply_label_validations over the sort-merge path must match the
    broadcast path row-for-row (same Arrow splice kernel downstream)."""
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
    a = merge.apply_label_validations(docs, updates, strategy="broadcast").collect()
    b = merge.apply_label_validations(docs, updates, strategy="shuffle").collect()
    key = lambda r: r["doc_id"]
    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        assert ra == rb
