"""Artifact distribution (S3-S6 Spark equivalents)."""

import os
import zipfile

from pii_detection_service_spark import udfs
from pii_detection_service_spark.functions import tagger
from pii_detection_service_spark.sources import artifacts


def test_extended_gazetteer_broadcasts_in_models(spark):
    models = udfs.Models(gazetteer=tagger.extend_gazetteer({"Zarathustra"}))
    bc = spark.sparkContext.broadcast(models)
    assert "alice" in bc.value.gazetteer and "zarathustra" in bc.value.gazetteer
    # usable inside a distributed closure
    n = (
        spark.sparkContext.parallelize(["Alice", "nobody"], 2)
        .filter(lambda w: w.lower() in bc.value.gazetteer)
        .count()
    )
    assert n == 1
    bc.unpersist()


def test_distribute_and_fetch_archive(spark, tmp_path):
    content = tmp_path / "gaz.txt"
    content.write_text("alpha\nbeta\n")
    zpath = tmp_path / "model.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.write(content, "gaz.txt")

    name = artifacts.distribute_archive(spark, str(zpath))

    def use(_):
        d = artifacts.fetch_archive(name)
        return open(os.path.join(d, "gaz.txt")).read()

    out = spark.sparkContext.parallelize([1, 2], 2).map(use).collect()
    assert out == ["alpha\nbeta\n"] * 2
    # extract-once cache marker exists
    d = artifacts.fetch_archive(name)
    assert os.path.exists(os.path.join(d, ".extracted"))


def test_large_gazetteer_through_production_score_path(spark, tmp_path):
    """The ≥2×10⁴-name synthetic gazetteer flows as Models.gazetteer through
    stage.score and pipeline.score_documents → tag_and_scrub: synthetic
    names get tagged as NAME_STUDENT and scrubbed, builtin behavior is
    preserved (superset), and gazetteer-less callers still get the builtin
    set (the models are an argument, not module state)."""
    from pii_detection_service_spark.operators import pipeline
    from pii_detection_service_spark.plans import stage
    from pii_detection_service_spark.sources.synth import synth_gazetteer

    gaz = synth_gazetteer()
    assert len(gaz) >= 20_000 and tagger.FIRST_NAMES <= gaz
    # pick a synthetic-only name (not in the builtin set)
    synth_name = sorted(gaz - tagger.FIRST_NAMES)[0]
    models = udfs.Models(gazetteer=gaz)

    rows = [
        (0, f"a photo shared by {synth_name.capitalize()} yesterday"),
        (1, "a photo shared by Alice yesterday"),
        (2, "a quiet street with no people at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, caption string")
    got = {
        r["doc_id"]: r
        for r in stage.score(df, models)
        .select("doc_id", "n_pii", "scrubbed_caption", "labels")
        .collect()
    }
    assert got[0]["n_pii"] == 1 and "[NAME_STUDENT]" in got[0]["scrubbed_caption"]
    assert got[1]["n_pii"] == 1 and "[NAME_STUDENT]" in got[1]["scrubbed_caption"]
    assert got[2]["n_pii"] == 0 and got[2]["scrubbed_caption"] == rows[2][1]

    # the documents scoring path takes the same models value
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    docs = {
        r["doc_id"]: r
        for r in pipeline.score_documents(spark, sf, models).collect()
    }
    assert {k: (r["n_pii"], r["scrubbed_caption"]) for k, r in docs.items()} == {
        k: (r["n_pii"], r["scrubbed_caption"]) for k, r in got.items()
    }

    # without the models, the synthetic name is NOT tagged (builtin golden
    # behavior intact)
    import pandas as pd

    plain = udfs.score_batch(pd.Series([rows[0][1]]))
    assert plain["n_pii"][0] == 0
    assert pipeline.score_documents(spark, sf).where("doc_id = 0").first()["n_pii"] == 0


def test_gazetteer_argument_contract():
    gaz = tagger.extend_gazetteer({"Xyzzy"})
    assert tagger.FIRST_NAMES < gaz and "xyzzy" in gaz  # lowercased superset
    toks, labels = tagger.tag("met Xyzzy today", gazetteer=gaz)
    assert labels[toks.index("Xyzzy")] == "B-NAME_STUDENT"
    # the next default call does not see the extra name
    toks, labels = tagger.tag("met Xyzzy today")
    assert set(labels) == {"O"}
