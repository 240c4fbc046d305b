"""The operational CLI, run as a subprocess: ``cli.main`` stops its
SparkSession on exit, which would end the test session's shared one."""

import glob
import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pii_detection_service_spark.functions import tagger

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CAPTIONS = [
    "a photo of Zarathustra walking on the beach today",
    "a quiet street with no people at all in the morning",
    "the red car parked near the old house on the hill",
]


def _cli(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "pii_detection_service_spark.cli", *args],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )


def _submit(cwd, *args: str) -> subprocess.CompletedProcess:
    """The cluster launcher: spark-submit over two executor JVMs, with the
    package importable only from the --py-files zip (PYTHONPATH unset,
    cwd outside the repo)."""
    zip_path = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "package_pyfiles.py")],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return subprocess.run(
        ["spark-submit", "--master", "local-cluster[2,1,1024]",
         "--conf", "spark.executor.memory=700m", "--py-files", zip_path,
         os.path.join(REPO, "tools", "submit_stage.py"), *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def _write_source(path: str) -> None:
    n = len(CAPTIONS)
    pq.write_table(
        pa.table({
            "image_id": [f"img{i}" for i in range(n)],
            "bytes": pa.array([b"\x00"] * n, pa.binary()),
            "w": pa.array([1] * n, pa.int32()),
            "h": pa.array([1] * n, pa.int32()),
            "fmt": ["png"] * n,
            "caption": CAPTIONS,
            "phash": pa.array(range(n), pa.int64()),
        }),
        path,
    )


@pytest.mark.parametrize("launcher", ["module", "spark_submit"])
def test_cli_gazetteer_file_tags_named_row(tmp_path, launcher):
    """The --gazetteer file reaches the tagger through the broadcast
    ``Models`` value, run in-process (``python -m``) and across executor
    JVMs (``spark-submit`` on ``local-cluster``)."""
    src, out = str(tmp_path / "src.parquet"), str(tmp_path / "out")
    _write_source(src)
    names = tmp_path / "names.txt"
    names.write_text("Zarathustra\n")
    assert tagger.tag_and_scrub(CAPTIONS[0])[3] == 0  # builtin set misses it

    args = ("--source", src, "--out", out, "--buckets", "2", "--salt", "1",
            "--gazetteer", str(names))
    if launcher == "module":
        r = _cli(*args, "--cores", "2")
    else:
        r = _submit(str(tmp_path), *args)
    assert r.returncode == 0, r.stderr[-3000:]
    metrics = json.loads(r.stdout.strip().splitlines()[-1])
    assert metrics["rows"] == 3 and metrics["pii_rows"] == 1

    files = glob.glob(f"{out}/data/bucket=*/*.parquet")
    got = pa.concat_tables(
        pq.read_table(f, columns=["image_id", "n_pii", "scrubbed_caption"]) for f in files
    ).to_pylist()
    by_id = {r["image_id"]: r for r in got}
    assert by_id["img0"]["n_pii"] == 1
    assert "[NAME_STUDENT]" in by_id["img0"]["scrubbed_caption"]
    assert by_id["img1"]["n_pii"] == 0 and by_id["img2"]["n_pii"] == 0


@pytest.mark.parametrize("argv, message", [
    (["--arpa-lm", "m.arpa", "--train-lm"], "mutually exclusive"),
    (["--buckets", "0"], "at least 1"),
    (["--salt", "0"], "at least 1"),
    (["--buckets", "-2", "--salt", "-4"], "at least 1"),
], ids=["arpa_and_train", "buckets_0", "salt_0", "buckets_and_salt_negative"])
def test_cli_arpa_lm_and_train_lm_are_exclusive(tmp_path, argv, message):
    """Rejected argv exits 2 before Spark starts: no output is written."""
    r = _cli("--synthetic", "10", "--out", str(tmp_path / "out"), *argv)
    assert r.returncode == 2
    assert message in r.stderr
    assert not (tmp_path / "out").exists()
