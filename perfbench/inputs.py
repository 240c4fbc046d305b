"""Seeded inputs for the benchmark workloads.

Every table is a pure function of (workload, seed) and is written straight
to parquet with pyarrow, so regenerating it for each run costs well under a
second. ``run_stage`` never decodes the ``bytes`` column, so payloads are
seeded random bytes of a stated size rather than encoded images.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pii_detection_service_spark import udfs
from pii_detection_service_spark.sources import synth

N_FILES = 8  # input split count; fixed so inputs do not depend on the core count
N_BUCKETS = 16
SALT = 2
HOT_PHASH = 0x5EED  # the phash every hot-bucket row shares
RESUME_DONE_SHARE = 0.75  # buckets the resume probe's lineage marks done


@dataclass(frozen=True)
class StageSpec:
    rows: int
    payload_bytes: int
    captions: str  # "mix" | "pii_dense"
    hot_share: float  # share of rows with one shared phash


STAGE_SPECS = {
    "stage_caption_mix": StageSpec(32_000, 2048, "mix", 0.09),
    "stage_pii_dense": StageSpec(10_000, 256, "pii_dense", 0.0),
}

_POOL = 4096  # distinct synth captions per seed; rows draw from this pool


def _mix_captions(rng: np.random.Generator, seed: int, n: int) -> list[str]:
    offset = (seed * 1_000_003) % (1 << 30)
    pool = [synth.caption_for(offset + j) for j in range(_POOL)]
    return [pool[j] for j in rng.integers(0, _POOL, n)]


_NAMES = ["Alice Johnson", "Robert Smith", "Maria Lopez", "Gilberto Gamboa", "Dr. Ann Lee"]


def _pii_clause(rng: np.random.Generator) -> str:
    k = int(rng.integers(0, 6))
    name = _NAMES[int(rng.integers(0, len(_NAMES)))]
    n = int(rng.integers(100, 999))
    if k == 0:
        return f"contact {name} at {name.split()[-1].lower()}{n}@example.com"
    if k == 1:
        return f"call {name} on 212-555-{n:04d}"
    if k == 2:
        return f"sent by {name} from {n} Elm St"
    if k == 3:
        return f"see http://host{n}.example.net/p/{n} by @user_{n}"
    if k == 4:
        return f"owner SSN {n}-45-6789 on file"
    return f"reach {name} at ({n}) 123-4567 tonight"


def _plain_sentence(rng: np.random.Generator) -> str:
    pick = lambda pool: pool[int(rng.integers(0, len(pool)))]  # noqa: E731
    return (
        f"a photo of the {pick(synth._ADJS)} {pick(synth._NOUNS)} "
        f"{pick(synth._VERBS)} near the {pick(synth._NOUNS)} and the {pick(synth._NOUNS)}"
    )


def _pii_dense_captions(rng: np.random.Generator, n: int) -> list[str]:
    """~500-char captions, each carrying several PII clauses, so the
    tagger's plain-caption gate never skips a row. One row in a thousand is
    a hostile email-like run (``a.`` repeated, then ``@``) of 2-4k chars."""
    pool = []
    for _ in range(_POOL):
        parts: list[str] = []
        while sum(len(p) + 2 for p in parts) < 480:
            parts.append(_plain_sentence(rng) if rng.random() < 0.5 else _pii_clause(rng))
        pool.append(", ".join(parts))
    out = [pool[j] for j in rng.integers(0, _POOL, n)]
    for i in rng.choice(n, n // 1000, replace=False):
        out[i] = "a." * int(rng.integers(1000, 2000)) + "@"
    return out


def _binary_column(rng: np.random.Generator, n: int, size: int) -> pa.Array:
    offsets = np.arange(0, (n + 1) * size, size, dtype=np.int32)
    data = rng.bytes(n * size)
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )


def _write_files(tbl: pa.Table, path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    n = tbl.num_rows
    for k in range(N_FILES):
        lo, hi = k * n // N_FILES, (k + 1) * n // N_FILES
        pq.write_table(
            tbl.slice(lo, hi - lo), f"{path}/part-{k:05d}.parquet", compression="none"
        )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


@dataclass
class StageInput:
    path: str  # parquet directory of the input table
    rows: int
    in_bytes: int
    captions: dict  # image_id -> caption


def stage_input(workload: str, seed: int, work: str) -> StageInput:
    """The image+caption table ``run_stage`` reads: seeded captions, random
    payloads of a stated size, and phashes (with a hot bucket if the spec
    asks for one)."""
    spec = STAGE_SPECS[workload]
    rng = np.random.default_rng([seed, 0xB3])
    n = spec.rows
    if spec.captions == "mix":
        caps = _mix_captions(rng, seed, n)
    else:
        caps = _pii_dense_captions(rng, n)
    phash = rng.integers(0, 1 << 62, n, dtype=np.int64)
    phash[rng.random(n) < spec.hot_share] = HOT_PHASH
    ids = [f"img_{seed % 100000:05d}_{i:07d}" for i in range(n)]
    tbl = pa.table(
        {
            "image_id": pa.array(ids, pa.string()),
            "bytes": _binary_column(rng, n, spec.payload_bytes),
            "w": pa.array(np.full(n, 64, np.int32)),
            "h": pa.array(np.full(n, 64, np.int32)),
            "fmt": pa.array(np.where(np.arange(n) % 3 == 0, "jpeg", "png"), pa.string()),
            "caption": pa.array(caps, pa.string()),
            "phash": pa.array(phash, pa.int64()),
        }
    )
    path = os.path.join(work, "input")
    _write_files(tbl, path)
    return StageInput(path=path, rows=n, in_bytes=dir_bytes(path), captions=dict(zip(ids, caps)))


@dataclass
class ResumeSeed:
    out: str  # a partial stage output: done buckets' data plus their lineage
    done_buckets: list
    pending_rows: int


def resume_seed(inp: StageInput, seed: int, work: str) -> ResumeSeed:
    """A stage output in which a seeded 3/4 of the buckets have committed:
    their scored data files plus one lineage row each, laid out as
    ``run_stage`` writes them. Scores come from ``udfs.score_batch``, the
    kernel the stage runs, so a correct resume leaves every row exactly as
    a fresh run would."""
    rng = np.random.default_rng([seed, 0xF7])
    done = sorted(int(b) for b in rng.permutation(N_BUCKETS)[: int(RESUME_DONE_SHARE * N_BUCKETS)])
    tbl = pq.read_table(inp.path)
    bucket = tbl.column("phash").to_numpy() % N_BUCKETS  # == pmod: phash >= 0
    out = os.path.join(work, "resume_seed")
    shutil.rmtree(out, ignore_errors=True)
    lineage = []
    for b in done:
        part = tbl.filter(pa.array(bucket == b))
        scored = udfs.score_batch(part.column("caption").to_pandas())
        scored_tbl = pa.Table.from_pandas(scored, preserve_index=False).cast(_SCORE_SCHEMA)
        for name in scored_tbl.column_names:
            part = part.append_column(name, scored_tbl.column(name))
        os.makedirs(f"{out}/data/bucket={b}")
        pq.write_table(part, f"{out}/data/bucket={b}/part-00000-seed.parquet", compression="none")
        lineage.append(
            (b, part.num_rows, int(scored["keep"].sum()), int((scored["n_pii"] > 0).sum()))
        )
    os.makedirs(f"{out}/lineage")
    pq.write_table(
        pa.table(
            {
                "bucket": pa.array([r[0] for r in lineage], pa.int32()),
                "n_rows": pa.array([r[1] for r in lineage], pa.int64()),
                "n_kept": pa.array([r[2] for r in lineage], pa.int64()),
                "n_pii_rows": pa.array([r[3] for r in lineage], pa.int64()),
                "runtime_sec": pa.array([0.0] * len(lineage), pa.float64()),
                "status": pa.array(["done"] * len(lineage), pa.string()),
            }
        ),
        f"{out}/lineage/part-00000-seed.parquet",
    )
    return ResumeSeed(out, done, int((~np.isin(bucket, done)).sum()))


_SCORE_SCHEMA = pa.schema(
    [
        ("lang", pa.string()), ("ppl", pa.float64()), ("keep", pa.bool_()),
        ("drop_reason", pa.string()), ("tokens", pa.list_(pa.string())),
        ("labels", pa.list_(pa.string())), ("n_pii", pa.int32()),
        ("n_toxic", pa.int32()), ("scrubbed_caption", pa.string()),
    ]
)


# --- the corpus for the operator query suite -------------------------------

CORPUS_SEED = 42  # fixed: the query digests in digests.json pin this corpus
_DOC_WORDS = (
    "a the batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector customer join"
).split()
_DOC_LANGS = np.array(["en", "zh", "es", "fr", "de"])


def corpus_input(work: str) -> str:
    """documents / events / embeddings tables shaped like the sf0.01 test
    data (500 / 10,000 / 500 rows). Returns their directory."""
    rng = np.random.default_rng(CORPUS_SEED)
    path = os.path.join(work, "corpus")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    n_doc = 500
    words = np.array(_DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(k))]) for k in rng.integers(8, 100, n_doc)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_doc), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(_DOC_LANGS[rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
                "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        f"{path}/documents.parquet",
    )
    n_ev = 10_000
    ts_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev)) + 1_704_067_200 * 10**6
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": pa.array(ts_us, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
                "event_type": pa.array(
                    np.array(["signup", "purchase", "view", "click", "error"])[rng.integers(0, 5, n_ev)]
                ),
                "value": pa.array(np.round(rng.random(n_ev) * 200, 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        f"{path}/events.parquet",
    )
    n_emb, dim = 500, 64
    labels = rng.integers(0, 10, n_emb)
    centers = rng.standard_normal((10, dim))
    vecs = centers[labels] + 0.5 * rng.standard_normal((n_emb, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_emb), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        f"{path}/embeddings.parquet",
    )
    return path
