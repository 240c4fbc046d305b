"""Single-thread µs/row of each step of the tagger over a seeded pii-dense pool.

Usage: python tools/profile_tagger.py [--seed N] [--rows N] [--repeat N]

The pool is the caption generator of the ``stage_pii_dense`` benchmark
workload (``perfbench.inputs``), so the figures describe the rows that
workload feeds the tagger. Each figure is the best of ``--repeat`` passes
over the whole pool, divided by the row count. Steps, in the order
``tag_and_scrub`` runs them:

- ``tokenize``: ``_tokenize``;
- one line per PII class: its spec regex's ``finditer`` and the scan form
  the tagger runs, both ungated, over every row;
- ``pii_spans``: the whole gated class pass plus the names;
- ``gazetteer``: ``_name_spans`` alone, on the claim map of the classes;
- ``toxic``: ``find_toxic_spans``, gate included;
- ``labels``: ``_label_tokens``;
- ``splice``: ``_splice`` of the PII and toxic spans;
- ``tag_and_scrub``: the fused call, end to end.

``quality.symbol_ratio`` is printed too: it is the other per-character
scan of a pii-dense row. Nothing here starts Spark.
"""

from __future__ import annotations

import argparse
import re
import sys
import time

sys.path.insert(0, ".")

import numpy as np  # noqa: E402

from perfbench import inputs  # noqa: E402
from pii_detection_service_spark.functions import quality  # noqa: E402
from pii_detection_service_spark.functions import tagger as t  # noqa: E402

SCANS = [
    ("EMAIL", t.EMAIL_RE, t._email_spans),
    ("URL_PERSONAL", t.URL_RE, lambda c: [m.span() for m in t.URL_RE.finditer(c)]),
    ("ID_NUM", t.ID_RE, lambda c: [m.span() for m in t._ID_SCAN.finditer(c)]),
    ("PHONE_NUM", t.PHONE_RE, lambda c: [m.span() for m in t._PHONE_SCAN.finditer(c)]),
    ("STREET_ADDRESS", t.ADDRESS_RE, lambda c: [m.span() for m in t._ADDRESS_SCAN.finditer(c)]),
    ("USERNAME", t.USERNAME_RE, lambda c: [m.span() for m in t._USERNAME_SCAN.finditer(c)]),
]


def best_us(fn, args: list[tuple], repeat: int) -> float:
    """Best-of-``repeat`` µs per call of ``fn(*a)`` over ``args``."""
    best = float("inf")
    for _ in range(repeat):
        t0 = time.perf_counter()
        for a in args:
            fn(*a)
        best = min(best, time.perf_counter() - t0)
    return best / len(args) * 1e6


def spec_spans(pat: re.Pattern, c: str) -> list[tuple[int, int]]:
    return [m.span() for m in pat.finditer(c)]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1001)
    ap.add_argument("--rows", type=int, default=2000)
    ap.add_argument("--repeat", type=int, default=5)
    args = ap.parse_args(argv)

    caps = inputs._pii_dense_captions(np.random.default_rng([args.seed, 0xB3]), args.rows)
    cols = [t._tokenize(c) for c in caps]
    class_taken = []  # each row's claim map after the classes, before names
    for c in caps:
        spans, taken = t._pii_spans(c, ([], [], []), t.FIRST_NAMES)
        class_taken.append(taken)
    pii = [t._pii_spans(c, col, t.FIRST_NAMES) for c, col in zip(caps, cols)]
    toxic = [t.find_toxic_spans(c, taken) for c, (_, taken) in zip(caps, pii)]
    r = args.repeat

    def line(name: str, us: float, extra: str = "") -> None:
        print(f"{name:<22} {us:8.1f} us/row{extra}")

    print(
        f"# {len(caps)} rows, seed {args.seed}: {np.mean([len(c) for c in caps]):.0f} chars,"
        f" {np.mean([len(w) for w, _, _ in cols]):.0f} tokens,"
        f" {np.mean([len(s) for s, _ in pii]):.1f} PII spans per row; best of {r}"
    )
    line("tokenize", best_us(t._tokenize, [(c,) for c in caps], r))
    for cls, spec, scan in SCANS:
        spec_us = best_us(spec_spans, [(spec, c) for c in caps], r)
        line(f"scan.{cls}", best_us(scan, [(c,) for c in caps], r), f"  (spec regex {spec_us:.1f})")
    line("pii_spans", best_us(t._pii_spans, [(c, col, t.FIRST_NAMES) for c, col in zip(caps, cols)], r))
    line(
        "gazetteer",
        best_us(
            lambda col, taken: t._name_spans(*col, bytearray(taken), t.FIRST_NAMES),
            list(zip(cols, class_taken)),
            r,
        ),
    )
    line("toxic", best_us(t.find_toxic_spans, [(c, taken) for c, (_, taken) in zip(caps, pii)], r))
    line("labels", best_us(t._label_tokens, [(s, e, sp) for (_, s, e), (sp, _) in zip(cols, pii)], r))
    line(
        "splice",
        best_us(t._splice, [(c, sorted(sp + tx)) for c, (sp, _), tx in zip(caps, pii, toxic)], r),
    )
    line("tag_and_scrub", best_us(t.tag_and_scrub, [(c,) for c in caps], r))
    line("quality.symbol_ratio", best_us(quality.symbol_ratio, [(c,) for c in caps], r))
    return 0


if __name__ == "__main__":
    sys.exit(main())
