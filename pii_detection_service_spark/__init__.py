"""PySpark-native quality-filter + PII-scrub engine.

A from-scratch re-expression of the capabilities of the reference
`lendl-uy/pii-detection-service` (a Flask/Postgres/S3 PII-detection web
service) as a distributed Spark pipeline over image+caption tables:

- ``functions.textref``  — pure-Python reference semantics (tokenize, BIO
  merge/cleanup, reconstruct, prefix ops) shared by Arrow UDFs AND golden
  tests, so parity with the reference is testable bit-for-bit.
- ``functions.tagger``   — regex + gazetteer BIO PII tagger + scrubber.
- ``functions.quality``  — langid, n-gram perplexity, keep/drop heuristics.
- ``operators``          — Spark DataFrame operators (native-first): filters,
  label ops, F-beta drift aggregate, dedup family, similarity search.
- ``sources``            — synthetic image+caption table (input_hint schema),
  testdata loaders, codecs (PNG, JPEG, GIF, BMP, WebP/VP8, WAV, AVI).
- ``plans.stage``        — the flagship distributed stage: score → scrub →
  keep/drop → phash-bucket repartition (salted) → write + lineage + metrics,
  resumable by a ``NOT IN`` filter on the buckets lineage marks done.

Design: DataFrame/Catalyst first; Python only inside Arrow-batched
``mapInPandas``/``arrow_udf`` (zero per-row Python at the Spark level).
"""

from . import zipcache as _zipcache

__version__ = "0.1.0"

# inside a Spark Python worker: stop the per-task re-read of pyspark.zip
_zipcache.install_in_task()
