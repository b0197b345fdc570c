"""PySpark-native crawl + MHTML decode engine.

A from-scratch reimplementation of the *semantics* of
gildas-lormeau/mhtml-to-html (reference at /root/reference) as an
idiomatic Spark DataFrame pipeline:

- ``mime``      — pure-Python/numpy MIME multipart decode kernels
                  (quoted-printable, checked base64, BOM/charset cascade,
                  RFC 2047 headers, boundary state machine).
- ``urlnorm``   — RFC 3986 URL canonicalization (the seen-set key).
- ``operators`` — DataFrame operators: archive split (mapInPandas),
                  part registry (first-wins multi-key), reference
                  resolution joins, dedup / similarity / text-analysis
                  operators for training-data pipelines.
- ``sources``   — archive sources (binaryFile scan, synthetic builders).
- ``frontier``  — URL frontier + fetch scheduler: Bloom/exact seen set,
                  per-host politeness token bucket, priority queue,
                  driver fixpoint loop, plus the pure-Python oracle.
- ``images``    — deterministic image synthesis/codecs (PPM/BMP/raw) and
                  PSNR/phash invariants (no Pillow in env).
- ``plans``     — snapshot/checkpoint catalog seam (Iceberg-layout-in-
                  miniature over Parquet + JSON manifests).

Importing the package installs :mod:`._zipcache` in the process, so a
Python worker that runs any of the package's UDFs stops re-reading
pyspark's zip archives before each task.
"""

from . import _zipcache

_zipcache.install()

__version__ = "0.1.0"
