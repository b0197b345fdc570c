"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale notes (the 100 TB shapes):
- exact: one hash-partitioned groupBy on a 32-char digest — map-side
  partial agg, no wide rows move;
- minhash LSH: signatures are fixed-width per doc; the candidate join
  shuffles on (band_idx, band_key) so only same-bucket docs meet —
  never an O(n²) cross join;
- shingle join (n-gram Jaccard) explodes shingles but aggregates to
  pair counts immediately (map-side combine); intended for
  within-bucket verification at scale, run here standalone on the
  small corpus;
- hashes are md5-based so a DuckDB oracle replays them bit-for-bit
  (Spark xxhash64 has no portable twin).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import spread_small as _spread_small
from .text import tokens_col

MINHASH_K = 12
MINHASH_BAND_SIZE = 2


def shingles_col(n: int = 3):
    """Distinct word n-gram shingles of the lower-cased text.

    Guarded: Spark's sequence(1, 0) descends, so short docs get an
    explicitly empty array instead of a bogus [1, 0] index range.
    """
    toks = tokens_col()
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))
    )


def _java_ws_split(text: str):
    """Python twin of ``tokens_col``: split on the Java-\\s class
    ([ \\t\\n\\x0B\\f\\r]+) of the lower-cased text, empties dropped.
    The explicit character class (not Python's unicode \\s) keeps the
    token boundaries bit-identical to the JVM expression."""
    import re

    return [t for t in re.split("[ \t\n\x0b\x0c\r]+", text.lower()) if t]


# Memory bound, measured with tracemalloc on a cache filled to its cap
# with distinct 3-token shingles (17 characters mean) under CPython
# 3.11: 1,326 B per entry (the key, twelve 32-character hex strings,
# their tuple and the LRU node), so at most ~166 MiB per Python worker.
@functools.lru_cache(maxsize=1 << 17)
def _shingle_hashes(shingle: str, k: int) -> tuple:
    """The k portable minhash terms of one shingle:
    md5(shingle || '|' || i) hex for i in 0..k-1 — exactly the JVM
    expression in :func:`minhash_signatures_agg`. Cached per worker:
    shingles repeat heavily across documents (boilerplate, small
    vocabularies), so the md5 work amortizes corpus-wide — the classic
    heavyweight-init-once-per-task contract (guide §4.5), keyed on
    content, never on the input file."""
    import hashlib

    return tuple(
        hashlib.md5(f"{shingle}|{i}".encode()).hexdigest() for i in range(k)
    )


def _minhash_sig_batches(batches, k: int, n: int):
    """mapInPandas kernel for :func:`minhash_signatures`: per document,
    distinct word n-gram shingles -> elementwise min of the cached
    k-term hash tuples. Documents with fewer than ``n`` tokens emit no
    row (the explode-of-empty-array semantics of the aggregation
    form). Pure Python + hashlib: the JVM shape spent ~65% of its
    wall building shingles through interpreted HOF lambdas
    (transform/element_at/concat_ws are evaluated outside whole-stage
    codegen); here a batch is one tight loop and the md5s are mostly
    cache hits."""
    import pandas as pd

    cols = ["doc_id"] + [f"mh{i}" for i in range(k)]
    for pdf in batches:
        out = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if text is None:
                continue
            toks = _java_ws_split(text)
            if len(toks) < n:
                continue
            shingles = {
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            }
            hashes = [_shingle_hashes(s, k) for s in shingles]
            out.append((int(doc_id), *map(min, zip(*hashes))))
        yield pd.DataFrame(out, columns=cols)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: groups of byte-identical normalized
    text, canonical = lowest doc_id (deterministic min, not first())."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    hashed = docs.select(F.col("doc_id").cast("long").alias("doc_id"), F.md5(norm).alias("h"))
    return (
        hashed.groupBy("h")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").cast("long").alias("dup_count"),
        )
        .select("h", "canonical_doc_id", "dup_count")
    )


def minhash_signatures(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """k portable minhashes: min over shingles of md5(shingle || '|' || i).
    Fixed-width hex strings order like the integers they encode.

    Shape (r6): MAP-ONLY — one vectorized kernel computes each doc's
    shingle set and all k mins in place, so there is no shingle
    explode and no aggregation shuffle at all (the r5 shape shuffled
    k hashes per doc; this one shuffles nothing). The per-worker
    shingle-hash cache (:func:`_shingle_hashes`) amortizes the k md5s
    across every document sharing a shingle. Bit-equality with the
    aggregation form is pinned by
    tests/test_plans.py::test_minhash_kernel_matches_aggregation_form."""
    return _spread_small(docs).select("doc_id", "text").mapInPandas(
        functools.partial(_minhash_sig_batches, k=k, n=3),
        schema="doc_id long, " + ", ".join(f"mh{i} string" for i in range(k)),
    )


def minhash_signatures_agg(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """The r5 aggregation form of :func:`minhash_signatures` — kept as
    the JVM-expression reference the Python kernel is differentially
    tested against (explode shingles once, ONE partial-aggregating
    groupBy computing all k mins)."""
    sh = _spread_small(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"), F.explode(shingles_col()).alias("shingle")
    )
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"|{i}")))).alias(f"mh{i}")
            for i in range(k)
        ]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = MINHASH_K,
    band_size: int = MINHASH_BAND_SIZE,
    bucket_cap: int = 64,
    skew_salts: int = 8,
) -> DataFrame:
    """LSH banding: docs agreeing on all hashes of any band become a
    candidate pair (doc_a < doc_b). Join key is (band_idx, band_key) so
    the shuffle only co-locates same-bucket docs.

    Hot buckets (mass-duplicated boilerplate is a real web phenomenon):
    buckets up to ``bucket_cap`` members pair up via an in-array
    combination (one row per bucket, cheap); bigger buckets switch to a
    SALTED within-bucket self-join — side A salted by doc hash, side B
    replicated across the salts — so a million-doc bucket spreads over
    ``skew_salts`` × partitions instead of building one giant
    collect_set row in a single task. Results are identical either way
    (the cap only picks the physical plan)."""
    sigs = minhash_signatures(docs, k)
    n_bands = k // band_size
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.concat_ws(
                                "|", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                            )
                        ).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_key")
    # the signature pipeline dominates the cost; checkpoint the slim
    # (doc_id, band_idx, band_key) rows once so the hot-key count, both
    # routing joins, and pair generation reuse ONE computation —
    # without this the plan replays the whole pipeline per consumer
    # (observed: 4 parquet scans). Lazy since r6: the hot-key broadcast
    # build is the first consumer and materializes the checkpoint
    # inside the job it already runs — eager=True was a whole extra
    # driver job per call (~0.5s at sf1)
    bands = bands.localCheckpoint(eager=False)
    # hot-bucket DETECTION is a count groupBy (map-side partial agg:
    # only (key, count) rows reach the shuffle, unlike a count window
    # which moves + sorts every band row), and the hot keys — rare by
    # construction, a bucket over ``bucket_cap`` means mass duplication
    # — are broadcast so routing rows to the small/big path is a
    # map-only stage on top of the one real band exchange
    hot_keys = (
        bands.groupBy("band_idx", "band_key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > bucket_cap)
        .select("band_idx", "band_key")
    )

    # small buckets: one partial-aggregating groupBy, combinations
    # inside the (bounded) array
    small_buckets = (
        bands.join(F.broadcast(hot_keys), ["band_idx", "band_key"], "left_anti")
        .groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    small_pairs = small_buckets.select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(docs, (a, i) -> "
                    "transform(slice(docs, i + 2, size(docs)), b -> struct(a AS doc_a, b AS doc_b)))"
                )
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")

    # hot buckets: salted self-join — each pair meets exactly once, in
    # doc_a's salt group
    big = bands.join(F.broadcast(hot_keys), ["band_idx", "band_key"], "left_semi").select(
        "band_idx", "band_key", "doc_id"
    )
    big_a = big.withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(skew_salts)).cast("int"))
    big_b = big.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(skew_salts - 1)))
    ).withColumn("salt", F.col("salt").cast("int"))
    big_pairs = (
        big_a.alias("a")
        .join(
            big_b.alias("b"),
            ["band_idx", "band_key", "salt"],
        )
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    return small_pairs.unionByName(big_pairs).distinct()


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, max_df: int | None = None
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >=1 shingle:
    |A∩B| from the shingle equi-join, |A∪B| = |A|+|B|-|A∩B|.

    ``max_df`` (opt-in) makes the operator STANDALONE-SAFE at scale:
    shingles appearing in more than ``max_df`` documents (stop-shingles
    — boilerplate that makes the self-join quadratic in the hottest
    key) are dropped before the join, from BOTH the intersection and
    each document's size, so the score becomes Jaccard over the
    informative shingle subset. Without it the join explodes on
    stop-shingles and the operator is a within-bucket verifier only
    (the documented round-1 contract). The prune is one extra
    partial-agg count + a join on the shingle — the same key the
    self-join shuffles on anyway."""
    sh = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.explode(shingles_col()).alias("shingle")
    )
    if max_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# Memory bound, measured with tracemalloc on a cache filled to its cap
# with distinct tokens (6.5 characters mean) under CPython 3.11: 169 B
# per entry (the key, the int value and the LRU node), so at most
# ~21 MiB per Python worker.
@functools.lru_cache(maxsize=1 << 17)
def _simhash_token_value(tok: str) -> int:
    """16-bit token value: first 4 hex chars of md5(token) — the JVM
    conv(substring(md5(tok), 1, 4), 16, 10) expression. Cached per
    worker (tokens repeat corpus-wide)."""
    import hashlib

    return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16)


def _simhash_batches(batches, bits: int):
    """mapInPandas kernel for :func:`simhash`: per document, the exact
    integer bit-sums over token OCCURRENCES (count x (2*bit-1) per
    distinct token), signature bit b set when the sum is > 0 —
    bit-identical to the explode+sum aggregation form
    (:func:`simhash_agg`), with no explode and no shuffle."""
    from collections import Counter

    import pandas as pd

    for pdf in batches:
        out = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if text is None:
                continue
            toks = _java_ws_split(text)
            if not toks:
                continue
            sums = [0] * bits
            for tok, cnt in Counter(toks).items():
                v = _simhash_token_value(tok)
                for b in range(bits):
                    sums[b] += cnt if (v >> b) & 1 else -cnt
            sig = 0
            for b in range(bits):
                if sums[b] > 0:
                    sig |= 1 << b
            out.append((int(doc_id), sig))
        yield pd.DataFrame(out, columns=["doc_id", "simhash"])


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash over whitespace tokens: per-token 16-bit value from the
    first 4 hex chars of md5(token); signature bit b = sign of the sum
    of (2*bit_b - 1) over tokens.

    Shape (r6): MAP-ONLY — the per-doc bit-sums run in one vectorized
    kernel with a per-worker token-value cache, so the token explode
    and the 16-column aggregation shuffle are gone. Bit-equality with
    the aggregation form is pinned by
    tests/test_plans.py::test_simhash_kernel_matches_aggregation_form."""
    return _spread_small(docs).select("doc_id", "text").mapInPandas(
        functools.partial(_simhash_batches, bits=bits),
        schema="doc_id long, simhash long",
    )


def simhash_agg(docs: DataFrame, bits: int = 16) -> DataFrame:
    """The r5 aggregation form of :func:`simhash` — kept as the
    JVM-expression reference the Python kernel is differentially
    tested against. Portable bit arithmetic (div/mod)."""
    tok = _spread_small(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"), F.explode(tokens_col()).alias("tok")
    )
    v = F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("long")
    with_bits = tok.select(
        "doc_id",
        *[
            (((v / F.lit(2**b)).cast("long") % 2) * 2 - 1).alias(f"s{b}")
            for b in range(bits)
        ],
    )
    summed = with_bits.groupBy("doc_id").agg(
        *[F.sum(f"s{b}").alias(f"s{b}") for b in range(bits)]
    )
    sig = summed.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"s{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
                for b in range(bits)
            ],
            F.lit(0),
        )
        .cast("long")
        .alias("simhash"),
    )
    return sig


def dedup_clusters(
    docs: DataFrame,
    k: int = MINHASH_K,
    band_size: int = MINHASH_BAND_SIZE,
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the
    MinHash candidate graph — the keep/drop step of a dedup pipeline
    (every doc gets ``cluster_id`` = the smallest doc_id reachable
    through candidate pairs; keep one doc per cluster downstream).

    The propagation loop is :func:`operators.graph.min_label_components`
    (shared with image phash clustering)."""
    from .graph import min_label_components

    pairs = minhash_lsh_pairs(docs, k, band_size).localCheckpoint(eager=True)
    nodes = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    return min_label_components(
        nodes, pairs, id_col="doc_id", a_col="doc_a", b_col="doc_b", max_iter=max_iter
    ).orderBy("doc_id")
