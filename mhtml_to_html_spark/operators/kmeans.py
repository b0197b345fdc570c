"""Distributed Lloyd's k-means over an embedding column — the
centroid-training stage for IVF ANN (``similarity.ivf_topk`` consumes
centroids; this is where they come from).

Shape at scale, per iteration:
- centroids are a driver-held k×dim matrix inlined as array literals,
  so assignment is one NARROW projection (array_min over k
  (dist, cid) structs) — no crossJoin, no shuffle, no groupBy keyed on
  the embedding array;
- the new means are one partial-aggregating groupBy(cid, pos) over
  posexploded dimensions — k×dim numbers reach the driver, not
  vectors, and the agg is flat in dim (never dim agg columns);
- the driver holds ONLY the k×dim centroid matrix between iterations
  (the classic Lloyd's-on-MapReduce shape) — never vector rows.

Reproducibility contract (what makes a DuckDB oracle possible):
deterministic init (the k lowest-id vectors), centroids QUANTIZED to 6
decimals at every iteration boundary (so cross-engine float-sum
ordering cannot flip an assignment), distances accumulated in a fixed
left-to-right element order, ties broken by centroid id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def argmin_centroid(embed_col, centroids: list[list[float]]):
    """Column expression: index of the nearest centroid to ``embed_col``
    (squared L2, left-to-right accumulation, ties to the lowest cid).
    The centroid matrix is DRIVER-HELD, inlined as array literals; the
    k distances become an array of (dist, cid) structs and ``array_min``
    is the tie-broken argmin — a NARROW expression, usable per subspace
    (PQ) as well as on the full vector."""
    dists = [
        F.struct(
            F.aggregate(
                F.zip_with(
                    embed_col,
                    F.array(*[F.lit(float(v)) for v in c]),
                    lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dist"),
            F.lit(i).alias("cid"),
        )
        for i, c in enumerate(centroids)
    ]
    return F.array_min(F.array(*dists))["cid"]


def _assign(embeddings: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, embedding, cid): nearest centroid per vector — one
    map-only projection via :func:`argmin_centroid`. No crossJoin, no
    shuffle, and no groupBy keyed on the raw embedding array (the
    round-2 high-dim caution): assignment is map-only at any n."""
    return embeddings.select(
        "vec_id", "embedding", argmin_centroid(F.col("embedding"), centroids).alias("cid")
    )


def lloyd(embeddings: DataFrame, k: int = 4, n_iter: int = 2):
    """The Lloyd's driver loop: returns (centroids, sizes) — the k×dim
    quantized centroid matrix and final cluster membership counts. An
    empty cluster keeps its previous centroid (standard Lloyd's rule,
    and the rule the oracle replays)."""
    dim = len(embeddings.select("embedding").first()["embedding"])
    init_rows = embeddings.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    if len(init_rows) < k:
        raise ValueError(f"k={k} > n_vectors={len(init_rows)}")
    centroids = [[round(float(v), 6) for v in r["embedding"]] for r in init_rows]

    sizes = {i: 0 for i in range(k)}
    for _ in range(n_iter):
        assigned = _assign(embeddings, centroids)
        # mean update over EXPLODED (cid, pos) rows — k×dim result rows
        # with a map-side partial agg, instead of one avg column per
        # dimension (codegen blows past a few hundred agg columns; this
        # shape is flat in dim). Sizes ride along as count/ dim.
        stats = (
            assigned.select("cid", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(
                F.round(F.avg(F.col("v").cast("double")), 6).alias("mean"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        sizes = {i: 0 for i in range(k)}
        for r in stats:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = float(r["mean"])
            sizes[r["cid"]] = int(r["n"])
        centroids = [
            [by_cid[i][j] for j in range(dim)] if i in by_cid else centroids[i]
            for i in range(k)
        ]
    return centroids, sizes


def kmeans_fit(embeddings: DataFrame, k: int = 4, n_iter: int = 2) -> DataFrame:
    """Lloyd's k-means: returns (cid, pos, val, size) — the trained
    centroid matrix exploded to one row per (cluster, dimension), plus
    each cluster's final membership count."""
    spark = embeddings.sparkSession
    centroids, sizes = lloyd(embeddings, k, n_iter)
    dim = len(centroids[0])
    rows = [
        (cid, pos, centroids[cid][pos], sizes[cid]) for cid in range(k) for pos in range(dim)
    ]
    return spark.createDataFrame(rows, "cid int, pos int, val double, size long").orderBy(
        "cid", "pos"
    )


def ivf_topk_trained(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_cells: int = 4,
    n_iter: int = 2,
    n_probe: int = 2,
) -> DataFrame:
    """IVF ANN over TRAINED centroids (the production IVF shape —
    ``similarity.ivf_topk`` quantizes against raw sample vectors; this
    trains the codebook with :func:`lloyd` first): route every vector
    to its nearest trained centroid, probe the query's ``n_probe``
    nearest cells, exact-cosine rerank inside them.

    Scale: training touches the data n_iter times (broadcast centroids,
    partial aggs); at query time the cell column is a partition key, so
    a probe scans n_probe/n_cells of the corpus."""
    centroids, _ = lloyd(embeddings, n_cells, n_iter)
    assigned = _assign(embeddings, centroids)

    q_emb = (
        embeddings.filter(F.col("vec_id") == query_vec_id).select("embedding").first()[
            "embedding"
        ]
    )
    qv = [float(v) for v in q_emb]
    # n_probe nearest cells to the query, same distance + tie rule
    def _d(c):
        return sum((float(a) - b) * (float(a) - b) for a, b in zip(qv, c))

    probe_cells = [
        cid for cid, _ in sorted(enumerate(centroids), key=lambda t: (_d(t[1]), t[0]))[:n_probe]
    ]

    spark = embeddings.sparkSession
    qdf = spark.createDataFrame([(qv,)], "qvec array<double>")
    dot = F.aggregate(
        F.zip_with("embedding", "qvec", lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda v: v.cast("double") * v.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        assigned.filter(F.col("cid").isin(probe_cells))
        .filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(qdf))
        .withColumn("cosine", F.round(dot / (norm(F.col("embedding")) * norm(F.col("qvec"))), 6))
        .select("vec_id", F.col("cid").cast("int").alias("cell"), "cosine")
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(k)
    )
