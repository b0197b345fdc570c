"""Product Quantization (PQ) ANN — the memory-side complement to IVF.

Jégou et al., "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011): split the embedding into ``m`` subspaces, train a
``n_codes``-entry codebook per subspace (Lloyd's on the sub-vectors),
encode every vector as ``m`` small code ids, and answer queries by
Asymmetric Distance Computation — the query stays exact, each vector's
distance is the sum of per-subspace table lookups.

Shape at scale (the whole point of PQ at 100 TB):
- training reuses :func:`operators.kmeans.lloyd` per subspace —
  broadcast-free narrow assignment + posexploded mean agg;
- the codebooks are driver-held (m × n_codes × dim/m floats, a few KB)
  and inline into expressions as literals;
- ENCODE is one narrow projection (m argmins over sliced arrays) — a
  100 TB corpus becomes m bytes/vector of codes with zero shuffle;
- ADC query is another narrow projection: the m distance tables
  (m × n_codes doubles) inline as array literals, per-vector distance
  is m ``element_at`` lookups + a fixed-order sum, and top-k is
  TakeOrderedAndProject (per-partition heap, no global sort).

Reproducibility contract (DuckDB-replayable, same as kmeans):
deterministic init, 6-decimal quantization of codebooks AND of each
ADC table entry AND of the final summed distance, left-to-right
accumulation, ties to the lowest code/vec_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kmeans import argmin_centroid, lloyd


def pq_train(
    embeddings: DataFrame, m: int = 4, n_codes: int = 8, n_iter: int = 2
) -> list[list[list[float]]]:
    """Train ``m`` per-subspace codebooks; returns
    ``books[s][code][j]`` (each ``dim/m`` wide, 6-decimal quantized).

    All ``m`` subspaces train in ONE pass per iteration: a single
    projection computes every subspace's assignment (m narrow argmins),
    one posexplode + groupBy(s, cid, j) agg updates every codebook —
    1 + n_iter Spark jobs total instead of m separate Lloyd's loops
    (m×(1 + 2·n_iter) jobs; at small n the driver round-trips dominate,
    at scale it is m-fold fewer corpus scans). Numerics are identical
    to per-subspace Lloyd's: same deterministic init, same argmin/tie
    rules, same round(6) mean quantization — the DuckDB oracle replays
    per-subspace chains and must still match."""
    dim = len(embeddings.select("embedding").first()["embedding"])
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub = dim // m
    init_rows = (
        embeddings.select("vec_id", "embedding").orderBy("vec_id").limit(n_codes).collect()
    )
    if len(init_rows) < n_codes:
        raise ValueError(f"n_codes={n_codes} > n_vectors={len(init_rows)}")
    books = [
        [
            [round(float(v), 6) for v in r["embedding"][s * sub : (s + 1) * sub]]
            for r in init_rows
        ]
        for s in range(m)
    ]
    for _ in range(n_iter):
        codes = F.array(
            *[
                argmin_centroid(F.slice("embedding", s * sub + 1, sub), books[s])
                for s in range(m)
            ]
        )
        # two selects: a generator (posexplode) in the same projection
        # as the struct-field argmins trips analysis (field names
        # canonicalize away under Generate)
        with_codes = embeddings.select(codes.alias("codes"), "embedding")
        ex = with_codes.select("codes", F.posexplode("embedding").alias("pos", "v"))
        s_col = F.floor(F.col("pos") / sub).cast("int")
        stats = (
            ex.select(
                s_col.alias("s"),
                F.element_at("codes", s_col + 1).alias("cid"),
                (F.col("pos") % sub).alias("j"),
                F.col("v").cast("double").alias("v"),
            )
            .groupBy("s", "cid", "j")
            .agg(F.round(F.avg("v"), 6).alias("mean"))
            .collect()
        )
        for r in stats:  # absent (s, cid) keeps its previous centroid
            books[r["s"]][r["cid"]][r["j"]] = float(r["mean"])
    return books


def pq_encode(
    embeddings: DataFrame, books: list[list[list[float]]], keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(vec_id[, keep_cols...], code0..code{m-1}): nearest code per
    subspace — one narrow projection, no shuffle."""
    sub = len(books[0][0])
    code_cols = [
        argmin_centroid(F.slice("embedding", s * sub + 1, sub), book)
        .cast("int")
        .alias(f"code{s}")
        for s, book in enumerate(books)
    ]
    return embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"), *keep_cols, *code_cols
    )


def _adc_tables(query_vec: list[float], books: list[list[list[float]]]) -> list[list[float]]:
    """Per-subspace distance tables d[s][code] = ||q_s - book[s][code]||²
    (driver-side — m × n_codes doubles), left-to-right accumulation,
    round(6) per entry."""
    sub = len(books[0][0])
    tables = []
    for s, book in enumerate(books):
        qs = query_vec[s * sub : (s + 1) * sub]
        row = []
        for c in book:
            acc = 0.0
            for a, b in zip(qs, c):
                acc += (a - b) * (a - b)
            row.append(round(acc, 6))
        tables.append(row)
    return tables


def _adc_expr(tables: list[list[float]]):
    """Column expression: sum of per-subspace table lookups (fixed
    s=0..m-1 order), rounded to 6 decimals."""
    adc = None
    for s, row in enumerate(tables):
        term = F.element_at(
            F.array(*[F.lit(float(v)) for v in row]), F.col(f"code{s}") + 1
        )
        adc = term if adc is None else adc + term
    return F.round(adc, 6)


def pq_topk_from_codes(
    enc: DataFrame,
    books: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Rank an already-encoded corpus against one query: ADC distance =
    fixed-order sum of per-subspace table lookups (tables inline as
    literals), ascending, ties to lowest vec_id. The encode cost is
    paid once per corpus, this per-query step touches only codes."""
    adc = _adc_expr(_adc_tables([float(v) for v in query_vec], books))
    out = enc
    if exclude_vec_id is not None:
        out = out.filter(F.col("vec_id") != exclude_vec_id)
    return (
        out.select("vec_id", adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def pq_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    m: int = 4,
    n_codes: int = 8,
    n_iter: int = 2,
) -> DataFrame:
    """(vec_id, adc_dist): the query's ``k`` approximate nearest
    neighbours by PQ/ADC — train, encode, rank in one call."""
    books = pq_train(embeddings, m=m, n_codes=n_codes, n_iter=n_iter)
    enc = pq_encode(embeddings, books)
    q_emb = embeddings.filter(F.col("vec_id") == query_vec_id).select("embedding").first()[
        "embedding"
    ]
    return pq_topk_from_codes(
        enc, books, [float(v) for v in q_emb], k=k, exclude_vec_id=query_vec_id
    )


def ivfpq_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_cells: int = 4,
    n_probe: int = 2,
    m: int = 4,
    n_codes: int = 8,
    n_iter: int = 2,
) -> DataFrame:
    """IVFADC (Jégou et al. §IV): coarse k-means routes every vector to
    a cell, PQ codebooks train on the RESIDUALS (x − centroid[cell],
    pooled across cells), and a query probes its ``n_probe`` nearest
    cells ranking by ADC against the PER-CELL query residual.

    Scale shape: routing and residuals are narrow projections (centroid
    matrix driver-held, element_at-indexed by cell); the probe filter
    prunes the scan to n_probe/n_cells of the corpus BEFORE any ADC
    work (vectors stored partitioned by cell would make the prune
    physical); ranking touches only the
    m-byte codes. Returns (vec_id, cell, adc_dist) ascending, ties to
    lowest vec_id."""
    from .kmeans import _assign, lloyd

    cents, _ = lloyd(embeddings, k=n_cells, n_iter=n_iter)
    routed = _assign(embeddings, cents)

    # residual = embedding − centroid[cell], one narrow expression (the
    # centroid matrix indexes by cell via element_at over literals)
    cent_lit = F.array(*[F.array(*[F.lit(float(v)) for v in c]) for c in cents])
    residual = F.zip_with(
        "embedding",
        F.element_at(cent_lit, F.col("cid") + 1),
        lambda a, b: a.cast("double") - b,
    )
    res = routed.select(
        "vec_id", F.col("cid").alias("cell"), residual.alias("embedding")
    ).localCheckpoint(eager=True)  # PQ training scans res m*n_iter times

    books = pq_train(res, m=m, n_codes=n_codes, n_iter=n_iter)
    enc = pq_encode(res, books, keep_cols=("cell",))

    q_emb = [
        float(v)
        for v in embeddings.filter(F.col("vec_id") == query_vec_id)
        .select("embedding")
        .first()["embedding"]
    ]

    def _d(c):
        acc = 0.0
        for a, b in zip(q_emb, c):
            acc += (a - b) * (a - b)
        return acc

    probe_cells = [
        cid for cid, _ in sorted(enumerate(cents), key=lambda t: (_d(t[1]), t[0]))[:n_probe]
    ]

    # per-cell ADC tables against the cell's query residual
    adc = None
    for cell in probe_cells:
        qres = [q_emb[j] - cents[cell][j] for j in range(len(q_emb))]
        branch = _adc_expr(_adc_tables(qres, books))
        cond = F.col("cell") == cell
        adc = F.when(cond, branch) if adc is None else adc.when(cond, branch)

    return (
        enc.filter(F.col("cell").isin(probe_cells))
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", F.col("cell").cast("int").alias("cell"), adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def write_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 4,
    m: int = 4,
    n_codes: int = 8,
    n_iter: int = 2,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Materialize an IVFADC index: coarse centroids route vectors,
    residual-PQ codes are written PARTITIONED BY CELL (the n_probe
    filter becomes a PartitionFilter — the scan physically reads
    n_probe/n_cells of the files), codebooks persist alongside.
    Rows store only (vec_id, code0..code{m-1}) — m small ints per
    vector, the PQ compression promise made durable. Returns
    (coarse_centroids, pq_codebooks)."""
    from .kmeans import _assign, lloyd

    spark = embeddings.sparkSession
    cents, _ = lloyd(embeddings, k=n_cells, n_iter=n_iter)
    routed = _assign(embeddings, cents)
    cent_lit = F.array(*[F.array(*[F.lit(float(v)) for v in c]) for c in cents])
    residual = F.zip_with(
        "embedding",
        F.element_at(cent_lit, F.col("cid") + 1),
        lambda a, b: a.cast("double") - b,
    )
    res = routed.select(
        "vec_id", F.col("cid").alias("cell"), residual.alias("embedding")
    ).localCheckpoint(eager=True)
    books = pq_train(res, m=m, n_codes=n_codes, n_iter=n_iter)
    enc = pq_encode(res, books, keep_cols=("cell",))
    enc.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/codes")
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cid int, c array<double>"
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    book_rows = [
        (s, code, books[s][code]) for s in range(m) for code in range(n_codes)
    ]
    spark.createDataFrame(
        book_rows, "s int, code int, c array<double>"
    ).write.mode("overwrite").parquet(f"{path}/codebooks")
    return cents, books


def ivfpq_query(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Top-k over a materialized IVFADC index: codebooks are a driver
    read (k×dim + m×n_codes×sub floats), the probe cells prune the
    codes scan at the PARTITION level, and ranking is per-cell
    residual ADC over the m-int code rows — the full IVFADC promise
    from storage: read n_probe/n_cells of a codes table that is
    already ~dim·4/m× smaller than the vectors."""
    cents_rows = spark.read.parquet(f"{path}/centroids").collect()
    cents = {r["cid"]: [float(v) for v in r["c"]] for r in cents_rows}
    book_rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r["s"] for r in book_rows)
    n_codes = 1 + max(r["code"] for r in book_rows)
    books: list[list[list[float]]] = [[None] * n_codes for _ in range(m)]
    for r in book_rows:
        books[r["s"]][r["code"]] = [float(v) for v in r["c"]]
    qv = [float(v) for v in query_vec]

    def _d(c):
        acc = 0.0
        for a, b in zip(qv, c):
            acc += (a - b) * (a - b)
        return acc

    probe_cells = sorted(cents, key=lambda cid: (_d(cents[cid]), cid))[:n_probe]

    codes = spark.read.parquet(f"{path}/codes").filter(F.col("cell").isin(probe_cells))
    if exclude_vec_id is not None:
        codes = codes.filter(F.col("vec_id") != exclude_vec_id)
    adc = None
    for cell in probe_cells:
        qres = [qv[j] - cents[cell][j] for j in range(len(qv))]
        branch = _adc_expr(_adc_tables(qres, books))
        cond = F.col("cell") == cell
        adc = F.when(cond, branch) if adc is None else adc.when(cond, branch)
    return (
        codes.select("vec_id", F.col("cell").cast("int").alias("cell"), adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(k)
    )
