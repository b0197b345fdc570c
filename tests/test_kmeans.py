"""Lloyd's k-means (operators/kmeans.py): recovery of planted
clusters, the empty-cluster rule, and plan shape (broadcast centroids,
no shuffle of the vector side in the assignment)."""

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _planted(spark):
    """12 vectors in 3 tight planted clusters around orthogonal
    anchors; vec_ids interleaved so init picks one point per cluster
    is NOT given — convergence has to do the work."""
    anchors = [[10.0, 0.0, 0.0, 0.0], [0.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 0.0]]
    rows = []
    vid = 0
    for rep in range(4):
        for a_i, a in enumerate(anchors):
            jitter = 0.01 * (rep + 1)
            rows.append((vid, [v + (jitter if j == 3 else 0.0) for j, v in enumerate(a)]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.mark.spark
def test_kmeans_recovers_planted_clusters(spark):
    from mhtml_to_html_spark.operators.kmeans import _assign, kmeans_fit

    df = _planted(spark)
    fitted = kmeans_fit(df, k=3, n_iter=3)
    rows = fitted.collect()
    assert len(rows) == 3 * 4  # k x dim
    sizes = {r["cid"]: r["size"] for r in rows}
    assert sorted(sizes.values()) == [4, 4, 4]
    # each centroid sits on one anchor axis (value ~10 in exactly one
    # of the first three dims)
    by_cid = {}
    for r in rows:
        by_cid.setdefault(r["cid"], [0.0] * 4)[r["pos"]] = r["val"]
    for c in by_cid.values():
        big = [j for j in range(3) if abs(c[j] - 10.0) < 0.5]
        assert len(big) == 1, c
    # assignment routes every vector to the centroid of its planted anchor
    centroids = [by_cid[c] for c in sorted(by_cid)]
    pred = {r["vec_id"]: r["cid"] for r in _assign(df, centroids).collect()}
    assert len({pred[v] for v in (0, 3, 6, 9)}) == 1  # same planted cluster
    assert len({pred[0], pred[1], pred[2]}) == 3  # different clusters apart


@pytest.mark.spark
def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    from mhtml_to_html_spark.operators.kmeans import kmeans_fit

    # two far points, k=3: at least one cluster gets no members and
    # must keep its init centroid (not NaN, not dropped)
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.001, 0.0]), (2, [100.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = kmeans_fit(df, k=3, n_iter=2).collect()
    assert len(rows) == 6
    sizes = {r["cid"]: r["size"] for r in rows}
    assert sum(sizes.values()) == 3
    vals = [r["val"] for r in rows]
    assert all(v == v for v in vals)  # no NaN anywhere


@pytest.mark.spark
def test_kmeans_assignment_plan_is_narrow(spark):
    """Assignment against a driver-held centroid matrix must be one
    map-only projection: no join of any kind, no Exchange, no agg —
    the k distances are inlined array literals and the argmin is
    array_min over (dist, cid) structs."""
    from mhtml_to_html_spark.operators.kmeans import _assign

    from test_plans import plan_of

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(_assign(emb, [[0.0] * 64, [1.0] * 64]))
    for op in ("Join", "Exchange", "Aggregate", "CartesianProduct", "Window"):
        assert op not in plan, f"{op} in assignment plan"


@pytest.mark.spark
def test_ann_recall_panel(spark):
    """ann_recall: IVF with 4/16 probed cells must dominate the tiny
    single-bucket LSH on recall, every value in [0,1], full panel."""
    from mhtml_to_html_spark.operators.similarity import ann_recall

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = ann_recall(emb, query_ids=(0, 7), k=5).collect()
    assert len(rows) == 8  # 4 methods x 2 queries
    by_method = {}
    for r in rows:
        assert 0.0 <= r["recall"] <= 1.0
        by_method.setdefault(r["method"], []).append(r["recall"])
    assert set(by_method) == {"ivf", "lsh", "lsh_multiprobe", "pq"}
    assert sum(by_method["ivf"]) >= sum(by_method["lsh"])


@pytest.mark.spark
def test_ivf_trained_full_probe_equals_brute_force(spark):
    """Probing every trained cell must reproduce exact brute-force
    cosine top-k (the ANN is lossless when nothing is pruned)."""
    from mhtml_to_html_spark.operators.kmeans import ivf_topk_trained
    from mhtml_to_html_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    full = ivf_topk_trained(emb, 0, 10, n_cells=4, n_iter=2, n_probe=4)
    brute = cosine_topk(emb, 0, 10)
    got = [(r["vec_id"], r["cosine"]) for r in full.collect()]
    want = [(r["vec_id"], r["cosine"]) for r in brute.collect()]
    assert got == want


@pytest.mark.spark
def test_image_dedup_clusters_transitive(spark):
    """A chain a~b, b~c (a!~c directly) must land in ONE cluster with
    the lexicographically smallest member canonical."""
    from mhtml_to_html_spark.operators.similarity import image_dedup_clusters

    base = 0x1234_5678_9ABC_DEF0
    rows = [
        ("a", base),
        ("b", base ^ 0b111),          # 3 bits from a
        ("c", base ^ 0b111111),       # 6 bits from a, 3 from b
        ("z", ~base & ((1 << 63) - 1)),  # far from everything
    ]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {r["image_id"]: (r["cluster_id"], r["is_canonical"]) for r in
           image_dedup_clusters(df, max_distance=3).collect()}
    assert got["a"] == ("a", True)
    assert got["b"] == ("a", False)
    assert got["c"] == ("a", False)   # reachable only through b
    assert got["z"] == ("z", True)


@pytest.mark.spark
def test_kmeans_high_dim_flat_shape(spark):
    """dim-512 readiness (the restructured shapes are flat in dim):
    assignment is a narrow projection, the mean update aggregates
    posexploded (cid, pos) rows — never one agg column per dimension —
    and a full fit converges without plan blowup."""
    import numpy as np

    from mhtml_to_html_spark.operators.kmeans import kmeans_fit

    dim, n, k = 512, 96, 6
    rng = np.random.default_rng(7)
    rows = [
        (int(i), [round(float(v), 6) for v in rng.normal(i % k, 0.05, size=dim)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(4)
    out = kmeans_fit(df, k=k, n_iter=2)
    rows_out = out.collect()
    assert len(rows_out) == k * dim
    sizes = {r["cid"]: r["size"] for r in rows_out}
    assert sum(sizes.values()) == n
    # well-separated synthetic clusters: every centroid dimension lands
    # near its cluster's generating mean
    by_cid = {}
    for r in rows_out:
        by_cid.setdefault(r["cid"], []).append(r["val"])
    for cid, vals in by_cid.items():
        assert abs(np.mean(vals) - round(np.mean(vals))) < 0.2


@pytest.mark.spark
def test_lloyd_raises_on_k_exceeding_n(spark):
    from mhtml_to_html_spark.operators.kmeans import lloyd

    df = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="k=5 > n_vectors=2"):
        lloyd(df, k=5, n_iter=1)
