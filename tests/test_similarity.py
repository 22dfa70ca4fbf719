"""Similarity-search tiers: brute force is ground truth; LSH and IVF
must recall most of its top-k."""


def _truth_topk(spark, sf_dir, k=10):
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id = 0").select("embedding").collect()[0][0]
    return emb, list(q), [
        r["vec_id"] for r in cosine_topk(emb, list(q), k=k).collect()
    ]


def test_ivf_recall(spark, sf_dir):
    from dbqt_spark.operators.similarity import ivf_build, ivf_search

    emb, q, truth = _truth_topk(spark, sf_dir)
    assigned, centroids = ivf_build(emb, n_cells=8)
    assert assigned.select("cell").distinct().count() <= 8
    got = [
        r["vec_id"]
        for r in ivf_search(assigned, centroids, q, k=10, n_probes=8).collect()
    ]
    # probing ALL cells must equal brute force exactly
    assert got == truth


def test_ivf_partial_probe_returns_k(spark, sf_dir):
    from dbqt_spark.operators.similarity import ivf_build, ivf_search

    emb, q, truth = _truth_topk(spark, sf_dir)
    assigned, centroids = ivf_build(emb, n_cells=8)
    got = ivf_search(assigned, centroids, q, k=10, n_probes=3).collect()
    assert len(got) == 10
    # the query's own vector lives in a probed cell (its centroid is
    # nearest to itself) -> rank 1 with cosine ~1
    assert got[0]["vec_id"] == 0


def test_lsh_probe_contains_query_vector(spark, sf_dir):
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.similarity import lsh_bucketed_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id = 0").select("embedding").collect()[0][0]
    got = lsh_bucketed_topk(emb, list(q), k=5, n_planes=8, probe_hamming=2).collect()
    assert got and got[0]["vec_id"] == 0


# ---------------------------------------------------------------------------
# LSH-bucket blocking for embedding near-dup pairs / NN: a single hot
# label must NOT become one giant block (the label is only a semantic
# filter; the execution blocks are (label, band, bucket)).
# ---------------------------------------------------------------------------


def _hot_label_df(spark, n=300, dim=16, seed=7):
    import numpy as np

    rng = np.random.RandomState(seed)
    M = rng.standard_normal((n, dim))
    M[1] = M[0] + 0.05 * rng.standard_normal(dim)  # planted near-dup
    rows = [(i, "hot", [float(x) for x in M[i]]) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    return df, M


def _brute_pairs(M, thr):
    import numpy as np

    norms = np.sqrt((M * M).sum(axis=1))
    C = (M @ M.T) / np.outer(norms, norms)
    iu, ju = np.triu_indices(len(M), k=1)
    keep = np.round(C[iu, ju], 4) >= thr
    return {
        (int(a), int(b), float(c))
        for a, b, c in zip(iu[keep], ju[keep], np.round(C[iu, ju][keep], 4))
    }


def test_embedding_blocked_pairs_hot_label(spark):
    """One 300-row label: label-blocking would be a single quadratic
    block; LSH-bucket blocking keeps every block far smaller AND still
    finds exactly the brute-force pair set."""
    from dbqt_spark.operators.similarity import (
        _banded_rows,
        embedding_near_dup_pairs,
    )

    df, M = _hot_label_df(spark)
    got = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_near_dup_pairs(
            df, 0.8, key_cols=["label"], bands=32, bits_per_band=4, seed=1
        ).collect()
    }
    want = _brute_pairs(M, 0.8)
    assert (1, 0) not in {(a, b) for a, b, _ in got}  # ordered lo < hi
    assert got == want and (0, 1) in {(a, b) for a, b, _ in got}

    # block-size bound: the hot label (300 rows) splits into 2^4 buckets
    # per band — no block comes near the label size
    sizes = (
        _banded_rows(df, ["label"], 32, 4, 1, "embedding", "vec_id")
        .groupBy("label", "__band", "__bval")
        .count()
        .agg({"count": "max"})
        .collect()[0][0]
    )
    assert sizes <= 100, f"hot-label block not split: max block {sizes}"


def test_embedding_blocked_nn_hot_label(spark):
    """Blocked NN over one hot label equals brute-force exact NN."""
    import numpy as np

    from dbqt_spark.operators.similarity import embedding_blocked_nn

    df, M = _hot_label_df(spark)
    norms = np.sqrt((M * M).sum(axis=1))
    C = (M @ M.T) / np.outer(norms, norms)
    np.fill_diagonal(C, -np.inf)
    want = {
        i: (int(np.flatnonzero(C[i] == C[i].max()).min()), round(float(C[i].max()), 6))
        for i in range(len(M))
    }
    got = {
        r["vec_id"]: (r["nn_id"], round(r["cosine"], 6))
        for r in embedding_blocked_nn(
            df, key_cols=["label"], bands=48, bits_per_band=2, seed=1
        ).collect()
    }
    assert got == want


def test_ivf_sampled_fit_recall(spark, sf_dir):
    """Force the bounded-sample training branch (max_train_rows below the
    dataset size): centroids come from a 100-row sample, yet probing ALL
    cells must still equal brute force (assignment is exact regardless of
    centroid quality)."""
    from dbqt_spark.operators.similarity import ivf_build, ivf_search

    emb, q, truth = _truth_topk(spark, sf_dir)
    assert emb.count() > 100
    assigned, centroids = ivf_build(emb, n_cells=8, max_train_rows=100)
    assert len(centroids) == 8
    got = [
        r["vec_id"]
        for r in ivf_search(assigned, centroids, q, k=10, n_probes=8).collect()
    ]
    assert got == truth


def test_pruned_probe_recall_bounds(spark, sf_dir):
    """Recorded recall guarantees for the two rows-only ANN queries
    (ivf_topk, lsh_topk), at their exact query parameterizations,
    averaged over 8 query vectors against the bit-for-bit-oracled
    brute-force truth.

    Context for the bounds: the synthetic embeddings are near-isotropic
    — the ANN WORST case, where recall ~ fraction scanned is forced (no
    cluster structure to exploit). The shipped parameterizations buy
    recall with the classical structures: IVF stores each vector in its
    2 nearest cells (multi-assignment replication) and probes 5/8; LSH
    unions candidates over 16 independent 12-bit tables at Hamming
    radius 3. Measured means: IVF 0.97-0.99, LSH 0.99-1.0 at
    sf0.001/sf0.1 — the floors assert >= 0.9 with margin. Clustered
    real-world embeddings reach the same recall scanning far less; the
    full-probe twins (ivf_full_probe, lsh_full_probe) are the exactness
    anchors."""
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.similarity import (
        cosine_topk,
        ivf_build,
        ivf_search,
        lsh_bucketed_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings").persist()
    assigned, centroids = ivf_build(emb, n_cells=8, n_assign=2)
    assigned = assigned.persist()
    ivf_r, lsh_r = [], []
    for qid in range(8):
        q = list(
            emb.filter(f"vec_id = {qid}").select("embedding").collect()[0][0]
        )
        truth = {r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()}
        got_ivf = {
            r["vec_id"]
            for r in ivf_search(
                assigned, centroids, q, k=10, n_probes=5
            ).collect()
        }
        got_lsh = {
            r["vec_id"]
            for r in lsh_bucketed_topk(
                emb, q, k=10, n_planes=12, probe_hamming=3, n_tables=16
            ).collect()
        }
        ivf_r.append(len(truth & got_ivf) / 10)
        lsh_r.append(len(truth & got_lsh) / 10)
    emb.unpersist()
    assigned.unpersist()
    mean_ivf = sum(ivf_r) / len(ivf_r)
    mean_lsh = sum(lsh_r) / len(lsh_r)
    assert mean_ivf >= 0.9, f"ivf recall@10 {mean_ivf}"
    assert mean_lsh >= 0.9, f"lsh recall@10 {mean_lsh}"


def test_auto_bits_per_band():
    """Bucket width caps EXPECTED block size at the target per band."""
    from dbqt_spark.operators.similarity import auto_bits_per_band

    assert auto_bits_per_band(1000, 1000) == 1          # floor
    assert auto_bits_per_band(4000, 1000) == 2          # n/2^2 == target
    assert auto_bits_per_band(1_000_000, 1000) == 10    # n/2^10 ~ target
    assert auto_bits_per_band(0, 1000) == 1             # degenerate


def test_embedding_nn_block_cap_drops_and_accounts(spark):
    """Identical vectors collide in EVERY bucket of every band; with a
    cap below the corpus size all blocks are dropped, no NN rows emerge,
    and the drop counts are recorded (observability contract)."""
    from dbqt_spark.operators.similarity import embedding_blocked_nn

    rows = [(i, "x", [1.0, 2.0, 3.0, 4.0]) for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    stats: dict = {}
    out = embedding_blocked_nn(
        df, key_cols=["label"], bands=8, bits_per_band=2, seed=1,
        max_block_size=10, drop_stats=stats,
    )
    assert out.count() == 0
    assert stats["n_dropped_buckets"] == 8      # one hot bucket per band
    assert stats["n_dropped_rows"] == 8 * 40

    # generous cap: guard must not change the result, stats report zero
    stats2: dict = {}
    df2, M = _hot_label_df(spark, n=60)
    guarded = embedding_blocked_nn(
        df2, key_cols=["label"], bands=48, bits_per_band=2, seed=1,
        max_block_size=10_000, drop_stats=stats2,
    )
    bare = embedding_blocked_nn(
        df2, key_cols=["label"], bands=48, bits_per_band=2, seed=1
    )
    assert stats2 == {"n_dropped_buckets": 0, "n_dropped_rows": 0}
    key = lambda r: (r["vec_id"], r["nn_id"], round(r["cosine"], 6))
    assert sorted(map(key, guarded.collect())) == sorted(map(key, bare.collect()))


def test_embedding_auto_bits_resolves_from_corpus(spark):
    """bits_per_band=None derives the bucket width from df.count()."""
    from dbqt_spark.operators.similarity import embedding_near_dup_pairs

    df, M = _hot_label_df(spark, n=64)
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, 0.8, key_cols=["label"], bands=32, bits_per_band=None,
            seed=1,
        ).collect()
    }
    want = {(a, b) for a, b, _ in _brute_pairs(M, 0.8)}
    assert got == want and (0, 1) in got


def _cached_rdd_ids(spark):
    return {
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def test_embedding_cap_localizes_result_releases_banded(
    spark, no_new_pinned_rdds
):
    """With max_block_size set the operator materializes eagerly: the
    (small) pair set localizes, drop_stats is already filled (no action
    needed), and NO cached blocks survive the call — the r5 regression
    was the banding UDF re-running ~3x without a persist, the r5 leak
    was the persist without a release handle."""
    from dbqt_spark.operators.cache import released
    from dbqt_spark.operators.similarity import embedding_near_dup_pairs

    df, M = _hot_label_df(spark, n=60)
    before = _cached_rdd_ids(spark)
    stats: dict = {}
    pairs = embedding_near_dup_pairs(
        df, 0.8, key_cols=["label"], bands=16, bits_per_band=2, seed=1,
        max_block_size=10_000, drop_stats=stats,
    )
    # eager: stats available before any caller action; nothing cached
    assert stats == {"n_dropped_buckets": 0, "n_dropped_rows": 0}
    assert _cached_rdd_ids(spark) - before == set()
    assert no_new_pinned_rdds() == 0
    with released(pairs) as pairs:
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert _cached_rdd_ids(spark) - before == set()
    assert got == {(a, b) for a, b, _ in _brute_pairs(M, 0.8)}


def test_embedding_nn_cap_persists_result(spark, no_new_pinned_rdds):
    """embedding_blocked_nn's result is corpus-sized (one row per
    vector), so the cap path returns it persisted with the banded
    intermediate released — the caller frees it via released()."""
    from dbqt_spark.operators.cache import released
    from dbqt_spark.operators.similarity import embedding_blocked_nn

    df, _ = _hot_label_df(spark, n=40)
    before = _cached_rdd_ids(spark)
    nn = embedding_blocked_nn(
        df, key_cols=["label"], bands=16, bits_per_band=2, seed=1,
        max_block_size=10_000,
    )
    assert nn.is_cached
    assert len(_cached_rdd_ids(spark) - before) == 1
    assert no_new_pinned_rdds() == 1
    with released(nn) as nn:
        assert nn.count() == 40
    assert _cached_rdd_ids(spark) - before == set()


def test_embedding_no_cap_stays_lazy(spark):
    """Without max_block_size nothing is persisted — the plan is lazy."""
    from dbqt_spark.operators.similarity import embedding_near_dup_pairs

    df, _ = _hot_label_df(spark, n=20)
    pairs = embedding_near_dup_pairs(
        df, 0.8, key_cols=["label"], bands=8, bits_per_band=2, seed=1
    )
    assert not pairs.is_cached


def test_ivf_build_empty_and_tiny_input(spark):
    """Empty input raises a clear error instead of a numpy IndexError
    deep in _kmeans_fit; fewer points than cells clamps k (ADVICE r5)."""
    import pytest as _pytest

    from dbqt_spark.operators.similarity import ivf_build

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="empty input"):
        ivf_build(empty, n_cells=4)

    tiny = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    assigned, centroids = ivf_build(tiny, n_cells=8, max_iter=2)
    assert len(centroids) == 2
    assert assigned.count() == 2


def test_embedding_localize_fallback_persists(spark, no_new_pinned_rdds):
    """Pair sets beyond the broadcast limit stay cluster-side: the
    returned frame is persisted — the only thing left pinned — and the
    caller releases it."""
    from dbqt_spark.operators import dedup as dd
    from dbqt_spark.operators.cache import released
    from dbqt_spark.operators.similarity import embedding_near_dup_pairs

    df, _ = _hot_label_df(spark, n=30)
    orig = dd.BROADCAST_PAIR_LIMIT
    dd.BROADCAST_PAIR_LIMIT = 1  # force the fallback
    try:
        pairs = embedding_near_dup_pairs(
            df, 0.2, key_cols=["label"], bands=16, bits_per_band=2, seed=1,
            max_block_size=10_000,
        )
        assert pairs.is_cached
        assert no_new_pinned_rdds() == 1
        with released(pairs):
            assert pairs.count() > 1
    finally:
        dd.BROADCAST_PAIR_LIMIT = orig


# --- distributed Lloyd's k-means --------------------------------------------


def test_kmeans_assign_semantics(spark):
    """Two well-separated blobs, k=2: every point lands with its blob;
    deterministic init (lowest ids) and fixed iterations."""
    from dbqt_spark.operators.kmeans import cluster_sizes, kmeans_assign

    rows = [(i, [10.0 + (i % 3) * 0.1, 0.0]) for i in range(10)] + [
        (100 + i, [-10.0 - (i % 3) * 0.1, 1.0]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["cluster"] for r in kmeans_assign(df, k=2, iters=3).collect()}
    blob_a = {out[i] for i in range(10)}
    blob_b = {out[100 + i] for i in range(10)}
    assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b
    sizes = cluster_sizes(kmeans_assign(df, k=2, iters=3)).collect()
    assert sorted(r["n_vecs"] for r in sizes) == [10, 10]


def test_kmeans_large_k_arrow_arm_matches_expression(spark, sf_dir):
    """VERDICT r10 ask #2: above ARROW_ASSIGN_KDIM the per-row
    expression array (a codegen bomb at SemDeDup-scale k) swaps for
    the Arrow matmul kernel. Both arms must produce the SAME
    assignments and (rounded) distances, and auto mode must route
    large k to Arrow without any Python appearing in the small-k
    oracled plan."""
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.kmeans import (
        ARROW_ASSIGN_KDIM,
        _use_arrow_assign,
        kmeans_assign,
    )
    from dbqt_spark.plans import formatted_plan

    import pytest as _pytest

    emb = load_table(spark, sf_dir, "embeddings")  # 500 x dim 64
    # k=64, dim=64 -> k*dim=4096 > bound: auto routes to Arrow
    assert _use_arrow_assign([[0.0] * 64] * 64, "auto") is True
    assert _use_arrow_assign([[0.0] * 64] * 8, "auto") is False
    with _pytest.raises(ValueError, match="assign_mode"):
        kmeans_assign(emb, k=2, assign_mode="numpy")

    a = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_assign(
            emb, k=64, iters=2, assign_mode="expr"
        ).collect()
    }
    b = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_assign(
            emb, k=64, iters=2, assign_mode="arrow"
        ).collect()
    }
    assert {k: v[0] for k, v in a.items()} == {
        k: v[0] for k, v in b.items()
    }
    # distances agree to well past the rounded precision (BLAS
    # expansion vs left-fold differ in the last ulp pre-round)
    assert all(
        abs(a[k][1] - b[k][1]) < 1e-6 for k in a
    )
    # the auto large-k plan is the Arrow one; the small-k oracled
    # plan keeps the pure-codegen expression (no Python in plan)
    big = kmeans_assign(emb, k=64, iters=0)
    assert "ArrowEvalPython" in formatted_plan(big)
    small = kmeans_assign(emb, k=4, iters=0)
    assert "ArrowEvalPython" not in formatted_plan(small)


def test_kmeans_assign_edges(spark):
    import pytest as _pytest

    from dbqt_spark.operators.kmeans import kmeans_assign

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.1, 2.1])],
        "vec_id long, embedding array<float>",
    )
    # k > n: effective k shrinks to n, everything still assigned
    out = kmeans_assign(df, k=5, iters=1).collect()
    assert len(out) == 2
    # iters=0 assigns against the init centers directly
    out0 = {r["vec_id"]: r for r in kmeans_assign(df, k=2, iters=0).collect()}
    assert out0[1]["cluster"] == 0 and out0[1]["dist"] == 0.0
    assert out0[2]["cluster"] == 1 and out0[2]["dist"] == 0.0
    with _pytest.raises(ValueError, match="k must be"):
        kmeans_assign(df, k=0)
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="non-empty"):
        kmeans_assign(empty, k=2)


def test_kmeans_assignment_plan_is_narrow(spark, sf_dir):
    """The assignment step must be a pure narrow map: centers are plan
    literals, no shuffle Exchange, no Python (ArrowEval/BatchEval)
    anywhere in the final assignment plan."""
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.kmeans import kmeans_assign
    from dbqt_spark.plans import formatted_plan

    emb = load_table(spark, sf_dir, "embeddings")
    plan = formatted_plan(kmeans_assign(emb, k=4, iters=1))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree
    assert "ArrowEval" not in plan and "BatchEval" not in plan


# --- chunking + quantization -------------------------------------------------


def test_chunk_documents_semantics(spark):
    from dbqt_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),
            (2, "a b"),
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc1: 10 tokens, stride 3 -> chunks at 0,3,6 (the window reaching
    # n ends the list; no chunk fully inside its predecessor)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["start_token"] for r in c1] == [0, 3, 6]
    assert c1[0]["text"] == "t0 t1 t2 t3"
    assert c1[-1]["text"] == "t6 t7 t8 t9" and c1[-1]["n_tokens"] == 4
    # every token appears in some chunk; adjacent chunks share overlap
    assert c1[0]["text"].split()[-1] == c1[1]["text"].split()[0]
    assert by_doc[2][0]["text"] == "a b" and by_doc[2][0]["n_tokens"] == 2
    assert 3 not in by_doc and 4 not in by_doc  # empty/NULL -> no chunks

    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=4, overlap=4)
    with _pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(df, chunk_tokens=0)


def test_chunk_documents_no_shuffle(spark, sf_dir):
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.chunking import chunk_documents
    from dbqt_spark.plans import formatted_plan

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(chunk_documents(docs))
    assert "Exchange" not in plan.split("\n\n")[0]


def test_quantize_embeddings_roundtrip_bound(spark, sf_dir):
    """Codes stay in [0, 255]; the per-row max reconstruction error is
    bounded by half a quantization step of the widest dimension; and
    cosine top-k over dequantized vectors matches the float top-1 for
    most queries (the ANN-usability check)."""
    from pyspark.sql import functions as F

    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.chunking import quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings").limit(200).cache()
    q = quantize_embeddings(emb).cache()
    rows = q.collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert all(0 <= c <= 255 for c in r["qvec"])
    stats = (
        emb.select(F.posexplode("embedding").alias("d", "v"))
        .groupBy("d")
        .agg((F.max("v") - F.min("v")).alias("rng"))
        .collect()
    )
    half_step = max(r["rng"] for r in stats) / 255 / 2
    assert max(r["max_abs_err"] for r in rows) <= half_step + 1e-9
    emb.unpersist()
    q.unpersist()


def test_semantic_near_dup_pairs(spark):
    """SemDeDup: near-identical vectors in the same cell pair up;
    an oversized cell is excluded observably, never paired."""
    from dbqt_spark.operators.kmeans import semantic_near_dup_pairs

    rows = (
        # blob A: three near-identical vectors (pairwise cosine ~1)
        [(1, [1.0, 0.01]), (2, [1.0, 0.012]), (3, [0.99, 0.011])]
        # blob B: two near-identical, far from A
        + [(10, [-1.0, 0.5]), (11, [-0.99, 0.5])]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in semantic_near_dup_pairs(
            df, threshold=0.99, k=2, iters=2
        ).collect()
    }
    assert pairs == {(1, 2), (1, 3), (2, 3), (10, 11)}

    # cap: with max_cluster_size=2 the 3-vector cell is dropped whole
    stats: dict = {}
    capped = semantic_near_dup_pairs(
        df, threshold=0.99, k=2, iters=2, max_cluster_size=2,
        drop_stats=stats,
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(10, 11)}
    assert stats["n_dropped_clusters"] == 1
    assert stats["n_dropped_rows"] == 3


def test_filtered_ann_probes(spark, tmp_path):
    """where/allowed restrict candidates before scoring in both ANN
    paths; every returned id satisfies the filter, and the full probe
    under a filter equals brute force among the allowed set."""
    import random

    from pyspark.sql import functions as F

    from dbqt_spark.operators.similarity import (
        cosine_topk,
        ivf_build,
        ivf_search,
        lsh_topk_from_index,
        lsh_write,
    )

    random.seed(3)
    rows = [
        (i, [random.gauss(0, 1) for _ in range(8)], i % 3)
        for i in range(300)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    q = rows[0][1]
    allowed = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id")

    # IVF full probe + allowed == brute force among allowed
    assigned, centroids = ivf_build(emb, n_cells=4)
    got = [
        r["vec_id"]
        for r in ivf_search(
            assigned, centroids, q, k=5, n_probes=4, allowed=allowed
        ).collect()
    ]
    want = [
        r["vec_id"]
        for r in cosine_topk(
            emb.filter(F.col("vec_id") % 2 == 0), q, k=5
        ).collect()
    ]
    assert got == want
    # `where` on a carried column: only label-1 ids come back
    # `assigned` carries the input's columns, label included
    got_w = ivf_search(
        assigned, centroids, q, k=5, n_probes=4, where="label = 1",
    ).collect()
    assert got_w and all(r["vec_id"] % 3 == 1 for r in got_w)

    # LSH index probe honors `allowed` (pruned probe: subset contract)
    path = str(tmp_path / "lshidx")
    lsh_write(emb.select("vec_id", "embedding"), path, n_planes=8, seed=7)
    got_l = lsh_topk_from_index(
        spark, path, q, k=5, probe_hamming=8, allowed=allowed
    ).collect()
    assert [r["vec_id"] for r in got_l] == want


def test_filtered_pruned_probe_recall_floor(spark, sf_dir):
    """Filtered ANN under a PRUNED probe: with a 50% id filter the
    probed cells still deliver >= 0.9 mean recall@10 against the
    filtered brute-force truth at the shipped IVF parameterization —
    the filter drops candidates uniformly (it is independent of cell
    geometry), so recall tracks the unfiltered bound."""
    from pyspark.sql import functions as F

    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.similarity import (
        cosine_topk,
        ivf_build,
        ivf_search,
    )

    emb = load_table(spark, sf_dir, "embeddings").persist()
    allowed = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    assigned, centroids = ivf_build(emb, n_cells=8, n_assign=2)
    assigned = assigned.persist()
    recalls = []
    for qid in range(6):
        q = list(
            emb.filter(f"vec_id = {qid}").select("embedding").collect()[0][0]
        )
        truth = {
            r["vec_id"]
            for r in cosine_topk(
                emb.filter(F.col("vec_id") % 2 == 0), q, k=10
            ).collect()
        }
        got = {
            r["vec_id"]
            for r in ivf_search(
                assigned, centroids, q, k=10, n_probes=5, allowed=allowed
            ).collect()
        }
        assert all(v % 2 == 0 for v in got)
        recalls.append(len(got & truth) / 10)
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.9, recalls
    emb.unpersist()
    assigned.unpersist()


def test_ivf_knn_join_full_probe_exact_and_pruned_subset(spark):
    import random

    from pyspark.sql import functions as F

    from dbqt_spark.operators.similarity import (
        cosine_topk,
        ivf_build,
        ivf_knn_join,
    )

    random.seed(9)
    rows = [
        (i, [random.gauss(0, 1) for _ in range(8)]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    assigned, centroids = ivf_build(emb, n_cells=4)
    qs = emb.filter(F.col("vec_id") < 5)
    full = ivf_knn_join(qs, assigned, centroids, k=3, n_probes=4).collect()
    by_q: dict = {}
    for r in full:
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    # full probe == per-query brute force (incl. the query row itself)
    for qid in range(5):
        want = [
            r["vec_id"]
            for r in cosine_topk(emb, rows[qid][1], k=3).collect()
        ]
        assert by_q[qid] == want
    # pruned probe returns a ranked subset with correct rank ordering
    pruned = ivf_knn_join(qs, assigned, centroids, k=3, n_probes=1).collect()
    for r in pruned:
        assert 1 <= r["rank"] <= 3
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        ivf_knn_join(qs, assigned, centroids, k=0)


def test_ivf_knn_join_multi_assign_dedupes_replicas(spark):
    import random

    from pyspark.sql import functions as F

    from dbqt_spark.operators.similarity import ivf_build, ivf_knn_join

    random.seed(4)
    emb = spark.createDataFrame(
        [(i, [random.gauss(0, 1) for _ in range(6)]) for i in range(80)],
        ["vec_id", "embedding"],
    )
    assigned, centroids = ivf_build(emb, n_cells=4, n_assign=2)
    out = ivf_knn_join(
        emb.filter(F.col("vec_id") < 3), assigned, centroids,
        k=10, n_probes=4,
    ).collect()
    seen = {}
    for r in out:
        key = (r["query_id"], r["vec_id"])
        assert key not in seen  # replicas never rank twice
        seen[key] = True


def test_ivf_knn_join_zero_norm_cosine_is_null_and_sorts_last(spark):
    """Pins the r15 zero-norm edge (VERDICT r15 #9, ratified): a
    zero-norm vector's 0/0 cosine is NULL (Arrow NaN -> SQL NULL),
    sorts LAST under the desc rank ordering, and never passes a
    ``min_cosine`` threshold. (Pre-r15 it was JVM NaN, which sorts
    FIRST desc and could occupy top-k slots.) Unreachable from
    ``ivf_write`` stores — their vectors are dimension-checked floats
    — but the public API accepts raw frames."""
    from pyspark.sql import functions as F

    from dbqt_spark.operators.similarity import ivf_build, ivf_knn_join

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 0.0, 0.0]),  # zero-norm corpus vector
            (3, [0.0, 1.0, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    assigned, centroids = ivf_build(emb, n_cells=1)
    qs = emb.filter(F.col("vec_id") == 0)
    out = ivf_knn_join(qs, assigned, centroids, k=4, n_probes=1).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert by_id[2]["cosine"] is None  # 0/0 -> NULL, not NaN
    # NULL sorts last: the zero-norm row takes the final rank
    assert by_id[2]["rank"] == max(r["rank"] for r in out)
    # and never passes a threshold filter
    thr = ivf_knn_join(
        qs, assigned, centroids, k=4, n_probes=1, min_cosine=-1.0
    ).collect()
    assert all(r["vec_id"] != 2 for r in thr)


def test_ivf_knn_join_preserves_string_id_types(spark):
    """ADVICE r15 (medium): the cogroup kernel's output schema derives
    from the caller's id dtypes — string ids round-trip instead of
    failing an int64 cast."""
    from pyspark.sql import functions as F

    from dbqt_spark.operators.similarity import ivf_build, ivf_knn_join

    emb = spark.createDataFrame(
        [
            ("a", [1.0, 0.0]),
            ("b", [0.8, 0.2]),
            ("c", [0.0, 1.0]),
            ("d", [0.1, 0.9]),
        ],
        ["vec_id", "embedding"],
    )
    assigned, centroids = ivf_build(emb, n_cells=2)
    out = ivf_knn_join(
        emb.filter(F.col("vec_id") == "a"), assigned, centroids,
        k=2, n_probes=2,
    )
    assert dict(out.dtypes)["query_id"] == "string"
    assert dict(out.dtypes)["vec_id"] == "string"
    rows = out.collect()
    assert rows[0]["query_id"] == "a"
    assert rows[0]["vec_id"] == "a" and rows[0]["rank"] == 1


def test_cosine_pairs_exact_matches_brute_force(spark):
    """Blocked exact all-pairs == numpy brute force, with multi-block
    splitting forced (n_blocks=4) so the off-diagonal slab path runs;
    pair orientation id_a < id_b; compare on the rounded cosine the
    same way the operator filters."""
    import random

    import numpy as np

    from dbqt_spark.operators.similarity import cosine_pairs_exact

    random.seed(11)
    rows = [
        (i, [random.gauss(0, 1) for _ in range(8)]) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    M = np.array(
        [np.array(v, dtype=np.float32) for _, v in rows], dtype=np.float64
    )
    norms = np.sqrt((M * M).sum(axis=1))
    C = (M @ M.T) / np.outer(norms, norms)
    iu, ju = np.triu_indices(len(rows), k=1)
    rounded = np.round(C[iu, ju], 4)
    keep = rounded >= 0.5
    truth = {
        (int(iu[t]), int(ju[t])): float(rounded[t])
        for t in np.flatnonzero(keep)
    }
    assert truth  # the threshold must actually select something

    for n_blocks in (1, 4):
        got = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in cosine_pairs_exact(
                df, threshold=0.5, n_blocks=n_blocks
            ).collect()
        }
        assert set(got) == set(truth), n_blocks
        for k in truth:
            assert abs(got[k] - truth[k]) < 1e-9
        assert all(a < b for a, b in got)


def test_cosine_pairs_exact_edge_inputs(spark):
    """Empty and single-row inputs return an empty, correctly-typed
    frame; auto n_blocks derives from block_size."""
    from dbqt_spark.operators.similarity import cosine_pairs_exact

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    out = cosine_pairs_exact(empty, threshold=0.9)
    assert out.columns == ["id_a", "id_b", "cosine"]
    assert out.count() == 0

    one = spark.createDataFrame(
        [(7, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    assert cosine_pairs_exact(one, threshold=-1.0).count() == 0

    # two identical vectors pair at cosine 1.0 regardless of blocking
    two = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [2.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    got = cosine_pairs_exact(two, threshold=0.99, block_size=1).collect()
    assert [(r["id_a"], r["id_b"], r["cosine"]) for r in got] == [
        (1, 2, 1.0)
    ]


def test_nearest_centroid_assign_semantics(spark):
    """Vectors tag to the label whose centroid they point along;
    cosine argmax, deterministic label-asc tie-break."""
    from dbqt_spark.operators.similarity import (
        label_centroids,
        nearest_centroid_assign,
    )

    seed = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0),
            (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    cents = label_centroids(seed)
    rest = spark.createDataFrame(
        [(10, [5.0, 0.2]), (11, [0.2, 5.0]), (12, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r
        for r in nearest_centroid_assign(rest, cents).collect()
    }
    assert got[10]["label"] == 0
    assert got[11]["label"] == 1
    assert all(0.0 < r["cosine"] <= 1.0 for r in got.values())
    # each vector gets exactly one row
    assert set(got) == {10, 11, 12}


def test_nearest_centroid_assign_large_k_arrow_matches_join(spark, sf_dir):
    """VERDICT r11 ask #1: above ARROW_ASSIGN_KDIM (labels x dims) the
    dim-keyed join arm (an n*dim*n_labels intermediate) swaps for the
    Arrow matmul kernel. Both arms must agree on every label and on
    cosine to past the rounded precision; auto routes large label
    counts to Arrow while the small oracled plan stays join/codegen."""
    import pytest as _pytest

    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.similarity import (
        label_centroids,
        nearest_centroid_assign,
    )
    from dbqt_spark.plans import formatted_plan
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")  # 500 x dim 64
    # odd modulus: even vec_ids still hit ALL 63 residues ->
    # 63 labels x 64 dims = 4032 > ARROW_ASSIGN_KDIM -> auto is Arrow
    seed = emb.filter(F.col("vec_id") % 2 == 0).withColumn(
        "label", (F.col("vec_id") % 63).cast("int")
    )
    cents = label_centroids(seed)
    rest = emb.filter(F.col("vec_id") % 2 == 1)

    with _pytest.raises(ValueError, match="assign_mode"):
        nearest_centroid_assign(rest, cents, assign_mode="numpy")

    a = {
        r["vec_id"]: (r["label"], r["cosine"])
        for r in nearest_centroid_assign(
            rest, cents, assign_mode="join"
        ).collect()
    }
    b = {
        r["vec_id"]: (r["label"], r["cosine"])
        for r in nearest_centroid_assign(
            rest, cents, assign_mode="arrow"
        ).collect()
    }
    assert set(a) == set(b) and len(a) > 0
    assert {k: v[0] for k, v in a.items()} == {
        k: v[0] for k, v in b.items()
    }
    # cosines agree to well past the rounded precision (float64 BLAS
    # vs decimal-exact sums differ in the last ulp pre-round)
    assert all(abs(a[k][1] - b[k][1]) < 1e-6 for k in a)

    # auto routing: large label count -> Arrow plan; small (the
    # oracled centroid_assign shape) -> join arm, no Python in plan
    big = nearest_centroid_assign(rest, cents)
    assert "ArrowEvalPython" in formatted_plan(big)
    small_cents = label_centroids(
        emb.filter(F.col("vec_id") % 2 == 0).withColumn(
            "label", (F.col("vec_id") % 4).cast("int")
        )
    )
    small = nearest_centroid_assign(rest, small_cents)
    assert "ArrowEvalPython" not in formatted_plan(small)


def test_nearest_centroid_assign_zero_norm_arms_agree(spark):
    """r12 ADVICE: a zero-norm centroid must never win the argmax in
    EITHER arm (the join arm's decimal divide NULLs it; the Arrow arm
    pins its column to -inf pre-argmax), and a zero-norm vector
    returns the first-ascending label with NULL cosine in both."""
    from dbqt_spark.operators.similarity import nearest_centroid_assign

    cents = spark.createDataFrame(
        [(0, 0, 1.0), (0, 1, 0.0), (1, 0, 0.0), (1, 1, 0.0)],
        "label int, dim long, centroid double",
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    for mode in ("join", "arrow"):
        got = {
            r["vec_id"]: (r["label"], r["cosine"])
            for r in nearest_centroid_assign(
                vecs, cents, assign_mode=mode
            ).collect()
        }
        assert got[1] == (0, 1.0), (mode, got)
        # zero-norm vector: label-ascending first, cosine NULL
        assert got[2][0] == 0 and got[2][1] is None, (mode, got)


def test_kmeans_kmeanspar_init_quality_and_determinism(spark):
    """VERDICT r11 ask #6: fixed-seed k-means|| init. On a blob
    fixture built so lowest-id init starts EVERY center inside one
    blob (its pathological case), k-means|| must reach strictly
    better inertia after the same Lloyd's iterations, stay exactly
    reproducible for a given seed, and leave the default arm (the
    oracled one) untouched."""
    import pytest as _pytest

    from dbqt_spark.operators.kmeans import kmeans_assign

    # 4 well-separated blobs of 12; ids 0..11 ALL in blob 0, so
    # init="lowest" with k=4 picks 4 centers from one blob
    rows = []
    centers = [(0.0, 0.0), (40.0, 0.0), (0.0, 40.0), (40.0, 40.0)]
    vid = 0
    for b, (cx, cy) in enumerate(centers):
        for j in range(12):
            rows.append(
                (vid, [cx + (j % 4) * 0.5, cy + (j // 4) * 0.5])
            )
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def inertia(out):
        return sum(r["dist"] for r in out.collect())

    base = inertia(kmeans_assign(df, k=4, iters=2))
    par = inertia(kmeans_assign(df, k=4, iters=2, init="kmeanspar"))
    assert par < base

    # determinism: same seed -> identical assignments and dists
    a = sorted(
        tuple(r)
        for r in kmeans_assign(
            df, k=4, iters=2, init="kmeanspar", seed=7
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in kmeans_assign(
            df, k=4, iters=2, init="kmeanspar", seed=7
        ).collect()
    )
    assert a == b
    # k-means|| finds all four blobs
    got = kmeans_assign(df, k=4, iters=2, init="kmeanspar").collect()
    by_blob = {}
    for r in got:
        by_blob.setdefault(r["vec_id"] // 12, set()).add(r["cluster"])
    assert all(len(s) == 1 for s in by_blob.values())
    assert len({next(iter(s)) for s in by_blob.values()}) == 4

    with _pytest.raises(ValueError, match="init must be"):
        kmeans_assign(df, k=4, init="random")
