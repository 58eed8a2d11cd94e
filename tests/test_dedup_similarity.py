"""Unit tests for dedup and similarity operators on controlled data
(true positives included — the driver testdata has no exact dups)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(id=2, text="The quick  brown fox jumps over the lazy dog"),  # exact dup after normalize
        Row(id=3, text="the quick brown fox jumps over the lazy cat"),   # near dup
        Row(id=4, text="completely different content about spark engines"),
        Row(id=5, text="totally unrelated words here nothing shared at all"),
    ]
    return spark.createDataFrame(rows)


def test_exact_duplicates(docs):
    from ocr_inference_spark.dedup import exact_duplicates

    out = {r["id"]: r["group_size"] for r in exact_duplicates(docs, "id", "text").collect()}
    assert out == {1: 2, 2: 2}


def test_jaccard_pairs_finds_near_dup(docs):
    from ocr_inference_spark.dedup import jaccard_pairs

    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             jaccard_pairs(docs, "id", "text", k=5, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical after normalize
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_lsh_matches_exact(docs):
    from ocr_inference_spark.dedup import jaccard_pairs, minhash_lsh_pairs

    exact = sorted(tuple(r) for r in jaccard_pairs(docs, "id", "text", 5, 0.5).collect())
    lsh = sorted(tuple(r) for r in
                 minhash_lsh_pairs(docs, "id", "text", 5, n_perm=32, bands=32,
                                   threshold=0.5).collect())
    assert lsh == exact


def test_simhash_near_dup(docs):
    from ocr_inference_spark.dedup import simhash_pairs

    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_pairs(docs, "id", "text", max_hamming=16).collect()}
    assert pairs.get((1, 2)) == 0  # identical token multiset
    assert (1, 3) in pairs  # one word changed -> small hamming
    assert (4, 5) not in pairs


def test_lsh_topk_recall_and_plan(spark):
    """The LSH ANN path must (a) plan as a hash join — never a
    BroadcastNestedLoopJoin (an OR-of-bucket-equalities condition
    degenerates to an O(N*Q) pair scan) — and (b) recover the exact
    top-k at sf0.001 with the q28 parameters."""
    from pyspark.sql import functions as F

    from ocr_inference_spark.similarity import cosine_topk, lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = corpus.where(F.col("vec_id") < 5)
    approx = lsh_topk(corpus, queries, k=3, n_planes=3, n_tables=16, dim=64)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(corpus, queries, k=3).collect()}
    got = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(exact & got) / len(exact) >= 0.95


def test_embedding_near_dup_lsh_recall(spark):
    """LSH-blocked near-dup (q36 parameters) vs the exact all-pairs
    baseline (q35): every emitted pair is exact-verified (precision 1)
    and recall >= 0.9 at sf0.001."""
    from ocr_inference_spark.dedup import embedding_near_dup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.id_a, r.id_b) for r in
             embedding_near_dup(emb, "vec_id", "embedding", threshold=0.4).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           embedding_near_dup(emb, "vec_id", "embedding", threshold=0.4,
                              n_planes=3, n_tables=12).collect()}
    assert lsh <= exact
    if exact:
        assert len(lsh & exact) / len(exact) >= 0.9


def test_cosine_topk_exact(spark):
    from ocr_inference_spark.similarity import cosine_topk

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows)
    out = cosine_topk(df, df.where("vec_id = 0"), k=2).collect()
    ranked = sorted((r["rank"], r["neighbor_id"]) for r in out)
    assert ranked == [(1, 1), (2, 2)]  # closest first; ties by id


def test_dup_clusters_connected_components(spark):
    """Chain a-b, b-c plus isolated pair d-e: {a,b,c} -> min label a,
    {d,e} -> d. Nodes appear even when only on the id_b side."""
    from pyspark.sql import Row

    from ocr_inference_spark.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [Row(id_a=2, id_b=3), Row(id_a=1, id_b=2), Row(id_a=7, id_b=9)]
    )
    out = {r["id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_ivf_topk_recall_and_plan(spark):
    """The IVF ANN path must plan as a hash join on the cell key and
    recover the exact top-k at sf0.001 with the q40 parameters (16
    cells, nprobe 10 — the synthetic vectors are near-isotropic, so IVF
    must probe most cells; clustered real data probes far fewer)."""
    from pyspark.sql import functions as F

    from ocr_inference_spark.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = corpus.where(F.col("vec_id") < 5)
    approx = ivf_topk(corpus, queries, k=3, n_cells=16, nprobe=10)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(corpus, queries, k=3).collect()}
    got = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(exact & got) / len(exact) >= 0.9


def test_ivf_centroids_deterministic(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from ocr_inference_spark.similarity import train_ivf_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    c1 = train_ivf_centroids(corpus, n_cells=8)
    c2 = train_ivf_centroids(corpus, n_cells=8)
    assert np.array_equal(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_hot_shingle_guard(spark):
    """Stop-shingle skew guard: a shingle shared by every document is
    dropped before the self-join; true near-dup pairs survive on their
    informative shingles."""
    from pyspark.sql import functions as F

    from ocr_inference_spark.dedup import char_shingles, drop_hot_shingles, jaccard_pairs

    rows = [
        (1, "zebra quagga okapi COMMONCHUNK"),
        (2, "zebra quagga okapi COMMONCHUNK"),   # near-dup of 1
        (3, "entirely different words COMMONCHUNK"),
        (4, "unrelated content again COMMONCHUNK"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    sh = char_shingles(df, "doc_id", "text", k=5)
    kept = drop_hot_shingles(sh, n_docs=4, max_doc_freq_frac=0.9)
    # the COMMONCHUNK shingles (in all 4 docs) are gone
    hot = (
        sh.groupBy("shingle").agg(F.count("*").alias("df"))
        .where(F.col("df") > 3.6).count()
    )
    assert hot > 0
    assert kept.groupBy("shingle").agg(F.count("*").alias("df")).agg(
        F.max("df")
    ).collect()[0][0] <= 3

    pairs = jaccard_pairs(
        df, "doc_id", "text", k=5, threshold=0.8,
        max_doc_freq_frac=0.9, n_docs=4,
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_hot_shingle_guard_auto_threshold(spark):
    """The default max_doc_freq_frac='auto' engages the guard (a
    broadcast LEFT ANTI join appears in the plan) once n_docs reaches
    AUTO_GUARD_MIN_DOCS, and keeps the exact plan below it."""
    from ocr_inference_spark.dedup import AUTO_GUARD_MIN_DOCS, jaccard_pairs

    rows = [(1, "alpha beta gamma"), (2, "alpha beta gamma delta")]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    def plan_of(**kw):
        out = jaccard_pairs(df, "doc_id", "text", k=5, threshold=0.5, **kw)
        return out._jdf.queryExecution().executedPlan().toString()

    assert "LeftAnti" in plan_of(n_docs=AUTO_GUARD_MIN_DOCS)
    assert "LeftAnti" not in plan_of(n_docs=AUTO_GUARD_MIN_DOCS - 1)
    assert "LeftAnti" not in plan_of()  # n_docs unknown -> exact
    # forcing exact overrides any corpus size
    assert "LeftAnti" not in plan_of(n_docs=10 * AUTO_GUARD_MIN_DOCS,
                                     max_doc_freq_frac=None)


def test_ivf_centroids_filtered_sample_identical(spark):
    """The footer-count hash-threshold sampling path (n_rows supplied)
    must select the SAME deterministic sample as the unfiltered
    TakeOrdered — the threshold keeps a superset of the global
    ``sample`` smallest hashes — so centroids are bit-identical."""
    import numpy as np
    from pyspark.sql import functions as F

    from ocr_inference_spark.similarity import train_ivf_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n = emb.count()
    assert n > 4 * 64  # the filter path must actually engage
    full = train_ivf_centroids(corpus, n_cells=8, sample=64)
    filtered = train_ivf_centroids(corpus, n_cells=8, sample=64, n_rows=n)
    assert np.array_equal(full, filtered)


def test_dup_clusters_matches_union_find(spark):
    """dup_clusters must produce the exact (id, min reachable id)
    labeling of a plain-Python union-find on a mixed graph: chain +
    triangle + isolated edge + seeded random edges."""
    import random

    from pyspark.sql import Row

    from ocr_inference_spark.dedup import dup_clusters

    rng = random.Random(11)
    edges = [(i, i + 1) for i in range(20, 28)]        # 8-hop chain
    edges += [(1, 2), (2, 3), (3, 1), (40, 41)]        # triangle + pair
    edges += [(rng.randrange(100, 140), rng.randrange(100, 140)) for _ in range(30)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # the root is the component min
    expected = {x: find(x) for x in parent}

    pairs = spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in edges])
    assert {r["id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()} == expected


def test_dup_clusters_raises_on_long_chain(spark):
    """An 80-hop duplicate chain needs ~80 propagation rounds: with
    max_iters=10 the function must raise rather than return split
    clusters."""
    from pyspark.sql import Row

    from ocr_inference_spark.dedup import dup_clusters

    pairs = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(80)])
    with pytest.raises(RuntimeError, match="did not converge in 10 rounds"):
        dup_clusters(pairs, max_iters=10)


def test_dup_clusters_keeps_self_pair_nodes(spark):
    """A node appearing only in a self-pair (a == b) is a 1-node
    component and must surface in the output."""
    from pyspark.sql import Row

    from ocr_inference_spark.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [Row(id_a=7, id_b=7), Row(id_a=1, id_b=2)]
    )
    out = {r["id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 7: 7}


def test_table_bucket_rows_bit_identical(spark):
    """The numpy bucket kernel (mapInPandas) must reproduce the Catalyst
    higher-order-function form EXACTLY — planes are ±1.0 so every
    product is an exact sign flip and the left-fold add order matches;
    any reassociation would show up here as a sign flip on a near-zero
    plane dot."""
    from pyspark.sql import functions as F

    from ocr_inference_spark.similarity import table_bucket_rows, table_buckets

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    cat = base.select(
        "id", F.posexplode(table_buckets(F.col("v"), 12, 9, 64)).alias("t", "bucket")
    )
    np_rows = table_bucket_rows(base, 12, 9, 64)
    assert cat.exceptAll(np_rows).count() == 0
    assert np_rows.exceptAll(cat).count() == 0
