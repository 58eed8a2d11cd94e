"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k neighbours — the correctness
  baseline. The dot product is a JVM-side ``F.zip_with`` +
  ``F.aggregate`` (no Python), norms are precomputed once per side, and
  the query side is broadcast (queries << corpus).
- ``lsh_topk``: the scale path — random-hyperplane LSH buckets
  (deterministic planes from xxhash64 of the dimension index), candidate
  join within buckets, exact re-rank of candidates. At 10^12 rows the
  bucket join replaces the O(Q·N) scan.
- ``ivf_topk``: the data-adaptive scale path — spherical-kmeans cells
  from a deterministic sample, corpus rows in their nearest cell,
  queries probing their ``nprobe`` nearest cells, exact re-rank.

Every cosine here and in ``dedup`` follows one convention, the one the
DuckDB oracles reproduce: zero-norm vectors are dropped, the dot is
divided by precomputed norms, and the score is rounded to 6 places
(:func:`_vectors`, :func:`_cosine`). Every top-k ranks by cosine
descending, then neighbour id (:func:`_top_k`).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def _vectors(df, id_col, vec_col, id_as, vec_as, norm_as, *extra):
    """(id_as, vec_as, norm_as, *extra) with zero-norm rows dropped:
    cosine is undefined for a zero vector (ANSI div/0)."""
    return df.select(
        F.col(id_col).alias(id_as),
        F.col(vec_col).alias(vec_as),
        _norm(F.col(vec_col)).alias(norm_as),
        *extra,
    ).where(F.col(norm_as) > 0)


def _cosine(a: str, b: str, norm_a: str, norm_b: str):
    """round(<a, b> / (|a|·|b|), 6) over precomputed norms."""
    return F.round(_dot(F.col(a), F.col(b)) / (F.col(norm_a) * F.col(norm_b)), 6)


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) for the k best neighbours of
    each query among candidate (query_id, qvec, qnorm, neighbor_id,
    cvec, cnorm) pairs; ties broken by neighbor id for cross-engine
    determinism."""
    scored = pairs.withColumn(
        "cosine", _cosine("qvec", "cvec", "qnorm", "cnorm")
    ).select("query_id", "neighbor_id", "cosine")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """For every query vector: top-k corpus neighbours by cosine.

    Output: (query_id, neighbor_id, cosine, rank); self-matches excluded.
    """
    c = _vectors(corpus, id_col, vec_col, "neighbor_id", "cvec", "cnorm")
    q = _vectors(queries, id_col, vec_col, "query_id", "qvec", "qnorm")
    return _top_k(c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")), k)


# ---------------------------------------------------------------------------
# Deterministic hyperplanes, precomputed ON THE DRIVER.
#
# The plane component for dimension j of plane `seed` is
#   sign(xxhash64(j, seed))  — i.e. Spark's F.xxhash64(lit(j), lit(seed))
# mapped to ±1 by its low bit. That value is data-INdependent, so
# evaluating it inside the row expression (as round 2 did, via
# F.transform(F.sequence(...), xxhash64)) re-hashed dim × planes × tables
# components PER ROW (~5.4k redundant hash evals/row for q36). Here the
# exact same Spark xxhash64 values are reproduced in pure Python once per
# (seed, dim) on the driver and embedded as literal arrays; per row only
# the irreducible zip_with dot product remains. Bucket values are
# bit-identical to the round-2 plans (verified: Python replication of
# Spark's XxHash64-over-ints matches F.xxhash64 output exactly).
# ---------------------------------------------------------------------------

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P5 = 0x27D4EB2F165667C5


def _xxh_fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def _xxh_int(i: int, seed: int) -> int:
    """XXH64 of one 4-byte int — Spark XxHash64's per-INT step."""
    h = (seed + _P5 + 4) & _M64
    h ^= ((i & 0xFFFFFFFF) * _P1) & _M64
    h = (((((h << 23) | (h >> 41)) & _M64) * _P2) + _P3) & _M64
    return _xxh_fmix(h)


def spark_xxhash64_ints(values, seed: int = 42) -> int:
    """Replicates ``F.xxhash64(lit(v0), lit(v1), ...)`` for int inputs:
    Spark chains the per-column hash, starting from seed 42. Returns the
    unsigned 64-bit value (Spark reports it as a signed long)."""
    h = seed & _M64
    for v in values:
        h = _xxh_int(v, h)
    return h


@lru_cache(maxsize=None)
def _plane_signs(plane_seed: int, dim: int) -> tuple:
    """±1.0 components of deterministic hyperplane ``plane_seed`` —
    identical to the former per-row ``pmod(xxhash64(j, seed), 2)`` test
    (parity of the hash is representation-independent)."""
    return tuple(
        1.0 if (spark_xxhash64_ints((j, plane_seed)) & 1) == 0 else -1.0
        for j in range(dim)
    )


def _literal_matrix(rows):
    """Literal ``array<array<double>>`` parsed from ONE SQL string.
    Building the same matrix from ~n·dim individual ``F.lit`` nodes
    costs seconds of py4j round-trips and Catalyst analysis on a
    5k-node tree; one parsed expression is ~20 ms and constant-folds to
    a single Literal."""
    body = ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in row) + ")" for row in rows
    )
    return F.expr(f"array({body})")


def plane_matrix(n_planes_total: int, dim: int):
    """±1 plane components for seeds ``0..n_planes_total-1``."""
    return _literal_matrix(_plane_signs(seed, dim) for seed in range(n_planes_total))


def table_buckets(vec, n_tables: int, n_planes: int, dim: int):
    """``array<long>`` of per-table LSH bucket ids (index = table id).

    ONE nested higher-order expression: for table t, bucket =
    OR over p of (sign(<v, plane_{t·n_planes+p}>) << p), planes drawn
    from a driver-side literal matrix. Bit-identical to evaluating each
    plane's xxhash64-derived signs per row (the round-2 formulation) —
    verified by exceptAll — but the per-row work is just the
    irreducible n_tables·n_planes dot products, and the Catalyst tree
    is ~10 nodes instead of ~5,400."""
    P = plane_matrix(n_tables * n_planes, dim)
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_tables - 1)),
        lambda t: F.aggregate(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            F.lit(0).cast("long"),
            lambda acc, p: acc.bitwiseOR(
                (_dot(vec, F.element_at(P, t * n_planes + p + 1)) > 0).cast("long")
                # bit << p, written as *2^p because shiftleft's shift
                # operand must be a literal int, not a lambda variable
                * F.pow(F.lit(2.0), p).cast("long")
            ),
        ),
    )


def table_bucket_rows(
    df: DataFrame, n_tables: int, n_planes: int, dim: int
) -> DataFrame:
    """(id, t, bucket) rows for every input (id, v) row — the exploded
    form of :func:`table_buckets`, computed by a batched numpy kernel
    inside ``mapInPandas`` (guide §4.2: dense linear algebra belongs in
    native code; the Catalyst higher-order fold costs ~5 ns per
    multiply-add, the vectorized loop ~0.5 ns).

    BIT-IDENTICAL to ``posexplode(table_buckets(v, ...))`` by
    construction, not by luck: plane components are exactly ±1.0, so
    each per-plane product x*s is an exact IEEE sign flip, and the
    accumulation below runs j = 0..dim-1 in the same left-fold order
    with the same float64 adds as the Catalyst ``aggregate`` (numpy
    elementwise ``+=`` does not reassociate or fuse) — verified
    ``exceptAll``-empty both ways against the Catalyst form at sf1.0
    (2.4M rows). Callers guarantee fixed ``dim``-wide vectors (the q36
    embeddings contract); map-only, so the 10^12-row posture is
    unchanged — no shuffle, Arrow batches stream through.
    """
    import numpy as np

    signs_t = np.ascontiguousarray(
        np.array(
            [_plane_signs(seed, dim) for seed in range(n_tables * n_planes)],
            dtype=np.float64,
        ).T
    )  # (dim, n_tables*n_planes)
    pow2 = 1 << np.arange(n_planes, dtype=np.int64)
    id_type = df.schema["id"].dataType.simpleString()

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vs = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            acc = np.zeros((n, n_tables * n_planes), dtype=np.float64)
            for j in range(dim):  # left-fold order == Catalyst aggregate
                acc += vs[:, j : j + 1] * signs_t[j]
            bits = (acc > 0).astype(np.int64).reshape(n, n_tables, n_planes)
            buckets = (bits * pow2).sum(axis=2)
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(), n_tables),
                    "t": np.tile(np.arange(n_tables, dtype=np.int32), n),
                    "bucket": buckets.ravel(),
                }
            )

    return df.select("id", "v").mapInPandas(
        gen, schema=f"id {id_type}, t int, bucket long"
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int = 6,
    n_tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH candidates, exact
    cosine re-rank. Each of ``n_tables`` tables offsets the plane seeds,
    so a near pair missed by one table is caught by another."""
    buckets = table_buckets(F.col(vec_col), n_tables, n_planes, dim)

    # Explode both sides to (table_id, bucket) rows and EQUI-join on
    # ["t", "bucket"]. An OR-of-equalities condition cannot be planned as
    # a hash join (Spark falls back to BroadcastNestedLoopJoin, i.e. the
    # same O(N·Q) pair scan as brute force); the exploded equi-join is a
    # real hash/bucket join that only touches same-bucket pairs.
    # Candidate generation on bare ids: the (t, bucket) equi-join and
    # the multi-table dedup shuffle rows two ids wide; corpus vectors
    # are re-joined once per DISTINCT candidate for the exact re-rank
    # (carrying cvec through dropDuplicates would multiply the shuffle
    # by the vector width).
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(buckets).alias("t", "bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(buckets).alias("t", "bucket"),
    )
    cand = (
        c.join(F.broadcast(q), ["t", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        # a pair may collide in several tables — dedup before re-ranking
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cvecs = _vectors(corpus, id_col, vec_col, "neighbor_id", "cvec", "cnorm")
    qvecs = _vectors(queries, id_col, vec_col, "query_id", "qvec", "qnorm")
    return _top_k(cand.join(cvecs, "neighbor_id").join(F.broadcast(qvecs), "query_id"), k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path (cf. the
# published IVF/IVFADC family, Jégou et al. 2011): centroids trained
# driver-side on a deterministic sample, embedded as a literal matrix;
# each row is assigned to its nearest cell (one argmax over centroid
# dots), queries probe their nprobe nearest cells, candidates re-ranked
# exactly. At 10^12 rows the (cell) equi-join touches only same-cell
# pairs, like the LSH path but with data-adaptive partitions.
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    sample: int = 4096,
    iters: int = 10,
    n_rows: int | None = None,
) -> "np.ndarray":
    """Spherical k-means on a DETERMINISTIC sample (the ``sample`` rows
    with the smallest (xxhash64 of the id, id) — the id tiebreaker makes
    the selected row set strictly deterministic even if two ids collide
    at the limit-boundary hash value, so identity across runs and
    cluster sizes is guaranteed, not merely overwhelming-probability),
    driver side. Returns (n_cells, dim) unit-norm centroids. The sample
    is a bounded driver pull (default 4096 rows).

    When ``n_rows`` is known (e.g. from parquet footer metadata — see
    io.footer_stats), a hash-VALUE threshold predicate is
    applied before the TakeOrdered: xxhash64 is uniform over int64, so
    keeping only rows with hash below ``min + 4*sample/n_rows * range``
    passes ~4x the needed rows and provably contains the global
    ``sample`` smallest with overwhelming probability — the sort input
    shrinks from the corpus to ~4*sample rows while the selected set
    (and therefore the centroids) stays bit-identical. A count guard
    falls back to the unfiltered path in the astronomically unlikely
    shortfall case, preserving exactness unconditionally."""
    import numpy as np

    hashed = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.xxhash64(F.col(id_col).cast("string")).alias("h"),
    )
    pdf = None
    if n_rows is not None and n_rows > 4 * sample:
        frac = 4.0 * sample / n_rows
        thresh = int(-(2**63) + frac * 2**64)
        pdf = (
            hashed.where(F.col("h") < F.lit(thresh))
            .orderBy("h", "id")
            .limit(sample)
            .toPandas()
        )
        if len(pdf) < min(sample, n_rows):
            pdf = None  # shortfall: fall back to the exact unfiltered pull
    if pdf is None:
        pdf = hashed.orderBy("h", "id").limit(sample).toPandas()
    X = np.array(pdf["v"].tolist(), dtype=np.float64)
    norms = np.linalg.norm(X, axis=1)
    X = X[norms > 0] / norms[norms > 0, None]
    n_cells = min(n_cells, len(X))
    C = X[:n_cells].copy()  # deterministic init: first hash-ordered rows
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(n_cells):
            members = X[assign == j]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    C[j] = m / n
    return C


def _cell_dots(vec, P, n_cells: int):
    """array<double> of <v, c_j> for every centroid j."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_cells - 1)),
        lambda j: _dot(vec, F.element_at(P, j + 1)),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 4,
    centroids=None,
    n_rows: int | None = None,
) -> DataFrame:
    """Approximate top-k via IVF cells: corpus rows live in their
    nearest-centroid cell; each query probes its ``nprobe`` nearest
    cells; candidates are exactly re-ranked. Argmax of the centroid
    dot equals argmax cosine (row norm is constant per row), so no
    normalization is needed in the expression. ``n_rows`` (footer
    count) lets centroid training filter its sample scan."""
    if centroids is None:
        centroids = train_ivf_centroids(corpus, id_col, vec_col, n_cells, n_rows=n_rows)
    n_cells = len(centroids)
    nprobe = min(nprobe, n_cells)
    P = _literal_matrix(centroids)

    c = _vectors(
        corpus,
        id_col,
        vec_col,
        "neighbor_id",
        "cvec",
        "cnorm",
        # materialize the dots ONCE per row (HOFs get no common-
        # subexpression elimination), then derive the argmax cell
        _cell_dots(F.col(vec_col), P, n_cells).alias("dots"),
    ).select(
        "neighbor_id",
        "cvec",
        "cnorm",
        # 0-based nearest cell: position of the max dot
        (F.array_position(F.col("dots"), F.array_max(F.col("dots"))) - 1).alias("cell"),
    )
    # query side: nprobe nearest cells via sort of (−dot, idx) structs
    probe = F.transform(
        F.slice(
            F.array_sort(
                F.zip_with(
                    _cell_dots(F.col(vec_col), P, n_cells),
                    F.sequence(F.lit(0), F.lit(n_cells - 1)),
                    lambda d, j: F.struct((-d).alias("negd"), j.alias("idx")),
                )
            ),
            1,
            nprobe,
        ),
        lambda s: s["idx"],
    )
    q = _vectors(
        queries, id_col, vec_col, "query_id", "qvec", "qnorm", F.explode(probe).alias("cell")
    )
    return _top_k(
        c.join(F.broadcast(q), "cell").where(F.col("query_id") != F.col("neighbor_id")), k
    )
