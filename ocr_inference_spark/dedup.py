"""Deduplication operators for training-data pipelines — DataFrame
compositions (no per-row Python UDFs; the LSH bucket projection is the
batched numpy kernel ``similarity.table_bucket_rows``), shuffle-conscious:

- n-gram Jaccard: shingle explode -> self-equi-join on shingle ->
                  count/union arithmetic (shuffles on shingle, then pair)
- MinHash+LSH:  shingle -> per-permutation min-hash -> band buckets ->
                bucket join for candidates -> exact-Jaccard verify.
                At 100 TB the LSH path is the scale path: candidate
                generation touches only same-bucket pairs instead of the
                O(n²) cross join.
- SimHash:      sign-aggregated md5 word-hash bits -> 60-bit key;
                near-dup iff Hamming distance <= k (bit_count(xor)).
- embedding near-dup: all-pairs or hyperplane-LSH-blocked candidates ->
                exact cosine verify (the similarity.py cosine convention).
- clusters:     connected components over near-dup pairs by min-label
                propagation (cluster id = min reachable id).
- SemDeDup:     cluster embeddings, then prune within-cluster pairs by
                cosine (min-id survivor).

Determinism: every hash is a deterministic function of the text
(xxhash64 with literal seeds / md5), so results are stable across runs
and cluster sizes.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


def normalize(col):
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def char_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """(id, shingle) — distinct k-character shingles of normalized text."""
    norm = normalize(F.col(text_col))
    idx = F.sequence(F.lit(1), F.greatest(F.length(norm) - (k - 1), F.lit(1)))
    return (
        df.select(F.col(id_col).alias("id"), norm.alias("t"), F.explode(idx).alias("i"))
        .select("id", F.substring(F.col("t"), F.col("i"), k).alias("shingle"))
        .where(F.length("shingle") == k)
        .distinct()
    )


def drop_hot_shingles(
    sh: DataFrame, n_docs: int, max_doc_freq_frac: float
) -> DataFrame:
    """Stop-shingle skew guard: drop shingles present in more than
    ``max_doc_freq_frac`` of documents. A shingle shared by d docs
    contributes d² rows to the self-join — one ubiquitous shingle
    ('the s', ' and ') turns the shuffle into a single hot key at
    corpus scale, while contributing ~zero discrimination. The hot set
    is tiny (it is bounded by 1/max_frac distinct shingles per doc on
    average), so it broadcasts and the guard is a map-side anti-join —
    no extra shuffle. Standard practice in web-dedup pipelines (cf. the
    published shingling literature: common-shingle removal)."""
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    hot = freq.where(F.col("df") > max_doc_freq_frac * n_docs).select("shingle")
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


# Above this corpus size the stop-shingle guard engages automatically
# in jaccard_pairs (when the caller supplies n_docs): at >=100k docs a
# single ubiquitous shingle contributes >=10^10 self-join rows, so the
# d^2 hot-key failure mode is no longer a tail risk but a certainty.
AUTO_GUARD_MIN_DOCS = 100_000
AUTO_GUARD_MAX_DOC_FREQ_FRAC = 0.1
# dup_clusters small-graph fast path (round 6): below this many
# symmetrized edges the CC rounds run single-partition with several
# propagation rounds unrolled per Spark job — per-round scheduler
# latency, not compute, dominates a small dedup graph
SMALL_GRAPH_EDGES = 1 << 17
# embedding_near_dup vector re-attach: force-broadcast the (id, vec,
# norm) relation below this row count (~2M x 64 doubles ≈ 1 GB built —
# comfortable on multi-GB executors, far past the 10MB auto threshold
# whose silent SMJ fallback would re-shuffle every candidate with its
# vectors attached); above it, shuffle join is the honest plan
BROADCAST_VECTORS_MAX_ROWS = 2_000_000


def _jaccard_verify(sh: DataFrame, inter: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard) from (id_a, id_b, n_inter) intersection
    counts over the (id, shingle) relation ``sh``: |A∪B| = |A|+|B|-|A∩B|,
    pairs at or above ``threshold`` kept, Jaccard rounded to 6 places."""
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.8,
    max_doc_freq_frac: float | str | None = "auto",
    n_docs: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b, jaccard) with shingle-Jaccard >= threshold.

    Exact: |A∩B| via self-join on shingle, |A∪B| = |A|+|B|-|A∩B|.
    The join shuffles on shingle — fine until a shingle becomes a hot
    key; the MinHash path below is the 100-TB-scale variant.

    ``max_doc_freq_frac`` enables the stop-shingle skew guard: shingles
    in more than that fraction of ``n_docs`` documents are dropped
    BEFORE the self-join (Jaccard is then computed over the informative
    shingle set — the standard approximation). The default ``"auto"``
    engages the guard at ``AUTO_GUARD_MAX_DOC_FREQ_FRAC`` once the
    caller-supplied ``n_docs`` reaches ``AUTO_GUARD_MIN_DOCS`` (footer/
    catalog row counts make n_docs free at scale), and stays exact below
    it — so small-corpus oracle semantics are unchanged while the d²
    hot-key protection is on by default where it matters. Pass ``None``
    to force the exact semantics at any size."""
    sh = char_shingles(df, id_col, text_col, k)
    if max_doc_freq_frac == "auto":
        if n_docs is not None and n_docs >= AUTO_GUARD_MIN_DOCS:
            # the semantic switch (exact -> stop-shingle approximation)
            # must be observable at run time, not only in the docstring
            _log.warning(
                "jaccard_pairs: stop-shingle guard auto-engaged "
                "(n_docs=%d >= %d): shingles in > %.0f%% of docs dropped "
                "before the self-join; Jaccard is now computed over the "
                "informative shingle set (pass max_doc_freq_frac=None "
                "to force exact semantics)",
                n_docs, AUTO_GUARD_MIN_DOCS, AUTO_GUARD_MAX_DOC_FREQ_FRAC * 100,
            )
            sh = drop_hot_shingles(sh, n_docs, AUTO_GUARD_MAX_DOC_FREQ_FRAC)
    elif max_doc_freq_frac is not None:
        if n_docs is None:
            raise ValueError("n_docs required with max_doc_freq_frac")
        sh = drop_hot_shingles(sh, n_docs, max_doc_freq_frac)
    sh = sh.cache()
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return _jaccard_verify(sh, inter, threshold)


def minhash_signatures(
    sh: DataFrame, n_perm: int = 32
) -> DataFrame:
    """(id, sig: array<long>) — per-permutation minimum of seeded
    xxhash64 over the document's shingles, all ``n_perm`` minimums
    computed as separate aggregate columns in ONE pass over the
    un-exploded shingle relation. (An explode of the permutation index
    would multiply shuffle volume by n_perm for the same result.)"""
    mins = [
        F.min(F.xxhash64("shingle", F.lit(p))).alias(f"m{p}") for p in range(n_perm)
    ]
    wide = sh.groupBy("id").agg(*mins)
    return wide.select(
        "id", F.array(*[F.col(f"m{p}") for p in range(n_perm)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    n_perm: int = 32,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-Jaccard verify.

    rows-per-band r = n_perm/bands; a pair at similarity s collides in
    >=1 band with p = 1-(1-s^r)^bands (r=2, b=16: s=0.8 -> p≈0.9997).
    Verification keeps only true-Jaccard >= threshold, so output equals
    the exact all-pairs result with overwhelming probability while only
    ever joining within buckets.
    """
    rows_per_band = n_perm // bands
    sh = char_shingles(df, id_col, text_col, k).cache()
    sig = minhash_signatures(sh, n_perm)
    # band key = hash of that band's slice of the signature; derived from
    # the wide signature row with a cheap posexplode of `bands` small
    # arrays per id — no per-permutation shuffle.
    band_key = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.sort_array(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                            ),
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = band_key.alias("a")
    b = band_key.alias("b")
    candidates = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # exact verify: intersect/union over shingles of candidate pairs only
    inter = (
        candidates.join(sh.withColumnRenamed("id", "id_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return _jaccard_verify(sh, inter, threshold)


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 0,
    dim: int = 64,
    n_tables: int = 1,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine) with
    cosine >= threshold.

    n_planes=0 compares all pairs (exact — the oracle-checkable
    baseline, O(n²), small-n only); n_planes>0 is the 10^12-row scale
    path: candidates are blocked by ``n_tables`` independent
    hyperplane-LSH tables via an exploded (table, bucket) EQUI-join
    (hash-join-plannable — never a nested-loop pair scan), deduped, then
    exact-cosine verified. Multi-table blocking recovers near pairs a
    single table splits across a plane. The caller's scan decides how
    widely the plane-dot projection is spread (``queries._t(...,
    spread=True)`` for a corpus-shaped input)."""
    from .similarity import _cosine, _norm, table_bucket_rows

    base = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("nrm", _norm(F.col("v")))
        .where(F.col("nrm") > 0)  # cosine undefined for zero vectors
    )

    if n_planes > 0:
        # Candidate generation carries ONLY (t, bucket, id): a pair that
        # collides in several tables is deduped while the shuffle rows
        # are two ids wide, and the 64-dim vectors are re-joined once per
        # DISTINCT pair for the verify. (Carrying the vectors through
        # the self-join + dropDuplicates multiplies shuffle volume by
        # the vector width — at 10^12 rows that is the whole job.)
        #
        # The self-join output is |bucket|^2-shaped — orders of
        # magnitude wider than its input bytes — so the join must NOT
        # run at AQE-coalesced width (AQE sizes partitions by the tiny
        # shuffle input bytes, not the pair-explosion cost). An explicit
        # repartition by the join key before the checkpoint pins the
        # width AND lets BOTH self-join sides reuse the same hash
        # partitioning: zero further exchange (guide §2.2).
        par = df.sparkSession.sparkContext.defaultParallelism
        # Bucket projection via the batched numpy kernel (guide §4.2) —
        # bit-identical to posexplode(table_buckets(...)), see
        # similarity.table_bucket_rows; measured 1.00s -> 0.60s for the
        # 200k x 108-plane projection at sf1.0.
        blocked = (
            table_bucket_rows(base, n_tables, n_planes, dim)
            .repartition(par * 4, "t", "bucket")
            .localCheckpoint(eager=True)
        )
        # ^ materialized once: the a/b self-join below would otherwise
        # re-scan the corpus and re-evaluate every plane dot twice —
        # at 10^12 rows that is two extra full passes for rows that are
        # (id, byte, long) narrow.
        a = blocked.alias("a")
        b = blocked.alias("b")
        # Round 6: dedup AFTER the verify filter, not before. Multi-
        # table collision duplicates are a few % of raw candidates
        # (measured 5.93M raw vs 5.80M distinct at sf1.0), so paying a
        # full dropDuplicates shuffle of every candidate to save a few
        # % of verify dots was backwards — verifying raw pairs and
        # deduping only the survivors (cosine >= threshold, ~0.3% of
        # candidates) moves the distinct through ~1000x fewer rows.
        # Output identical: duplicate (id_a, id_b) rows carry identical
        # cosine, so distinct-on-pair after the filter keeps the same
        # set. (guide §2.3 "shuffle fewer bytes")
        cand = (
            a.join(b, ["t", "bucket"])
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        )
        # Vector re-attach: the candidate stream must NOT be shuffled
        # by id — that re-moves |candidates| x vector-width bytes, the
        # exact failure mode the id-only blocking avoids (guide §8:
        # audit how the proxy's decisions are re-attached). When the
        # caller supplies the corpus row count (parquet footer /
        # catalog stats) and the vector relation fits comfortably in
        # memory, force a broadcast: the auto-threshold (10 MB
        # estimated) silently flips these joins to sort-merge once the
        # embeddings file outgrows it, shuffling the fat intermediate.
        # Above the cutoff (or with no count supplied and no planner
        # pick of broadcast) the shuffle join stands — at 10^12 rows
        # that IS the right plan.
        def side(s):
            out = base.select(
                F.col("id").alias(f"id_{s}"),
                F.col("v").alias(f"v{s}"),
                F.col("nrm").alias(f"n{s}"),
            )
            if n_rows is not None and n_rows <= BROADCAST_VECTORS_MAX_ROWS:
                out = F.broadcast(out)
            return out

        pairs = cand.join(side("a"), "id_a").join(side("b"), "id_b")
    else:
        a = base.alias("a")
        b = base.alias("b")
        pairs = a.join(b, F.col("a.id") < F.col("b.id")).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.v").alias("va"),
            F.col("a.nrm").alias("na"),
            F.col("b.v").alias("vb"),
            F.col("b.nrm").alias("nb"),
        )
    scored = pairs.select(
        "id_a", "id_b", _cosine("va", "vb", "na", "nb").alias("cosine")
    ).where(F.col("cosine") >= threshold)
    if n_planes > 0:
        # collapse multi-table collisions (identical rows) post-filter
        scored = scored.dropDuplicates(["id_a", "id_b"])
    return scored


def _materialize(df: DataFrame, mode: str) -> DataFrame:
    """Cut lineage per CC round. ``mode``:

    - ``"local"`` (default): ``localCheckpoint(eager=True)`` — blocks
      live in executor-local storage. Fast, but on executor loss the
      blocks are gone and the job fails; fine for interactive/bench use.
    - ``"reliable"``: ``checkpoint(eager=True)`` — blocks go to the
      configured ``sparkContext.setCheckpointDir`` (HDFS/S3 at cluster
      scale), surviving executor loss. The production setting for a
      10^12-doc run where a multi-round CC job must not restart from
      zero because one executor died mid-loop.
    """
    if mode == "reliable":
        return df.checkpoint(eager=True)
    if mode == "local":
        return df.localCheckpoint(eager=True)
    raise ValueError(f"unknown checkpoint mode {mode!r} (use 'local' or 'reliable')")


def dup_clusters(
    pairs: DataFrame,
    max_iters: int = 50,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Connected components over near-duplicate pairs: (id, cluster_id)
    where cluster_id = min id reachable through the pair graph — the
    canonicalization step of a dedup pipeline (keep one doc per
    cluster, drop the rest).

    Deterministic iterative min-label propagation (the standard
    large-graph CC formulation, cf. Spark GraphX CC): each round joins
    every node's current label against the (symmetrized) edge list and
    takes the min over neighbors. Converges in O(diameter) rounds; dup
    clusters are near-cliques (diameter 2-3) so this terminates in a
    handful of rounds on real dedup graphs.

    If ``max_iters`` is exhausted before convergence the function raises
    rather than silently returning split clusters. Each round is one
    broadcast-or-hash equi-join + one aggregate — no driver-side loops
    over data, only over rounds.

    The symmetrized edge list is eagerly checkpointed ONCE before the
    loop: without it every round would re-execute the full upstream
    pair pipeline (e.g. the exact-Jaccard shingle self-join — the
    100-TB analogue of re-reading the corpus per iteration). See
    :func:`_materialize` for the ``checkpoint_mode`` fault-tolerance
    trade-off ("local" fast path vs "reliable" for production runs).

    Input: (id_a, id_b) pairs (any extra columns ignored).
    """
    edges = _materialize(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct(),
        checkpoint_mode,  # materialize: rounds join a fixed edge list
    )
    # Round-6 gate-corpus latency discipline (guide §1.2 order of
    # operations — the measured cost of this loop on a tiny dedup graph
    # is ~0.25s of scheduler latency PER ROUND, not compute):
    #   - a small graph (edge count known for free from the checkpoint)
    #     runs the rounds on ONE partition, so every per-round join and
    #     aggregate is a single task with no exchange width to schedule;
    #   - several propagation rounds are UNROLLED into each Spark job
    #     (the convergence flag is carried as a column and OR-ed across
    #     the unrolled block, so convergence is still read off the same
    #     materialized action — no extra job, no extra join).
    # At scale n_edges is large: unroll stays 1 and the partitioning is
    # untouched, so the 10^12-row posture is exactly the round-5 plan.
    n_edges = edges.count()
    unroll = 1
    if n_edges <= SMALL_GRAPH_EDGES:
        edges = _materialize(edges.repartition(1), checkpoint_mode)
        # unroll=2 is the measured optimum (round-6 A/B, interleaved in
        # one session at sf1.0: 1.80s @2, 2.63s @4, 10.5s @8 — deeper
        # blocks pay more in plan optimization/codegen than they save
        # in per-job scheduler latency)
        unroll = 2
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    converged = False
    rounds_done = 0
    while rounds_done < max_iters and not converged:
        steps = min(unroll, max_iters - rounds_done)
        block = labels.withColumn("chg", F.lit(False))
        for _ in range(steps):
            # neighbor labels: min label among each node's neighbors
            neigh = (
                edges.join(
                    block.select(
                        F.col("id").alias("dst"), "cluster_id"
                    ),
                    "dst",
                )
                .groupBy("src")
                .agg(F.min("cluster_id").alias("neigh_min"))
                .withColumnRenamed("src", "id")
            )
            block = (
                block.join(neigh, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("cluster_id"),
                        F.coalesce(F.col("neigh_min"), F.col("cluster_id")),
                    ).alias("cluster_id"),
                    (
                        F.col("chg")
                        | (
                            F.coalesce(F.col("neigh_min"), F.col("cluster_id"))
                            < F.col("cluster_id")
                        )
                    ).alias("chg"),
                )
            )
        if checkpoint_mode == "local":
            block = block.localCheckpoint(eager=False)
        else:
            block = _materialize(block, checkpoint_mode)
        # ONE action per block: the count materializes the checkpoint
        # and answers "did any of the unrolled rounds change a label"
        changed = block.where(F.col("chg")).count()
        labels = block.select("id", "cluster_id")
        rounds_done += steps
        if changed == 0:
            converged = True
    if not converged:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iters} rounds "
            "(component diameter exceeds max_iters); raise max_iters"
        )
    return labels.select("id", "cluster_id")


def simhash_md5(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) over whitespace tokens: bit j of the document key is
    1 iff more of its tokens have bit j of their hash set than unset.
    Each token hashes to the top 15 hex chars of its md5 (60 bits, fits
    a signed BIGINT in every engine), so the operator is
    ORACLE-CHECKABLE: DuckDB reproduces md5/bit arithmetic exactly.
    Pure expressions: explode tokens -> per-bit sign sums over the
    (id, h) relation -> reassemble the key."""
    bits = 60
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalize(F.col(text_col)), " ")).alias("w"),
    ).where(F.length("w") > 0)
    md5_prefix = F.conv(F.substring(F.md5(F.col("w").cast("binary")), 1, 15), 16, 10)
    hashed = words.select("id", md5_prefix.cast("long").alias("h"))
    bit_cols = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    sums = hashed.groupBy("id").agg(*bit_cols)
    key = None
    for j in range(bits):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, j)
        key = term if key is None else key.bitwiseOR(term)
    return sums.select("id", key.alias("simhash"))


def simhash_md5_pairs_exact(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 10
) -> DataFrame:
    """EXACT all-pairs SimHash near-dups over the md5-derived keys —
    the oracle-checkable small-n baseline (like q24 for Jaccard), one
    O(n²) self-join over the keys."""
    sig = simhash_md5(df, id_col, text_col)
    a = sig.alias("a")
    b = sig.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .where(hamming <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup by cluster-then-prune (Abbas et al. 2023)
# ---------------------------------------------------------------------------

SEMDEDUP_SCALE = 1_000_000


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    threshold: float = 0.4,
    salt: str = "semdedup-v1",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings, then mark as
    semantic duplicates the rows whose within-cluster cosine to a
    lower-id row meets ``threshold`` (min-id survivor — the paper
    keeps one exemplar per similar group; the deterministic keep rule
    makes the output set hash-gateable).  Returns
    (vec_id, cluster_id, dup_of) for EVERY input row; dup_of is NULL
    for keepers.

    Clustering is the paper's trick for never forming the O(n²) pair
    matrix: pairs are only compared within a cluster, so the
    self-join is equi-keyed on cluster_id and the pair count is
    sum_c n_c², not n².  Here the centroids are the k corpus vectors
    with the smallest md5(salt || ':' || id) — a deterministic
    k-means++-style seed draw both engines compute identically
    (production would Lloyd-iterate from these seeds; the assignment
    plan below is exactly one Lloyd E-step and is what repeats per
    iteration).  Assignment distance is EXACT integer L2 over
    x1e6-floored components (order-free BIGINT sums — no float
    argmin boundary between engines); the prune cosine is the
    round(.,6) double the q35 oracle already proved engine-identical.
    threshold defaults low to exercise the prune on the synthetic
    corpus; production SemDeDup uses ~0.95.

    Scale posture: centroids are k rows -> broadcast; assignment is a
    map-side broadcast nest over k (one E-step per row, zero
    shuffle); the pair join shuffles on cluster_id — at 10^12 rows k
    scales to ~sqrt(n) clusters (the paper uses 50k) so clusters stay
    executor-sized, and a mega-cluster is handled by the same salting
    the doc_id pipeline uses.
    """
    from .similarity import _cosine, _norm

    base = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    )
    vint = base.withColumn(
        "v",
        F.expr(
            f"transform(e, x -> cast(floor(x * {SEMDEDUP_SCALE}) as bigint))"
        ),
    )
    key = F.md5(
        F.concat(F.lit(f"{salt}:"), F.col("vec_id").cast("string"))
    )
    cents = (
        vint.select(
            F.col("vec_id").alias("cid"),
            F.col("v").alias("cv"),
            key.alias("k_"),
        )
        .orderBy("k_", "cid")
        .limit(k)
        .drop("k_")
    )
    assigned = (
        vint.crossJoin(F.broadcast(cents))
        .withColumn(
            "dist",
            F.expr(
                "aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)),"
                " 0L, (acc, x) -> acc + x)"
            ),
        )
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid")).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cluster_id"))
    )
    clustered = assigned.join(base, "vec_id").withColumn(
        "nrm", _norm(F.col("e"))
    )

    def side(s):
        return clustered.where(F.col("nrm") > 0).select(
            "cluster_id",
            F.col("vec_id").alias(f"id_{s}"),
            F.col("e").alias(f"e{s}"),
            F.col("nrm").alias(f"n{s}"),
        )

    dups = (
        side("a")
        .join(side("b"), "cluster_id")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", _cosine("ea", "eb", "na", "nb"))
        .where(F.col("cos") >= threshold)
        .groupBy("id_b")
        .agg(F.min("id_a").alias("dup_of"))
    )
    return (
        assigned.join(
            dups, assigned.vec_id == dups.id_b, "left"
        ).select("vec_id", "cluster_id", "dup_of")
    )
