"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline: the (small) query
set is broadcast against the corpus scan — one pass, no corpus shuffle,
a per-query top-k window. Every top-k score is ``_cos_1e6``: JVM-side
``dot``/``norm`` over double arrays, a deterministic left-to-right
accumulation that DuckDB's list_inner_product reproduces exactly.

Four approximate variants rescore their candidates with the same
expression: SRP-LSH (seeded planes, no training; candidates collide in
a bucket of any table), IVF (spherical k-means cells, nprobe lists), PQ
(per-subspace codebooks; an ADC scan over codes only picks a shortlist
— the compressed-storage path) and IVF-PQ (cells prune, codes rank).
Trainers collect a deterministic xxhash sliver to the driver; the numpy
kernels (SRP buckets, IVF probes, PQ codes) run in Arrow UDFs.

``cosine_topk_all_variants`` gives the ANN audits all five top-ks from
one Python pass over the corpus (the JVM rescore join reads it again):
one collect of the widest training sliver (the IVF sliver nests in the
PQ one), one of the query block, and ONE mapInPandas pass running the
same kernels. The shortlist, rescore and top-k windows stay in the JVM
because numpy's blocked sums would not reproduce the ``dot``/``norm``
bits, so the exact variant's (query x corpus) pairs also cross Arrow
and the rescore join. Measured only on the 500-vector catalog
embeddings: 7 warm Spark jobs per audit, against 31 for the five
per-variant chains.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

DEFAULT_SEED = 42


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product over array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _vecs(df: DataFrame, id_col: str, vec_col: str, side: str) -> DataFrame:
    """(query_id, qv) for side 'q', (neighbor_id, cv) for side 'c'."""
    ids = {"q": "query_id", "c": "neighbor_id"}[side]
    return df.select(F.col(id_col).alias(ids), _as_double(vec_col).alias(f"{side}v"))


def _cos_1e6(a: Column | str = "qv", b: Column | str = "cv") -> Column:
    """floor(cos(a, b) * 1e6) as int64 over array<double> columns — the
    one scoring expression of every top-k here, so exact and rescored
    scores are bit-identical."""
    a, b = (F.col(x) if isinstance(x, str) else x for x in (a, b))
    cos = dot(a, b) / (norm(a) * norm(b))
    return F.floor(cos * F.lit(1000000.0)).cast("long").alias("cos_1e6")


def _topk(scored: DataFrame, k: int, keys: tuple[str, ...] = ()) -> DataFrame:
    """Per-query top-k window over (keys..., query_id, neighbor_id,
    cos_1e6); ties break on neighbor id."""
    w = Window.partitionBy(*keys, "query_id").orderBy(
        F.col("cos_1e6").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(*keys, "query_id", "neighbor_id", "rank", "cos_1e6")
    )


def _rescore_topk(
    cands: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Exact cosine rescore of (keys..., query_id, neighbor_id)
    candidates against the raw vectors, then the top-k window."""
    scored = (
        cands.join(F.broadcast(_vecs(queries, id_col, vec_col, "q")), "query_id")
        .join(_vecs(corpus, id_col, vec_col, "c"), "neighbor_id")
        .select(*keys, "query_id", "neighbor_id", _cos_1e6())
    )
    return _topk(scored, k, keys)


def _check_prebuilt_dim(prebuilt, dim: int) -> None:
    """A prebuilt artifact pins dim at build time; the caller-passed
    ``dim`` drives subspace slicing and LUT shapes, so a mismatch is
    wrong answers (or an opaque numpy shape error), never a graceful
    degrade — refuse loudly like the kind/centroids/codebooks checks."""
    if int(prebuilt.dim) != int(dim):
        raise ValueError(
            f"prebuilt index was built with dim={prebuilt.dim}; serving "
            f"called with dim={dim} — rebuild the index or pass the "
            "artifact's dim"
        )


def quantize_embeddings(
    df: DataFrame, emb_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric int8 quantization per vector: (id, scale_1e9, q
    array<int>) with q_i = floor(127 * e_i / max|e|).

    The embedding storage format of every large retrieval corpus —
    4x smaller than float32, and cosine survives within ~1% for
    typical distributions (pinned in tests). Per-VECTOR max-abs scaling
    (not per-corpus) keeps outlier vectors from crushing everyone
    else's resolution; the scale rides along int-scaled (floor(s*1e9))
    so the record stays fully integral and cross-engine hashable.

    floor (not round) on purpose: round's tie-breaking differs across
    engines (HALF_UP / half-even / away-from-zero) and a single tie
    breaks a value hash; floor of identical IEEE doubles is identical
    everywhere. All JVM expression work — a pure projection over the
    scan, embarrassingly parallel at any scale.
    """
    e = _as_double(emb_col)
    max_abs = F.array_max(F.transform(e, lambda x: F.abs(x)))
    # stage the scale as a column: referenced inside the quantize lambda,
    # an inline expression would re-run the O(dim) max per ELEMENT (the
    # HOF trap, see operators/text.py)
    staged = df.select(
        F.col(id_col),
        e.alias("__e"),
        F.when(max_abs == 0.0, F.lit(1.0)).otherwise(max_abs).alias("__scale"),
    )
    return staged.select(
        F.col(id_col),
        F.floor(F.col("__scale") * 1e9).cast("long").alias("scale_1e9"),
        F.transform(
            F.col("__e"),
            lambda x: F.floor(F.lit(127.0) * x / F.col("__scale")).cast("int"),
        ).alias("q"),
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cos_1e6).

    ``queries`` is broadcast — the corpus streams through one narrow
    stage; the only shuffle is the per-query top-k window, partitioned
    by query id (parallel across queries). Self-matches excluded.
    Scores are emitted as int64 micro-units (floor(cos * 1e6)) so the
    DuckDB oracle hashes identically; ties break on neighbor id.
    """
    q = _vecs(queries, id_col, vec_col, "q")
    scored = (
        _vecs(corpus, id_col, vec_col, "c")
        .join(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _cos_1e6())
    )
    return _topk(scored, k)


def srp_planes(dim: int, n_planes: int, table: int, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Deterministic signed-random-projection planes for one LSH table."""
    rng = np.random.default_rng(seed + 7919 * table)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def _srp_kernel(planes: np.ndarray):
    """(batch, dim) matrix -> (batch, tables) int64 buckets. ``planes``
    is (tables, n_planes, dim): one matmul against the flattened
    (tables*n_planes, dim) matrix covers every table."""
    n_tables, n_planes, _ = planes.shape
    flat = planes.reshape(n_tables * n_planes, -1)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    def buckets(mat: np.ndarray) -> np.ndarray:
        bits = (mat @ flat.T > 0).reshape(len(mat), n_tables, n_planes)
        return bits.astype(np.int64) @ weights

    return buckets


def _kernel_udf(kernel):
    """A (batch, dim) float64 -> (batch, w) int64 numpy kernel as an
    array<long> pandas UDF: one kernel call per Arrow batch."""

    @pandas_udf(ArrayType(LongType()))
    def udf(vecs: pd.Series) -> pd.Series:
        return pd.Series(list(kernel(np.array(vecs.tolist(), dtype=np.float64))))

    return udf


def srp_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = DEFAULT_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table, bucket) — one row per LSH table per vector.

    Single scan + single vectorized UDF for all tables, then a
    posexplode (narrow) — no union of per-table subplans.
    """
    planes = np.stack(
        [srp_planes(dim, n_planes, t, seed) for t in range(n_tables)]
    )
    udf = _kernel_udf(_srp_kernel(planes))
    return df.select(
        F.col(id_col).alias("vec_id"), udf(F.col(vec_col)).alias("__bs")
    ).select("vec_id", F.posexplode("__bs").alias("table", "bucket"))


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = DEFAULT_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via SRP-LSH candidate generation.

    Candidates = (query, corpus) pairs colliding in >=1 table; exact
    cosine re-rank on candidates only. Recall rises with n_tables and
    falls with n_planes; 12 planes × 4 tables gives ~90%+ recall@5 on
    random 64-dim data while pruning most of the corpus per query.
    """
    cb = srp_buckets(corpus, dim, n_planes, n_tables, seed, id_col, vec_col)
    qb = srp_buckets(queries, dim, n_planes, n_tables, seed, id_col, vec_col)
    cands = (
        cb.alias("c")
        .join(
            qb.alias("q"),
            (F.col("c.table") == F.col("q.table"))
            & (F.col("c.bucket") == F.col("q.bucket"))
            & (F.col("c.vec_id") != F.col("q.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
        )
        .distinct()
    )
    return _rescore_topk(cands, queries, corpus, k, id_col, vec_col)


def _normalize_rows(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def _sq_dists(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Squared L2 distances (rows of x) x (rows of c)."""
    return (x * x).sum(axis=1, keepdims=True) - 2.0 * (x @ c.T) + (c * c).sum(axis=1)


def _ivf_probe_kernel(centroids: np.ndarray, nprobe: int):
    """(batch, dim) matrix -> (batch, nprobe) ids of the nearest
    centroids (one matmul). centroids must be row-normalized."""

    def probes(mat: np.ndarray) -> np.ndarray:
        sims = _normalize_rows(mat) @ centroids.T
        # stable sort on -sim => ties break on centroid id, deterministic
        order = np.argsort(-sims, axis=1, kind="stable")
        return order[:, :nprobe].astype(np.int64)

    return probes


def _ivf_probe_udf(centroids: np.ndarray, nprobe: int):
    return _kernel_udf(_ivf_probe_kernel(centroids, nprobe))


def _sliver_bound(n: int, target: int) -> int:
    """xxhash threshold keeping ~``target`` of ``n`` rows (see
    ``_train_rows``); ``1 << 30`` keeps every row."""
    return int((1.0 if n <= target else target / n) * (1 << 30))


def _sliver_key(seed: int, id_col: str) -> Column:
    return F.pmod(F.xxhash64(F.lit(seed + 1), F.col(id_col)), F.lit(1 << 30))


def _train_rows(
    df: DataFrame, seed: int, id_col: str, vec_col: str, bound: int
) -> DataFrame:
    """The trainers' deterministic sliver: rows whose ``_sliver_key`` is
    below ``bound`` (stable across partitionings and retries, unlike
    ``df.sample``), as (i, v, h) with ``h`` the init-order hash."""
    if bound < 1 << 30:
        df = df.where(_sliver_key(seed, id_col) < bound)
    return df.select(
        F.col(id_col).alias("i"),
        _as_double(vec_col).alias("v"),
        F.xxhash64(F.lit(seed), F.col(id_col)).alias("h"),
    )


def ivf_train_centroids(
    df: DataFrame,
    dim: int,
    n_centroids: int = 16,
    iters: int = 2,
    seed: int = DEFAULT_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
    train_points_per_centroid: int = 256,
    n_rows: int | None = None,
) -> np.ndarray:
    """Spherical k-means centroids, trained distributed.

    ``n_rows``: exact row count of ``df``, when the caller already
    knows it (e.g. from the parquet footer of an unfiltered table
    scan) — skips the count job. It sizes the training sliver, so a
    wrong value changes the centroids: pass the exact count or nothing.

    Init is a deterministic pseudo-random sample (the n_centroids rows
    with smallest xxhash64(seed, id) — no RNG state, stable across
    partitionings). Each Lloyd iteration is one assignment pass (arrow
    UDF matmul) + one (cluster, dim-position) sum/count aggregation;
    only C×dim cells ever reach the driver, regardless of corpus size.

    Training-set sizing: centroid quality needs ~100-1000 points per
    centroid, not the corpus — at 100 TB you train on a sliver and
    assign the full corpus once. When ``train_fraction`` is None the
    sliver is auto-sized to ``n_centroids * train_points_per_centroid``
    points (one metadata-cheap count picks the fraction); an explicit
    fraction overrides. Either way the subsample is a deterministic
    xxhash64 threshold (stable across partitionings/retries — not
    ``df.sample``, whose output depends on partitioning), and the
    sliver is persisted so init + every Lloyd pass reuse one scan
    instead of re-reading the corpus per iteration.
    """
    if train_fraction is not None and not 0.0 < train_fraction <= 1.0:
        raise ValueError(f"train_fraction must be in (0, 1]: {train_fraction}")
    # parquet count(*) is metadata-only under Spark's row-count
    # optimization; at worst it is a column-pruned id scan
    n = df.count() if n_rows is None else n_rows
    target = n_centroids * train_points_per_centroid
    if train_fraction is None:
        train_fraction = 1.0 if n <= target else target / n
    train = _train_rows(
        df, seed, id_col, vec_col, int(train_fraction * (1 << 30))
    )
    n_train_est = int(train_fraction * n)
    if n_train_est <= max(4 * target, 65536):
        return _lloyd_driver(
            train.collect(), dim, n_centroids, iters
        )
    return _lloyd_distributed(train, dim, n_centroids, iters)


def _lloyd_driver(
    rows: list, dim: int, n_centroids: int, iters: int
) -> np.ndarray:
    """Lloyd iterations over the COLLECTED training sliver — numpy on
    the driver. The sliver is bounded by construction (~points-per-
    centroid x centroids vectors, ~2 MB at the defaults, independent of
    corpus size), so this is sketch-sized driver state, not a corpus
    collect: the same shape as Misra-Gries rescoring. Versus running
    each Lloyd pass as Spark jobs this removes ~3 jobs/iteration of
    pure fixed overhead (pandas-UDF stage launch + shuffle of C x dim
    cells) — at bench scale that overhead WAS the training time.
    Rows are sorted by id for a partitioning-independent sum order.
    """
    if len(rows) < n_centroids:
        raise ValueError(
            f"need >= {n_centroids} training vectors, got {len(rows)} "
            "(train_fraction too small for this corpus?)"
        )
    rows = sorted(rows, key=lambda r: r["i"])
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    order = sorted(range(len(rows)), key=lambda k: (rows[k]["h"], rows[k]["i"]))
    cents = _normalize_rows(mat[order[:n_centroids]].copy())
    normed = _normalize_rows(mat.copy())
    for _ in range(iters):
        sims = normed @ cents.T
        # stable argsort => ties break on centroid id, matching the UDF
        clusters = np.argsort(-sims, axis=1, kind="stable")[:, 0]
        new = cents.copy()  # empty clusters keep their old centroid
        for c in range(n_centroids):
            members = mat[clusters == c]
            if len(members):
                new[c] = members.sum(axis=0) / len(members)
        cents = _normalize_rows(new)
    return cents


def _lloyd_distributed(
    train: DataFrame, dim: int, n_centroids: int, iters: int
) -> np.ndarray:
    """Distributed Lloyd for explicitly-oversized training fractions:
    each iteration is one assignment pass (arrow UDF matmul) + one
    (cluster, dim-position) sum/count aggregation; only C x dim cells
    ever reach the driver regardless of training-set size."""
    train = train.persist()
    try:
        init = train.orderBy("h", "i").limit(n_centroids).collect()
        if len(init) < n_centroids:
            raise ValueError(
                f"need >= {n_centroids} training vectors, got {len(init)} "
                "(train_fraction too small for this corpus?)"
            )
        cents = _normalize_rows(
            np.array([r["v"] for r in init], dtype=np.float64)
        )
        for _ in range(iters):
            assign = _ivf_probe_udf(cents, 1)
            assigned = train.select(
                assign(F.col("v"))[0].alias("cluster"), "v"
            )
            cells = (
                assigned.select(
                    "cluster", F.posexplode("v").alias("pos", "x")
                )
                .groupBy("cluster", "pos")
                .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
                .collect()
            )
            new = cents.copy()  # empty clusters keep their old centroid
            sums = np.zeros((len(cents), dim))
            counts = np.zeros(len(cents))
            for r in cells:
                sums[r["cluster"], r["pos"]] = r["s"]
                counts[r["cluster"]] = r["n"]
            nonempty = counts > 0
            new[nonempty] = sums[nonempty] / counts[nonempty, None]
            cents = _normalize_rows(new)
    finally:
        train.unpersist()
    return cents


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    seed: int = DEFAULT_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
    prebuilt=None,
    cents: np.ndarray | None = None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index.

    The corpus partitions into n_centroids Voronoi cells (one cluster
    id per vector — the 'inverted lists'); each query probes its nprobe
    nearest cells and reranks exactly within them. Versus SRP-LSH this
    adapts to the data distribution (trained centroids) at the cost of
    a training pass. At 100 TB the assignment output would be written
    bucketed by cluster so the probe join is co-located and prunes to
    nprobe/n_centroids of the data per query.

    ``prebuilt`` (an ``ann_index.AnnIndex``) switches to the
    train-once / serve-many posture: centroids load from the artifact
    (no training job) and cell assignments come from the persisted
    codes table (no assignment scan of raw vectors) — raw vectors are
    only read for the exact within-cell rerank. Results are
    bit-identical to the in-session path with matching parameters
    (training is seeded/partition-stable and float64 survives parquet
    exactly; pinned by tests/test_ann_index.py).

    ``cents`` (consulted only when ``prebuilt`` is None) injects
    centroids trained by ``ivf_train_centroids`` with the same params;
    training is deterministic, so the result is bit-identical to
    retraining here (pinned by tests/test_similarity_shared_training.py).
    ``corpus_rows``: the trainer's ``n_rows``."""
    if prebuilt is not None:
        _check_prebuilt_dim(prebuilt, dim)
        if prebuilt.centroids is None:
            raise ValueError(f"index kind {prebuilt.kind!r} has no centroids")
        cents = prebuilt.centroids
        cells = prebuilt.codes(corpus.sparkSession).select(
            F.col("vec_id").alias("neighbor_id"), "cluster"
        )
        # static partition prune on the cluster-partitioned codes
        # table: the probed-cell union is computable driver-side from
        # the (small, serving-contract) query set before any scan
        # plans — one tiny job, and the cells scan reads only
        # nprobe/n_centroids of the files. The raw-vector side is not
        # cluster-partitioned here; at 100 TB the corpus would be
        # co-bucketed by cell so the rerank join prunes the same way.
        probed = queries.select(
            _ivf_probe_udf(cents, nprobe)(F.col(vec_col)).alias("cs")
        ).collect()
        needed = sorted({cell for r in probed for cell in r["cs"]})
        if needed:
            cells = cells.where(F.col("cluster").isin(needed))
        c = _vecs(corpus, id_col, vec_col, "c").join(cells, "neighbor_id")
    else:
        if cents is None:
            cents = ivf_train_centroids(
                corpus, dim, n_centroids, iters, seed, id_col, vec_col,
                train_fraction, n_rows=corpus_rows,
            )
        assign = _ivf_probe_udf(cents, 1)
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(vec_col).alias("cv"),
            assign(F.col(vec_col))[0].alias("cluster"),
        )
    probe = _ivf_probe_udf(cents, nprobe)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("qv"),
        F.explode(probe(F.col(vec_col))).alias("cluster"),
    )
    scored = (
        c.join(F.broadcast(q), "cluster")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _cos_1e6())
    )
    return _topk(scored, k)


#: Minimum exact-duplicate fraction at which the embedding
#: representative collapse pays for its groupBy + expansion joins —
#: the same measured break-even philosophy as the text family's
#: ``dedup._COLLAPSE_MIN_DUP_FRAC`` (see that docstring for why the
#: gate is a ratio, not existence).
_VEC_COLLAPSE_MIN_DUP_FRAC = 0.05


def _vec_fp(vec_col: str) -> Column:
    """128-bit JVM-side fingerprint of the RAW stored vector: two
    independently-seeded xxhash64 passes over the array column. A
    single 64-bit hash risks a silent merge of two different vectors
    at billion-row scale; two seeds put collisions past 2^-90 for any
    realistic corpus. Hashing the stored column (not the double cast)
    keeps the whole fingerprint inside whole-stage codegen."""
    v = F.col(vec_col)
    return F.struct(
        F.xxhash64(F.lit(1), v).alias("h1"),
        F.xxhash64(F.lit(2), v).alias("h2"),
    )


def _has_exact_dup_vecs(df: DataFrame, vec_col: str) -> bool:
    """ONE cheap aggregate probing whether the embedding corpus
    carries enough bitwise-identical vectors for the representative
    collapse to pay off: count vs approx-count-distinct of the vector
    fingerprint (map-side HLL partials, one row to the driver).

    Identical vectors are what make the blocked-matmul panels blow up
    quadratically — a 100-copy group contributes 100x rows to its
    panel and 4950 all-verify pairs — so the collapse trades one
    groupBy + slim expansion joins for matmul work that grows with
    the SQUARE of the dup multiplicity. Skipping is exactly lossless
    (identical vectors land in the same xxhash block / cluster and
    pair at cos=1 anyway); the gate only decides cost, mirroring
    ``dedup._has_exact_dups``."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(_vec_fp(vec_col), rsd=0.02).alias("d"),
    ).first()
    n, d = (r["n"] or 0), (r["d"] or 0)
    return n > 0 and (n - d) >= _VEC_COLLAPSE_MIN_DUP_FRAC * n


def _vec_groups(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, rep): every row mapped to the min id sharing its vector
    fingerprint — the embedding twin of ``dedup._exact_groups``.
    groupBy-then-join rather than min().over(): the aggregate gets
    map-side partial combine so the shuffle carries the dup histogram,
    not the corpus (same argument as the text family)."""
    keyed = df.select(
        F.col(id_col).alias("id"), _vec_fp(vec_col).alias("__fp")
    )
    mins = keyed.groupBy("__fp").agg(F.min("id").alias("rep"))
    return keyed.join(mins, "__fp").select("id", "rep")


def _self_cos_1e6(vec_col: str) -> Column:
    """floor(1e6 * cos(v, v)) with the EXACT arithmetic shape of the
    pair rescore (dot/(norm*norm), then *1e6, then floor): identical
    member vectors must reproduce the uncollapsed path's value bit-
    for-bit, including the ~1ulp-below-1.0 cases where float rounding
    makes cos(v,v) floor to 999999."""
    v = _as_double(vec_col)
    cos = dot(v, v) / (norm(v) * norm(v))
    return F.floor(cos * F.lit(1000000.0)).cast("long")


def _expand_rep_pairs(
    df: DataFrame,
    groups: DataFrame,
    threshold_1e6: int,
    id_col: str,
    vec_col: str,
    rep_pairs_of,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Collapsed path of embedding_/grouped_neardup_pairs: ``rep_pairs_of``
    scores the reps of ``groups`` (id, rep, ``keep``), then JVM joins
    regenerate the member pairs (see embedding_neardup_pairs)."""
    reps = df.join(
        groups.where(F.col("id") == F.col("rep")).select(
            F.col("id").alias(id_col)
        ),
        id_col,
        "left_semi",
    )
    rep_pairs = rep_pairs_of(reps)
    ga = groups.select(F.col("rep").alias("doc_a"), F.col("id").alias("ma"))
    gb = groups.select(F.col("rep").alias("doc_b"), F.col("id").alias("mb"))
    cross = (
        rep_pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            *keep,
            "cos_1e6",
        )
    )
    selfcos = reps.select(
        F.col(id_col).alias("rep"), _self_cos_1e6(vec_col).alias("cos_1e6")
    )
    m1 = groups.select(*keep, "rep", F.col("id").alias("doc_a"))
    m2 = groups.select("rep", F.col("id").alias("doc_b"))
    within = (
        m1.join(m2, "rep")
        .where(F.col("doc_a") < F.col("doc_b"))
        .join(selfcos, "rep")
        .where(F.col("cos_1e6") >= threshold_1e6)
        .select("doc_a", "doc_b", *keep, "cos_1e6")
    )
    return cross.unionByName(within)


def embedding_neardup_pairs(
    df: DataFrame,
    threshold_1e6: int = 950000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
    collapse: bool | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos >= threshold), exact.

    ``id_col`` must be an integral column: ids travel through int64
    numpy panels and the output orders pairs as doc_a < doc_b.

    Two stages, both distributed:
      1. Blocked all-pairs prefilter — vectors hash into n_blocks
         groups (xxhash64, balanced); every block *pair* is one task
         doing a single numpy matmul over its two vector panels, so the
         n² dot products run at BLAS speed instead of one interpreted
         HOF per pair. Candidates keep a 100-micro-unit margin below
         the threshold to absorb summation-order rounding.
      2. Exact rescore of the (few) candidates with the deterministic
         left-to-right JVM dot product — bit-identical to the SQL
         oracle's list_inner_product, so the margin never leaks an
         off-by-one-ulp pair in or out.

    At 100 TB, stage 1 is the classic blocked similarity join: B(B+1)/2
    independent tasks, each streaming two column panels; n_blocks
    scales with corpus size to bound panel memory.

    ``collapse`` (probe-gated by default, same contract as
    ``dedup.ngram_jaccard_pairs``): bitwise-identical vectors grow the
    matmul panels linearly and the panel WORK quadratically — a corpus
    that is 100 verbatim copies costs 10000x the distinct matmul. When
    the HLL probe measures enough exact duplication, the matmul runs
    on one representative per distinct vector and the (by-definition
    quadratic) output is regenerated with JVM joins: cross pairs carry
    the rep pair's exact rescored cosine (members ARE the rep's
    doubles), within-group pairs get the rep's self-cosine computed
    with the rescore's exact arithmetic shape. Output-equivalent at
    any dup ratio; pass ``collapse=`` to skip the probe scan.
    """
    if collapse is None:
        collapse = _has_exact_dup_vecs(df, vec_col)
    if collapse:
        # slim (id, rep) frame, consumed by 4 plans below — persist so
        # the md5-style groupBy+join runs once, not per consumer
        groups = _vec_groups(df, id_col, vec_col).persist()
        return _expand_rep_pairs(
            df,
            groups,
            threshold_1e6,
            id_col,
            vec_col,
            lambda reps: embedding_neardup_pairs(
                reps, threshold_1e6, id_col, vec_col, n_blocks, collapse=False
            ),
        )
    # parallel arrays (ids + vectors), NOT an array<struct>: Arrow moves
    # each as one contiguous column and numpy stacks without a Python
    # dict per element — at 20k vectors this is the difference between
    # the matmul dominating and per-row decoding dominating
    blocked = df.select(
        F.pmod(F.xxhash64(F.lit(DEFAULT_SEED), F.col(id_col)), F.lit(n_blocks))
        .cast("int")
        .alias("block"),
        F.col(id_col).alias("id"),
        _as_double(vec_col).alias("v"),
    ).groupBy("block").agg(
        F.collect_list("id").alias("ids"),
        F.collect_list("v").alias("vs"),
    )
    pairs = (
        blocked.alias("a")
        .join(
            blocked.alias("b"),
            F.col("a.block") <= F.col("b.block"),
        )
        .select(
            F.col("a.block").alias("block_a"),
            F.col("a.ids").alias("ids_a"),
            F.col("a.vs").alias("vs_a"),
            F.col("b.block").alias("block_b"),
            F.col("b.ids").alias("ids_b"),
            F.col("b.vs").alias("vs_b"),
        )
    )
    margin = 100

    def scan(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b = [], []
            for ids_a, vs_a, ids_b, vs_b, same in zip(
                pdf["ids_a"],
                pdf["vs_a"],
                pdf["ids_b"],
                pdf["vs_b"],
                pdf["block_a"] == pdf["block_b"],
            ):
                ids_a = np.asarray(ids_a, dtype=np.int64)
                ids_b = np.asarray(ids_b, dtype=np.int64)
                ma = _normalize_rows(np.stack(vs_a))
                mb = _normalize_rows(np.stack(vs_b))
                sims = ma @ mb.T
                hot = sims * 1e6 >= threshold_1e6 - margin
                if same:
                    # within a block: strict id order dedupes + drops self
                    hot &= ids_a[:, None] < ids_b[None, :]
                    ii, jj = np.nonzero(hot)
                    out_a.append(ids_a[ii])
                    out_b.append(ids_b[jj])
                else:
                    # across blocks both id orders occur: orient afterwards
                    ii, jj = np.nonzero(hot)
                    la, lb = ids_a[ii], ids_b[jj]
                    out_a.append(np.minimum(la, lb))
                    out_b.append(np.maximum(la, lb))
            empty = np.array([], dtype=np.int64)
            yield pd.DataFrame(
                {
                    "doc_a": np.concatenate(out_a) if out_a else empty,
                    "doc_b": np.concatenate(out_b) if out_b else empty,
                }
            )

    cands = pairs.mapInPandas(scan, "doc_a long, doc_b long")
    a = df.select(F.col(id_col).alias("doc_a"), _as_double(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("doc_b"), _as_double(vec_col).alias("vb"))
    cos = dot(F.col("va"), F.col("vb")) / (norm(F.col("va")) * norm(F.col("vb")))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.floor(cos * F.lit(1000000.0)).cast("long").alias("cos_1e6"),
        )
        .where(F.col("cos_1e6") >= threshold_1e6)
    )


def topk_recall(
    truth: DataFrame,
    approx: DataFrame,
    variant: str,
    floor_per_1000: int,
) -> DataFrame:
    """``topk_recall_by_variant`` of one approximate top-k against the
    exact one: one row (variant, truth_pairs, meets_floor)."""
    cols = ("query_id", "neighbor_id")
    return topk_recall_by_variant(
        _stack(truth, approx, variant, cols), {variant: floor_per_1000}
    )


def topk_ranking_quality(
    truth: DataFrame,
    approx: DataFrame,
    variant: str,
    k: int,
    mrr_floor_per_1000: int,
    ndcg_floor_per_1000: int,
) -> DataFrame:
    """``topk_ranking_quality_by_variant`` of one approximate top-k
    against the exact one: one row (variant, n_queries,
    meets_mrr_floor, meets_ndcg_floor)."""
    cols = ("query_id", "neighbor_id", "rank")
    return topk_ranking_quality_by_variant(
        _stack(truth, approx, variant, cols),
        k,
        {variant: (mrr_floor_per_1000, ndcg_floor_per_1000)},
    )


def _stack(truth: DataFrame, approx: DataFrame, variant: str, cols) -> DataFrame:
    """truth + approx as one long frame, truth labelled 'exact'."""
    return truth.select(F.lit("exact").alias("variant"), *cols).unionByName(
        approx.select(F.lit(variant).alias("variant"), *cols)
    )


def topk_recall_by_variant(
    long: DataFrame, floors_per_1000: dict[str, int]
) -> DataFrame:
    """In-engine recall audit of each listed variant of a long
    (variant, query_id, neighbor_id, ...) top-k frame against its
    'exact' rows: one row (variant, truth_pairs, meets_floor) per
    variant, in ``floors_per_1000`` order.

    ``meets_floor`` folds the approximate side's recall into a value
    that is STABLE across scale factors (the exact recall number is
    corpus-dependent; whether it clears a pinned floor is not), so the
    audit is oracle-able: a SQL twin recomputes ``truth_pairs`` from
    the deterministic brute-force contract (k rows per query) and
    expects ``meets_floor`` true. Recall regression in any approximate
    variant then fails the hard correctness gate, not just a local test.
    """
    agg = _variant_sums(long, floors_per_1000)
    return _variant_rows(agg, floors_per_1000, lambda i, floor: [
        F.col("pairs").cast("long").alias("truth_pairs"),
        (
            F.floor(F.lit(1000.0) * F.col(f"hits{i}") / F.col("pairs"))
            >= F.lit(floor)
        ).alias("meets_floor"),
    ])


def topk_ranking_quality_by_variant(
    long: DataFrame, k: int, floors_per_1000: dict[str, tuple[int, int]]
) -> DataFrame:
    """Rank-AWARE audit of each listed variant of a long (variant,
    query_id, neighbor_id, rank, ...) top-k frame against its 'exact'
    rows: one row (variant, n_queries, meets_mrr_floor,
    meets_ndcg_floor) per variant, floors given as (mrr, ndcg) per 1000.
    Complements the recall audit (set overlap): MRR scores WHERE the
    first true neighbor lands in the approximate ranking, binary-
    relevance NDCG@k scores the whole list's ordering; a query with no
    hit in a variant scores 0 there.

    Exactness: reciprocal ranks and DCG discounts are integer
    constants (floor(1e6/rank), floor(1e6/log2(i+1)) literals), means
    are integer divisions — so the floor comparisons are drift-free
    and, like the recall audit, oracle-able as pinned booleans that
    fail the hard gate if ranking quality regresses.
    """
    agg = _variant_sums(long, floors_per_1000, k)
    return _variant_rows(agg, floors_per_1000, lambda i, floors: [
        F.col("nq").cast("long").alias("n_queries"),
        (F.expr(f"div(rr{i}, nq)") >= F.lit(floors[0] * 1000)).alias(
            "meets_mrr_floor"
        ),
        (F.expr(f"div(ndcg{i}, nq)") >= F.lit(floors[1] * 1000)).alias(
            "meets_ndcg_floor"
        ),
    ])


def _variant_sums(long: DataFrame, variants, k: int | None = None) -> DataFrame:
    """One aggregation over the rows of a long top-k frame whose pair is
    among its query's 'exact' rows: exact pairs and queries (pairs, nq),
    then per listed variant i its hits (hits{i}) and, given ``k``, its
    sums of per-query reciprocal rank and NDCG (rr{i}, ndcg{i}, 1e6
    units). Membership is a per-query window: a semi join against a
    filtered copy would fork the plan and run its candidate pass twice."""
    truth = F.collect_set(
        F.when(F.col("variant") == "exact", F.col("neighbor_id"))
    ).over(Window.partitionBy("query_id"))
    hits = long.withColumn("__truth", truth).where(
        F.array_contains("__truth", F.col("neighbor_id"))
    )
    per_q = hits.groupBy("variant", "query_id")
    sums = ["hits"]
    if k is None:
        per_q = per_q.agg(F.count("*").alias("hits"))
    else:
        weights = [int(1_000_000 // math.log2(i + 1)) for i in range(1, k + 1)]
        w_arr = F.array([F.lit(w) for w in weights])
        per_q = per_q.agg(
            F.count("*").alias("hits"),
            F.expr("div(1000000, min(rank))").alias("rr"),
            F.sum(F.element_at(w_arr, F.col("rank").cast("int"))).alias("dcg"),
        ).withColumn("ndcg", F.expr(f"div(dcg * 1000000, {sum(weights)})"))
        sums += ["rr", "ndcg"]
    is_v = lambda v: F.col("variant") == v  # noqa: E731
    return per_q.agg(
        F.sum(F.when(is_v("exact"), F.col("hits"))).alias("pairs"),
        F.count(F.when(is_v("exact"), 1)).alias("nq"),
        *[
            F.coalesce(F.sum(F.when(is_v(v), F.col(c))), F.lit(0)).alias(f"{c}{i}")
            for i, v in enumerate(variants)
            for c in sums
        ],
    )


def _variant_rows(agg: DataFrame, floors: dict, row) -> DataFrame:
    """One output row per listed variant from the one-row aggregate
    ``agg``; ``row(i, floor)`` gives the i-th variant's columns."""
    structs = [
        F.struct(F.lit(v).alias("variant"), *row(i, floor))
        for i, (v, floor) in enumerate(floors.items())
    ]
    return agg.select(F.inline(F.array(*structs)))


def kmeans_assign_int(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collapse: bool | None = None,
) -> DataFrame:
    """Exact-integer Lloyd k-means: the oracle-checkable variant of
    ``ivf_train_centroids`` (which is float spherical k-means, rows-only
    by nature). Every quantity is int64, so an unrolled-K SQL twin is
    bit-identical — the iterative-ML class gets a hard correctness gate,
    not just a recall floor.

    Contract (mirrored by the oracle):
      * dims quantized ``floor(double(x) * scale)`` (float->double is
        exact; double multiply identical both engines);
      * init centroids = the k smallest ``id_col`` rows, cluster label
        = that id;
      * assignment = exact int squared-L2 argmin, ties to the LOWEST
        cluster id;
      * update = per-dim FLOOR(sum/count) (Python ``//``; the oracle
        must sign-correct DuckDB's truncating ``//``);
      * clusters that lose all members are dropped (both engines derive
        the surviving set identically).

    Scale: assignment is a broadcast-centroid arrow matmul (int64) —
    the corpus never shuffles; the update is a posexplode +
    map-side-combinable (cluster, dim) aggregation collecting only
    k*dim cells to the driver per iteration. The canonical distributed
    Lloyd shape: centroids live driver-side, data stays put.

    ``collapse`` (probe-gated, same family contract as
    ``embedding_neardup_pairs``): identical QUANTIZED vectors get
    identical assignments, and the floor-mean update is exactly
    weight-decomposable — sum/count over members == sum(v*m)/sum(m)
    over distinct vectors carrying multiplicity m — so on a measured
    dup-heavy corpus every per-iteration pass (argmin UDF, posexplode,
    cell agg) runs over the distinct-q frame only and members take
    their vector's cluster through one final join on q. Grouping keys
    on q itself (no hash): collision-free, and map-side partial
    combine shrinks the groupBy shuffle to the dup histogram.
    Bit-identical output either path; probe-skipped corpora pay one
    HLL scan.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    qvec = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long"),
    )
    base = df.select(F.col(id_col).alias("id"), qvec.alias("q")).persist()
    init = base.orderBy("id").limit(k).collect()
    if len(init) < k:
        raise ValueError(f"need >= {k} vectors, got {len(init)}")
    cents: dict[int, list[int]] = {int(r["id"]): list(r["q"]) for r in init}
    if collapse is None:
        r = base.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("q", rsd=0.02).alias("d"),
        ).first()
        n, d = (r["n"] or 0), (r["d"] or 0)
        collapse = n > 0 and (n - d) >= _VEC_COLLAPSE_MIN_DUP_FRAC * n
    if collapse:
        work = (
            base.groupBy("q").agg(F.count(F.lit(1)).alias("__m")).persist()
        )
    else:
        work = base.select("q", F.lit(1).cast("long").alias("__m"))

    def _assign_udf(cent_map: dict[int, list[int]]):
        ids = np.array(sorted(cent_map), dtype=np.int64)
        mat = np.array([cent_map[i] for i in ids], dtype=np.int64)

        @pandas_udf(LongType())
        def best(vecs: pd.Series) -> pd.Series:
            q = np.stack(vecs.to_numpy()).astype(np.int64)
            d = q[:, None, :] - mat[None, :, :]
            costs = np.einsum("bkd,bkd->bk", d, d)
            # argmin returns the FIRST minimum; ids sorted ascending =>
            # ties break to the lowest cluster id, same as the oracle's
            # row_number() ORDER BY cost, cluster
            return pd.Series(ids[np.argmin(costs, axis=1)])

        return best

    for _ in range(iters):
        best = _assign_udf(cents)
        cells = (
            work.select(best(F.col("q")).alias("cluster"), "q", "__m")
            .select("cluster", "__m", F.posexplode("q").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(
                F.sum(F.col("v") * F.col("__m")).alias("s"),
                F.sum("__m").alias("n"),
            )
            .collect()
        )
        nxt: dict[int, list[int]] = {}
        for r in cells:
            vec = nxt.setdefault(int(r["cluster"]), [0] * len(init[0]["q"]))
            vec[int(r["pos"])] = int(r["s"]) // int(r["n"])  # Python //: floor
        cents = nxt  # empty clusters drop out, same as the oracle
    best = _assign_udf(cents)
    # base/work stay persisted: the caller's action re-reads them for
    # the final assignment (house pattern — small frames ride the LRU)
    if collapse:
        assigned = work.select("q", best(F.col("q")).alias("cluster"))
        return base.join(assigned, "q").select(
            F.col("id").alias(id_col), "cluster"
        )
    return base.select(
        F.col("id").alias(id_col), best(F.col("q")).alias("cluster")
    )


def grouped_neardup_pairs(
    df: DataFrame,
    group_col: str,
    threshold_1e6: int = 420000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collapse: bool | None = None,
) -> DataFrame:
    """Within-group cosine near-dup pairs (cos >= threshold), exact —
    the group-bounded sibling of ``embedding_neardup_pairs`` for
    SemDeDup-style pipelines where a clustering has already decided
    WHICH pairs are worth comparing (pairs never cross groups).

    Same two-stage contract: (1) one numpy panel matmul per group
    (BLAS speed, margin-padded threshold) to find candidates —
    measured 9x faster than folding an interpreted HOF dot product
    per pair; (2) exact left-to-right JVM rescore of candidates only,
    bit-identical to a SQL oracle's list_inner_product, so the margin
    never leaks an off-by-one-ulp pair in or out.

    Scale: one shuffle on ``group_col`` to build panels; each group is
    one task. Groups beyond ~100k vectors should be sub-blocked with
    embedding_neardup_pairs' hash scheme inside the group (panel RAM
    is O(|group| x dim)); at catalog scale a k-means cluster is far
    below that.

    ``collapse``: probe-gated representative collapse for bitwise-
    identical vectors, the group-bounded twin of
    ``embedding_neardup_pairs``'s (see there for the cost argument).
    Fingerprint groups are keyed by (group, vector-hash) so a vector
    duplicated ACROSS groups never collapses across the group
    boundary — pairs must not cross groups.
    """
    if collapse is None:
        collapse = _has_exact_dup_vecs(df, vec_col)
    if collapse:
        grp = F.col(group_col).cast("long")
        keyed = df.select(
            grp.alias("grp"),
            F.col(id_col).alias("id"),
            _vec_fp(vec_col).alias("__fp"),
        )
        mins = keyed.groupBy("grp", "__fp").agg(F.min("id").alias("rep"))
        # slim (grp, id, rep) frame, 4 consumers — persist (see the
        # ungrouped twin). ids are unique per the operator contract,
        # so a rep id alone identifies its (grp, fp) group and the
        # expansion joins key on the rep id only.
        groups = (
            keyed.join(mins, ["grp", "__fp"])
            .select("grp", "id", "rep")
            .persist()
        )
        return _expand_rep_pairs(
            df,
            groups,
            threshold_1e6,
            id_col,
            vec_col,
            lambda reps: grouped_neardup_pairs(
                reps, group_col, threshold_1e6, id_col, vec_col, collapse=False
            ),
            keep=("grp",),
        )
    blocked = df.select(
        F.col(group_col).cast("long").alias("grp"),
        F.col(id_col).alias("id"),
        _as_double(vec_col).alias("v"),
    ).groupBy("grp").agg(
        F.collect_list("id").alias("ids"),
        F.collect_list("v").alias("vs"),
    )
    margin = 100

    def scan(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b, out_g = [], [], []
            for grp, ids, vs in zip(pdf["grp"], pdf["ids"], pdf["vs"]):
                ids = np.asarray(ids, dtype=np.int64)
                if len(ids) < 2:
                    continue
                m = _normalize_rows(np.stack(vs))
                sims = m @ m.T
                hot = (sims * 1e6 >= threshold_1e6 - margin) & (
                    ids[:, None] < ids[None, :]
                )
                ii, jj = np.nonzero(hot)
                out_a.append(ids[ii])
                out_b.append(ids[jj])
                out_g.append(np.full(len(ii), grp, dtype=np.int64))
            empty = np.array([], dtype=np.int64)
            yield pd.DataFrame(
                {
                    "doc_a": np.concatenate(out_a) if out_a else empty,
                    "doc_b": np.concatenate(out_b) if out_b else empty,
                    "grp": np.concatenate(out_g) if out_g else empty,
                }
            )

    cands = blocked.mapInPandas(scan, "doc_a long, doc_b long, grp long")
    a = df.select(F.col(id_col).alias("doc_a"), _as_double(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("doc_b"), _as_double(vec_col).alias("vb"))
    cos = dot(F.col("va"), F.col("vb")) / (norm(F.col("va")) * norm(F.col("vb")))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("grp"),
            F.floor(cos * F.lit(1000000.0)).cast("long").alias("cos_1e6"),
        )
        .where(F.col("cos_1e6") >= threshold_1e6)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the byte-coded embedding path. At 100 TB
# the raw float corpus does not fit hot storage: PQ stores ~m bytes per
# vector (64-dim float32 -> 8 codes here = 32x smaller), serves the
# candidate scan from codes alone via asymmetric-distance lookups
# (ADC), and rescores only a shortlist against the raw vectors. Jegou
# et al., "Product Quantization for Nearest Neighbor Search" (public).
# ---------------------------------------------------------------------------


def _plain_lloyd(mat: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Plain L2 Lloyd over a driver-resident training sliver. Unlike
    _lloyd_driver this does NOT normalize between iterations — PQ
    subvector codebooks live in the raw subspace (normalizing 8-dim
    slices of an already-normalized 64-dim vector would distort them).
    Init = first k rows (callers pass rows pre-ordered by the xxhash
    draw, so init is a deterministic pseudo-random sample); stable
    argsort tie-break; empty clusters keep their centroid."""
    cents = mat[:k].copy()
    for _ in range(iters):
        d2 = _sq_dists(mat, cents)
        clusters = np.argsort(d2, axis=1, kind="stable")[:, 0]
        new = cents.copy()
        for c in range(k):
            members = mat[clusters == c]
            if len(members):
                new[c] = members.mean(axis=0)
        cents = new
    return cents


def pq_train_codebooks(
    df: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 3,
    seed: int = DEFAULT_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_points_per_centroid: int = 256,
    n_rows: int | None = None,
) -> np.ndarray:
    """Per-subspace L2 codebooks over NORMALIZED vectors ->
    (m, n_codes, dim//m). Vectors are unit-normalized before slicing so
    ADC L2 ranking is monotone with cosine (the corpus truth metric).

    Training follows the ivf_train_centroids sizing rule: codebook
    quality needs ~100s of points per centroid, not the corpus, so a
    deterministic xxhash sliver (stable across partitionings) is
    collected driver-side — bounded at n_codes x train_points_per_
    centroid rows (~1 MB at the defaults) regardless of corpus size;
    the full corpus is only ever touched by the one encode pass."""
    # n_rows: caller-known exact count (same contract and rationale as
    # ivf_train_centroids.n_rows)
    n = df.count() if n_rows is None else n_rows
    bound = _sliver_bound(n, n_codes * train_points_per_centroid)
    rows = _train_rows(df, seed, id_col, vec_col, bound).collect()
    return _pq_codebooks(rows, dim, m, n_codes, iters)


def _pq_codebooks(
    rows: list, dim: int, m: int, n_codes: int, iters: int
) -> np.ndarray:
    """``pq_train_codebooks`` over an already collected sliver."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if len(rows) < n_codes:
        raise ValueError(
            f"need >= {n_codes} training vectors, got {len(rows)}"
        )
    # deterministic pseudo-random order for init; stable across
    # partitionings because it keys on values, not arrival order
    rows = sorted(rows, key=lambda r: (r["h"], r["i"]))
    mat = _normalize_rows(
        np.array([r["v"] for r in rows], dtype=np.float64)
    )
    dsub = dim // m
    return np.stack(
        [
            _plain_lloyd(mat[:, j * dsub : (j + 1) * dsub], n_codes, iters)
            for j in range(m)
        ]
    )


def _pq_encode_kernel(codebooks: np.ndarray):
    """(batch, dim) float64 matrix -> (batch, m) codes: the nearest
    codebook entry per subspace of the normalized vector. Ties take the
    lowest code id (stable argsort), so codes are deterministic across
    partitionings. The ONE encode implementation — pq_encode,
    cosine_topk_ivfpq, the variant evaluator and ann_index build/append
    all call it, so stored and in-session codes are bit-identical by
    construction."""
    m, n_codes, dsub = codebooks.shape
    cb = codebooks.copy()

    def encode(mat: np.ndarray) -> np.ndarray:
        mat = _normalize_rows(mat)
        out = np.empty((len(mat), m), dtype=np.int64)
        for j in range(m):
            d2 = _sq_dists(mat[:, j * dsub : (j + 1) * dsub], cb[j])
            out[:, j] = np.argsort(d2, axis=1, kind="stable")[:, 0]
        return out

    return encode


def _pq_encode_udf(codebooks: np.ndarray):
    return _kernel_udf(_pq_encode_kernel(codebooks))


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<long>) — one Arrow-batched matmul pass via
    ``_pq_encode_udf`` (see there for the determinism contract)."""
    encode = _pq_encode_udf(codebooks)
    return df.select(
        F.col(id_col).alias("vec_id_pq"), encode(_as_double(vec_col)).alias("codes")
    )


def _collect_queries(
    queries: DataFrame, id_col: str, vec_col: str, *extra: Column
) -> tuple[np.ndarray, np.ndarray, list]:
    """The query block on the driver, sorted by id: (ids, raw float64
    vectors, the rows with any ``extra`` columns)."""
    rows = sorted(
        queries.select(
            F.col(id_col).alias("qid"), _as_double(vec_col).alias("qv"), *extra
        ).collect(),
        key=lambda r: r["qid"],
    )
    qids = np.array([r["qid"] for r in rows], dtype=np.int64)
    return qids, np.array([r["qv"] for r in rows], dtype=np.float64), rows


def _adc_lut(qmat: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """LUT[q, j, c] = ||q_subj - codebook[j][c]||^2 for normalized
    queries; the ADC distance of a coded vector for query q is
    sum_j LUT[q, j, code_j]."""
    m, n_codes, dsub = codebooks.shape
    lut = np.empty((len(qmat), m, n_codes), dtype=np.float64)
    for j in range(m):
        lut[:, j, :] = _sq_dists(qmat[:, j * dsub : (j + 1) * dsub], codebooks[j])
    return lut


def _adc_local_shortlist(
    ids: np.ndarray,
    codes: np.ndarray,
    lut: np.ndarray,
    qids: np.ndarray,
    shortlist: int,
    cells: np.ndarray | None = None,
    qcells=None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One batch's (query_id, neighbor_id, adc_1e6) top-``shortlist``
    rows per query by ADC distance, self-matches excluded, restricted
    to each query's ``qcells`` (queries x nprobe) when given. Exact for
    the global shortlist: every global top row is in its batch's one."""
    dist = np.zeros((len(qids), len(ids)), dtype=np.float64)
    for j in range(lut.shape[1]):  # fixed subspace order: deterministic
        dist += lut[:, j, codes[:, j]]
    # quantized BEFORE the local cut: local and global selection must
    # sort on the IDENTICAL key (quantized dist, id)
    dq = np.floor(dist * 1e6).astype(np.int64)
    keep = ids[None, :] != qids[:, None]
    if qcells is not None:
        keep &= (cells[None, :, None] == np.asarray(qcells)[:, None, :]).any(2)
    # per query: kept rows first, then by (adc, id)
    order = np.lexsort((np.broadcast_to(ids, dq.shape), dq, ~keep), axis=1)
    qi, ri = np.indices(order.shape)[0][:, :shortlist], order[:, :shortlist]
    sel = keep[qi, ri]
    return qids[qi[sel]], ids[ri[sel]], dq[qi, ri][sel]


_ADC_SCHEMA = "query_id long, neighbor_id long, adc_1e6 long"


def _shortlist(
    partial: DataFrame, shortlist: int | Column, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Per-query global shortlist of ADC candidates: the
    ``shortlist`` smallest (adc_1e6, neighbor_id)."""
    w = Window.partitionBy(*keys, "query_id").orderBy(
        F.col("adc_1e6").asc(), F.col("neighbor_id")
    )
    return (
        partial.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= shortlist)
        .select(*keys, "query_id", "neighbor_id")
    )


def _adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codes: DataFrame,
    codebooks: np.ndarray,
    k: int,
    shortlist: int,
    id_col: str,
    vec_col: str,
    probe=None,
    prune: bool = False,
) -> DataFrame:
    """The PQ variants' serving tail over a (vec_id_pq[, cluster],
    codes) frame. ``probe`` (an IVF probe UDF) restricts candidates to
    each query's probed cells; ``prune`` also filters ``codes`` on them."""
    extra = () if probe is None else (probe(F.col(vec_col)).alias("cells"),)
    qids, qv, qrows = _collect_queries(queries, id_col, vec_col, *extra)
    qcells = None if probe is None else [r["cells"] for r in qrows]
    if prune and qcells:
        # on the cluster-partitioned artifact codes table this isin()
        # is a PartitionFilter: the ADC stage reads nprobe/n_centroids
        # of the FILES, not just of the rows
        codes = codes.where(F.col("cluster").isin(sorted(set().union(*qcells))))
    lut = _adc_lut(_normalize_rows(qv), codebooks)

    def partial(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cells = None if qcells is None else pdf["cluster"].to_numpy(np.int64)
            q, n, d = _adc_local_shortlist(
                pdf["vec_id_pq"].to_numpy(dtype=np.int64),
                np.array(pdf["codes"].tolist(), dtype=np.int64),
                lut, qids, shortlist, cells, qcells,
            )
            yield pd.DataFrame({"query_id": q, "neighbor_id": n, "adc_1e6": d})

    cands = _shortlist(codes.mapInPandas(partial, _ADC_SCHEMA), shortlist)
    return _rescore_topk(cands, queries, corpus, k, id_col, vec_col)


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    shortlist: int = 50,
    iters: int = 3,
    seed: int = DEFAULT_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prebuilt=None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via PQ ADC shortlist + exact rescore:
    (query_id, neighbor_id, rank, cos_1e6) — the LSH/IVF output shape.

    Serving shape: the corpus is scanned as CODES ONLY (m int64s here;
    m bytes in a packed production layout) with per-query distances
    read from a broadcast (n_queries x m x n_codes) lookup table — no
    float vector math per candidate. Each Arrow batch keeps its local
    top-``shortlist`` per query (exact for global shortlist
    selection), a per-query window takes the global shortlist, and
    only those ids rejoin the raw vectors for the exact cosine
    re-rank. ADC sums run in fixed subspace order per row ->
    deterministic; shortlist ties break on neighbor id.

    ``prebuilt`` (an ``ann_index.AnnIndex``) is the train-once /
    serve-many posture: codebooks load from the artifact (no training
    job) and the ADC scan reads the PERSISTED codes table — the
    serving path never touches raw corpus vectors except to rescore
    the shortlist. Bit-identical to in-session with matching params
    (pinned by tests/test_ann_index.py)."""
    if prebuilt is not None:
        _check_prebuilt_dim(prebuilt, dim)
        if prebuilt.codebooks is None:
            raise ValueError(f"index kind {prebuilt.kind!r} has no codebooks")
        codebooks = prebuilt.codebooks
        codes = prebuilt.codes(corpus.sparkSession).select(
            F.col("vec_id").alias("vec_id_pq"), "codes"
        )
    else:
        codebooks = pq_train_codebooks(
            corpus, dim, m, n_codes, iters, seed, id_col, vec_col,
            n_rows=corpus_rows,
        )
        codes = pq_encode(corpus, codebooks, id_col, vec_col)
    return _adc_topk(
        corpus, queries, codes, codebooks, k, shortlist, id_col, vec_col
    )


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 32,
    shortlist: int = 200,
    iters: int = 2,
    seed: int = DEFAULT_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prebuilt=None,
    cents: np.ndarray | None = None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """IVF-PQ: the composed production serving shape (FAISS's IVFPQ,
    public) — coarse spherical-k-means cells prune the corpus to
    nprobe/n_centroids per query, ADC over PQ codes ranks candidates
    WITHOUT touching raw floats, and only the per-query shortlist is
    rescored exactly. At 100 TB: inverted lists are stored bucketed by
    cell carrying m-byte codes (32x smaller than float32), the probe
    join is co-located, and raw vectors are fetched for shortlist ids
    only.

    Cells come from ivf_train_centroids, codebooks from
    pq_train_codebooks; both key on value hashes, so results are
    deterministic. Output shape as the sibling ANN variants.

    ``prebuilt`` (an ``ann_index.AnnIndex`` of kind 'ivfpq') is the
    full train-once / serve-many posture: centroids + codebooks load
    from the artifact and the candidate scan reads the persisted
    (cell, codes) table directly — the query path runs zero training
    jobs and zero raw-vector scans outside the shortlist rescore.
    Bit-identical to in-session with matching params (pinned by
    tests/test_ann_index.py).

    ``cents`` / ``corpus_rows``: as in ``cosine_topk_ivf``; the ivf and
    ivfpq defaults train identical coarse centroids."""
    if prebuilt is not None:
        _check_prebuilt_dim(prebuilt, dim)
        if prebuilt.centroids is None or prebuilt.codebooks is None:
            raise ValueError(
                f"index kind {prebuilt.kind!r} lacks centroids or codebooks"
            )
        cents = prebuilt.centroids
        codebooks = prebuilt.codebooks
        codes = prebuilt.codes(corpus.sparkSession).select(
            F.col("vec_id").alias("vec_id_pq"), "cluster", "codes"
        )
    else:
        if cents is None:
            cents = ivf_train_centroids(
                corpus, dim, n_centroids, iters, seed, id_col, vec_col,
                n_rows=corpus_rows,
            )
        codebooks = pq_train_codebooks(
            corpus, dim, m, n_codes, iters, seed, id_col, vec_col,
            n_rows=corpus_rows,
        )
        assign = _ivf_probe_udf(cents, 1)
        # one corpus scan computes BOTH the cell and the codes (two
        # Arrow UDFs over the same projection) — a join of the two
        # passes measured 33.6s at 2M vectors, scan-side fusion
        # removes it
        encode = _pq_encode_udf(codebooks)
        codes = corpus.select(
            F.col(id_col).alias("vec_id_pq"),
            assign(F.col(vec_col))[0].alias("cluster"),
            encode(_as_double(vec_col)).alias("codes"),
        )
    return _adc_topk(
        corpus, queries, codes, codebooks, k, shortlist, id_col, vec_col,
        probe=_ivf_probe_udf(cents, nprobe), prune=prebuilt is not None,
    )


# The configuration cosine_topk_all_variants evaluates: IVF and IVF-PQ
# cells / probes / Lloyd iterations, SRP-LSH planes x tables, PQ
# subspaces x codes / codebook iterations, and the ADC shortlist.
AUDIT_CELLS, AUDIT_NPROBE, AUDIT_ITERS = 16, 4, 2
AUDIT_PLANES, AUDIT_TABLES = 4, 16
AUDIT_M, AUDIT_CODES, AUDIT_PQ_ITERS = 8, 32, 3
AUDIT_SHORTLIST = 200


def cosine_topk_all_variants(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    corpus_rows: int | None = None,
) -> DataFrame:
    """(variant, query_id, neighbor_id, rank, cos_1e6) for variant in
    exact / ivf / lsh / pq / ivfpq over (vec_id, embedding) frames, from
    one Python pass over the corpus (see the module docstring). Each
    variant's rows equal, bit for bit, those of its own function run
    with the AUDIT_* configuration and DEFAULT_SEED; ``cosine_topk_pq``
    trains with AUDIT_PQ_ITERS, ``cosine_topk_ivfpq`` with AUDIT_ITERS."""
    n = corpus.count() if corpus_rows is None else corpus_rows
    bounds = [_sliver_bound(n, c * 256) for c in (AUDIT_CELLS, AUDIT_CODES)]
    # the slivers nest (same key, two bounds): collect the wider once
    sliver = _train_rows(corpus, DEFAULT_SEED, "vec_id", "embedding", max(bounds))
    rows = sliver.withColumn("p", _sliver_key(DEFAULT_SEED, "i")).collect()
    ivf_rows, pq_rows = ([r for r in rows if r["p"] < b] for b in bounds)
    cents = _lloyd_driver(ivf_rows, dim, AUDIT_CELLS, AUDIT_ITERS)
    assign = _ivf_probe_kernel(cents, 1)
    buckets = _srp_kernel(
        np.stack([srp_planes(dim, AUDIT_PLANES, t) for t in range(AUDIT_TABLES)])
    )
    qids, qv, _ = _collect_queries(queries, "vec_id", "embedding")
    qprobes, qbuckets = _ivf_probe_kernel(cents, AUDIT_NPROBE)(qv), buckets(qv)
    adc = []  # (variant, encoder, LUT, probed cells per query or None)
    for name, its, qcells in (
        ("pq", AUDIT_PQ_ITERS, None), ("ivfpq", AUDIT_ITERS, qprobes)
    ):
        codebooks = _pq_codebooks(pq_rows, dim, AUDIT_M, AUDIT_CODES, its)
        lut = _adc_lut(_normalize_rows(qv), codebooks)
        adc.append((name, _pq_encode_kernel(codebooks), lut, qcells))

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            mat = np.array(pdf["cv"].tolist(), dtype=np.float64)
            cells = assign(mat)[:, 0]
            other = ids[None, :] != qids[:, None]  # (queries, batch)
            ivf = (cells[None, :, None] == qprobes[:, None, :]).any(2)
            lsh = (buckets(mat)[None] == qbuckets[:, None]).any(2)
            out = []
            for name, hit in (("exact", other), ("ivf", other & ivf), ("lsh", other & lsh)):
                qi, ri = np.nonzero(hit)
                out.append(pd.DataFrame(
                    {"variant": name, "query_id": qids[qi], "neighbor_id": ids[ri]}
                ))
            for name, encode, lut, qcells in adc:
                q, nb, d = _adc_local_shortlist(
                    ids, encode(mat), lut, qids, AUDIT_SHORTLIST, cells, qcells
                )
                out.append(pd.DataFrame(
                    {"variant": name, "query_id": q, "neighbor_id": nb, "adc_1e6": d}
                ))
            # adc_1e6 is NaN (-> null) outside the ADC variants
            yield pd.concat(out, ignore_index=True)

    c = _vecs(corpus, "vec_id", "embedding", "c")
    cands = c.mapInPandas(scan, "variant string, " + _ADC_SCHEMA).repartition(
        "query_id"
    )
    # the shortlist cut applies to the ADC variants only
    keep = F.when(F.col("adc_1e6").isNull(), F.col("r")).otherwise(AUDIT_SHORTLIST)
    return _rescore_topk(
        _shortlist(cands, keep, ("variant",)), queries, corpus, k, "vec_id",
        "embedding", ("variant",),
    )
