"""Similarity search over embedding columns (array<float>).

* :func:`brute_force_topk` — exact cosine top-k: broadcast the (small)
  query side across the corpus, JVM-side dot products via
  ``zip_with``/``aggregate`` (no Python in the hot path), per-query top-k
  with a window. At cluster scale the corpus stays partitioned; only the
  query set is broadcast, so no shuffle of the big side occurs until the
  final per-query top-k (bounded at ``|Q| * k`` rows by a partial top-k).
* :func:`hyperplane_lsh_buckets` — random-hyperplane (SimHash) bucketing:
  the scale path. Sign patterns of ``n_bits`` fixed hyperplanes become a
  bucket key; candidate pairs only form within buckets, turning the
  quadratic cross join into a per-bucket join.
* :func:`ivf_topk` — inverted-file (IVF) index: k-means centroids fit
  with distributed Lloyd iterations (only the k x dim centroid matrix
  ever reaches the driver), corpus partitioned into cells, queries probe
  the ``n_probe`` nearest cells. Scan cost drops from |corpus| to
  ~|corpus| * n_probe / n_centroids per query.

One scorer per operator: the candidate joins (IVF, LSH), cell
assignment and :func:`dedup.embedding_dup_pairs` all score with the
Catalyst :func:`_cosine` fold. :func:`brute_force_topk` is the one
operator with two paths: ``engine="jvm"`` is the exactness oracle the
gate replays bit-for-bit, and ``engine="arrow"`` is its fast path.
"""

from __future__ import annotations

import random

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "brute_force_topk",
    "hyperplane_lsh_buckets",
    "lsh_topk",
    "ivf_fit_centroids",
    "ivf_assign",
    "ivf_topk",
    "pq_train",
    "pq_encode",
    "pq_topk",
    "ivfpq_encode",
    "ivfpq_topk",
]


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _cosine(a, b):
    """Cosine similarity; 0.0 (not NULL / DIVIDE_BY_ZERO) when either
    vector has zero norm — an all-zero embedding (empty document)
    should rank as unrelated, not poison the top-k with NULL sims or
    abort the job under ANSI mode."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm_a = F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    norm_b = F.sqrt(
        F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    denom = norm_a * norm_b
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot / denom)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    engine: str = "jvm",
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` rows per ``queries`` row.

    Returns (query_id, neighbor_id, rank, sim) with sim rounded to 4
    decimals (ranking uses the unrounded value; ties break on the
    lower neighbor id).

    Two paths by design, each behind a gate row (q_ann_topk,
    q_ann_arrow); every other similarity operator has one:

    * ``engine="jvm"`` (default): broadcast-join + ``zip_with``/
      ``aggregate`` cosine + window top-k — pure Catalyst with strict
      left-to-right fold order, so a sequential SQL oracle reproduces
      every double bit-for-bit (this is the exactness-oracle baseline
      the scale operators are validated against; keep it the default).
    * ``engine="arrow"``: the fast path. The (small, broadcast-by-
      contract) query side is collected ONCE into an ``nq x dim``
      numpy matrix and closure-shipped into a ``mapInArrow`` over the
      corpus: per batch one BLAS matmul scores every (query, corpus)
      pair, and a per-batch **partial top-k** emits only ``nq * k``
      candidate rows per batch — so the exchange feeding the final
      window shrinks from ``|C| * |Q|`` rows to ``batches * |Q| * k``
      (the partial/global top-k decomposition is exact: the global
      top-k is a subset of the union of per-batch top-ks). numpy's
      pairwise summation can differ from the sequential fold in the
      last ulp, so ranks agree wherever neighbors aren't ulp-degenerate
      (pinned by a parity test on real data); oracle rows keep the jvm
      engine.
    """
    if engine == "arrow":
        return _brute_force_topk_arrow(
            queries, corpus, k=k, id_col=id_col, vec_col=vec_col
        )
    if engine != "jvm":
        raise ValueError(f"unknown engine {engine!r} (jvm|arrow)")
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    sims = c.join(F.broadcast(q)).select(
        "query_id", "neighbor_id", _cosine(F.col("qv"), F.col("cv")).alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int"), F.round("sim", 4).alias("sim"))
    )


def _brute_force_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Arrow engine for :func:`brute_force_topk` (see its docstring)."""
    import numpy as np

    for side, df in (("queries", queries), ("corpus", corpus)):
        dtype = dict(df.dtypes).get(id_col)
        if dtype not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f'engine="arrow" needs an integral {id_col!r} '
                f"({side} has {dtype!r}); the jvm engine accepts any "
                "orderable id type"
            )
    q_rows = queries.select(id_col, vec_col).collect()
    if q_rows:
        q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
        q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
        q_norm = np.linalg.norm(q_mat, axis=1)
    else:
        q_ids = np.empty(0, dtype=np.int64)
        q_mat = None
    kk = k

    def partial_topk(batches):
        for batch in batches:
            if not len(batch) or q_mat is None:
                continue
            c_ids = batch.column("_nid").to_numpy()
            c_mat = np.array(batch.column("_cv").to_pylist(), dtype=np.float64)
            c_norm = np.linalg.norm(c_mat, axis=1)
            # dot / (|a| * |b|), the same arithmetic as _cosine
            # (normalizing the vectors first would add a second
            # rounding path); zero norms -> sim 0.0, also like _cosine
            dots = c_mat @ q_mat.T  # (batch, nq)
            den = np.outer(c_norm, q_norm)
            sims = np.divide(
                dots, den, out=np.zeros_like(dots), where=den != 0
            )
            take = min(kk, len(c_ids))
            out_q, out_n, out_s = [], [], []
            for j in range(len(q_ids)):
                # full (sim desc, id asc) order per query: the
                # partial/global decomposition is only exact when the
                # per-batch selection uses the same total order the
                # final window does — an argpartition on sim alone can
                # drop the lower id of a tie at the k-th boundary
                order = np.lexsort((c_ids, -sims[:, j]))
                sel = order[:take]
                out_q.append(np.full(take, q_ids[j]))
                out_n.append(c_ids[sel])
                out_s.append(sims[sel, j])
            yield pa.RecordBatch.from_pydict(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "sim": np.concatenate(out_s),
                }
            )

    prepared = corpus.select(
        F.col(id_col).cast("long").alias("_nid"),
        _as_double(F.col(vec_col)).alias("_cv"),
    )
    partial = prepared.mapInArrow(
        partial_topk, "query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int"),
            F.round("sim", 4).alias("sim"),
        )
    )


def _hyperplanes(dim: int, n_bits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)
    ]


def hyperplane_lsh_buckets(
    df: DataFrame,
    *,
    dim: int,
    n_bits: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector a random-hyperplane sign bucket (JVM-side)."""
    planes = _hyperplanes(dim, n_bits, seed)
    v = _as_double(F.col(vec_col))
    bits = []
    for plane in planes:
        lit_plane = F.array(*[F.lit(x) for x in plane])
        dot = F.aggregate(
            F.zip_with(v, lit_plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return df.select(
        F.col(id_col), F.col(vec_col), F.concat(*bits).alias("bucket")
    )


def _nearest_cells(vec_col, centroids: list[list[float]], n: int,
                   metric: str = "cosine"):
    """Column of the ``n`` nearest centroid ids (cosine or euclidean).

    Struct ordering trick: Spark sorts struct arrays lexicographically,
    so ``array_sort`` over ``struct(sort_key, cell)`` (negated sim for
    cosine, squared distance for l2) yields cells in nearest-first
    order — all JVM-side, no UDF.
    """
    v = _as_double(vec_col)
    ranked = []
    for cell, centroid in enumerate(centroids):
        c = F.array(*[F.lit(float(x)) for x in centroid])
        key = -_cosine(v, c) if metric == "cosine" else _l2(v, c)
        ranked.append(
            F.struct(key.alias("key"), F.lit(cell).alias("cell"))
        )
    return F.slice(F.array_sort(F.array(*ranked)), 1, n)


# One seed candidate per ~64 corpus rows: enough that any corpus with
# >= 64 * n_centroids rows (i.e. anything at scale) seeds from the
# sample, while the per-row filter is a single JVM hash.
_SEED_SAMPLE_MOD = 64


def seed_candidates(
    corpus: DataFrame,
    *,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic hash-sampled seed vectors for :func:`ivf_fit_centroids`.

    ``filter(pmod(xxhash64(id), 64) = 0)`` then lowest-id top-k: the
    top-k (TakeOrderedAndProject, never a global Sort/Exchange) runs
    over the sampled slice only. Exposed separately so plan tests can
    assert the physical shape.
    """
    sampled = corpus.select(id_col, vec_col).filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(_SEED_SAMPLE_MOD)) == 0
    )
    return (
        sampled.orderBy(id_col)
        .limit(n_centroids)
        .select(_as_double(F.col(vec_col)).alias("v"))
    )


def ivf_fit_centroids(
    corpus: DataFrame,
    *,
    n_centroids: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> list[list[float]]:
    """Fit k-means centroids with distributed Lloyd iterations.

    Deterministic: seeds are the ``n_centroids`` lowest-id vectors
    *within a hash-sampled slice* of the corpus
    (``pmod(xxhash64(id), _SEED_SAMPLE_MOD) = 0``) — stable across runs
    and partitionings, and the top-k ordering only ever sees ~1/64th of
    the corpus instead of every row (at 100 TB, ordering the full corpus
    just to pick 8 seed vectors would dominate the fit). The tiny-corpus
    case (sampled slice smaller than ``n_centroids``) falls back to the
    unsampled scan, which is cheap exactly when it happens. Each Lloyd
    iteration is one Spark pass — assign (JVM expression) +
    per-dimension mean via ``posexplode``/``groupBy`` — and only the
    k x dim centroid matrix is collected. Empty cells keep their
    previous centroid.
    """
    seeds = seed_candidates(
        corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
    ).collect()
    if len(seeds) < n_centroids:
        seeds = (
            corpus.select(id_col, vec_col)
            .orderBy(id_col)
            .limit(n_centroids)
            .select(_as_double(F.col(vec_col)).alias("v"))
            .collect()
        )
    centroids = [list(r["v"]) for r in seeds]
    for _ in range(iters):
        # Two projections: Spark's generator rewrite drops struct field
        # names when posexplode shares a select with the getField chain.
        assigned = corpus.select(
            _nearest_cells(F.col(vec_col), centroids, 1, metric)[0][
                "cell"
            ].alias("cell"),
            _as_double(F.col(vec_col)).alias("v"),
        ).select("cell", F.posexplode(F.col("v")).alias("pos", "val"))
        means = (
            assigned.groupBy("cell", "pos")
            .agg(F.avg("val").alias("mean"))
            .collect()
        )
        new = [list(c) for c in centroids]
        for row in means:
            new[row["cell"]][row["pos"]] = row["mean"]
        centroids = new
    return centroids


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    n_probe: int = 1,
    cell_col: str = "cell",
    metric: str = "cosine",
) -> DataFrame:
    """Attach nearest-centroid cell id(s); ``n_probe > 1`` explodes.
    ``metric`` must match how the centroids were fit."""
    cells = _nearest_cells(F.col(vec_col), centroids, n_probe, metric)
    if n_probe == 1:
        return df.withColumn(cell_col, cells[0]["cell"])
    return df.withColumn(
        cell_col, F.explode(F.transform(cells, lambda s: s["cell"]))
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    metric: str = "cosine",
) -> DataFrame:
    """Approximate cosine top-k via an IVF index.

    Corpus rows live in exactly one cell; each query probes its
    ``n_probe`` nearest cells, so the candidate join touches only those
    partitions of the corpus. Pass pre-fit ``centroids`` to amortize the
    fit across query batches (the production pattern: fit once per
    corpus snapshot, reuse for every query stream). ``metric`` governs
    both the fit and cell assignment — centroids fit with one metric
    and assigned with another silently degrade recall, so the same
    value threads through everywhere. Probed candidates are scored with
    the Catalyst :func:`_cosine` fold, the same scorer as the cell
    assignment and the jvm brute force.
    """
    if centroids is None:
        centroids = ivf_fit_centroids(
            corpus,
            n_centroids=n_centroids,
            iters=iters,
            id_col=id_col,
            vec_col=vec_col,
            metric=metric,
        )
    cb = ivf_assign(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        ),
        centroids,
        vec_col="cv",
        metric=metric,
    )
    qb = ivf_assign(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ),
        centroids,
        vec_col="qv",
        n_probe=n_probe,
        metric=metric,
    )
    sims = cb.join(F.broadcast(qb), "cell").select(
        "query_id",
        "neighbor_id",
        _cosine(_as_double(F.col("qv")), _as_double(F.col("cv"))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int"),
            F.round("sim", 4).alias("sim"),
        )
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    dim: int,
    k: int = 5,
    n_bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    The bucket join replaces the full cross join; recall depends on
    ``n_bits`` (fewer bits -> bigger buckets -> higher recall/cost).
    Candidates are scored with the Catalyst :func:`_cosine` fold.
    """
    qb = hyperplane_lsh_buckets(
        queries, dim=dim, n_bits=n_bits, seed=seed, id_col=id_col, vec_col=vec_col
    ).withColumnsRenamed({id_col: "query_id", vec_col: "qv"})
    cb = hyperplane_lsh_buckets(
        corpus, dim=dim, n_bits=n_bits, seed=seed, id_col=id_col, vec_col=vec_col
    ).withColumnsRenamed({id_col: "neighbor_id", vec_col: "cv"})
    sims = cb.join(F.broadcast(qb), "bucket").select(
        "query_id",
        "neighbor_id",
        _cosine(_as_double(F.col("qv")), _as_double(F.col("cv"))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int"), F.round("sim", 4).alias("sim"))
    )


# ------------------------------------------------------------------
# Product quantization (PQ): the memory-compression path for vector
# search at corpus scale. A dim-d float vector (d*4 bytes) becomes m
# uint8-sized codes (one per subspace), so a 100 TB embedding table
# shuffles/stores ~d*4/m times smaller; distances are computed
# asymmetrically (ADC): exact query sub-vectors against the coded
# corpus's reconstructed centroids.

# pq_encode compiles codebooks up to this many codewords (m * k) into
# literal JVM expressions and hands larger ones to its numpy kernel.
PQ_MAX_EXPR_CODEWORDS = 512


def _l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_geometry(codebooks: list[list[list[float]]]) -> tuple[int, int, int]:
    m = len(codebooks)
    k = len(codebooks[0])
    subdim = len(codebooks[0][0])
    return m, k, subdim


def _codebook_lit(codebooks: list[list[list[float]]]):
    """Nested literal array: cb[sub][code] = centroid (array<double>)."""
    return F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(float(x)) for x in code])
                    for code in sub
                ]
            )
            for sub in codebooks
        ]
    )


def pq_train(
    corpus: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split vectors into ``m`` subspaces and fit
    ``k`` k-means centroids per subspace (reusing the distributed
    Lloyd fit — each subspace trains over a sliced view of the corpus;
    only the m x k x (dim/m) codebook matrix reaches the driver).

    The Lloyd assignment runs with the euclidean metric (``metric=
    'l2'``) to match PQ's L2 encoding — cosine cells on low-dim
    sub-vectors of arbitrary norm misplace codewords (measured on
    clustered data: imperfect cluster retrieval vs all-from-cluster
    top-k with l2; intra-cluster fine ranking is below quantization
    resolution either way)."""
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must be divisible by m ({m})")
    subdim = dim // m

    def fit_sub(sub: int) -> list[list[float]]:
        sliced = corpus.select(
            F.col(id_col),
            F.slice(
                _as_double(F.col(vec_col)), sub * subdim + 1, subdim
            ).alias(vec_col),
        )
        return ivf_fit_centroids(
            sliced, n_centroids=k, iters=iters,
            id_col=id_col, vec_col=vec_col, metric="l2",
        )

    # The m subspace fits are independent; submit them from driver
    # threads so their Spark jobs interleave instead of serializing
    # m*(iters+1) corpus scans back-to-back (Spark's scheduler is
    # thread-safe for concurrent job submission; results stay
    # deterministic because each fit only depends on its own slice).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
        return list(pool.map(fit_sub, range(m)))


def _pq_codes_expr(vec_expr, codebooks: list[list[list[float]]]):
    """array<int> of per-subspace nearest-codeword indices (L2 argmin
    via ``array_min`` over (distance, code) structs — lexicographic
    struct ordering; ties resolve to the lowest code, matching a
    first-minimum scan). ``vec_expr`` should be a plain column
    reference: the expression replicates it per (sub, code) pair, so
    materialize computed vectors (e.g. residuals) in a projection
    first."""
    m, k, subdim = _pq_geometry(codebooks)
    codes = []
    for sub in range(m):
        subv = F.slice(vec_expr, sub * subdim + 1, subdim)
        candidates = [
            F.struct(
                _l2(
                    subv, F.array(*[F.lit(float(x)) for x in codeword])
                ).alias("d"),
                F.lit(code).alias("c"),
            )
            for code, codeword in enumerate(codebooks[sub])
        ]
        codes.append(F.array_min(F.array(*candidates))["c"])
    return F.array(*codes)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Attach ``code_col`` (array<int>, length m): per subspace, the
    index of the nearest codeword by L2.

    Two engines, chosen by codebook size and never by the caller:
    small codebooks compile to pure JVM expressions (zero Python), but
    the expression tree grows as m*k literal L2 terms and a production
    k=256 codebook runs out of memory while the plan is built — above
    ``PQ_MAX_EXPR_CODEWORDS`` total codewords the encode switches to
    an Arrow-batched numpy argmin (vectorized over the batch;
    codebooks ship once per worker in the UDF closure). Ties resolve to the lowest code in both engines
    (numpy argmin takes the first minimum). The original vector column
    is untouched; storage-conscious callers drop it after encoding."""
    m, k, subdim = _pq_geometry(codebooks)
    if m * k <= PQ_MAX_EXPR_CODEWORDS:
        return df.withColumn(
            code_col, _pq_codes_expr(_as_double(F.col(vec_col)), codebooks)
        )

    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    cb = np.asarray(codebooks, dtype=np.float64)  # (m, k, subdim)

    @F.arrow_udf(ArrayType(IntegerType()))
    def _codes(vecs: pa.Array) -> pa.Array:
        arr = np.asarray(vecs.to_pylist(), dtype=np.float64)  # (n, dim)
        subs = arr.reshape(len(arr), m, subdim)  # (n, m, subdim)
        # (n, m, k): squared distance of each sub-vector to each codeword
        d = ((subs[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
        codes = d.argmin(axis=2).astype("int32")  # first minimum on ties
        return pa.ListArray.from_arrays(
            np.arange(len(arr) + 1, dtype=np.int32) * m, pa.array(codes.ravel())
        )

    return df.withColumn(code_col, _codes(F.col(vec_col)))


def pq_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Approximate L2 top-k by asymmetric distance (ADC): the query's
    exact sub-vectors against each corpus row's reconstructed
    codewords. The (small) query side broadcasts; the coded corpus —
    m ints per row instead of dim floats — stays partitioned, and the
    final per-query top-k is a window over (distance, id).

    Returns (query_id, rank, corpus_id, dist) with rank 1..k, ``dist``
    the euclidean (sqrt) distance rounded to 4 decimals (ranking uses
    the unrounded value; ties break by corpus id).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    )
    c = corpus_codes.select(
        F.col(id_col).alias("corpus_id"), F.col(code_col).alias("codes")
    )
    scored = c.join(F.broadcast(q)).withColumn(
        "dist", F.sqrt(_adc_dist(F.col("qv"), F.col("codes"), codebooks))
    )
    return _dist_topk(scored, k)


def _adc_dist(query_vec_col, codes_col, codebooks: list[list[list[float]]]):
    """Asymmetric squared distance: exact query (sub-)vectors against
    the codewords named by ``codes_col``."""
    m, _, subdim = _pq_geometry(codebooks)
    cb = _codebook_lit(codebooks)
    dist = None
    for sub in range(m):
        qsub = F.slice(query_vec_col, sub * subdim + 1, subdim)
        codeword = F.element_at(
            F.element_at(cb, sub + 1), codes_col[sub] + 1
        )
        d = _l2(qsub, codeword)
        dist = d if dist is None else dist + d
    return dist


def _dist_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared epilogue of the distance-ranked top-k operators:
    (query_id, rank, corpus_id, dist), ascending distance, ties by
    corpus id, dist rounded to 4 (ranking on the unrounded value)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int"),
            "corpus_id",
            F.round("dist", 4).alias("dist"),
        )
    )


# ------------------------------------------------------------------
# IVF-PQ: the standard billion-scale index shape. A coarse quantizer
# partitions the corpus into cells; PQ encodes each vector's RESIDUAL
# (vector minus its cell centroid), which is far smaller in magnitude
# than the raw vector and quantizes more accurately. Queries probe
# only their n_probe nearest cells via a per-cell equi-join — never a
# corpus-wide cross join — and score by ADC on the residuals
# (l2(q - cent, v - cent) == l2(q, v), so full probing with lossless
# codebooks reproduces the exact ranking; the oracle pins this).


def _centroid_lit(centroids: list[list[float]]):
    return F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )


def ivfpq_encode(
    corpus: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """(``id_col``, cell, ``code_col``) per corpus vector: nearest
    coarse cell by L2, then PQ codes of the residual. Three
    projections so the nearest-cell expression and the residual each
    materialize ONCE — higher-order expressions are CodegenFallback
    and excluded from subexpression elimination, so an inline reuse
    would re-scan the centroid list per reference."""
    coarse = _centroid_lit(coarse_centroids)
    with_cell = corpus.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("__v"),
        _nearest_cells(F.col(vec_col), coarse_centroids, 1, "l2")[0][
            "cell"
        ].alias("cell"),
    )
    with_res = with_cell.select(
        F.col(id_col),
        "cell",
        F.zip_with(
            F.col("__v"),
            F.element_at(coarse, F.col("cell") + 1),
            lambda x, y: x - y,
        ).alias("residual"),
    )
    return with_res.select(
        F.col(id_col),
        "cell",
        _pq_codes_expr(F.col("residual"), codebooks).alias(code_col),
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    *,
    n_probe: int = 1,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Approximate euclidean top-k over an :func:`ivfpq_encode`'d
    corpus (``corpus_codes`` must carry ``id_col``/``cell``/
    ``code_col`` as that function emits them). Each query explodes
    into its ``n_probe`` nearest cells and equi-joins the coded corpus
    on ``cell`` (query side broadcast), so scan cost is ~|corpus| *
    n_probe / n_cells per query and the big side never cross-joins.
    ADC distance is computed on residuals.

    Returns (query_id, rank, corpus_id, dist) like :func:`pq_topk`.
    """
    coarse = _centroid_lit(coarse_centroids)
    probes = _nearest_cells(F.col(vec_col), coarse_centroids, n_probe, "l2")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
        F.explode(
            F.transform(probes, lambda s: s["cell"])
        ).alias("cell"),
    ).withColumn(
        "q_res",
        F.zip_with(
            F.col("qv"),
            F.element_at(coarse, F.col("cell") + 1),
            lambda x, y: x - y,
        ),
    )
    c = corpus_codes.select(
        F.col(id_col).alias("corpus_id"),
        "cell",
        F.col(code_col).alias("codes"),
    )
    scored = c.join(F.broadcast(q), "cell").withColumn(
        "dist", F.sqrt(_adc_dist(F.col("q_res"), F.col("codes"), codebooks))
    )
    return _dist_topk(scored, k)
