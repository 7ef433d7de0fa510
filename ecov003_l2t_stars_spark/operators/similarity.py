"""Similarity search over embedding columns (array<float>).

Engine-new training-data-pipeline component. Two paths:

- :func:`cosine_topk_bruteforce` — exact all-pairs baseline. Dot products
  are JVM-side ``aggregate(zip_with(...))`` LEFT FOLDS in index order, so
  the DuckDB oracle reproduces them bit-for-bit (same discipline as the
  percentile formula, SURVEY §7.2). Quadratic: the verification path.
- :func:`lsh_topk` — random-hyperplane LSH: sign-bit signatures bucket
  vectors; top-k is computed within buckets only (multi-probe via several
  independent tables). Sub-quadratic scale path; recall measured against
  the brute-force baseline in tests.

At 100 TB the brute-force path is only ever run per-bucket after LSH (or
against a broadcast query set); norms are precomputed once.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ecov003_l2t_stars_spark.session import prune_zip_importers


def _guard_quadratic(op: str, df: DataFrame, max_rows: int | None) -> None:
    """Refuse to build an all-pairs plan over more than ``max_rows`` rows.

    The count is a single cheap column-pruned job — negligible next to
    the n² join it prevents. ``max_rows=None`` opts out explicitly.
    """
    if max_rows is None:
        return
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"{op} is a quadratic verification path: input has {n} rows "
            f"> max_rows={max_rows}. Use the LSH/banded scale path, or "
            f"pass max_rows=None to opt in to the n^2 join."
        )


def _dot(a: Column, b: Column) -> Column:
    """Left-fold dot product in index order (cross-engine reproducible)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("_norm", F.sqrt(_dot(F.col(vec_col), F.col(vec_col))))


def cosine_topk_bruteforce(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_rows: int | None = 10_000,
) -> DataFrame:
    """Exact top-k cosine neighbors per vector (self-join baseline).

    Ties break on ascending neighbor id (deterministic).

    Quadratic VERIFICATION path: guarded by ``max_rows`` (one cheap
    count job) so a caller cannot accidentally launch an n² self-join on
    a large table — pass ``max_rows=None`` to opt out; ``lsh_topk`` is
    the unbounded scale path.
    """
    _guard_quadratic("cosine_topk_bruteforce", emb, max_rows)
    n = with_norm(emb, vec_col).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "_norm"
    )
    # the non-equi self-join is a BroadcastNestedLoopJoin whose
    # parallelism equals the STREAMED side's partition count — a
    # single-file input otherwise runs the whole n^2 on one core
    n_part = int(
        emb.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    a = n.repartition(n_part).select(
        F.col("_id").alias("vec_id"), F.col("_v").alias("_va"),
        F.col("_norm").alias("_na"))
    b = n.select(F.col("_id").alias("neighbor_id"), F.col("_v").alias("_vb"),
                 F.col("_norm").alias("_nb"))
    pairs = a.join(b, F.col("vec_id") != F.col("neighbor_id"))
    cos = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cosine", "rank")
    )


def hyperplanes(dim: int, n_bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n_bits, dim)).astype(np.float64)


def probe_cells_col(
    df: DataFrame, cents: np.ndarray, vec_col: str, n_probe: int
) -> Column:
    """``array<int>`` of the ``n_probe`` nearest centroid ids per vector.

    Assignment runs as an Arrow-batched pandas UDF against a *broadcast*
    NumPy centroid matrix: one BLAS matmul per batch
    (``d = |x|^2 - 2 X@C.T + |c|^2``), so both the Catalyst plan size and
    the per-row work are independent of ``n_centroids`` — the
    literal-expression CASE chain this replaces compiled
    O(n_centroids^2 * dim) expression nodes and choked long before real
    IVF cell counts (sqrt(N) ~ thousands). Ties break to the lowest cell
    index (stable argsort). Mirrors the reference's "stack pixels into a
    matrix, one linear-algebra call" strategy
    (VNP43NRT_jl/src/VNP43NRT.jl:310-340) at Arrow-batch granularity.
    """
    bc = df.sparkSession.sparkContext.broadcast(
        np.ascontiguousarray(cents, dtype=np.float64)
    )
    k = int(n_probe)

    @pandas_udf("array<int>")
    def _probe(v: pd.Series) -> pd.Series:
        prune_zip_importers()
        C = bc.value
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.array(v.tolist(), dtype=np.float64)
        d = (
            (X * X).sum(axis=1, keepdims=True)
            - 2.0 * (X @ C.T)
            + (C * C).sum(axis=1)[None, :]
        )
        order = np.argsort(d, axis=1, kind="stable")[:, :k].astype(np.int32)
        return pd.Series(list(order))

    return _probe(F.col(vec_col))


def _cell_col(df: DataFrame, cents: np.ndarray, vec_col: str) -> Column:
    """Single nearest-cell id (first probe)."""
    return F.element_at(probe_cells_col(df, cents, vec_col, 1), 1)


def auto_ivf_params(n_vectors: int, fit_points_per_cell: int = 256
                    ) -> tuple[int, int]:
    """Production IVF sizing: n_centroids ≈ √N (the standard IVF
    balance point — √N cells × √N vectors/cell keeps probe fan-out and
    per-cell re-rank both O(√N)), and a ``sample_mod`` that caps the
    k-means fit sample at ~``fit_points_per_cell``·n_centroids points
    (at 100 TB you fit the quantizer on a hash-sample and assign
    everything). Returns (n_centroids, sample_mod)."""
    import math

    n_centroids = max(math.isqrt(max(n_vectors, 1)), 1)
    sample_mod = max(n_vectors // (fit_points_per_cell * n_centroids), 1)
    return n_centroids, sample_mod


def _collect_fit_sample(
    emb: DataFrame, id_col: str, vec_col: str, sample_mod: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """ONE Spark job: collect the deterministic 1/sample_mod hash-sample
    as ``(ids, hashes, X)``, rows sorted by id.

    ``sample_mod`` is the driver-memory contract: the caller sizes it so
    the sample fits on the driver (``auto_ivf_params`` keeps it at
    ~256·√N points at any corpus size — the same capped-sample posture
    as ``pq_fit``'s ``sample_cap``). The xxhash64 values ride along so
    driver-side cell hashing bit-matches the JVM's."""
    sel = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.xxhash64(F.col(id_col)).alias("_h"),
    )
    if sample_mod > 1:
        sel = sel.where(F.pmod(F.col("_h"), F.lit(sample_mod)) == 0)
    rows = sorted(sel.collect(), key=lambda r: r["_id"])
    if not rows:
        raise ValueError(
            "ivf k-means sample is empty: lower sample_mod or check the "
            f"input (sample_mod={sample_mod})."
        )
    ids = np.array([r["_id"] for r in rows])
    hashes = np.array([r["_h"] for r in rows], dtype=np.int64)
    X = np.array([r["_v"] for r in rows], dtype=np.float64)
    return ids, hashes, X


def _kmeans_fit_counts(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    n_iters: int,
    dim: int,
    sample_mod: int = 1,
    sample: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None,
    tol: float = 1e-9,
) -> tuple[np.ndarray, dict[int, int]]:
    """Lloyd's k-means, driver-side NumPy over ONE collected hash-sample
    (centroids and sample are both metadata-scale; the caller's
    ``sample_mod`` bounds driver memory — see :func:`_collect_fit_sample`).

    The r4 form ran init + every iteration as separate Spark agg jobs —
    n_iters+1 full scans of the corpus per fit, the dominant cost of
    every ANN query (VERDICT r4 #6). Now: one collect, then vectorized
    Lloyd with a centroid-movement early exit (relative tol); init =
    per-centroid mean of an xxhash64 partition of the sample (data
    dependent, deterministic, no RNG over rows; the hash values come
    from the JVM so the partition matches the old plan's). Hash cells
    the sample misses are re-seeded from the mean of present cell-means
    plus a small deterministic perturbation, so the fit always returns
    exactly ``n_centroids`` centroids. Assignment uses the same
    float64 ``|x|²-2XCᵀ+|c|²`` / first-argmin rule as
    :func:`probe_cells_col`, so the returned cell-size estimate agrees
    with the distributed assignment (exact at sample_mod=1).
    """
    if sample is None:
        sample = _collect_fit_sample(emb, id_col, vec_col, sample_mod)
    _ids, hashes, X = sample

    def _cell_means(
        cells: np.ndarray, prev: np.ndarray | None
    ) -> tuple[np.ndarray, np.ndarray]:
        sums = np.zeros((n_centroids, X.shape[1]), dtype=np.float64)
        np.add.at(sums, cells, X)
        cnt = np.bincount(cells, minlength=n_centroids)
        out = np.empty_like(sums)
        nz = cnt > 0
        out[nz] = sums[nz] / cnt[nz, None]
        if prev is not None:
            out[~nz] = prev[~nz]  # empty clusters keep their centroid
        elif not nz.all():
            gmean = out[nz].mean(axis=0)
            for c in np.flatnonzero(~nz):
                rng = np.random.default_rng(c)
                out[c] = gmean + 1e-3 * (np.abs(gmean).mean() + 1.0) * (
                    rng.standard_normal(X.shape[1])
                )
        return out, cnt

    init_cells = (hashes % n_centroids).astype(np.int64)
    cents, cnt = _cell_means(init_cells, None)
    scale = float(np.abs(cents).max()) + 1e-30
    for _ in range(n_iters):
        d = (
            (X * X).sum(axis=1, keepdims=True)
            - 2.0 * (X @ cents.T)
            + (cents * cents).sum(axis=1)[None, :]
        )
        assign = np.argmin(d, axis=1)
        new_cents, cnt = _cell_means(assign, cents)
        moved = float(np.abs(new_cents - cents).max())
        cents = new_cents
        if moved <= tol * scale:
            break
    # full-data cell-size ESTIMATE from the fit's own assignment counts
    # (exact at sample_mod=1; scaled otherwise). Free — no extra job.
    est = {
        int(c): int(n) * sample_mod
        for c, n in enumerate(cnt) if n > 0
    }
    return cents, est


def _apply_cell_cap(
    members: DataFrame,
    probes: DataFrame,
    cell_est: dict[int, int],
    cell_cap: int | None,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Salt skewed IVF cells into ⌈size/cap⌉ shards (members by id
    hash, probes fanned to every shard). Shard counts come from the
    k-means fit's own per-cell counts — no extra agg/joins, the plan
    grows by O(#oversized) literals, and the zero-skew (common) case
    keeps the exact uncapped plan. A stale estimate only mis-sizes
    shards, never the result: each member lands in exactly one shard
    either way. Returns (members, probes, cogroup keys)."""
    oversized = (
        {
            c: -(-n // cell_cap)  # ceil
            for c, n in cell_est.items()
            if n > cell_cap
        }
        if cell_cap is not None
        else {}
    )
    if not oversized:
        return members, probes, ["_cell"]
    nsh_map = F.create_map(
        *[F.lit(x) for c, k2 in oversized.items() for x in (c, k2)]
    )
    members = members.withColumn(
        "_shard",
        F.when(
            nsh_map[F.col("_cell")].isNotNull(),
            F.pmod(F.xxhash64("_id"), nsh_map[F.col("_cell")]).cast("int"),
        ).otherwise(F.lit(0)),
    )
    probes = probes.withColumn(
        "_shard",
        F.explode(
            F.sequence(
                F.lit(0),
                F.coalesce(nsh_map[F.col("_cell")], F.lit(1)) - 1,
            )
        ),
    )
    return members, probes, ["_cell", "_shard"]


def ivf_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int | None = 8,
    n_probe: int = 3,
    n_iters: int = 3,
    dim: int = 64,
    sample_mod: int | None = 1,
    cell_cap: int | None = 8192,
) -> DataFrame:
    """IVF-style approximate top-k: k-means coarse quantizer buckets the
    vectors; each query probes its ``n_probe`` nearest cells and is
    re-ranked by exact cosine against candidates in those cells only.

    The k-means twin of :func:`lsh_topk` — expected candidate set is
    n * n_probe / n_centroids per query, sub-quadratic. Centroids are
    broadcast once as a NumPy matrix (metadata-scale); assignment and
    probe fan-out are Arrow-batched matmuls whose plan size is
    independent of ``n_centroids``, so the design survives production
    cell counts (sqrt(N)). The exact re-rank is COGROUPED BY CELL: one
    (queries × members) matmul per cell with a k-bounded per-cell top-k,
    so candidate PAIRS never materialize as rows — the global re-rank
    sees at most n · n_probe · k rows (each member lives in exactly one
    cell, so per-cell winners are disjoint across probes). Per-task
    memory is bounded by ``cell_cap``: members of a skewed k-means cell
    are salted into ⌈size/cap⌉ shards and probes fan out to every shard
    of a probed cell — each member is still scored exactly once, so the
    result is IDENTICAL to the uncapped plan (pinned in tests), while a
    degenerate cell costs probe duplication instead of an unbounded
    matmul on one task. Recall is measured against the brute-force
    baseline in tests, the same contract as ``lsh_topk``.

    ``n_centroids=None`` (or ``sample_mod=None``) sizes the quantizer
    from the data via :func:`auto_ivf_params` — n_centroids ≈ √N with
    the fit sample capped — at the cost of one count job.
    """
    if n_centroids is None or sample_mod is None:
        auto_c, auto_m = auto_ivf_params(emb.count())
        n_centroids = auto_c if n_centroids is None else n_centroids
        sample_mod = auto_m if sample_mod is None else sample_mod
    cents, cell_est = _kmeans_fit_counts(
        emb, id_col, vec_col, n_centroids, n_iters, dim, sample_mod
    )

    # members/probes are built from INDEPENDENT projections (fresh
    # expression ids): with the cell-cap joins in both sides, a shared
    # `n` makes the cogroup's analysis ambiguous (self-join check)
    def _n() -> DataFrame:
        return with_norm(emb, vec_col).select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "_norm"
        )

    # members: each vector lives in its single nearest cell
    n_m = _n()
    members = n_m.withColumn("_cell", _cell_col(n_m, cents, "_v"))
    # probes: each query fans out to its n_probe nearest cells
    n_p = _n()
    probes = n_p.withColumn(
        "_cell", F.explode(probe_cells_col(n_p, cents, "_v", n_probe))
    )
    id_type = emb.schema[id_col].dataType.simpleString()
    out_schema = (
        f"vec_id {id_type}, neighbor_id {id_type}, cosine double"
    )

    def cell_topk(probes_pdf: pd.DataFrame,
                  members_pdf: pd.DataFrame) -> pd.DataFrame:
        prune_zip_importers()
        empty = pd.DataFrame(
            {"vec_id": [], "neighbor_id": [], "cosine": []}
        )
        if len(probes_pdf) == 0 or len(members_pdf) == 0:
            return empty
        Q = np.array(probes_pdf["_v"].tolist(), dtype=np.float64)
        M = np.array(members_pdf["_v"].tolist(), dtype=np.float64)
        qn = probes_pdf["_norm"].to_numpy(dtype=np.float64)
        mn = members_pdf["_norm"].to_numpy(dtype=np.float64)
        cos = (Q @ M.T) / (qn[:, None] * mn[None, :])
        qids = probes_pdf["_id"].to_numpy()
        mids = members_pdf["_id"].to_numpy()
        cos[qids[:, None] == mids[None, :]] = -np.inf  # mask self
        # deterministic tie-break: ascending neighbor id
        mrank = np.argsort(np.argsort(mids, kind="stable"), kind="stable")
        kk = min(k, cos.shape[1])
        if cos.shape[1] > kk:
            part = np.argpartition(-cos, kk - 1, axis=1)[:, :kk]
        else:
            part = np.broadcast_to(
                np.arange(cos.shape[1]), cos.shape
            ).copy()
        rows = np.repeat(np.arange(len(Q)), part.shape[1])
        csub = cos[rows, part.ravel()]
        rsub = mrank[part.ravel()]
        order = np.lexsort((rsub, -csub, rows))
        take = order.reshape(len(Q), part.shape[1])[:, :kk].ravel()
        sel_q, sel_m = rows[take], part.ravel()[take]
        keep = np.isfinite(cos[sel_q, sel_m])
        return pd.DataFrame(
            {
                "vec_id": qids[sel_q[keep]],
                "neighbor_id": mids[sel_m[keep]],
                "cosine": cos[sel_q[keep], sel_m[keep]],
            }
        )

    members, probes, keys = _apply_cell_cap(
        members, probes, cell_est, cell_cap
    )
    cand = (
        probes.groupBy(*keys)
        .cogroup(members.groupBy(*keys))
        .applyInPandas(cell_topk, out_schema)
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cosine", "rank")
    )


def lsh_buckets_col(
    df: DataFrame, planes_by_table: np.ndarray, vec_col: str
) -> Column:
    """``array<long>`` of one packed sign-bit bucket id per table.

    One broadcast-NumPy pandas UDF for ALL tables: a single
    (batch × n_tables·n_bits) matmul then bit-packing — plan size and
    per-row cost independent of n_tables·n_bits·dim (the previous
    literal-plane expressions were O(n_bits·dim) literals with one
    interpreted fold per bit per row — the same class the IVF quantizer
    fix removed). Sign convention matches the fold path: bit = 1 iff
    dot > 0."""
    bc = df.sparkSession.sparkContext.broadcast(
        np.ascontiguousarray(planes_by_table, dtype=np.float64)
    )

    @pandas_udf("array<long>")
    def _buckets(v: pd.Series) -> pd.Series:
        prune_zip_importers()
        P = bc.value  # (n_tables, n_bits, dim)
        if len(v) == 0:
            return pd.Series([], dtype=object)
        n_tables, n_bits, dim = P.shape
        X = np.array(v.tolist(), dtype=np.float64)
        dots = X @ P.reshape(n_tables * n_bits, dim).T
        bits = (dots > 0).astype(np.int64).reshape(len(X), n_tables, n_bits)
        weights = (1 << np.arange(n_bits, dtype=np.int64))
        out = (bits * weights).sum(axis=2)  # (batch, n_tables)
        return pd.Series(list(out))

    return _buckets(F.col(vec_col))


def lsh_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_bits: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: per-(table, bucket) exact top-k, global
    re-rank. Sub-quadratic: candidates only form within buckets
    (expected bucket size n / 2^n_bits per table).

    Same scale shape as :func:`ivf_topk`: signatures are one broadcast
    matmul per Arrow batch, and the exact re-rank is COGROUPED BY
    (table, bucket) — one normalized matmul per bucket with a k-bounded
    top-k, so candidate pairs never materialize as rows. A pair found in
    several tables is deduplicated before the global window (unlike IVF
    cells, LSH buckets overlap across tables)."""
    planes = np.stack(
        [hyperplanes(dim, n_bits, seed=seed + t) for t in range(n_tables)]
    )
    n = with_norm(emb, vec_col).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "_norm"
    )
    tabled = n.select(
        "_id", "_v", "_norm",
        F.posexplode(lsh_buckets_col(n, planes, "_v")).alias(
            "_table", "_bucket"
        ),
    ).withColumn(
        "_cell", F.col("_table").cast("long") * F.lit(1 << n_bits) +
        F.col("_bucket")
    )

    id_type = emb.schema[id_col].dataType.simpleString()
    out_schema = (
        f"vec_id {id_type}, neighbor_id {id_type}, cosine double"
    )

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        prune_zip_importers()
        if len(pdf) < 2:
            return pd.DataFrame(
                {"vec_id": [], "neighbor_id": [], "cosine": []}
            )
        X = np.array(pdf["_v"].tolist(), dtype=np.float64)
        nr = pdf["_norm"].to_numpy(dtype=np.float64)
        ids = pdf["_id"].to_numpy()
        cos = (X @ X.T) / (nr[:, None] * nr[None, :])
        np.fill_diagonal(cos, -np.inf)
        rank = np.argsort(np.argsort(ids, kind="stable"), kind="stable")
        kk = min(k, cos.shape[1] - 1)
        part = np.argpartition(-cos, kk - 1, axis=1)[:, :kk]
        rows = np.repeat(np.arange(len(X)), part.shape[1])
        csub = cos[rows, part.ravel()]
        rsub = rank[part.ravel()]
        order = np.lexsort((rsub, -csub, rows))
        take = order.reshape(len(X), part.shape[1])[:, :kk].ravel()
        sel_q, sel_m = rows[take], part.ravel()[take]
        keep = np.isfinite(cos[sel_q, sel_m])
        return pd.DataFrame(
            {
                "vec_id": ids[sel_q[keep]],
                "neighbor_id": ids[sel_m[keep]],
                "cosine": cos[sel_q[keep], sel_m[keep]],
            }
        )

    cand = (
        tabled.groupBy("_cell")
        .applyInPandas(bucket_topk, out_schema)
        # tables overlap: the same pair can surface from several buckets
        # with last-ulp-different BLAS dots — max() dedups DETERMINISTICALLY
        .groupBy("vec_id", "neighbor_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cosine", "rank")
    )


def embedding_near_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.42,
    max_rows: int | None = 10_000,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: all (a < b) with
    cosine >= threshold.

    The embedding leg of the dedup family (exact / MinHash / SimHash /
    n-gram are the text legs). Quadratic VERIFICATION path — guarded by
    ``max_rows`` like the other all-pairs verifiers;
    :func:`embedding_near_dup_lsh` is the bucketed scale path. Cosines
    use the frozen index-order fold (:func:`_dot`), so the values are
    bit-identical to the DuckDB oracle twin.
    """
    _guard_quadratic("embedding_near_pairs", emb, max_rows)
    n = with_norm(emb, vec_col).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "_norm"
    )
    n_part = int(
        emb.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    # repartition the streamed side: the non-equi self-join is a
    # BroadcastNestedLoopJoin whose parallelism equals the streamed
    # side's partition count (single-file input → single-core n² else)
    a = n.repartition(n_part).select(
        F.col("_id").alias("vec_a"),
        F.col("_v").alias("_va"),
        F.col("_norm").alias("_na"),
    )
    b = n.select(
        F.col("_id").alias("vec_b"),
        F.col("_v").alias("_vb"),
        F.col("_norm").alias("_nb"),
    )
    cos = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def embedding_near_dup_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.42,
    k: int = 10,
    n_bits: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Bucketed scale path for embedding near-dup pairs: take each
    vector's LSH top-k (:func:`lsh_topk` — per-(table, bucket) matmuls,
    never all-pairs), keep neighbors above ``threshold``, canonicalize
    to (vec_a < vec_b).

    Approximate: a qualifying pair is found iff the two vectors share
    at least one LSH bucket AND the neighbor lands in the top-k —
    recall is pytest-measured against :func:`embedding_near_pairs`.
    ``k`` bounds per-vector output, so at near-dup thresholds (high
    cosine → high bucket-collision probability) recall approaches 1
    while work stays sub-quadratic.
    """
    top = lsh_topk(
        emb, id_col, vec_col, k=k, n_bits=n_bits, n_tables=n_tables,
        dim=dim, seed=seed,
    )
    return (
        top.where(F.col("cosine") >= threshold)
        .select(
            F.least("vec_id", "neighbor_id").alias("vec_a"),
            F.greatest("vec_id", "neighbor_id").alias("vec_b"),
            "cosine",
        )
        # a pair surfaces from both endpoints' top-k lists (and possibly
        # several tables) — max() dedups deterministically
        .groupBy("vec_a", "vec_b")
        .agg(F.max("cosine").alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Product quantization: the MEMORY tier of the ANN stack (IVF-PQ).
# A 64-dim float32 vector is 256 bytes; its PQ code is m bytes (m=8 →
# 32×). Candidates inside probed IVF cells are pre-selected by
# asymmetric distance (exact query-to-codebook sub-distances, table
# lookups over the codes), and only the top `rerank` survivors get the
# exact-cosine re-rank — at 10^9 vectors the full-precision vectors
# live in storage and only codes + codebooks need memory.
# ---------------------------------------------------------------------------
def pq_fit(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    nbits: int = 8,
    n_iters: int = 8,
    sample_cap: int = 65_536,
    sample: np.ndarray | None = None,
) -> np.ndarray:
    """Fit per-subspace codebooks: (m, 2^nbits, dim/m), driver-side
    Lloyd on a deterministic hash-sample of NORMALIZED vectors
    (codes then approximate cosine via L2: |a-b|² = 2-2cos on unit
    vectors). Codebooks are metadata-scale (m·2^nbits·dsub doubles);
    the sample is capped like the IVF quantizer's. Deterministic: rows
    sorted by id, round-robin init, no RNG over data.

    ``sample`` — an id-sorted raw-vector matrix (e.g. the IVF fit's
    :func:`_collect_fit_sample` X) — skips the count+collect entirely:
    :func:`ivf_pq_topk` fits both quantizers off ONE sampling job
    (VERDICT r4 #7)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if sample is not None:
        X = np.asarray(sample, dtype=np.float64)
    else:
        n = emb.count()
        mod = max(n // sample_cap, 1)
        s = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        if mod > 1:
            s = s.where(F.pmod(F.xxhash64("_id"), F.lit(mod)) == 0)
        rows = sorted(s.collect(), key=lambda r: r["_id"])
        X = np.array([r["_v"] for r in rows], dtype=np.float64)
    if len(X) == 0:
        raise ValueError("pq_fit sample is empty")
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
    ksub, dsub = 1 << nbits, dim // m
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    idx_mod = np.arange(len(X)) % ksub

    # Driver-side Lloyd cost used to be ~3.4-4.3 s single-core at a
    # 20k-row sample (m=8, ksub=256, 8 iters): (a) the per-cluster
    # `Xs[assign == c].mean(axis=0)` update re-scanned the whole sample
    # per cluster (O(n·ksub)/iter), (b) the distance matrix built three
    # (n × ksub) temporaries per iteration, (c) subspaces ran serially.
    # Fixes, all bit-identical: (a) one stable argsort + segment slices
    # (same rows, same ascending order, same np.mean); (b) in-place
    # evaluation G = X@Cᵀ; G *= -2; G += |x|²; G += |c|² — IEEE addition
    # is commutative, so (−2G + a) + c equals (a − 2G) + c bit-for-bit;
    # (c) the m independent subspaces fit on a thread pool (NumPy
    # releases the GIL in BLAS/ufuncs). Measured 3.4 s -> ~0.4 s.
    def _fit_sub(sub: int) -> np.ndarray:
        Xs = np.ascontiguousarray(X[:, sub * dsub:(sub + 1) * dsub])
        gmean = Xs.mean(axis=0)
        cents = np.empty((ksub, dsub))
        for c in range(ksub):
            sel = Xs[idx_mod == c]
            if len(sel):
                cents[c] = sel.mean(axis=0)
            else:
                rng = np.random.default_rng(c)
                cents[c] = gmean + 1e-3 * rng.standard_normal(dsub)
        xx = (Xs * Xs).sum(axis=1)
        G = np.empty((len(Xs), ksub), dtype=np.float64)
        for _ in range(n_iters):
            np.matmul(Xs, cents.T, out=G)
            G *= -2.0
            G += xx[:, None]
            G += (cents * cents).sum(axis=1)[None, :]
            assign = np.argmin(G, axis=1)
            order = np.argsort(assign, kind="stable")
            sa = assign[order]
            cuts = np.flatnonzero(
                np.concatenate(([True], sa[1:] != sa[:-1]))
            ).tolist() + [len(sa)]
            for j in range(len(cuts) - 1):
                c = sa[cuts[j]]
                cents[c] = Xs[order[cuts[j]:cuts[j + 1]]].mean(axis=0)
        return cents

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
        for sub, cents in enumerate(pool.map(_fit_sub, range(m))):
            books[sub] = cents
    return books


def pq_code_col(df: DataFrame, books: np.ndarray, vec_col: str) -> Column:
    """``array<smallint>`` PQ code of the NORMALIZED vector — one
    broadcast-NumPy pandas UDF, m bytes of information per vector.
    Column form so callers can attach codes to an existing projection
    (e.g. the IVF members side) instead of joining a separate
    (id, code) table back by id — the join was a full extra scan plus a
    shuffle keyed on the id (r6)."""
    m, ksub, dsub = books.shape
    bc = df.sparkSession.sparkContext.broadcast(
        np.ascontiguousarray(books)
    )

    @pandas_udf("array<smallint>")
    def _enc(v: pd.Series) -> pd.Series:
        prune_zip_importers()
        B = bc.value
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.array(v.tolist(), dtype=np.float64)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
        codes = np.empty((len(X), m), dtype=np.int16)
        for sub in range(m):
            Xs = X[:, sub * dsub:(sub + 1) * dsub]
            C = B[sub]
            d = (
                (Xs * Xs).sum(axis=1, keepdims=True)
                - 2.0 * (Xs @ C.T)
                + (C * C).sum(axis=1)[None, :]
            )
            codes[:, sub] = np.argmin(d, axis=1).astype(np.int16)
        return pd.Series(list(codes))

    return _enc(F.col(vec_col))


def pq_encode(
    emb: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, _code array<smallint>) table form of :func:`pq_code_col`."""
    return emb.select(
        F.col(id_col).alias("_id"),
        pq_code_col(emb, books, vec_col).alias("_code"),
    )


def ivf_pq_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int | None = 8,
    n_probe: int = 3,
    n_iters: int = 3,
    dim: int = 64,
    sample_mod: int | None = 1,
    m: int = 8,
    nbits: int = 8,
    rerank: int = 64,
    cell_cap: int | None = 8192,
) -> DataFrame:
    """IVF + PQ approximate top-k: probed cells' candidates are scored
    by ASYMMETRIC DISTANCE (the query's exact (m × 2^nbits) sub-distance
    table, summed over each candidate's m-byte code), the best
    ``rerank`` per query get the exact-cosine re-rank, the global
    window keeps k. Same cogrouped-by-cell shape as :func:`ivf_topk`;
    the ADC preselect replaces the full (queries × members) matmul with
    m table-gathers — the memory-tier trade (at production scale only
    codes + codebooks are resident; full vectors are fetched for the
    rerank set). Recall is pytest-measured and driver-checked via the
    containment + recall-floor oracle — a form that tolerates the
    last-ulp centroid wobble a loaded session's float-avg reduction
    order can introduce."""
    sample_mod = sample_mod if sample_mod is not None else 1
    fit_sample = _collect_fit_sample(emb, id_col, vec_col, sample_mod)
    cents, cell_est = _kmeans_fit_counts(
        emb, id_col, vec_col,
        n_centroids if n_centroids is not None
        else auto_ivf_params(emb.count())[0],
        n_iters, dim, sample_mod, sample=fit_sample,
    )
    # both quantizers fit off the ONE collected sample (r4 verdict #7)
    books = pq_fit(
        emb, id_col, vec_col, dim=dim, m=m, nbits=nbits,
        sample=fit_sample[2],
    )

    def _n() -> DataFrame:
        return with_norm(emb, vec_col).select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "_norm"
        )

    # codes ride the members projection as a column (same UDF, same
    # values) — the previous (id, code) table join re-scanned the
    # embeddings and shuffled both sides by id for nothing
    n_m = _n()
    members = n_m.withColumn("_cell", _cell_col(n_m, cents, "_v")).withColumn(
        "_code", pq_code_col(n_m, books, "_v")
    )
    n_p = _n()
    probes = n_p.withColumn(
        "_cell", F.explode(probe_cells_col(n_p, cents, "_v", n_probe))
    )
    id_type = emb.schema[id_col].dataType.simpleString()
    out_schema = f"vec_id {id_type}, neighbor_id {id_type}, cosine double"
    bc = emb.sparkSession.sparkContext.broadcast(np.ascontiguousarray(books))
    mm, ksub, dsub = books.shape
    kk_rerank = int(rerank)
    kk = int(k)

    def cell_topk_pq(probes_pdf: pd.DataFrame,
                     members_pdf: pd.DataFrame) -> pd.DataFrame:
        prune_zip_importers()
        empty = pd.DataFrame({"vec_id": [], "neighbor_id": [], "cosine": []})
        if len(probes_pdf) == 0 or len(members_pdf) == 0:
            return empty
        B = bc.value
        Q = np.array(probes_pdf["_v"].tolist(), dtype=np.float64)
        qn = probes_pdf["_norm"].to_numpy(dtype=np.float64)
        Qn = Q / np.maximum(qn[:, None], 1e-30)
        C = np.array(members_pdf["_code"].tolist(), dtype=np.int64)
        # ADC: dist[q, j] = Σ_s lut[q, s, C[j, s]]
        adc = np.zeros((len(Qn), len(C)), dtype=np.float64)
        for sub in range(mm):
            Qs = Qn[:, sub * dsub:(sub + 1) * dsub]
            Bs = B[sub]
            lut = (
                (Qs * Qs).sum(axis=1, keepdims=True)
                - 2.0 * (Qs @ Bs.T)
                + (Bs * Bs).sum(axis=1)[None, :]
            )  # (Qn, ksub)
            adc += lut[:, C[:, sub]]
        r = min(kk_rerank, adc.shape[1])
        if adc.shape[1] > r:
            pre = np.argpartition(adc, r - 1, axis=1)[:, :r]
        else:
            pre = np.broadcast_to(
                np.arange(adc.shape[1]), (len(Qn), adc.shape[1])
            ).copy()
        # exact re-rank on the preselected candidates only
        M = np.array(members_pdf["_v"].tolist(), dtype=np.float64)
        mn = members_pdf["_norm"].to_numpy(dtype=np.float64)
        qids = probes_pdf["_id"].to_numpy()
        mids = members_pdf["_id"].to_numpy()
        rows = np.repeat(np.arange(len(Qn)), pre.shape[1])
        cols = pre.ravel()
        cos = (Q[rows] * M[cols]).sum(axis=1) / (qn[rows] * mn[cols])
        cos[qids[rows] == mids[cols]] = -np.inf  # mask self
        # per-query top-k with deterministic tie-break (asc neighbor id).
        # pre is fixed-width (nQ, r): reshape the lexsorted order per query
        # and take the first k — same fully-vectorized pattern as cell_topk.
        # -inf (self-match) sorts last within a query, so truncate-then-
        # filter is equivalent to the skip-and-keep-counting loop it
        # replaces.
        order = np.lexsort((mids[cols], -cos, rows))
        width = pre.shape[1]
        take = order.reshape(len(Qn), width)[:, :min(kk, width)].ravel()
        keep = np.isfinite(cos[take])
        sel = take[keep]
        return pd.DataFrame(
            {
                "vec_id": qids[rows[sel]],
                "neighbor_id": mids[cols[sel]],
                "cosine": cos[sel],
            }
        )

    members, probes, keys = _apply_cell_cap(
        members, probes, cell_est, cell_cap
    )
    cand = (
        probes.groupBy(*keys)
        .cogroup(members.groupBy(*keys))
        .applyInPandas(cell_topk_pq, out_schema)
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cosine", "rank")
    )
