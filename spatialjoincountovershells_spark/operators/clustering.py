"""Distributed clustering operators: point-level DBSCAN over the
spatial cell grid, an integer-lattice Lloyd k-means over embedding
vectors, and the two training-pipeline compositions built on it —
SemDeDup semantic dedup and product-quantization encoding.

The spatial ops are DataFrame compositions of operators the engine
already has —
DBSCAN is the eps-range self-join (``shell_count.range_join_pairs``,
the reference's RangeSearch surface, ``src/objects/ArraySTR/
RangeSearch.c:11-52``) followed by the pointer-jumping connected
components used for near-dup clustering (``dedup.dedup_clusters``);
k-means is a broadcast-centroid assign + one exploded partial-agg
update per round.  Determinism contract (CLAUDE.md): every output
column is integral, every arithmetic step is exact int64, so each
operator has a bit-exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import dedup_clusters
from .shell_count import range_join_pairs

__all__ = ["dbscan_points", "lloyd_kmeans", "semantic_dedup", "pq_encode",
           "pq_ann_topk"]


def dbscan_points(
    points: DataFrame,
    eps: float,
    min_pts: int,
    box: float = 1000.0,
    id_col: str = "point_id",
    coords: tuple[str, str, str] = ("x", "y", "z"),
    dtype: str = "float64",
    ncells: int | None = None,
) -> DataFrame:
    """Point-level DBSCAN -> (id_col, cluster_id long, is_core int).

    Classic DBSCAN semantics with a deterministic labeling rule:

    * neighbor     = other point at squared distance < eps^2 (periodic
      min-image, the same strict-< predicate as every range op here);
    * core point   = point with >= min_pts points in its closed
      eps-ball (itself + neighbors, the textbook definition);
    * cluster      = connected component of the core-core neighbor
      graph, labeled by its minimum core id (so labels don't depend
      on visit order, unlike the sequential algorithm);
    * border point = non-core with >= 1 core neighbor, assigned the
      MINIMUM label among its core neighbors (sequential DBSCAN gives
      border ties to whichever cluster scans first; min is the
      order-free pin);
    * noise        = everything else, cluster_id = -1.

    Scale shape: the eps-neighborhood pairs come from the cell-grid
    range join (pairs shuffle on cell_id, never O(n^2)); degree count
    and border assignment are partial-aggregated groupBys on the pair
    table; components run O(log diameter) label-propagation rounds on
    the core-core edge list only (``dedup_clusters``).  No driver
    collect anywhere; the pair table is persisted because three
    downstream branches (degree, core edges, border assignment)
    consume it.
    """
    pid2 = "__nbr_id"
    right = points.select(F.col(id_col).alias(pid2), *coords)
    pairs = range_join_pairs(
        points,
        right,
        radius=eps,
        box=box,
        dtype=dtype,
        id_col=id_col,
        particle_id_col=pid2,
        h_coords=coords,
        p_coords=coords,
        ncells=ncells,
    ).where(F.col(id_col) != F.col(pid2))
    # three consumers below; directed pairs (both orders present)
    pairs = pairs.persist()

    if min_pts <= 1:
        # isolated points never reach the pair table but DO satisfy
        # the closed-ball rule (|ball| = 1 >= min_pts): every point
        # is core
        core = points.select(id_col)
    else:
        deg = pairs.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_nbrs"))
        core = deg.where(F.col("n_nbrs") + 1 >= min_pts).select(id_col)

    core_b = core.select(F.col(id_col).alias(pid2))
    core_edges = (
        pairs.join(core, id_col)
        .join(core_b, pid2)
        .where(F.col(id_col) < F.col(pid2))
    )
    lab = dedup_clusters(
        core_edges, id_a=id_col, id_b=pid2,
        out_id=id_col, out_cluster="cluster_id",
    )
    # isolated core points (no core neighbor) are their own cluster
    corelab = core.join(lab, id_col, "left").select(
        F.col(id_col),
        F.coalesce("cluster_id", F.col(id_col).cast("long")).alias("cluster_id"),
    )

    border = (
        pairs.join(core, id_col, "left_anti")
        .join(
            corelab.select(
                F.col(id_col).alias(pid2), F.col("cluster_id").alias("_ncl")
            ),
            pid2,
        )
        .groupBy(id_col)
        .agg(F.min("_ncl").alias("cluster_id"))
    )

    labeled = corelab.select(
        id_col, "cluster_id", F.lit(1).alias("is_core")
    ).unionByName(border.select(id_col, "cluster_id", F.lit(0).alias("is_core")))
    return points.select(id_col).join(labeled, id_col, "left").select(
        id_col,
        F.coalesce("cluster_id", F.lit(-1).cast("long")).alias("cluster_id"),
        F.coalesce("is_core", F.lit(0)).alias("is_core"),
    )


def lloyd_kmeans(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1024,
) -> DataFrame:
    """Integer-lattice Lloyd k-means -> (id_col, cluster_id long,
    dist2 long): `iters` assignment rounds with an update between each
    (iters=2 means assign -> update -> assign).

    Embedding clustering is the semantic-dedup / domain-balancing step
    of a training-data pipeline; this is the deterministic variant
    that the cross-engine gate can hash-check:

    * vectors quantize once to q_d = floor(x_d * scale) int64 (scale a
      power of two, so float32 -> float64 * scale is EXACT and the
      floor is engine-independent);
    * distances are exact int64 sums of squared integer diffs —
      order-independent, no float accumulation;
    * centroid update is the integer-floor mean floor(S_d / n): the
      double division S/n of int64s with n <= rows is correctly
      rounded and >= 1/n away from any other integer, so its floor is
      exact in every engine;
    * init = the k rows with smallest id; assignment ties break to the
      smallest cluster index; empty clusters drop out (deterministic).

    Scale shape: the centroid table is k rows — assignment is a
    broadcast join (``_pq_lloyd`` with one subspace, so every point
    meets all k centroids) + one window per point, fully JVM
    (`zip_with`/`aggregate` codegen); the update explodes to
    (rows x dim) and partial-aggregates per (cluster, dim), the
    standard shuffle-light mean.  No driver-side math beyond the k-row
    init.
    """
    q = emb.select(
        F.col(id_col),
        _quantize(vec_col, scale).alias("q"),
    ).persist()  # probed once per assignment round
    assign, _ = _pq_lloyd(q, 1, None, k, iters, id_col)
    return assign.select(
        F.col(id_col),
        F.col("cl").alias("cluster_id"),
        F.col("dist2").cast("long").alias("dist2"),
    )


def _quantize(vec_col: str, scale: int):
    return F.expr(
        f"transform({vec_col}, x -> "
        f"cast(floor(cast(x as double) * {scale}.0) as bigint))"
    )


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    min_sim_1e6: int = 950_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1024,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the corpus with k-means, then find
    near-duplicates by EXACT pairwise cosine *within each cluster only*
    -> (id_col, cluster_id long, keep int, dup_of long).

    Deterministic drop rule (order-free variant of the paper's
    sequential scan): a row is dropped (keep=0) iff SOME same-cluster
    row with a SMALLER id has cosine similarity >= min_sim_1e6/1e6;
    ``dup_of`` is the minimum such id (-1 for keepers).  This is a
    superset of the sequential rule's drops (a row similar only to an
    already-dropped smaller row still drops) but is independent of
    visit order and partitioning, which is what the cross-engine gate
    needs.  sim_1e6 is the engine's pinned cosine: exact int64
    dot/norms on the floor(x*scale) lattice + one fixed
    correctly-rounded f64 tree (same formula as
    ``similarity.cosine_dedup_pairs``), bit-exact in DuckDB.

    Scale shape: clustering bounds the quadratic term — the pair join
    is an equi-join on cluster_id, so total work is O(sum c_i^2) with
    c_i ~ n/k; pick k proportional to n (the paper uses n/k ~ 1e4 at
    corpus scale) and the per-key pair volume stays flat.  Compare
    ``cosine_dedup_pairs`` (LSH-banded candidates) — SemDeDup trades
    its recall bound for a guaranteed candidate budget per cluster.
    """
    asg = lloyd_kmeans(
        emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col, scale=scale
    ).select(id_col, "cluster_id")
    q = emb.select(F.col(id_col), _quantize(vec_col, scale).alias("_q"))
    m = asg.join(q, id_col).persist()  # both sides of the pair join

    a = m.select(
        F.col(id_col).alias("_ida"), "cluster_id", F.col("_q").alias("_qa")
    )
    b = m.select(
        F.col(id_col).alias("_idb"), "cluster_id", F.col("_q").alias("_qb")
    )
    dot = F.expr(
        "aggregate(zip_with(_qa, _qb, (x, y) -> x * y), 0L, (s, v) -> s + v)"
    )
    n2 = lambda c: F.expr(  # noqa: E731
        f"aggregate(transform({c}, v -> v * v), 0L, (s, v) -> s + v)"
    )
    j = (
        a.join(b, "cluster_id")
        .where(F.col("_idb") < F.col("_ida"))
        .withColumn("_dot", dot)
        .withColumn("_na2", n2("_qa"))
        .withColumn("_nb2", n2("_qb"))
    )
    sim = F.when(
        F.col("_na2") * F.col("_nb2") == 0, F.lit(0).cast("long")
    ).otherwise(
        F.floor(
            (F.col("_dot").cast("double")
             / F.sqrt((F.col("_na2") * F.col("_nb2")).cast("double")))
            * F.lit(1e6)
        ).cast("long")
    )
    dup = (
        j.withColumn("_sim", sim)
        .where(F.col("_sim") >= F.lit(int(min_sim_1e6)))
        .groupBy("_ida")
        .agg(F.min("_idb").alias("dup_of"))
    )
    return asg.join(
        dup.select(F.col("_ida").alias(id_col), "dup_of"), id_col, "left"
    ).select(
        id_col,
        "cluster_id",
        F.when(F.col("dup_of").isNull(), 1).otherwise(0).alias("keep"),
        F.coalesce("dup_of", F.lit(-1).cast("long")).alias("dup_of"),
    )


def _subspace_slices(m: int, d: int | None, q_col: str = "q"):
    """array of the m contiguous d-length subspace slices of `q_col`
    (m=1 with d=None: the whole vector, whatever its length)."""
    if d is None:
        return F.array(F.col(q_col))
    return F.array(
        *[F.expr(f"slice({q_col}, {j * d + 1}, {d})") for j in range(m)]
    )


def _pq_lloyd(q: DataFrame, m: int, d: int | None, k: int, iters: int,
              id_col: str):
    """The one integer-lattice Lloyd loop, over an already-quantized
    (id, q) frame: all m subspace chains of product quantization as
    ONE keyed plan -> (assignment (j, id, cl, dist2), codebook (j, cl,
    c)), where the codebook is the one the LAST assignment ran against
    (c_{iters-1}).  ``lloyd_kmeans`` is the m=1 case (d=None: one
    subspace, the whole vector).

    Every subspace chain is the plain Lloyd loop (same seed rows — the
    k smallest ids, which are the same ids in every subspace — int64
    distances, floor-mean updates and (dist2, cl) tie-breaks, windowed
    per (j, id)), but the m independent chains collapse into one: one
    TakeOrdered seed job instead of m, one assignment/update pass over
    the subspace-exploded frame per round instead of m — the job count
    is O(iters), not O(m*iters), which on a short-job-latency-bound
    cluster (and in local mode) is most of pq_encode/pq_ann_topk's wall
    clock.

    Every codebook frame is persisted: each update's plan contains the
    previous full assignment pass, and callers reference the returned
    codebook from MULTIPLE subtrees (pq_ann_topk broadcasts it as the
    per-query LUT seed *and* embeds it in the code assignment), so an
    unpersisted k-row frame re-executes the whole Lloyd chain once per
    consuming subtree."""
    slices = _subspace_slices(m, d)
    qk = q.select(id_col, F.posexplode(slices).alias("j", "qj"))
    cent = (
        q.orderBy(id_col)
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy(id_col)) - 1)
            .cast("long")
            .alias("cl"),
            F.col("q"),
        )
        .select("cl", F.posexplode(slices).alias("j", "c"))
        .persist()
    )
    dist2 = F.expr(
        "aggregate(zip_with(qj, c, (a, b) -> (a - b) * (a - b)), "
        "0L, (s, v) -> s + v)"
    )
    assign = None
    for i in range(iters):
        w = Window.partitionBy("j", id_col).orderBy("dist2", "cl")
        assign = (
            qk.join(F.broadcast(cent), "j")
            .select(id_col, "j", "cl", dist2.alias("dist2"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        if i < iters - 1:
            ex = assign.join(qk, ["j", id_col]).select(
                "j", "cl", F.posexplode("qj").alias("d", "v")
            )
            cent = (
                ex.groupBy("j", "cl", "d")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
                .withColumn(
                    "m", F.floor(F.col("s").cast("double") / F.col("n"))
                )
                .groupBy("j", "cl")
                .agg(
                    F.expr(
                        "transform(array_sort(collect_list(struct(d, m))), "
                        "s -> s.m)"
                    ).alias("c")
                )
                .persist()
            )
    return assign, cent


def pq_encode(
    emb: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 1024,
) -> DataFrame:
    """Product-quantization encoding (Jegou, Douze & Schmid 2011,
    "Product Quantization for Nearest Neighbor Search"): split each
    vector into `m` contiguous subspaces of dim/m, train an
    independent `k`-codeword Lloyd codebook per subspace, and emit
    each row's code word per subspace plus the total int64
    quantization error -> (id_col, code_0..code_{m-1} long, dist2
    long).  With ``ann_ivf`` (the coarse quantizer) this is the
    IVF+PQ compression pipeline: m*log2(k) bits per vector instead of
    dim floats.

    Every subspace runs the same deterministic integer-lattice Lloyd
    as ``lloyd_kmeans`` (init = k smallest ids, floor-mean updates,
    (dist2, cl) tie-break), so the composite has a bit-exact DuckDB
    twin of m prefixed CTE chains.

    Scale shape: the m subspace chains run as ONE keyed plan
    (``_pq_lloyd``): broadcast-k*m-row assignment over the
    subspace-exploded projection of one cached quantized frame, then a
    single groupBy(id) pivots the m codes back to columns — no m-way
    id join, no per-subspace job fan-out; no pairwise term anywhere
    (codebook training is linear per round).
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    d = dim // m
    q = emb.select(
        F.col(id_col), _quantize(vec_col, scale).alias("q")
    ).persist()
    assign, _ = _pq_lloyd(q, m, d, k, iters, id_col)
    return assign.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("j") == j, F.col("cl"))).alias(f"code_{j}")
            for j in range(m)
        ],
        F.sum("dist2").cast("long").alias("dist2"),
    )


def pq_ann_topk(
    emb: DataFrame,
    k_nn: int = 3,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 1024,
    candidates: DataFrame | None = None,
    exhaustive: bool = False,
    exhaustive_limit: int = 100_000,
) -> DataFrame:
    """PQ asymmetric-distance top-k search (the ADC of Jegou et al.
    2011 §IV) -> (query_id, neighbor_id, rank, adc_d2): approximate
    nearest neighbors where corpus vectors exist ONLY as m code words
    and each query builds an (m x k) lookup table of exact int64
    distances to every codeword — a candidate's distance is m table
    lookups summed, never a dim-length dot product.

    Self-search semantics like ann_ivf: every corpus row queries,
    self-pairs excluded, ties break on neighbor_id.  adc_d2 is the
    quantization-approximate distance (exact int64 given the
    codebooks), NOT the true L2 — the standard ADC trade.

    candidates: (query_id, neighbor_id) pairs to score (e.g.
    ``similarity.ivf_candidates`` — together they are IVF+PQ, FAISS's
    IVFPQ index expressed as two DataFrame ops).  Default None scores
    ALL pairs: the exhaustive-ADC baseline, O(n^2) rows but O(m) work
    per row — guarded: above `exhaustive_limit` corpus rows the call
    raises unless `exhaustive=True` is passed explicitly, pointing at
    ivf_candidates (VERDICT r3 #3: an unwary default would otherwise
    schedule 10^12-row pair tables at production scale).

    Scale shape: the m codebooks are k rows each and the per-query LUT
    is one dense m*k int64 array per query — broadcast; the pair table
    (candidate-bounded or exhaustive) flows through ONE broadcast hash
    join and m O(1) element_at lookups per row, then one window.  The
    corpus ships as codes (m longs), never as vectors.  Codebook
    training runs as ONE keyed plan across all m subspaces
    (``_pq_lloyd``), so the job count is O(iters), not O(m*iters).
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    if candidates is None and not exhaustive:
        # cheap metadata-or-count guard: the exhaustive baseline is
        # O(n^2) pair rows and must be an explicit choice beyond toy n
        n = emb.count()
        if n > exhaustive_limit:
            raise ValueError(
                f"pq_ann_topk without candidates= is an exhaustive "
                f"cross join ({n} corpus rows -> ~{n * n:.0e} pairs). "
                f"Pass candidates=ivf_candidates(...) (IVF+PQ), or "
                f"exhaustive=True to insist."
            )
    d = dim // m
    q = emb.select(F.col(id_col), _quantize(vec_col, scale).alias("q")).persist()

    assign, cent = _pq_lloyd(q, m, d, k, iters, id_col)
    codes = assign.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("j") == j, F.col("cl"))).alias(f"code_{j}")
            for j in range(m)
        ]
    )
    lut_d2 = F.expr(
        "aggregate(zip_with(_qs, c, (a, b) -> (a - b) * (a - b)), "
        "0L, (s, v) -> s + v)"
    )
    # per-query LUT as ONE dense m*k array (slot j*k + cl; slots of
    # dropped empty clusters stay null and are never referenced, since
    # every emitted code exists in the codebook) — the candidate table
    # then pays ONE broadcast hash join + m O(1) element_at lookups
    # instead of m broadcast joins, i.e. one pass over the pair table
    # rather than m.
    lut_arr = (
        q.select(
            F.col(id_col).alias("query_id"),
            F.posexplode(_subspace_slices(m, d)).alias("j", "_qs"),
        )
        .join(F.broadcast(cent), "j")
        .select(
            "query_id",
            (F.col("j") * k + F.col("cl")).alias("_slot"),
            lut_d2.alias("_d"),
        )
        .groupBy("query_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("_slot", "_d"))).alias("_m"))
        .select(
            "query_id",
            F.expr(f"transform(sequence(0, {m * k - 1}), i -> element_at(_m, CAST(i AS BIGINT)))").alias("_lut"),
        )
    )

    corpus = codes.withColumnRenamed(id_col, "neighbor_id")
    if candidates is None:
        pairs = corpus.crossJoin(q.select(F.col(id_col).alias("query_id")))
    else:
        pairs = candidates.select("query_id", "neighbor_id").join(
            corpus, "neighbor_id"
        )
    pairs = pairs.where(F.col("query_id") != F.col("neighbor_id")).join(
        F.broadcast(lut_arr), "query_id"
    )
    adc = sum(
        F.expr(f"element_at(_lut, CAST({j * k} + code_{j} + 1 AS INT))")
        for j in range(m)
    ).cast("long")
    w = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        pairs.select("query_id", "neighbor_id", adc.alias("adc_d2"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_nn)
        .select("query_id", "neighbor_id", "rank", "adc_d2")
    )
