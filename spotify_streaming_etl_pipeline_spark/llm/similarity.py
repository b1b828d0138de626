"""Similarity search over an ``array<float>`` embedding column.

Two plans with identical output schema (q_id, vec_id, cosine, rn):

- ``cosine_topk``: exact brute-force baseline — broadcast the (small)
  query set against the corpus, dot/norm via native array higher-order
  functions (zip_with + aggregate, JVM-side, no Python), per-query
  top-k via window rank. Corpus is scanned once, never shuffled on
  pairs; the shuffle carries only (q_id, vec_id, score).
- ``cosine_topk_lsh``: random-hyperplane LSH scale path — each vector
  is bucketed by the sign pattern of ``n_planes`` fixed hyperplanes;
  candidates are corpus vectors in the *same bucket* as the query, so
  pairwise scoring cost drops ~2^n_planes-fold. The hyperplanes are
  derived from the portable md5 hash, so bucket assignment (and hence
  the result) is deterministic and oracle-reproducible. Recall is
  approximate by design (neighbors across a hyperplane are missed) —
  that is the documented ANN trade-off; raise recall by multi-probe or
  repeated tables at scale.

At 100 TB the corpus side stays partitioned; only per-bucket groups
are compared. An IVF upgrade = replace the sign-bucket with a k-means
centroid id — same join shape.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMBED_DIM = 64
N_PLANES = 8


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine(a: Column, b: Column, scale: int = 4) -> Column:
    """Rounded cosine similarity (rounding absorbs sub-ULP sum-order
    drift between engines so the oracle hash is stable)."""
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), scale)


def plane_weights(n_planes: int = N_PLANES, dim: int = EMBED_DIM) -> list[list[float]]:
    """Deterministic ±1 hyperplane weights from md5(plane,dim) parity —
    reproducible in any engine (the oracle SQL embeds these literals)."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p},{d}".encode()).hexdigest()
            row.append(1.0 if int(h[:12], 16) & 1 else -1.0)
        planes.append(row)
    return planes


def bucket_col(vec: Column, n_planes: int = N_PLANES, dim: int = EMBED_DIM) -> Column:
    """LSH bucket id: bit p set iff dot(vec, plane_p) > 0."""
    out = F.lit(0).cast("long")
    for p, w in enumerate(plane_weights(n_planes, dim)):
        d = _dot(vec, F.array(*[F.lit(x) for x in w]))
        out = out + F.when(d > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def _ranked(pairs: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "cosine", "rn")
    )


def _exploded(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(vec_id, dim, x): one row per vector component, as double — the
    operand of every relational centroid join here and in the online
    sink.  Callers add their own repartition / persist."""
    return df.select(
        "vec_id",
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "x"),
    )


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query id (brute-force baseline)."""
    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    pairs = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine(F.col(vec_col), F.col("q_vec")).alias("cosine"),
        )
    )
    return _ranked(pairs, k)


def _ivf_from_centroid_table(
    emb: DataFrame,
    cents: DataFrame,
    query_ids: list[int],
    k: int,
    n_probe: int,
    vec_col: str,
) -> DataFrame:
    """Shared IVF assign/probe/score core over a (cell, dim, c)
    centroid table: every vector joins the broadcast centroid table on
    dim (exploded — all codegen, linear in corpus × n_centroids), is
    assigned to its nearest cell, queries probe their n_probe nearest
    cells, and pairwise cosine touches only probed cells.

    Rounding discipline: cell distances round to 4dp before comparison
    (absorbs float sum-order drift between engines); ties break on
    cell id — both required for the SQL oracle to agree bit-for-bit."""
    from pyspark.sql import Window

    dims = _exploded(emb, vec_col)
    d2 = (
        dims.join(F.broadcast(cents), "dim")
        .groupBy("vec_id", "cell")
        .agg(
            F.round(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))), 4)
            .alias("d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cell")
    ranked_cells = d2.withColumn("rn", F.row_number().over(w))
    assigned = ranked_cells.filter(F.col("rn") == 1).select("vec_id", "cell")
    probes = (
        ranked_cells.filter(
            F.col("vec_id").isin(query_ids) & (F.col("rn") <= n_probe)
        )
        .select(F.col("vec_id").alias("q_id"), "cell")
    )
    q_vecs = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    pairs = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(emb.select("vec_id", F.col(vec_col).alias("vec")), "vec_id")
        .join(F.broadcast(q_vecs), "q_id")
        .select(
            "q_id", "vec_id", cosine(F.col("vec"), F.col("q_vec")).alias("cosine")
        )
    )
    return _ranked(pairs, k)


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    vec_col: str = "embedding",
    seed: int = 7,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus by k-means
    centroid, score each query only against its ``n_probe`` nearest
    cells. The centroid assignment is the learned analogue of the
    hyperplane bucket in ``cosine_topk_lsh`` — same join shape, better
    cell balance on clustered data.

    Two centroid sources, mirroring production IVF (train once offline,
    serve from the frozen index):

    - ``centroids`` given: a pinned, pre-learned centroid matrix
      (n_centroids × dim). Assignment/probing/scoring run through the
      fully relational ``_ivf_from_centroid_table`` core — deterministic
      and SQL-oracle-reproducible (gated by ``ann_topk_ivf_learned``,
      whose fixture in llm/ivf_fixture.py was learned by the code path
      below). ``n_centroids`` is ignored in favor of ``len(centroids)``.
    - ``centroids=None``: fit pyspark.ml KMeans here (seeded ->
      deterministic for a fixed corpus and Spark version, but not
      reproducible in the SQL oracle — this training path is covered by
      unit tests, and by the fixture provenance check)."""
    if centroids is not None:
        cents = emb.sparkSession.createDataFrame(
            [
                (cell, dim, float(c))
                for cell, row in enumerate(centroids)
                for dim, c in enumerate(row)
            ],
            "cell int, dim int, c double",
        )
        return _ivf_from_centroid_table(emb, cents, query_ids, k, n_probe, vec_col)

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = emb.select(
        "vec_id",
        F.col(vec_col).alias("vec"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    model = KMeans(k=n_centroids, seed=seed, featuresCol="features").fit(vecs)
    assigned = model.transform(vecs).select(
        "vec_id", "vec", F.col("prediction").alias("cell")
    )

    # Each query probes its n_probe nearest centroids (distance to the
    # centroid matrix is tiny: n_queries x n_centroids, driver-side).
    import numpy as np

    centers = np.array(model.clusterCenters())
    q_rows = vecs.filter(F.col("vec_id").isin(query_ids)).select("vec_id", "vec").collect()
    probe_pairs = []
    for r in q_rows:
        qv = np.array(r["vec"], dtype=float)
        d2 = ((centers - qv) ** 2).sum(axis=1)
        for cell in np.argsort(d2)[:n_probe]:
            probe_pairs.append((r["vec_id"], int(cell)))
    probes = emb.sparkSession.createDataFrame(probe_pairs, "q_id: long, cell: int")
    q = (
        vecs.filter(F.col("vec_id").isin(query_ids))
        .select(F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec"))
        .join(probes, "q_id")
    )
    pairs = (
        assigned.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cosine(F.col("vec"), F.col("q_vec")).alias("cosine"))
    )
    return _ranked(pairs, k)


def ivf_topk_hashseed(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with deterministic hash-seeded mean centroids — the
    oracle-provable form of ``ivf_topk``. Centroid c is the per-dim
    mean of vectors with vec_id % n_centroids == c (rounded 4dp so
    both engines agree bit-for-bit); every vector is assigned to its
    nearest centroid; queries probe their n_probe nearest cells. The
    learned-KMeans variant (``ivf_topk``) has better cell balance but
    is not SQL-reproducible; the *join shape* — the thing that matters
    at scale — is identical: assignment cost is linear in corpus ×
    n_centroids (exploded-dims join against a broadcast centroid
    table, all codegen), and pairwise scoring touches only probed
    cells.

    Rounding discipline: centroid components and cell distances round
    to 4dp before any comparison, absorbing float sum-order drift
    between engines; ties break on cell id."""
    dims = _exploded(emb, vec_col)
    cents = (
        dims.withColumn("cell", (F.col("vec_id") % n_centroids).cast("int"))
        .groupBy("cell", "dim")
        .agg(F.round(F.avg("x"), 4).alias("c"))
    )
    return _ivf_from_centroid_table(emb, cents, query_ids, k, n_probe, vec_col)


def kmeans_lloyd(
    emb: DataFrame,
    n_clusters: int | None = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    _dims_df: DataFrame | None = None,
    target_cluster_size: int = 64,
    twolevel_crossover: int | None = 10_000,
) -> DataFrame:
    """(vec_id, cell): Lloyd's k-means assignment after ``n_iter``
    update rounds from the hash-seeded mean init of
    ``ivf_topk_hashseed`` (centroid c0 = per-dim mean of vec_id %
    n_clusters == c) — the deterministic, oracle-unrollable form of
    KMeans training (same discipline as ``bpe_train`` /
    ``copurchase_pagerank``: a fixed iteration count whose DuckDB
    oracle replays every round).  The rounds are ``_lloyd``'s.

    At lake scale the exploded-dims table is the big operand: it is
    built once and persisted by the caller via ``_dims_df`` when
    shared with other consumers.  ``_dims_df`` contract: the returned
    assignment is a LAZY plan over the caller's dims (the per-round
    checkpoints are ``eager=False``), so the caller must keep its dims
    persisted until the returned frame has been materialized —
    unpersisting earlier is still correct but silently replays the
    whole Lloyd loop from the uncached source.  Without ``_dims_df``
    the assignment is checkpointed eagerly before the self-made dims
    are released.

    ``n_clusters=None`` derives k = ceil(n / target_cluster_size)
    from a scalar count — the SemDeDup-paper discipline (k grows with
    the corpus so EXPECTED CLUSTER SIZE stays constant; a fixed k
    makes every downstream within-cluster pairwise term quadratic in
    n, measured as a 19.9x wall-clock blowup at 10x rows before this
    landed).  Above ``twolevel_crossover`` vectors (measured ~10k
    crossover: flat auto-k assignment is O(n*k) = O(n²/64) candidate
    rows, 22x slower than two-level at n=200k and diverging) the
    auto-k path DELEGATES to ``kmeans_multilevel(levels=2)``, so every
    auto-k caller — SemDeDup, IVF training — gets the O(n*sqrt(k))
    plan by default; pass ``twolevel_crossover=None`` to force the
    flat plan.  ``n`` is derived from the persisted exploded-dims
    table (one pass over cached data), never a second action over a
    possibly-expensive un-cached input plan, and a self-created dims
    persist is released before returning (the final assignment is
    eagerly localCheckpoint-ed first — n x 2 longs, tiny)."""
    owns_dims = _dims_df is None
    dims = (
        _exploded(emb, vec_col).repartition("vec_id").persist()
        if owns_dims
        else _dims_df
    )
    if n_clusters is None:
        counts = _dims_counts(dims)
        n = counts[0]
        if twolevel_crossover is not None and n > twolevel_crossover:
            out = kmeans_multilevel(
                emb, None, n_iter, vec_col, target_cluster_size, levels=2,
                _dims_df=dims, _counts=counts,
            )
            if owns_dims:
                dims.unpersist()
            return out
        n_clusters = max(1, -(-n // target_cluster_size))
    out = _lloyd(dims, n_clusters, n_iter)
    if owns_dims:
        out = out.localCheckpoint(eager=True)
        dims.unpersist()
    return out


def _dims_counts(dims: DataFrame) -> tuple[int, int]:
    """(vectors, rows) of an exploded-dims table, in ONE pass over it
    (a separate distinct().count() + count() pair costs two jobs over
    the same cached table for two numbers)."""
    return tuple(
        dims.agg(
            F.countDistinct("vec_id").alias("n"),
            F.count(F.lit(1)).alias("rows"),
        ).collect()[0]
    )


def _lloyd(
    dims: DataFrame,
    k: int,
    n_iter: int,
    keys: tuple[str, ...] = (),
    broadcast: bool = True,
) -> DataFrame:
    """(vec_id, *keys, cell): Lloyd's k-means run independently within
    each ``keys`` group of an exploded (vec_id, *keys, dim, x) table —
    the one loop behind flat clustering (``keys=()``) and every
    refinement level of ``kmeans_multilevel`` (``keys=("grp",)``).
    Init cell = vec_id % k within the group (hash-seeded, oracle-
    replayable); each round assigns through ``_nearest_cell`` and
    re-estimates every centroid as the per-(*keys, cell, dim) mean of
    its members.  All relational and codegen: every centroid table is
    keyed on the group, so each vector only ever meets its own group's
    k centroids — the candidate join is O(rows x k), never a pairwise
    shuffle.  Rounding discipline: centroid components and distances
    round to 4dp before comparison, ties break on cell id — required
    for bit-exact SQL parity.  A cell that loses all members simply
    disappears from the centroid table (no re-seeding) —
    deterministic on both engines.

    Per-round ``eager=False`` checkpoints: the centroid table (k x dim
    rows per group) is tiny, but its lineage contains the full
    previous assignment — without truncation round N replays rounds
    1..N-1 (the ``dup_clusters`` lesson).  They are NOT lazy under
    AQE: taking one runs the shuffle-map stages below it at once, so
    the loop still runs its jobs round by round while the frame is
    built (kmeans_lloyd with n_iter=3 over 60 vectors on local[2]: 14
    jobs while built, 1 at the first action).  What ``eager=False``
    saves is the checkpoint's own result stage per round — at sf0.1
    the per-action floor dominated these tiny checkpoints (r13 A/B:
    the ``kmeans_twolevel`` query 4.7 -> 3.0 s standalone).  Values
    are unchanged: checkpointing only pins rows.  Callers that release
    ``dims`` materialize the returned assignment (eager
    localCheckpoint) first, so its pending result stage can never
    replay over a dropped cache."""

    def means(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys, "cell", "dim").agg(
            F.round(F.avg("x"), 4).alias("c")
        )

    cents = means(dims.withColumn("cell", (F.col("vec_id") % k).cast("int")))
    for _ in range(n_iter):
        cents = cents.localCheckpoint(eager=False)
        assigned = _nearest_cell(dims, cents, keys, broadcast)
        cents = means(dims.join(assigned, ["vec_id", *keys]))
    cents = cents.localCheckpoint(eager=False)
    return _nearest_cell(dims, cents, keys, broadcast)


def _nearest_cell(
    dims: DataFrame,
    cents: DataFrame,
    keys: tuple[str, ...] = (),
    broadcast: bool = True,
) -> DataFrame:
    """(vec_id, *keys, cell): nearest centroid per vector from an
    exploded (vec_id, *keys, dim, x) table and a (*keys, cell, dim, c)
    centroid table — the assignment core of ``_lloyd`` and of the
    online sink (``streaming.embeddings``): 4dp-rounded distances,
    cell-id tie break.  The argmin is a partially-aggregated
    min(struct(d2, cell)) — identical result to a row_number-over-(d2,
    cell) window, but the map side collapses the candidate rows to one
    per vector per partition BEFORE the shuffle, where the window form
    sorts the full candidate table through the exchange.  ``broadcast``
    picks an explicit broadcast of the centroids or, past
    ``_FINE_BROADCAST_MAX_ROWS``, a shuffle_hash join on (*keys, dim)."""
    side = F.broadcast(cents) if broadcast else cents.hint("shuffle_hash")
    d2 = (
        dims.join(side, [*keys, "dim"])
        .groupBy("vec_id", *keys, "cell")
        .agg(
            F.round(
                F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))), 4
            ).alias("d2")
        )
    )
    return (
        d2.groupBy("vec_id", *keys)
        .agg(F.min(F.struct("d2", "cell")).alias("best"))
        .select("vec_id", *keys, F.col("best.cell").alias("cell"))
    )


#: Fine-centroid row count (cells x dims) above which the fine assign
#: switches from an explicit broadcast to a shuffle_hash-hinted join:
#: the fine centroid table holds ~k1*k2*ndim ≈ n rows — CORPUS-
#: PROPORTIONAL, so a single broadcast hits the same ~10M-centroid
#: memory boundary flat auto-k does.  Hierarchical levels only shrink
#: the CANDIDATE term (O(n*k) -> O(n*sqrt(k))); the (grp, dim)-keyed
#: shuffle_hash join removes the broadcast memory bound too, at the
#: cost of shuffling the dims table per round — worth it only past
#: ~2M centroid rows (~60 MB broadcast at 30 B/row).
_FINE_BROADCAST_MAX_ROWS = 2_000_000


def kmeans_multilevel(
    emb: DataFrame,
    ks: list[int] | None = None,
    n_iter: int = 2,
    vec_col: str = "embedding",
    target_cluster_size: int = 64,
    levels: int = 3,
    _dims_df: DataFrame | None = None,
    _counts: tuple[int, int] | None = None,
) -> DataFrame:
    """(vec_id, cell): hierarchical (IVF-style) k-means — the scale
    path past flat auto-k Lloyd.  Flat assignment with k = ceil(n/t)
    centroids compares every vector against every centroid: O(n*k) =
    O(n^2/t) candidate rows, the one super-linear term left in the
    clustering family.  Level 1 is a flat Lloyd pass with k_1 cells;
    every later level refines each existing cell independently
    (``_lloyd`` keyed on the accumulated group id) with k_i
    sub-clusters, so each vector only ever meets its own cell's k_i
    centroids.  Candidate work is O(n * sum(k_i)) ~ levels * n *
    kt^(1/levels): ``levels=2`` is the two-level form (k1 =
    ceil(sqrt(kt)), k2 = ceil(kt/k1); the ``kmeans_twolevel`` oracle
    pair), and at kt = 10⁹ clusters three levels put ~1000 centroids
    per join side where two levels need ~32k and flat needs the full
    10⁹.  ``ks`` gives explicit per-level branching (tests plant
    coprime 2x3x5 hierarchies); None derives a balanced split of
    auto-k (k_i ~ kt^(1/(levels-i)) of the remainder, product >= kt).
    Composite ids fold left: cell = ((l1 * k2) + l2) * k3 + l3 ...,
    consumable by ``semantic_dedup(assignments=...)``.

    Join strategy per level: that level's centroid table is
    prod(k_1..k_i) x ndim rows — corpus-proportional, so past
    ``_FINE_BROADCAST_MAX_ROWS`` the per-round join switches from an
    explicit broadcast to a shuffle_hash hint on (grp, dim); below it
    the broadcast keeps the dims table un-shuffled.  ``_dims_df`` /
    ``_counts`` take ``kmeans_lloyd``'s persisted dims and their
    ``_dims_counts`` on its auto-k delegation.  Persists (dims when
    self-created, each level's grouped dims always) are released
    before returning, after eagerly localCheckpoint-ing each level's
    n x 2 output."""
    owns_dims = _dims_df is None
    dims = (
        _exploded(emb, vec_col).repartition("vec_id").persist()
        if owns_dims
        else _dims_df
    )
    n, n_rows = _counts or _dims_counts(dims)
    if ks is None:
        rem = max(1, -(-n // target_cluster_size))
        ks = []
        for i in range(levels):
            k_i = max(1, int(rem ** (1.0 / (levels - i)) + 0.9999))
            ks.append(k_i)
            rem = max(1, -(-rem // k_i))
    ndim = max(1, n_rows // max(1, n))
    grp = _lloyd(dims, ks[0], n_iter).select(
        "vec_id", F.col("cell").cast("long").alias("grp")
    )
    if len(ks) == 1:
        # Depth-1 degenerates to flat Lloyd; checkpoint BEFORE the
        # dims unpersist below or the caller's first action replays
        # the whole chain uncached.
        grp = grp.localCheckpoint(eager=True)
    cells_so_far = ks[0]
    for k in ks[1:]:
        dc = dims.join(grp, "vec_id").persist()
        broadcast = cells_so_far * k * ndim <= _FINE_BROADCAST_MAX_ROWS
        grp = (
            _lloyd(dc, k, n_iter, ("grp",), broadcast)
            .select("vec_id", (F.col("grp") * k + F.col("cell")).alias("grp"))
            .localCheckpoint(eager=True)
        )
        dc.unpersist()
        cells_so_far *= k
    if owns_dims:
        dims.unpersist()
    return grp.withColumnRenamed("grp", "cell")


def semantic_dedup(
    emb: DataFrame,
    n_clusters: int | None = None,
    n_iter: int = 2,
    threshold: float = 0.92,
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
    target_cluster_size: int = 64,
    assignments: DataFrame | None = None,
    twolevel_crossover: int | None = 10_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space
    (``kmeans_lloyd``), then inside each cluster drop every vector
    that has a SMALLER-ID near-identical neighbor (cosine >=
    threshold) — one representative survives per epsilon-ball, with
    the min-id convention standing in for the paper's arbitrary
    keeper choice so the result is deterministic. Returns the full
    decision table (vec_id, cell, kept).

    Scale shape: pairwise cosine runs only WITHIN clusters (the whole
    point of clustering first), via a same-cell self-join carrying the
    vectors. ``n_clusters`` defaults to None = auto-k (ceil(n /
    target_cluster_size), the paper's k-grows-with-n discipline), so
    expected cluster size — and with it the per-cluster m(m-1)/2
    cosine term — stays CONSTANT as the corpus grows; a fixed k turns
    this operator quadratic (measured 19.9x at 10x rows). ``max_cluster_size`` is
    the degenerate-cluster star guard shared with
    ``embedding_near_dup`` (collapsed encoder outputs put everything
    in one cell): oversized clusters emit (cluster-min, member) star
    edges with exact cosines instead of m(m-1)/2 pairs — every member
    still gets a keep/drop verdict against the representative.

    ``assignments`` supplies a precomputed (vec_id, cell) table — e.g.
    ``kmeans_multilevel`` output, the O(n*sqrt(k)) scale path — and
    skips the flat clustering entirely; the drop rule is clustering-
    agnostic.  ``twolevel_crossover`` passes through to the auto-k
    clusterer (None pins the FLAT plan — what the flat oracle gates
    do, since their SQL unrolls flat Lloyd specifically)."""
    assigned = (
        assignments
        if assignments is not None
        else kmeans_lloyd(
            emb, n_clusters, n_iter, vec_col,
            target_cluster_size=target_cluster_size,
            twolevel_crossover=twolevel_crossover,
        )
    )
    v = emb.select("vec_id", F.col(vec_col).alias("vec")).join(
        assigned, "vec_id"
    )
    dropped = (
        _group_cosine_pairs(v, "cell", max_cluster_size)
        .filter(F.col("cosine") >= threshold)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return (
        v.select("vec_id", "cell")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
        )
    )


def _group_cosine_pairs(
    v: DataFrame, group: str, max_group_size: int | None
) -> DataFrame:
    """(vec_a, vec_b, cosine): every vec_a < vec_b pair of a
    (vec_id, vec, ``group``) table that shares a ``group`` value, with
    its 4dp-rounded cosine — the in-group pair kernel of
    ``semantic_dedup`` (group = k-means cell) and
    ``embedding_near_dup`` (group = LSH bucket).

    ``max_group_size`` is the giant-group star guard shared with the
    text dedup family (``llm.dedup._bucket_marked``): a degenerate
    group (collapsed encoder outputs, augmentation copies, zero
    vectors) makes the self-join emit m(m-1)/2 rows from one key;
    groups over the cap instead emit (group-min, member) star edges
    with the cosine still computed exactly per emitted pair, so every
    member is still scored against the representative and
    connectivity within the group is preserved.

    Norms are computed once PER VECTOR before the self-join: the HOF
    cosine re-derived both norms on every candidate row — an O(m²)
    term per group where O(m) suffices; identical doubles, so the
    rounded cosine is bit-equal (interleaved A/B: 0.49 -> 0.40 s on
    the sf0.1 SemDeDup pair stage, collect-compared equal)."""
    from .dedup import _bucket_marked

    if max_group_size is not None:
        marked = _bucket_marked(v, [group], "vec", id_col="vec_id").persist()
        small = marked.filter(F.col("m") <= max_group_size)
        stars = (
            marked.filter(
                (F.col("m") > max_group_size)
                & (F.col("vec_id") != F.col("rep"))
            )
            .select(
                F.col("rep").alias("vec_a"),
                F.col("vec_id").alias("vec_b"),
                F.col("rep_vec").alias("va"),
                F.col("vec").alias("vb"),
            )
        )
    else:
        small, stars = v, None

    def side(s: str) -> DataFrame:
        return small.select(
            F.col("vec_id").alias(f"vec_{s}"),
            F.col("vec").alias(f"v{s}"),
            _norm(F.col("vec")).alias(f"norm_{s}"),
            group,
        )

    pairs = (
        side("a").join(side("b"), group)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "va", "vb", "norm_a", "norm_b")
    )
    if stars is not None:
        pairs = pairs.unionByName(
            stars.select(
                "vec_a",
                "vec_b",
                "va",
                "vb",
                _norm(F.col("va")).alias("norm_a"),
                _norm(F.col("vb")).alias("norm_b"),
            )
        )
    return pairs.select(
        "vec_a",
        "vec_b",
        F.round(
            _dot(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b")),
            4,
        ).alias("cosine"),
    )


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, cosine >=
    threshold), candidates restricted to same-LSH-bucket pairs — the
    embedding-space member of the dedup family. Same-bucket blocking
    makes pairwise work ~|corpus|²/2^n_planes; recall is the standard
    hyperplane-LSH trade-off (raise with multi-probe at scale).

    ``max_bucket_size`` is the giant-bucket star guard of
    ``_group_cosine_pairs``: buckets over the cap emit (bucket-min,
    member) star edges instead of m(m-1)/2 pairs, so duplicate-group
    assembly is unaffected. Opt-in for the same measured reason as the
    text guards (PLANS.md round-7 economics): the window costs a
    constant ~0.5 s/query at sf0.1 that clean corpora don't need."""
    bucketed = emb.select(
        "vec_id",
        F.col(vec_col).alias("vec"),
        bucket_col(F.col(vec_col), n_planes).alias("bucket"),
    )
    return _group_cosine_pairs(bucketed, "bucket", max_bucket_size).filter(
        F.col("cosine") >= threshold
    )


def cosine_topk_lsh(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
) -> DataFrame:
    """ANN top-k: same output shape as cosine_topk but candidates are
    restricted to the query's LSH bucket (equi-join on bucket id)."""
    bucketed = emb.select(
        "vec_id", F.col(vec_col).alias("vec"), bucket_col(F.col(vec_col)).alias("bucket")
    )
    q = bucketed.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec"), "bucket"
    )
    pairs = (
        bucketed.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cosine(F.col("vec"), F.col("q_vec")).alias("cosine"))
    )
    return _ranked(pairs, k)


def ann_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Two-TABLE ANN join — the serving shape: a query table retrieves
    top-k LSH-bucketed neighbors from a separate (frozen) corpus
    table.  ``cosine_topk_lsh`` is the single-table special case; here
    the corpus is bucketed once (the index build) and the query table
    buckets independently and equi-joins on bucket id, so the corpus
    is never re-scanned per query batch.  Returns (q_id, vec_id,
    cosine, rn).

    Scale: both sides shuffle on bucket only (or the query side
    broadcasts when batch-sized — left to AQE, since the true serving
    shape has an arbitrarily large query table); pairwise scoring
    touches same-bucket pairs only."""
    cb = corpus.select(
        "vec_id",
        F.col(vec_col).alias("vec"),
        bucket_col(F.col(vec_col), n_planes).alias("bucket"),
    )
    qb = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        bucket_col(F.col(vec_col), n_planes).alias("bucket"),
    )
    pairs = cb.join(qb, "bucket").select(
        "q_id", "vec_id", cosine(F.col("vec"), F.col("q_vec")).alias("cosine")
    )
    return _ranked(pairs, k)


def cosine_topk_lsh_multiprobe(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Multi-probe LSH ANN: each query probes its own bucket PLUS every
    bucket at hamming distance 1 (one hyperplane flipped) — the
    standard recall lever: candidates grow ×(n_planes+1), recall rises
    toward exact, and the corpus side is untouched (still one bucket
    per vector, so a candidate matches at most one probe and no dedup
    is needed). Deterministic, and the oracle reproduces the probe set
    with integer xor."""
    bucketed = emb.select(
        "vec_id",
        F.col(vec_col).alias("vec"),
        bucket_col(F.col(vec_col), n_planes).alias("bucket"),
    )
    masks = F.array(
        *[F.lit(m).cast("long") for m in [0] + [1 << p for p in range(n_planes)]]
    )
    q = (
        bucketed.filter(F.col("vec_id").isin(query_ids))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("vec").alias("q_vec"),
            "bucket",
            F.explode(masks).alias("m"),
        )
        .select(
            "q_id",
            "q_vec",
            F.col("bucket").bitwiseXOR(F.col("m")).alias("bucket"),
        )
    )
    pairs = (
        bucketed.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cosine(F.col("vec"), F.col("q_vec")).alias("cosine"))
    )
    return _ranked(pairs, k)


# ---------------------------------------------------------------------------
# int8 vector quantization (symmetric max-abs) + recall evaluation
# ---------------------------------------------------------------------------


def quantize_int8(vec: Column) -> Column:
    """Symmetric max-abs int8 quantization: qᵢ = ⌊vᵢ·127/max|v| + ½⌋
    (−127..127 longs).  ``floor(x + 0.5)`` — NOT round() — so the tie
    behavior is identical everywhere (round() at an exact .5 is
    half-up in Spark, half-even in DuckDB).  The per-vector scale
    cancels inside cosine, so int8 cosine needs no dequantization and
    its dot products are EXACT integer arithmetic."""
    # greatest(·, tiny) guards the all-zero vector: without it the
    # scale is 0, x*127/0 is NULL (non-ANSI), and the whole qv goes
    # NULL — silently dropping the row from the int8 ranking while
    # the exact path keeps it. With the guard, zero vectors quantize
    # to the all-zero qv (the faithful image of a zero embedding).
    maxabs = F.greatest(
        F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double")))),
        F.lit(1e-30),
    )
    return F.transform(
        vec,
        lambda x: F.floor(
            x.cast("double") * 127.0 / maxabs + F.lit(0.5)
        ).cast("long"),
    )


def _int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def int8_cosine(a: Column, b: Column, scale: int = 4) -> Column:
    """Cosine over int8-quantized vectors: integer dots (exact), one
    float division + sqrt at the end."""
    return F.round(
        _int_dot(a, b)
        / F.sqrt(
            _int_dot(a, a).cast("double") * _int_dot(b, b).cast("double")
        ),
        scale,
    )


def cosine_topk_int8(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k on int8-quantized vectors — 4× less memory
    traffic per vector than float32 (the reason production ANN serves
    quantized), same plan shape as ``cosine_topk``."""
    qz = emb.select("vec_id", quantize_int8(F.col(vec_col)).alias("qv"))
    q = qz.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("q_vec")
    )
    pairs = (
        qz.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            int8_cosine(F.col("qv"), F.col("q_vec")).alias("cosine"),
        )
    )
    return _ranked(pairs, k)


def int8_recall_at_k(
    emb: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Per query: |exact top-k ∩ int8 top-k| — the accuracy cost of
    serving quantized, measured against the certified exact path."""
    approx = cosine_topk_int8(emb, query_ids, k)
    return _recall_vs_exact(emb, query_ids, k, approx)


def _recall_vs_exact(
    emb: DataFrame,
    query_ids: list[int],
    k: int,
    approx: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """(q_id, k, n_overlap): per query, how many of the exact top-k
    (``cosine_topk`` on ``vec_col``) the ``approx`` (q_id, vec_id, ...)
    retriever also returns — 0 when it returns none of them."""
    exact = cosine_topk(emb, query_ids, k, vec_col).select("q_id", "vec_id")
    hits = exact.join(approx.select("q_id", "vec_id"), ["q_id", "vec_id"])
    base = exact.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    n = hits.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap")
    )
    return base.join(n, "q_id", "left").select(
        "q_id",
        "k",
        F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
    )


# ---------------------------------------------------------------------------
# 1-bit (sign) quantization: 64-dim vector → one 64-bit word, hamming ANN
# ---------------------------------------------------------------------------


def sign_bits64(vec_col: str) -> Column:
    """Pack the sign bits of a 64-dim vector into ONE long (bit i set
    iff vᵢ ≥ 0) — 64× smaller than float32, and hamming distance
    between two words approximates angular distance (the 1-bit
    LSH/ITQ idea).  Exact integer arithmetic end to end.

    SQL-lambda form because the Python ``F.shiftleft`` wrapper only
    accepts a literal shift count — the SQL function shifts by an
    expression (the lambda index) just fine."""
    return F.expr(
        f"aggregate(transform({vec_col}, (x, i) ->"
        " IF(x >= CAST(0 AS DOUBLE),"
        " shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),"
        " CAST(0 AS BIGINT), (acc, b) -> acc | b)"
    )


def hamming_topk_1bit(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by ascending hamming distance over sign-bit words —
    the cheapest possible first-stage retriever (one xor + popcount
    per candidate); ties broken by vec_id.  Returns (q_id, vec_id,
    hamming, rn)."""
    from pyspark.sql import Window

    b = emb.select("vec_id", sign_bits64(vec_col).alias("bits"))
    q = b.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("bits").alias("q_bits")
    )
    pairs = (
        b.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.bit_count(
                F.col("bits").bitwiseXOR(F.col("q_bits"))
            ).cast("long").alias("hamming"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("hamming", "vec_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "hamming", "rn")
    )


def sign_bit_recall_at_k(
    emb: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Per query: |exact top-k ∩ 1-bit hamming top-k| — how much of
    the exact neighborhood the 64×-compressed retriever keeps (use it
    as stage one with a float or int8 re-rank, never alone)."""
    approx = hamming_topk_1bit(emb, query_ids, k)
    return _recall_vs_exact(emb, query_ids, k, approx)


def rerank_recall_at_k(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    stage1_k: int = 50,
    vec_col: str = "embedding",
) -> DataFrame:
    """Retrieve-then-rerank: 1-bit hamming stage pulls ``stage1_k``
    candidates (xor+popcount over packed words — the cheap scan),
    exact float cosine reranks just those, and recall@k is measured
    against the full exact path.  This is the production ANN serving
    shape: the expensive metric touches ``stage1_k`` vectors per
    query instead of the corpus, and the recall lever is ``stage1_k``
    (the unit test pins rerank ≥ raw 1-bit recall)."""
    from pyspark.sql import Window

    cands = hamming_topk_1bit(emb, query_ids, stage1_k, vec_col).select(
        "q_id", "vec_id"
    )
    vecs = emb.select("vec_id", F.col(vec_col).alias("v"))
    qvecs = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    scored = (
        cands.join(vecs, "vec_id")
        .join(F.broadcast(qvecs), "q_id")
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("v"), F.col("q_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    reranked = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id")
    )
    return _recall_vs_exact(emb, query_ids, k, reranked, vec_col)
