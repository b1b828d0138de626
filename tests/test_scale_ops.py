"""Skew-salting and IVF ANN: the explicit scale-path operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from spotify_streaming_etl_pipeline_spark.llm import similarity
from spotify_streaming_etl_pipeline_spark.operators.skew import (
    salted_agg,
    salted_join,
)
from tests.fixtures import frame

#: DDL of the vector frames these tests build.
_EMB = "vec_id long, embedding array<float>"


def _skewed(spark):
    # one hot key (90%) + a tail
    rows = [("hot", float(i % 7)) for i in range(900)] + [
        (f"k{i}", float(i)) for i in range(100)
    ]
    return spark.createDataFrame(rows, "k: string, v: double")


def test_salted_agg_matches_plain_agg(spark):
    df = _skewed(spark)
    plain = {
        r["k"]: (r["n"], r["s"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted = {
        r["k"]: (r["n"], r["sum_v"])
        for r in salted_agg(df, ["k"], sums=["v"]).collect()
    }
    assert salted == plain
    assert salted["hot"][0] == 900


def test_salted_join_matches_plain_join(spark):
    big = _skewed(spark)
    small = spark.createDataFrame(
        [("hot", "H"), ("k1", "A"), ("missing", "Z")], "k: string, tag: string"
    )
    plain = sorted(
        (r["k"], r["v"], r["tag"])
        for r in big.join(small, ["k"]).collect()
    )
    salted = sorted(
        (r["k"], r["v"], r["tag"])
        for r in salted_join(big, small, ["k"]).collect()
    )
    assert salted == plain
    assert len(salted) == 901  # 900 hot + k1


def test_ivf_topk_shape_and_sanity(spark, sf_dir):
    from spotify_streaming_etl_pipeline_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(emb, [0, 1], k=3, n_centroids=4, n_probe=2)
    rows = out.collect()
    assert set(r["q_id"] for r in rows) == {0, 1}
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    for q, rs in by_q.items():
        assert [r["rn"] for r in sorted(rs, key=lambda x: x["rn"])] == list(
            range(1, len(rs) + 1)
        )
        assert all(r["vec_id"] != q for r in rs)
        # ranked by descending cosine
        cos = [r["cosine"] for r in sorted(rs, key=lambda x: x["rn"])]
        assert cos == sorted(cos, reverse=True)


def test_distributed_surrogate_matches_global_sort(spark):
    from spotify_streaming_etl_pipeline_spark.operators.surrogate import (
        with_surrogate_key,
        with_surrogate_key_distributed,
    )

    rows = [(f"key{i:04d}", i * 3) for i in range(977, -1, -1)]  # reverse order in
    df = spark.createDataFrame(rows, "nk: string, payload: int").repartition(7)
    want = {
        (r["nk"], r["sk"])
        for r in with_surrogate_key(df, "sk", ["nk"], existing_max=50).collect()
    }
    got = {
        (r["nk"], r["sk"])
        for r in with_surrogate_key_distributed(
            df, "sk", ["nk"], existing_max=50
        ).collect()
    }
    assert got == want
    sks = sorted(sk for _, sk in got)
    assert sks == list(range(51, 51 + 978))  # dense, offset-continued


def test_distributed_surrogate_empty_input(spark):
    from spotify_streaming_etl_pipeline_spark.operators.surrogate import (
        with_surrogate_key_distributed,
    )

    df = spark.createDataFrame([], "nk: string")
    assert with_surrogate_key_distributed(df, "sk", ["nk"]).count() == 0


def test_compact_parquet_preserves_rows_and_reduces_files(spark, tmp_path):
    """Compaction must shrink the file count to the size-derived target
    and keep every row byte-for-byte (checked via a full sort-compare)."""
    from spotify_streaming_etl_pipeline_spark.operators.maintenance import (
        compact_parquet,
        parquet_file_stats,
    )

    path = str(tmp_path / "frag")
    # 20 separate appends -> >= 20 small files
    for i in range(20):
        spark.range(i * 10, (i + 1) * 10).write.mode("append").parquet(path)
    before_rows = sorted(r["id"] for r in spark.read.parquet(path).collect())
    n_before, _ = parquet_file_stats(path)
    assert n_before >= 20

    n_after = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert n_after == 1  # tiny table -> single target file
    after_rows = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert after_rows == before_rows == list(range(200))

    # Already-compact dirs are left untouched (no rewrite churn).
    assert compact_parquet(spark, path, target_file_bytes=1 << 30) == 1


def test_approx_percentile_tracks_exact(spark):
    """The documented 100 TB swap for exact percentiles
    (length_percentiles, quality_cutoff) must stay within sketch
    tolerance of the exact values on a realistic distribution."""
    from pyspark.sql import functions as F

    df = spark.range(10_000).select(
        (F.col("id") % 997).cast("double").alias("x")
    )
    row = df.agg(
        F.percentile("x", F.lit(0.5)).alias("exact"),
        F.percentile_approx("x", F.lit(0.5), F.lit(10_000)).alias("approx"),
    ).collect()[0]
    assert abs(row["exact"] - row["approx"]) <= 5  # accuracy=10k -> tight


def test_compact_leaf_partition_preserves_partition_column(spark, tmp_path):
    """Compaction is documented per-partition-directory: data files in
    a leaf dir (year=...) do NOT contain the partition column, and the
    rewrite must keep it that way so the outer partitioned read still
    infers it from the directory name."""
    from spotify_streaming_etl_pipeline_spark.operators.maintenance import (
        compact_parquet,
        parquet_file_stats,
    )

    root = str(tmp_path / "part_table")
    for i in range(6):  # several appends -> several files per partition
        spark.range(i * 10, (i + 1) * 10).selectExpr(
            "id", "2020 + cast(id % 2 AS INT) AS year"
        ).write.partitionBy("year").mode("append").parquet(root)
    before = sorted(
        (r["id"], r["year"]) for r in spark.read.parquet(root).collect()
    )
    leaf = f"{root}/year=2020"
    assert parquet_file_stats(leaf)[0] >= 6
    n_after = compact_parquet(spark, leaf, target_file_bytes=1 << 30)
    assert n_after == 1
    after = sorted(
        (r["id"], r["year"]) for r in spark.read.parquet(root).collect()
    )
    assert after == before  # year column and every row intact


def test_ivf_fixture_provenance(spark):
    """The pinned centroids in llm/ivf_fixture.py must be exactly what
    seeded KMeans (k=8, seed=7) learns on the sf0.01 corpus — proving
    the 'trained offline, frozen for serving' fixture is genuine, not
    hand-picked to make the oracle pass."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from spotify_streaming_etl_pipeline_spark.llm.ivf_fixture import (
        IVF_CENTROIDS,
        IVF_FIXTURE_DIM,
        IVF_FIXTURE_K,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vecs = emb.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = KMeans(k=IVF_FIXTURE_K, seed=7, featuresCol="features").fit(vecs)
    centers = sorted(
        [round(float(c), 4) for c in row] for row in model.clusterCenters()
    )
    assert len(IVF_CENTROIDS) == IVF_FIXTURE_K
    assert all(len(row) == IVF_FIXTURE_DIM for row in IVF_CENTROIDS)
    assert centers == IVF_CENTROIDS


def test_ivf_pinned_centroids_beat_random_assignment(spark, sf_dir):
    """Serving from the learned index must agree with the brute-force
    top-1 for most queries on the training corpus (IVF recall check —
    the learned cells actually concentrate neighbors)."""
    from spotify_streaming_etl_pipeline_spark.llm.ivf_fixture import IVF_CENTROIDS
    from spotify_streaming_etl_pipeline_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = {
        r["q_id"]: r["vec_id"]
        for r in similarity.cosine_topk(emb, qids, k=1).collect()
    }
    ivf = {
        r["q_id"]: r["vec_id"]
        for r in similarity.ivf_topk(
            emb, qids, k=1, n_probe=2, centroids=IVF_CENTROIDS
        ).collect()
    }
    hits = sum(1 for q in qids if ivf.get(q) == exact[q])
    assert hits >= 3  # approximate by design; majority recall expected


def test_salted_join_rejects_small_side_preserving_joins(spark):
    """Review finding r6: a 'full'/'right' join over the replicated
    small side would emit its unmatched rows once PER SALT — reject
    instead of silently corrupting."""
    import pytest

    big = _skewed(spark)
    small = spark.createDataFrame([("hot", "H")], "k: string, tag: string")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="preserving"):
            salted_join(big, small, ["k"], how=how)
    # left join stays valid: big-side rows are never replicated
    n_plain = big.join(small, ["k"], "left").count()
    assert salted_join(big, small, ["k"], how="left").count() == n_plain


def test_salted_agg_min_max_and_empty_aggs(spark):
    import pytest

    df = _skewed(spark)
    plain = {
        r["k"]: (r["mn"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        r["k"]: (r["min_v"], r["max_v"])
        for r in salted_agg(
            df, ["k"], count_alias=None, mins=["v"], maxs=["v"]
        ).collect()
    }
    assert salted == plain
    with pytest.raises(ValueError, match="at least one aggregate"):
        salted_agg(df, ["k"], count_alias=None)


def _planted_vectors(spark, per_cluster=20,
                     seps=((10.0, 0.0), (0.0, 10.0), (-10.0, -10.0))):
    """3 well-separated planted clusters in the first 2 dims (rest 0),
    ids INTERLEAVED so vec_id % 3 == planted cluster (the hash-seeded
    init then starts at the true centroids), with small deterministic
    within-cluster jitter."""
    rows = []
    for c, (cx, cy) in enumerate(seps):
        for i in range(per_cluster):
            vec = [cx + (i % 5) * 0.01, cy + (i % 3) * 0.01] + [0.0] * 62
            rows.append((c + 3 * i, [float(x) for x in vec]))
    return frame(spark, rows, _EMB)


def test_kmeans_lloyd_stable_and_deterministic(spark):
    """With the seed cells aligned to the planted clusters, 2 Lloyd
    rounds must keep each planted cluster on one uniform, distinct
    label (distance/tie-break/update stability) and the assignment
    must be deterministic run to run."""
    emb = _planted_vectors(spark)
    asg = similarity.kmeans_lloyd(emb, n_clusters=3, n_iter=2)
    got = {r["vec_id"]: r["cell"] for r in asg.collect()}
    labels = [{got[c + 3 * i] for i in range(20)} for c in range(3)]
    assert all(len(s) == 1 for s in labels), labels
    assert len(set.union(*labels)) == 3
    again = {r["vec_id"]: r["cell"] for r in
             similarity.kmeans_lloyd(emb, n_clusters=3, n_iter=2).collect()}
    assert again == got


def test_kmeans_lloyd_auto_k_matches_explicit(spark):
    """n_clusters=None derives k = ceil(n / target_cluster_size) and
    must be row-identical to passing that k explicitly — the
    k-grows-with-n discipline that keeps semantic_dedup's
    within-cluster pairwise term linear in corpus size."""
    emb = _planted_vectors(spark)  # 60 vectors
    auto = similarity.kmeans_lloyd(
        emb, n_clusters=None, n_iter=2, target_cluster_size=20
    )
    explicit = similarity.kmeans_lloyd(emb, n_clusters=3, n_iter=2)
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def _group_jobs(spark, group: str, fn) -> int:
    """The number of Spark jobs ``fn()`` runs, read from ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store lags
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_kmeans_lloyd_auto_k_delegates_to_twolevel_above_crossover(
    spark, monkeypatch
):
    """The scale switch (llm/similarity.py:kmeans_lloyd): auto-k above
    ``twolevel_crossover`` vectors must return exactly the two-level
    assignment (row-identical to calling kmeans_multilevel(levels=2)
    directly), so SemDeDup / IVF training get the O(n*sqrt(k)) plan
    by default at scale; below the crossover — and with
    crossover=None — the flat plan is unchanged.  The delegation
    counts the vectors and rows once: up to the first Lloyd round it
    runs the jobs of one ``_dims_counts`` pass over fresh dims."""
    emb = _planted_vectors(spark)  # 60 vectors

    class FirstRound(Exception):
        pass

    def first_round(dims, *args, **kwargs):
        dims.unpersist()  # the delegation's own dims
        raise FirstRound

    def delegate():
        with monkeypatch.context() as m:
            m.setattr(similarity, "_lloyd", first_round)
            try:
                similarity.kmeans_lloyd(
                    emb, n_clusters=None, n_iter=2, target_cluster_size=20,
                    twolevel_crossover=50,
                )
            except FirstRound:
                pass

    def one_pass():
        dims = similarity._exploded(emb, "embedding").repartition("vec_id").persist()
        similarity._dims_counts(dims)
        dims.unpersist()

    assert _group_jobs(spark, "kmeans-delegation", delegate) == _group_jobs(
        spark, "kmeans-one-pass", one_pass
    )
    delegated = similarity.kmeans_lloyd(
        emb, n_clusters=None, n_iter=2, target_cluster_size=20,
        twolevel_crossover=50,  # 60 > 50 -> two-level path
    )
    direct = similarity.kmeans_multilevel(
        emb, n_iter=2, target_cluster_size=20, levels=2
    )
    assert sorted(map(tuple, delegated.collect())) == sorted(
        map(tuple, direct.collect())
    )
    flat = similarity.kmeans_lloyd(
        emb, n_clusters=None, n_iter=2, target_cluster_size=20,
        twolevel_crossover=None,
    )
    explicit = similarity.kmeans_lloyd(emb, n_clusters=3, n_iter=2)
    assert sorted(map(tuple, flat.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_kmeans_twolevel_recovers_planted_hierarchy(spark):
    """6 planted clusters = 3 coarse x-groups x 2 fine y-subclusters,
    ids laid out so vec_id % 6 == planted cluster: by CRT the coarse
    init (vec_id % k1, k1=3) starts on the x-groups and the fine init
    (vec_id % k2, k2=2) starts on the y-subclusters — two-level Lloyd
    (k_total = ceil(120/20) = 6) must keep each planted cluster on one
    uniform, distinct composite label, deterministically."""
    rows = []
    for c in range(6):
        x, y = 20.0 * (c % 3) - 20.0, 8.0 * (c % 2)
        for i in range(20):
            vec = [x + (i % 5) * 0.01, y + (i % 3) * 0.01] + [0.0] * 62
            rows.append((c + 6 * i, [float(v) for v in vec]))
    emb = frame(spark, rows, _EMB)
    asg = similarity.kmeans_multilevel(
        emb, n_iter=2, target_cluster_size=20, levels=2
    )
    got = {r["vec_id"]: r["cell"] for r in asg.collect()}
    assert len(got) == 120
    labels = [{got[c + 6 * i] for i in range(20)} for c in range(6)]
    assert all(len(s) == 1 for s in labels), labels
    assert len(set.union(*labels)) == 6
    again = {r["vec_id"]: r["cell"] for r in
             similarity.kmeans_multilevel(
                 emb, n_iter=2, target_cluster_size=20, levels=2).collect()}
    assert again == got


def test_kmeans_multilevel_recovers_planted_hierarchy(spark):
    """30 planted clusters = 2 x 3 x 5 (pairwise-coprime levels, so by
    CRT the level inits vec_id % 2 / % 3 / % 5 each start on their
    planted axis group): three-level Lloyd with ks=[2, 3, 5] must keep
    every planted cluster on one uniform, distinct composite label,
    deterministically — the recursion past two levels, proven."""
    rows = []
    for c in range(30):
        x, y, z = 100.0 * (c % 2), 20.0 * (c % 3), 4.0 * (c % 5)
        for i in range(8):
            vec = [x + (i % 3) * 0.01, y + (i % 2) * 0.01, z] + [0.0] * 61
            rows.append((c + 30 * i, [float(v) for v in vec]))
    emb = frame(spark, rows, _EMB)
    asg = similarity.kmeans_multilevel(emb, ks=[2, 3, 5], n_iter=2)
    got = {r["vec_id"]: r["cell"] for r in asg.collect()}
    assert len(got) == 240
    labels = [{got[c + 30 * i] for i in range(8)} for c in range(30)]
    assert all(len(s) == 1 for s in labels), labels
    assert len(set.union(*labels)) == 30
    again = {r["vec_id"]: r["cell"] for r in
             similarity.kmeans_multilevel(emb, ks=[2, 3, 5], n_iter=2).collect()}
    assert again == got


def test_kmeans_multilevel_depth_one_is_flat_lloyd(spark):
    """ks=[k] degenerates to flat Lloyd (row-identical), and the
    result is checkpointed before the dims persist is released — no
    recompute-without-cache on first action."""
    emb = _planted_vectors(spark)
    one = similarity.kmeans_multilevel(emb, ks=[3], n_iter=2)
    flat = similarity.kmeans_lloyd(emb, n_clusters=3, n_iter=2)
    assert sorted(map(tuple, one.collect())) == sorted(
        map(tuple, flat.collect())
    )


def test_semantic_dedup_consumes_twolevel_assignments(spark):
    """semantic_dedup(assignments=...) must skip its own clustering
    and apply the min-id drop rule within the supplied cells: an exact
    duplicate of vec 0 planted at a HIGHER id lands in vec 0's cell
    and is dropped; vec 0 survives."""
    emb = _planted_vectors(spark)  # ids 0..59
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 100).alias("vec_id"), "embedding"
    )
    both = emb.unionByName(dup)
    asg = similarity.kmeans_multilevel(
        both, n_iter=2, target_cluster_size=16, levels=2
    )
    dec = {r["vec_id"]: r["kept"] for r in
           similarity.semantic_dedup(
               both, threshold=0.999, assignments=asg).collect()}
    assert len(dec) == 61
    assert dec[0] is True and dec[100] is False
    a = {r["vec_id"]: r["cell"] for r in asg.collect()}
    assert a[0] == a[100]


def test_kmeans_lloyd_update_rounds_move_centroids(spark):
    """A seed mix that starts centroids BETWEEN two planted clusters
    (cluster A ids 0-14, cluster B ids 101-120, n_clusters=2: both
    seed cells hold an A/B mixture) must converge to the true
    clustering within 2 rounds — proof the update loop really
    re-estimates centroids rather than echoing the init."""
    rows = (
        [(i, [10.0 + (i % 5) * 0.01, 0.0] + [0.0] * 62) for i in range(15)]
        + [(100 + i, [-10.0, 10.0 + (i % 3) * 0.01] + [0.0] * 62)
           for i in range(1, 21)]
    )
    emb = frame(spark, [(v, [float(x) for x in vec]) for v, vec in rows], _EMB)
    asg = {r["vec_id"]: r["cell"] for r in
           similarity.kmeans_lloyd(emb, n_clusters=2, n_iter=2).collect()}
    a_labels = {asg[i] for i in range(15)}
    b_labels = {asg[100 + i] for i in range(1, 21)}
    assert len(a_labels) == 1 and len(b_labels) == 1
    assert a_labels != b_labels


def test_semantic_dedup_min_id_keeper_and_star_guard(spark):
    """Within each near-identical set, exactly the min-id vector
    survives; and the star guard (cap smaller than a planted cluster)
    reaches the same verdicts by scoring members against the
    cluster-min representative."""
    emb = _planted_vectors(spark)
    dec = {r["vec_id"]: r["kept"] for r in
           similarity.semantic_dedup(emb, n_clusters=3, n_iter=2,
                                     threshold=0.9999).collect()}
    # jitter is tiny relative to the offsets, so every same-cluster
    # pair clears 0.9999 -> one keeper per planted cluster: ids 0,1,2
    assert sum(dec.values()) == 3
    assert dec[0] and dec[1] and dec[2]
    capped = {r["vec_id"]: r["kept"] for r in
              similarity.semantic_dedup(emb, n_clusters=3, n_iter=2,
                                        threshold=0.9999,
                                        max_cluster_size=5).collect()}
    assert capped == dec  # star edges reach the same verdicts here


def test_pca_recovers_planted_subspace(spark):
    """Vectors planted in a 2-D subspace of 64-D (plus tiny jitter):
    the top-2 eigenvalues must dominate, the 2-D projection must
    preserve pairwise distances of the full-rank-2 data, and the
    output must be deterministic run to run."""
    import math

    from spotify_streaming_etl_pipeline_spark.llm import projections

    rows = []
    for i in range(120):
        a = (i % 11) - 5.0          # spread along axis u = e0
        b = ((i * 7) % 13) - 6.0    # spread along axis v = e1
        vec = [a, b] + [0.001 * ((i + d) % 3) for d in range(62)]
        rows.append((i, [float(x) for x in vec]))
    emb = frame(spark, rows, _EMB)

    mean, vals, vecs = projections.pca_components(emb, n_components=4)
    assert vals[0] > 100 * vals[2] and vals[1] > 100 * vals[2], vals

    proj = {r["vec_id"]: r["projection"] for r in
            projections.pca_project(emb, n_components=2).collect()}
    again = {r["vec_id"]: r["projection"] for r in
             projections.pca_project(emb, n_components=2).collect()}
    assert proj == again
    full = {i: rows[i][1] for i in range(120)}
    for i, j in ((0, 1), (5, 100), (33, 77)):
        d_full = math.dist(full[i][:2], full[j][:2])
        d_proj = math.dist(proj[i], proj[j])
        assert abs(d_full - d_proj) < 0.05, (i, j, d_full, d_proj)


def test_pca_whiten_unit_variance(spark):
    """Whitened coordinates must come out with ~unit variance per
    component (identity covariance — the anisotropy fix)."""
    from spotify_streaming_etl_pipeline_spark.llm import projections

    rows = []
    for i in range(200):
        a = ((i % 17) - 8.0) * 3.0   # high-variance axis
        b = ((i % 5) - 2.0) * 0.5    # low-variance axis
        vec = [a, b] + [0.0] * 62
        rows.append((i, [float(x) for x in vec]))
    emb = frame(spark, rows, _EMB)
    proj = [r["projection"] for r in
            projections.pca_project(emb, n_components=2, whiten=True).collect()]
    for c in range(2):
        xs = [p[c] for p in proj]
        m = sum(xs) / len(xs)
        var = sum((x - m) ** 2 for x in xs) / len(xs)
        assert abs(var - 1.0) < 0.05, (c, var)


def test_kmeans_twolevel_matches_duckdb_oracle(spark, sf_dir):
    """Full oracle parity for the two-level clusterer on the real
    embeddings substrate — the same discipline as every registered
    pair, run here as a unit until the r9 registration slot opens
    (round 8 already carries the brief's maximum of 5 new pairs)."""
    from spotify_streaming_etl_pipeline_spark.plans.llm_ann_gates import (
        _twolevel_oracle_sql,
    )
    from spotify_streaming_etl_pipeline_spark.sources.catalog import load_table
    from tests.oracle_utils import compare, duckdb_con

    emb = load_table(spark, sf_dir, "embeddings")
    got = similarity.kmeans_multilevel(emb, n_iter=2, levels=2).select(
        "vec_id", F.col("cell").cast("long").alias("cell")
    )
    want = duckdb_con(sf_dir).execute(_twolevel_oracle_sql(2)).fetchdf()
    assert not compare(got, want)


def test_semantic_dedup_twolevel_matches_duckdb_oracle(spark, sf_dir):
    """End-to-end oracle parity for SemDeDup on two-level assignments
    — the operator's scale form, verified with the same discipline as
    the registered flat pair (r9 registration candidate)."""
    from spotify_streaming_etl_pipeline_spark.plans.llm_ann_gates import (
        _semantic_twolevel_oracle_sql,
    )
    from spotify_streaming_etl_pipeline_spark.sources.catalog import load_table
    from tests.oracle_utils import compare, duckdb_con

    emb = load_table(spark, sf_dir, "embeddings")
    asg = similarity.kmeans_multilevel(emb, n_iter=2, levels=2)
    got = similarity.semantic_dedup(
        emb, threshold=0.45, assignments=asg
    ).select("vec_id", F.col("cell").cast("long").alias("cell"), "kept")
    want = duckdb_con(sf_dir).execute(_semantic_twolevel_oracle_sql()).fetchdf()
    assert not compare(got, want)
