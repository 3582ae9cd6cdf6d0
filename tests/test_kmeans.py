"""Property tests for clustering (SURVEY §5.2.4): SSE non-increasing,
unique assignment, convergence fixpoint, purity in [0,1], empty-cluster
safety, MLlib parity."""

import pytest
from pyspark.sql import functions as F

from graph_db_clustering_spark.catalog import load_table
from graph_db_clustering_spark.functions.vectors import unit
from graph_db_clustering_spark.operators import kmeans


@pytest.fixture(scope="module")
def points(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_init_deterministic(points):
    c1 = kmeans.init_centroids(points, "vec_id", "embedding", 3).collect()
    c2 = kmeans.init_centroids(points, "vec_id", "embedding", 3).collect()
    assert [r.cid for r in c1] == [0, 1, 2]
    assert c1 == c2


def test_every_point_assigned_exactly_once(points):
    cents = kmeans.init_centroids(points, "vec_id", "embedding", 4)
    a = kmeans.assign(points, cents)
    n = points.count()
    assert a.count() == n
    assert a.select("id").distinct().count() == n


def test_sse_non_increasing_euclidean(points):
    cents = kmeans.init_centroids(points, "vec_id", "embedding", 4)
    sses = []
    for _ in range(4):
        a = kmeans.assign(points, cents, metric="euclidean")
        sses.append(a.agg(F.sum("score")).first()[0])
        cents = kmeans.update(points, a, cents)
    for prev, nxt in zip(sses, sses[1:]):
        assert nxt <= prev + 1e-6, sses


def test_fit_converges_and_is_fixpoint(points):
    res = kmeans.fit(points, k=2, max_iter=30)
    assert res.converged
    # converged assignment is a fixpoint: one more assign yields same counts
    again = kmeans.assign(points, res.centroids)
    c1 = {r.cid: r.n for r in res.assignments.groupBy("cid").agg(F.count("*").alias("n")).collect()}
    c2 = {r.cid: r.n for r in again.groupBy("cid").agg(F.count("*").alias("n")).collect()}
    assert c1 == c2


def test_purity_in_unit_interval(points):
    res = kmeans.fit(points, k=2, max_iter=10)
    scores = kmeans.purity_scores(res.assignments, points, "vec_id", "label").collect()
    assert len(scores) >= 1
    for r in scores:
        assert 0.0 <= r.purity <= 1.0
        assert r.hi + r.lo > 0



def test_fit_failing_mid_loop_releases_its_pins(points, spark, monkeypatch):
    """An iteration that raises leaves no cached frame behind: a failed
    fit has no result to own one."""
    points.count()  # the module fixture's own cache is not the fit's

    def cached():
        rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
        return sum(not r.isCheckpointed() for r in rdds)

    before = cached()
    step = kmeans._lloyd_step
    calls = []

    def boom(*a, **k):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("step failed")
        return step(*a, **k)

    monkeypatch.setattr(kmeans, "_lloyd_step", boom)
    with pytest.raises(RuntimeError, match="step failed"):
        kmeans.fit(points, k=2, max_iter=5)
    assert cached() <= before


def _replay_fit(points, k, metric, parity, max_iter):
    """The Lloyd's loop from the public steps over centroid frames:
    cosine assigns unit vectors with metric="dot", as fit() did before
    its centroids moved to the driver. Returns (history counts,
    assignments, centroids)."""
    spark = points.sparkSession
    cents = kmeans.init_centroids(points, "vec_id", "embedding", k)
    pts = points
    if metric == "cosine":
        pts = points.select("vec_id", unit(F.col("embedding")).alias("embedding"))
    history, prev = [], None
    for _ in range(max_iter):
        scored = cents
        if metric == "cosine":
            scored = cents.select("cid", unit(F.col("centroid")).alias("centroid"))
        a = kmeans.assign(pts, scored, metric="dot" if metric == "cosine" else metric,
                          parity=parity)
        a = spark.createDataFrame(a.collect(), a.schema)
        counts = {r.cid: r.n for r in a.groupBy("cid").agg(F.count("*").alias("n")).collect()}
        history.append(counts)
        if counts == prev:
            break
        prev = counts
        cents = kmeans.update(points, a, cents)
        cents = spark.createDataFrame(cents.collect(), "cid int, centroid array<double>")
    return history, sorted(a.collect()), sorted(cents.collect())


@pytest.mark.parametrize("metric,parity,k", [
    ("cosine", "corrected", 3),
    ("euclidean", "corrected", 4),
    ("dot", "corrected", 3),
    ("cosine", "reference-bug", 2),
])
def test_fit_matches_loop_replayed_from_public_steps(points, metric, parity, k):
    """fit()'s one-aggregate step reproduces the assign/update loop:
    identical per-iteration counts and (id, cid, score) rows, centroids
    within 1e-12."""
    history, assigned, cents = _replay_fit(points, k, metric, parity, max_iter=6)
    res = kmeans.fit(points, k=k, metric=metric, parity=parity, max_iter=6)
    assert [h["counts"] for h in res.history] == history
    assert sorted(res.assignments.collect()) == assigned
    got = sorted(res.centroids.collect())
    assert [r.cid for r in got] == [r.cid for r in cents]
    for g, want in zip(got, cents):
        assert g.centroid == pytest.approx(want.centroid, abs=1e-12)


def test_fit_and_stream_update_job_budget(points, spark):
    """A new driver barrier in the Lloyd's loop fails here without a
    stopwatch: fit() runs at most two jobs per iteration (the aggregate's
    map stage and its result) plus two for the initial sample, and one
    streaming mini-batch update at most two."""
    from graph_db_clustering_spark.streaming.kmeans import StreamingKMeans

    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    res, n = jobs("kmeans-fit-budget", lambda: kmeans.fit(points, k=3, max_iter=3))
    assert n <= 2 * res.iterations + 2, (n, res.iterations)
    init = [[float(x) for x in r.embedding] for r in points.orderBy("vec_id").take(3)]
    model = StreamingKMeans(init)
    _, n = jobs("kmeans-stream-budget",
                lambda: model.update_batch(points, "vec_id", "embedding"))
    assert n <= 2, n
    assert model.counts.sum() == points.count()


def test_fit_empty_input_converges_empty(points):
    res = kmeans.fit(points.limit(0), k=2, max_iter=5)
    assert res.converged
    assert res.centroids.count() == 0
    assert res.assignments.count() == 0


def test_fit_k_larger_than_n_gives_n_centroids(spark):
    pts = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    res = kmeans.fit(pts, k=5, max_iter=5)
    assert res.converged
    assert sorted(r.cid for r in res.centroids.collect()) == [0, 1, 2]
    assert sorted(r.id for r in res.assignments.collect()) == [0, 1, 2]


def test_fit_null_embedding_counts_in_size_not_mean(spark):
    """A NULL vector is assigned (its score is NULL, and NULL sorts first)
    and counts toward its cluster's size, but not toward its mean. Ids 0
    and 2 are the two the deterministic sample picks, so the NULL is never
    an initial centroid."""
    pts = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [3.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 3.0]), (4, None)],
        "vec_id long, embedding array<double>",
    )
    res = kmeans.fit(pts, k=2, metric="euclidean", max_iter=5)
    assert res.converged
    assert res.history[-1]["counts"] == {0: 3, 1: 2}
    assert {r.cid: list(r.centroid) for r in res.centroids.collect()} == {
        0: [2.0, 0.0], 1: [0.0, 2.0]}
    null_row = [r for r in res.assignments.collect() if r.id == 4]
    assert [(r.cid, r.score) for r in null_row] == [(0, None)]


def test_fit_initial_centroids_skip_null_embeddings(spark):
    """Id 0 is first in the deterministic sample order, but its vector is
    NULL: the initial centroids are sampled from the non-null vectors
    (ids 2 and 4), so no NULL centroid swallows every point in the first
    iteration."""
    pts = spark.createDataFrame(
        [(0, None), (1, [0.0, 2.0]), (2, [0.0, 1.0]), (3, [2.0, 0.0]), (4, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    res = kmeans.fit(pts, k=2, metric="euclidean", max_iter=5)
    assert [h["counts"] for h in res.history] == [{0: 3, 1: 2}] * 2
    assert {r.cid: list(r.centroid) for r in res.centroids.collect()} == {
        0: [0.0, 1.5], 1: [1.5, 0.0]}


def test_cosine_fit_rejects_a_zero_initial_centroid(spark):
    """Ids 0 and 2 are the two the deterministic sample picks; id 2 is
    the zero vector, which has no direction to measure a cosine to."""
    pts = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0]), (3, [1.0, 1.0]), (4, [2.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="centroid 1 is a zero vector"):
        kmeans.fit(pts, k=2, metric="cosine", max_iter=5)


def test_cosine_fit_rejects_a_cluster_mean_of_zero(spark):
    """Both initial centroids are (1, 0), so every point ties into
    cluster 0, whose members sum to zero: the second iteration has a
    zero centroid to normalize."""
    pts = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 1.0]), (2, [1.0, 0.0]), (4, [-1.0, -1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="centroid 0 is a zero vector"):
        kmeans.fit(pts, k=2, metric="cosine", max_iter=5)


@pytest.mark.parametrize("metric", ["euclidean", "cosine"])
def test_fit_with_null_elements_matches_replayed_loop(spark, metric):
    """Id 5 is a sampled initial centroid with a NULL element: its scores
    are NULL, which sort first, as in the assign/update loop; the driver
    carries the NULL through its norms and literals instead of failing."""
    pts = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [3.0, 1.0]), (2, [0.0, 1.0]), (3, [1.0, 3.0]),
         (4, [2.0, 2.0]), (5, [None, 2.0])],
        "vec_id long, embedding array<double>",
    )
    history, assigned, cents = _replay_fit(pts, 2, metric, "corrected", max_iter=5)
    res = kmeans.fit(pts, k=2, metric=metric, max_iter=5)
    assert [h["counts"] for h in res.history] == history
    assert sorted(res.assignments.collect()) == assigned
    assert sorted(res.centroids.collect()) == cents


def test_empty_cluster_keeps_previous_centroid(points, spark):
    cents = kmeans.init_centroids(points, "vec_id", "embedding", 2)
    a = kmeans.assign(points, cents)
    # force cluster 1 empty by reassigning everything to cluster 0
    forced = a.withColumn("cid", F.lit(0))
    updated = kmeans.update(points, forced, cents)
    assert updated.count() == 2  # the reference would ZeroDivisionError here
    prev = {r.cid: r.centroid for r in cents.collect()}
    new = {r.cid: r.centroid for r in updated.collect()}
    assert new[1] == prev[1]  # empty cluster kept its centroid
    assert new[0] != prev[0]


def test_reference_bug_parity_flips_assignment(points):
    cents = kmeans.init_centroids(points, "vec_id", "embedding", 2)
    good = kmeans.assign(points, cents, parity="corrected")
    bug = kmeans.assign(points, cents, parity="reference-bug")
    merged = good.select("id", F.col("cid").alias("g")).join(
        bug.select("id", F.col("cid").alias("b")), "id"
    )
    # with k=2 the least-similar centroid is always the other one
    assert merged.filter(F.col("g") == F.col("b")).count() == 0


def test_mllib_parity_euclidean(points):
    """Pure-DataFrame Lloyd's and MLlib KMeans reach solutions of equal
    quality (same k, euclidean): converged SSE within 15% in BOTH
    directions. SSE parity is permutation- and basin-invariant, unlike
    the pairwise co-assignment vote this replaces — k=2 on this data has
    near-tied local optima, and which one a run lands in can flip with
    float summation order (partition scheduling), which made the old
    agree>disagree vote hover at 50/50 and flake under a loaded suite."""
    res = kmeans.fit(points, k=2, metric="euclidean", max_iter=30)
    model, preds = kmeans.mllib_fit(
        points, k=2, vec_col="embedding", seed=42, max_iter=30
    )
    # fit()'s euclidean score column IS the squared distance, so its sum
    # over the converged assignments is the same quantity as trainingCost
    ours = res.assignments.agg(F.sum("score")).first()[0]
    theirs = model.summary.trainingCost
    assert preds.count() == res.assignments.count()
    assert ours <= theirs * 1.15, (ours, theirs)
    assert theirs <= ours * 1.15, (ours, theirs)


def test_kmeans_parallel_init_deterministic_and_invariant(points):
    from graph_db_clustering_spark.operators.kmeans import init_centroids_parallel

    a = sorted(
        (r.cid, tuple(r.centroid))
        for r in init_centroids_parallel(points.repartition(1), "vec_id", "embedding", 4).collect()
    )
    b = sorted(
        (r.cid, tuple(r.centroid))
        for r in init_centroids_parallel(
            points.repartition(7, "vec_id"), "vec_id", "embedding", 4
        ).collect()
    )
    assert a == b
    assert len(a) == 4
    assert len({c for _, c in a}) == 4  # distinct centers


def test_kmeans_parallel_init_covers_planted_blobs(spark):
    """Five well-separated blobs with 90% of mass in blob 0: plain
    k-point sampling would land ~all centers in the heavy blob; the
    d^2-weighted k-means|| rounds must cover EVERY blob."""
    from graph_db_clustering_spark.operators.kmeans import init_centroids_parallel

    i = F.col("id")
    blob = F.when(i % 10 < 6, 0).otherwise((i % 10) - 5)  # 0,0,0,0,0,0,1,2,3,4
    noise = lambda j: (F.sin(i * 12.9898 + j * 78.233) * 43758.5453) % 1.0 * 0.1  # noqa: E731
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda j: (F.when(j == blob, 100.0).otherwise(0.0) + noise(j)).cast("double"),
    )
    pts = spark.range(2000).select("id", vec.alias("embedding"))
    cents = init_centroids_parallel(pts, "id", "embedding", k=5, rounds=4)
    got = [list(r.centroid) for r in cents.collect()]
    assert len(got) == 5
    covered = set()
    for c in got:
        axis = max(range(8), key=lambda j: c[j])
        if c[axis] > 50:
            covered.add(axis)
    assert covered == {0, 1, 2, 3, 4}, covered


def test_kmeans_parallel_init_feeds_fit(points):
    """The (cid, centroid) contract plugs straight into the Lloyd loop:
    one assign+update round runs and SSE is finite."""
    from graph_db_clustering_spark.operators import kmeans as km

    cents = km.init_centroids_parallel(points, "vec_id", "embedding", 3)
    a = km.assign(points, cents, metric="euclidean")
    sse = a.agg(F.sum("score")).first()[0]
    assert sse is not None and sse >= 0
    assert a.select("cid").distinct().count() <= 3


def test_ari_nmi_closed_forms(spark):
    from graph_db_clustering_spark.operators import kmeans as km

    ids = spark.range(100).select(F.col("id"))
    # identical partitions -> both metrics exactly 1
    a = ids.select("id", (F.col("id") % 4).alias("cid"))
    labels = ids.select("id", (F.col("id") % 4).alias("lab"))
    assert km.adjusted_rand_index(a, labels, "id", "lab") == pytest.approx(1.0)
    assert km.normalized_mutual_info(a, labels, "id", "lab") == pytest.approx(1.0)
    # a pure relabeling is still a perfect match
    b = ids.select("id", ((F.col("id") % 4) * 7 + 1).alias("cid"))
    assert km.adjusted_rand_index(b, labels, "id", "lab") == pytest.approx(1.0)
    # independent partitions -> ARI ~ 0 (chance level)
    c = ids.select("id", (F.col("id") / 25).cast("int").alias("cid"))
    ari = km.adjusted_rand_index(c, labels, "id", "lab")
    assert abs(ari) < 0.05, ari
    # one-cluster side: NMI defined as 0-denominator -> 1.0 only if both
    # degenerate; single cluster vs real labels gives MI 0
    d = ids.select("id", F.lit(0).alias("cid"))
    assert km.normalized_mutual_info(d, labels, "id", "lab") == pytest.approx(0.0)


def test_ari_against_sklearn_formula_small(spark):
    """Hand-computed 6-point example: clusters {0,1,2|3,4,5}, labels
    {0,1|2,3,4,5}. Contingency [[2,1],[0,3]] -> ARI = 0.2424... (the
    textbook value, computed by hand from the Hubert-Arabie formula)."""
    from graph_db_clustering_spark.operators import kmeans as km

    rows = [(i, 0 if i < 3 else 1) for i in range(6)]
    a = spark.createDataFrame(rows, "id long, cid int")
    lab = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1), (3, 1), (4, 1), (5, 1)], "id long, lab int"
    )
    # sum_comb=C(2,2)+C(1,2)+C(3,2)=1+0+3=4; sum_a=2*C(3,2)=6; sum_b=C(2,2)+C(4,2)=1+6=7
    # total=C(6,2)=15; expected=6*7/15=2.8; max=(6+7)/2=6.5; ARI=(4-2.8)/(6.5-2.8)
    want = (4 - 2.8) / (6.5 - 2.8)
    assert km.adjusted_rand_index(a, lab, "id", "lab") == pytest.approx(want)
