"""Distributed k-means (Lloyd's) over embedding DataFrames.

The reference's training loop (kmeans_clustering/image_classification.py:
557-598) collects every point to the driver, runs an O(N*k) nested Python
loop per iteration (:417-433), writes one edge per point per iteration over
Bolt (:444-445), and recomputes centroids with per-property Cypher round
trips (:471-503). Here the k centroids stay on the driver and each
iteration is ONE aggregate job over the points (`_lloyd_step`):

    assignment: one per-row expression over the centroids as an
                array<array<double>> literal (no join, no groupBy(id));
                array_min over (sort_key, cid, score) picks the best
    update:     groupBy(cid) -> count + element-wise vector sums
                -> k rows back to the driver, which forms the means

Driver traffic is O(k * dim) per iteration regardless of N — the property
the reference lacks entirely (SURVEY §4.1 anti-patterns). `assign` and
`update` are the same two steps over lazy centroid DataFrames.

Semantics notes (SURVEY §7.4):
- argmax-cosine, i.e. the CORRECTED assignment; the reference assigns each
  point to the LEAST similar centroid (`similarity < closest`,
  image_classification.py:422-433). `parity="reference-bug"` flips the
  comparator for behavioral replication.
- empty clusters keep their previous centroid (the reference divides by
  zero, image_classification.py:486-492).
- init is seed-deterministic: order by the Knuth multiplicative hash of the
  id (the oracle-checkable replacement for Cypher rand(),
  image_classification.py:233-238).
"""

from __future__ import annotations

import math
from collections import defaultdict
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graph_db_clustering_spark.functions.vectors import cosine_similarity, dot

KNUTH = 2654435761
MOD = 4294967296


def deterministic_sample(df: DataFrame, id_col: str, k: int) -> DataFrame:
    """k-row pseudo-random sample, deterministic and oracle-checkable
    (declared form Q29). TakeOrderedAndProject: per-partition top-k then a
    k-row merge — no global sort, no rand()."""
    return df.orderBy((F.col(id_col) * F.lit(KNUTH)) % F.lit(MOD), F.col(id_col)).limit(k)


def init_centroids(points: DataFrame, id_col: str, vec_col: str, k: int) -> DataFrame:
    """initCentroids analog (image_classification.py:223-240): sample k
    points, copy their vectors. Returns (cid, centroid)."""
    sample = deterministic_sample(points.select(id_col, vec_col), id_col, k)
    w = Window.orderBy(id_col)  # k rows only — single-partition window is fine
    return sample.select(
        (F.row_number().over(w) - 1).alias("cid"), F.col(vec_col).alias("centroid")
    )


def assign(
    points: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    parity: str = "corrected",
) -> DataFrame:
    """Assignment step -> (id, cid, score). One crossJoin(broadcast) +
    min(struct) argmin: the big side never shuffles for the join, and the
    per-point best centroid is a hash aggregate with map-side partial
    combine — the shuffle carries one pre-reduced row per (point, task),
    and there is no per-group sort (measured ~2x faster than the window
    top-1 form at sf0.1; see q08 note in queries/corpus.py).

    The struct sort key is (sort_key, cid): sort_key = -score when the
    best is the MAXIMUM score, so lexicographic struct-min == "best score
    first, then lowest cid" — exactly the window ORDER BY it replaces.

    metric: "cosine" (argmax) or "euclidean" (argmin, on squared distance).
    parity: "corrected" | "reference-bug" (flip comparator — replicates
    image_classification.py:422-433 choosing the LEAST similar centroid).
    """
    p = points.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    c = centroids.select("cid", "centroid")
    if metric == "cosine":
        score = cosine_similarity(F.col("vec"), F.col("centroid"))
        maximize = parity == "corrected"
    elif metric == "dot":
        # inner product — the cheap pair metric for PRE-NORMALIZED inputs
        score = dot(F.col("vec"), F.col("centroid"))
        maximize = parity == "corrected"
    elif metric == "euclidean":
        # squared distance: |a|^2 - 2ab + |b|^2; monotone, cheaper than sqrt
        score = (
            dot(F.col("vec"), F.col("vec"))
            - 2 * dot(F.col("vec"), F.col("centroid"))
            + dot(F.col("centroid"), F.col("centroid"))
        )
        maximize = parity != "corrected"
    else:
        raise ValueError(f"unknown metric: {metric}")

    scored = p.crossJoin(F.broadcast(c)).withColumn("score", score)
    sort_key = -F.col("score") if maximize else F.col("score")
    return (
        scored.groupBy("id")
        .agg(F.min(F.struct(sort_key.alias("sk"), F.col("cid"), F.col("score"))).alias("m"))
        .select("id", F.col("m.cid").alias("cid"), F.col("m.score").alias("score"))
    )


def update(
    points: DataFrame,
    assignments: DataFrame,
    prev_centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Update step: centroid = element-wise mean of member vectors — the
    recalcCentroid analog (image_classification.py:471-503) as one
    distributed agg instead of 7 Cypher round trips per centroid.

    Vector mean without exploding N*dim rows: aggregate per-cluster vector
    SUM via zip_with inside a reduce-style agg is not built in, so we use
    the standard posexplode -> (cid, pos) partial-sum -> re-assemble plan.
    The shuffle key (cid, pos) has k*dim cardinality; partial (map-side)
    aggregation collapses each partition to at most k*dim rows before the
    shuffle, so shuffled bytes are O(parts * k * dim), independent of N.

    Empty clusters keep prev_centroids' vector (reference ZeroDivisionError,
    SURVEY §7.4.5).
    """
    member_vecs = points.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")).join(
        assignments.select("id", "cid"), "id"
    )
    sums = (
        member_vecs.select("cid", F.posexplode("vec").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(F.sum(F.col("x").cast("double")).alias("s"), F.count("*").alias("n"))
    )
    new_cents = (
        sums.groupBy("cid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", (F.col("s") / F.col("n")).alias("m")))
            ).alias("pm")
        )
        .select("cid", F.col("pm.m").alias("centroid"))
    )
    # keep previous centroid for clusters that lost all members
    prev = prev_centroids.select("cid", F.col("centroid").alias("prev_centroid"))
    return prev.join(new_cents, "cid", "left").select(
        "cid", F.coalesce("centroid", "prev_centroid").alias("centroid")
    )


@dataclass
class KMeansResult:
    centroids: DataFrame  # (cid, centroid)
    assignments: DataFrame  # (id, cid, score)
    iterations: int
    converged: bool
    history: list[dict] = field(default_factory=list)


def _sql(x) -> str:
    """A double or None, or a (nested) list of them, as an exact SQL
    literal: repr() round-trips, so the JVM parses back the driver's bits."""
    if isinstance(x, list):
        return "array(" + ", ".join(map(_sql, x)) + ")"
    if x is None:
        return "NULL"
    if math.isfinite(x):
        return repr(float(x)) + "D"
    return f"CAST('{x!r}' AS DOUBLE)"


def _sum_squares(c: list) -> float | None:
    # a left fold from 0.0 in the order of functions/vectors' JVM aggregate
    # (norms bit-identical to unit()/dot()); a NULL element makes it NULL
    if None in c:
        return None
    return reduce(lambda acc, x: acc + x * x, c, 0.0)


def _let(name: str, value: str, body: str) -> str:
    """Evaluate `value` once per row and bind it as `name` in `body`."""
    return f"transform(array({value}), {name} -> {body})[0]"


def _best_centroid(centroids: list, metric: str, parity: str) -> Column:
    """struct(sk, cid, score): the best of the driver-held centroids for
    the row's `vec`, as one per-row expression — no join, no groupBy(id).

    The k x dim matrix is ONE array literal, so the expression's size does
    not grow with k * dim and its generated code is the same in every
    iteration. Scores are assign()'s arithmetic: cosine is dot(unit(vec),
    unit(centroid)) with the centroids normalized here on the driver;
    euclidean is |v|^2 - 2 v.c + |c|^2. array_min over (sk, cid, score)
    is assign()'s min(struct) order: best score, then lowest cid."""
    dot = "aggregate(zip_with({}, {}, (x, y) -> double(x) * double(y)), 0D, (s, x) -> s + x)"
    if metric == "cosine":
        # a zero vector has no direction: raise, as the JVM unit() does under ANSI
        ss = [_sum_squares(c) for c in centroids]
        if 0 in ss:
            raise ValueError(f"cosine k-means: centroid {ss.index(0)} is a zero vector")
        centroids = [[x / math.sqrt(n) if n else None for x in c] for c, n in zip(centroids, ss)]
        score = dot.format("u", "c")
    elif metric == "dot":
        score = dot.format("vec", "c")
    elif metric == "euclidean":
        cc = _sql([_sum_squares(c) for c in centroids])
        score = f"vv - {dot.format('vec', 'c')} * 2 + CAST({cc} AS array<double>)[i]"
    else:
        raise ValueError(f"unknown metric: {metric}")
    maximize = (parity == "corrected") != (metric == "euclidean")
    best = (
        f"array_min(transform(transform(CAST({_sql(centroids)} AS array<array<double>>),"
        f" (c, i) -> {score}),"
        f" (s, i) -> named_struct('sk', {'-s' if maximize else 's'}, 'cid', i, 'score', s)))"
    )
    if metric == "cosine":
        norm = "sqrt(aggregate(vec, 0D, (s, x) -> s + double(x) * double(x)))"
        best = _let("n", norm, _let("u", "transform(vec, x -> double(x) / n)", best))
    elif metric == "euclidean":
        best = _let("vv", dot.format("vec", "vec"), best)
    return F.expr(best)


def _centroid_frame(spark, centroids: list) -> DataFrame:
    """(cid, centroid) of driver-held centroids, as a JVM-side literal."""
    return spark.sql(
        f"SELECT posexplode(CAST({_sql(centroids)} AS array<array<double>>)) AS (cid, centroid)"
    )


def _lloyd_step(vecs: DataFrame, centroids: list, metric: str, parity: str) -> dict:
    """One pass over `vecs` (a `vec` column): assign each row to its
    nearest driver-held centroid and aggregate per cluster. Returns
    {cid: (rows, non-null vectors, element-wise vector sum)} — k rows, one
    hash aggregate, so one map stage plus the result. A NULL vector counts
    toward its cluster's size but not toward its sum."""
    # one parsed expression: dim sum() Columns cost a py4j round trip each
    dim = len(centroids[0]) if centroids else 0
    sums = F.expr(f"array({', '.join(f'sum(double(vec[{j}]))' for j in range(dim))})")
    best = _best_centroid(centroids, metric, parity)
    rows = (
        vecs.select(best.cid.alias("cid"), "vec")
        .groupBy("cid")
        .agg(F.count("*"), F.count("vec"), sums)
        .collect()
    )
    return {r[0]: (r[1], r[2], r[3]) for r in rows}


def fit(
    points: DataFrame,
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    max_iter: int = 100,
    parity: str = "corrected",
) -> KMeansResult:
    """Full Lloyd's loop (train() analog, image_classification.py:557-598).

    The k centroids live on the driver: each iteration is one
    `_lloyd_step` aggregate job, and the new centroids are the means of
    the non-null member vectors. Convergence: per-cluster assignment
    counts stable between iterations — the reference's criterion
    (:589-592). The points are cached for the loop and released on
    return, so the input plan runs once per fit and no cache outlives it.
    The result is lazy: `assignments` is the per-row expression over
    `points`, against the centroids of the last iteration that ran, so it
    re-reads the input — checkpoint `points` first if its files are
    overwritten while the result is in use. Cosine raises ValueError on a
    zero-vector centroid (a sampled zero point, or members summing to 0).
    """
    pts = points.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    prev_counts: dict | None = None
    history: list[dict] = []
    converged = False
    it = 0
    pts.cache()
    try:
        init = init_centroids(pts.where(F.col("vec").isNotNull()), "id", "vec", k)
        centroids = [r.centroid for r in sorted(init.collect())]
        assigned_to = centroids
        for it in range(1, max_iter + 1):
            assigned_to = centroids
            stats = _lloyd_step(pts, centroids, metric, parity)
            counts = {cid: n for cid, (n, _, _) in stats.items()}
            history.append({"iteration": it, "counts": counts})
            if counts == prev_counts:
                converged = True
                break
            prev_counts = counts
            centroids = list(centroids)
            for cid, (_, n_vec, sums) in stats.items():
                if n_vec:  # a cluster with no non-null member keeps its centroid
                    centroids[cid] = [None if s is None else s / n_vec for s in sums]
    finally:
        pts.unpersist()
    best = _best_centroid(assigned_to, metric, parity)
    assignments = pts.select("id", best.alias("m")).select("id", "m.cid", "m.score")
    return KMeansResult(
        _centroid_frame(points.sparkSession, centroids), assignments, it, converged, history
    )


def purity_scores(
    assignments: DataFrame, labels: DataFrame, id_col: str, label_col: str, hi_label: int = 5
) -> DataFrame:
    """scoreClusters analog (image_classification.py:524-555): per-cluster
    |hi - lo| / total. (The reference calls this a 'silhouette score'; it
    is label purity — SURVEY §7.4. For a true silhouette use
    pyspark.ml.evaluation.ClusteringEvaluator.) Empty-safe: count()>0 by
    construction, and purity is NULL-free."""
    j = assignments.select("id", "cid").join(
        labels.select(F.col(id_col).alias("id"), F.col(label_col).alias("label")), "id"
    )
    hi = F.sum(F.when(F.col("label") >= hi_label, 1).otherwise(0))
    lo = F.sum(F.when(F.col("label") < hi_label, 1).otherwise(0))
    return j.groupBy("cid").agg(
        hi.alias("hi"),
        lo.alias("lo"),
        (F.abs(hi - lo) / F.count("*").cast("double")).alias("purity"),
    )


def normalize_per_cluster(
    points: DataFrame,
    assignments: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster z-score normalization — the grouped-map
    (applyInPandas) surface of SURVEY §2.11: each cluster's member
    vectors arrive as one Arrow batch in one Python worker, NumPy
    standardizes them against that cluster's own mean/std, and the result
    keeps one row per point. Groups are whole-cluster, so partitioning is
    by cid (k groups); skewed cluster sizes are the known trade of
    grouped-map (a giant cluster lands on one worker) — acceptable for
    k-means-sized k, and the reason the hot paths above use plain
    aggregates instead.
    Output: (id, cid, normalized: array<double>)."""
    import numpy as np
    import pandas as pd

    joined = points.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")).join(
        assignments.select("id", "cid"), "id"
    )

    def norm(pdf: "pd.DataFrame") -> "pd.DataFrame":
        arrs = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
        mu = arrs.mean(axis=0)
        sd = arrs.std(axis=0)
        sd[sd == 0] = 1.0
        z = (arrs - mu) / sd
        return pd.DataFrame(
            {"id": pdf["id"], "cid": pdf["cid"], "normalized": list(z)}
        )

    return joined.groupBy("cid").applyInPandas(
        norm, "id long, cid long, normalized array<double>"
    )


def mllib_fit(points: DataFrame, k: int, vec_col: str, seed: int = 42, max_iter: int = 20):
    """MLlib fast path (SURVEY §7.1 P3b): VectorAssembler-free — converts
    the array column to ml vectors and fits pyspark.ml.clustering.KMeans.
    Returns (model, predictions DataFrame). Parity with the pure-DataFrame
    loop is asserted in tests (same data, euclidean metric)."""
    from pyspark.ml.clustering import KMeans as MLKMeans
    from pyspark.ml.functions import array_to_vector

    feats = points.withColumn("features", array_to_vector(F.col(vec_col).cast("array<double>")))
    model = MLKMeans(k=k, seed=seed, maxIter=max_iter, featuresCol="features").fit(feats)
    return model, model.transform(feats)


def label_centroids_udaf(
    df: DataFrame, key_col: str, vec_col: str
) -> DataFrame:
    """Element-wise mean vector per key as a pandas GROUPED_AGG UDAF (the
    custom-aggregate / UDAF surface, SURVEY §2.11). The reference
    recomputes centroid features per cluster on the driver
    (image_classification.py:470-509); here each group reduces inside an
    Arrow batch on the executors and only k centroid rows ever exist.

    Accumulation is float64 regardless of input precision so the result
    matches a double-precision SQL AVG to ~1e-13."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType

    # explicit GROUPED_AGG: the type-hint API cannot express a
    # Series -> array return, so the functionType form is required
    @F.pandas_udf("array<double>", PandasUDFType.GROUPED_AGG)
    def _vec_mean(v):
        return np.stack(v.to_numpy()).astype("float64").mean(axis=0).tolist()

    return df.groupBy(F.col(key_col).alias("label")).agg(
        F.transform(_vec_mean(F.col(vec_col)), lambda x: F.round(x, 6)).alias(
            "centroid"
        )
    )


def init_centroids_parallel(
    points: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    rounds: int = 3,
    oversample: int | None = None,
) -> DataFrame:
    """k-means|| initialization (Bahmani et al. 2012, VLDB) — the
    scalable k-means++ : instead of k sequential full-corpus passes
    (k-means++'s D^2 sampling), run `rounds` passes that each sample
    ~`oversample` (default 2k) candidates with probability proportional
    to their squared distance from the current candidate set, then
    weight the candidates by how many points they own and reduce them
    to k centers driver-side. Returns (cid, centroid) like
    init_centroids.

    Determinism (the engine's invariant): the per-point coin flip uses
    xxhash64(id, round) as the uniform draw, so the sampled candidate
    set is a pure function of the data — partitioning-invariant and
    reproducible (test-pinned). The candidate set (~rounds*oversample
    rows) and the weight aggregation are the only driver traffic; the
    corpus is scanned once per round with the candidate set as a literal
    in a per-row expression (it is centroid-sized), never shuffled.

    The final reduction picks the max-weight candidate, then greedily
    adds the candidate maximizing weight * d^2 to the chosen set —
    deterministic weighted farthest-point, the standard deterministic
    stand-in for weighted k-means++ at driver scale."""
    import numpy as np

    l = oversample or 2 * k
    spark = points.sparkSession
    pts = points.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))

    first = deterministic_sample(points.select(id_col, vec_col), id_col, 1).collect()
    if not first:
        raise ValueError("init_centroids_parallel: empty input")
    cands = [[float(x) for x in first[0][vec_col]]]

    for r in range(rounds):
        # d^2 to the nearest current candidate: the driver-held candidates
        # in fit()'s per-row argmin (euclidean score IS the squared
        # distance). Persisted: the frame feeds BOTH the total and the
        # filter, and without the barrier each consumer re-runs the pass
        d2 = _best_centroid(cands, "euclidean", "corrected").score
        scored = pts.select("id", d2.alias("d2")).persist()
        total = scored.agg(F.sum("d2")).first()[0] or 0.0
        if total <= 0:
            scored.unpersist()
            break
        # deterministic coin: uniform in [0,1) from xxhash64(id, round)
        u = (
            F.pmod(F.xxhash64(F.col("id"), F.lit(r)), F.lit(1_000_000_007))
            / 1_000_000_007.0
        )
        picked = scored.filter(
            u < F.least(F.lit(1.0), F.lit(float(l)) * F.col("d2") / F.lit(float(total)))
        )
        new_rows = pts.join(picked.select("id"), "id", "leftsemi").orderBy("id").collect()
        scored.unpersist()
        cands.extend([[float(x) for x in row.vec] for row in new_rows])

    # weights: points owned by each candidate (one aggregate pass)
    C = np.array(cands, dtype=np.float64)
    owned = _lloyd_step(pts, cands, "euclidean", "corrected")
    weights = np.array([owned.get(i, (0,))[0] for i in range(len(cands))], dtype=np.float64)

    # deterministic weighted farthest-point reduction to k
    chosen = [int(np.argmax(weights))]
    while len(chosen) < min(k, len(cands)):
        d2c = np.min(
            ((C[:, None, :] - C[chosen][None, :, :]) ** 2).sum(2), axis=1
        )
        score = weights * d2c
        score[chosen] = -1.0
        nxt = int(np.argmax(score))
        if score[nxt] <= 0:
            # fewer distinct candidates than k: reuse, matching the
            # empty-cluster tolerance of the Lloyd loop
            break
        chosen.append(nxt)
    return _centroid_frame(spark, C[chosen].tolist())


def contingency(
    assignments: DataFrame, labels: DataFrame, id_col: str, label_col: str
) -> DataFrame:
    """(cid, label, n) contingency table between a clustering and ground
    truth — one inner join + one count aggregate; k x L rows (tiny)."""
    a = assignments.select(F.col("id").alias("__id"), "cid")
    b = labels.select(F.col(id_col).alias("__id"), F.col(label_col).alias("label"))
    return a.join(b, "__id").groupBy("cid", "label").agg(F.count("*").alias("n"))


def _marginals(assignments: DataFrame, labels: DataFrame, id_col: str, label_col: str):
    """(contingency rows, per-cluster sizes, per-label sizes, n)."""
    rows = contingency(assignments, labels, id_col, label_col).collect()
    a_sum: dict = defaultdict(int)
    b_sum: dict = defaultdict(int)
    for r in rows:
        a_sum[r.cid] += r.n
        b_sum[r.label] += r.n
    return rows, a_sum, b_sum, sum(a_sum.values())


def adjusted_rand_index(
    assignments: DataFrame, labels: DataFrame, id_col: str, label_col: str
) -> float:
    """ARI (Hubert & Arabie 1985): chance-corrected pair agreement
    between the clustering and ground-truth labels. 1.0 = identical
    partitions, ~0 = random. All pair counting happens on the k x L
    contingency table (collected — it is O(k*L), not data-sized)."""
    rows, a_sum, b_sum, n = _marginals(assignments, labels, id_col, label_col)
    comb2 = lambda x: x * (x - 1) / 2.0  # noqa: E731
    sum_comb = sum(comb2(r.n) for r in rows)
    sum_a = sum(comb2(x) for x in a_sum.values())
    sum_b = sum(comb2(x) for x in b_sum.values())
    total = comb2(n)
    if total == 0:
        return 1.0
    expected = sum_a * sum_b / total
    max_index = (sum_a + sum_b) / 2.0
    if max_index == expected:
        return 1.0
    return (sum_comb - expected) / (max_index - expected)


def normalized_mutual_info(
    assignments: DataFrame, labels: DataFrame, id_col: str, label_col: str
) -> float:
    """NMI with arithmetic-mean normalization: MI(U,V) /
    ((H(U)+H(V))/2), from the same tiny contingency table. 1.0 =
    identical partitions; 0 when either side is a single cluster."""
    rows, a_sum, b_sum, n = _marginals(assignments, labels, id_col, label_col)
    if n == 0:
        return 1.0
    mi = 0.0
    for r in rows:
        p = r.n / n
        mi += p * math.log(p * n / (a_sum[r.cid] * b_sum[r.label] / n))
    h = lambda sums: -sum(  # noqa: E731
        (x / n) * math.log(x / n) for x in sums.values() if x
    )
    hu, hv = h(a_sum), h(b_sum)
    denom = (hu + hv) / 2.0
    return 1.0 if denom == 0 else mi / denom
