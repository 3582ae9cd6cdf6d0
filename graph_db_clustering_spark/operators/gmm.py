"""Gaussian mixture model (diagonal covariance) by distributed EM.

The clustering-family companion to operators/kmeans (the reference's core
workload, image_classification.py): k-means' hard argmin becomes a soft
posterior, and the centroid update becomes responsibility-weighted
moments. Built entirely from JVM-side expressions:

- E-step: per-component log-densities are zip_with/aggregate expressions
  over the vector column with the (tiny) parameters inlined as array
  literals — whole-stage codegen, no Python, no shuffle.
- M-step: ONE aggregation keyed by (dim) with 3k weighted sums; map-side
  partials collapse every partition to k*d rows, so shuffled bytes are
  O(parts * k * d), independent of N — the same scale posture as
  kmeans.update.
- Driver traffic per iteration is the k*(2d+1) parameter block and the
  log-likelihood scalar. Nothing row-sized leaves the executors.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_db_clustering_spark.operators.kmeans import deterministic_sample

_LN2PI = math.log(2.0 * math.pi)


@dataclass
class GmmModel:
    weights: np.ndarray  # (k,)
    means: np.ndarray  # (k, d)
    variances: np.ndarray  # (k, d) diagonal
    log_likelihood: float
    iterations: int
    converged: bool
    history: list = field(default_factory=list)


def _sql_double(x: float) -> str:
    """SQL double literal that round-trips exactly: Python repr is the
    shortest decimal that parses back to the same IEEE double, and the
    JVM parser is likewise correctly rounded — append D to keep Spark
    from reading it as DECIMAL."""
    return repr(float(x)).upper() + "D"


def _log_dens_cols(vec: str, weights, means, variances):
    """One Column per component: log w_j + log N(x; mu_j, diag var_j).
    Parameters are inlined array literals — Catalyst constant-folds the
    per-dim log-var sum; the data-dependent part is one zip_with +
    aggregate per component, all codegen.

    Built as ONE F.expr per component (r14): the Column-API form made
    ~2*k*d py4j round trips per EM iteration (every F.lit is a JVM
    call, every lambda a conversion) and dominated the loop at ~0.6 s
    of driver-side build per iteration; the SQL string parses JVM-side
    into the identical AST (same literals, same operation order), so
    results are bit-identical while the build cost drops ~5x."""
    cols = []
    for j in range(len(weights)):
        mu = "array(" + ",".join(_sql_double(m) for m in means[j]) + ")"
        iv = "array(" + ",".join(
            _sql_double(1.0 / float(v)) for v in variances[j]
        ) + ")"
        const = math.log(float(weights[j])) - 0.5 * sum(
            math.log(float(v)) + _LN2PI for v in variances[j]
        )
        quad = (
            f"aggregate(zip_with(zip_with(`{vec}`, {mu}, "
            "(x, m) -> (x - m) * (x - m)), "
            f"{iv}, (s, w) -> s * w), 0.0D, (acc, x) -> acc + x)"
        )
        cols.append(
            F.expr(f"{_sql_double(const)} - (0.5D * ({quad}))").alias(f"_lp{j}")
        )
    return cols


def _with_responsibilities(df: DataFrame, vec_col: str, model_params) -> DataFrame:
    """Adds _lse (per-row log-likelihood) and _r0.._rk-1 (posteriors)."""
    weights, means, variances = model_params
    k = len(weights)
    with_lp = df.select("*", *_log_dens_cols(vec_col, weights, means, variances))
    mx = F.greatest(*[F.col(f"_lp{j}") for j in range(k)]) if k > 1 else F.col("_lp0")
    lse = mx + F.log(
        sum(F.exp(F.col(f"_lp{j}") - mx) for j in range(k))
    )
    # one projection instead of a k+1-deep withColumn chain: identical
    # expressions, but Catalyst analyzes a single Project per iteration
    # (the EM loop re-plans every round — r14)
    out = with_lp.withColumn("_lse", lse)
    return out.select(
        "*",
        *[
            F.exp(F.col(f"_lp{j}") - F.col("_lse")).alias(f"_r{j}")
            for j in range(k)
        ],
    )


def gmm_fit(
    df: DataFrame,
    vec_col: str,
    k: int = 4,
    id_col: str = "vec_id",
    max_iter: int = 20,
    tol: float = 1e-6,
    var_floor: float = 1e-6,
) -> GmmModel:
    """EM for a k-component diagonal GMM. Deterministic init (no RNG):
    means = the deterministic k-sample's vectors (same Knuth-hash order
    as kmeans init), variances = the global per-dim sample variance,
    weights uniform. Converged when the mean log-likelihood improves by
    less than tol."""
    # Pin the narrow (id, vec) input for the whole fit: the setup
    # aggregate, every EM iteration, and the init sample otherwise each
    # re-scan and re-decode the source (6+ scans at max_iter=5). The pin
    # is spillable (MEMORY_AND_DISK is the DataFrame default), holds only
    # the two columns EM reads, and is RELEASED before returning, so
    # repeated bench invocations still recompute from parquet (guide §5).
    df = df.select(id_col, vec_col).persist()
    try:
        return _gmm_fit_pinned(df, vec_col, k, id_col, max_iter, tol, var_floor)
    finally:
        df.unpersist()


def _gmm_fit_pinned(df, vec_col, k, id_col, max_iter, tol, var_floor):
    init = deterministic_sample(df.select(id_col, vec_col), id_col, k).collect()
    if len(init) < k:
        raise ValueError(f"gmm_fit: need at least {k} rows")
    means = np.asarray([[float(x) for x in r[vec_col]] for r in init])
    # ONE setup aggregate (r14: was three separate jobs — size probe,
    # variance pass, row count): the per-dim variance rows also carry
    # the row count (identical across dims), and d is their row count.
    gstats = (
        df.select(F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.var_samp("x").alias("v"), F.count(F.lit(1)).alias("n"))
        .orderBy("pos")
        .collect()
    )
    variances = np.tile(
        np.maximum(np.asarray([r["v"] for r in gstats]), var_floor), (k, 1)
    )
    weights = np.full(k, 1.0 / k)
    n = int(gstats[0]["n"])

    ll_prev = -np.inf
    history = []
    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        r = _with_responsibilities(
            df.select(F.col(vec_col).alias("v")), "v", (weights, means, variances)
        )
        flat = r.select(
            "_lse",
            *[F.col(f"_r{j}") for j in range(k)],
            F.posexplode("v").alias("pos", "x"),
        )
        aggs = []
        for j in range(k):
            rj = F.col(f"_r{j}")
            aggs += [
                F.sum(rj).alias(f"n{j}"),
                F.sum(rj * F.col("x")).alias(f"s{j}"),
                F.sum(rj * F.col("x") * F.col("x")).alias(f"q{j}"),
            ]
        # the log-likelihood rides the SAME aggregate: each original row
        # appears once per pos group, so sum(_lse) within any pos equals
        # the row-level total — one Spark job per iteration, not two
        aggs.append(F.sum("_lse").alias("lsum"))
        per_dim = flat.groupBy("pos").agg(*aggs).orderBy("pos").collect()
        ll = per_dim[0]["lsum"]
        history.append({"iter": it, "ll": ll})
        new_means = np.empty_like(means)
        new_vars = np.empty_like(variances)
        nk = np.empty(k)
        for j in range(k):
            nj = per_dim[0][f"n{j}"]  # identical across dims
            nk[j] = nj
            s = np.asarray([row[f"s{j}"] for row in per_dim])
            q = np.asarray([row[f"q{j}"] for row in per_dim])
            mu = s / nj
            new_means[j] = mu
            new_vars[j] = np.maximum(q / nj - mu * mu, var_floor)
        weights = nk / n
        means, variances = new_means, new_vars
        if abs(ll - ll_prev) / n < tol:
            converged = True
            break
        ll_prev = ll
    return GmmModel(weights, means, variances, float(ll), it, converged, history)


def gmm_predict(
    df: DataFrame, vec_col: str, model: GmmModel, id_col: str = "vec_id"
) -> DataFrame:
    """Posterior cluster assignment: (id_col, cid, prob, loglik) — the
    argmax responsibility and its probability, plus the row's mixture
    log-density. Pure codegen expressions; ties break to the smallest
    component id via greatest-then-first-match."""
    k = len(model.weights)
    r = _with_responsibilities(
        df.select(id_col, F.col(vec_col).alias("v")),
        "v",
        (model.weights, model.means, model.variances),
    )
    best = F.greatest(*[F.col(f"_r{j}") for j in range(k)]) if k > 1 else F.col("_r0")
    # when(r0==best, 0).otherwise(when(r1==best, 1)...): the FIRST
    # (smallest) component at the max wins — deterministic tie-break
    expr = F.lit(k - 1)
    for j in range(k - 2, -1, -1):
        expr = F.when(F.col(f"_r{j}") == best, j).otherwise(expr)
    return r.select(
        id_col,
        expr.cast("int").alias("cid"),
        best.alias("prob"),
        F.col("_lse").alias("loglik"),
    )
