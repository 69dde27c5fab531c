"""Output checks. Each returns a list of failure messages (empty when the
output is right) so a wrong answer is counted as a failed operation
instead of ending the run."""

from __future__ import annotations

import random

import numpy as np

# float64 agreement between the vectorized kernel and the O(n^2) oracle
# (both sum the same terms; observed bit-exact, the margin covers BLAS
# reassociation in the deg==2 expansion).
TWED_RTOL = 1e-9
F1_BAR = 0.99  # BASELINE.json: pairwise F1 >= 0.99 on labeled pairs


def union_find_labels(nodes, edges) -> dict:
    """Driver-side connected components: node -> smallest node id in its
    component (the engine's cluster_id convention)."""
    parent = {n: n for n in nodes}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}


def check_clusters(edges_df, clusters_df) -> list[str]:
    """Cluster labels must equal union-find over the collected match
    edges — catches partial labels from a components loop that stopped
    before convergence."""
    edges = [(r[0], r[1]) for r in edges_df.select("conv_id_a", "conv_id_b").collect()]
    got = {r[0]: r[1] for r in clusters_df.select("conv_id", "cluster_id").collect()}
    want = union_find_labels(got.keys(), edges)
    bad = [n for n, c in want.items() if got.get(n) != c]
    if bad:
        return [f"cluster labels differ from union-find on {len(bad)} of {len(want)} conversations"]
    return []


def check_twed_sample(scored_df, series_df, cfg, seed: int, k: int = 6) -> list[str]:
    """Recompute a seeded sample of scored pairs with the O(n^2) oracle
    ``twed.core.twed_reference`` on the collected series."""
    from cutwed_spark.twed.core import twed_reference

    rows = scored_df.select("conv_id_a", "conv_id_b", "twed").collect()
    if not rows:
        return ["no scored pairs to check"]
    rows.sort(key=lambda r: (r[0], r[1]))
    sample = random.Random(seed).sample(rows, min(k, len(rows)))
    ids = sorted({r[0] for r in sample} | {r[1] for r in sample})
    series = {
        r[0]: (np.asarray(r[1], dtype=np.float64).reshape(-1, cfg.dim),
               np.asarray(r[2], dtype=np.float64) * cfg.time_scale)
        for r in series_df.where(series_df.conv_id.isin(ids))
        .select("conv_id", "values_flat", "times").collect()
    }
    errors = []
    for a, b, got in sample:
        (va, ta), (vb, tb) = series[a], series[b]
        want = twed_reference(va, ta, vb, tb, cfg.nu, cfg.lamb, cfg.degree)
        if not abs(got - want) <= TWED_RTOL * max(1.0, abs(want)):
            errors.append(f"twed({a},{b}) = {got!r}, oracle {want!r}")
    return errors


def check_same_scores(scored_df, rescored_df) -> list[str]:
    """A rescore of candidate pairs at the pipeline's parameters must
    reproduce the pipeline's score for every one of them."""
    from pyspark.sql import functions as F

    j = rescored_df.select("conv_id_a", "conv_id_b", F.col("twed_ratio").alias("y")).join(
        scored_df.select("conv_id_a", "conv_id_b", F.col("twed_ratio").alias("x")),
        ["conv_id_a", "conv_id_b"],
        "left",
    )
    r = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("x").isNull(), 1).otherwise(0)).alias("missing"),
        F.max(F.abs(F.col("x") - F.col("y"))).alias("max_diff"),
    ).collect()[0]
    errors = []
    if r["missing"]:
        errors.append(f"{r['missing']} of {r['n']} rescored pairs were never scored by the pipeline")
    if r["max_diff"] is not None and r["max_diff"] > TWED_RTOL:
        errors.append(f"rescore differs from the pipeline's scores by up to {r['max_diff']!r}")
    return errors


def check_f1(f1: float) -> list[str]:
    return [] if f1 >= F1_BAR else [f"f1 {f1:.4f} below the {F1_BAR} bar"]


def check_nothing_cached(spark) -> list[str]:
    """Nothing persisted may survive into the next timed repetition:
    CacheManager matches plan fragments, so a leftover cache would turn
    the next run's stages into cache reads. Clears what it finds so the
    following repetition is measured clean."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    if cm.isEmpty():
        return []
    spark.catalog.clearCache()
    return ["persisted data survived the repetition (cleared)"]
