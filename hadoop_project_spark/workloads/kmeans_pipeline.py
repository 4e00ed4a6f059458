"""`final` project: K-Means over NYC Uber pickups with silhouette-based
model selection (final/src/main/java/program/KDriver.java:40-65) —
the full multi-job HBase pipeline as one cached-DataFrame driver loop.

Stage mapping (SURVEY.md §3.3):
  populate (PopulatePt.java:63-135)  → round 3dp HALF_UP + groupBy count
                                       (A9, F11) — one shuffle;
  minmax   (MinMax.java:48-116)      → one agg (A10), no single-reducer
                                       bottleneck;
  cgen     (CGenerator.java:72-116)  → seeded random.Random uniforms
                                       (F12) — seeded where the
                                       reference was unseeded, so OUR
                                       pipeline reproduces exactly;
  kmeans   (KMeans.java:216-264)     → assign (J3 broadcast-by-literal +
                                       O3 argmin) + weighted mean (A11)
                                       rounded 3dp (KMeans.java:192-194)
                                       per iteration; convergence when
                                       every centroid moves ≤ 0.001
                                       (KMeans.java:294-314);
  silhouette (Silhouette.java:78-158)→ simplified (d2-d1)/d2 on SQUARED
                                       distances, weighted global mean
                                       (A12, F13 — bug-compat);
  summarize (Summarizer.java:46-121) → argmax over k (A13) + the
                                       KResults/Summary text formats.

The reference spent ~40 s of MR job setup per iteration (BASELINE.md);
here the weighted points DF is cached once and each iteration is one
small aggregation action. That action's fixed cost is plan construction
on the driver, so each Lloyd and silhouette plan carries its k
centroids as ONE ``array<array<double>>`` literal rendered by
functions.vector.double_array_sql and parsed with the expression around
it in a single F.expr — not ~7 py4j calls per centroid plus a Python
lambda, which made plan building grow linearly with k. Catalyst folds
the literal into one Literal node; ``repr`` doubles round-trip, so the
values are bit-identical to F.lit.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from hadoop_project_spark.functions.vector import double_array_sql


@dataclass
class KMeansPipelineResult:
    best_k: int
    best_score: float
    best_iteration: int
    scores: dict[int, float] = field(default_factory=dict)  # k → silhouette
    centroids: dict[int, list[tuple[float, float]]] = field(default_factory=dict)
    kresults_lines: list[str] = field(default_factory=list)
    summary_lines: list[str] = field(default_factory=list)


def weighted_points(pickups: DataFrame) -> DataFrame:
    """(lat, lon, count): 3-dp HALF_UP rounding then dedup-with-weight
    (PopulatePt.java:66-76 + 118-135). F.round is HALF_UP — matching the
    reference's BigDecimal mode; F.bround would be wrong."""
    return (
        pickups.select(F.round("lat", 3).alias("lat"), F.round("lon", 3).alias("lon"))
        .groupBy("lat", "lon")
        .agg(F.count("*").alias("cnt"))
    )


def minmax_bounds(points: DataFrame) -> tuple[float, float, float, float]:
    row = points.agg(
        F.min("lat").alias("lat_min"), F.max("lat").alias("lat_max"),
        F.min("lon").alias("lon_min"), F.max("lon").alias("lon_max"),
    ).first()
    return (row["lat_min"], row["lat_max"], row["lon_min"], row["lon_max"])


def generate_centroids(k: int, bounds, seed: int) -> list[tuple[float, float]]:
    """Uniform random centroids in the data bounds (CGenerator.java:
    97-116) — seeded, unlike the reference (SURVEY.md §7.3)."""
    lat_min, lat_max, lon_min, lon_max = bounds
    rng = random.Random(seed)
    return [
        (rng.uniform(lat_min, lat_max), rng.uniform(lon_min, lon_max))
        for _ in range(k)
    ]


def _dists_sql(centroids: list[tuple[float, float]]) -> str:
    """Per-point ``array<double>`` of squared 2-D distances to every
    centroid (KMeans.java:98; Silhouette.java:88), in centroid order.
    The centroids are ONE ``array<array<double>>`` literal, so the
    expression is one parse whatever k is."""
    return (
        f"transform({double_array_sql(centroids)}, "
        "c -> pow(lat - c[0], 2) + pow(lon - c[1], 2))"
    )


def _assign(points: DataFrame, centroids: list[tuple[float, float]]) -> DataFrame:
    """Nearest-centroid assignment (KMeans.java:87-111) as column
    ``idx``: the centroids ride into the plan as a literal (the reference
    re-read them from HBase in every task's setup, KMeans.java:75-82),
    and the argmin is the FIRST position of the minimum distance, so
    ties go to the lowest index. A plain double array allocates about a
    third less per point than (dist, idx) structs."""
    return points.select("*", F.expr(_dists_sql(centroids)).alias("ds")).select(
        *points.columns, F.expr("array_position(ds, array_min(ds)) - 1").alias("idx")
    )


def lloyd_2d(
    points: DataFrame,
    centroids: list[tuple[float, float]],
    max_iter: int = 20,
    tol: float = 1e-3,
) -> tuple[list[tuple[float, float]], int, bool]:
    """Weighted 2-D Lloyd loop with the reference's 3-dp centroid
    rounding and ≤0.001 convergence test (KMeans.java:178-205,
    294-314)."""
    for it in range(1, max_iter + 1):
        assigned = _assign(points, centroids)
        rows = (
            assigned.groupBy("idx")
            .agg(
                F.round(F.sum(F.col("lat") * F.col("cnt")) / F.sum("cnt"), 3).alias("nlat"),
                F.round(F.sum(F.col("lon") * F.col("cnt")) / F.sum("cnt"), 3).alias("nlon"),
            )
            .collect()
        )
        new = list(centroids)
        for r in rows:
            new[r["idx"]] = (r["nlat"], r["nlon"])
        converged = all(
            abs(a[0] - b[0]) <= tol and abs(a[1] - b[1]) <= tol
            for a, b in zip(centroids, new)
        )
        centroids = new
        if converged:
            return centroids, it, True
    return centroids, max_iter, False


def silhouette_2d(points: DataFrame, centroids: list[tuple[float, float]]) -> float:
    """Weighted simplified silhouette (Silhouette.java:78-158):
    (d2-d1)/d2 on squared distances, weighted by point count.

    k=1 bug-compat: the reference leaves second_distance at
    Double.MAX_VALUE when there is no second centroid, so every point
    scores (MAX−d1)/MAX, which rounds to exactly 1.0 in double — the
    golden KResults.txt's "SilScore:1.0 at Kvalue:1". Reproduce that
    sentinel result rather than the textbook undefined-at-k=1."""
    if len(centroids) < 2:
        return 1.0
    # sort_array compares natively; array_sort goes through a lambda
    dists = F.expr(f"sort_array({_dists_sql(centroids)})")
    row = points.select(dists.alias("d"), "cnt").agg(F.expr(
        "sum(CASE WHEN d[1] > 0 THEN (d[1] - d[0]) / d[1] ELSE 0.0D END * cnt)"
        " / sum(cnt)"
    ).alias("s")).first()
    return float(row["s"])


def run_kmeans_pipeline(
    pickups: DataFrame,
    k_limit: int = 6,
    k_step: int = 2,
    max_iter: int = 20,
    tol: float = 1e-3,
    seed: int = 42,
    report_dir: str | None = None,
) -> KMeansPipelineResult:
    """KDriver.main (KDriver.java:40-65): for k in step..limit step step,
    init → converge → silhouette; then summarize (Summarizer.java:
    46-121 text formats). With ``report_dir`` the KResults/Summary
    reports are written as text files (S9, Summarizer.java:65-121)."""
    pts = weighted_points(pickups).cache()
    bounds = minmax_bounds(pts)
    res = KMeansPipelineResult(best_k=-1, best_score=float("-inf"), best_iteration=0)
    for k in range(k_step, k_limit + 1, k_step):
        init = generate_centroids(k, bounds, seed + k)
        centroids, iters, _ = lloyd_2d(pts, init, max_iter, tol)
        score = silhouette_2d(pts, centroids)
        res.scores[k] = score
        res.centroids[k] = centroids
        res.kresults_lines.append(
            f"SilScore:{score} at Kvalue:{k} at iteration:{iters}"
        )
        if score > res.best_score:
            res.best_k, res.best_score, res.best_iteration = k, score, iters
    res.summary_lines = [
        f"Max SilScore:{res.best_score} at kValue:{res.best_k} "
        f"at iteration:{res.best_iteration}",
        "Corresponding centroids",  # byte-exact header, Summarizer.java:102
        *[
            f"{i}. Lat:{la} Longitude:{lo}"
            for i, (la, lo) in enumerate(res.centroids[res.best_k])
        ],
    ]
    if report_dir is not None:
        from hadoop_project_spark.sources.sinks import write_text_report

        spark = pickups.sparkSession
        write_text_report(spark, res.kresults_lines, f"{report_dir}/KResults")
        write_text_report(spark, res.summary_lines, f"{report_dir}/Summary")
    pts.unpersist()
    return res
