"""The K-Means pipeline's report properties and values on the seeded
in-repo pickup fixture (tests/fixtures.pickup_rows).

tests/test_reference_goldens.py replays the reference's own sample.csv;
these tests pin the same deterministic properties on data every host
has — the KResults/Summary line grammar (the golden-validated regexes
of that module), the k=1 Double.MAX_VALUE silhouette sentinel, 3-dp
HALF_UP centroids, the report files — and check the values of a sweep
whose centroid literals are non-trivial (k up to 25) against an
independent NumPy twin of the weighted Lloyd step and the simplified
silhouette.
"""

from __future__ import annotations

import random
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import numpy as np
import pytest

from hadoop_project_spark.workloads.kmeans_pipeline import run_kmeans_pipeline
from tests.fixtures import pickup_rows
from tests.test_reference_goldens import CENTROID_RE, KRES_RE, SUMMARY_HDR_RE

SEED = 42


@pytest.fixture(scope="module")
def pickups_df(spark):
    return spark.createDataFrame(pickup_rows())


@pytest.fixture(scope="module")
def replay(pickups_df, tmp_path_factory):
    """k = 1..4, the golden KResults' sweep, with the reports written."""
    out = tmp_path_factory.mktemp("kmeans") / "reports"
    res = run_kmeans_pipeline(
        pickups_df, k_limit=4, k_step=1, max_iter=5, seed=SEED, report_dir=str(out)
    )
    return res, out


def test_kresults_grammar(replay):
    res, _ = replay
    ks = []
    for line in res.kresults_lines:
        m = KRES_RE.match(line)
        assert m, line
        ks.append(int(m.group(2)))
    assert ks == [1, 2, 3, 4]


def test_summary_grammar_and_half_up_centroids(replay):
    res, _ = replay
    hdr = SUMMARY_HDR_RE.match(res.summary_lines[0])
    assert hdr, res.summary_lines[0]
    assert int(hdr.group(2)) == res.best_k
    assert res.summary_lines[1] == "Corresponding centroids"
    lines = res.summary_lines[2:]
    assert len(lines) == res.best_k
    for i, line in enumerate(lines):
        m = CENTROID_RE.match(line)
        assert m, line
        assert int(m.group(1)) == i
        for g in (2, 3):
            v = m.group(g)
            # 3-dp HALF_UP rounding (KMeans.java:192-194): at most 3
            # decimals, and already a fixed point of the rounding
            assert len(v.partition(".")[2]) <= 3, line
            assert _half_up3(float(v)) == float(v), line


def test_silhouette_k1_sentinel(replay):
    """k=1 scores exactly 1.0 (the reference's Double.MAX_VALUE second
    distance), so the k=1..4 sweep peaks there, as the golden does."""
    res, _ = replay
    assert res.scores[1] == 1.0
    assert (res.best_k, res.best_score) == (1, 1.0)
    assert all(0.0 < s < 1.0 for k, s in res.scores.items() if k > 1)


def test_report_files_written(replay):
    res, out = replay

    def read(name: str) -> list[str]:
        parts = sorted(Path(out).glob(f"{name}/part-*"))
        assert parts, name
        return [ln for p in parts for ln in p.read_text().splitlines() if ln]

    assert read("KResults") == res.kresults_lines
    assert read("Summary") == res.summary_lines


# --- value parity with an independent NumPy twin ------------------------


def _half_up3(x: float) -> float:
    """3-dp HALF_UP of the double's shortest decimal repr — what
    Spark's F.round does for doubles."""
    return float(Decimal(repr(float(x))).quantize(Decimal("0.001"), ROUND_HALF_UP))


def _numpy_sweep(rows: list[dict], ks, max_iter: int, tol: float, seed: int):
    """({k: score}, {k: centroids}, best_k) of the pipeline's semantics:
    weighted 3-dp points, seeded uniform initial centroids, Lloyd with
    3-dp HALF_UP centroid means (an empty cluster keeps its centroid)
    until every centroid moves <= tol, and the simplified silhouette
    (d2-d1)/d2 on squared distances with its k=1 sentinel; the best k is
    the first highest score."""
    keys, cnt = np.unique(
        np.array([(_half_up3(r["lat"]), _half_up3(r["lon"])) for r in rows]),
        axis=0, return_counts=True,
    )
    lat, lon, w = keys[:, 0], keys[:, 1], cnt.astype(np.float64)
    scores, cents = {}, {}
    for k in ks:
        rng = random.Random(seed + k)
        c = np.array([
            (rng.uniform(lat.min(), lat.max()), rng.uniform(lon.min(), lon.max()))
            for _ in range(k)
        ])
        for _ in range(max_iter):
            d = (lat[:, None] - c[:, 0]) ** 2 + (lon[:, None] - c[:, 1]) ** 2
            idx = d.argmin(axis=1)  # first minimum: ties go to the lowest index
            new = c.copy()
            for j in np.unique(idx):
                m = idx == j
                new[j] = [
                    _half_up3((lat[m] * w[m]).sum() / w[m].sum()),
                    _half_up3((lon[m] * w[m]).sum() / w[m].sum()),
                ]
            done = bool((np.abs(new - c) <= tol).all())
            c = new
            if done:
                break
        if k < 2:
            scores[k] = 1.0
        else:
            d = np.sort((lat[:, None] - c[:, 0]) ** 2 + (lon[:, None] - c[:, 1]) ** 2, axis=1)
            safe = np.where(d[:, 1] > 0, d[:, 1], 1.0)
            s = np.where(d[:, 1] > 0, (d[:, 1] - d[:, 0]) / safe, 0.0)
            scores[k] = float((s * w).sum() / w.sum())
        cents[k] = c
    best = max(ks, key=lambda k: (scores[k], -k))
    return scores, cents, best


def test_sweep_matches_numpy_twin(pickups_df):
    """k = 5..25 step 5, one Lloyd iteration each. Tolerance as the
    benchmark documents it: the engine and the twin sum a cluster's
    weighted coordinates in different orders, so a mean within an ulp
    of a 3-dp tie (the fixture has exact ties) may round 0.001 apart;
    scores are exact (1e-9) where every centroid of a k matches and
    within 1e-2 otherwise; the best k is identical. One iteration keeps
    such a flip from steering later assignments, where no fixed
    tolerance would hold."""
    ks, max_iter, tol = list(range(5, 26, 5)), 1, 1e-3
    res = run_kmeans_pipeline(
        pickups_df, k_limit=ks[-1], k_step=ks[0], max_iter=max_iter, tol=tol, seed=SEED
    )
    scores, cents, best = _numpy_sweep(pickup_rows(), ks, max_iter, tol, SEED)
    assert sorted(res.scores) == ks
    for k in ks:
        got = np.array(res.centroids[k], dtype=np.float64)
        assert got.shape == cents[k].shape, k
        diff = float(np.abs(got - cents[k]).max())
        assert diff <= 1e-3 + 1e-9, (k, diff)
        score_tol = 1e-9 if diff <= 1e-9 else 1e-2
        assert abs(res.scores[k] - scores[k]) <= score_tol, (k, res.scores[k], scores[k])
    assert res.best_k == best
