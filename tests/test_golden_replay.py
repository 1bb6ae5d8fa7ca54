"""Golden replay tests: the engine must reproduce the reference's
committed outputs (SURVEY §5) from the same inputs.

Chain facts (verified independently in the survey): iteration_0 is one
Lloyd step from seed_points_K5.csv; task2 runs 5 fixed iterations;
task3/4/5a converge at iteration_27 under threshold 5 (displacement
10.123 at it26 -> 4.219 at it27); Silhouette1 evaluates assignments by
the seed centroids.
"""

from __future__ import annotations

import re

import pytest

from mapreduce_kmeans_clustering_spark.operators.assign import assign
from mapreduce_kmeans_clustering_spark.operators.silhouette import silhouette_ref
from mapreduce_kmeans_clustering_spark.plans.kmeans import fit, lloyd_iteration
from mapreduce_kmeans_clustering_spark.sinks.text_kv import read_centroids_kv
from mapreduce_kmeans_clustering_spark.sources.points import with_rid

from tests.conftest import REF, require_reference

TOL = 1e-9


def golden(task: str, iteration: int | None = None) -> list:
    path = f"{REF}/output/{task}"
    if iteration is not None:
        path += f"/iteration_{iteration}"
    return read_centroids_kv(f"{path}/part-r-00000")


def assert_centroids_close(actual, expected, tol=TOL):
    assert [c.id for c in sorted(actual)] == [c.id for c in sorted(expected)]
    for a, e in zip(sorted(actual), sorted(expected)):
        assert a.x == pytest.approx(e.x, abs=tol)
        assert a.y == pytest.approx(e.y, abs=tol)
        assert a.z == pytest.approx(e.z, abs=tol)


def test_single_iteration_matches_task1(ref_points, ref_seeds):
    out = lloyd_iteration(ref_points, ref_seeds)
    assert_centroids_close(out, golden("task1"))


def test_task2_chain_r5(ref_points, ref_seeds):
    cents = ref_seeds
    for i in range(5):
        cents = lloyd_iteration(ref_points, cents)
        assert_centroids_close(cents, golden("task2", i))


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
def test_converged_chain_task5a(ref_points, ref_seeds):
    res = fit(ref_points, ref_seeds, max_iter=30, threshold=5.0)
    assert res.converged
    assert res.iterations == 28  # iteration_0 .. iteration_27
    assert_centroids_close(res.centroids, golden("task5a", 27))
    # every intermediate iteration matches the committed chain
    for i, cents in enumerate(res.history):
        assert_centroids_close(cents, golden("task5a", i))
    assert res.displacements[-2] == pytest.approx(10.1232, abs=1e-3)
    assert res.displacements[-1] == pytest.approx(4.2192, abs=1e-3)
    assert res.displacements[-1] < 5.0 <= res.displacements[-2]


def _parse_golden_silhouette():
    rows = {}
    pat = re.compile(
        r"^(\d+)\tAvg Intra: ([-\d.eE]+), Avg Inter: ([-\d.eE]+), Silhouette Score: ([-\d.eE]+)"
    )
    with open(f"{REF}/output/Silhouette1/part-r-00000") as fh:
        for line in fh:
            m = pat.match(line.strip())
            if m:
                rows[int(m.group(1))] = tuple(float(m.group(i)) for i in (2, 3, 4))
    return rows


def test_silhouette_matches_golden(ref_points, ref_seeds):
    assigned = with_rid(assign(ref_points, ref_seeds, keep_cols=["x", "y", "z"]))
    stats = {
        r["cluster"]: (r["avg_intra"], r["avg_inter"], r["silhouette"])
        for r in silhouette_ref(assigned).collect()
    }
    expected = _parse_golden_silhouette()
    assert set(stats) == set(expected)
    for c, (intra, inter, sil) in expected.items():
        assert stats[c][0] == pytest.approx(intra, rel=1e-9)
        assert stats[c][1] == pytest.approx(inter, rel=1e-9)
        assert stats[c][2] == pytest.approx(sil, rel=1e-9)


def test_task1_byte_exact_java_format(ref_points, ref_seeds):
    """EXACT-string parity (SURVEY §7 hard part (a), closed round 5):
    one Lloyd step rendered with fmt='java' reproduces the committed
    task1 part file byte-for-byte — the doubles themselves are
    bit-identical to the Hadoop reducer's, and java_double_str lays
    them out exactly like Double.toString."""
    from mapreduce_kmeans_clustering_spark.sinks.text_kv import format_centroids_kv

    out = lloyd_iteration(ref_points, ref_seeds)
    golden_lines = [
        ln.rstrip("\n")
        for ln in open(f"{REF}/output/task1/part-r-00000")
        if ln.strip()
    ]
    assert format_centroids_kv(out, fmt="java").split("\n") == golden_lines


def test_task5a_chain_byte_exact_java_format(ref_points, ref_seeds):
    """The ENTIRE 28-iteration converged chain is byte-identical to the
    committed artifacts under fmt='java' — 140 centroid lines, zero
    tolerance."""
    from mapreduce_kmeans_clustering_spark.sinks.text_kv import format_centroids_kv

    res = fit(ref_points, ref_seeds, max_iter=30, threshold=5.0)
    assert res.iterations == 28
    for i, cents in enumerate(res.history):
        golden_lines = [
            ln.rstrip("\n")
            for ln in open(f"{REF}/output/task5a/iteration_{i}/part-r-00000")
            if ln.strip()
        ]
        assert format_centroids_kv(cents, fmt="java").split("\n") == golden_lines, i


def test_java_double_str_layout_and_golden_roundtrip():
    """Layout rules against hand cases, then EVERY double string in
    EVERY committed reference artifact must format back
    byte-identically (2280 values: plain, large-magnitude, and the
    full precision spread)."""
    import glob
    import re

    from mapreduce_kmeans_clustering_spark.sinks.text_kv import java_double_str as j

    cases = [
        (5.0, "5.0"), (0.001, "0.001"), (0.0009999, "9.999E-4"),
        (1e7, "1.0E7"), (9999999.5, "9999999.5"), (123.25, "123.25"),
        (-0.0, "-0.0"), (0.0, "0.0"), (float("nan"), "NaN"),
        (float("inf"), "Infinity"), (float("-inf"), "-Infinity"),
        (1.5e-5, "1.5E-5"), (2.0e23, "2.0E23"), (100.0, "100.0"),
        (1234567.0, "1234567.0"), (12345678.0, "1.2345678E7"),
        (-42.75, "-42.75"),
        (1.7976931348623157e308, "1.7976931348623157E308"),
    ]
    for v, want in cases:
        assert j(v) == want, (v, want, j(v))
    require_reference()
    pat = re.compile(r"-?\d+\.\d+(?:[eE]-?\d+)?")
    n = 0
    for f in glob.glob(f"{REF}/output/**/part-*", recursive=True):
        for line in open(f):
            for s in pat.findall(line):
                n += 1
                assert j(float(s)) == s, (f, s, j(float(s)))
    assert n > 2000  # the sweep actually saw the artifacts
