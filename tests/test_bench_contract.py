"""What ``perfbench/run.py`` needs of the package: every module attribute
it wraps in a span exists, and ``fit`` calls its step through the
module global, so the wrapped ``lloyd_iteration`` sees every step.

The wrap table is read from the script with ``ast``, not imported: the
script sets up its environment on import.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

from mapreduce_kmeans_clustering_spark.plans import kmeans
from mapreduce_kmeans_clustering_spark.sources.seeds import Centroid

RUN = Path(__file__).resolve().parent.parent / "perfbench" / "run.py"


def wrapped_attributes() -> list[tuple[str, str]]:
    """``(module, attribute)`` for each ``wrap(module, "attr", ...)``
    call and each ``(module, "attr", "span", group)`` row of the wrap
    loop in ``run.py``, the module resolved through the script's own
    ``from ... import`` statements."""
    tree = ast.parse(RUN.read_text())
    modules = {
        a.asname or a.name: f"{n.module}.{a.name}"
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom) and n.module
        for a in n.names
    }
    rows = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "wrap":
            rows.append(n.args[:2])
        elif isinstance(n, ast.Tuple) and len(n.elts) == 4:
            rows.append(n.elts[:2])
    return [
        (modules[mod.id], attr.value)
        for mod, attr in rows
        if isinstance(mod, ast.Name) and mod.id in modules
        and isinstance(attr, ast.Constant) and isinstance(attr.value, str)
    ]


def test_every_wrapped_attribute_exists():
    wrapped = wrapped_attributes()
    step = "mapreduce_kmeans_clustering_spark.plans.kmeans"
    assert {(step, "lloyd_iteration"), (step, "update_centroids")} <= set(wrapped)
    missing = [
        f"{mod}.{attr}" for mod, attr in wrapped
        if not hasattr(importlib.import_module(mod), attr)
    ]
    assert missing == []


def test_fit_calls_the_step_through_the_module_global(spark, monkeypatch):
    real = kmeans.lloyd_iteration
    calls = []

    def counting(points, centroids):
        calls.append(list(centroids))
        return real(points, centroids)

    monkeypatch.setattr(kmeans, "lloyd_iteration", counting)
    pts = spark.createDataFrame(
        [(0.0, 0.0, 0.0), (1.0, 0.0, 0.0), (9.0, 0.0, 0.0), (10.0, 1.0, 0.0)],
        "x double, y double, z double",
    )
    seeds = [Centroid(0, 0.0, 0.0, 0.0), Centroid(1, 10.0, 0.0, 0.0)]
    res = kmeans.fit(pts, seeds, max_iter=3, threshold=None)
    assert len(calls) == res.iterations == 3
    assert calls[0] == seeds and calls[1:] == res.history[:2]
