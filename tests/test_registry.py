"""The query registry: ``@query(oracle=...)`` registers each function
once under its own name, every query function in the family modules is
registered with an oracle, and the external driver's 50-key window is
the K-Means parity keys followed by ``DRIVER_ROTATION``."""

from __future__ import annotations

import importlib
import inspect
import pkgutil

import pytest

import mapreduce_kmeans_clustering_spark.queries as Q
from mapreduce_kmeans_clustering_spark.queries import (
    ALL_ORACLES,
    ALL_QUERIES,
    DRIVER_ROTATION,
    _shared,
)

KMEANS_KEYS = [
    "q_assign", "q_update", "q_chain2", "q_chain5", "q_chain_converge",
    "q_chain_cap", "q_label", "q_members", "q_intra", "q_inter", "q_sil",
    "q_disp",
]


def _query_functions():
    for info in pkgutil.iter_modules(Q.__path__):
        mod = importlib.import_module(f"{Q.__name__}.{info.name}")
        for name, obj in vars(mod).items():
            if (
                name.startswith("q_")
                and inspect.isfunction(obj)
                and obj.__module__ == mod.__name__
            ):
                yield name, obj


def test_query_registers_under_the_function_name(monkeypatch):
    monkeypatch.setattr(_shared, "QUERIES", {})

    @_shared.query(oracle="SELECT 1 AS x")
    def q_probe(spark, sf_dir):
        return None

    assert _shared.QUERIES == {"q_probe": q_probe}
    assert q_probe.oracle == "SELECT 1 AS x"


def test_second_registration_under_a_key_raises():
    live = ALL_QUERIES["q_assign"]

    def q_assign(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="q_assign"):
        _shared.query(oracle="SELECT 1")(q_assign)
    assert _shared.QUERIES["q_assign"] is live


def test_every_query_function_is_registered_with_an_oracle():
    found = dict(_query_functions())
    assert len(found) == len(ALL_QUERIES)
    for name, fn in found.items():
        assert ALL_QUERIES[name] is fn, name
        assert fn.oracle.strip(), name
        assert ALL_ORACLES[name] == fn.oracle, name


def test_driver_window_is_kmeans_keys_then_rotation():
    assert list(ALL_QUERIES)[:50] == KMEANS_KEYS + DRIVER_ROTATION


def test_rotation_keys_are_registered_once():
    assert len(DRIVER_ROTATION) == len(set(DRIVER_ROTATION))
    assert not set(DRIVER_ROTATION) & set(KMEANS_KEYS)
    missing = [k for k in DRIVER_ROTATION if k not in ALL_QUERIES]
    assert not missing, missing
