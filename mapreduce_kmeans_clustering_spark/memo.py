"""One memo store for the derived relations several registered queries
share (persisted frames, checkpointed indexes, collected seed lists).

``@memo`` wraps a function of ``(spark, sf_dir, *args)``, keyed on the
function and its arguments. A directory's entries share one stamp: the
application id and ``(relpath, size, mtime_ns)`` of every file under
``sf_dir``. When the stamp differs, every entry on that directory is
released and rebuilt. Release unpersists DataFrame values and the RDDs
pinned while the entry was built (``localCheckpoint(eager=False)`` pins
at definition, ``persist`` at first action). It is directory-wide,
never per entry: memos nest, and freeing an inner checkpoint under a
live outer frame breaks the outer frame's next read.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

# sf_dir -> (context, stamp, {(fn, args): (value, pinned RDD ids)})
_STORE: dict[str, tuple[SparkContext, tuple, dict]] = {}


def fingerprint(sf_dir: str) -> tuple:
    """``(relpath, size, mtime_ns)`` of every file under ``sf_dir``
    (empty for a path the local filesystem cannot list, which the
    application id alone then guards)."""
    out = []
    for root, _, files in os.walk(sf_dir):
        for name in files:
            st = os.stat(path := os.path.join(root, name))
            out.append((os.path.relpath(path, sf_dir), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _pinned(sc: SparkContext) -> set[int]:
    return set(sc._jsc.getPersistentRDDs().keys())


def clear_memos(sf_dir: str | None = None) -> None:
    """Release every memo on ``sf_dir``, or on all directories."""
    for d in list(_STORE) if sf_dir is None else [sf_dir]:
        if d not in _STORE:
            continue
        sc, _, entries = _STORE.pop(d)
        if sc._jsc is None:  # stopped: its cache and pins went with it
            continue
        live = sc._jsc.getPersistentRDDs()
        for value, rdd_ids in entries.values():
            if isinstance(value, DataFrame):
                value.unpersist()
            for i in rdd_ids:
                if (rdd := live.get(i)) is not None:
                    rdd.unpersist()


def memo(fn: Callable) -> Callable:
    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str, *args):
        sc = spark.sparkContext
        stamp = (sc.applicationId, fingerprint(sf_dir))
        if sf_dir in _STORE and _STORE[sf_dir][1] != stamp:
            clear_memos(sf_dir)
        entries = _STORE.setdefault(sf_dir, (sc, stamp, {}))[2]
        key = (fn, args)
        if key not in entries:
            before = _pinned(sc)
            value = fn(spark, sf_dir, *args)
            entries[key] = (value, _pinned(sc) - before)
        return entries[key][0]

    return wrapper
