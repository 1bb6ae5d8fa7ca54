"""Centroid/seed side-file source (reference operator O2).

The reference loads the centroid list whole into each mapper's memory
in ``setup()`` and accepts two encodings (Task2.java:52-93): initial
``x,y,z`` CSV (id = line index) and prior-iteration ``id\\tx,y,z`` TSV
(tab detect at Task2.java:62). Malformed lines are skipped with a
warning (Task2.java:84-89). SilhouetteEvaluation2.java:65 additionally
strips a ``"; point; point; ..."`` member-list suffix.

K is tiny (the centroid relation is K rows), so the idiomatic Spark
shape is driver-side parse + a broadcast row — the distribution role
of Hadoop's side-file channel is played by Spark's broadcast (O3).
"""

from __future__ import annotations

import sys
from typing import NamedTuple


class Centroid(NamedTuple):
    id: int
    x: float
    y: float
    z: float


def _parse_line(line: str, line_index: int) -> Centroid | None:
    """Dual-format tolerant parse of one seed line (Task2.java:52-93)."""
    line = line.strip()
    if not line:
        return None
    try:
        if "\t" in line:
            # iteration-output format: id \t x,y,z[; member; member...]
            key, value = line.split("\t", 1)
            value = value.split(";", 1)[0]  # SilhouetteEvaluation2.java:65
            parts = value.strip().split(",")
            if len(parts) != 3:  # 3-field guard, Task2.java:77
                raise ValueError(f"expected 3 coords, got {len(parts)}")
            return Centroid(int(key.strip()), *(float(p.strip()) for p in parts))
        parts = line.split(",")
        if len(parts) != 3:
            raise ValueError(f"expected 3 coords, got {len(parts)}")
        return Centroid(line_index, *(float(p.strip()) for p in parts))
    except (ValueError, IndexError) as exc:
        # tolerant skip with warning, Task2.java:84-89
        print(f"WARN: skipping malformed seed line {line!r}: {exc}", file=sys.stderr)
        return None


def load_seeds(path: str) -> list[Centroid]:
    """Driver-side load of a seed file in either reference format.

    For the CSV format, id = index among *valid* lines, matching the
    reference's post-skip ``centroids.size()`` indexing.
    """
    out: list[Centroid] = []
    with open(path) as fh:
        for raw in fh:
            c = _parse_line(raw, len(out))
            if c is not None:
                out.append(c)
    return out
