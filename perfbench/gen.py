"""Seeded input generators.

Every input is a pure function of (workload, seed, size): the same seed
writes byte-identical files. Files are written once per (seed, size)
under the work directory and reused by later runs; the engine only
ever sees the files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from oracle import lloyd_fit_3d

# paper_chain: the reference dataset's shape (5,000 integer points,
# x in [0, 9999], y and z in [0, 1000]) and its K=5 seed files.
PAPER_N, PAPER_K, PAPER_FITS = 5_000, 5, 40
PAPER_MAX_ITER, PAPER_THRESHOLD = 30, 5.0
# embed_nd: 64-dim float32 vectors around 16 centres.
EMBED_N, EMBED_DIM, EMBED_K, EMBED_SD = 100_000, 64, 16, 0.5
PARQUET_FILES = 8

_STREAM = {"paper_chain": 1, "embed_nd": 3}


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAM[workload]])


def inputs_dir(work: str, workload: str, seed: int) -> str:
    """The input directory of (workload, seed, size); ``DONE`` marks it
    complete."""
    sizes = {
        "paper_chain": f"n{PAPER_N}",
        "embed_nd": f"n{EMBED_N}d{EMBED_DIM}",
    }[workload]
    return os.path.join(work, "data", f"{workload}-{sizes}-s{seed}")


def generate(work: str, workload: str, seed: int) -> None:
    """Write the inputs of (workload, seed, size) unless already there.

    Other seeds' inputs of the same workload are evicted so repeated
    runs over many seeds keep the disk footprint to one data set."""
    out = inputs_dir(work, workload, seed)
    if os.path.exists(os.path.join(out, "DONE")):
        return
    root, name = os.path.split(out)
    os.makedirs(root, exist_ok=True)
    for old in os.listdir(root):
        if old.startswith(workload + "-") and old != name:
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    {"paper_chain": _paper, "embed_nd": _embed}[workload](
        _rng(workload, seed), out
    )
    open(os.path.join(out, "DONE"), "w").close()


def _write_seed_file(path: str, pts: np.ndarray, fmt: str) -> None:
    with open(path, "w") as fh:
        for p in pts:
            fh.write(",".join(fmt % v for v in p) + "\n")


def _paper(rng: np.random.Generator, out: str) -> None:
    pts = np.column_stack(
        [
            rng.integers(0, 10_000, PAPER_N),
            rng.integers(0, 1_001, PAPER_N),
            rng.integers(0, 1_001, PAPER_N),
        ]
    ).astype(np.float64)
    np.savetxt(os.path.join(out, "points.csv"), pts, fmt="%d", delimiter=",")
    # Distinct K-point seed sets drawn from the data, kept only when the
    # oracle's paper-shaped fit (max_iter=30, threshold=5.0) runs the
    # whole 30-step chain, so every timed fit does the same work (about
    # 4 in 5 random sets do; the reference's own seeds took 28 steps).
    # That also rules out sets that empty a cluster, on which the
    # reference's strict mode raises (Task5A).
    made, seen = 0, set()
    while made < PAPER_FITS:
        idx = rng.choice(PAPER_N, PAPER_K, replace=False)
        key = tuple(map(tuple, pts[idx]))
        if len(set(key)) < PAPER_K or key in seen:
            continue
        seeds = [(i, *p) for i, p in enumerate(pts[idx])]
        fit = lloyd_fit_3d(pts, seeds, PAPER_MAX_ITER, PAPER_THRESHOLD)
        if fit["shrunk"] or fit["iterations"] < PAPER_MAX_ITER:
            continue
        seen.add(key)
        _write_seed_file(os.path.join(out, f"seeds_{made:03d}.csv"), pts[idx], "%d")
        made += 1


def _embed(rng: np.random.Generator, out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    centres = rng.normal(0.0, 1.0, (EMBED_K, EMBED_DIM))
    lab = rng.integers(0, EMBED_K, EMBED_N)
    vecs = (centres[lab] + rng.normal(0.0, EMBED_SD, (EMBED_N, EMBED_DIM))).astype(
        np.float32
    )
    os.makedirs(os.path.join(out, "vectors"))
    for f in range(PARQUET_FILES):
        lo, hi = f * EMBED_N // PARQUET_FILES, (f + 1) * EMBED_N // PARQUET_FILES
        emb = pa.FixedSizeListArray.from_arrays(
            pa.array(vecs[lo:hi].ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32()))
        pq.write_table(
            pa.table({"vec_id": pa.array(np.arange(lo, hi, dtype=np.int64)), "embedding": emb}),
            os.path.join(out, "vectors", f"part-{f:02d}.parquet"),
        )


def load_points(path: str) -> np.ndarray:
    """The generated 3-D points as an (n, 3) float64 array (oracle side)."""
    return np.loadtxt(path, delimiter=",", dtype=np.float64).reshape(-1, 3)


def load_vectors(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float64 vectors) of the generated embeddings (oracle side)."""
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    ids = t["vec_id"].to_numpy()
    emb = t["embedding"].combine_chunks()
    vecs = emb.flatten().to_numpy().reshape(len(ids), -1).astype(np.float64)
    order = np.argsort(ids, kind="stable")
    return ids[order], vecs[order]


if __name__ == "__main__":
    import sys

    generate(sys.argv[1], sys.argv[2], int(sys.argv[3]))
