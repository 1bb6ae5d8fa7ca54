"""Benchmark harness: runs every registered query plus a convergent
K-Means fit at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Queries are forced through the `noop` sink so the full plan executes
(count() alone would let Catalyst prune the computed columns).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def latest_prev_timings(repo_dir: str) -> dict[str, float]:
    """The previous round's per-query timings, from the most recent
    BENCH_DETAIL_r{N}.json. Returns the file's actual MATCHED name's
    contents (ADVICE r9: never rebuild the name from the round number
    — a :02d reconstruction misses an unpadded BENCH_DETAIL_r9.json
    the regex accepted). Empty dict when no snapshot exists.

    Canonical-snapshot rule (VERDICT r11 item 8): when the driver's
    loaded rerun overwrites the builder's idle round-close snapshot in
    the working tree, the IDLE snapshot is restored as the committed
    BENCH_DETAIL_r{N}.json — the ≥1.3×-prev rerun rule needs a
    steady-state baseline, and a loaded prev inflates it so real
    regressions stop arming the rerun. (r11: builder idle start-load
    0.6 restored over the driver's start-load 5.1 rerun; the driver's
    own compact BENCH_r{N}.json record is never touched.)"""
    import re as _re

    prev_files = [
        (int(m.group(1)), f)
        for f in os.listdir(repo_dir)
        if (m := _re.fullmatch(r"BENCH_DETAIL_r(\d+)\.json", f))
    ]
    if not prev_files:
        return {}
    with open(os.path.join(repo_dir, max(prev_files)[1])) as fh:
        return json.load(fh).get("queries", {})


def should_rerun(
    t: float, prev: float | None, cutoff: float, ratio: float
) -> bool:
    """Best-of-2 rerun rule: always under the cutoff; otherwise when
    the first run regressed past ratio×prev. ``prev is not None``,
    not truthiness (ADVICE r9): a recorded 0.0 timing must still arm
    the regression comparison."""
    return t < cutoff or (prev is not None and t > ratio * prev)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    from mapreduce_kmeans_clustering_spark import get_spark
    from mapreduce_kmeans_clustering_spark.plans.kmeans import fit
    from mapreduce_kmeans_clustering_spark.queries import ALL_QUERIES, WARMUPS
    from mapreduce_kmeans_clustering_spark.queries.kmeans import (
        scale_points,
        scale_seeds,
    )

    spark = get_spark(app_name="mrkc-bench")
    timings: dict[str, float] = {}
    try:
        load_start = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover - platform without loadavg
        load_start = None

    # warm the JVM/codegen once so per-query numbers reflect steady state
    scale_points(spark, sf_dir).limit(1).count()

    # cpu_scaling_probe (round 13, VERDICT r12 item 8): at sf0.1 every
    # registered query is job-floor bound, so the driver's 8-vs-32-core
    # comparison reads ≈1 on all of them and the scaling block carries
    # no signal. This line is a fixed, data-independent, compute-bound
    # measurement of the session's usable parallelism: one scan-local
    # stage of pure numeric work (range + chained xxhash64, no
    # allocation — a string/md5 probe measures GC of the 1 GiB local
    # JVM instead of CPU), split defaultParallelism ways. Calibrated on
    # this box: ~5 s on local[32], ~13 s on local[8] (ratio ~2.5; the
    # 32 hardware threads are not 4x8 physical cores). It is additive
    # suite cost, reported like any other line; it never touches the
    # data under test.
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.sparkContext.setJobDescription("bench: cpu_scaling_probe")
    (
        spark.range(0, 8_000_000_000, 1, spark.sparkContext.defaultParallelism)
        .select(F.sum(F.xxhash64(F.xxhash64(F.xxhash64("id"))) % 1000).alias("s"))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    spark.sparkContext.setJobDescription(None)
    timings["cpu_scaling_probe"] = round(time.perf_counter() - t0, 3)

    # the shared memo builds, each as its own timed line (the reasons
    # are declared with queries.WARMUPS)
    for name, warm in WARMUPS.items():
        t0 = time.perf_counter()
        warm(spark, sf_dir)
        timings[name] = round(time.perf_counter() - t0, 3)

    # Noise control (VERDICT r5 item 5 / r6 item 6): sandbox load
    # swings suite totals ±30%, and the distortion concentrates in
    # sub-second queries where 0.1 s of contention is 30% of the
    # reading. Queries under RERUN_CUTOFF get a second run and report
    # the MIN (steady-state); expensive queries run once — their
    # relative noise is small and a re-run would double suite cost.
    # The sidecar also records 1-min loadavg at start/end so a loaded
    # round is identifiable without per-query forensics.
    #
    # Memoized queries (the _exact_topk / _ivf_assigned / _ivfpq_top
    # users) report STEADY-STATE probe-only time under the re-run: run
    # 1 may populate a memo, run 2 reuses it, and MIN takes the warm
    # number. That is deliberate and now consistent
    # — the shared builds are timed as their own *_warmup lines above,
    # so no query's number depends on alphabetical order (ADVICE r7;
    # tools/scale_sweep.py clears the memos instead because it measures
    # build+probe scaling, a different question). bench_mode records
    # the policy.
    # VERDICT r8 item 4: the 1.5 s cutoff produced boundary artifacts
    # two rounds running — a key whose true time sits NEAR the cutoff
    # flips between shielded and unshielded across rounds
    # (q_snapshot_diff r7→r8; q_part_supplier_variety,
    # q_dedup_minhash, q_basket_triples r8). Two-part rule now:
    # (a) cutoff raised to 2 s, and (b) any key whose first run
    # exceeds 1.3× its previous round's recorded value is re-run
    # regardless of magnitude — a real regression reproduces on the
    # immediate second run, a load spike doesn't.
    RERUN_CUTOFF = 2.0
    REGRESS_RATIO = 1.3
    bench_mode = (
        f"best-of-2-under-{RERUN_CUTOFF}s"
        f"-or-over-{REGRESS_RATIO}x-prev;memoized-steady-state"
    )
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    prev_timings = latest_prev_timings(repo_dir)
    n_rerun = 0
    for name, fn in sorted(ALL_QUERIES.items()):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        t = time.perf_counter() - t0
        if should_rerun(
            t, prev_timings.get(name), RERUN_CUTOFF, REGRESS_RATIO
        ):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            t = min(t, time.perf_counter() - t0)
            n_rerun += 1
        timings[name] = round(t, 3)

    t0 = time.perf_counter()
    pts = scale_points(spark, sf_dir).cache()
    res = fit(pts, scale_seeds(spark, sf_dir), max_iter=30, threshold=5.0)
    timings["fit_converge"] = round(time.perf_counter() - t0, 3)
    timings["fit_iterations"] = res.iterations
    pts.unpersist()

    # the BLAS path: convergent 64-dim Lloyd over the embeddings table
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.plans.kmeans_nd import fit_nd

    # Round-13 (VERDICT r12 item 3): back to the RAW single-file read.
    # Round-12 split this input 8 ways through queries._shared._t on a
    # U-curve measured under load; the idle interleaved re-measurement
    # (OPTIMIZATION_r13.md, min-of-3, 10 iterations) reads 1 partition
    # 5.67 s / 4 -> 6.39 / 8 -> 7.18 / 16 -> 8.18: at 2 000 vectors the
    # per-iteration Python-worker round trip scales with the task count
    # and dominates, which also matches the driver's inverted 8-core
    # ratio (0.74). At a real corpus size the raw read arrives already
    # multi-split, so nothing here is local[32]-tuned. fit_nd numbers
    # are r11-comparable again (r12's are the odd ones out).
    t0 = time.perf_counter()
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .cache()
    )
    nd = fit_nd(emb, k=8, max_iter=10, threshold=1e-3)
    timings["fit_nd_converge"] = round(time.perf_counter() - t0, 3)
    timings["fit_nd_iterations"] = nd.iterations
    emb.unpersist()

    total = round(
        sum(
            v
            for k, v in timings.items()
            if k not in ("fit_iterations", "fit_nd_iterations")
        ),
        3,
    )

    # The external driver captures only the TAIL of stdout; in round 2
    # the single giant JSON line (~118 query entries) pushed
    # `suite_seconds` out of the capture window and the record came
    # back unparsed. So: full per-query detail goes to a sidecar file
    # and an earlier stdout line, and the LAST line is a compact
    # summary that always fits the tail window. The compact line keeps
    # the `queries` key (schema the driver expects) but limits it to
    # the headline fits plus the slowest entries.
    try:
        load_end = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover - platform without loadavg
        load_end = None
    detail = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "bench_mode": bench_mode,
        "n_rerun": n_rerun,
        "load_avg_start": load_start,
        "load_avg_end": load_end,
    }
    repo = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(repo, "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    # Per-round snapshot (VERDICT r4 item 7): BENCH_r{N}.json holds
    # only the compact tail line, so per-query regressions across
    # rounds were reconstruct-only. Infer the CURRENT round as
    # 1 + max recorded BENCH_r*; the driver's own bench run then
    # leaves BENCH_DETAIL_r{N}.json next to its BENCH_r{N}.json and
    # any round's diff is a two-file comparison.
    import re as _re

    rounds = [
        int(m.group(1))
        for f in os.listdir(repo)
        if (m := _re.fullmatch(r"BENCH_r(\d+)\.json", f))
    ]
    rnd = (max(rounds) if rounds else 0) + 1
    with open(os.path.join(repo, f"BENCH_DETAIL_r{rnd:02d}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(json.dumps(detail))

    slowest = dict(
        sorted(
            ((k, v) for k, v in timings.items() if not k.endswith("iterations")),
            key=lambda kv: kv[1],
            reverse=True,
        )[:8]
    )
    compact_queries = {
        "fit_converge": timings["fit_converge"],
        "fit_iterations": timings["fit_iterations"],
        "fit_nd_converge": timings["fit_nd_converge"],
        "fit_nd_iterations": timings["fit_nd_iterations"],
        **slowest,
    }
    print(
        json.dumps(
            {
                "metric": "suite_seconds",
                "value": total,
                "unit": "sec",
                # n_queries counts TIMED entries; the detail file's
                # queries dict also carries the two *_iterations
                # counters, hence n_detail_entries = n_queries + 2
                # (the r10 219-vs-221 reconciliation, VERDICT r10
                # item 8)
                "n_queries": sum(
                    1 for k in timings if not k.endswith("iterations")
                ),
                "n_detail_entries": len(timings),
                "queries": compact_queries,
                "detail_file": "BENCH_DETAIL.json",
                "sf": sf,
                "bench_mode": bench_mode,
                "load_avg": [load_start, load_end],
            }
        )
    )


if __name__ == "__main__":
    main()
