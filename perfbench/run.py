"""Lloyd K-Means benchmark for the engine in this repository.

    python3 perfbench/run.py --workload paper_chain --seed 1 --seconds 15 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
(outside the timed set-up), fits run for ``--seconds`` after an untimed
warm-up fit and evaluation, every result is checked against the numpy
oracles in
``oracle.py``, and the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` the per-layer metrics, and writes
the run's spans to ``.perfbench_work/traces/``.

Workloads (one driver process, one caller, a closed loop):
- ``paper_chain``: the reference's shape, 5,000 integer points and K=5
  seed files, 30-step fits with the convergence check on
  (max_iter=30, threshold=5.0), then labelling with the reference
  silhouette. The data is tiny, so a step is all driver, planning,
  codegen and job overhead.
- ``embed_nd``: 100k 64-dim float32 vectors in 8 parquet files,
  farthest-point seeding (k=16) on a cached 1/256 sample, fixed 6-step
  ``fit_nd``, then ``assign_nd`` labelling with per-cluster counts. The
  Arrow / mapInPandas / BLAS path, which no 3-D fit touches.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
ENGINE = "mapreduce_kmeans_clustering_spark"
WORKLOADS = ("paper_chain", "embed_nd")
MAX_CORES = 4
PAPER_WARMUP_ITERS, PAPER_EVALS = 20, 2
ND_ITERS, ND_SAMPLES, ND_EVALS = 6, 256, 3


def _setup_env() -> int:
    """Pin parallelism and BLAS threads before any JVM or numpy starts;
    Python workers inherit the environment."""
    cores = min(len(os.sched_getaffinity(0)), MAX_CORES)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        OPENBLAS_NUM_THREADS="1",
        OMP_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
        SPARK_GRAFT_CPUS=str(cores),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    sys.path[:0] = [HERE, ROOT]
    return cores


class Bench:
    """One run: the session, the wrapped engine modules, the timed
    operations and what the oracles need to check them afterwards."""

    def __init__(self, args, cores: int, inputs: str):
        from spans import Tracer

        self.args, self.cores, self.inputs = args, cores, inputs
        self.tracer = Tracer(f"{args.workload}-s{args.seed}-t{args.trace}", deep=bool(args.trace))
        self.steps: list[tuple] = []  # (span, input centroids, output) of the current fit
        self.fits: list[dict] = []
        self.evals: list[dict] = []
        self.writes: list[dict] = []
        self.errors: list[str] = []
        self.seed_sets: set = set()
        self.check = lambda: iter(())

    def start(self) -> None:
        """Wrap the engine's public functions in spans, then start the
        session."""
        from mapreduce_kmeans_clustering_spark import get_spark, sources
        from mapreduce_kmeans_clustering_spark.operators import silhouette
        from mapreduce_kmeans_clustering_spark.plans import kmeans, kmeans_nd
        from mapreduce_kmeans_clustering_spark.sinks import text_kv

        t = self.tracer

        def record(args, out, sp):
            self.steps.append((sp, args[1], out))

        # fit / fit_nd call their step function through the module global,
        # so wrapping the module attribute sees every step.
        t.wrap(kmeans, "lloyd_iteration", "plans.kmeans.lloyd_iteration", True, record)
        t.wrap(kmeans_nd, "lloyd_partials_nd", "plans.kmeans_nd.lloyd_partials_nd", True, record)
        for mod, attr, name, group in (
            (kmeans, "fit", "plans.kmeans.fit", False),
            (kmeans, "label", "plans.kmeans.label", False),
            (kmeans, "assign", "operators.assign.assign", False),
            (kmeans, "update_centroids", "operators.aggregate.update_centroids", False),
            (kmeans_nd, "fit_nd", "plans.kmeans_nd.fit_nd", False),
            (kmeans_nd, "init_farthest_nd", "plans.kmeans_nd.init_farthest_nd", True),
            (kmeans_nd, "assign_nd", "plans.kmeans_nd.assign_nd", False),
            (sources, "read_points_csv", "sources.read_points_csv", False),
            (sources, "load_seeds", "sources.load_seeds", False),
            (silhouette, "silhouette_ref", "operators.silhouette.silhouette_ref", False),
            (text_kv, "write_centroids_kv", "sinks.text_kv.write_centroids_kv", False),
            (text_kv, "write_labeled", "sinks.text_kv.write_labeled", False),
        ):
            t.wrap(mod, attr, name, group)
        self.km, self.nd, self.sources, self.sil, self.sinks = (
            kmeans, kmeans_nd, sources, silhouette, text_kv,
        )
        with t.span("session.get_spark") as sp:
            self.spark = get_spark(
                app_name=f"perfbench-{self.args.workload}",
                master=f"local[{self.cores}]",
                shuffle_partitions=self.cores,
                extra_conf={
                    "spark.driver.memory": "1g",
                    "spark.local.dir": os.path.join(WORK, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                    "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
                    + os.path.join(WORK, "tmp"),
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.sql.ui.retainedExecutions": "10000",
                },
            )
        self.session_s = sp["end"] - sp["start"]
        t.attach(self.spark)

    def load(self, read):
        with self.tracer.span("sources.load", group=True) as sp:
            df = read().cache()
            df.count()
        self.load_s = sp["end"] - sp["start"]
        self.partitions = df.rdd.getNumPartitions()
        return df

    def fresh(self, seeds) -> None:
        """Every fit starts from a seed set never used before in this
        process, so no fit is served by a warm codegen cache."""
        key = tuple(tuple(map(float, s)) for s in seeds)
        if key in self.seed_sets:
            raise RuntimeError("seed set reused within one process")
        self.seed_sets.add(key)

    def timed_fits(self, one_fit, first: int, last: int) -> None:
        """Fits ``first``.. while another fit of the mean length still
        ends within ``--seconds`` (at least one fit), or until the
        generated seed sets run out."""
        self.t_first = time.perf_counter()
        i = first
        while i < last and (
            not self.fits
            or time.perf_counter() - self.t_first
            + statistics.mean(f["span"]["end"] - f["span"]["start"] for f in self.fits)
            <= self.args.seconds
        ):
            self.steps = []
            with self.tracer.span("fit", probe=True) as sp:
                try:
                    ctx = one_fit(i)
                except Exception as exc:  # an engine failure is a failed operation
                    self.errors.append(f"fit {i}: {exc!r}")
                    ctx = None
            if ctx is not None:
                engine_fit = next(s for s in self.tracer.spans[sp["id"]:] if s["name"] in FIT_SPANS)
                self.fits.append({"span": sp, "fit_span": engine_fit, "steps": self.steps, **ctx})
            i += 1
        self.t_timed = time.perf_counter() - self.t_first

    def op(self, kind: str, fn) -> None:
        """One timed post-fit operation (an eval or a write)."""
        with self.tracer.span(kind, group=True) as sp:
            try:
                out = fn()
            except Exception as exc:
                self.errors.append(f"{kind}: {exc!r}")
                return
        (self.evals if kind == "eval" else self.writes).append({"span": sp, "out": out})

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for every process this
        run started (JVM, Python daemon and workers) to end."""
        import signal

        from pyspark import SparkContext

        from spans import descendants

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 30
        while kids := descendants(os.getpid()):
            if time.time() > deadline:
                for k in kids:
                    try:
                        os.kill(k, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.2)


# -- workloads ----------------------------------------------------------
def paper_chain(b: Bench) -> None:
    import gen

    from mapreduce_kmeans_clustering_spark.sources.points import with_rid

    pts_path = os.path.join(b.inputs, "points.csv")
    df = b.load(lambda: b.sources.read_points_csv(b.spark, pts_path))

    def one_fit(i, max_iter=gen.PAPER_MAX_ITER):
        with b.tracer.span("seed") as sp:
            seeds = b.sources.load_seeds(os.path.join(b.inputs, f"seeds_{i:03d}.csv"))
        b.fresh(seeds)
        res = b.km.fit(df, seeds, max_iter=max_iter, threshold=gen.PAPER_THRESHOLD)
        return {"i": i, "seed_span": sp, "result": res}

    def evaluate(cents):
        return b.sil.silhouette_ref(with_rid(b.km.label(df, cents))).collect()

    evaluate(one_fit(0, PAPER_WARMUP_ITERS)["result"].centroids)  # untimed JIT warm-up
    b.timed_fits(one_fit, 1, gen.PAPER_FITS)
    if not b.fits:
        return
    final = b.fits[-1]["result"].centroids
    for _ in range(PAPER_EVALS):
        b.op("eval", lambda: evaluate(final))
    out = os.path.join(WORK, "out", b.args.workload)
    if b.args.trace:
        b.op("write", lambda: b.sinks.write_centroids_kv(b.spark, final, out + "/centroids"))
        b.op("write", lambda: b.sinks.write_labeled(b.km.label(df, final), out + "/labeled"))

    def check():
        import numpy as np
        import oracle

        pts = gen.load_points(pts_path)
        for f in b.fits:
            seeds = _seed_file(os.path.join(b.inputs, f"seeds_{f['i']:03d}.csv"))
            yield _check_fit_3d(pts, seeds, f, gen.PAPER_MAX_ITER, gen.PAPER_THRESHOLD)
        lab = oracle.assign_3d(pts, final)
        want = oracle.silhouette_3d(pts, lab)
        for e in b.evals:
            got = {r["cluster"]: (r["avg_intra"], r["avg_inter"], r["silhouette"]) for r in e["out"]}
            ok = got.keys() == want.keys() and all(
                oracle.close(a, c) for k in want for a, c in zip(got[k], want[k])
            )
            yield None if ok else "silhouette differs from the oracle"
        if b.writes:
            lines = _part_lines(out + "/centroids")
            want_lines = [f"{c[0]}\t{c[1]!r},{c[2]!r},{c[3]!r}" for c in sorted(final)]
            yield None if lines == want_lines else "centroid file differs"
            rows = np.array(
                [[float(v) for v in ln.split(",")] for ln in _part_lines(out + "/labeled")]
            )
            exp = np.column_stack([pts, lab])
            ok = rows.shape == exp.shape and np.array_equal(
                rows[np.lexsort(rows.T[::-1])], exp[np.lexsort(exp.T[::-1])]
            )
            yield None if ok else "labeled output differs"

    b.check = check


def embed_nd(b: Bench) -> None:
    import gen
    from pyspark.sql import functions as F

    vec_path = os.path.join(b.inputs, "vectors")
    df = b.load(lambda: b.spark.read.parquet(vec_path))

    def seed(i, k):
        sample = df.where(F.col("vec_id") % ND_SAMPLES == i).cache()
        seeds = b.nd.init_farthest_nd(sample, k)
        sample.unpersist()
        b.fresh(seeds)
        return seeds

    def one_fit(i):
        with b.tracer.span("seed") as sp:
            seeds = seed(i, gen.EMBED_K)
        res = b.nd.fit_nd(df, gen.EMBED_K, max_iter=ND_ITERS, threshold=None, seeds=seeds)
        return {"i": i, "seed_span": sp, "seeds": seeds, "result": res}

    def evaluate(cents):
        return b.nd.assign_nd(df, cents).groupBy("cluster").count().collect()

    # Untimed JIT warm-up: a full k=16 seeding (later rounds build larger
    # plans than early ones, so a smaller k leaves the first timed fit
    # cold), a shorter fit and one evaluation.
    warm = b.nd.fit_nd(df, gen.EMBED_K, max_iter=2, threshold=None, seeds=seed(0, gen.EMBED_K))
    evaluate(warm.centroids)
    b.timed_fits(one_fit, 1, ND_SAMPLES)
    if not b.fits:
        return
    final = b.fits[-1]["result"].centroids
    for _ in range(ND_EVALS):
        b.op("eval", lambda: evaluate(final))

    def check():
        import oracle

        ids, vecs = gen.load_vectors(vec_path)
        for f in b.fits:
            m = ids % ND_SAMPLES == f["i"]
            want = oracle.farthest_nd(ids[m], vecs[m], gen.EMBED_K)
            if f["seeds"] != want:
                yield f"fit {f['i']}: seeds differ from the oracle"
                continue
            steps = [(inp, out) for _, inp, out in f["steps"]]
            why = oracle.check_fit_nd(vecs, want, steps, f["result"].iterations, ND_ITERS)
            yield None if why is None else f"fit {f['i']}: {why}"
        want_counts = oracle.counts(oracle.assign_nd(vecs, final))
        for e in b.evals:
            got = {r["cluster"]: r["count"] for r in e["out"]}
            yield None if got == want_counts else "labels differ from the oracle"

    b.check = check


def _seed_file(path: str) -> list[tuple]:
    """Seed file parsed without the engine: (line index, x, y, z)."""
    with open(path) as fh:
        return [(i, *map(float, ln.split(","))) for i, ln in enumerate(fh) if ln.strip()]


def _check_fit_3d(pts, seeds, f, max_iter, threshold) -> str | None:
    import oracle

    res = f["result"]
    steps = [(inp, out) for _, inp, out in f["steps"]]
    why = oracle.check_fit_3d(pts, seeds, steps, res.iterations, max_iter, threshold)
    if why is None and [tuple(c) for c in res.centroids] != [tuple(c) for c in steps[-1][1]]:
        why = "fit result is not the last step's output"
    return None if why is None else f"fit {f['i']}: {why}"


def _part_lines(path: str) -> list[str]:
    lines = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name)) as fh:
                lines += [ln.rstrip("\n") for ln in fh if ln.strip()]
    return lines


# -- metrics ------------------------------------------------------------
# fit_s times the engine's fit call from given seeds; seeding is reported
# per layer (seed.ms_per_fit), as its driver-bound plan building swings
# with host contention far more than the Lloyd steps do.
FIT_SPANS = ("plans.kmeans.fit", "plans.kmeans_nd.fit_nd")
UNITS = {"setup_s": "s", "fit_s": "s", "iter_ms": "ms", "eval_s": "s", "peak_rss_mb": "MB"}


def end_to_end(b: Bench, gen_s: float) -> dict:
    def dur(sp):
        return sp["end"] - sp["start"]

    return {
        "setup_s": (b.t_first - T0) - gen_s,
        "fit_s": statistics.median(dur(f["fit_span"]) for f in b.fits),
        "iter_ms": 1e3 * statistics.median(dur(s) for f in b.fits for s, _, _ in f["steps"]),
        "eval_s": statistics.median(dur(e["span"]) for e in b.evals),
        "peak_rss_mb": b.peak_rss_mb,
    }


def per_layer(b: Bench, e2e: dict) -> dict:
    """Per-layer figures from the traced run's spans: medians over the
    timed steps, means over the timed fits."""
    b.tracer.self_times()
    steps = [s for f in b.fits for s, _, _ in f["steps"]]
    fits = [f["span"] for f in b.fits]
    fit_ids = {s["id"] for s in fits}
    evals = [e["span"] for e in b.evals]
    writes = [w["span"] for w in b.writes]

    def med(key, spans=steps):
        return float(statistics.median(s.get(key, 0.0) for s in spans))

    def mean(key):  # for counters kept in whole ms, whose median often ties
        return statistics.mean(s.get(key, 0.0) for s in steps)

    def per_fit(key):
        return sum(s.get(key, 0.0) for s in fits) / len(fits)

    per_fit_wall = statistics.mean(s["end"] - s["start"] for s in fits)

    walls = [1e3 * (s["end"] - s["start"]) for s in steps]
    n_pairs = 5_000**2 if b.args.workload == "paper_chain" else 0
    write_s = sum(w["end"] - w["start"] for w in writes)
    m = {
        "session.start_s": (b.session_s, "s"),
        "sources.load_s": (b.load_s, "s"),
        "sources.partitions": (b.partitions, "count"),
        "seed.ms_per_fit": (1e3 * statistics.mean(
            f["seed_span"]["end"] - f["seed_span"]["start"] for f in b.fits), "ms"),
        "step.jobs": (med("jobs"), "count"),
        "step.stages": (med("stages"), "count"),
        "step.skipped_stages": (med("skipped_stages"), "count"),
        "step.tasks": (med("tasks"), "count"),
        "step.plan_ms": (mean("plan_ms"), "ms"),
        "step.stage_ms": (mean("stage_ms"), "ms"),
        "step.driver_ms": (med("driver_ms"), "ms"),
        "step.accounted_pct": (100.0 * statistics.median(
            (s["stage_ms"] + s["driver_ms"]) / w for s, w in zip(steps, walls)), "%"),
        "step.map_stage_pct": (100.0 * statistics.median(
            s["map_stage_ms"] / w for s, w in zip(steps, walls)), "%"),
        "step.map_cpu_ms": (med("map_cpu_ms"), "ms"),
        "step.exec_cpu_ms": (med("exec_cpu_ms"), "ms"),
        "step.shuffle_bytes": (med("shuffle_bytes"), "bytes"),
        "step.self_ms": (1e3 * med("self_s"), "ms"),
        "codegen.compiles_per_iter": (med("compiles"), "count"),
        "codegen.compile_pct": (100.0 * per_fit("compile_ms") / (1e3 * per_fit_wall), "%"),
        "jvm.gc_ms_per_fit": (per_fit("gc_ms"), "ms"),
        "fit.self_ms": (1e3 * statistics.mean(
            s["self_s"] for s in b.tracer.spans
            if s["parent"] in fit_ids and s["name"] != "seed"), "ms"),
        "eval.jobs": (med("jobs", evals), "count"),
        "eval.exec_cpu_ms": (med("exec_cpu_ms", evals), "ms"),
        "silhouette.pairs_per_s": (n_pairs / e2e["eval_s"], "1/s"),
        "sinks.files_per_s": (len(writes) / write_s if writes else 0.0, "1/s"),
        "sinks.jobs_per_file": (med("jobs", writes) if writes else 0.0, "count"),
        "host.steal_pct": (b.steal, "%"),
        "host.loadavg": (b.load, "load"),
        "trace.iter_ms": (e2e["iter_ms"], "ms"),
        "trace.fit_s": (e2e["fit_s"], "s"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE} package next to perfbench/", file=sys.stderr)
        return 2
    cores = _setup_env()

    import gen
    from spans import cpu_times, loadavg, peak_rss_mb, steal_pct

    # Generation runs in its own process, so its memory stays out of
    # this process's peak RSS whether or not the inputs were cached.
    g0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), WORK, args.workload, str(args.seed)],
        check=True,
    )
    gen_s = time.perf_counter() - g0
    cpu0 = cpu_times()

    b = Bench(args, cores, gen.inputs_dir(WORK, args.workload, args.seed))
    b.start()
    try:
        {"paper_chain": paper_chain, "embed_nd": embed_nd}[args.workload](b)
        b.peak_rss_mb = peak_rss_mb(os.getpid())
        b.steal, b.load = steal_pct(cpu0, cpu_times()), loadavg()
        b.tracer.collect_stages()
        if args.trace and b.tracer.codegen_saturated():
            print("perfbench: codegen histogram saturated; compile_ms approximate", file=sys.stderr)
    finally:
        t_stop = time.perf_counter()
        b.stop()
    t_check = time.perf_counter()

    problems = list(b.errors) + [p for p in b.check() if p]
    attempted = len(b.fits) + len(b.evals) + len(b.writes) + len(b.errors)
    for p in problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} failed {len(problems)}/{attempted} "
        f"fits={len(b.fits)} steps={sum(len(f['steps']) for f in b.fits)} "
        f"gen={gen_s:.1f}s timed={b.t_timed:.1f}s post={t_stop - b.t_first - b.t_timed:.1f}s "
        f"stop={t_check - t_stop:.1f}s check={time.perf_counter() - t_check:.1f}s "
        f"steal={b.steal:.1f}% loadavg={b.load:.2f}",
        file=sys.stderr,
    )
    metrics = {}
    if b.fits and b.evals:
        e2e = end_to_end(b, gen_s)
        if args.trace:
            metrics = per_layer(b, e2e)
            if args.workload == "paper_chain" and metrics["codegen.compiles_per_iter"]["value"] == 0:
                print("perfbench: no codegen compile per step; check centroid freshness",
                      file=sys.stderr)
            b.tracer.dump(
                os.path.join(WORK, "traces", f"{b.tracer.run_id}.json"),
                {"end_to_end": e2e, "per_layer": metrics},
            )
        else:
            metrics = {k: {"value": float(v), "unit": UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": not problems and bool(metrics),
        "attempted": max(attempted, 1),
        "failed": len(problems) if metrics else max(attempted, 1),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
