"""Optimization-round measurement helper.

Times individual registered queries through the noop sink (guide §1.4)
on the same session config as bench.py, optionally repeating, and/or
dumps `.explain("formatted")` to plans/<round>/<name>_<tag>.txt so plan
claims in OPTIMIZATION_r*.md are reproducible.

Usage:
  python tools/opt_bench.py --plans-tag before q_dedup_minhash q_dedup_pipeline
  python tools/opt_bench.py --repeat 3 q_linkage_entities
  python tools/opt_bench.py --warmups            # time the bench warmup lines only
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--plans-tag", default=None, help="write plans/<round>/<name>_<tag>.txt")
    ap.add_argument("--plans-round", default="r13")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--warmups", action="store_true")
    args = ap.parse_args()

    from mapreduce_kmeans_clustering_spark import get_spark
    from mapreduce_kmeans_clustering_spark.queries import ALL_QUERIES, WARMUPS, scale_points

    spark = get_spark(app_name="mrkc-opt-bench")
    sf_dir = args.sf_dir
    scale_points(spark, sf_dir).limit(1).count()  # JVM warm

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plans_dir = os.path.join(repo, "plans", args.plans_round)
    out: dict[str, list[float]] = {}

    if args.warmups:
        for name, warm in WARMUPS.items():
            t0 = time.perf_counter()
            warm(spark, sf_dir)
            out[name] = [round(time.perf_counter() - t0, 3)]

    for name in args.names:
        fn = ALL_QUERIES[name]
        spark.sparkContext.setJobDescription(f"opt: {name}")
        if args.plans_tag:
            os.makedirs(plans_dir, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
            with open(os.path.join(plans_dir, f"{name}_{args.plans_tag}.txt"), "w") as fh:
                fh.write(buf.getvalue())
        runs = []
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(round(time.perf_counter() - t0, 3))
        out[name] = runs
        spark.sparkContext.setJobDescription(None)

    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
