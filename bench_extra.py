"""Optimization-round measurement harness (guide §1).

NOT the driver bench (bench.py is frozen). This file:
  * times each headline query with the NOOP sink (guide §1.4) so the
    computation is measured without the py4j collect the driver bench pays;
  * also records the collect wall (the driver-comparable number);
  * dumps .explain("formatted") for every measured query into
    plans/<tag>/<query>.txt  (tag = --tag, default "before");
  * labels jobs (spark.sparkContext.setJobDescription) per guide §1.5.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
      python bench_extra.py [query ...] [--tag before|after] [--trials N]
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402  (frozen driver harness — reused, never edited)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

PLANS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans")


def _dump_plan(df, name: str, tag: str) -> None:
    out_dir = os.path.join(PLANS_DIR, tag)
    os.makedirs(out_dir, exist_ok=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
        f.write(buf.getvalue())


def measure(spark, queries, names, tag: str, trials: int) -> dict:
    out = {}
    for name in names:
        fn = queries[name]
        probe = bench._window_probe(CPUS)
        # noop-sink trials: computation only (every column of every row
        # computed JVM-side, nothing shipped to Python)
        noop_best = None
        for t in range(trials):
            spark.sparkContext.setJobDescription(f"{name} noop trial {t}")
            t0 = time.monotonic()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            noop_best = dt if noop_best is None else min(noop_best, dt)
            del df
            import gc

            gc.collect()
        # one collect trial (the bench.py-comparable wall) — after the noop
        # trials so caches/JIT are warm the same way bench.py's best-of-N is
        spark.sparkContext.setJobDescription(f"{name} collect trial")
        t0 = time.monotonic()
        df = fn(spark, SF_DIR)
        nrows = len(df.collect())
        collect_wall = time.monotonic() - t0
        _dump_plan(df, name, tag)
        del df
        import gc

        gc.collect()
        spark.sparkContext.setJobDescription(None)
        post = bench._window_probe(CPUS)
        out[name] = {
            "noop_sec": round(noop_best, 3),
            "collect_sec": round(collect_wall, 3),
            "rows": nrows,
            "probe_pre": probe,
            "probe_post": post,
        }
        print(json.dumps({name: out[name]}), flush=True)
    return out


def parse_args(argv):
    """argv → (query names, tag, trials). ``--trials`` below 1 is rejected
    here: measure() needs at least one noop trial for its best time."""
    args = list(argv)
    tag = "before"
    trials = 3
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        del args[i : i + 2]
    if "--trials" in args:
        i = args.index("--trials")
        trials = int(args[i + 1])
        del args[i : i + 2]
    if trials < 1:
        raise SystemExit(f"bench_extra.py: --trials must be at least 1, got {trials}")
    return args, tag, trials


def main() -> None:
    args, tag, trials = parse_args(sys.argv[1:])

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    names = args or [n for n in bench.HEADLINE]
    spark = bench.make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    bench.warm_python_workers(spark, CPUS)
    res = measure(spark, queries, names, tag, trials)
    print(json.dumps({"tag": tag, "sf": SF_DIR, "cpus": CPUS, "results": res}))


if __name__ == "__main__":
    main()
