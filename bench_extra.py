"""Per-query isolation bench (guide §1.1/§1.4) — NOT the driver contract.

Times individual ``__spark_entry__.queries()`` entries with the same
methodology as the frozen ``bench.py`` (build + ``.count()`` inside the
timed region, local[$SPARK_GRAFT_CPUS], $SPARK_GRAFT_SF_DIR) so isolated
numbers are comparable to the driver's per-query timings, and can
additionally:

  * ``--noop``    time a ``noop``-sink write instead of ``.count()``
                  (forces every column of every row; guide §1.4)
  * ``--explain`` dump ``.explain('formatted')`` to a file (for
                  ``plans/r06/<query>_{before,after}.txt``)
  * ``--repeat``  run each timing N times and report all samples

Usage:
  python bench_extra.py q1 [q2 ...] [--noop] [--repeat N]
                        [--explain-dir plans/r06 --tag before]
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

if "PYSPARK_SUBMIT_ARGS" not in os.environ and "SPARK_SUBMIT_OPTS" not in os.environ:
    _mem = os.environ.get("MAGA_SPARK_DRIVER_MEM", "8g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {_mem} pyspark-shell"

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--noop", action="store_true", help="noop-sink write instead of .count()")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--tag", default="before", help="suffix for explain files")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from maga_spark.session import get_spark

    spark = get_spark(app_name="maga_spark_bench_extra", master=f"local[{CPUS}]")
    qs = entrymod.queries()
    out: dict[str, list[float]] = {}
    for name in args.queries:
        if name not in qs:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            path = os.path.join(args.explain_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as f, contextlib.redirect_stdout(f):
                qs[name](spark, SF_DIR).explain(mode="formatted")
        samples = []
        for _ in range(args.repeat):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            samples.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = samples
    print(json.dumps({"sf": SF_DIR, "noop": args.noop, "timings": out}))
    spark.stop()


if __name__ == "__main__":
    main()
