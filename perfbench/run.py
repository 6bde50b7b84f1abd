"""maga_spark benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the root of a checkout. Workloads: ``crawl_recrawl`` and
``query_suite`` (BENCHMARK.json says why each is there), and
``crawl_steady``, the same crawl on the exact seen set without expiry.
BENCHMARK.json leaves crawl_steady out: its runs do not fit the
benchmark's time budget beside the other two, and every layer it runs is
also run by crawl_recrawl. One driver process on ``local[4]``, one client
in a closed loop: each epoch, expiry call or query starts when the
previous one has returned.

Every line but the last is ``metric <name> <value> <unit>`` or a note. The
last line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` - the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1`` (a traced run enables Spark's
event log and also writes spans under ``.bench_cache/perfbench/trace``).
A per-layer metric of a layer the workload does not run reads 0. A traced
run also prints ``trace_overhead_s``: its window minus the median window
of the untraced runs of the same workload, seed and program source
(recorded under ``.bench_cache/perfbench/results``), so run the same seed
untraced first.

``--smoke`` shrinks every workload (a 2000-URL crawl fixture, the sf0.001
tables) for the benchmark's own tests (``python3 -m pytest perfbench/tests``).

``interactions.json`` says which per-layer metric should move which
end-to-end metric on which workload; ``baseline.json`` holds the figures of
the commit that introduced the benchmark, on a 4-core box.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_steady", "crawl_recrawl", "query_suite")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    missing = [p for p in ("maga_spark", "__spark_entry__.py", "bench.py") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not in {ROOT} (missing {', '.join(missing)})", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from common import CACHE, median, prepare_env, source_digest, stop_processes

    prepare_env()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    if args.workload == "query_suite":
        import suite as module
    else:
        import crawl as module
    try:
        r = module.run(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke)
    finally:
        # on every way out: no JVM or Python worker outlives the run
        stop_processes()

    failed = len(r["failures"])
    for f in r["failures"]:
        print(f"FAILED {f}")
    for name, (value, unit, *n) in {**r["e2e"], **r["info"]}.items():
        print(f"metric {name} {value:.6g} {unit}" + (f" (n={n[0]})" if n else ""))
    print(f"metric error_rate {failed / r['attempted']:.6g} ratio (n={r['attempted']})")

    tag = f"{args.workload}{'_smoke' if args.smoke else ''}_{args.seconds:g}s"
    # untraced windows of this program source, for the tracing overhead
    results = os.path.join(CACHE, "results", f"{tag}_{source_digest()}.jsonl")
    if args.trace:
        metrics = {
            m["name"]: {"value": float(r["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
        for name, m in metrics.items():
            print(f"metric {name} {m['value']:.6g} {m['unit']}")
        tracer = r["tracer"]
        untraced = []
        if os.path.exists(results):
            with open(results) as fh:
                untraced = [x["window_s"] for x in map(json.loads, fh) if x["seed"] == args.seed]
        overhead = r["e2e"]["window_s"][0] - median(untraced) if untraced else None
        print(
            "trace_overhead_s "
            + (
                f"{overhead:.6g} s (traced window minus the median of {len(untraced)} untraced runs of this seed and source)"
                if untraced
                else "n/a (no untraced run of this seed and source yet)"
            )
        )
        out = os.path.join(CACHE, "trace", f"{tag}_{tracer.run_id}")
        tracer.write(out + "_spans.jsonl")
        with open(out + "_layers.json", "w") as fh:
            json.dump({"layers": metrics, "trace_overhead_s": overhead, "seed": args.seed}, fh, indent=1)
        print(f"spans {os.path.relpath(out, ROOT)}_spans.jsonl")
        shutil.rmtree(os.path.join(CACHE, "eventlog", tracer.run_id), ignore_errors=True)
    else:
        metrics = {
            m["name"]: {"value": float(r["e2e"][m["name"]][0]), "unit": m["unit"]} for m in spec["end_to_end"]
        }
        os.makedirs(os.path.dirname(results), exist_ok=True)
        with open(results, "a") as fh:
            fh.write(json.dumps({"seed": args.seed, "window_s": r["e2e"]["window_s"][0]}) + "\n")
    print(json.dumps({"correct": failed == 0, "attempted": r["attempted"], "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
