"""Seen-path backend throughput A/B at 16M: exact vs the cuckoo-filter
prefilter (VERDICT r3 item 2).

Same fixture/protocol as tools/bench_scaling.py but at local[32], one
warm-up epoch untimed, 3 measured epochs, the seen modes interleaved
REPEATS times; best run per mode scored. Appends a JSON line per run to
stdout and a summary table to BENCH.md (a "## Seen-path backends" section).

Usage: python tools/bench_seen.py [--quick] [--modes exact,cuckoo]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench_scaling import SCALING_ENV, make_pyfiles_zip  # noqa: E402  (same protocol)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 32
REPEATS = 2


def run_one(seen_mode: str, zpath: str, env_extra: dict) -> dict:
    env = dict(os.environ)
    env.update(env_extra)
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    env["PYTHONPATH"] = REPO
    env["MAGA_BENCH_SEEN_MODE"] = seen_mode
    cmd = [
        "spark-submit",
        "--master",
        f"local[{CPUS}]",
        "--driver-memory",
        "56g",
        "--conf",
        f"spark.sql.shuffle.partitions={CPUS * 2}",
        "--py-files",
        zpath,
        os.path.join(REPO, "bench.py"),
    ]
    out = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=1800)
    for line in reversed(out.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no JSON ({seen_mode}):\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def main() -> None:
    env_extra = dict(SCALING_ENV)
    if "--quick" in sys.argv:
        env_extra.update(
            {"MAGA_BENCH_URLS": "150000", "MAGA_BENCH_GLOBAL_K": "40000", "MAGA_BENCH_SEEDS": "30000"}
        )
    # cuckoo: 2^18 buckets × 4 slots ≈ 0.48 load at 500k keys/shard
    env_extra["MAGA_BENCH_CUCKOO_NBUCKETS"] = str(1 << 18)
    modes = ["exact", "cuckoo"]
    if "--modes" in sys.argv:
        i = sys.argv.index("--modes")
        if i + 1 >= len(sys.argv):
            raise SystemExit("usage: bench_seen.py [--quick] [--modes exact,cuckoo]")
        modes = sys.argv[i + 1].split(",")
    zpath = make_pyfiles_zip()
    env = dict(os.environ)
    env.update(env_extra)
    env["PYTHONPATH"] = REPO
    subprocess.run(
        [
            sys.executable,
            "-c",
            "import os,sys; sys.path.insert(0, os.environ['PYTHONPATH']);"
            "import bench; bench.bench_fixture_dir(int(os.environ['MAGA_BENCH_URLS']))",
        ],
        env=env,
        check=True,
        timeout=1800,
    )

    runs: dict[str, list[dict]] = {m: [] for m in modes}
    for _rep in range(REPEATS):
        for mode in modes:
            r = run_one(mode, zpath, env_extra)
            print(json.dumps({"mode": mode, **r}), flush=True)
            runs[mode].append(r)
    best = {m: max(rs, key=lambda r: r["value"]) for m, rs in runs.items()}
    rows = "\n".join(
        f"| {m} run{j + 1} | {r['scheduled'] + r['fetched_valid']} | "
        f"{r['queries']['crawl_frontier']} | {r['value']} |"
        for m in modes
        for j, r in enumerate(runs[m])
    )
    ratios = "; ".join(
        f"**{m} / exact throughput = {best[m]['value'] / best['exact']['value']:.3f}**"
        for m in modes
        if m != "exact" and "exact" in best
    )
    md = f"""
## Seen-path backends ({env_extra['MAGA_BENCH_URLS']} URLs, local[{CPUS}], best of {REPEATS} interleaved)

Same job, same input, `seen_mode` the only difference (results bit-equal —
tests/test_cuckoo.py, tests/test_parity.py). Cuckoo = executor-side
shard-cogroup probe over incremental fingerprint tables
(nbuckets={env_extra['MAGA_BENCH_CUCKOO_NBUCKETS']}×4 slots/shard), deletion-capable.

| run | URLs scheduled+fetched | wall (s) | throughput (urls/s) |
| --- | --- | --- | --- |
{rows}

{ratios} (the prefilter must not cost more than it saves at this scale).
"""
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write(md)
    print(md)


if __name__ == "__main__":
    main()
