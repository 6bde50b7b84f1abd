"""Query-suite workload: a closed loop of ``queries()[name](spark, sf).count()``.

The suite is a fixed 6-query subset of bench.py's 65-query list over the
vendored sf0.01 tables (``data/sf0.01``), run in seeded order. It holds the
queries the roadmap's query work targets (corpus_export, corpus_curate,
repeated_ngrams, containment_from_index, decontaminate) plus TPC-H Q1 for
the analytics family. A cold pass over all 65 takes ~90 s on 4 cores, which
the per-run time budget cannot hold.

The measured pass is cold, as in a batch job that starts a fresh driver:
it includes the JVM's and the codegen cache's first-use costs. Every count
is checked against the stored reference, and after the window the result
of every query (the DataFrame the pass counted) is checked by row count and
digest.
"""

from __future__ import annotations

import json
import os
import random

from common import CACHE, HERE, Clock, median, peak_rss_mb, start_spark
from oracle import df_digest, query_failures

QUERIES = [
    "tpch_q1",
    "corpus_curate",
    "containment_from_index",
    "decontaminate",
    "repeated_ngrams",
    "corpus_export",
]
SUITE_NOMINAL_S = 25.0  # one measured pass per SUITE_NOMINAL_S of --seconds


def sf_dir(smoke: bool) -> str:
    return os.path.join(HERE, "data", "sf0.001" if smoke else "sf0.01")


def load_refs(sf: str) -> dict:
    with open(os.path.join(HERE, "query_refs.json")) as fh:
        return json.load(fh)[os.path.basename(sf)]


def run(workload: str, seed: int, seconds: float, trace: bool, smoke: bool) -> dict:
    import __spark_entry__ as entry

    sf = sf_dir(smoke)
    refs = load_refs(sf)
    rng = random.Random(seed)
    passes = max(1, round(seconds / SUITE_NOMINAL_S))
    order = [n for _ in range(passes) for n in rng.sample(QUERIES, len(QUERIES))]

    from tracing import Codegen, Tracer, eventlog_conf

    tracer = Tracer(workload) if trace else None
    log_dir = os.path.join(CACHE, "eventlog", tracer.run_id) if trace else None

    setup = Clock()
    spark = start_spark(f"perfbench_{workload}", eventlog_conf(log_dir) if trace else None)
    qs = entry.queries()
    setup_s, s0, s1 = setup.stop()
    if trace:
        tracer.call("setup", "setup", s0, s1)

    codegen = Codegen(spark) if trace else None
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    op_s = []
    bad: dict[str, list[str]] = {name: [] for name in QUERIES}
    results = {}
    window = Clock()
    for name in order:
        if trace:
            cg0, rdd0 = codegen.read(), int(persisted().size())
        c = Clock()
        try:
            df = qs[name](spark, sf)
            b_s, b0, b1 = c.stop()
            c2 = Clock()
            n = df.count()
            c_s, c0, c1 = c2.stop()
        except Exception as exc:  # a failing query is counted, the suite goes on
            bad[name].append(f"{type(exc).__name__}: {str(exc)[:200]}")
            continue
        op_s.append(b_s + c_s)
        results[name] = df
        bad[name] = bad[name] + query_failures(refs.get(name), n, None)
        if trace:
            cg1 = codegen.read()
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = {}
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                phases[kv._1()] = float(kv._2().durationMs())
            tracer.call(f"{name} build", "build", b0, b1, query=name)
            tracer.call(
                f"{name} count",
                "count",
                c0,
                c1,
                query=name,
                build_s=b_s,
                codegen_compiles=cg1[0] - cg0[0],
                codegen_s=cg1[1] - cg0[1],
                leaked_rdds=int(persisted().size()) - rdd0,
                **{f"{k}_ms": v for k, v in phases.items()},
            )
    window_s = window.stop()[0]

    # ---- digest check (untimed) of every query ----
    for name, df in results.items():
        if not bad[name]:
            try:
                got = df_digest(df)
                bad[name] = query_failures(refs.get(name), got["rows"], got)
            except Exception as exc:
                bad[name] = [f"{type(exc).__name__}: {str(exc)[:200]}"]
    failures = [f"{name}: {'; '.join(msgs)}" for name, msgs in bad.items() if msgs]
    rss = peak_rss_mb(spark)
    layers = {}
    if trace:
        import bench

        layers["spark.control_s"] = bench.control_sec(spark)
    spark.stop()

    e2e = {
        "setup_s": (setup_s, "s"),
        "window_s": (window_s, "s"),
    }
    info = {
        "peak_rss_mb": (rss, "MB"),
        "suite_s": (window_s, "s"),
        "query_s_p50": (median(op_s), "s", len(op_s)),
    }
    if trace:
        layers.update(suite_layers(tracer, log_dir))
    return {
        "attempted": len(order),
        "failures": failures,
        "e2e": e2e,
        "info": info,
        "layers": layers,
        "tracer": tracer,
    }


def suite_layers(tracer, log_dir) -> dict:
    from tracing import interval_stats, read_event_log

    events = read_event_log(log_dir)
    tracer.attach_events(events)
    counts = tracer.calls("count")
    per = [interval_stats(events, b["start"], c["end"]) for b, c in zip(tracer.calls("build"), counts)]
    out = {
        "query.build_s": sum(s["attrs"]["build_s"] for s in counts),
        "query.count_s": sum(s["end"] - s["start"] for s in counts),
        "query.analysis_ms": sum(s["attrs"].get("analysis_ms", 0.0) for s in counts),
        "query.optimization_ms": sum(s["attrs"].get("optimization_ms", 0.0) for s in counts),
        "query.planning_ms": sum(s["attrs"].get("planning_ms", 0.0) for s in counts),
        "query.codegen_compiles": float(sum(s["attrs"]["codegen_compiles"] for s in counts)),
        "query.codegen_compile_s": sum(s["attrs"]["codegen_s"] for s in counts),
        "query.jobs": float(sum(x["jobs"] for x in per)),
        "query.executor_cpu_s": sum(x["cpu_s"] for x in per),
        "query.shuffle_write_mb": sum(x["shuffle_write_mb"] for x in per),
        "query.leaked_rdds": float(sum(s["attrs"]["leaked_rdds"] for s in counts)),
    }
    for name in QUERIES:
        mine = [s for s in counts if s["attrs"]["query"] == name]
        out[f"query.{name}_s"] = median([s["attrs"]["build_s"] + s["end"] - s["start"] for s in mine])
        out[f"query.{name}.codegen_compiles"] = median([s["attrs"]["codegen_compiles"] for s in mine])
    return out
