#!/usr/bin/env python3
"""Host-local benchmark of the tantivy_spark engine.

    python3 perfbench/run.py --workload build_serve --seed 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10
    python3 perfbench/run.py --workload all --smoke   # minimal-size self-test

Run from the root of a checkout.  One run generates its inputs from
`--seed`, runs one workload against the engine in this checkout, checks the
answers, and prints a report followed by one JSON line:
`{"correct", "attempted", "failed", "metrics"}`.  With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json; with `--trace 1` they
are the per-layer metrics, and the run's spans are written to
`.perfbench_out/`.  The exit code is 0 only when every check passed.

`--workload all` runs every workload, each in its own process, and prints
every named metric of every workload.  Everything a run writes stays under
`.perfbench_work/` (removed at the end) and `.perfbench_out/`.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEM = "2g"
WORKLOAD_NAMES = ("build_serve", "ingest_serve")

PER_LAYER = {
    "session.job_floor_ms": "ms",
    "build.plan_s": "s",
    "build.split_job_s": "s",
    "build.finish_s": "s",
    "build.tasks": "count",
    "build.tasks_failed": "count",
    "build.split_docs_max_over_median": "ratio",
    "arrow_tokenize.busy_s_per_mb": "s/MB",
    "blocks.encode_busy_s_per_mb": "s/MB",
    "build.encode_self_s_per_mb": "s/MB",
    "build.rank_code_s_per_mb": "s/MB",
    "build.write_busy_s_per_mb": "s/MB",
    "search.doc_freqs_ms": "ms",
    "search.kernel_job_ms": "ms",
    "search.jobs_per_query": "count",
    "search.tasks_per_query": "count",
    "search.segment_load_ms": "ms",
    "kernel.batch_eval_ms": "ms",
    "search.batch_job_ms": "ms",
    "kernel.topk_ms": "ms",
    "blocks.decode_ms": "ms",
    "serve.search_self_ms": "ms",
    "serve.expand_ms": "ms",
    "serve.load_terms_ms": "ms",
    "serve.load_terms_calls": "count",
    "serve.term_cache_hit_ratio": "ratio",
    "serve.shared_reader_errors": "count",
    "serve.reload_ms": "ms",
    "serve.reload_terms_dropped": "count",
    "serve.post_reload_load_terms_ms": "ms",
    "serve.live_segments": "count",
    "iceberg.write_table_s": "s",
    "iceberg.sync_index_s": "s",
    "incremental.append_s": "s",
    "merge.delete_query_s": "s",
    "merge.merge_segments_s": "s",
    "merge.segments_in": "count",
    "trace.top_coverage": "ratio",
    "trace.overhead_pct": "%",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="minimal sizes: checks the benchmark itself")
    args = p.parse_args(argv)
    if args.seconds is None:
        args.seconds = 1 if args.smoke else 10
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tantivy_spark")):
        print(f"perfbench: no tantivy_spark package in {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import host
    from tracer import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    t_start = tracer.t0
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host.configure_env(ROOT, work, CORES, DRIVER_MEM)
    os.chdir(work)  # stray files of Spark land in the work dir
    try:
        with tracer.span("import"):
            import workloads as W
            import tantivy_spark.operators.build  # noqa: F401
        env = host.envelope(ROOT, CORES, DRIVER_MEM)
        env["loadavg_before"] = host.loadavg()
        steal0 = host.cpu_steal()
        ctx = W.Ctx(args.seed, args.seconds, bool(args.trace), work,
                    W.SMOKE if args.smoke else W.FULL, tracer)
        if args.trace:
            W.instrument_engine(tracer)
        try:
            W.WORKLOADS[args.workload](ctx)
        except Exception:  # noqa: BLE001 - reported as a failed operation
            ctx.attempted += 1
            ctx.failed += 1
            ctx.failures.append(traceback.format_exc())
        finally:
            host.shutdown_jvm()
        t_end = time.perf_counter()
        tracer.restore()
        env["loadavg_after"] = host.loadavg()
        steal1 = host.cpu_steal()
        env["cpu_steal_pct"] = round(100.0 * (steal1[0] - steal0[0]) / max(
            steal1[1] - steal0[1], 1), 2)
        env["mem_available_after_mb"] = round(host.meminfo_available_mb(), 1)
        return emit(args, ctx, env, tracer, t_start, t_end)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))


def emit(args, ctx, env, tracer, t_start: float, t_end: float) -> int:
    import host
    from workloads import UNITS as END_TO_END

    correct = ctx.failed == 0 and bool(ctx.e2e)
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "smoke": args.smoke,
        "envelope": env, "wall_s": t_end - t_start,
        "end_to_end": {k: {"value": v, "unit": u}
                       for k, (v, u) in ctx.e2e.items()},
        "report": {k: {"value": v, "unit": u}
                   for k, (v, u) in ctx.report.items()},
        "phases": tracer.top_level_totals(),
        "records": ctx.records, "spark_counts": ctx.spark_counts,
        "cpu_s": ctx.cpu,
        "attempted": ctx.attempted, "failed": ctx.failed,
        "failures": ctx.failures,
    }
    if args.trace:
        layers = {k: 0.0 for k in PER_LAYER}
        layers.update(ctx.layers)
        layers["trace.top_coverage"] = tracer.top_level_coverage(
            t_start, t_end)
        record["layers"] = layers
        record["layer_table"] = tracer.table(ctx.measure_spans)
        record["spans"] = tracer.dump()
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": ctx.e2e[k][0], "unit": u}
                   for k, u in END_TO_END.items() if k in ctx.e2e}
    out = os.path.join(ROOT, ".perfbench_out",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}"
                       f"{'-smoke' if args.smoke else ''}.json")
    host.dump(out, record)

    for f in ctx.failures:
        print("# FAILED " + f.replace("\n", "\n#   "))
    print(f"# workload {args.workload} seed {args.seed} "
          f"wall {t_end - t_start:.1f} s  nproc {env['nproc']}  "
          f"mem_available {env['mem_available_mb']:.0f} MB  load "
          f"{env['loadavg_before']} -> {env['loadavg_after']}  "
          f"steal {env['cpu_steal_pct']}%")
    print("# phases (s): " + "  ".join(
        f"{k} {v:.2f}" for k, v in record["phases"].items()))
    for k, (v, u) in ctx.report.items():
        print(f"# {k:28s} {v:14.4f} {u}")
    quantiles = ("q1", "q3", "p75", "p90", "p95", "p99")
    for k, s in ctx.records.items():
        if isinstance(s, dict) and "median" in s:
            print(f"# {k:28s} median {s['median']:.4f}  n {s['n']}  "
                  + "  ".join(f"{q} {s[q]:.4f}" for q in quantiles if q in s))
    if args.trace:
        print("# layer table (measured phases): name  calls  total_s  self_s")
        for name, row in sorted(record["layer_table"].items()):
            print(f"#   {name:28s} {row['calls']:6d} {row['total_s']:10.4f} "
                  f"{row['self_s']:10.4f}")
    print("# report " + json.dumps(
        {"workload": args.workload,
         "metrics": {k: {"value": v, "unit": u}
                     for k, (v, u) in ctx.report.items()},
         "end_to_end": record["end_to_end"]}))
    print(json.dumps({"correct": correct, "attempted": max(ctx.attempted, 1),
                      "failed": ctx.failed, "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in its own process; prints every named metric."""
    ok = True
    attempted = failed = 0
    named: dict[str, dict] = {}
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--smoke"] if args.smoke
                                              else [])
        proc = subprocess.run(cmd, capture_output=True, text=True,
                              timeout=900)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            print(f"# {w}: no result (exit {proc.returncode})\n"
                  + proc.stderr[-2000:])
            ok = False
            continue
        print(f"# {w}: " + lines[-1])
        ok = ok and proc.returncode == 0 and res["correct"]
        attempted += res["attempted"]
        failed += res["failed"]
        for line in lines:
            if line.startswith("# report "):
                rep = json.loads(line[len("# report "):])
                named.update(rep["metrics"])
                named[f"{w}.setup_s"] = rep["end_to_end"].get(
                    "setup_s", {"value": float("nan"), "unit": "s"})
    named["ops_failed_ratio"] = {"value": failed / max(attempted, 1),
                                 "unit": "ratio"}
    print("# all workloads: named metrics")
    for k, m in named.items():
        print(f"# {k:28s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({"correct": ok, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": named}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
