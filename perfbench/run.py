#!/usr/bin/env python3
"""Benchmark of the warehouse engine: the workloads, end-to-end and
per-layer metrics that ``BENCHMARK.json`` lists.

One workload in one fresh process (the command BENCHMARK.json declares)::

    python3 perfbench/run.py --workload bi_suite --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: with ``--trace 0`` every end-to-end metric,
with ``--trace 1`` every per-layer metric.  The full
result (stamps, per-pass numbers, checks, span summary) goes to a fresh
directory under ``.bench_runs/`` in the checkout, and spans to
``spans.json`` beside it.  A failed output check makes the exit code 1.

Every workload, untraced and traced, with a summary table and the
tracing overhead::

    python3 perfbench/run.py --all --seed 1

A seconds-long smoke of every workload at tiny scale (checks and
tracer included)::

    python3 perfbench/run.py --smoke

Compare two results (refused when their environment stamps differ)::

    python3 perfbench/run.py --compare A/result.json B/result.json
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

import common
import metrics


def process_age_s() -> float:
    """Seconds since this process started (kernel clock, 10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def run_one(args, spec) -> int:
    run_dir = common.new_run_dir(f"{args.workload}-seed{args.seed}-trace{args.trace}")
    common.prepare_process(run_dir)
    # a checkout without the package fails here, before any output
    from data_warehouse_morrocan_banks_spark.session import get_spark

    import workloads

    scale = workloads.SCALES[args.scale][args.workload]
    w = workloads.WORKLOADS[args.workload](run_dir, args.seed, scale)
    # the inputs are the benchmark's, not the program's: written before
    # the session starts and left out of setup_s
    t0 = time.perf_counter()
    w.prepare(os.path.join(run_dir, "data", "input"))
    prepare_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return _measure(args, spec, spark, w, run_dir, prepare_s, session_s)
    finally:
        common.stop_spark(spark)
        shutil.rmtree(os.path.join(run_dir, "data"), ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)


def _measure(args, spec, spark, w, run_dir, prepare_s, session_s) -> int:
    from data_warehouse_morrocan_banks_spark.plans.stage_metrics import executors_storage_mb

    from spans import Tracer

    tracer = Tracer(spark) if args.trace else None
    stamp = {"environment": {**common.environment_stamp(spark, run_dir),
                             "workload": args.workload, "scale": args.scale,
                             "scale_params": w.scale, "seconds": args.seconds,
                             "trace": args.trace},
             "seed": args.seed, "inputs": w.inputs}
    t0 = time.perf_counter()
    w.load(spark, tracer)
    load_s = time.perf_counter() - t0
    if tracer is not None:
        w.install()

    attempted, failures = 0, []
    t0 = time.perf_counter()
    try:
        with (tracer.span("warm") if tracer else contextlib.nullcontext()):
            n, fails = w.warm()
        attempted += n
        failures += [f"warm: {f}" for f in fails]
    except Exception:
        attempted += 1
        failures.append("warm pass raised: " + traceback.format_exc(limit=4))
    warm_s = time.perf_counter() - t0
    # process start to the first timed pass, less the input generation
    setup_s = process_age_s() - prepare_s
    setup = {"setup_s": setup_s, "prepare_s_excluded": prepare_s,
             "get_spark_s": session_s, "load_s": load_s, "warm_pass_s": warm_s}

    passes, ops = [], []
    t_window = time.perf_counter()
    for i in range(w.passes_for(args.seconds)):
        if failures:
            break
        before = common.stage_snapshot(spark)
        t0 = time.perf_counter()
        try:
            with (tracer.span("pass", index=i) if tracer else contextlib.nullcontext()) as ps:
                lat = w.run_pass(i)
        except Exception:
            attempted += 1
            failures.append(f"pass {i} raised: " + traceback.format_exc(limit=4))
            break
        wall = time.perf_counter() - t0
        d = common.exec_delta(before, common.stage_snapshot(spark))
        n, fails = w.check_pass(i)
        attempted += len(lat) + n
        failures += [f"pass {i}: {f}" for f in fails]
        ops.append(lat)
        p = {"wall_s": wall, "ops": len(lat), "exec": d, "stored_mb": w.stored_mb(i),
             "storage_mb": executors_storage_mb(spark)}
        if tracer is not None:
            p["layers"] = w.layers(ps, i)
            p["reconcile"] = tracer.reconcile(ps)
            p["self_s"] = tracer.self_by_name(ps)
            p["pin_s"] = sum(tracer.busy(s) for s in tracer.subtree(ps)
                             if s.name == "operators.lifecycle.pin")
        passes.append(p)
    window_s = time.perf_counter() - t_window
    heap = common.live_heap_mb(spark) if passes else None
    rss = common.peak_rss_mb(common.jvm_pid(spark))

    med = lambda key: common.median([p[key] for p in passes])  # noqa: E731
    cpus = [p["exec"]["cpu_s"] if p["exec"] else None for p in passes]
    tail = common.tail(ops)
    e2e = {
        "setup_s": setup_s,
        "wall_s": med("wall_s"),
        "cpu_s": None if None in cpus else common.median(cpus),
        "op_p50_s": common.median([x for lat in ops for x in lat]),
        "op_tail_s": tail["value"],
        "heap_live_mb": heap,
        "stored_mb": med("stored_mb"),
        # reported in result.json, not in BENCHMARK.json (see README)
        "peak_rss_mb": rss,
    }
    result = {"stamp": stamp, "setup": setup, "window_s": window_s, "passes": passes,
              "op_latencies_s": ops, "op_tail": tail, "end_to_end": e2e,
              "checks": {"attempted": attempted, "failed": len(failures),
                         "failures": failures,
                         "failed_ratio": len(failures) / max(attempted, 1)},
              "workload_detail": w.detail() if passes else {}}
    if tracer is not None and passes:
        result["per_layer"] = layer_metrics(passes, session_s, warm_s)
        result["reconcile_ok"] = all(p["reconcile"]["ok"] for p in passes)
        common.write_json(os.path.join(run_dir, "spans.json"), tracer.dump())
        tracer.unwrap()
    names = spec["per_layer"] if tracer is not None else spec["end_to_end"]
    values = result.get("per_layer", {}) if tracer is not None else e2e
    out = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]} for m in names}
    path = os.path.join(run_dir, "result.json")
    common.write_json(path, result)
    for name, m in out.items():
        print(f"{args.workload}  {name:<45} {_fmt(m['value']):>14} {m['unit']}")
    for f in failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    print(f"result_file: {path}")
    print(json.dumps({"correct": not failures, "attempted": max(attempted, 1),
                      "failed": len(failures), "metrics": out}))
    if failures:
        return 1
    missing = [k for k, m in out.items() if m["value"] is None]
    if missing:
        print(f"missing instrumentation (null, not zero): {missing}", file=sys.stderr)
        return 3
    return 0


def layer_metrics(passes, session_s, warm_s) -> dict:
    """Median over passes of each per-layer number; 0 for layers the
    workload never calls."""
    per_pass = []
    for p in passes:
        x = {k: 0 for k in metrics.LAYER_MAP}
        d = p["exec"] or {}
        x.update({f"exec.{k}": d.get(k) for k in
                  ("stages", "tasks", "run_s", "gc_s", "shuffle_read_mb",
                   "shuffle_write_mb", "spill_mb")})
        x["operators.lifecycle.pin_s"] = p["pin_s"]
        x["operators.lifecycle.storage_mb"] = p["storage_mb"]
        x["trace.overhead_s"] = p["reconcile"]["overhead_s"]
        x.update(p["layers"])
        per_pass.append(x)
    out = {}
    for k in metrics.LAYER_MAP:
        vals = [x[k] for x in per_pass]
        out[k] = None if None in vals else common.median(vals)
    out["session.start_s"] = session_s
    out["session.warm_pass_s"] = warm_s
    return out


def _fmt(v) -> str:
    return "null" if v is None else f"{v:.6g}"


# --- one command for every workload ------------------------------------

def run_all(args, spec) -> int:
    """Each workload untraced, then traced, each in a fresh process."""
    here = os.path.abspath(__file__)
    results, rc = {}, 0
    seconds = 1 if args.smoke else args.seconds
    scale = "smoke" if args.smoke else args.scale
    for name in (wl["name"] for wl in spec["workloads"]):
        for trace in ((1,) if args.smoke else (0, 1)):
            cmd = [sys.executable, here, "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(seconds), "--trace", str(trace), "--scale", scale]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            path = next((ln.split(": ", 1)[1] for ln in lines
                         if ln.startswith("result_file: ")), None)
            if proc.returncode != 0 or path is None:
                rc = 1
                print(f"{name} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            if path:
                with open(path) as fh:
                    results[(name, trace)] = json.load(fh)
    _print_report(spec, results, traced_only=args.smoke)
    if args.smoke:
        rc = rc or _smoke_checks(spec, results)
    return rc


def _print_report(spec, results, traced_only: bool) -> None:
    names = [wl["name"] for wl in spec["workloads"]]
    print("\n== checks")
    for (name, trace), r in sorted(results.items()):
        c = r["checks"]
        print(f"{name:<16} trace={trace}  attempted={c['attempted']} failed={c['failed']} "
              f"failed_ratio={c['failed_ratio']:.4g}")
    if not traced_only:
        print("\n== end to end (untraced)")
        print(f"{'metric':<14}{'unit':<8}" + "".join(f"{n:>18}" for n in names))
        for m in spec["end_to_end"]:
            vals = [results.get((n, 0), {}).get("end_to_end", {}).get(m["name"])
                    for n in names]
            print(f"{m['name']:<14}{m['unit']:<8}" + "".join(f"{_fmt(v):>18}" for v in vals))
        # in result.json but not in BENCHMARK.json (see README)
        extra = {"failed_ratio": ("ratio", lambda r: r["checks"]["failed_ratio"]),
                 "peak_rss_mb": ("MB", lambda r: r["end_to_end"]["peak_rss_mb"])}
        for m, (unit, get) in extra.items():
            vals = [get(results[(n, 0)]) if (n, 0) in results else None for n in names]
            print(f"{m:<14}{unit:<8}" + "".join(f"{_fmt(v):>18}" for v in vals))
        for n in names:
            t = results.get((n, 0), {}).get("op_tail")
            if t:
                print(f"  {n} op_tail_s: p{t['percentile']} of {t['n']} samples"
                      f"{'' if t['rule_met'] else ' (fewer than 100: median of pass maxima)'}")
    print("\n== per layer (traced; per pass unless named otherwise)")
    print(f"{'metric':<44}{'unit':<7}" + "".join(f"{n:>17}" for n in names)
          + "  moves / on / bypass")
    for m in spec["per_layer"]:
        moves, on, bypass = metrics.LAYER_MAP[m["name"]]
        vals = [results.get((n, 1), {}).get("per_layer", {}).get(m["name"]) for n in names]
        print(f"{m['name']:<44}{m['unit']:<7}" + "".join(f"{_fmt(v):>17}" for v in vals)
              + f"  {moves} / {on} / {bypass or '-'}")
    print("\n== tracing overhead")
    for n in names:
        tr = results.get((n, 1))
        if not tr or not tr["passes"]:
            continue
        traced = tr["end_to_end"]["wall_s"]
        inner = tr["per_layer"]["trace.overhead_s"]
        line = f"{n:<16} traced wall_s={traced:.4g}  tracer time inside a pass={inner:.4g}s"
        un = results.get((n, 0))
        if un and un["passes"]:
            line += f"  traced - untraced wall_s={traced - un['end_to_end']['wall_s']:+.4g}s"
        rec = [p["reconcile"] for p in tr["passes"]]
        line += (f"  self-time sum vs pass wall: max |err|="
                 f"{max(r['abs_err_s'] for r in rec):.2g}s "
                 f"(tolerance 0.1% of pass wall) {'ok' if tr['reconcile_ok'] else 'FAILED'}")
        print(line)


def _smoke_checks(spec, results) -> int:
    """The smoke fails on anything that would make a real run useless."""
    problems = []
    for name in (wl["name"] for wl in spec["workloads"]):
        r = results.get((name, 1))
        if r is None:
            problems.append(f"{name}: no result")
            continue
        if r["checks"]["failed"]:
            problems.append(f"{name}: checks failed {r['checks']['failures']}")
        if not r.get("reconcile_ok"):
            problems.append(f"{name}: span self times do not add up to pass wall")
        nulls = [k for k, v in r.get("per_layer", {}).items() if v is None]
        if nulls:
            problems.append(f"{name}: null per-layer metrics {nulls}")
        nulls = [k for k, v in r["end_to_end"].items() if v is None]
        if nulls:
            problems.append(f"{name}: null end-to-end metrics {nulls}")
    for p in problems:
        print(f"SMOKE FAILED: {p}")
    if not problems:
        print("smoke ok")
    return 1 if problems else 0


def compare(a_path: str, b_path: str) -> int:
    with open(a_path) as fh:
        a = json.load(fh)
    with open(b_path) as fh:
        b = json.load(fh)
    ea, eb = a["stamp"]["environment"], b["stamp"]["environment"]
    diff = sorted(k for k in set(ea) | set(eb) if ea.get(k) != eb.get(k))
    if diff:
        print(f"refusing to compare: environment stamps differ in {diff}")
        for k in diff:
            print(f"  {k}: {ea.get(k)!r} vs {eb.get(k)!r}")
        return 2
    print(f"seeds: {a['stamp']['seed']} vs {b['stamp']['seed']}")
    for key in ("end_to_end", "per_layer"):
        for m, va in a.get(key, {}).items():
            vb = b.get(key, {}).get(m)
            ratio = f"{vb / va:.3f}x" if va and vb is not None else "-"
            print(f"{m:<45} {_fmt(va):>14} {_fmt(vb):>14} {ratio:>9}")
    return 0


def main(argv=None) -> int:
    spec = metrics.spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[wl["name"] for wl in spec["workloads"]])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("run", "smoke"), default="run")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--compare", nargs=2, metavar="RESULT")
    args = ap.parse_args(argv)
    if args.compare:
        return compare(*args.compare)
    if args.all or args.smoke:
        return run_all(args, spec)
    if not args.workload:
        ap.error("--workload, --all, --smoke or --compare is required")
    return run_one(args, spec)


if __name__ == "__main__":
    sys.exit(main())
