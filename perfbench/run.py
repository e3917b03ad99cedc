#!/usr/bin/env python3
"""End-to-end TAQ pipeline benchmark of the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload graph_3d_k500 --seed 1 \
        --seconds 16 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py),
runs one workload in one JVM (graft.perfbench.Main: seeded inputs,
set-up, timed passes), checks the outputs against DuckDB
(perfbench/checks.py) and prints, as the last stdout line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. Everything it writes stays under .bench_build/. Exits 1
when an output check fails (after printing the result), 2 when the build
fails, 3 when the JVM fails. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import checks  # noqa: E402

WORKLOADS = ["daily_export_k100", "graph_3d_k500"]
LAYERS = ["sessions", "catalog", "relational", "time", "panel", "corr",
          "sinks", "flagship", "graph"]
LAYER_FIELDS = {"wall_s": "s", "self_s": "s", "cpu_s": "s", "gc_s": "s",
                "jobs": "count", "tasks": "count",
                "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
                "spill_bytes": "bytes", "task_skew": "ratio"}
LAYER_COUNTS = {"catalog.rows_read": "count", "catalog.bytes_read": "bytes",
                "relational.universe_rows": "count",
                "time.cells_out": "count", "corr.pair_updates": "count",
                "corr.windows": "count", "sinks.files": "count",
                "graph.edges": "count", "flagship.units_ok": "count",
                "flagship.units_failed": "count"}
END_TO_END = {"setup_s": "s", "result_s": "s", "ticks_per_s": "1/s",
              "ok_unit_ratio": "ratio", "output_bytes": "bytes"}
TRACE_TOTALS = {"trace.traced_s": "s", "trace.untraced_s": "s",
                "trace.overhead_s": "s"}


def per_layer_units():
    units = {f"{l}.{f}": u for l in LAYERS for f, u in LAYER_FIELDS.items()}
    units.update(LAYER_COUNTS)
    units.update(TRACE_TOTALS)
    return units


def run_jvm(work, args):
    cmd = build.java_main(work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace)]
        + (["--tiny"] if args.tiny else []))
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                          env=build.java_env(), timeout=165)
    lines = [l for l in proc.stdout.splitlines()
             if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError(f"JVM exited {proc.returncode}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def probe_s():
    """Seconds a fixed single-thread task takes on this host (8 SHA-256
    passes over 16 MiB), taken before and after the JVM. When it moves
    together with result_s, the host changed speed, not the program.
    """
    buf = bytes(1 << 24)
    t = time.perf_counter()
    for _ in range(8):
        hashlib.sha256(buf).digest()
    return time.perf_counter() - t


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args()
    load_start = os.getloadavg()
    probe_start = probe_s()
    try:
        build.ensure()
    except (subprocess.SubprocessError, OSError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)

    size = "tiny" if args.tiny else "full"
    work = os.path.join(build.OUT, "work", f"{args.workload}-{size}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        r = run_jvm(work, args)
    except (subprocess.SubprocessError, RuntimeError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(3)

    problems = checks.check(args.workload, r, work, args.seed)
    if len(r["output_digests"]) != 1:
        problems.append(f"output digests differ across passes: "
                        f"{r['output_digests']}")
    digests = {"input": r["input_digest"],
               "output": r["output_digests"][-1]}
    geometry = hashlib.sha256(json.dumps(
        [r[k] for k in ("k", "ticks", "freq_sec", "grid", "units")])
        .encode()).hexdigest()[:12]
    problems += checks.same_as_before(os.path.join(
        build.OUT, "digests", f"{args.workload}-{geometry}-{args.seed}.json"),
        digests)
    for p in problems:
        print(f"perfbench: OUTPUT CHECK FAILED: {p}", file=sys.stderr)

    passes = r["passes"]
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    attempted = sum(p["units"] for p in passes)
    failed = min(attempted,
                 sum(p["units"] - p["units_ok"] for p in passes) + len(problems))
    if args.trace == 0:
        result_s = median([p["result_s"] for p in plain])
        metrics = {
            "setup_s": r["setup_s"],
            "result_s": result_s,
            "ticks_per_s": r["ticks"] / result_s,
            "ok_unit_ratio": (attempted - failed) / attempted,
            "output_bytes": median([p["output_bytes"] for p in plain])}
        units = END_TO_END
        # reported, not gated: on a shared host executor CPU time moves
        # with host steal as much as wall time does, and G1's heap sizing
        # spreads peak RSS wider than the largest bound (see NOTES.md)
        print(f"perfbench: cpu_s {median([p['cpu_s'] for p in plain]):.3f} s"
              f" next to result_s {result_s:.3f} s, medians of {len(plain)}"
              f" passes; peak_rss_mb {r['peak_rss_mb']:.1f} MB")
    else:
        units = per_layer_units()
        metrics = {}
        for name in units:
            if name not in TRACE_TOTALS and name not in (
                    "flagship.units_ok", "flagship.units_failed"):
                metrics[name] = median([p["layers"].get(name, 0.0)
                                        for p in traced])
        metrics["flagship.units_ok"] = median([p["units_ok"] for p in traced])
        metrics["flagship.units_failed"] = median(
            [p["units"] - p["units_ok"] for p in traced])
        t_s = median([p["result_s"] for p in traced])
        u_s = median([p["result_s"] for p in plain])
        metrics.update({"trace.traced_s": t_s, "trace.untraced_s": u_s,
                        "trace.overhead_s": t_s - u_s})
        print(f"perfbench: traced pass {t_s:.3f} s vs untraced {u_s:.3f} s: "
              f"tracing overhead {t_s - u_s:+.3f} s "
              f"({(t_s - u_s) / u_s:+.1%})")

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "samples": {"untraced_passes": len(plain),
                    "traced_passes": len(traced)},
        "host": {"cpus": len(os.sched_getaffinity(0)),
                 "loadavg_start": list(load_start),
                 "loadavg_end": list(os.getloadavg()),
                 "probe_s_start": probe_start, "probe_s_end": probe_s(),
                 "jvm_loadavg_start": r["loadavg_start"],
                 "jvm_loadavg_end": r["loadavg_end"]},
        "result_s": [p["result_s"] for p in plain],
        "cpu_s": [p["cpu_s"] for p in plain],
        "peak_rss_mb": r["peak_rss_mb"],
        "steal_s": [p["steal_s"] for p in plain],
        "iowait_s": [p["iowait_s"] for p in plain],
        "setup": {"session_s": r["session_s"], "gen_s": r["gen_s"],
                  "warmup_s": r["warmup_s"]},
        "digests": digests, "problems": problems}
    runs = os.path.join(build.OUT, "runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{args.workload}-{size}-{args.seed}-"
                              f"t{args.trace}-{int(time.time())}")
    with open(stem + ".json", "w") as f:
        json.dump({**record, "jvm": r}, f, indent=1)
    if args.trace:
        shutil.copy(os.path.join(work, "spans.json"), stem + ".spans.json")
    shutil.rmtree(work, ignore_errors=True)

    print("perfbench: " + json.dumps(record))
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u}
                    for n, u in units.items()}}))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
