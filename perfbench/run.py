#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload live_clickstream --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source (perfbench/build.py),
launches one JVM on the compiled classpath with local[nproc], checks the
run's outputs, prints every metric by name and unit on stderr, and as
the last stdout line one JSON object with the keys correct, attempted,
failed and metrics (end-to-end metrics with --trace 0, per-layer ones
with --trace 1). A traced run also writes its spans and per-layer table
under <build dir>/trace/<workload>-seed<seed>/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("live_clickstream", "batch_registry")
COUNTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "registry_counts.json")
# heap per workload, committed and touched up front so the peak resident
# set does not depend on when the collector chose to grow it
HEAP = {"live_clickstream": "3g", "batch_registry": "2g"}
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 900


def log(msg):
    sys.stderr.write(msg + "\n")
    sys.stderr.flush()


def run_jvm(cp, data, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    out = os.path.join(run_dir, "out")
    os.makedirs(tmp)
    os.makedirs(out)
    heap = HEAP[args.workload]
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"] + build.java_opens()
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
            "--data", data]
    # Spark prefers these over spark.local.dir; the run keeps its files
    # inside its own directory
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=jlog, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    return rc, out


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    cp = build.build()
    data = build.registry_data(cp)
    limit = RUN_LIMIT_S + (BUILD_LIMIT_S if time.time() - started > 5 else 0)
    runs = os.path.join(build.build_dir(), "runs")
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        rc, out = run_jvm(cp, data, args, run_dir, started + limit)
        result = os.path.join(out, "result.json")
        if rc != 0 or not os.path.exists(result):
            log(tail(os.path.join(run_dir, "jvm.log")))
            log(f"[perfbench] {args.workload}: JVM ended with {rc} and no result")
            return 1
        with open(result) as f:
            raw = json.load(f)
        if "window" not in raw:
            log(tail(os.path.join(run_dir, "jvm.log")))
            log(f"[perfbench] {args.workload}: run broke before measuring: {raw['errors']}")
            return 1
        results = os.path.join(build.build_dir(), "results")
        os.makedirs(results, exist_ok=True)
        shutil.copy(result, os.path.join(
            results, f"{args.workload}-seed{args.seed}-trace{args.trace}-raw.json"))
        # a state-store maintenance thread still zipping a checkpoint the
        # teardown already deleted logs this; the run must not leave one
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            if any("Error zipping" in line for line in f):
                raw["errors"].append("teardown: RocksDB maintenance raced the temp-tree delete")
                raw["failed"] += 1
        spans = []
        if args.trace:
            with open(os.path.join(out, "spans.jsonl")) as f:
                spans = [json.loads(line) for line in f]
        return report(args, raw, spans)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass


def report(args, raw, spans):
    with open(COUNTS) as f:
        counts = json.load(f)
    causes = list(raw["errors"]) + metrics.check_outputs(raw, counts)
    for c in causes[len(raw["errors"]):]:
        log(f"[perfbench] FAILED: {c}")
    failed = raw["failed"] + len(causes) - len(raw["errors"])

    e2e, info, extra = metrics.end_to_end(raw)
    missing = [k for k, v in e2e.items() if v is None]
    if missing:
        causes.append(f"no samples for {', '.join(missing)}")
        failed += 1
        e2e = {k: (v if v is not None else 0.0) for k, v in e2e.items()}
    units = dict(metrics.END_TO_END)
    log(f"[perfbench] {args.workload} seed={args.seed} seconds={args.seconds} "
        f"attempted={raw['attempted']} failed={failed} tail=p{info['tail_percentile']} "
        f"over {info['latency_samples']} samples, steal={raw['steal_pct']:.2f}% "
        f"loadavg={raw['loadavg_1m']}")
    for name, v in e2e.items():
        log(f"  {name:<22} {v:>14.4f} {units[name]}")

    results = os.path.join(build.build_dir(), "results")
    os.makedirs(results, exist_ok=True)
    key = f"{args.workload}-seed{args.seed}"
    if args.trace:
        layers = metrics.per_layer(raw, spans, extra)
        out_metrics = {k: {"value": v, "unit": metrics.layer_unit(k)} for k, v in layers.items()}
        for name, v in layers.items():
            log(f"  {name:<40} {v:>16.4f} {metrics.layer_unit(name)}")
        overhead = None
        untraced = os.path.join(results, f"{key}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]
            overhead = {k: e2e[k] / base[k]["value"] - 1.0
                        for k in ("latency_p50_ms", "throughput_per_s") if base[k]["value"]}
            log(f"  tracing overhead vs the untraced run of this seed: {overhead}")
        tdir = os.path.join(build.build_dir(), "trace", key)
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, "spans.jsonl"), "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        with open(os.path.join(tdir, "layers.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "layers": out_metrics,
                       "traced_end_to_end": e2e, "tracing_overhead": overhead,
                       "tail_percentile": info["tail_percentile"]}, f, indent=1)
    else:
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}

    line = {"correct": failed == 0, "attempted": int(raw["attempted"]), "failed": int(failed),
            "metrics": out_metrics}
    with open(os.path.join(results, f"{key}-trace{args.trace}.json"), "w") as f:
        json.dump(dict(line, errors=causes, info=info), f, indent=1)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
