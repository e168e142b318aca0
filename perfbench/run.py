#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Prepares the seeded inputs and their
expected outputs (cached per seed under ``perfbench/.work``), runs one
worker process that sets up a session and runs the passes, and prints a
self-describing record line, a summary line and, as the last line, the
result JSON:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of BENCHMARK.json plus the tracing overhead. Exits
non-zero without a result when the program or a worker fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170.0
BROADCAST_THRESHOLD = 64 * 1024 * 1024


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 1


def source_digest() -> str:
    """Content hash of the program's sources, for checkouts without git."""
    h = hashlib.sha1()
    for base in ("c3dc_etl_spark", "scripts"):
        for root, dirs, names in os.walk(os.path.join(ROOT, base)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for name in sorted(n for n in names if n.endswith(".py")):
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def cpu_times() -> list[int]:
    """The aggregate cpu line of /proc/stat: user nice system idle iowait
    irq softirq steal ..., in clock ticks."""
    with open("/proc/stat", encoding="utf-8") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_share(before: list[int], after: list[int]) -> dict:
    """Shares of all CPU time during the run: steal is time the
    hypervisor gave to other guests, busy what this host's processes
    used. A series with more steal ran on a slower host."""
    d = [a - b for a, b in zip(after, before)]
    total = max(1, sum(d[:8]))
    return {"steal": round(d[7] / total, 4), "busy": round(1 - (d[3] + d[4]) / total, 4)}


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def prepare(workload: str, seed: int, size: str) -> tuple[str, str, dict]:
    """Generate inputs and expected outputs once per (workload, size,
    seed); later runs reuse them. Returns (data dir, meta path, meta)."""
    from perfbench import gen, oracle

    # the key covers the generator and oracle code, so edits never reuse stale inputs
    key = hashlib.sha1(json.dumps(gen.SIZES[workload][size]).encode())
    for mod in (gen, oracle):
        with open(mod.__file__, "rb") as fh:
            key.update(fh.read())
    base = os.path.join(WORK, "data", f"{workload}-{size}-{seed}-{key.hexdigest()[:10]}")
    data, meta_path = os.path.join(base, "input"), os.path.join(base, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as fh:
            return data, meta_path, json.load(fh)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(data)
    t = time.perf_counter()
    meta = gen.GENERATORS[workload](data, seed, **gen.SIZES[workload][size])
    if workload == "operator_mix":
        meta["oracle"] = oracle.registry_hashes(data, oracle.DEDUP_QUERIES + oracle.GRAPH_QUERIES)
        meta["replay"] = oracle.replay_tablelog(data)
        with open(os.path.join(data, "script.json"), encoding="utf-8") as fh:
            meta["script"] = json.load(fh)
        props = meta["props"]
        props["tablelog"]["changed_rows_per_pass"] = meta["replay"]["changed_rows"]
        # an item is an input row: a document, a purchase edge or a changed table row
        meta["items"] = (props["documents"]["documents"] + props["graph"]["edges"]
                         + meta["replay"]["changed_rows"])
    meta["props"]["input_bytes"] = gen.tree_bytes(data)
    meta["prep_s"] = time.perf_counter() - t
    tmp = meta_path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    os.replace(tmp, meta_path)
    return data, meta_path, meta


def child_env() -> dict:
    """Keep every file the program writes inside the checkout, and run
    local[nproc]."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env["SPARK_LOCAL_DIRS"] = tmp
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    return env


def run_worker(args: list[str], log_path: str, deadline: float) -> None:
    """Run one worker process to completion, or kill its whole process
    group at the deadline."""
    with open(log_path, "ab") as log:
        proc = subprocess.Popen([sys.executable, "-m", "perfbench.worker", *args],
                                cwd=ROOT, env=child_env(), stdout=log, stderr=log,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            raise RuntimeError(f"worker exceeded the deadline; see {log_path}")
    if code != 0:
        with open(log_path, encoding="utf-8", errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"worker exited {code}:\n{tail}")


def layer_metrics(names: list[str], layers: dict, overhead: float) -> dict:
    """Every per-layer metric named in BENCHMARK.json; a layer the
    workload does not touch reports 0."""
    out = {}
    for name in names:
        if name == "trace.overhead_ratio":
            value = overhead
        else:
            layer, _, key = name.rpartition(".")
            value = layers.get(layer, {}).get(key, 0)
            if name == "operators.dedup.yield":
                dedup = layers.get("operators.dedup", {})
                value = dedup.get("pairs_out", 0) / max(1, dedup.get("join_rows", 0))
            elif key == "input_bytes" and layer in layers:
                # every scan in a study pass reads source files, most of
                # them lazily inside later layers' jobs
                value = sum(v.get("input_bytes", 0) for v in layers.values())
        out[name] = value
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full")
    args = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S
    cpu_start = cpu_times()

    if not os.path.isfile(os.path.join(ROOT, "c3dc_etl_spark", "session.py")):
        return fail(f"the program (c3dc_etl_spark/) is not in {ROOT}")
    bench = load_benchmark()
    names = {w["name"] for w in bench["workloads"]}
    if args.workload not in names:
        return fail(f"unknown workload {args.workload!r}; known: {sorted(names)}")
    sys.path.insert(0, ROOT)

    data, meta_path, meta = prepare(args.workload, args.seed, args.size)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    log = os.path.join(run_dir, "worker.log")
    spans = os.path.join(WORK, "traces", f"{args.workload}-{args.size}-{args.seed}.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    common = ["--workload", args.workload, "--data", data, "--meta", meta_path,
              "--work", run_dir, "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--spans", spans]
    try:
        result_path = os.path.join(run_dir, "result.json")
        run_worker([*common, "--out", result_path], log, deadline)
        with open(result_path, encoding="utf-8") as fh:
            res = json.load(fh)
    except RuntimeError as e:
        return fail(str(e))
    finally:
        shutil.rmtree(os.path.join(run_dir, "table"), ignore_errors=True)

    warm = res["warm_pass_s"]
    median_warm = statistics.median(warm)
    driver_mem = res["config"]["spark.driver.memory"]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "trace": args.trace,
        "seconds": args.seconds,
        "loop": "closed, one client",
        "git_commit": git_commit(),
        "source_digest": source_digest(),
        "config": res["config"],
        "host_cpu_share": host_share(cpu_start, cpu_times()),
        "input": {**meta["props"],
                  "input_bytes_vs_broadcast_threshold":
                      round(meta["props"]["input_bytes"] / BROADCAST_THRESHOLD, 6),
                  "resolved_driver_heap": driver_mem},
        "items_per_pass": res["items_per_pass"],
        "peak_jvm_rss_mb": res["peak_jvm_rss_mb"],
        "first_pass_s": res["first_pass_s"],
        "warm_passes": len(warm),
        "warm_pass_s": {"median": median_warm, "all": warm},
        "failed_ratio": res["failed"] / max(1, res["attempted"]),
        "problems": res["problems"],
    }
    if args.trace:
        record["traced_passes"] = len(res["traced_pass_s"])
        record["trace_overhead"] = res["trace_overhead"]
        record["spans_file"] = os.path.relpath(spans, ROOT)
        record["layers"] = res["layers"]
        metrics = layer_metrics([m["name"] for m in bench["per_layer"]], res["layers"],
                                res["trace_overhead"])
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    else:
        metrics = {
            "setup_s": res["setup_s"],
            "first_pass_s": res["first_pass_s"],
            "items_per_s": res["items_per_pass"] / median_warm,
            "peak_py_rss_mb": res["peak_py_rss_mb"],
        }
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    print("record: " + json.dumps(record, sort_keys=True))
    # peak JVM RSS and the failed ratio are reported here but not gated:
    # see README.md, "End-to-end metrics"
    summary = "  ".join(f"{k}={v:.6g} {units[k]}" for k, v in metrics.items())
    print(f"{args.workload} seed={args.seed}: {summary}  "
          f"peak_jvm_rss_mb={res['peak_jvm_rss_mb']:.6g} MB  "
          f"failed_ratio={record['failed_ratio']:.6g} ({res['failed']}/{res['attempted']})")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
