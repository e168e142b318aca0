"""One benchmark process: set up a session, run passes, report.

Run by ``perfbench/run.py`` as ``python3 -m perfbench.worker`` from the
repository root; it writes its result as JSON to ``--out``.

- setup: importing the package plus ``session.get_spark`` until a first
  trivial job completes (the session is usable);
- first pass: the first pass in the fresh session (JIT, codegen, class
  loading included);
- warm passes: a closed loop with one client, passes back to back until
  both the workload's ``warm_passes`` and ``--seconds`` are reached. With
  ``--trace 1`` untraced and traced passes alternate, starting and ending
  with an untraced one, so the tracing overhead is their ratio under the
  same conditions.
"""

from __future__ import annotations

import argparse
import json
import resource
import statistics
import sys
import time

def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stop(spark) -> None:
    """Stop the session and the py4j-launched JVM, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort for a JVM that hangs
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--meta", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", help="where a traced run writes its spans")
    args = ap.parse_args(argv)

    t0 = time.perf_counter()
    from c3dc_etl_spark.session import get_spark

    from perfbench import workloads

    spark = get_spark(f"perfbench-{args.workload}")
    spark.range(1).count()
    setup_s = time.perf_counter() - t0

    from perfbench.tracer import NullTracer, Tracer

    with open(args.meta, encoding="utf-8") as fh:
        meta = json.load(fh)
    wl = workloads.WORKLOADS[args.workload](spark, args.data, meta, args.work)
    null = NullTracer()
    tracer = Tracer(spark) if args.trace else None
    attempted = failed = 0
    problems: list[str] = []

    def one_pass(tr) -> tuple[float, int]:
        nonlocal attempted, failed
        t = time.perf_counter()
        try:
            r = wl.run_pass(tr)
        except Exception as e:  # noqa: BLE001 - a pass that raises fails as a whole
            import traceback

            attempted += 1
            failed += 1
            problems.append(f"pass raised {e!r}: {traceback.format_exc(limit=4)}")
            return time.perf_counter() - t, 0
        dt = time.perf_counter() - t
        attempted += r.attempted
        failed += r.failed
        problems.extend(r.problems[:3])
        return dt, r.items

    first_s, items = one_pass(null)
    warm: list[float] = []
    traced: list[float] = []
    layer_samples: list[dict] = []
    # a traced run needs one untraced/traced pair: its counters carry no bound
    need = 1 if tracer is not None else wl.warm_passes
    start = time.perf_counter()
    while True:
        dt, items = one_pass(null)
        warm.append(dt)
        if tracer is not None:
            tracer.pass_no += 1
            tdt, _ = one_pass(tracer)
            traced.append(tdt)
            layer_samples.append(tracer.collect())
        done = len(warm) >= need and time.perf_counter() - start >= args.seconds
        if done or len(problems) > 50:
            break
    if tracer is not None:
        # close with an untraced pass, so the traced passes sit between
        # untraced ones and JIT warm-up does not favour either side
        warm.append(one_pass(null)[0])

    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    out = {
        "setup_s": setup_s,
        "first_pass_s": first_s,
        "warm_pass_s": warm,
        "traced_pass_s": traced,
        "items_per_pass": items,
        "attempted": attempted,
        "failed": failed,
        "problems": problems[:10],
        "peak_jvm_rss_mb": _vm_hwm_mb(jvm_pid),
        "peak_py_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        "config": {
            "cpus": sc.defaultParallelism,
            "master": sc.master,
            "spark.driver.memory": sc.getConf().get("spark.driver.memory"),
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark.sql.autoBroadcastJoinThreshold":
                spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
            "pyspark": spark.version,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        },
    }
    if tracer is not None:
        out["layers"] = {
            layer: {k: statistics.median(s.get(layer, {}).get(k, 0) for s in layer_samples)
                    for k in {k for s in layer_samples for k in s.get(layer, {})}}
            for layer in {l for s in layer_samples for l in s}
        }
        out["trace_overhead"] = statistics.median(traced) / statistics.median(warm)
        tracer.dump(args.spans)
    _stop(spark)
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
