#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload local_topk --seed 1 --seconds 12 \
        --trace 0

Works from any working directory: the source tree is the parent of this
file's directory. Everything the run writes stays inside that tree:
scratch data under ``.bench_work/`` (removed at exit), the full result
and, for traced runs, the spans under ``.bench_out/``.

stdout ends with one JSON line: {"correct", "attempted", "failed",
"metrics"}. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def spark_settings(work: str) -> tuple[int, str, dict]:
    """Cores, driver memory and extra conf for the box: local[nproc],
    a quarter of physical memory for the driver (1-4 GiB), scratch under
    ``work``, and the source tree on the Python workers' path."""
    import measure

    cores = len(os.sched_getaffinity(0))
    mem_mb = measure.mem_total_bytes() // 2**20
    driver_mb = int(min(4096, max(1024, mem_mb // 4)))
    local = os.path.join(work, "spark-local")
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.executorEnv.PYTHONPATH": ROOT,
    }
    return cores, f"{driver_mb}m", extra


def prepare_env(work: str) -> None:
    """Before any Spark import: keep temp files in the tree and let the
    JVM-launched Python workers import cuely_spark."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts (launcher and driver): temp files in
    # the tree, no hsperfdata files under /tmp, JIT compiler threads that
    # live as long as the JVM (measure.TreeCPU leaves them out), and one
    # garbage-collector thread of each kind: with one per core, the
    # collector threads spin while the host steals vCPUs, and the CPU a
    # collection cost swung 1-9% of a window's op CPU with the host load
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads "
        "-XX:ParallelGCThreads=1 -XX:ConcGCThreads=1")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and every process it started, and wait
    until each has ended."""
    from pyspark import SparkContext

    import measure

    started = measure.descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while (any(measure.alive(p) for p in started)
               and time.monotonic() < deadline):
            time.sleep(0.1)
        for p in started:
            if measure.alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        while any(measure.alive(p) for p in started):
            time.sleep(0.1)


def unit_of(name: str) -> str:
    """Unit of a detail figure, from its name's suffix."""
    for suffix, unit in (("_per_s", "1/s"), ("_per_cpu_s", "1/s"),
                         ("_per_ref", "1/ref"),
                         ("_per_text_byte", "ratio"), ("_share", "ratio"),
                         ("_bytes", "B"), ("_s", "s"), ("_p90", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = benchmark_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "cuely_spark")):
        print(f"no cuely_spark package under {ROOT}", file=sys.stderr)
        return 2
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    prepare_env(work)
    sys.path.insert(0, HERE)
    import measure
    import workloads

    run = workloads.Run(ROOT, work, args.workload, args.seed, args.seconds,
                        bool(args.trace), T_START)
    spark = None
    try:
        from cuely_spark.session import get_spark

        cores, driver_mem, extra = spark_settings(work)
        spark = get_spark(app=f"perfbench-{args.workload}", cores=cores,
                          driver_mem=driver_mem, extra=extra)
        run.spark = spark
        run.detail["spark_start_s"] = time.perf_counter() - T_START
        conf = {k: v for k, v in spark.sparkContext.getConf().getAll()
                if not k.endswith(("id", "port", "host", "startTime"))}
        e2e = workloads.run_workload(run)
        run.layer["driver.open_fds"] = measure.open_fds()
        run.layer["driver.threads"] = measure.thread_count()
        env = measure.environment(ROOT, conf)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it

    kind = "per_layer" if args.trace else "end_to_end"
    values = run.layer if args.trace else e2e
    metrics, idle = {}, []
    for m in spec[kind]:
        v = values.get(m["name"])
        if v is None:
            if not args.trace:
                raise RuntimeError(f"metric {m['name']} was not measured")
            idle.append(m["name"])  # layer not exercised by this workload
            v = 0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "why": workloads.WORKLOADS[args.workload],
        "environment": env,
        "failed_op_share": run.failed / max(1, run.attempted),
        "flags": run.flags,
        "errors": run.errors[:20],
        "not_exercised": idle,
        "detail": run.detail,
        "samples": run.samples,
        "metrics": metrics,
    }
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if run.tracer is not None:
        run.tracer.write(os.path.join(out_dir, f"spans-{tag}.jsonl"))
    for flag in run.flags:
        print(f"perfbench: FLAG {flag}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"{name:32s} {m['value']:.6g} {m['unit']}")
    for name, v in run.detail.items():
        if isinstance(v, dict) and "value" in v:  # a tail figure
            v = v["value"]
        if isinstance(v, (int, float)):
            print(f"  {name:30s} {v:.6g} {unit_of(name)}")
    print(json.dumps(detail["detail"], default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def _terminate(signum, _frame):
    # unwind through main()'s finally: stop Spark, remove scratch data
    sys.exit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
