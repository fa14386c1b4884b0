"""Benchmark entry point.

    python3 perfbench/run.py --workload {search,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the root of a source checkout. Each invocation is one workload in
one fresh process. It generates its inputs from ``--seed``, sets up (Spark
session, staged inputs, warm-ups), runs the timed phases, checks the
outputs outside the timed regions, and prints human-readable metric lines
followed by ONE JSON line (the last line of stdout):

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace
1`` reruns the same workload with spans around every call into a layer and
reports the per-layer metrics, and writes the spans to
``.bench_out/<workload>-<seed>-spans.json``. All scratch data lives under
``.bench_work/`` in the checkout and is removed before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

_T0 = time.perf_counter()


def _process_age() -> float:
    """Seconds since this process started (from /proc), so setup_s also
    covers interpreter start-up."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


_AGE_AT_T0 = _process_age()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def elapsed() -> float:
    return _AGE_AT_T0 + (time.perf_counter() - _T0)


def load_config() -> dict:
    with open(os.path.join(HERE, "config.json")) as f:
        return json.load(f)


def load_declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def peak_rss_mb(spark) -> float:
    """JVM VmHWM plus this Python process's maximum RSS, in MB."""
    import resource

    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def start_session(cfg: dict, work: str):
    from data_prep_opensearch_spark.session import get_spark

    scfg = cfg["spark"]
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = dict(scfg["conf"])
    conf["spark.local.dir"] = local
    conf["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={local} {scfg['jvm_options']}"
    return get_spark(app_name="perfbench", cores=scfg["cores"],
                     shuffle_partitions=scfg["shuffle_partitions"], extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM it runs in and wait until it has."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cfg = load_config()
    declared = load_declared()
    if args.workload not in cfg["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # the package is imported from the checkout root, by this process and
    # by Spark's Python workers
    if not os.path.isdir(os.path.join(ROOT, "data_prep_opensearch_spark")):
        print("data_prep_opensearch_spark/ not found next to perfbench/; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ.pop("SPARK_GRAFT_CPUS", None)

    import workloads
    from spans import Recorder

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(cfg, work)
        session_s = time.perf_counter() - t
        rec = Recorder(spark, traced=bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](
            spark, rec, cfg["workloads"][args.workload], args.seed, args.seconds, work)
        wl.session_s = session_s
        wl.setup()
        setup_s = elapsed()
        wl.measure()
        wl.check()
        e2e = wl.end_to_end()
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = peak_rss_mb(spark)
        if args.trace:
            rec.resolve()
            layer = wl.per_layer()
            layer.update(workloads.trace_metrics(rec, wl, e2e))
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            rec.dump(os.path.join(out_dir, f"{args.workload}-{args.seed}-spans.json"))
        details = wl.details()
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
    units.update(workloads.DETAIL_UNITS)
    for name, value in sorted({**details, **e2e}.items()):
        print(f"{args.workload}.{name} = {value:.6g} {units.get(name, '')}")
    section = "per_layer" if args.trace else "end_to_end"
    values = layer if args.trace else e2e
    measured = workloads.MEASURED[args.workload]
    metrics, bypassed = {}, []
    for m in declared[section]:
        name = m["name"]
        if name not in values:
            if section == "end_to_end" or name.startswith(measured):
                raise SystemExit(f"workload {args.workload} did not report {name}")
            values[name] = 0.0  # a layer or tier this workload bypasses
            bypassed.append(name)
        metrics[name] = {"value": float(values[name]), "unit": m["unit"]}
    if bypassed:
        print(f"bypassed on {args.workload} (reported as 0): {' '.join(bypassed)}")
    print(json.dumps({"correct": rec.failed == 0, "attempted": rec.attempted,
                      "failed": rec.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
