"""Benchmark entry point.

    python3 mvbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads: ``bulk_topn_read`` and
``adhoc_headline`` (see README.md). Runs are sized in batches and
passes, not seconds: ``--seconds`` is recorded but does not change how
much work a run does, so sample counts do not depend on the speed of
the code under test.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. The line before it is a detail record, which is
also written to ``.mvbench_out/``. A traced run's record carries the
tracing overhead: its ``trace.op_p50_s`` minus the median ``op_p50_s``
of the untraced records of the same workload and sources found there.
Everything the run writes stays inside the checkout.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("bulk_topn_read", "adhoc_headline")
DRIVER_MEMORY = "4g"


# end-to-end metric -> (unit, the sample series whose median it is)
END_TO_END = {
    "setup_s": ("s", "setup"),
    "op_p50_s": ("s", "op"),
    "read_p50_s": ("s", "read"),
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _provenance() -> dict:
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=20,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"commit": commit, "engine_sha256": _sources_sha256("tiflink_spark"),
            "bench_sha256": _sources_sha256("mvbench")}


def _sources_sha256(package: str) -> str:
    """Hash of the ``.py`` files of ``package`` under the checkout."""
    h = hashlib.sha256()
    src = os.path.join(ROOT, package)
    for name in sorted(os.listdir(src)):
        if name.endswith(".py"):
            with open(os.path.join(src, name), "rb") as f:
                h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the JVM it started."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    try:
        with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    mb += int(line.split()[1]) / 1024.0
    except (OSError, AttributeError):
        pass
    return mb


def _start_spark(work: str):
    """Start the engine's session with every scratch location inside
    ``work``; return it with its cold start time."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # no JVM may write its perf data or temp files outside the checkout
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_LAUNCHER_OPTS=java_opts,
        TMPDIR=tmp,
    )
    tempfile.tempdir = tmp
    from tiflink_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "mvbench",
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0, cpus


def _stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits at EOF on its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=60)


def _metrics(out, trace: bool, per_layer: list[tuple[str, str]]) -> dict:
    if trace:
        return {
            name: {"value": float(out.layers[name]), "unit": unit}
            for name, unit in per_layer
        }
    return {
        name: {"value": statistics.median(out.samples[sample]), "unit": unit}
        for name, (unit, sample) in END_TO_END.items()
    }


def tracing_overhead(out_dir: str, workload: str, sources: dict, traced_p50: float):
    """``traced_p50`` minus the median ``op_p50_s`` of the untraced
    records of ``workload`` in ``out_dir`` whose source hashes equal
    ``sources``, with the number of those records; None when there are
    none."""
    untraced = []
    for path in glob.glob(os.path.join(out_dir, f"record-{workload}-*-trace0-*.json")):
        with open(path) as f:
            rec = json.load(f)
        same = all(rec.get(k) == v for k, v in sources.items())
        if same and not rec["errors"] and rec["samples"].get("op"):
            untraced.append(statistics.median(rec["samples"]["op"]))
    if not untraced:
        return None
    return {"value_s": traced_p50 - statistics.median(untraced), "untraced_runs": len(untraced)}


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import tiflink_spark.app  # noqa: F401  the engine under test
    except ImportError as e:
        print(f"mvbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".mvbench_work", tag)
    out_dir = os.path.join(ROOT, ".mvbench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    cpu0, load0, wall0 = _cpu_times(), _load1(), time.time()
    spark, session_s, cpus = _start_spark(work)
    tracer = None
    try:
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark, args.workload)
        out = workloads.run(spark, args.workload, args.seed, work, tracer, session_s)
        out.layers["process.peak_rss_mb"] = _peak_rss_mb(spark)
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    cpu1 = _cpu_times()
    correct = not out.failed and all(v == "ok" for v in out.gates.values()) and bool(out.gates)
    result = {
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": _metrics(out, bool(args.trace), per_layer) if not out.failed else {},
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds_arg": args.seconds,
        **_provenance(),
        "nproc": int(cpus),
        "driver_memory": DRIVER_MEMORY,
        "load1": {"start": load0, "end": _load1()},
        "cpu_steal_share": (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]),
        "wall_s": time.time() - wall0,
        "samples": out.samples,
        "n": {k: len(v) for k, v in out.samples.items()},
        "gates": out.gates,
        "errors": out.errors,
        "info": out.info,
        "layers": out.layers,
    }
    if tracer is not None and "trace.op_p50_s" in out.layers:
        record["trace_overhead"] = tracing_overhead(
            out_dir, args.workload,
            {k: record[k] for k in ("engine_sha256", "bench_sha256")},
            out.layers["trace.op_p50_s"])
    if tracer is not None:
        tracer.write_spans(os.path.join(out_dir, f"spans-{tag}.jsonl"))
    with open(os.path.join(out_dir, f"record-{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
