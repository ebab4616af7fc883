"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload lloyd3d_floor --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. Inputs are generated
from ``--seed`` (cached under ``perfbench/.work/inputs``), the session
is set up several times (the median is ``setup_s``), one untimed
warm-up pass runs, and then a fixed number of timed passes runs:
``--seconds`` divided by the workload's expected pass time. Every kept output is checked against the oracles
in ``perfbench/oracles.py``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, attributes each traced span's Spark jobs
through a job group, runs the single-layer probes, writes the spans to
``perfbench/.work/trace-<workload>-s<seed>.json``, prints a layer
report, and ends with the per-layer metrics. Everything except the
last line of standard output is commentary.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
SETUPS = 4
CPUS = min(4, len(os.sched_getaffinity(0)))


def _prepare_env() -> None:
    """Keep the JVM, Python workers and temp files inside the checkout
    and size local parallelism to this host."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    import tempfile

    tempfile.tempdir = tmp


def _session():
    from mapreduce_kmeans_clustering_spark import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": "-Xms2g",
            "spark.ui.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus this Python driver
    (the kernel's high-water marks; Python workers are not counted)."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return own + int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {jvm_pid}")


def _steal_ticks() -> int:
    """CPU time stolen from this VM by the hypervisor, all CPUs (clock ticks)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import inputs, layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    in_dir = inputs.ensure(workload, seed, os.path.join(WORK, "inputs"))
    wl = WORKLOADS[workload](in_dir, os.path.join(WORK, "out", workload))
    tracer = Tracer(spark_attrib=False)
    spark = None
    jvm = None
    starts, reads, setups = [], [], []
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = _session()
            t1 = time.perf_counter()
            jvm = spark.sparkContext._gateway.proc
            wl.setup(spark)
            t2 = time.perf_counter()
            starts.append(t1 - t0)
            reads.append(t2 - t1)
            setups.append(t2 - t0)
        tracer.bind(spark)
        t0 = time.perf_counter()
        wl.warmup(spark)
        _log(f"setups {[round(x, 2) for x in setups]} s, warm-up {time.perf_counter() - t0:.2f} s")

        # A fixed number of passes per run, sized from --seconds, so every
        # run sits at the same point of the JVM's warm-up curve.
        n_passes = max(4 if trace else 1, round(seconds / wl.pass_s))
        steal0 = _steal_ticks()
        passes: list[tuple[bool, float]] = []
        for k in range(n_passes):
            # Traced mode alternates untraced and traced passes in ABBA
            # order, so warm-up drift does not land on one side.
            traced = trace and k % 4 in (1, 2)
            tracer.spark_attrib = traced
            with tracer.span("pass", traced=traced) as s:
                wl.run_pass(tracer)
            passes.append((traced, s.dur))
            _log(f"pass {k + 1}{' traced' if traced else ''}: {s.dur:.3f} s")
        _log(f"host steal during passes: {_steal_ticks() - steal0} ticks")
        tracer.spark_attrib = trace
        if trace:
            wl.probe(spark, tracer)
            metrics = layers.per_layer(spark, tracer, passes, starts, reads, CPUS, wl.name)
            tracer.dump(os.path.join(WORK, f"trace-{workload}-s{seed}.json"))
        else:
            metrics = layers.end_to_end(tracer, passes, setups, peak_rss_mb(jvm.pid))
        t0 = time.perf_counter()
        attempted, fails = wl.verify()
        _log(f"verify {time.perf_counter() - t0:.2f} s")
        for name in sorted({sp.name for sp in tracer.spans}):
            ds = tracer.durations(name)
            _log(f"  {name:<12} n={len(ds):<3} median {statistics.median(ds):.3f} s")
    finally:
        if spark is not None:
            spark.stop()
            spark.sparkContext._gateway.shutdown()
        if jvm is not None:
            jvm.stdin.close()
            jvm.wait(timeout=60)
        wl.cleanup()
    for f in fails:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    print(f"{workload} seed={seed}: {len(passes)} passes, checks {attempted - len(fails)}/{attempted} ok")
    return {
        "correct": not fails,
        "attempted": attempted,
        "failed": len(fails),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import mapreduce_kmeans_clustering_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    _prepare_env()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
