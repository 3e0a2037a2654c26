"""clj_orc_spark benchmark: one workload, one seed, one result line.

Run from the root of a checkout of the repository::

    python3 perfbench/run.py --workload token_full --seed 1 --seconds 10 --trace 0

Workloads: ``token_full`` and ``token_selective`` (see perfbench/README.md).  The engine runs through its public API on
``local[N]``, N the CPUs this process may use.  With ``--trace 0`` the last
stdout line carries the end-to-end metrics; with ``--trace 1`` it carries
the per-layer metrics of a traced run.  The line before it is a report
with the machine, versions, timings and the store's exact manifest counts.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
#: the Spark driver heap of every run.  The engine's default (48g) is more
#: than a 15 GB machine has, which leaves the heap's size, and with it the
#: GC's work and peak_rss_mb, to the JVM's growth policy; a fixed heap keeps
#: runs comparable.  2g holds local[4]'s concurrent Arrow batches.
DRIVER_MEMORY = "2g"


def _environment(root: str, work: str, trace: bool) -> None:
    """Keep Spark, Python and the JVM inside the checkout; in a traced run
    point Spark's Python daemon at the span-recording module."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(work, "trace"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PERFBENCH_TRACE_DIR"] = os.path.join(work, "trace")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [HERE, root] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    args = ["--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp}")]
    if trace:
        args.append("--conf spark.python.daemon.module=pb_daemon")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in "ZX"
    except OSError:
        return False


def _stop_spark(bench) -> None:
    """Stop the session, then the JVM it runs in, and wait until the JVM
    and every process it started (the Python daemon and workers) ended."""
    if bench.spark is None:
        return
    from pb_bench import descendants
    from pyspark import SparkContext

    started = descendants(os.getpid())
    bench.spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while any(_running(p) for p in started):
        if time.monotonic() > deadline:
            for p in started:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.1)


def _machine(bench) -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"cpus": len(os.sched_getaffinity(0)), "loadavg": load,
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "python": sys.version.split()[0],
            "spark.driver.memory": bench.driver_memory}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["token_full", "token_selective"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the benchmark's self-tests")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "clj_orc_spark", "__init__.py")):
        print("perfbench: run from the root of a clj_orc_spark checkout "
              f"(no clj_orc_spark/ package under {root})", file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "work", str(os.getpid()))
    cache = os.path.join(base, "cache")
    _environment(root, work, bool(args.trace))
    sys.path[:0] = [HERE, root]

    import clj_orc_spark

    if not os.path.abspath(clj_orc_spark.__file__).startswith(root + os.sep):
        print(f"perfbench: clj_orc_spark imported from {clj_orc_spark.__file__},"
              " not from this checkout", file=sys.stderr)
        return 2

    import pb_bench
    import pb_inputs

    if args.trace:
        import pb_worker

        pb_worker.install_driver()

    bench = pb_bench.Bench(args.workload, args.seconds, bool(args.trace),
                           work)
    try:
        # inputs are generated in a child process, so that their memory is
        # never part of this process tree's peak
        t0 = time.perf_counter()
        subprocess.run([sys.executable, os.path.join(HERE, "pb_inputs.py"),
                        cache, str(args.seed), args.size], check=True)
        inp = pb_inputs.prepare(cache, args.seed, args.size)
        bench.prep_s = time.perf_counter() - t0
        bench.input_gen_s = inp["gen_s"]
        bench.rss.start()
        pb_bench.WORKLOADS[args.workload](bench, inp)
        steal, total = (a - b for a, b in zip(pb_bench.cpu_ticks(),
                                               bench.ticks0))
        metrics = (pb_bench.per_layer(bench) if args.trace
                   else pb_bench.end_to_end(bench))
    finally:
        bench.rss.stop()
        t0 = time.perf_counter()
        _stop_spark(bench)
        stop_s = time.perf_counter() - t0
        shutil.rmtree(work, ignore_errors=True)

    units = ({k: pb_bench.layer_unit(k) for k in metrics} if args.trace
             else pb_bench.END_TO_END)
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "size": args.size,
        "machine": _machine(bench),
        # CPU time the hypervisor gave to other guests during the window
        "steal_frac": steal / max(1, total),
        "prep_s": bench.prep_s, "timings": bench.timings,
        "setup": bench.setup_times, "stop_s": stop_s,
        "peak_pss_by_process": bench.rss.parts,
        "manifest": bench.counts, "manifest_repeats": bench.counts_repeat,
        "size_gate": bench.gate, "errors": bench.errors[:20],
        "failed_op_frac": bench.failed / max(1, bench.attempted),
    }
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": bench.failed == 0 and bench.attempted > 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
