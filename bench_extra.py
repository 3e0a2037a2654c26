"""Round-6 auxiliary benchmark: phase isolation + repetition, per guide §1.

NOT the driver contract (bench.py is frozen for measurement) — this file
exists so optimization evidence is reproducible: it times the token-table
phases (encode / decode / verify) over N interleaved reps in one session,
labels every job (§1.5), isolates the decode computation with the noop sink
(§1.4), and records loadavg per rep so a neighbor-noise window is visible in
the record instead of silently poisoning a single sample.

Usage::

    python bench_extra.py [--rows 500000] [--reps 3] [--cpus N]

``--cpus`` defaults to ``$SPARK_GRAFT_CPUS``, else the CPUs this process
may run on.

Prints one JSON line: per-phase lists of rep walls + medians + loadavg.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _loadavg() -> float:
    return float(open("/proc/loadavg").read().split()[0])


def main() -> None:
    from clj_orc_spark.session import default_cpus

    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=500_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=default_cpus())
    args = ap.parse_args()

    from clj_orc_spark.datagen import write_token_table
    from clj_orc_spark.pipeline import decode, encode, verify_digest
    from clj_orc_spark.session import get_spark

    spark = get_spark(master=f"local[{args.cpus}]",
                      app_name="clj-orc-spark-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    info = write_token_table(
        os.path.join("/tmp", f"clj-orc-spark-bench-{args.rows}"),
        args.rows, seed=42,
    )
    src = info["parquet"]
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"

    phases: dict[str, list[float]] = {
        "encode": [], "decode_noop": [], "decode_count": [], "verify": [],
    }
    loads: list[float] = []

    # untimed warmup (python-worker daemon spawn + JIT, same as bench.py)
    warm = os.path.join(base, "bench-extra-warm")
    shutil.rmtree(warm, ignore_errors=True)
    encode(spark, src, warm, resume=False)
    shutil.rmtree(warm, ignore_errors=True)

    for rep in range(args.reps):
        loads.append(_loadavg())
        out = os.path.join(base, f"bench-extra-{rep}")
        shutil.rmtree(out, ignore_errors=True)

        sc.setJobDescription(f"encode rep{rep}")
        t0 = time.time()
        encode(spark, src, out, resume=False)
        phases["encode"].append(round(time.time() - t0, 3))

        sc.setJobDescription(f"decode noop rep{rep}")
        t0 = time.time()
        decode(spark, out).write.format("noop").mode("overwrite").save()
        phases["decode_noop"].append(round(time.time() - t0, 3))

        sc.setJobDescription(f"decode count rep{rep}")
        t0 = time.time()
        n = decode(spark, out).count()
        phases["decode_count"].append(round(time.time() - t0, 3))
        assert n == args.rows, f"decode returned {n} rows"

        sc.setJobDescription(f"verify rep{rep}")
        t0 = time.time()
        v = verify_digest(spark.read.parquet(src), decode(spark, out))
        phases["verify"].append(round(time.time() - t0, 3))
        assert v["bit_identical"], v
        sc.setJobDescription(None)
        shutil.rmtree(out, ignore_errors=True)

    result = {
        "metric": "bench_extra_phases",
        "rows": args.rows,
        "cpus": args.cpus,
        "reps": args.reps,
        "phases": phases,
        "medians": {k: round(statistics.median(v), 3)
                    for k, v in phases.items()},
        "mins": {k: round(min(v), 3) for k, v in phases.items()},
        "loadavg_per_rep": loads,
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
