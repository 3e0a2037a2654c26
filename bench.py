"""Benchmark harness (driver contract): one JSON line on stdout.

Headline: the encode engine on the SF-scaled deterministic token table
(BASELINE.json metric — encode GB/s + tokens/s + compression ratio vs the
reference ORC writer's output), plus decode + bit-identity verify, plus a few
relational queries over the driver testdata to track Catalyst-path perf.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the CPUs this process may run on).
Scaling-efficiency evidence between two "cluster sizes" (local[N] vs local[4N])
is produced by scripts/scaling_bench.py → BENCH.md, not here.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

ROWS_PER_SF = 5_000_000  # sf0.1 -> 500k rows (~330M tokens, ~1.3 GB raw)


def main() -> None:
    from clj_orc_spark.datagen import write_token_table
    from clj_orc_spark.pipeline import decode, encode, size_gate, verify_digest
    from clj_orc_spark.session import default_cpus, get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", "") or 0.1)
    n_rows = max(1000, int(ROWS_PER_SF * sf))

    import __spark_entry__ as entry_mod

    spark = get_spark(master=f"local[{cpus}]", app_name="clj-orc-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    table_dir = os.path.join("/tmp", f"clj-orc-spark-bench-{n_rows}")
    info = write_token_table(table_dir, n_rows, seed=42)
    src_path = info["parquet"]
    # RAM-backed output, like scripts/scaling_bench.py: on a real cluster
    # write bandwidth scales with node count; one shared sandbox disk doesn't
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    out = os.path.join(base, f"clj-orc-spark-bench-out-{n_rows}")
    shutil.rmtree(out, ignore_errors=True)

    queries: dict[str, float] = {}

    # untimed warmup: the first job in a fresh session pays python-worker
    # daemon spawn + JVM JIT (measured ~3x a steady-state run) — that is
    # session startup, not engine throughput; scaling_bench.py does the same
    warm_out = os.path.join(base, "clj-orc-spark-bench-warmup")
    shutil.rmtree(warm_out, ignore_errors=True)
    encode(spark, src_path, warm_out, resume=False)
    shutil.rmtree(warm_out, ignore_errors=True)

    t0 = time.time()
    encode(spark, src_path, out, resume=False)
    queries["encode"] = round(time.time() - t0, 3)

    t0 = time.time()
    decoded = decode(spark, out)
    n_out = decoded.count()
    queries["decode"] = round(time.time() - t0, 3)

    t0 = time.time()
    v = verify_digest(spark.read.parquet(src_path), decode(spark, out))
    queries["verify"] = round(time.time() - t0, 3)

    gate = size_gate(spark, out, info["orc_bytes"])

    # relational headliners over the driver testdata (Catalyst path)
    qfns = entry_mod.queries()
    for qname in ("pricing_summary", "dedup_exact", "json_chunks", "embed_topk",
                  "rollup_metrics"):
        t0 = time.time()
        qfns[qname](spark, sf_dir).collect()
        queries[qname] = round(time.time() - t0, 3)

    # exact token count from the manifest (raw token bytes / 4)
    from pyspark.sql import functions as F

    manifest = spark.read.parquet(os.path.join(out, "manifest", "chunks"))
    raw_token_bytes = (
        manifest.where(F.col("col") == "token_values")
        .agg(F.sum("raw_bytes")).collect()[0][0]
    )
    total_tokens = raw_token_bytes // 4
    raw_total_bytes = manifest.agg(F.sum("raw_bytes")).collect()[0][0]

    total = round(sum(queries.values()), 3)
    result = {
        "metric": "bench_total_wall",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": cpus,
        "n_rows": n_rows,
        "n_tokens": int(total_tokens),
        "bit_identical": bool(v["bit_identical"]) and n_out == n_rows,
        "encode_tokens_per_sec": round(total_tokens / queries["encode"], 1),
        "encode_gb_per_sec": round(raw_total_bytes / 1e9 / queries["encode"], 4),
        "encoded_bytes": gate["total_bytes"],
        "reference_orc_bytes": gate["reference_orc_bytes"],
        "compression_ratio_vs_orc": round(gate["ratio"], 4),
        "bits_per_token": round(gate["payload_bytes"] * 8 / total_tokens, 3),
        "under_orc_bar": gate["under_bar"],
    }
    spark.stop()
    shutil.rmtree(out, ignore_errors=True)  # don't leak RAM-backed output
    print(json.dumps(result))


if __name__ == "__main__":
    main()
