"""Self-tests of the benchmark.  From the repository root::

    python -m pytest perfbench/ -q -p no:cacheprovider

Each tiny run starts Spark, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import pb_bench  # noqa: E402


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["token_full", "token_selective"])
def test_tiny_run_emits_every_metric(workload, trace):
    p = _run("--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = _declared()["per_layer" if trace else "end_to_end"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in declared}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory without the engine it exits non-zero, no result."""
    p = _run("--workload", "token_full", "--seed", "1", "--seconds", "1",
             cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout == ""


def _flip_payload_byte(store: str) -> None:
    """Flip one byte inside the largest payload of one chunk file, keeping
    the parquet file itself well-formed, so only the chunk CRC can tell."""
    chunks = os.path.join(store, "chunks")
    path = next(os.path.join(d, f) for d, _, fs in sorted(os.walk(chunks))
                for f in sorted(fs) if f.endswith(".parquet"))
    t = pq.read_table(path)
    payloads = t.column("payload").to_pylist()
    i = max(range(len(payloads)), key=lambda j: len(payloads[j]))
    b = bytearray(payloads[i])
    b[len(b) // 2] ^= 0x40
    payloads[i] = bytes(b)
    idx = t.schema.get_field_index("payload")
    t = t.set_column(idx, t.schema.field(idx),
                     pa.array(payloads, t.schema.field(idx).type))
    pq.write_table(t, path)


def test_flipped_payload_byte_is_counted_as_failed(tmp_path):
    import run

    work = str(tmp_path / "work")
    run._environment(ROOT, work, trace=False)
    sys.path.insert(0, ROOT)
    from clj_orc_spark.datagen import write_token_table

    n = 1500
    src = write_token_table(str(tmp_path / "in"), n, seed=5)["parquet"]
    b = pb_bench.Bench("token_full", 1.0, False, work)
    b.spark = b.start_session()
    try:
        # the copy is a second encode: a store's manifest names its chunk
        # files by absolute path, so a copied directory reads the original
        good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
        assert pb_bench.encode_op(b, src, good, n)[1] is not None
        assert pb_bench.encode_op(b, src, bad, n)[1] is not None
        _flip_payload_byte(bad)
        assert pb_bench.decode_op(b, good, n)[1] is not None
        assert pb_bench.verify_op(b, src, good, n)[1] is not None
        assert b.failed == 0
        assert pb_bench.decode_op(b, bad, n) == (None, None)
        assert pb_bench.verify_op(b, src, bad, n) == (None, None)
    finally:
        run._stop_spark(b)
    assert (b.attempted, b.failed) == (6, 2)
    assert all("CRC mismatch" in e for e in b.errors), b.errors
