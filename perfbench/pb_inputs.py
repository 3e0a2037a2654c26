"""Seeded benchmark inputs, cached per (seed, size).

The engine only ever sees the files written here.  Each input directory
holds ``input.parquet`` (the token table of ``datagen.write_token_table``),
``input.orc`` (the pyarrow ORC copy that ``size_gate`` compares against),
``queries.json`` (the seeded query mix with the row counts and logical
bytes pyarrow computes for it) and ``meta.json`` (row count, generation
time).  A directory is complete once ``meta.json`` exists, so an
interrupted generation is redone on the next run.  The warm-up input, a
small token table of the same schema, has a directory of its own.

Run as a script it prepares one input and exits::

    python3 perfbench/pb_inputs.py <cache_dir> <seed> <size>

which is how the benchmark generates inputs outside its own process, so
that their memory never counts in the run's ``peak_rss_mb``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: token rows per input size; "tiny" is for the benchmark's self-tests.
#: 32768 rows are four 8192-row groups: one encode part per core.
ROWS = {"full": 32768, "tiny": 2000}
WARM_ROWS = 2048  # rows of the warm-up input
WARM_ROW_GROUPS = 4
QUERY_MIX = 400  # queries drawn per seed; a run issues a prefix of them
#: the mix repeats these kinds in this order; the seed draws the parameters
QUERY_KINDS = ("n_tok_range", "source_in", "part_ids", "doc_id_range", "scan")
SELECTIVE_COLUMNS = ["doc_id", "n_tok", "source"]


def prepare(cache_dir: str, seed: int, size: str) -> dict:
    """Return the input's meta dict, generating the files on first use."""
    n_rows = ROWS[size]
    d = os.path.join(cache_dir, f"token-s{seed}-n{n_rows}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        t0 = time.perf_counter()
        from clj_orc_spark.datagen import write_token_table

        info = write_token_table(d, n_rows, seed=seed)
        os.replace(info["parquet"], os.path.join(d, "input.parquet"))
        os.replace(info["orc"], os.path.join(d, "input.orc"))
        table = pq.read_table(os.path.join(d, "input.parquet"),
                              columns=SELECTIVE_COLUMNS)
        _write_json(os.path.join(d, "queries.json"), query_mix(table, seed))
        _write_json(meta_path, {"n_rows": n_rows, "seed": seed,
                                "gen_s": time.perf_counter() - t0})
    with open(meta_path) as f:
        meta = json.load(f)
    with open(os.path.join(d, "queries.json")) as f:
        meta["queries"] = json.load(f)
    meta["dir"] = d
    meta["parquet"] = os.path.join(d, "input.parquet")
    meta["orc_bytes"] = os.path.getsize(os.path.join(d, "input.orc"))
    meta["warm"] = _warm_input(cache_dir)
    return meta


def _warm_input(cache_dir: str) -> dict:
    """The warm-up input and one query on it.  The input is split into
    several row groups, so that every core's Python worker starts and runs
    each operation during the warm-up."""
    d = os.path.join(cache_dir, f"warm-n{WARM_ROWS}-rg{WARM_ROW_GROUPS}")
    path = os.path.join(d, "input.parquet")
    if not os.path.exists(path):
        from clj_orc_spark.datagen import gen_table

        os.makedirs(d, exist_ok=True)
        pq.write_table(gen_table(WARM_ROWS, seed=0), path + ".tmp",
                       row_group_size=WARM_ROWS // WARM_ROW_GROUPS)
        os.replace(path + ".tmp", path)
    n_tok = pq.read_table(path, columns=["n_tok"]).column("n_tok").to_numpy()
    lo, hi = 100, 120
    return {"parquet": path, "n_rows": WARM_ROWS,
            "query": {"kind": "n_tok_range", "args": {"n_tok_range": [lo, hi]},
                      "rows": int(((n_tok >= lo) & (n_tok <= hi)).sum())}}


def _write_json(path: str, obj) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.replace(path + ".tmp", path)


# --- token_selective query mix --------------------------------------------


def query_mix(table: pa.Table, seed: int) -> list[dict]:
    """A seeded mix of column-pruned ``decode`` calls, each with the row
    count and logical bytes that pyarrow computes for it.

    ``part_ids`` queries have no expectation here: the part → row group
    assignment is the encoder's plan, so :func:`part_expectations` counts
    them once the store is encoded."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    n_tok = table.column("n_tok").to_numpy()
    source = table.column("source").to_numpy(zero_copy_only=False)
    doc_id = table.column("doc_id").to_numpy(zero_copy_only=False)
    row_bytes = _row_bytes(table)
    sources = sorted(set(source.tolist()))
    out = []
    for i in range(QUERY_MIX):
        kind = QUERY_KINDS[i % len(QUERY_KINDS)]
        q = {"kind": kind, "args": {}}
        if kind == "scan":
            mask = np.ones(len(n_tok), dtype=bool)
        elif kind == "n_tok_range":
            lo = int(np.quantile(n_tok, rng.uniform(0.02, 0.98)))
            hi = lo + int(rng.integers(0, 8))
            q["args"]["n_tok_range"] = [lo, hi]
            mask = (n_tok >= lo) & (n_tok <= hi)
        elif kind == "source_in":
            s = sources[int(rng.integers(len(sources)))]
            q["args"]["source_in"] = [s]
            mask = source == s
        elif kind == "doc_id_range":
            # a "<source>-<shard>" prefix: sorted by source, so the zone
            # maps can skip the other sources' chunks
            s = sources[int(rng.integers(len(sources)))]
            prefix = f"{s}-{int(rng.integers(16)):04d}-"
            q["args"]["doc_id_range"] = [prefix, prefix + "~"]
            mask = (doc_id >= prefix) & (doc_id <= prefix + "~")
        else:
            q["args"]["part_ids"] = [int(rng.integers(4))]
            mask = None
        if mask is not None:
            q["rows"] = int(mask.sum())
            q["bytes"] = int(row_bytes[mask].sum())
        out.append(q)
    return out


def part_expectations(parquet: str, plan: dict) -> list[tuple[int, int]]:
    """Rows and logical bytes of every encode part, from the plan's
    ``(file, row_group, lo, hi)`` units, counted on the source's small
    columns."""
    md = pq.ParquetFile(parquet).metadata
    rg_start = np.cumsum([0] + [md.row_group(i).num_rows
                                for i in range(md.num_row_groups)])
    row_bytes = _row_bytes(pq.read_table(parquet, columns=SELECTIVE_COLUMNS))
    out = []
    for units in plan["parts"]:
        rows = bytes_ = 0
        for _file, rg, lo, hi in units:  # the input is one file
            start, end = int(rg_start[rg]), int(rg_start[rg + 1])
            a, b = (start + int(lo), start + int(hi)) if int(hi) >= 0 \
                else (start, end)
            rows += b - a
            bytes_ += int(row_bytes[a:b].sum())
        out.append((rows, bytes_))
    return out


def _row_bytes(table: pa.Table) -> np.ndarray:
    """Logical bytes per row of the column-pruned queries' columns."""
    return (pc.binary_length(table.column("doc_id")).to_numpy()
            + pc.binary_length(table.column("source")).to_numpy() + 4)


if __name__ == "__main__":
    prepare(sys.argv[1], int(sys.argv[2]), sys.argv[3])
