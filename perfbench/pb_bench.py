"""The benchmark harness and its two workloads.

A run gets its seeded inputs (cached, prepared outside the run's process),
sets the engine up once (Spark session + warm-up on a small input of the
same schema, plus the store encode for ``token_selective``), then runs the
workload's closed loop for ``--seconds`` seconds with one client, and
reports medians.  Every operation is counted in ``attempted``; one that
raises or returns a wrong result is counted in ``failed``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time

import pyarrow.dataset as ds

import pb_inputs

SELECTIVE_CHUNK_BYTES = 1 << 19  # small chunks so the zone maps can prune
SORT_BY = ["source", "n_tok"]
#: full decode + query + verify passes per encoded store in token_full: the
#: store is written once and read twice per cycle, which doubles the read
#: samples of a window
READS_PER_ENCODE = 2
#: after its query window, token_selective re-encodes the store, scans it
#: and verifies it this many times each, for its encode, decode and verify
#: figures
SELECTIVE_ENCODES = 3
SELECTIVE_SCANS = 3
SELECTIVE_VERIFIES = 3


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def process_age() -> float:
    """Seconds since this process started, from /proc (clock-tick
    resolution): the boot-relative start time against the boot clock."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


def descendants(root: int) -> list[int]:
    """PIDs of every live descendant of ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


class RssSampler:
    """Peak memory of this process and all its descendants (the Spark JVM,
    the Python daemon and its forked workers): every 0.2 s, the sum of the
    live processes' proportional set sizes (``Pss`` in
    /proc/PID/smaps_rollup), which counts a page shared by several
    processes once in all; the largest sum is the peak.  ``parts`` splits
    the peak sample by process name."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self.parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_pss() -> dict[str, int]:
        parts: dict[str, int] = {}
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            parts[name] = (parts.get(name, 0)
                                           + int(line.split()[1]) * 1024)
                            break
            except OSError:  # the process ended between listing and reading
                pass
        return parts

    def _sample(self) -> None:
        parts = self._tree_pss()
        total = sum(parts.values())
        if total > self.peak:
            self.peak, self.parts = total, parts

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.ident is not None:
            self._thread.join()


# --- store accounting (exact counts from the manifest) ----------------------


def manifest_counts(store: str) -> dict:
    """Exact per-codec and selector counts from a store's chunk manifest."""
    t = ds.dataset(os.path.join(store, "manifest", "chunks"),
                   format="parquet", partitioning="hive").to_table(
        columns=["chunk_id", "col", "codec", "raw_bytes", "enc_bytes",
                 "n_rows", "selection"])
    codecs: dict[str, dict] = {}
    for codec, raw, enc in zip(t.column("codec").to_pylist(),
                               t.column("raw_bytes").to_pylist(),
                               t.column("enc_bytes").to_pylist()):
        c = codecs.setdefault(codec, {"chunks": 0, "raw_bytes": 0,
                                      "enc_bytes": 0})
        c["chunks"] += 1
        c["raw_bytes"] += raw
        c["enc_bytes"] += enc
    cached = fallbacks = n_sel = 0
    err = actual_sum = 0
    for s in t.column("selection").to_pylist():
        sel = json.loads(s)
        n_sel += 1
        cached += bool(sel.get("cached"))
        ests = sel.get("estimates") or {}
        if ests:
            best = min(ests, key=ests.get)
            if sel["codec"] != best:
                fallbacks += 1  # the guard replaced the estimated winner
            err += abs(ests[best] - sel["actual_bytes"])
            actual_sum += sel["actual_bytes"]
    cols = t.column("col").to_pylist()
    raw = t.column("raw_bytes").to_numpy()
    token_raw = int(sum(r for c, r in zip(cols, raw) if c == "token_values"))
    first_col = cols[0] if cols else None
    rows = int(sum(n for c, n in zip(cols, t.column("n_rows").to_pylist())
                   if c == first_col))
    return {
        "chunks": len(set(t.column("chunk_id").to_pylist())),
        "rows": rows,
        "raw_bytes": int(raw.sum()),
        "payload_bytes": int(t.column("enc_bytes").to_numpy().sum()),
        "tokens": token_raw // 4,
        "codecs": codecs,
        "selector": {
            "records": n_sel,
            "cache_hit_frac": cached / max(1, n_sel),
            "guard_fallbacks": fallbacks,
            "estimate_error": err / max(1, actual_sum),
        },
    }


# --- the harness --------------------------------------------------------------


class Bench:
    def __init__(self, workload: str, seconds: float, trace: bool,
                 work: str):
        self.workload, self.seconds, self.trace = workload, seconds, trace
        self.work = work
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.timings: dict[str, list[float]] = {}
        self.setup_times: dict = {}
        self.counts: dict | None = None
        self.counts_repeat = True
        self.gate: dict | None = None
        self.scan_mb_s: list[float] = []  # token_selective's full scans
        self.prep_s = 0.0  # this run's input preparation, not in setup_s
        self.input_gen_s = 0.0  # when the cached input was generated
        self.driver_memory: str | None = None
        self.ticks0 = cpu_ticks()
        self.trace_dir = os.path.join(work, "trace")
        self.spark = None
        self.tracer = None
        self._seq = 0
        self.rss = RssSampler()
        self.ncpu = len(os.sched_getaffinity(0))

    # -- operations --

    def fresh_dir(self, name: str) -> str:
        self._seq += 1
        d = os.path.join(self.work, f"{name}-{self._seq}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def op(self, kind: str, fn, check=None, traced: bool = False,
           timed: bool = True):
        """Run one operation; returns (value, seconds) or (None, None) when it
        failed.  ``fn`` may return ``(value, extra)`` with ``extra`` a dict
        of per-operation details (e.g. its planning time)."""
        self._seq += 1
        label = f"{kind}-{self._seq}"
        self.attempted += 1
        rec = {"label": label, "kind": kind, "traced": traced}
        if self.tracer is not None:
            self.tracer.begin(label, traced)
        rec["t_call"] = time.time()
        t0 = time.perf_counter()
        try:
            value, extra = fn()
            dt = time.perf_counter() - t0
            rec["t_ret"] = time.time()
            err = check(value) if check else None
        except Exception as e:  # noqa: BLE001 — every failure is counted
            dt, err, value, extra = None, f"{type(e).__name__}: {e}", None, {}
        rec.update(extra or {}, ok=not err)
        if self.tracer is not None:
            self.tracer.end(rec)
        if err:
            self.failed += 1
            self.errors.append(f"{label}: {err}"[:500])
            return None, None
        if timed:
            self.timings.setdefault(kind, []).append(dt)
        return value, dt

    # -- session --

    def start_session(self):
        from clj_orc_spark.session import get_spark

        spark = get_spark(master=f"local[{self.ncpu}]",
                          app_name=f"perfbench-{self.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        self.driver_memory = spark.sparkContext.getConf().get(
            "spark.driver.memory")
        return spark

    def setup(self, warm, store=None) -> None:
        """Start the session and warm it up; ``store`` (token_selective)
        encodes the query store.  ``setup_s`` runs from process start to
        the end of the set-up, less the input preparation."""
        import pb_trace

        t_begin = time.perf_counter()
        self.spark = self.start_session()
        t_session = time.perf_counter()
        self.tracer = (pb_trace.Tracer(self.spark, self.trace_dir)
                       if self.trace else None)
        warm()
        t_warm = time.perf_counter()
        if store is not None:
            store()
        t_ready = time.perf_counter()
        self.setup_times = {
            "setup_s": process_age() - self.prep_s,
            "start_s": t_session - t_begin,
            "warmup_s": t_warm - t_session,
            "store_s": t_ready - t_warm,
            "warm_ops": self.timings,
        }
        # set-up operations are counted, but their times are not reported
        self.timings = {}

    # -- stores --

    def record_counts(self, store: str) -> dict:
        """Read the store's exact counts; note whether they repeat."""
        counts = manifest_counts(store)
        if self.counts is not None and counts != self.counts:
            self.counts_repeat = False
        self.counts = counts
        return counts


# --- operations -------------------------------------------------------------


def encode_op(b, src, out, n_rows, kind="encode", traced=False, **kw):
    from clj_orc_spark.pipeline import encode

    def fn():
        return encode(b.spark, src, out, resume=False, **kw), {}

    def check(report):
        rows = manifest_counts(out)["rows"]
        if rows != n_rows:
            return f"manifest holds {rows} rows, expected {n_rows}"
        return None

    return b.op(kind, fn, check, traced)


def decode_op(b, store, n_rows, traced=False):
    """Full decode into Spark's ``noop`` sink."""
    from clj_orc_spark.pipeline import decode

    def fn():
        t0 = time.perf_counter()
        df = decode(b.spark, store)
        plan_s = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        return None, {"plan_s": plan_s, "rows": n_rows}

    return b.op("decode", fn, traced=traced)


def verify_op(b, src, store, n_rows, traced=False):
    from clj_orc_spark.pipeline import decode, verify_digest

    def fn():
        return verify_digest(b.spark.read.parquet(src),
                             decode(b.spark, store)), {}

    def check(v):
        if not v["bit_identical"]:
            return f"digest mismatch: {v}"
        if v["total"] != n_rows or v["decoded_total"] != n_rows:
            return f"row counts {v['total']}/{v['decoded_total']} != {n_rows}"
        return None

    return b.op("verify", fn, check, traced)


def gate_op(b, store, orc_bytes):
    from clj_orc_spark.pipeline import size_gate

    return b.op("size_gate", lambda: (size_gate(b.spark, store, orc_bytes), {}),
                timed=False)


def query_op(b, store, q, expect, kind="query", traced=False):
    """One column-pruned ``decode(...).count()``; ``expect`` is its row
    count as pyarrow computes it."""
    from clj_orc_spark.pipeline import decode

    def fn():
        t0 = time.perf_counter()
        df = decode(b.spark, store, columns=pb_inputs.SELECTIVE_COLUMNS,
                    **q["args"])
        plan_s = time.perf_counter() - t0
        n = df.count()
        return n, {"plan_s": plan_s, "rows": n}

    def check(n):
        return None if n == expect else f"{q} returned {n} rows, expected {expect}"

    return b.op(kind, fn, check, traced)


# --- workloads ----------------------------------------------------------------


def _deadline(b) -> float:
    b.ticks0 = cpu_ticks()
    return time.perf_counter() + b.seconds


def _warmup(b, warm, **encode_kw) -> None:
    """Each kind of operation of the workloads once, on the warm-up input."""
    out = b.fresh_dir("warm")
    encode_op(b, warm["parquet"], out, warm["n_rows"], **encode_kw)
    decode_op(b, out, warm["n_rows"])
    query_op(b, out, warm["query"], warm["query"]["rows"])
    verify_op(b, warm["parquet"], out, warm["n_rows"])
    shutil.rmtree(out, ignore_errors=True)


def run_token_full(b, inp) -> None:
    src, n = inp["parquet"], inp["n_rows"]
    b.setup(lambda: _warmup(b, inp["warm"]))
    # one narrow n_tok band per read pass: planning plus a scan of the small
    # columns, a different operation from the full decode
    queries = [q for q in inp["queries"] if q["kind"] == "n_tok_range"]
    n_queries = 0

    def cycle(traced):
        nonlocal n_queries
        out = b.fresh_dir("store")
        if encode_op(b, src, out, n, traced=traced)[1] is not None:
            b.record_counts(out)
            for _ in range(READS_PER_ENCODE):
                decode_op(b, out, n, traced)
                q = queries[n_queries % len(queries)]
                n_queries += 1
                query_op(b, out, q, q["rows"], traced=traced)
                verify_op(b, src, out, n, traced)
            b.gate = gate_op(b, out, inp["orc_bytes"])[0] or b.gate
        shutil.rmtree(out, ignore_errors=True)

    end, i = _deadline(b), 0
    # at least two cycles; when tracing, traced and untraced cycles alternate
    while time.perf_counter() < end or i < 2:
        traced = b.trace and i % 2 == 0
        t0 = time.perf_counter()
        cycle(traced)
        b.timings.setdefault("unit_traced" if traced else "unit", []).append(
            time.perf_counter() - t0)
        i += 1


def run_token_selective(b, inp) -> None:
    src, n = inp["parquet"], inp["n_rows"]
    kw = {"sort_by": SORT_BY, "chunk_bytes": SELECTIVE_CHUNK_BYTES}
    store_dir = b.fresh_dir("store")
    b.setup(lambda: _warmup(b, inp["warm"], **kw),
            lambda: encode_op(b, src, store_dir, n, kind="store_encode", **kw))
    b.record_counts(store_dir)
    with open(os.path.join(store_dir, "plan.json")) as f:
        parts = pb_inputs.part_expectations(src, json.load(f))
    queries = inp["queries"]
    scan = next(q for q in queries if q["kind"] == "scan")

    def query(q, kind, traced):
        if "part_ids" in q["args"]:
            pid = q["args"]["part_ids"][0]
            rows, nbytes = parts[pid] if pid < len(parts) else (0, 0)
        else:
            rows, nbytes = q["rows"], q["bytes"]
        _, dt = query_op(b, store_dir, q, rows, kind, traced)
        if dt is not None and q["kind"] == "scan":
            b.scan_mb_s.append(nbytes / 1e6 / dt)
        return dt

    rnd = len(pb_inputs.QUERY_KINDS)
    end, i = _deadline(b), 0
    # whole rounds (one query of each kind), so every run has the same mix;
    # when tracing, traced and untraced rounds alternate
    while (time.perf_counter() < end or i % rnd
           or i < (2 * rnd if b.trace else 1)):
        traced = b.trace and (i // rnd) % 2 == 0
        dt = query(queries[i % len(queries)], "query", traced)
        if dt is not None:
            b.timings.setdefault("unit_traced" if traced else "unit",
                                 []).append(dt)
        i += 1
    # the read-only loop never encodes or verifies: do both a fixed number
    # of times after it, with more full scans for the decode rate
    for i in range(SELECTIVE_SCANS):
        query(scan, "scan", b.trace and i % 2 == 0)
    for i in range(SELECTIVE_ENCODES):
        out = b.fresh_dir("store")
        if encode_op(b, src, out, n, traced=b.trace and i % 2 == 0,
                     **kw)[1] is not None:
            b.record_counts(out)
        shutil.rmtree(out, ignore_errors=True)
    for i in range(SELECTIVE_VERIFIES):
        verify_op(b, src, store_dir, n, traced=b.trace and i % 2 == 0)
    b.gate = gate_op(b, store_dir, inp["orc_bytes"])[0]


WORKLOADS = {
    "token_full": run_token_full,
    "token_selective": run_token_selective,
}


# --- results --------------------------------------------------------------------

#: end-to-end metric → unit; the names and units BENCHMARK.json lists
END_TO_END = {
    "setup_s": "s", "encode_mb_s": "MB/s", "decode_mb_s": "MB/s",
    "verify_s": "s", "query_p50_s": "s", "stored_bytes_per_raw_byte": "ratio",
    "size_vs_orc": "ratio", "peak_rss_mb": "MB",
}
CODECS = ["plain_int", "for_bitpack", "patched_for", "delta", "rle",
          "dict_int", "byte_split", "plain_str", "dict_str", "fsst"]


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(b) -> dict:
    c, t = b.counts or {}, b.timings
    raw_mb = c.get("raw_bytes", 0) / 1e6
    if b.workload == "token_selective":
        # the column-pruned full scans give the decode rate
        decode_mb_s = _med(b.scan_mb_s)
    else:
        decode_mb_s = _med([raw_mb / s for s in t.get("decode", [])])
    gate = b.gate or {}
    return {
        "setup_s": b.setup_times.get("setup_s", 0.0),
        "encode_mb_s": _med([raw_mb / s for s in t.get("encode", [])]),
        "decode_mb_s": decode_mb_s,
        "verify_s": _med(t.get("verify", [])),
        "query_p50_s": _med(t.get("query", [])),
        "stored_bytes_per_raw_byte": (gate.get("total_bytes", 0)
                                      / max(1, c.get("raw_bytes", 0))),
        "size_vs_orc": gate.get("ratio", 0.0),
        "peak_rss_mb": b.rss.peak / 1e6,
    }


def exact_counts(b) -> dict:
    """The per-layer numbers read from the manifest: exact and repeatable."""
    c = b.counts or {"codecs": {}, "selector": {}}
    out = {}
    for codec in CODECS:
        got = c["codecs"].get(codec, {})
        for k in ("raw_bytes", "enc_bytes", "chunks"):
            out[f"kernels.{codec}.{k}"] = got.get(k, 0)
    for k in ("cache_hit_frac", "guard_fallbacks", "estimate_error"):
        out[f"selector.{k}"] = c["selector"].get(k, 0)
    return out


def per_layer(b) -> dict:
    import pb_trace

    b.tracer.collect()
    ops = b.tracer.ops
    selective = b.workload == "token_selective"
    # the operations a unit (cycle or query) is made of
    unit_kinds = ({"query"} if selective
                  else {"encode", "decode", "query", "verify"})
    window = [o for o in ops if o["kind"] in unit_kinds]
    encodes = [o for o in ops if o["kind"] == "encode"]
    reads = [o for o in window
             if o["kind"] == ("query" if selective else "decode")]
    verifies = [o for o in ops if o["kind"] == "verify"]
    units = max(1, len(b.timings.get("unit_traced", [])))
    out = {
        "session.start_s": b.setup_times.get("start_s", 0.0),
        "session.warmup_s": b.setup_times.get("warmup_s", 0.0),
        "datagen.gen_s": b.input_gen_s,
    }
    enc = pb_trace.encode_layers(encodes)
    for k in ("plan_s", "commit_s", "jobs", "shuffle_bytes", "task_s",
              "task_skew", "task_retries", "gc_s", "read_s", "chunk_s"):
        out[f"pipeline.encode.{k}"] = enc.get(k, 0)
    _, enc_self, _ = pb_trace.span_totals(
        [r for o in encodes for r in o["workers"]])
    n_enc = max(1, len(encodes))
    out["selector.stats_s"] = enc_self["selector.stats"] / n_enc
    out["selector.select_s"] = enc_self["selector.select"] / n_enc
    for codec in CODECS:
        out[f"kernels.{codec}.encode_s"] = (
            enc_self[f"kernels.{codec}.encode"] / n_enc)
    _, win_self, _ = pb_trace.span_totals(
        [r for o in window for r in o["workers"]])
    for codec in CODECS:
        out[f"kernels.{codec}.decode_s"] = (
            win_self[f"kernels.{codec}.decode"] / units)
    out["kernels.crc_s"] = win_self["kernels.crc"] / units
    kern = sum(v for k, v in win_self.items()
               if k.startswith("kernels.") and k != "kernels.decode_any")
    task_s = sum(s["run_s"] for o in window for s in o["stages"].values())
    out["kernels.share"] = kern / task_s if task_s > 0 else 0.0
    out.update(exact_counts(b))
    dec = pb_trace.decode_layers(reads, (b.counts or {}).get("chunks", 0))
    for k in ("plan_s", "chunks_read_frac", "rows_decoded_per_row_returned",
              "read_s", "crc_s", "kernel_s", "assemble_s", "handoff_s",
              "other_s", "task_s", "attributed_frac", "task_skew",
              "task_retries"):
        out[f"pipeline.decode.{k}"] = dec.get(k, 0)
    ver = pb_trace.verify_layers(verifies)
    for k in ("source_leg_s", "decoded_leg_s", "agg_s"):
        out[f"pipeline.verify.{k}"] = ver.get(k, 0)
    traced = _med(b.timings.get("unit_traced", []))
    untraced = _med(b.timings.get("unit", []))
    out["trace.overhead_frac"] = traced / untraced - 1 if untraced else 0.0
    out["ops.failed_frac"] = b.failed / max(1, b.attempted)
    return out


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("_frac", "share", "error")):
        return "frac"
    if name.endswith(("skew", "returned")):
        return "ratio"
    return "count"
