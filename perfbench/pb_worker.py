"""Span recorder for the traced benchmark run (``--trace 1``).

This module is imported in two places:

* in every PySpark Python worker, through ``pb_daemon`` (the
  ``spark.python.daemon.module`` of traced runs), which calls
  :func:`install` before the daemon forks its workers;
* on the driver, where :func:`install_driver` makes the engine's
  ``mapInArrow`` functions time their Python side (:func:`time_udf`)
  before they are pickled.

:func:`install` wraps the engine's public entry points (codec
``encode``/``decode``, ``kernels.crc32``, ``kernels.decode_any``, the
selector's ``encode_column`` and its ``*_stats``/``select_*`` helpers,
``pipeline.decode.decode_chunk_table``, ``pipeline.encode``'s per-chunk
encoder and the pyarrow parquet reads).  Each wrapped call records a span
``(id, parent, name, start, end, thread, rows)``.  Spans are recorded only
in tasks whose Spark local property ``perfbench.trace`` is ``"1"``, so the
traced run can interleave traced and untraced operations to measure the
tracing overhead.  A task's spans stay in memory and are appended as one
JSON line to ``$PERFBENCH_TRACE_DIR/w-<pid>.jsonl`` when the task ends.

Only module-level functions are referenced from the pickled wrappers, so a
worker resolves them to this module's live state, not to a pickled copy.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from functools import wraps

TRACE_PROP = "perfbench.trace"
OP_PROP = "perfbench.op"

_task: dict | None = None  # the running task's record (one task per worker)
_ids = itertools.count(1)  # span ids; 0 is the task itself
_local = threading.local()  # per-thread stack of open span ids


def _enabled(task: dict) -> bool:
    if task["on"] is None:
        from pyspark import TaskContext

        tc = TaskContext.get()
        task["on"] = tc is not None and tc.getLocalProperty(TRACE_PROP) == "1"
        if task["on"]:
            task["op"] = tc.getLocalProperty(OP_PROP)
            task["stage"] = tc.stageId()
            task["partition"] = tc.partitionId()
    return task["on"]


class _Span:
    """Context manager that records one span into the running task."""

    __slots__ = ("name", "task", "sid", "parent", "t0", "rows")

    def __init__(self, name: str):
        self.name = name
        self.rows = None
        task = _task
        self.task = task if task is not None and _enabled(task) else None

    def __enter__(self):
        if self.task is not None:
            stack = getattr(_local, "stack", None)
            if stack is None:
                stack = _local.stack = []
            self.parent = stack[-1] if stack else 0
            self.sid = next(_ids)
            stack.append(self.sid)
            self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        if self.task is not None:
            t1 = time.perf_counter()
            _local.stack.pop()
            self.task["spans"].append(
                (self.sid, self.parent, self.name, self.t0, t1,
                 threading.get_ident(), self.rows)
            )
        return False


def _wrap(fn, name: str, count_rows: bool = False):
    if getattr(fn, "_pb_wrapped", False):
        return fn

    @wraps(fn)
    def wrapper(*args, **kwargs):
        with _Span(name) as sp:
            out = fn(*args, **kwargs)
            if count_rows and sp.task is not None:
                sp.rows = out.num_rows
            return out

    wrapper._pb_wrapped = True
    return wrapper


def timed_iter(gen):
    """Yield from ``gen``, recording each ``next()`` as a ``udf.next`` span:
    the time the task spends inside the engine's Python function, as
    opposed to handing batches to the JVM."""
    while True:
        with _Span("udf.next"):
            try:
                batch = next(gen)
            except StopIteration:
                return
        yield batch


def time_udf(fn):
    """Wrap a ``mapInArrow`` function so its Python-side time is traced."""

    def run(batches):
        return timed_iter(fn(batches))

    return run


def _flush(task: dict) -> None:
    path = os.path.join(os.environ["PERFBENCH_TRACE_DIR"],
                        f"w-{os.getpid()}.jsonl")
    rec = {k: task[k] for k in ("op", "stage", "partition", "spans")}
    with open(path, "a") as f:
        f.write(json.dumps(rec) + "\n")


def _hook_worker_main() -> None:
    import pyspark.daemon as daemon

    orig = daemon.worker_main

    def worker_main(infile, outfile):
        global _task
        _task = {"on": None, "spans": []}
        try:
            return orig(infile, outfile)
        finally:
            task, _task = _task, None
            if task["on"] and task["spans"]:
                _flush(task)

    daemon.worker_main = worker_main


def _patch(obj, attr: str, name: str, count_rows: bool = False) -> None:
    setattr(obj, attr, _wrap(getattr(obj, attr), name, count_rows))


def install() -> None:
    """Wrap the engine's entry points in this process (idempotent)."""
    from importlib import import_module

    import pyarrow.parquet as pq

    import clj_orc_spark.kernels as kernels
    import clj_orc_spark.kernels.base as kbase
    import clj_orc_spark.selector as sel

    # the package re-exports functions named like these modules
    dec = import_module("clj_orc_spark.pipeline.decode")
    enc = import_module("clj_orc_spark.pipeline.encode")

    for cls in {**kbase.INT_CODECS, **kbase.STR_CODECS}.values():
        for meth in ("encode", "decode"):
            fn = cls.__dict__[meth].__func__
            if not getattr(fn, "_pb_wrapped", False):
                setattr(cls, meth, classmethod(
                    _wrap(fn, f"kernels.{cls.name}.{meth}")))

    crc = _wrap(kbase.crc32, "kernels.crc")
    for mod in (kbase, kernels, enc, dec):
        mod.crc32 = crc
    decode_any = _wrap(kernels.decode_any, "kernels.decode_any")
    kernels.decode_any = dec.decode_any = decode_any
    encode_column = _wrap(sel.encode_column, "selector.encode_column")
    sel.encode_column = enc.encode_column = encode_column
    for fname in ("int_stats", "str_stats", "float_stats"):
        _patch(sel, fname, "selector.stats")
    for fname in ("select_int", "select_float", "select_str"):
        _patch(sel, fname, "selector.select")
    _patch(enc, "_encode_chunk_rows", "pipeline.encode.chunk")
    _patch(dec, "decode_chunk_table", "pipeline.decode.decode_chunk_table",
           count_rows=True)
    _patch(pq.ParquetFile, "read_row_group", "pyarrow.read")
    _patch(pq.ParquetFile, "read", "pyarrow.read")
    _patch(pq, "read_table", "pyarrow.read")


def install_driver() -> None:
    """Wrap the engine's ``mapInArrow`` function factories on the driver, so
    that the encode and decode tasks time their Python side."""
    from importlib import import_module

    for modname, factory in (("clj_orc_spark.pipeline.encode",
                              "make_rowgroup_encoder"),
                             ("clj_orc_spark.pipeline.decode",
                              "make_files_decoder")):
        mod = import_module(modname)
        orig = getattr(mod, factory)
        if getattr(orig, "_pb_wrapped", False):
            continue

        def make(*args, _orig=orig, **kwargs):
            return time_udf(_orig(*args, **kwargs))

        make._pb_wrapped = True
        setattr(mod, factory, make)


def install_worker() -> None:
    install()
    _hook_worker_main()
