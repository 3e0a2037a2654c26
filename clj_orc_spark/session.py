"""SparkSession factory with engine-appropriate defaults.

Single place for the knobs that matter at 100 TB: AQE on, bounded Arrow
batches (the analog of the reference's ``bat-size``/``buf-size`` memory
governor, `src/orc/read.clj:14,16`), and shuffle partitions sized to the
local[] stand-in (a real deployment overrides via spark-submit --conf).
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

ARROW_BATCH_ROWS = 4096  # rows per Arrow batch crossing the JVM↔Python boundary


def arrow_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """DataFrame of driver-side ``rows`` typed by ``ddl``, built from a
    ``pyarrow.Table`` so no Python task runs to produce it.

    ``createDataFrame(parallelize(rows))`` or ``createDataFrame(list)``
    would run PySpark's row-conversion map as a Python RDD, so each task
    over the frame pays a SECOND Python-worker round before its
    ``mapInArrow`` — about 0.2 s of worker CPU per task on PySpark 4.1
    (every task re-reads ``pyspark.zip``'s central directory per cached
    importer).

    Below ``spark.sql.execution.arrow.localRelationThreshold`` the table
    plans as a JVM ``LocalTableScan`` with ``min(len(rows),
    defaultParallelism)`` partitions, each a contiguous run of rows.  Above
    it Spark reads the table as a JVM RDD with one partition per Arrow
    batch, so the table is cut into that many contiguous batches here too;
    a batch longer than ``spark.sql.execution.arrow.maxRecordsPerBatch``
    is split further, which only adds partitions."""
    struct = StructType.fromDDL(ddl)
    schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
        schema=schema,
    )
    n = len(rows)
    k = min(n, spark.sparkContext.defaultParallelism)
    if k > 1:  # the same contiguous cut LocalTableScan makes
        bounds = [i * n // k for i in range(k + 1)]
        table = pa.Table.from_batches(
            [b for lo, hi in zip(bounds, bounds[1:])
             for b in table.slice(lo, hi - lo).to_batches()],
            schema=schema,
        )
    return spark.createDataFrame(table, struct)


def _local_dir() -> str:
    """Shuffle/spill scratch dir.  Prefer RAM-backed /dev/shm when present:
    on a real cluster every node brings its own NVMe, so shuffle bandwidth
    scales with cluster size — a single shared disk in this sandbox would
    serialize it and misrepresent scaling.  Override: SPARK_LOCAL_DIRS."""
    env = os.environ.get("SPARK_LOCAL_DIRS")
    if env:
        return env
    if os.path.isdir("/dev/shm"):
        d = "/dev/shm/clj-orc-spark-local"
        os.makedirs(d, exist_ok=True)
        return d
    return "/tmp"


def package_zip() -> str:
    """Zip this package for worker shipment (the --py-files artifact).

    ``spark-submit --py-files $(python -c 'from clj_orc_spark.session import
    package_zip; print(package_zip())')`` is the cluster deployment path
    (north_rule); :func:`get_spark` also ships it automatically so local
    drivers work from any cwd.
    """
    import zipfile

    import clj_orc_spark

    pkg_dir = os.path.dirname(os.path.abspath(clj_orc_spark.__file__))
    zpath = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), f"clj_orc_spark-{clj_orc_spark.__version__}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "clj_orc_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    return zpath


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(master: str | None = None, app_name: str = "clj-orc-spark") -> SparkSession:
    """The engine's session; ``master=None`` means ``local[default_cpus()]``."""
    if master is None:
        master = f"local[{default_cpus()}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # temporal predicates compare NTZ columns through a session-tz cast
        # (decode._pred_col); pin UTC so days/micros bounds are machine-
        # independent — also what a multi-executor cluster should run anyway
        .config("spark.sql.session.timeZone", "UTC")
        # write parquet TIMESTAMP_MICROS, not INT96: pyarrow reads INT96 as
        # naive ns (tz-awareness lost), micros keep the isAdjustedToUTC flag
        # the temporal kinds (ts_us vs ts_us_utc) are derived from
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.files.maxPartitionBytes", str(32 << 20))
        .config("spark.local.dir", _local_dir())
        # vectorized parquet read for array<int32> token columns (off by
        # default; measured ~20% scan win on the 10.6 GB token table)
        .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
        .config("spark.sql.parquet.compression.codec", "uncompressed")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.addPyFile(package_zip())
    return spark
