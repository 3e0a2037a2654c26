"""PySpark daemon module for traced benchmark runs.

Set as ``spark.python.daemon.module``: installs the span wrappers of
:mod:`pb_worker` once, then runs the stock PySpark daemon, whose forked
workers inherit the wrapped engine.
"""

import pb_worker

if __name__ == "__main__":
    pb_worker.install_worker()

    import pyspark.daemon

    pyspark.daemon.manager()
