"""Runtime hardening for foreign SparkSessions.

The external driver calls ``queries()[name](spark, sf_dir)`` with a session
it created itself — no PYTHONPATH for executor Python workers, default
Arrow/AQE settings. ``ensure_runtime(spark)`` makes any session usable:

* ships this package to executors via ``sc.addPyFile`` (a zip built on
  first use) — the runtime equivalent of ``spark-submit --py-files``;
* applies the engine's session-settable tuning (Arrow batch size, AQE
  advisory sizes, file split size) without touching static confs.

Idempotent and cheap after the first call.
"""

from __future__ import annotations

import os
import zipfile

_DONE = set()

# The engine's session-settable tuning: get_spark applies it at build
# time, ensure_runtime on foreign sessions.
SESSION_CONFS = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small Arrow batches + a large worker pipe buffer (get_spark's
    # spark.buffer.size) pipeline the JVM<->Python transfer of fat binary
    # rows (~3.5x on the 2.5 GB image column: 10.2s -> 2.9s measured) — big
    # batches serialize whole-batch-at-a-time and stall both sides on the
    # default 64k pipe.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    # UDF stages cost ~per ROW, not per byte: AQE's 64 MB advisory size
    # coalesces a 60 MB tile-shuffle into 1-2 partitions and strands the
    # cluster on pandas work. 4 MB keeps post-shuffle stages wide enough.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "256k",
    # Decode/render UDFs are CPU-heavy per byte: the 128 MB default packs
    # a whole image table into a handful of scan tasks and strands the
    # other cores (observed 8/32 busy). 8 MB splits ~= seconds-long tasks —
    # the Spark analogue of the warp chunk memory budget
    # (alg/gdalwarpoperation.cpp:611 dfWarpMemoryLimit).
    "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
}


def ensure_pythonpath() -> None:
    """Make this package importable in executor Python workers regardless
    of the driver's cwd — the local-mode analogue of
    ``spark-submit --py-files``."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + pypath if pypath else "")


def _package_zip() -> str:
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join("/tmp", "gdal_spark_pkg.zip")
    src_mtime = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    if not os.path.exists(out) or os.path.getmtime(out) < src_mtime:
        tmp = out + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "gdal_spark", os.path.relpath(full, pkg_dir)
                        )
                        z.write(full, rel)
        os.replace(tmp, out)
    return out


def ensure_runtime(spark) -> None:
    key = id(spark.sparkContext)
    if key in _DONE:
        return
    ensure_pythonpath()
    try:
        spark.sparkContext.addPyFile(_package_zip())
    except Exception:
        pass  # already added or unsupported — PYTHONPATH covers local mode
    for k, v in SESSION_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — leave the session's value
    _DONE.add(key)
