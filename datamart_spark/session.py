"""SparkSession factory with scale-appropriate defaults.

Designed for a multi-executor cluster at 100 TB; tested on local[N].
Every knob here matters at scale:

- AQE on: runtime coalescing + skew-join splitting (stopword terms in
  the posting build are the classic skew case — SURVEY.md §4).
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden to ~2-3× total executor cores (AQE coalesces down).
- Arrow enabled: every custom kernel is an Arrow-batched pandas UDF
  (north rule: no per-row Python).
- Session timezone pinned UTC so timestamps compare bit-identically
  against the DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import os
import zipfile

from pyspark.sql import SparkSession


def package_zip(dest_dir: str = "/tmp") -> str:
    """Zip this package for executor shipping — the local-mode analog of
    ``spark-submit --py-files datamart_spark.zip`` (north rule: runs via
    spark-submit --py-files on multi-executor clusters).

    The zip is named after the package directory, so two checkouts on
    one host never ship each other's code, and it is rebuilt when its
    file list differs from the tree's or any ``.py`` is newer."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    key = hashlib.sha1(pkg_dir.encode()).hexdigest()[:12]
    out = os.path.join(dest_dir, f"datamart_spark_pkg-{key}.zip")
    sources = {
        os.path.join(root, f): "datamart_spark/" + os.path.relpath(
            os.path.join(root, f), pkg_dir
        ).replace(os.sep, "/")
        for root, _, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    }
    if os.path.exists(out) and os.path.getmtime(out) >= max(
        os.path.getmtime(p) for p in sources
    ):
        with zipfile.ZipFile(out) as z:
            if sorted(z.namelist()) == sorted(sources.values()):
                return out
    tmp = out + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for full, rel in sources.items():
            z.write(full, rel)
    os.replace(tmp, out)
    return out


def get_spark(
    app_name: str = "datamart_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if master.startswith("local["):
        inner = master[6:-1]
        if inner.isdigit():
            cores = int(inner)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # zstd writes measured ~10% faster than snappy on the 24M-row
        # tokens checkpoint AND smaller files (guide §6: "smaller than
        # snappy at similar read speed")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        # Int.MaxValue short-circuits BatchedPythonArrowInput's PER-ROW
        # ArrowWriter.sizeInBytes() walk (jstack-measured as the top JVM
        # cost of every mapInPandas/mapInArrow stage — it re-measures all
        # column buffers for each appended row).  Batch size stays bounded
        # by maxRecordsPerBatch above; our UDF rows are narrow.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(2**31 - 1))
        # local corpora are a few hundred MB: the 128MB default packs
        # them into ~4 input splits and caps every map stage at 4 tasks
        # regardless of cores; 16MB keeps map stages parallel at test
        # scale (at real scale file count dwarfs cores and this is moot)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(8 * 1024 * 1024)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # shuffle/spill on tmpfs when available: the sandbox disk does
        # ~370 MB/s and 32 concurrent shuffle writers saturate it (on a
        # real cluster this is the local-SSD scratch volume)
        .config(
            "spark.local.dir",
            "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
        )
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # ship the package to python workers (spark-submit --py-files analog);
    # without this, UDFs fail to unpickle when the driver cwd is elsewhere
    spark.sparkContext.addPyFile(package_zip())
    return spark
