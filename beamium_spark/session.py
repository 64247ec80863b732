"""SparkSession factory.

One JVM, tuned for the local[N] sandbox but with settings that hold on a
multi-executor cluster: AQE on (runtime re-plan + skew-join splitting),
Arrow on (vectorized pandas UDF transfer), UTC session timezone (oracle
comparisons against DuckDB's UTC-naive timestamps), shuffle partitions
sized to cores rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "beamium_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the core count — on a real cluster
    this should be ~2-3x total executor cores instead.

    ``BEAMIUM_SPARK_DRIVER_MEM`` (env, default 16g) caps the driver heap
    (``-Xmx``); it is a ceiling, not a reservation. The JVM commits only
    the heap the work uses, so the default starts on a host with less
    memory than that.

    The UTC session time zone set here is a requirement of the engine,
    not a tuning choice: the hour chunk keys (``date_trunc("hour", ...)``,
    ``to_date`` and the ``chunk_key`` partition names) and
    ``decode_blocks``' naive pandas timestamps follow the session time
    zone, so a session in another zone shifts every hour.
    ``ParquetTierStore`` rejects any other zone; a host application's
    session must set it too.

    No parquet codec is pinned: ``ParquetTierStore`` sets its own layout
    on every write it makes, and any other parquet write takes Spark's
    default (snappy).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    mem = os.environ.get("BEAMIUM_SPARK_DRIVER_MEM", "16g")
    if master is None:
        master = f"local[{cpus}]"
    # core count of the local[N] master (local[*]/non-local → env cpus);
    # this — NOT shuffle_partitions, which a caller may set to 2-3x cores —
    # sizes the JVM-internal pools below
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
    cores = cpus if n in ("*", "") else int(n)
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # parquet timestamp[us] (no tz) → TIMESTAMP in UTC session, matching
        # DuckDB's naive-UTC reading of the same files for oracle comparison
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver memory is a ceiling (-Xmx), not a reservation: G1 commits
        # the heap the work touches, so the 16 GiB default starts on a
        # smaller host. G1 also picks its region size from the ceiling
        # (1 MiB at 2 GiB, 8 MiB at 16 GiB). A pinned 32 MiB region grew
        # and kept each space in 32 MiB steps: about 360 MB more peak
        # memory on perfbench's 2 GiB driver. Smaller regions make more
        # objects humongous (half a region and up) and add GC pauses, but
        # moved no query or tick latency beyond run-to-run spread.
        # ActiveProcessorCount pins JVM-internal pools (GC, JIT, ForkJoin)
        # to the master's cores instead of the whole box — exactly what a
        # cluster container's cpuset gives an executor JVM; without it,
        # co-located executor JVMs each spawn 32-core GC/JIT pools and
        # trample each other.
        .config("spark.driver.extraJavaOptions", f"-XX:ActiveProcessorCount={cores}")
        # fat-binary parquet scans (multi-KiB html/text cells) are bound by
        # per-batch byte[] churn, not I/O: off-heap column vectors take the
        # scan buffers out of the GC's hands and 512-row batches keep each
        # vector ~7 MB for 14 KiB cells (4096-row default OOMs the reader on
        # this data; measured r6: 5.4s → 4.4s for the 15 GB two-column
        # scan). Narrow-row tables see no measurable difference at 512.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.sql.columnVector.offheap.enabled", "true")
    )
    # vendored-jar seam (e.g. a local iceberg-spark-runtime jar where the
    # package can't resolve): comma-separated jar paths
    extra_jars = os.environ.get("BEAMIUM_SPARK_EXTRA_JARS")
    if extra_jars:
        builder = builder.config("spark.jars", extra_jars)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship beamium_spark to executor Python workers (the ``spark-submit
    --py-files`` path, done programmatically so driver scripts can run from
    anywhere). No-op if already shipped in this session."""
    sc = spark.sparkContext
    if getattr(sc, "_beamium_shipped", False):
        return
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                rel = os.path.join("beamium_spark", os.path.relpath(full, pkg_dir))
                with open(full, "rb") as fh:
                    sources.append((rel, fh.read()))
    sources.sort()
    digest = hashlib.sha1()
    for rel, data in sources:
        digest.update(rel.encode() + b"\0" + data)
    # named by content and written with fixed entry times: every driver
    # process on the host shares the temp dir, and Spark fails a task
    # whose executor finds a shipped file's bytes changed since it was
    # added — so a file of this name only ever holds these bytes
    zpath = os.path.join(
        tempfile.gettempdir(), f"beamium_spark_pyfiles-{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        # pid-unique temp + atomic replace: concurrent driver processes
        # (e.g. the multi-executor bench workers) otherwise race on one
        # shared .tmp
        tmp = f"{zpath}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for rel, data in sources:
                z.writestr(
                    zipfile.ZipInfo(rel, date_time=(1980, 1, 1, 0, 0, 0)),
                    data,
                    zipfile.ZIP_DEFLATED,
                )
        os.replace(tmp, zpath)
    sc.addPyFile(zpath)
    sc._beamium_shipped = True
