"""Table adapter: one seam for tier storage and the checkpoint log's files.

The engine's durable state mirrors beamium's two DFO directories
(/root/reference/src/conf.rs:122-124): data chunks land under a tier
table, lineage in the checkpoint log (``<root>/_log/``, small files the
driver writes through this store), and commits are idempotent
per-(chunk) overwrites so a killed job replays exactly the unforwarded
chunks (README.md:6 "Disk Fail Over").

The production path is an Iceberg catalog (snapshot isolation, row-level
deletes, partition pruning over manifests); this sandbox has no Iceberg
runtime jar, so ``ParquetTierStore`` implements the same contract on
plain parquet directories:

- chunk writes are **dynamic partition overwrites** on ``chunk_key`` —
  rewriting a chunk is idempotent, the exactly-once primitive;
- ``partitions`` lists every ``chunk_key=...`` hour partition once with
  its parquet file count and on-disk bytes;
- eviction, TTL and size cap alike, unlinks whole partitions before a
  cutoff key and counts their rows from the parquet footers (the
  analogue of Iceberg's partition-level delete, and of beamium's file
  unlink in src/sink.rs:101-146) — no Spark job. A size cap is measured
  in parquet bytes on disk, as beamium measures its sink directory;
- predicate deletes (``delete_where``) rewrite only affected partitions;
  no retention path uses them;
- small driver-side files (the checkpoint log, ``plans/checkpoint.py``)
  are written ``.<name>.tmp`` then renamed, beamium's atomic mark
  (src/scraper.rs:249-265);
- every parquet file the store writes has the same layout under any
  session (``_write``): zstd pages, and no min/max statistics on the
  opaque block blobs. Files of another codec read as they are and are
  re-encoded when a replay or compaction rewrites their partition.

Every maintenance path (listing, TTL unlink, rewrite swap, compaction
file counts) goes through the **Hadoop FileSystem API** resolved from
the root URI — NOT ``os``/``shutil`` — so the store works wherever the
executors' Spark writes do: a bare path resolves against the cluster's
default filesystem (local file:// on a laptop, HDFS on a cluster), and
``file:``/``hdfs:``/``s3a:`` roots route to their scheme's
implementation. A driver-local POSIX view of the store is never
assumed. (Caveat: the unpartitioned-table rewrite in ``delete_where``
uses delete-then-rename, which is atomic on HDFS/POSIX but
copy-based on S3-style stores — partitioned tables, the production
layout, never take that path.)

``IcebergTierStore`` carries the spark.jars.packages recipe but raises
cleanly when the runtime is absent.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class ParquetTierStore:
    def __init__(
        self, spark: SparkSession, root: str, max_records_per_file: int = 1_000_000
    ):
        tz = spark.conf.get("spark.sql.session.timeZone")
        zone = spark._jvm.java.time.ZoneId
        if not zone.of(tz).normalized().equals(zone.of("UTC").normalized()):
            # chunk keys and decoded block timestamps are formatted in the
            # session zone: any other zone files an hour under another key
            raise ValueError(
                f"spark.sql.session.timeZone is {tz!r}; the tier store "
                "requires UTC"
            )
        # max_records_per_file is the write-side batch cap — the engine's
        # analogue of beamium's batch-size/batch-count file caps
        # (/root/reference/src/conf.rs:125-126): production files are sized
        # deterministically, not by partition luck.
        self.spark = spark
        self.root = root.rstrip("/")
        self.max_records_per_file = max_records_per_file
        # table → its schema with ``chunk_key``: a read of a table this
        # store wrote or has read once infers nothing (inference is a
        # Spark job over a file footer)
        self._schemas: dict[str, T.StructType] = {}
        # Py4J resolves a JVM class name one package segment at a time, a
        # round trip each: resolve the control plane's classes once
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._ParquetFileReader = jvm.org.apache.parquet.hadoop.ParquetFileReader
        self._HadoopInputFile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile
        self._hconf = spark._jsc.hadoopConfiguration()
        fs, p = self._fs_path(self.root)
        fs.mkdirs(p)

    # -- Hadoop FileSystem plumbing (control plane only: listings and
    # directory ops are per-chunk, never per-row) -------------------------

    def _fs_path(self, path_str: str):
        p = self._Path(path_str)
        return p.getFileSystem(self._hconf), p

    def _ls(self, path_str: str) -> list[tuple[str, bool]]:
        """[(child name, is_dir)] of the direct children; [] if absent."""
        fs, p = self._fs_path(path_str)
        if not fs.exists(p):
            return []
        return [
            (st.getPath().getName(), st.isDirectory()) for st in fs.listStatus(p)
        ]

    def _delete(self, path_str: str) -> bool:
        fs, p = self._fs_path(path_str)
        return bool(fs.exists(p)) and bool(fs.delete(p, True))

    def list_files(self, root: str) -> list[tuple[str, int, int]]:
        """[(path relative to ``root``, length, modification ms)] of every
        data file under ``root``, recursively, skipping the names Spark's
        file index hides (``_*`` and ``.*``, e.g. ``_SUCCESS`` and
        checksum sidecars); [] if ``root`` is absent.

        Walks ``listStatus`` level by level rather than the recursive
        ``listFiles``: the latter builds a ``LocatedFileStatus`` per file,
        which on the local filesystem forks a process to read the file's
        permissions (tens of ms per file)."""
        fs, p = self._fs_path(root)
        if not fs.exists(p):
            return []
        out = []
        todo = [("", p)]
        while todo:
            prefix, d = todo.pop()
            for st in fs.listStatus(d):
                name = st.getPath().getName()
                if name[:1] in ("_", "."):
                    continue
                if st.isDirectory():
                    todo.append((f"{prefix}{name}/", st.getPath()))
                else:
                    out.append((prefix + name, st.getLen(), st.getModificationTime()))
        return sorted(out)

    def read_bytes(self, path_str: str) -> bytes:
        fs, p = self._fs_path(path_str)
        stream = fs.open(p)
        try:
            return bytes(self.spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()

    def write_bytes(self, path_str: str, data: bytes) -> None:
        """Write a small file atomically: ``.<name>.tmp`` in the same
        directory, then rename. A kill before the rename leaves only the
        dot-file, which every reader skips."""
        fs, dst = self._fs_path(path_str)
        tmp = self._Path(dst.getParent(), f".{dst.getName()}.tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        if not fs.rename(tmp, dst):
            raise IOError(f"rename {tmp} -> {dst} failed on {fs.getUri()}")

    def _parquet_rows(self, dir_str: str) -> int:
        """Rows in the parquet files of one directory, from their footers."""
        fs, p = self._fs_path(dir_str)
        n = 0
        for st in fs.listStatus(p):
            if st.getPath().getName().endswith(".parquet"):
                reader = self._ParquetFileReader.open(
                    self._HadoopInputFile.fromStatus(st, self._hconf)
                )
                try:
                    n += reader.getRecordCount()
                finally:
                    reader.close()
        return n

    def _drop_root_markers_if_empty(self, table: str) -> None:
        """Once the last partition is gone, drop stray root files
        (``_SUCCESS`` etc.) so ``exists()`` reports the table as absent."""
        root = self.path(table)
        entries = self._ls(root)
        if not any(e.startswith("chunk_key=") for e, _ in entries):
            for e, is_dir in entries:
                if not is_dir:
                    self._delete(f"{root}/{e}")

    #: the store's parquet layout, as writer options so that no session
    #: conf changes a file's bytes. ``ts_block``/``val_block`` are opaque
    #: Gorilla blobs no reader prunes on: their min/max would copy up to
    #: two blobs into every footer. ``bucket`` and ``metric`` keep their
    #: statistics, which the clustered writes exist to make selective
    #: (``window_start`` is INT96, for which parquet keeps none).
    WRITE_OPTIONS = {
        "compression": "zstd",
        "parquet.column.statistics.enabled#ts_block": "false",
        "parquet.column.statistics.enabled#val_block": "false",
    }

    def _write(
        self,
        df: DataFrame,
        path: str,
        mode: str = "overwrite",
        partition_col: str | None = None,
    ) -> None:
        """The one parquet write of this store, files capped at
        ``max_records_per_file`` rows. A partitioned overwrite is dynamic,
        set on the writer: a host session's default STATIC mode would
        replace the whole table with ``df``'s partitions."""
        w = df.write.mode(mode).options(**self.WRITE_OPTIONS).option(
            "maxRecordsPerFile", self.max_records_per_file
        )
        if partition_col is not None:
            w = w.option("partitionOverwriteMode", "dynamic").partitionBy(
                partition_col
            )
        w.parquet(path)

    def path(self, table: str) -> str:
        return f"{self.root}/{table}"

    def exists(self, table: str) -> bool:
        return any(
            name.startswith("chunk_key=")
            or name.endswith(".parquet")
            or name == "_SUCCESS"
            for name, _ in self._ls(self.path(table))
        )

    def read(self, table: str) -> DataFrame:
        schema = self._schemas.get(table)
        if schema is None:
            df = self.spark.read.parquet(self.path(table))
            self._schemas[table] = df.schema
            return df
        return self.spark.read.schema(schema).parquet(self.path(table))

    #: default clustering for tier-shaped tables — any subset present in
    #: the frame is used, in this order
    SORT_COLS = ("bucket", "metric", "window_start")

    def write_chunks(
        self,
        df: DataFrame,
        table: str,
        chunk_col: str = "chunk_start",
        sort_cols: tuple[str, ...] | None = SORT_COLS,
    ) -> None:
        """Idempotent per-chunk overwrite: partitions by an **hour-granular**
        chunk key and replaces only partitions present in ``df`` (dynamic
        overwrite mode, set on the writer). Hour granularity makes the
        overwrite unit exactly the job's work unit — a partial day never
        clobbers sibling chunks.

        Rows are CLUSTERED on (chunk_key, *sort_cols∩columns): a hash
        exchange on chunk_key sends each chunk to exactly one writer
        task, whose within-task sort makes its files consecutive slices
        of one sorted run — disjoint even when ``maxRecordsPerFile``
        splits the chunk. File- and row-group-level min/max stats then
        prune reads filtered on bucket/metric, not just on time. The one
        exchange runs its child once (no sampling pass) and AQE sizes its
        reducers by the data. Leading the sort with chunk_key also
        satisfies the partitioned writer's required ordering, so Spark
        adds no sort of its own. ``sort_cols=None`` disables both
        (append-shaped tables). A row counter goes on the caller's frame
        (``df.observe``): nothing below the exchange runs twice."""
        out = df.withColumn("chunk_key", F.date_format(chunk_col, "yyyy-MM-dd-HH"))
        cluster = [c for c in (sort_cols or ()) if c in out.columns]
        if cluster:
            out = out.repartition("chunk_key").sortWithinPartitions(
                "chunk_key", *cluster
            )
        self._write(out, self.path(table), partition_col="chunk_key")
        # what a read infers: the data columns, then the partition column
        self._schemas[table] = T.StructType(
            [T.StructField(f.name, f.dataType, True, f.metadata)
             for f in out.schema if f.name != "chunk_key"]
            + [T.StructField("chunk_key", T.StringType(), True)]
        )

    def append(self, df: DataFrame, table: str) -> None:
        self._schemas.pop(table, None)
        self._write(df, self.path(table), mode="append")

    def overwrite_partition(self, df: DataFrame, table: str, part_col: str) -> None:
        """Dynamic partition overwrite on an existing column — replaces
        exactly the ``part_col=...`` partitions present in ``df`` (the
        epoch-fencing primitive for streaming sinks). The dynamic mode is
        the writer's (``_write``), never the session's, so the store is
        safe to embed in any session."""
        self._schemas.pop(table, None)
        self._write(df, self.path(table), partition_col=part_col)

    def partitions(self, table: str) -> dict[str, tuple[int, int]]:
        """chunk_key → (parquet files, on-disk bytes) of every
        ``chunk_key=`` partition, in key order, from one recursive
        listing. No data is read and no Spark job runs: retention and
        compaction decide from this alone."""
        out: dict[str, tuple[int, int]] = {}
        for rel, size, _ in self.list_files(self.path(table)):
            part, _, name = rel.partition("/")
            if part.startswith("chunk_key=") and name.endswith(".parquet"):
                key = part[len("chunk_key="):]
                files, nbytes = out.get(key, (0, 0))
                out[key] = (files + 1, nbytes + size)
        return out

    def _keys_older_than(self, table: str, cutoff_key: str) -> list[str]:
        return [k for k in self.partitions(table) if k < cutoff_key]

    def rows_older_than(self, table: str, cutoff_key: str) -> int:
        """Rows in the partitions ``drop_partitions_older_than`` would
        drop, from the parquet footers. No data is read."""
        root = self.path(table)
        return sum(
            self._parquet_rows(f"{root}/chunk_key={k}")
            for k in self._keys_older_than(table, cutoff_key)
        )

    def drop_partitions_older_than(self, table: str, cutoff_key: str) -> int:
        """Partition-level TTL delete: unlink every ``chunk_key=`` partition
        whose key sorts before ``cutoff_key``, an hour key
        ``yyyy-MM-dd-HH`` (a date ``yyyy-MM-dd`` cuts at its midnight).
        Returns partitions removed. Listing only, no Spark job. (Iceberg:
        ``DELETE FROM t WHERE chunk_key < cutoff`` prunes to whole-file
        deletes the same way.)"""
        keys = self._keys_older_than(table, cutoff_key)
        for k in keys:
            self._delete(f"{self.path(table)}/chunk_key={k}")
        if keys:
            self._drop_root_markers_if_empty(table)
        return len(keys)

    def delete_where(self, table: str, predicate) -> int:
        """Row-level delete, pruned to the partitions that actually hold
        doomed rows; returns rows deleted. Only those ``chunk_key=...``
        partitions are re-read and rewritten (dynamic partition overwrite
        preserves the layout); partitions left empty by the predicate are
        unlinked. Untouched partitions are never read — the 100-TB path.
        The cluster equivalent is Iceberg merge-on-read positional deletes.
        """
        df = self.read(table)
        if "chunk_key" not in df.columns:  # unpartitioned table: full rewrite
            doomed = df.filter(predicate)
            n = doomed.count()
            if n:
                kept = df.filter(~predicate).cache()
                kept.count()  # materialize before clobbering the source
                tmp = self.path(table) + ".rewrite"
                self._write(kept, tmp)
                kept.unpersist()
                fs, dst = self._fs_path(self.path(table))
                fs.delete(dst, True)
                _, src = self._fs_path(tmp)
                if not fs.rename(src, dst):
                    raise IOError(
                        f"rename {tmp} -> {self.path(table)} failed on "
                        f"{fs.getUri()}"
                    )
            return n
        doomed = df.filter(predicate)
        # tiny: one chunk_key per hour of retention boundary
        hit_keys = [r["chunk_key"] for r in doomed.select("chunk_key").distinct().collect()]
        if not hit_keys:
            return 0
        affected = df.filter(F.col("chunk_key").isin(hit_keys)).cache()
        n = affected.filter(predicate).count()
        kept = affected.filter(~predicate)
        keep_keys = {r["chunk_key"] for r in kept.select("chunk_key").distinct().collect()}
        if keep_keys:
            # dynamic overwrite replaces exactly the partitions present in
            # the written frame
            self._write(kept, self.path(table), partition_col="chunk_key")
        affected.unpersist()
        for key in set(hit_keys) - keep_keys:
            self._delete(f"{self.path(table)}/chunk_key={key}")
        self._drop_root_markers_if_empty(table)
        return n

    def compact_chunks(self, table: str, chunks: list[str] | None = None) -> dict:
        """Rewrite chunk partitions into deterministically-sized files —
        the small-file compaction a long-lived chunked store needs: every
        incremental pass / dirty-chunk replay / streaming epoch leaves at
        least one file per write, and file count (not bytes) is what blows
        up scan planning and listing at 10^5+ chunks.

        ``chunks`` limits the pass to specific ``chunk_key`` values (e.g.
        only chunks whose file count exceeds a threshold — the incremental
        form); default compacts the whole table. Rewrites go through the
        same dynamic partition overwrite as data writes, so a killed
        compaction leaves either the old or the new file set, never a
        mix. The rewrite re-encodes each partition in the store's layout
        (``WRITE_OPTIONS``) whatever codec its files had, so
        ``compact_chunks(table)`` migrates a whole table at once.
        Returns {files_before, files_after, chunks}. (Iceberg:
        ``rewrite_data_files`` is the engine-side equivalent.)"""
        root = self.path(table)
        if not self.exists(table):
            return {"files_before": 0, "files_after": 0, "chunks": 0}

        def _count_files(keys):
            return sum(
                files for k, (files, _) in self.partitions(table).items()
                if keys is None or k in keys
            )

        keys = set(chunks) if chunks is not None else None
        before = _count_files(keys)
        df = self.read(table)
        if keys is not None:
            df = df.filter(F.col("chunk_key").isin(list(keys)))
        # hash-colocate each chunk's rows, then one overwrite per partition;
        # maxRecordsPerFile re-splits oversized chunks deterministically.
        # Materialize BEFORE writing — the rewrite targets the directory
        # the plan reads from (same contract as delete_where).
        df = df.repartition("chunk_key").cache()
        df.count()
        try:
            self._write(df, root, partition_col="chunk_key")
        finally:
            df.unpersist()
        after = _count_files(keys)
        n_chunks = len(keys) if keys is not None else len(self.partitions(table))
        return {"files_before": before, "files_after": after, "chunks": n_chunks}

    def compact_if_over(self, table: str, max_files_per_chunk: int) -> dict:
        """Incremental compaction trigger — the per-tick daemon form:
        compact exactly the chunks whose parquet file count exceeds the
        threshold (every incremental pass / dirty-chunk replay / streaming
        epoch leaves ≥1 new file per touched chunk, so a long-lived store
        grows files without bound unless something bounds them). One
        listing decides; untouched chunks are never read. ``<= 0``
        disables. Returns {} when nothing qualifies, else
        ``compact_chunks``'s report."""
        if max_files_per_chunk <= 0 or not self.exists(table):
            return {}
        over = [
            k
            for k, v in self.chunk_file_counts(table).items()
            if v > max_files_per_chunk
        ]
        if not over:
            return {}
        return self.compact_chunks(table, chunks=over)

    def chunk_file_counts(self, table: str) -> dict[str, int]:
        """chunk_key → parquet file count (the compaction trigger metric)."""
        return {k: files for k, (files, _) in self.partitions(table).items()}

    def drop(self, table: str) -> None:
        self._schemas.pop(table, None)
        self._delete(self.path(table))


class IcebergTierStore:
    """Iceberg-backed store (cluster path) — the same contract as
    ``ParquetTierStore``, on an Iceberg catalog. Needs
    ``--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v>`` and a
    catalog conf; raises at construction if the runtime is missing.

    Contract mapping (tests/test_iceberg.py exercises it wherever the jar
    is available — env-gate BEAMIUM_ICEBERG_PKG):

    - ``write_chunks``  → ``overwritePartitions()`` on chunk_key — Iceberg's
      dynamic overwrite is snapshot-isolated, so the exactly-once replay
      story is strictly stronger than the parquet directory version;
    - ``drop_partitions_older_than`` → metadata-only ``DELETE`` of the
      ``chunk_key`` partitions before an hour key (partition-level delete,
      no data read), and ``rows_older_than`` → the ``.partitions``
      metadata table's ``record_count``: together they make
      ``retention.ttl_evict`` and ``retention.size_cap_evict``;
    - ``partitions`` → per-partition file counts and bytes from the
      ``.files`` metadata table (the size cap's and the compaction
      trigger's input);
    - ``delete_where`` → kept rows of affected partitions re-written via
      ``overwritePartitions`` + literal-list DELETE for emptied partitions
      (merge-on-read positional deletes would be the v2 alternative).

    The checkpoint log (``plans/checkpoint.py``) is not a table: it lives
    as small files under a Hadoop FileSystem state root, which
    ``ParquetTierStore`` provides; the job and daemon keep it there.
    These methods are jar-gated (``tests/test_iceberg.py`` skips without
    the runtime), so they are untested here.
    """

    def __init__(self, spark: SparkSession, catalog: str, namespace: str):
        try:
            # Class.forName actually loads the class — attribute access on
            # spark._jvm returns a silent JavaPackage stub for missing classes
            spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.catalog.TableIdentifier"
            )
        except Exception as e:
            raise RuntimeError(
                "Iceberg runtime not on classpath; use ParquetTierStore or add "
                "spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-4.0_2.13"
            ) from e
        self.spark = spark
        self.prefix = f"{catalog}.{namespace}"
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.prefix}")

    def _t(self, table: str) -> str:
        return f"{self.prefix}.{table}"

    def exists(self, table: str) -> bool:  # pragma: no cover - jar-gated
        return self.spark.catalog.tableExists(self._t(table))

    def read(self, table: str) -> DataFrame:  # pragma: no cover
        return self.spark.read.format("iceberg").load(self._t(table))

    def write_chunks(self, df: DataFrame, table: str, chunk_col: str = "chunk_start") -> None:  # pragma: no cover
        out = df.withColumn("chunk_key", F.date_format(chunk_col, "yyyy-MM-dd-HH"))
        w = out.writeTo(self._t(table)).partitionedBy(F.col("chunk_key"))
        if self.exists(table):
            out.writeTo(self._t(table)).overwritePartitions()
        else:
            w.create()

    def append(self, df: DataFrame, table: str) -> None:  # pragma: no cover
        if self.exists(table):
            df.writeTo(self._t(table)).append()
        else:
            df.writeTo(self._t(table)).create()

    def overwrite_partition(self, df: DataFrame, table: str, part_col: str) -> None:  # pragma: no cover
        """The epoch-fencing primitive (streaming sink): replace exactly
        the ``part_col`` partitions present in ``df`` — Iceberg's
        overwritePartitions is snapshot-isolated, so a torn replay is
        all-or-nothing rather than best-effort."""
        if self.exists(table):
            df.writeTo(self._t(table)).overwritePartitions()
        else:
            df.writeTo(self._t(table)).partitionedBy(F.col(part_col)).create()

    def partitions(self, table: str) -> dict[str, tuple[int, int]]:  # pragma: no cover
        """chunk_key → (data files, bytes) from the ``.files`` metadata
        table, in key order (no data read — retention and the compaction
        trigger stay metadata-only)."""
        if not self.exists(table):
            return {}
        rows = self.spark.sql(
            f"SELECT partition.chunk_key AS k, count(*) AS n, "
            f"sum(file_size_in_bytes) AS b FROM {self._t(table)}.files "
            f"WHERE content = 0 GROUP BY partition.chunk_key ORDER BY k"
        ).collect()
        return {r["k"]: (r["n"], r["b"]) for r in rows}

    def chunk_file_counts(self, table: str) -> dict[str, int]:  # pragma: no cover
        """chunk_key → data-file count (the compaction trigger metric)."""
        return {k: files for k, (files, _) in self.partitions(table).items()}

    def compact_if_over(self, table: str, max_files_per_chunk: int) -> dict:  # pragma: no cover
        """Incremental compaction trigger — same contract as the parquet
        store: rewrite exactly the chunks whose file count exceeds the
        threshold, via a snapshot-isolated overwritePartitions of their
        own rows. (On a cluster with the Iceberg procedures catalog,
        ``CALL rewrite_data_files(where => ...)`` is the engine-side
        equivalent.)"""
        if max_files_per_chunk <= 0 or not self.exists(table):
            return {}
        counts = self.chunk_file_counts(table)
        over = [k for k, v in counts.items() if v > max_files_per_chunk]
        if not over:
            return {}
        before = sum(counts[k] for k in over)
        df = self.read(table)
        hit = df.filter(F.col("chunk_key").isin(over))
        hit.writeTo(self._t(table)).overwritePartitions()
        after_counts = self.chunk_file_counts(table)
        return {
            "files_before": before,
            "files_after": sum(after_counts.get(k, 0) for k in over),
            "chunks": len(over),
        }

    def rows_older_than(self, table: str, cutoff_key: str) -> int:  # pragma: no cover
        """Rows in the partitions before ``cutoff_key``, from the
        ``.partitions`` metadata table."""
        if not self.exists(table):
            return 0
        return int(self.spark.sql(
            f"SELECT coalesce(sum(record_count), 0) AS n FROM {self._t(table)}.partitions "
            f"WHERE partition.chunk_key < '{cutoff_key}'"
        ).collect()[0]["n"])

    def drop_partitions_older_than(self, table: str, cutoff_key: str) -> int:  # pragma: no cover
        """Drop the partitions whose ``chunk_key`` sorts before the hour
        key ``cutoff_key`` (``yyyy-MM-dd-HH``)."""
        if not self.exists(table):
            return 0
        t = self._t(table)
        n = self.spark.sql(
            f"SELECT count(DISTINCT chunk_key) AS n FROM {t} "
            f"WHERE chunk_key < '{cutoff_key}'"
        ).collect()[0]["n"]
        if n:
            # aligned with partition boundaries → Iceberg plans this as a
            # metadata-only partition drop (no row rewrite)
            self.spark.sql(f"DELETE FROM {t} WHERE chunk_key < '{cutoff_key}'")
        return int(n)

    def delete_where(self, table: str, predicate) -> int:  # pragma: no cover
        if not self.exists(table):
            return 0
        df = self.read(table)
        doomed = df.filter(predicate)
        hit = [r["chunk_key"] for r in doomed.select("chunk_key").distinct().collect()]
        if not hit:
            return 0
        n = doomed.count()
        affected = df.filter(F.col("chunk_key").isin(hit))
        kept = affected.filter(~predicate)
        keep_keys = {r["chunk_key"] for r in kept.select("chunk_key").distinct().collect()}
        if keep_keys:
            kept.writeTo(self._t(table)).overwritePartitions()
        emptied = sorted(set(hit) - keep_keys)
        if emptied:
            keys = ", ".join(f"'{k}'" for k in emptied)
            self.spark.sql(
                f"DELETE FROM {self._t(table)} WHERE chunk_key IN ({keys})"
            )
        return int(n)

    def drop(self, table: str) -> None:  # pragma: no cover
        self.spark.sql(f"DROP TABLE IF EXISTS {self._t(table)}")
