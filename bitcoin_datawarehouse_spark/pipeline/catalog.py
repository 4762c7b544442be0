"""Warehouse catalog: two-level namespace over a parquet directory tree.

Reference parity (SURVEY.md §1.2, §2.2): the reference keeps tables in
PostgreSQL schemas ``bitcoin`` / ``etl`` and auto-creates them
(``CREATE SCHEMA IF NOT EXISTS``, reference ``pg_loader.py:42``); the
Spark-native equivalent is a directory layout ``{root}/{schema}/{table}``
holding parquet, with the schema carried by the parquet footer (so the
reference's dynamic ``CREATE TABLE`` from DataFrame dtypes — reference
``pg_loader.py:70-105`` — needs no separate DDL step here).

Atomicity: every table write goes to a fresh ``{table}.__tmp_*``
sibling directory and is swapped in with a rename, so readers never
observe a half-written or truncated table (strictly stronger than the
reference's TRUNCATE→INSERT window, ``pg_loader.py:144-155``).  On
HDFS and POSIX filesystems the rename is atomic; on object stores the
swap degrades to copy-then-delete and a manifest-based table format
(Delta/Iceberg) is the production answer — the loader API is format-
agnostic so that swap is a storage-layer change only.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: the footer key Spark writes its row schema under; Spark's own
#: schema inference returns the schema stored there
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def hadoop_fs(spark: SparkSession, loc: str):
    """(fs, path) through the JVM Hadoop FS API — works for ANY
    warehouse scheme (file:, hdfs:, s3a:) — or None when the session
    has no JVM gateway (Spark Connect).  The ONE owner of scheme-
    aware filesystem access for catalog-backed locations; callers
    must pair a None with either a file:-scheme local fallback or a
    loud refusal (``_require_local_scheme``), never a silent no-op."""
    try:
        hpath = spark._jvm.org.apache.hadoop.fs.Path(loc)
        return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath
    except AttributeError:
        return None


def _require_local_scheme(wdir: str, what: str) -> None:
    """Raise when a no-gateway session would silently skip ``what``
    on a non-local warehouse scheme."""
    scheme = wdir.split("://", 1)[0] if "://" in wdir else "file"
    if scheme not in ("file", ""):
        raise NotImplementedError(
            f"{what} needs the Hadoop FS API for warehouse scheme "
            f"'{scheme}' and this session has no JVM gateway"
        )


def _bucket_clustered(
    df: DataFrame, bucket_cols: list[str], n_buckets: int
) -> DataFrame:
    """Hash-cluster ``df`` on the bucket columns into a MULTIPLE of
    ``n_buckets`` partitions before a bucketed write (r12).

    A bucketed ``saveAsTable`` never shuffles: every write task opens
    one file per bucket value it holds, so an unclustered input
    produces up to tasks×buckets files (the same failure mode as an
    unclustered partitionBy write — CLAUDE.md's
    ``_write_day_partitioned`` rule).  Repartitioning on the bucket
    columns into P = k·n_buckets partitions aligns tasks with buckets
    exactly — ``pmod(h, n_buckets) = pmod(pmod(h, k·n_buckets),
    n_buckets)`` for Spark's Murmur3 column hash, so each task holds
    rows of precisely ONE bucket and writes k files per bucket total
    (k = 1 when the cluster's parallelism fits inside n_buckets).
    Guide §6: output files in the fewer-and-larger regime; probed-
    bucket searches open k files instead of ~tasks per bucket."""
    par = df.sparkSession.sparkContext.defaultParallelism
    mult = max(1, -(-par // n_buckets))  # ceil division
    return df.repartition(n_buckets * mult, *bucket_cols)


def lakehouse_pair(
    spark: SparkSession,
    lake_root: str,
    warehouse_root: str | None = None,
    keep_versions: int = 0,
) -> tuple["Warehouse", "Warehouse"]:
    """The reference's lake/warehouse dual-engine split
    (``data_integration/utils/database.py:35-45`` ``pg_data_lake`` vs
    ``:64-74`` ``pg_data_warehouse``): raw ingests land in the lake,
    curated tables in the warehouse.

    In the reference both "engines" resolve to the SAME host, port and
    database (only the credential env vars differ), so the split is a
    logical namespace, not a physical one.  Mirrored here as two
    directory roots — pass the same path for both (the default) to
    reproduce the reference's actual one-host deployment, or two paths
    (e.g. different mounts/storage tiers) when the split should be
    physical.  Returns ``(lake, warehouse)``.
    """
    return (
        Warehouse(spark, lake_root, keep_versions=keep_versions),
        Warehouse(
            spark, warehouse_root or lake_root, keep_versions=keep_versions
        ),
    )


def scratch_root(prefix: str, sf_dir: str) -> str:
    """Deterministic scratch-warehouse root for gate queries that
    persist an index/model as part of their plan, keyed
    per-(user, process, fixture digest) and REUSED (overwritten)
    across invocations — the single owner of the rules four call
    sites used to hand-roll (review-caught):

    * a per-call mkdtemp would leak one artifact dir per run and
      accrete a corpus-sized table per distinct catalog name;
    * the returned frames stay LAZY (the driver collects after the
      gate returns), so the tables must survive the call — bounded
      residue, reclaimed by the next same-keyed call's overwrite;
    * a world-predictable shared /tmp path would let two concurrent
      runs (bench + check_oracle, or two users on a shared host)
      clobber each other's tables mid-collect, and a pre-created dir
      by another user is the classic /tmp squatting hazard — hence
      user + pid + fixture digest in the key."""
    import getpass
    import hashlib
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        "{}_{}_{}_{}".format(
            prefix,
            getpass.getuser(),
            os.getpid(),
            hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8],
        ),
    )


def _hidden(name: str) -> bool:
    """Spark's file-listing rule: ``_``/``.`` names (``_SUCCESS``,
    ``.crc`` checksums, ``_temporary``) are not table data."""
    return name.startswith(("_", "."))


def _data_files(root: Path) -> list[Path]:
    """Every data file a Spark read of ``root`` scans, partition
    directories included."""
    out: list[Path] = []
    with os.scandir(root) as it:
        for e in it:
            if _hidden(e.name):
                continue
            if e.is_dir():
                out.extend(_data_files(Path(e.path)))
            else:
                out.append(Path(e.path))
    return out


def _footer_schema(session: SparkSession, path: Path) -> StructType | None:
    """The schema Spark's inference would return for the flat table at
    ``path``, read on the driver from ONE footer (as Spark does
    without ``mergeSchema``) — or None when only Spark can answer:
    ``mergeSchema`` is on, the root holds no top-level data files or
    has subdirectories (partitioned roots), or the footer lacks
    Spark's row-metadata key (files written by another tool)."""
    merge = session.conf.get("spark.sql.parquet.mergeSchema", "false")
    if merge.lower() == "true":
        return None
    try:
        with os.scandir(path) as it:
            entries = [e for e in it if not _hidden(e.name)]
    except OSError:
        return None
    files = sorted(e.path for e in entries if e.is_file())
    if not files or len(files) != len(entries):
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        meta = pq.read_metadata(files[0]).metadata or {}
    except (OSError, pa.ArrowException):
        return None
    raw = meta.get(_SPARK_ROW_METADATA)
    if raw is None:
        return None
    return StructType.fromJson(json.loads(raw))


def _read_parquet(session: SparkSession, path: Path) -> DataFrame:
    """``session.read.parquet(path)``, with the schema passed in from
    the footer when :func:`_footer_schema` has it: a supplied schema
    skips Spark's one-task schema-inference job."""
    schema = _footer_schema(session, path)
    reader = session.read if schema is None else session.read.schema(schema)
    return reader.parquet(str(path))


class Warehouse:
    """Directory-backed catalog with ``schema.table`` addressing.

    ``keep_versions > 0`` turns every atomic replace into a snapshot:
    the previous table directory is retained as
    ``{table}.__v_{millis}`` (newest ``keep_versions`` kept), giving
    the incremental pipeline a bad-batch recovery path — ``rollback``
    swaps the latest snapshot back in; ``vacuum`` reclaims space.
    A directory rename per write is the whole cost.
    """

    def __init__(
        self, spark: SparkSession, root: str, keep_versions: int = 0
    ) -> None:
        self.spark = spark
        self.root = Path(root)
        self.keep_versions = keep_versions
        self.root.mkdir(parents=True, exist_ok=True)

    # -- namespace ---------------------------------------------------------
    def create_schema(self, schema: str) -> None:
        """CREATE SCHEMA IF NOT EXISTS (reference pg_loader.py:39-47)."""
        (self.root / schema).mkdir(parents=True, exist_ok=True)

    def table_path(self, schema: str, table: str) -> Path:
        return self.root / schema / table

    def table_exists(self, schema: str, table: str) -> bool:
        """Existence probe (reference pg_loader.py:107-124)."""
        p = self.table_path(schema, table)
        return p.exists() and any(p.glob("*.parquet"))

    def row_count(self, schema: str, table: str) -> int:
        """Rows in ``schema.table`` summed from its Parquet footers on
        the driver — the answer of ``COUNT(*)`` without a Spark job;
        0 when the table directory is absent."""
        import pyarrow.parquet as pq

        p = self.table_path(schema, table)
        if not p.exists():
            return 0
        return sum(pq.read_metadata(f).num_rows for f in _data_files(p))

    def table_exists_partitioned(self, schema: str, table: str) -> bool:
        """Existence probe for Hive-partitioned layouts: data files live
        at least one ``col=value`` directory level down (``*/**`` also
        matches multi-level ``day=*/hour=*`` layouts, which compact()
        relies on to avoid silently flattening them)."""
        p = self.table_path(schema, table)
        return p.exists() and any(p.glob("*/**/*.parquet"))

    def list_tables(self, schema: str) -> list[str]:
        p = self.root / schema
        if not p.exists():
            return []
        # exclude in-flight tmp/old swap directories (named
        # ``{table}.__tmp_*`` / ``{table}.__old_*`` by write_atomic)
        return sorted(
            d.name
            for d in p.iterdir()
            if d.is_dir() and ".__" not in d.name
        )

    def drop_table(self, schema: str, table: str) -> None:
        p = self.table_path(schema, table)
        if p.exists():
            shutil.rmtree(p)

    # -- IO ----------------------------------------------------------------
    def read(
        self,
        schema: str,
        table: str,
        ranges: dict[str, tuple] | None = None,
        use_manifest: bool = False,
    ) -> DataFrame:
        """Read ``schema.table``; with ``ranges`` (``col: (lo, hi)``)
        the exact range predicate applies either as a plain filter or
        — with ``use_manifest=True`` — through the table's persisted
        file-skipping manifest sidecar, so only files whose min/max
        stats intersect every range are OPENED (identical rows, fewer
        files; the functions-level ``manifest_pruned_read`` wired into
        the catalog read path, r8 VERDICT item 7).

        The table schema comes from a Parquet footer read on the
        driver (:func:`_read_parquet`), so building the frame launches
        no Spark job; partitioned roots and non-Spark files fall back
        to Spark's inference."""
        if ranges is None:
            return _read_parquet(self.spark, self.table_path(schema, table))
        if not use_manifest:
            from pyspark.sql import functions as F

            df = _read_parquet(self.spark, self.table_path(schema, table))
            for c, (lo, hi) in ranges.items():
                df = df.filter(
                    (F.col(c) >= F.lit(lo)) & (F.col(c) <= F.lit(hi))
                )
            return df
        return self.read_pruned(schema, table, ranges)[0]

    def read_with(
        self, session: SparkSession, schema: str, table: str
    ) -> DataFrame:
        """Path-based read built from an EXPLICIT session.  Serve
        paths called inside ``foreachBatch`` pass the micro-batch
        session (``docs.sparkSession``) so every frame in a trigger's
        plan shares one session — the CLAUDE.md foreachBatch rule; a
        read through ``self.spark`` works today only because the
        sessions share a context (r9 ADVICE: the old serve signatures
        took a dead ``spark`` parameter while reading on the MAIN
        session)."""
        return _read_parquet(session, self.table_path(schema, table))

    def _manifest_sidecar(self, schema: str, table: str, cols) -> str:
        """Sidecar name for a table's file-stats manifest over a
        given stat-column SET — column-set-keyed so a read over new
        predicate columns rebuilds its own sidecar instead of
        silently pruning on stats it does not have.  The ``.__``
        infix keeps it out of ``list_tables`` and clear of the
        atomic-swap temp namespaces."""
        import hashlib as _hl

        digest = _hl.md5(
            "|".join(sorted(cols)).encode()
        ).hexdigest()[:8]
        return f"{table}.__manifest_{digest}"

    def read_pruned(
        self, schema: str, table: str, ranges: dict[str, tuple]
    ) -> tuple[DataFrame, int, int]:
        """(frame, files_read, files_total): the manifest-routed range
        read with its pruning stats (tests and probes read the
        counters; :meth:`read` returns just the frame).

        Steady state (the directory's file set matches the sidecar —
        the common repeated-read case) serves straight from the
        persisted sidecar with ZERO write jobs; otherwise the sidecar
        is synced (``sync_manifest``: stat only never-seen files, drop
        vanished entries — an atomic table replace is just
        all-vanished + all-new), checkpointed, then atomically
        rewritten, so the pruned read never references a swapped-out
        sidecar and a crash between sync and swap only costs a
        re-sync."""
        import pathlib

        from bitcoin_datawarehouse_spark.operators.storage import (
            _as_file_uri,
            manifest_pruned_read,
            sync_manifest,
        )

        cols = sorted(ranges)
        side = self._manifest_sidecar(schema, table, cols)
        data_path = self.table_path(schema, table)
        current = {
            _as_file_uri(str(p))
            for p in pathlib.Path(data_path).rglob("*.parquet")
        }
        old = None
        if self.table_exists(schema, side):
            old = self.read(schema, side)
            known = {
                r[0] for r in old.select("file_path").collect()
            }
            if known == current:
                return manifest_pruned_read(self.spark, old, ranges)
        man = sync_manifest(
            self.spark, old, str(data_path), cols
        ).localCheckpoint()
        self.write_atomic(man, schema, side, coalesce=1)
        return manifest_pruned_read(self.spark, man, ranges)

    def write_atomic(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        coalesce: int | None = None,
        partition_by: list[str] | None = None,
    ) -> None:
        """Replace ``schema.table`` with ``df`` atomically.

        Writes to a tmp sibling, then swaps directories.  The write is
        the only Spark action; the swap is metadata-only.  ``coalesce``
        caps output files for small control tables (avoids the
        many-tiny-files problem when a 32-way shuffle writes 5 rows).
        ``partition_by`` preserves a Hive-partitioned layout through
        the swap (used by :meth:`compact` on partitioned tables).
        """
        self.create_schema(schema)
        final = self.table_path(schema, table)
        tmp = final.with_name(f"{table}.__tmp_{uuid.uuid4().hex[:8]}")
        if coalesce and partition_by:
            # hash-cluster on the partition cols so each partition value
            # lands in one task → one file per partition directory
            df = df.repartition(coalesce, *partition_by)
        elif coalesce:
            df = df.coalesce(coalesce)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(tmp))
        if self.keep_versions > 0 and final.exists():
            snap = final.with_name(
                f"{table}.__v_{int(time.time() * 1000):015d}"
            )
            final.rename(snap)
            tmp.rename(final)
            self._prune_versions(schema, table)
        else:
            old = final.with_name(f"{table}.__old_{uuid.uuid4().hex[:8]}")
            if final.exists():
                final.rename(old)
            tmp.rename(final)
            if old.exists():
                shutil.rmtree(old)

    # -- snapshots ---------------------------------------------------------
    def _version_dirs(self, schema: str, table: str) -> list[Path]:
        return sorted((self.root / schema).glob(f"{table}.__v_*"))

    def list_versions(self, schema: str, table: str) -> list[int]:
        """Snapshot timestamps (ms), oldest first."""
        return [
            int(p.name.rsplit("_", 1)[1]) for p in self._version_dirs(schema, table)
        ]

    def read_version(self, schema: str, table: str, version_ms: int) -> DataFrame:
        p = self.root / schema / f"{table}.__v_{version_ms:015d}"
        return _read_parquet(self.spark, p)

    def rollback(self, schema: str, table: str) -> int:
        """Swap the newest snapshot back in as the live table (the
        rolled-back state is itself snapshotted, so rollback is
        reversible).  Returns the restored version's timestamp.

        Deliberately does NOT apply retention pruning: a Warehouse
        handle opened with the default ``keep_versions=0`` would
        otherwise delete every recovery point — including the state
        just rolled away from — as a side effect of recovering.
        Reclaiming snapshot space is ``vacuum``'s explicit job.
        """
        versions = self._version_dirs(schema, table)
        if not versions:
            raise FileNotFoundError(f"{schema}.{table}: no snapshots")
        newest = versions[-1]
        final = self.table_path(schema, table)
        bad = final.with_name(f"{table}.__v_{int(time.time() * 1000):015d}")
        if final.exists():
            final.rename(bad)
        newest.rename(final)
        return int(newest.name.rsplit("_", 1)[1])

    def vacuum(self, schema: str, table: str, keep: int = 0) -> int:
        """Delete all but the newest ``keep`` snapshots; returns the
        number removed."""
        versions = self._version_dirs(schema, table)
        drop = versions[: len(versions) - keep] if keep else versions
        for p in drop:
            shutil.rmtree(p)
        return len(drop)

    def _prune_versions(self, schema: str, table: str) -> None:
        versions = self._version_dirs(schema, table)
        for p in versions[: max(0, len(versions) - self.keep_versions)]:
            shutil.rmtree(p)

    def append(self, df: DataFrame, schema: str, table: str) -> None:
        """Append-only load (reference pg_loader.py:148-155 ``to_sql
        if_exists='append'``).  Parquet appends are file-additive and
        naturally atomic per file."""
        self.create_schema(schema)
        df.write.mode("append").parquet(str(self.table_path(schema, table)))

    @contextlib.contextmanager
    def lock(self, name: str = "pipeline", timeout_s: float = 60.0):
        """Advisory exclusive lock scoped to this warehouse (atomic
        mkdir — works on POSIX and HDFS-style stores).

        Guards read-modify-overwrite sections (the job-control table,
        merges of the same target) against a second pipeline process;
        the reference relied on Postgres transactions for this.  The
        lock records its holder pid for post-mortems and raises
        ``TimeoutError`` rather than queueing forever.
        """
        lock_dir = self.root / f".lock_{name}"
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                lock_dir.mkdir()
                break
            except FileExistsError:
                if time.monotonic() >= deadline:
                    holder = "?"
                    with contextlib.suppress(OSError):
                        holder = (lock_dir / "pid").read_text()
                    raise TimeoutError(
                        f"warehouse lock {name!r} held by pid {holder}"
                    ) from None
                time.sleep(0.1)
        try:
            (lock_dir / "pid").write_text(str(os.getpid()))
            yield
        finally:
            shutil.rmtree(lock_dir, ignore_errors=True)

    def compact(
        self, schema: str, table: str, target_file_bytes: int = 128 * 1024 * 1024
    ) -> tuple[int, int]:
        """Rewrite ``schema.table`` into ~target-sized files.

        Incremental merges and streaming foreachBatch appends accrete
        small files (every micro-batch writes its own); scans then pay
        per-file open/footer costs and tiny input splits.  Compaction
        is the standard maintenance pass: read, coalesce to
        ceil(bytes/target), atomic swap.  Returns (files_before,
        files_after).
        """
        path = self.table_path(schema, table)
        # recursive glob: partitioned tables keep data one level down in
        # col=value dirs — a top-level glob would see 0 files and the
        # rewrite would silently flatten the partition layout
        files = list(path.glob("**/*.parquet"))
        total = sum(f.stat().st_size for f in files)
        n_out = max(1, -(-total // target_file_bytes))
        partition_cols = None
        if self.table_exists_partitioned(schema, table):
            # recover the layout from the col=value directory names so
            # the compacted table keeps its pruning
            partition_cols = []
            probe = path
            while True:
                sub = [
                    d for d in probe.iterdir() if d.is_dir() and "=" in d.name
                ]
                if not sub:
                    break
                partition_cols.append(sub[0].name.split("=", 1)[0])
                probe = sub[0]
        self.write_atomic(
            self.read(schema, table),
            schema,
            table,
            coalesce=int(n_out),
            partition_by=partition_cols,
        )
        after = len(
            list(self.table_path(schema, table).glob("**/*.parquet"))
        )
        return len(files), after

    # -- storage layout (the 100 TB levers) --------------------------------
    def write_partitioned(
        self, df: DataFrame, schema: str, table: str, partition_cols: list[str]
    ) -> None:
        """Hive-style partitioned layout (``.../col=value/``): queries
        filtering on the partition columns prune whole directories at
        planning time — the at-rest form of the reference's
        date-parameterized extraction (every fact table in a 100 TB
        warehouse is date-partitioned)."""
        self.create_schema(schema)
        (
            df.write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(str(self.table_path(schema, table)))
        )

    def write_zordered(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        zcols: tuple[str, str],
        n_files: int = 16,
        bits: int = 8,
    ) -> None:
        """Z-order clustered layout: files range-partitioned along a
        Morton curve over two columns, so parquet footer min/max
        statistics are tight *rectangles* in (a, b) space and a
        predicate on EITHER or BOTH columns skips most files — the
        multi-dimensional analog of sorting (what Delta/Iceberg
        ``OPTIMIZE ZORDER BY`` produces; single-column sorting can
        only cluster one dimension).

        Each column is min/max-normalized to ``bits`` bits (the two
        extremes are one cheap aggregate — four scalars to the
        driver), the bit patterns are interleaved JVM-side into the
        curve position, and ``repartitionByRange`` + in-partition sort
        cluster the files.  At 100 TB: n_files ≈ table_bytes/256 MB,
        and the min/max agg is a map-side-combining scan."""
        from pyspark.sql import functions as F

        a, b = zcols
        lo_a, hi_a, lo_b, hi_b = df.agg(
            F.min(F.col(a).cast("double")),
            F.max(F.col(a).cast("double")),
            F.min(F.col(b).cast("double")),
            F.max(F.col(b).cast("double")),
        ).first()
        if lo_a is None or lo_b is None:
            # empty input (min/max aggregate to NULL): write the empty
            # table rather than TypeError-ing on None arithmetic below
            self.create_schema(schema)
            df.write.mode("overwrite").parquet(
                str(self.table_path(schema, table))
            )
            return
        top = (1 << bits) - 1

        def quant(col: str, lo: float, hi: float):
            span = (hi - lo) or 1.0
            q = F.floor(
                (F.col(col).cast("double") - F.lit(lo))
                / F.lit(span)
                * F.lit(float(top))
            ).cast("long")
            return F.greatest(F.lit(0), F.least(F.lit(top), q))

        qa, qb = quant(a, lo_a, hi_a), quant(b, lo_b, hi_b)
        z = F.lit(0).cast("long")
        for i in range(bits):
            z = (
                z
                + F.shiftleft(F.shiftright(qa, i).bitwiseAND(1), 2 * i + 1)
                + F.shiftleft(F.shiftright(qb, i).bitwiseAND(1), 2 * i)
            )
        self.create_schema(schema)
        (
            df.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode("overwrite")
            .parquet(str(self.table_path(schema, table)))
        )

    def write_bucketed(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        bucket_cols: list[str],
        n_buckets: int,
        sort_cols: list[str] | None = None,
    ) -> str:
        """Bucketed table (hash-clustered files on the join/agg key):
        two tables bucketed identically join WITHOUT a shuffle — the
        co-location lever for repeated fact↔fact joins.

        r12: the input is hash-CLUSTERED on the bucket columns before
        the write (see :func:`_bucket_clustered`) — a bucketed
        ``saveAsTable`` does not shuffle, so an unclustered input
        writes up to tasks×buckets files (measured: 329–351 files per
        128-bucket IVF lists table at sf0.1; ≤128 after).  The same
        partitionBy rule CLAUDE.md records for
        ``loader._write_day_partitioned``, applied to the bucket
        layout.

        Registered through the session catalog (``saveAsTable``) since
        bucketing metadata lives there; the files land under
        ``spark.sql.warehouse.dir``.  Returns the catalog table name
        (``{schema}_{table}`` — session-catalog names are one-level
        here; a production deployment points the session at a shared
        metastore and keeps real two-level names).
        """
        name = f"{schema}_{table}"
        # the session catalog is in-memory: a table location left on
        # disk by a PREVIOUS session has no catalog entry, and
        # saveAsTable(overwrite) refuses to adopt it — drop both
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        wdir = self.spark.conf.get("spark.sql.warehouse.dir", "")
        if wdir:
            # Hadoop FS delete works for ANY warehouse scheme (file:,
            # hdfs:, s3a:); a local-Path rmtree silently no-ops on
            # remote schemes and the stale location then breaks the
            # saveAsTable(overwrite) below
            loc = f"{wdir.rstrip('/')}/{name.lower()}"
            fs_path = hadoop_fs(self.spark, loc)
            if fs_path is not None:
                fs, hpath = fs_path
                if fs.exists(hpath):
                    fs.delete(hpath, True)
            else:
                # no JVM gateway (Spark Connect): a local rmtree is
                # only correct for a file: warehouse — anywhere else
                # a silent no-op leaves the stale location in place
                # and the overwrite below fails or adopts stale data,
                # so refuse loudly (same contract as IvfIndex's file
                # counting)
                _require_local_scheme(wdir, "write_bucketed stale-dir cleanup")
                stale = Path(wdir.removeprefix("file:")) / name.lower()
                if stale.exists():
                    shutil.rmtree(stale)
        writer = (
            _bucket_clustered(df, bucket_cols, n_buckets)
            .write.mode("overwrite")
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(name)
        return name

    def append_bucketed(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        bucket_cols: list[str],
        n_buckets: int,
        sort_cols: list[str] | None = None,
    ) -> str:
        """Append to a bucketed table created by :meth:`write_bucketed`
        (the incremental-ingest path of a persisted index): new files
        are hash-clustered into the SAME bucket layout, so scans keep
        their bucket pruning and co-located join properties.  The
        bucketing spec must match the existing table's — Spark rejects
        a mismatched append, which is the correctness guard."""
        name = f"{schema}_{table}"
        writer = (
            _bucket_clustered(df, bucket_cols, n_buckets)
            .write.mode("append")
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(name)
        return name

    def export_jsonl_shards(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        n_shards: int,
        order_col: str | None = None,
        compression: str = "gzip",
    ) -> None:
        """Training-data export: the table as ``n_shards`` compressed
        JSONL files — the interchange format tokenizer/loader fleets
        consume (one shard per loader worker).

        ``order_col`` sorts rows *within* each shard
        (``sortWithinPartitions`` — no global sort, no extra shuffle
        beyond the repartition); shard membership is round-robin for
        even sizes.  At 100 TB pick n_shards ≈ corpus_bytes / 256 MB.
        """
        self.create_schema(schema)
        out = df.repartition(n_shards)
        if order_col:
            out = out.sortWithinPartitions(order_col)
        (
            out.write.mode("overwrite")
            .option("compression", compression)
            .json(str(self.table_path(schema, table)))
        )

    def read_jsonl(
        self, schema: str, table: str, read_schema: str | None = None
    ) -> DataFrame:
        """Read a JSONL export back; pass ``read_schema`` (DDL string)
        to skip the inference scan — at corpus scale inference reads
        every byte twice."""
        reader = self.spark.read
        if read_schema:
            reader = reader.schema(read_schema)
        return reader.json(str(self.table_path(schema, table)))

    def export_tar_shards(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        n_shards: int,
        key_col: str = "doc_id",
        payload_col: str = "payload",
        meta_cols: list[str] | None = None,
    ) -> None:
        """Multimodal training export: WebDataset-style tar shards.

        Each row becomes two members of its shard's tar — ``{key}.bin``
        (the binary payload) and ``{key}.json`` (the scalar metadata) —
        the layout image/audio training loaders stream sequentially
        (one tar per loader worker, no per-sample object-store round
        trips).  Shard membership is md5(key) mod n_shards, so it is
        deterministic and stable under corpus growth; rows are sorted
        by key within the shard and tar headers are normalized
        (mtime/uid/gid = 0), making every shard byte-reproducible.

        Writing happens executor-side in ``foreachPartition``: the
        frame is hash-repartitioned on the shard id, so one task owns
        every row of a shard and streams it into a single tar (the
        shard id each row carries is the ONE source of truth — tasks
        never recompute it, so no two tasks can open the same tar).
        Shards land in a ``__tmp_*`` sibling and are swapped in at the
        end, preserving the module's never-see-a-half-written-table
        invariant.  The warehouse root must be visible to executors
        (local FS here; a shared filesystem or an object-store upload
        in the same iterator at production scale).
        """
        import io
        import json
        import tarfile

        meta_cols = list(meta_cols or [])
        self.create_schema(schema)
        final = self.table_path(schema, table)
        tmp = final.with_name(f"{table}.__tmp_{uuid.uuid4().hex[:8]}")
        tmp.mkdir(parents=True)
        tmp_s = str(tmp)

        cols = [key_col, payload_col, *meta_cols]

        def write_partition(rows) -> None:
            tars: dict[int, tarfile.TarFile] = {}
            try:
                for r in rows:
                    sid = r["__shard"]
                    tf = tars.get(sid)
                    if tf is None:
                        tf = tarfile.open(
                            os.path.join(tmp_s, f"shard-{sid:05d}.tar"),
                            "w",
                        )
                        tars[sid] = tf
                    payload = bytes(r[payload_col])
                    meta = json.dumps(
                        {c: r[c] for c in meta_cols}, sort_keys=True
                    ).encode()
                    for suffix, body in ((".bin", payload), (".json", meta)):
                        info = tarfile.TarInfo(name=f"{r[key_col]}{suffix}")
                        info.size = len(body)
                        info.mtime = 0
                        info.uid = info.gid = 0
                        info.uname = info.gname = ""
                        tf.addfile(info, io.BytesIO(body))
            finally:
                for tf in tars.values():
                    tf.close()

        from pyspark.sql import functions as F

        shard = (
            F.conv(F.substring(F.md5(F.col(key_col).cast("string").cast("binary")), 1, 8), 16, 10)
            .cast("long")
            % n_shards
        ).alias("__shard")
        (
            df.select(*cols)
            .select("*", shard)
            .repartition(n_shards, "__shard")
            .sortWithinPartitions("__shard", key_col)
            .foreachPartition(write_partition)
        )
        old = final.with_name(f"{table}.__old_{uuid.uuid4().hex[:8]}")
        if final.exists():
            final.rename(old)
        tmp.rename(final)
        if old.exists():
            shutil.rmtree(old)

    def read_tar_shards(
        self, schema: str, table: str, meta_schema: str | None = None
    ) -> DataFrame:
        """Read a tar-shard export back as (key, payload, meta_json
        [, parsed meta columns]).

        The ``binaryFile`` source yields one row per shard tar (whole
        shards are the IO unit, matching how loaders consume them);
        an Arrow ``mapInPandas`` unpacks members.  Pass ``meta_schema``
        (DDL string) to explode the JSON metadata into typed columns.
        """
        import io
        import tarfile

        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        out_schema = T.StructType(
            [
                T.StructField("key", T.StringType()),
                T.StructField("payload", T.BinaryType()),
                T.StructField("meta_json", T.StringType()),
            ]
        )

        def unpack(batches):
            # one output frame per tar: memory is bounded by a single
            # shard's contents, not every shard in the Arrow batch
            for pdf in batches:
                for content in pdf["content"]:
                    keys, payloads, metas = [], [], []
                    with tarfile.open(
                        fileobj=io.BytesIO(bytes(content))
                    ) as tf:
                        bins: dict[str, bytes] = {}
                        jsons: dict[str, str] = {}
                        for m in tf.getmembers():
                            body = tf.extractfile(m).read()
                            stem, _, ext = m.name.rpartition(".")
                            if ext == "bin":
                                bins[stem] = body
                            else:
                                jsons[stem] = body.decode()
                        for stem in sorted(bins):
                            keys.append(stem)
                            payloads.append(bins[stem])
                            metas.append(jsons.get(stem, "{}"))
                    yield pd.DataFrame(
                        {"key": keys, "payload": payloads, "meta_json": metas}
                    )

        files = (
            self.spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.tar")
            .load(str(self.table_path(schema, table)))
            .select("content")
        )
        out = files.mapInPandas(unpack, schema=out_schema)
        if meta_schema:
            out = out.select(
                "key",
                "payload",
                F.from_json("meta_json", meta_schema).alias("m"),
            ).select("key", "payload", "m.*")
        return out
