"""Table-catalog seam: the Iceberg table-name API with a parquet fallback.

The north_star/input_hint name an *Iceberg table* of source-code
repositories. This module is the promised seam (SURVEY.md §7.4.5): every
pipeline read/write goes through ``read_table``/``write_table`` keyed by
TABLE NAME, so swapping storage is a catalog choice, not a code change:

- :class:`IcebergCatalog` — used when an ``iceberg-spark-runtime`` jar is
  on the session classpath and a Spark SQL catalog is configured
  (``spark.sql.catalog.<name>`` = SparkCatalog/HadoopCatalog). Writes via
  the DataFrameWriterV2 ``writeTo(...).using("iceberg")`` API, reads via
  ``spark.table``. Partitioned tables get their PARTITIONED BY spec from
  the same ``partition_by`` argument.
- :class:`ParquetCatalog` — the sandbox/default backend: ``<root>/<name>``
  parquet directories behind the same API, with ``partitionBy`` writes.

Durable ER state lives here too, behind one commit point
(:class:`_CommitPoint`): each stage table is written once as an immutable
segment (``features__v3``), and one small ``_COMMIT.json`` swapped in with
``os.replace`` lists the segments that make up the state. The plans and
the streaming face write files only through this module.

The reference's analog of this seam is its sqlite DDL + secondary-index
setup (`/root/reference/qurator/sbb_ned/cli.py:674-681`): a named,
indexed table the rest of the code addresses by name only.

Scale note: ``partition_by`` should carry a low-cardinality derived
column (e.g. a repo hash bucket) — at 10^12 files a per-repo partition
would blow the metastore; a fixed bucket count keeps partition pruning
useful and file counts bounded.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass
from functools import reduce
from hashlib import sha256

from pyspark.sql import DataFrame, SparkSession
from pyspark.errors import AnalysisException


COMMIT_FILE = "_COMMIT.json"
# a segment is one immutable write of a state table: ``<table>__v<version>``,
# also a valid Iceberg identifier
_SEGMENT = re.compile(r"[a-z_]+__v[0-9]+")


def segment_name(table: str, version: int) -> str:
    return f"{table}__v{version}"


class _CommitPoint:
    """The durable state's one commit point, shared by both backends.

    ``_COMMIT.json`` in ``_meta`` (parquet: the root; Iceberg: its
    manifest dir) names the state: ``version``, ``config_hash``,
    ``format_version`` and ``tables``, the segment list per table. It is
    written to a temp file and swapped in with ``os.replace``, so a reader
    sees the old commit or the new one, never a torn one; readers read
    only listed segments (``read_table`` given a table's segment list),
    and every commit drops each segment it does not list, including those
    a crashed attempt left. ``os.replace`` is atomic on a local or POSIX
    file system only, and the state has one writer."""

    def write_file(self, name: str, text: str) -> None:
        """Atomically write a small file next to the commit."""
        os.makedirs(self._meta, exist_ok=True)
        tmp = os.path.join(self._meta, f".{name}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())  # the content is on disk before the rename
        os.replace(tmp, os.path.join(self._meta, name))

    def read_commit(self) -> dict | None:
        p = os.path.join(self._meta, COMMIT_FILE)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def commit(self, spark: SparkSession, commit: dict) -> None:
        self.write_file(COMMIT_FILE, json.dumps(commit, sort_keys=True))
        self.drop_unlisted(spark, commit)

    def drop_unlisted(self, spark: SparkSession, commit: dict) -> None:
        listed = {s for segs in commit["tables"].values() for s in segs}
        for name in self.segments(spark):
            if name not in listed:
                self.drop_table(spark, name)

    def read_committed(
        self, spark: SparkSession, table: str, commit: dict | None = None
    ) -> DataFrame:
        """``table``'s segments listed in ``commit`` (default: the current
        one), read as one table."""
        return self.read_table(spark, (commit or self.read_commit())["tables"][table])

    def old_layout(self) -> bool:
        """True for a state of the per-stage manifest layout (format 2),
        which this code does not read."""
        return any(
            os.path.exists(p)
            for name in ("features", "clusters")
            for p in (
                os.path.join(self._meta, name, "_MANIFEST.json"),
                os.path.join(self._meta, f"{name}.json"),
            )
        )


@dataclass
class ParquetCatalog(_CommitPoint):
    """Name-addressed parquet directories under ``root``.

    ``codec`` is the parquet compression for stage checkpoints: zstd by
    default — measured on the bench features table (117k rows, pinned
    2-core, 3 runs) 27% smaller than the snappy default (53.6 vs 73.1 MB)
    with ~2x faster reads (0.25-0.36 vs 0.54-0.64 s) and faster writes
    (3.1-3.2 vs 3.6-3.9 s); at checkpoint volumes that track the corpus
    the size/IO cut is the knob that matters. (lz4 writes fastest but
    compresses no better than snappy; the checkpoint is written once and
    read on every downstream stage and resume.)
    """

    root: str
    codec: str = "zstd"

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def read_table(self, spark: SparkSession, name: str | list[str]) -> DataFrame:
        if isinstance(name, list):
            paths = [self._path(n) for n in name]
            parted = [p for p in paths if any("=" in e for e in os.listdir(p))]
            if not parted:
                # the segments of one state table: ONE scan of all their
                # paths, the same single FileScan as one directory, however
                # many increments added a segment
                return spark.read.parquet(*paths)
            # Spark infers a partitioning under one root only
            # (CONFLICTING_DIRECTORY_STRUCTURES), so partitioned segments
            # are read one scan each; a segment written empty has no
            # partition directory to infer a schema from and is skipped
            return reduce(DataFrame.unionByName, map(spark.read.parquet, parted))
        # bare table names resolve to `<root>/<name>` (checkpoint dirs) or
        # `<root>/<name>.parquet` (driver testdata files) — callers address
        # tables by NAME only; the storage layout is the catalog's concern.
        # os.path probing only works for local roots; on an object-store
        # root (s3a://, hdfs://) try the bare path and fall back to the
        # `.parquet` layout on analysis failure instead.
        p = self._path(name)
        if self._is_local():
            if not os.path.exists(p) and os.path.exists(p + ".parquet"):
                p = p + ".parquet"
            return spark.read.parquet(p)
        try:
            return spark.read.parquet(p)
        except AnalysisException as e:
            # only path-NOT-FOUND falls back to the `.parquet` layout; a
            # genuine analysis failure (schema merge, access error) must
            # propagate with its real cause, not be re-raised as a
            # misleading "path not found: <p>.parquet" (ADVICE r4 #4)
            cond = getattr(e, "getCondition", getattr(e, "getErrorClass", lambda: None))()
            if cond != "PATH_NOT_FOUND":
                raise
            try:
                return spark.read.parquet(p + ".parquet")
            except AnalysisException as e2:
                raise e2 from e

    def _is_local(self) -> bool:
        scheme = self.root.split("://", 1)[0] if "://" in self.root else ""
        return scheme in ("", "file")

    def write_table(
        self, df: DataFrame, name: str, mode: str = "overwrite", partition_by: tuple = ()
    ) -> None:
        writer = df.write.mode(mode).option("compression", self.codec)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self._path(name))

    def drop_table(self, spark: SparkSession, name: str) -> None:
        shutil.rmtree(self._path(name), ignore_errors=True)

    @property
    def _meta(self) -> str:
        return self.root

    def segments(self, spark: SparkSession) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return [n for n in os.listdir(self.root) if _SEGMENT.fullmatch(n)]


@dataclass
class IcebergCatalog(_CommitPoint):
    """Iceberg tables addressed as ``<catalog>.<namespace>.<name>``.

    Requires ``iceberg-spark-runtime`` on the classpath and
    ``spark.sql.catalog.<catalog>`` configured (e.g. a HadoopCatalog with a
    local warehouse dir). The commit file lives under ``manifest_dir``
    (state metadata is ours, not table data).

    Use :func:`for_root` rather than the bare constructor: the namespace
    and manifest dir are derived from the logical root so two pipelines
    with different checkpoint/data roots can NEVER collide in the same
    tables or resume from each other's commits."""

    catalog: str = "local"
    namespace: str = "er"
    manifest_dir: str = "/tmp/sbb_ned_iceberg_manifests"
    codec: str = "zstd"  # same knob as ParquetCatalog.codec (see its docstring)

    @classmethod
    def for_root(cls, root: str, catalog: str = "local") -> "IcebergCatalog":
        tag = sha256(os.path.abspath(root).encode()).hexdigest()[:12]
        return cls(
            catalog=catalog,
            namespace=f"er_{tag}",
            manifest_dir=f"/tmp/sbb_ned_iceberg_manifests/{tag}",
        )

    def _fqn(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def read_table(self, spark: SparkSession, name: str | list[str]) -> DataFrame:
        # a list names the segments of one state table: Iceberg scans one
        # table at a time, so they are unioned (one scan per segment)
        names = [name] if isinstance(name, str) else name
        return reduce(DataFrame.unionByName, [spark.table(self._fqn(n)) for n in names])

    def write_table(
        self, df: DataFrame, name: str, mode: str = "overwrite", partition_by: tuple = ()
    ) -> None:
        df.sparkSession.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}"
        )
        writer = df.writeTo(self._fqn(name)).using("iceberg")
        if partition_by:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "append":
            # appends inherit the codec from the existing table's properties
            writer.append()
        else:
            # same zstd default as ParquetCatalog (see its docstring for
            # the measurements); Iceberg spells it as a table property
            writer.tableProperty(
                "write.parquet.compression-codec", self.codec
            ).createOrReplace()

    def drop_table(self, spark: SparkSession, name: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {self._fqn(name)}")

    @property
    def _meta(self) -> str:
        return self.manifest_dir

    def segments(self, spark: SparkSession) -> list[str]:
        ns = f"{self.catalog}.{self.namespace}"
        if not spark.catalog.databaseExists(ns):
            return []
        return [t.name for t in spark.catalog.listTables(ns) if _SEGMENT.fullmatch(t.name)]


# the backends share read/write/drop by name plus the commit point
TableCatalog = ParquetCatalog | IcebergCatalog


def iceberg_available(spark: SparkSession, catalog: str = "local") -> bool:
    """True when a Spark SQL catalog named ``catalog`` is configured AND
    the Iceberg classes resolve (jar actually on the classpath)."""
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}")
    except Exception:
        return False
    if not impl:
        return False
    try:
        spark._jvm.java.lang.Class.forName(impl)  # noqa: SLF001 - classpath probe
        return True
    except Exception:
        return False


def get_catalog(spark: SparkSession, root: str) -> TableCatalog:
    """The seam: Iceberg when the runtime is present, parquet dirs
    otherwise — callers only ever see read_table/write_table by name.
    The root is part of the table identity on BOTH backends (parquet: the
    directory; Iceberg: a root-hash namespace + manifest dir), so distinct
    datasets/checkpoint roots can never serve each other's tables."""
    if iceberg_available(spark):
        return IcebergCatalog.for_root(root)
    return ParquetCatalog(root)
