"""Bucketed tables and the one lifecycle of the tables derived at ingest.

Bucketing pre-partitions a stored table by key hash, so a join between
two tables bucketed on the same key with the same bucket count needs no
exchange: the SortMergeJoin reads co-located buckets directly (asserted
in tests/test_scale_utils.py).

The engine stores four tables derived from a corpus table (shingle
sets, winnow fingerprints, the IVF index and the BPE merge rules), so
the corpus pass is paid once.  Each is one :class:`DerivedTable` spec,
and the lifecycle is written once against it:

- **Fingerprint and epoch.**  ``ensure`` fingerprints the source file
  (path, size and mtime of every part), the spec's schema epoch and its
  bucket layout.  The fingerprint is kept twice: in a table property
  (dies with the session catalog) and in the ``_INGEST_FINGERPRINT``
  marker in the table directory (survives it).  A catalog entry with a
  matching property is reused; a warehouse directory with a matching
  marker is re-attached with ``CREATE TABLE ... LOCATION`` (no data
  movement); anything else is rebuilt.  Bump a spec's schema epoch
  whenever its stored layout changes, so an old table rebuilds instead
  of re-attaching.  Appending makes a table a superset of its source,
  so an append poisons both copies and ``ensure`` then rebuilds.
- **Drop before mutate.**  Every full write and every in-place mutation
  stamps a new table epoch (``_TABLE_EPOCH``).  Append and compaction
  stamp it and delete the table's epoch-stamped sidecars *before* the
  data changes, so a crash at any point leaves no sidecar that claims
  the mutated rows.  Compaction rewrites only the buckets that hold
  removed keys.
- **Sidecars live inside their table** as ``_``-prefixed
  subdirectories (``<table>/_hotdf``, ``<table>/_groups_dg``).  Spark's
  file index skips ``_`` paths, and every way a table goes away
  (``DROP TABLE``, overwrite, orphan-directory removal) takes its
  sidecars with it.  A derived sidecar records the table epoch it was
  computed under in ``_EPOCH`` and is served only while that equals the
  current epoch; a sidecar without that stamp (the shingle table's
  ``_hotdf`` order map) is build state that mutations keep.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplex_mapreduce_spark.sources.tables import load_table

_FINGERPRINT = "_INGEST_FINGERPRINT"
_APPENDED = "incremental-append"
# Spark's bucketBy file names carry the bucket id: part-..._00003.c000...
_BUCKET_FILE_RE = re.compile(r"_(\d{5})\.c\d+")
_NO_COMPACTION = {
    "buckets_rewritten": 0,
    "files_removed": 0,
    "files_moved": 0,
    "rows_removed": 0,
}


def _path(spark: SparkSession, table: str, *parts: str):
    """Hadoop Path of ``table``'s warehouse directory (or a child)."""
    return spark._jvm.org.apache.hadoop.fs.Path(  # type: ignore[union-attr]
        spark.conf.get("spark.sql.warehouse.dir"),
        "/".join([table.lower(), *parts]),
    )


def _fs(spark: SparkSession, path):
    return path.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[attr-defined]


def _delete(spark: SparkSession, path) -> None:
    fs = _fs(spark, path)
    if fs.exists(path):
        fs.delete(path, True)


def _tag(s: str) -> str:
    return re.sub(r"\W", "_", s)


def _remove_orphan_location(spark: SparkSession, table: str) -> None:
    """Delete ``table``'s warehouse directory unless a managed catalog
    table owns it.  The per-session catalog forgets tables on restart
    while their directories survive, and dropping a re-attached
    (external) table keeps its files; either way ``saveAsTable`` would
    fail with LOCATION_ALREADY_EXISTS."""
    if spark.catalog.tableExists(table):
        if spark.catalog.getTable(table).tableType != "EXTERNAL":
            return
        spark.sql(f"DROP TABLE {table}")
    _delete(spark, _path(spark, table))


def _bucketed_writer(df: DataFrame, bucket_key: str, n_buckets: int, sort_key: str):
    """A bucketBy writer over ``df`` repartitioned by the bucket key to
    ``n_buckets`` tasks, so each task holds one bucket and the table
    lands as one file per bucket (otherwise every upstream task writes
    a file per bucket it touches)."""
    return (
        df.repartition(n_buckets, F.col(bucket_key))
        .write.bucketBy(n_buckets, bucket_key)
        .sortBy(sort_key)
        .format("parquet")
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    n_buckets: int = 16,
    sort_key: str | None = None,
) -> None:
    """Persist ``df`` as a managed bucketed table, replacing any table
    or leftover directory of that name, and stamp a new table epoch."""
    _remove_orphan_location(df.sparkSession, table)
    _bucketed_writer(df, bucket_key, n_buckets, sort_key or bucket_key).mode(
        "overwrite"
    ).saveAsTable(table)
    bump_table_epoch(df.sparkSession, table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def source_fingerprint(root: str, schema_epoch: str) -> str:
    """md5 over the absolute path of ``root`` (a parquet file or a
    directory of parts), the size and mtime of every file under it,
    and ``schema_epoch``.  Data regenerated in place changes it."""
    parts = [os.path.abspath(root), schema_epoch]
    if os.path.isdir(root):
        for dirpath, _dirs, files in os.walk(root):
            for fn in sorted(files):
                st = os.stat(os.path.join(dirpath, fn))
                parts.append(f"{fn}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(root):
        st = os.stat(root)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def write_table_marker(spark: SparkSession, table: str, name: str, value: str) -> None:
    """Write a small marker file at ``<table>/<name>`` through the
    Hadoop FS API (so the same code works against an object store)."""
    path = _path(spark, table, name)
    out = _fs(spark, path).create(path, True)
    out.write(bytearray(value.encode()))
    out.close()


def read_table_marker(spark: SparkSession, table: str, name: str) -> str | None:
    path = _path(spark, table, name)
    fs = _fs(spark, path)
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        chunks = []
        while (b := stream.read()) >= 0:
            chunks.append(b)
        return bytes(chunks).decode()
    finally:
        stream.close()


def bump_table_epoch(spark: SparkSession, table: str) -> str:
    """Stamp and return a new unique mutation epoch for ``table``."""
    epoch = uuid.uuid4().hex
    write_table_marker(spark, table, "_TABLE_EPOCH", epoch)
    return epoch


def read_table_epoch(spark: SparkSession, table: str) -> str | None:
    return read_table_marker(spark, table, "_TABLE_EPOCH")


def sidecar_path(spark: SparkSession, table: str, name: str) -> str:
    return _path(spark, table, f"_{name}").toString()


def write_sidecar(
    spark: SparkSession, table: str, name: str, df: DataFrame, epoch: str
) -> None:
    """Write ``df`` as the derived sidecar ``name`` of ``table`` and
    stamp it with ``epoch``: the table epoch the caller read *before*
    building ``df`` (whose file listing may already be cached).  If the
    epoch moved meanwhile, the table mutated under the write and the
    sidecar is deleted instead of stamped."""
    df.write.mode("overwrite").parquet(sidecar_path(spark, table, name))
    if read_table_epoch(spark, table) != epoch:
        _delete(spark, _path(spark, table, f"_{name}"))
        return
    write_table_marker(spark, table, f"_{name}/_EPOCH", epoch)


def read_sidecar(spark: SparkSession, table: str, name: str) -> DataFrame | None:
    """The derived sidecar ``name`` of ``table``, or None unless its
    stamp equals the table's current epoch."""
    stamp = read_table_marker(spark, table, f"_{name}/_EPOCH")
    if stamp is None or stamp != read_table_epoch(spark, table):
        return None
    return spark.read.parquet(sidecar_path(spark, table, name))


def drop_sidecars(spark: SparkSession, table: str) -> None:
    """Delete every epoch-stamped sidecar of ``table``."""
    loc = _path(spark, table)
    fs = _fs(spark, loc)
    if not fs.exists(loc):
        return
    for status in fs.listStatus(loc):
        p = status.getPath()
        if (
            status.isDirectory()
            and p.getName().startswith("_")
            and fs.exists(_path(spark, table, p.getName(), "_EPOCH"))
        ):
            fs.delete(p, True)


def _set_fingerprint(spark: SparkSession, table: str, fingerprint: str) -> None:
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES "
        f"('corpus_fingerprint' = '{fingerprint}')"
    )


@dataclass(frozen=True)
class DerivedTable:
    """One stored table derived from the corpus table ``source``.

    ``rows(spark, src, table)`` is a context manager yielding the stored
    rows for the source frame ``src``: a fresh build when ``table`` is
    None, otherwise rows placed consistently with the stored ``table``
    (the state an append must reuse: the PPJoin order map, the IVF
    centroids).  ``sidecars(spark, table, rows)`` writes the sidecars
    after a build (``rows`` given) and refreshes the derived ones after
    a mutation (``rows`` None)."""

    prefix: str
    source: str
    epoch: str
    bucket_col: str
    n_buckets: int
    sort_key: str
    removal_key: str
    rows: Callable
    sidecars: Callable | None = None

    def name(self, sf_dir: str) -> str:
        """Table name tagged with the data directory, so a table built
        at one scale factor is never reused against another."""
        return f"{self.prefix}_{_tag(sf_dir.rstrip('/').rsplit('/', 1)[-1])}"

    def scratch_name(self, spark: SparkSession, sf_dir: str) -> str:
        """Per-application table for a query that builds and maintains
        its own copy."""
        return f"{self.name(sf_dir)}_maint_{_tag(spark.sparkContext.applicationId)}"

    def load(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        return load_table(spark, sf_dir, self.source)

    def fingerprint(self, sf_dir: str) -> str:
        fp = source_fingerprint(
            os.path.join(sf_dir, f"{self.source}.parquet"), self.epoch
        )
        return f"{fp}|{self.bucket_col}|{self.n_buckets}|{self.sort_key}"

    def attach(self, spark: SparkSession, table: str) -> bool:
        """Register ``table`` over its surviving warehouse directory:
        schema from the parquet footers, bucket spec from this spec, no
        data movement.  False when there is nothing readable to
        attach."""
        if spark.catalog.tableExists(table):
            return True
        loc = _path(spark, table)
        if not _fs(spark, loc).exists(loc):
            return False
        try:
            schema = spark.read.parquet(loc.toString()).schema
        except Exception:  # unreadable leftovers: the caller rebuilds
            return False
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema)
        spark.sql(
            f"CREATE TABLE {table} ({cols}) USING parquet "
            f"CLUSTERED BY ({self.bucket_col}) SORTED BY ({self.sort_key}) "
            f"INTO {self.n_buckets} BUCKETS LOCATION '{loc.toString()}'"
        )
        return True

    def build(self, spark: SparkSession, src: DataFrame, table: str) -> str:
        """Write ``table`` from the source frame ``src``, then its
        sidecars."""
        with self.rows(spark, src, None) as rows:
            write_bucketed(rows, table, self.bucket_col, self.n_buckets, self.sort_key)
            if self.sidecars:
                self.sidecars(spark, table, rows)
        write_table_marker(spark, table, _FINGERPRINT, "pipeline-managed")
        return table

    def ensure(self, spark: SparkSession, sf_dir: str) -> str:
        """Reuse, re-attach or rebuild the table for ``sf_dir`` (see the
        module docstring); returns its name."""
        table = self.name(sf_dir)
        fp = self.fingerprint(sf_dir)
        if spark.catalog.tableExists(table):
            props = {
                r["key"]: r["value"]
                for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
            }
            if props.get("corpus_fingerprint") == fp:
                return table
            spark.sql(f"DROP TABLE {table}")
        elif read_table_marker(spark, table, _FINGERPRINT) == fp and self.attach(
            spark, table
        ):
            _set_fingerprint(spark, table, fp)
            return table
        self.build(spark, self.load(spark, sf_dir), table)
        _set_fingerprint(spark, table, fp)
        write_table_marker(spark, table, _FINGERPRINT, fp)
        return table

    def refresh_sidecars(self, spark: SparkSession, table: str) -> None:
        """Rewrite the derived sidecars a mutation dropped."""
        if self.sidecars:
            self.sidecars(spark, table)

    def append(self, spark: SparkSession, src: DataFrame, table: str) -> None:
        """Bucket-append the rows of ``src``, placed consistently with
        the stored table."""
        bump_table_epoch(spark, table)
        drop_sidecars(spark, table)
        with self.rows(spark, src, table) as rows:
            _bucketed_writer(
                rows, self.bucket_col, self.n_buckets, self.sort_key
            ).mode("append").saveAsTable(table)
        write_table_marker(spark, table, _FINGERPRINT, _APPENDED)
        if spark.catalog.tableExists(table):
            _set_fingerprint(spark, table, _APPENDED)

    def compact(self, spark: SparkSession, gone: DataFrame, table: str) -> dict:
        """Remove the rows whose removal key appears in ``gone`` by
        rewriting only the buckets that hold them.  When the removal
        key is not the bucket column, ``gone`` holds source rows and
        the row builder re-derives their bucket column against the
        stored table (the IVF index tombstones vec_ids but buckets by
        cell).  Bucket ids are ``pmod(hash(bucket_col), n_buckets)``,
        Spark's bucketBy placement (pinned in
        tests/test_dedup_synthetic.py).

        Returns ``{"buckets_rewritten", "files_removed", "files_moved",
        "rows_removed"}``."""
        with contextlib.ExitStack() as stack:
            keys = [self.removal_key]
            if self.bucket_col != self.removal_key:
                gone = stack.enter_context(self.rows(spark, gone, table))
                keys.append(self.bucket_col)
            keyed = gone.select(*keys).distinct().persist()
            stack.callback(keyed.unpersist)
            buckets = {
                int(r[0])
                for r in keyed.select(
                    F.pmod(F.hash(self.bucket_col), F.lit(self.n_buckets))
                )
                .distinct()
                .collect()
            }
            if not buckets:
                return dict(_NO_COMPACTION)
            bump_table_epoch(spark, table)
            drop_sidecars(spark, table)
            return self._rewrite_buckets(
                spark, table, buckets, keyed.select(self.removal_key)
            )

    def _rewrite_buckets(self, spark, table: str, buckets: set, gone) -> dict:
        """Rewrite the files of ``buckets`` without the rows in ``gone``.

        The survivors go through a temporary table with the same bucket
        layout, so their files carry valid bucket suffixes (and only
        affected buckets produce files).  The swap is two-phase so a
        crash never loses surviving rows: originals are first renamed to
        hidden ``.bak_`` names (restore by stripping the prefix), the
        replacements moved in, and only then the ``.bak_`` files
        deleted.  Unaffected buckets are never read or rewritten."""
        hpath = spark._jvm.org.apache.hadoop.fs.Path  # type: ignore[union-attr]
        loc = _path(spark, table)
        fs = _fs(spark, loc)
        affected = []
        for status in fs.listStatus(loc):
            name = status.getPath().getName()
            m = _BUCKET_FILE_RE.search(name)
            if m and int(m.group(1)) in buckets and name.endswith(".parquet"):
                affected.append(status.getPath())
        if not affected:
            return dict(_NO_COMPACTION)
        old = spark.read.parquet(*[p.toString() for p in affected])
        n_before = old.count()
        tmp = f"{table}__compact_tmp"
        write_bucketed(
            old.join(F.broadcast(gone), self.removal_key, "left_anti"),
            tmp, self.bucket_col, self.n_buckets, self.sort_key,
        )
        n_after = spark.table(tmp).count()
        baks = []
        for p in affected:
            bak = hpath(p.getParent(), ".bak_" + p.getName())
            fs.rename(p, bak)
            baks.append(bak)
        moved = 0
        for status in fs.listStatus(_path(spark, tmp)):
            name = status.getPath().getName()
            if name.endswith(".parquet"):
                fs.rename(status.getPath(), hpath(loc, name))
                moved += 1
        for bak in baks:
            fs.delete(bak, False)
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        if spark.catalog.tableExists(table):
            spark.catalog.refreshTable(table)
        return {
            "buckets_rewritten": len(buckets),
            "files_removed": len(affected),
            "files_moved": moved,
            "rows_removed": int(n_before - n_after),
        }

    def apply_diff(
        self,
        spark: SparkSession,
        diff: DataFrame,
        new: DataFrame,
        table: str,
        old: DataFrame | None = None,
    ) -> dict:
        """Apply a diff frame (``removal_key``, ``status``: added /
        removed / changed / unchanged) to ``table``: compact out removed
        and changed rows, then append added and changed rows of ``new``.
        Compaction goes first, so a changed row's old version is gone
        before its new version lands.  ``old`` (the previous source
        rows) is needed only when compaction re-derives buckets.
        Returns the compaction stats plus ``rows_appended``."""
        def ids(*statuses):
            return diff.filter(F.col("status").isin(*statuses)).select(
                self.removal_key
            )

        gone = ids("removed", "changed")
        if self.bucket_col != self.removal_key:
            gone = old.join(gone, self.removal_key, "left_semi")
        stats = self.compact(spark, gone, table)
        fresh = new.join(ids("added", "changed"), self.removal_key, "left_semi")
        n_fresh = fresh.count()
        if n_fresh:
            self.append(spark, fresh, table)
        stats["rows_appended"] = int(n_fresh)
        return stats
