"""Roll-forward transactions of the O(delta) stores: the tier merges
(incremental.py), the minhash store (dedup_inc.py) and the IVF store
(ann_inc.py), compactions included.

1. stage: Spark writes the new data once, already in the store's layout
   (``repartition`` by the partition column, then ``partitionBy``: one
   file per partition or shard), into scratch directories;
2. commit: the driver writes the intent, the keys the transaction
   applies (input files, or the txn ids a compaction folds), LAST — its
   ``_SUCCESS`` is the commit point;
3. promote: each staged directory is moved into the store by
   delete-then-rename through the Hadoop FileSystem (no data is read or
   rewritten), the keys are unioned into the store's manifest, and the
   intent is deleted, then the scratch.

Every promote step is idempotent — a move whose source is gone already
happened, one whose target was deleted but whose source is still staged
is finished by the replay, the manifest update is a set union — so
``recover`` rolls a committed transaction forward from any kill point
and clears an uncommitted one's scratch (store and manifest untouched).

Intents, manifests and the dedup config are small tables the driver
encodes with pyarrow and writes as one-part parquet directories through
the same FileSystem, the way a table log is written from the driver:
``spark.read.parquet`` still reads them, but they cost no Spark job.
"""

from __future__ import annotations

import hashlib
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession


def txn_id(keys) -> str:
    """Deterministic id of a transaction's keys: a replayed promote
    recomputes it from the intent and targets the same directories."""
    return hashlib.md5("\n".join(sorted(keys)).encode()).hexdigest()[:12]


def fs_path(spark: SparkSession, path: str):
    """Hadoop FileSystem + Path (local/HDFS/S3A alike)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath  # noqa: SLF001


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = fs_path(spark, path)
    return fs.exists(jpath)


def delete(spark: SparkSession, *paths: str) -> None:
    for path in paths:
        fs, jpath = fs_path(spark, path)
        if fs.exists(jpath):
            fs.delete(jpath, True)


def move(spark: SparkSession, src: str, dst: str) -> None:
    """Delete-then-rename ``src`` onto ``dst``; a missing ``src`` was
    already moved."""
    fs, s = fs_path(spark, src)
    if not fs.exists(s):
        return
    d = spark._jvm.org.apache.hadoop.fs.Path(dst)  # noqa: SLF001
    if fs.exists(d):
        fs.delete(d, True)
    fs.mkdirs(d.getParent())
    if not fs.rename(s, d):
        raise OSError(f"rename {src} -> {dst} failed")


def move_partitions(spark: SparkSession, staging: str, store: str) -> None:
    """Move each ``<col>=<value>`` directory of ``staging`` onto the
    same-named partition of ``store``; other partitions stay untouched."""
    fs, root = fs_path(spark, staging)
    if not fs.exists(root):
        return
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and "=" in name:
            move(spark, f"{staging}/{name}", f"{store}/{name}")


def count_parquet_files(spark: SparkSession, *trees: str) -> int:
    n = 0
    for tree in trees:
        fs, root = fs_path(spark, tree)
        if not fs.exists(root):
            continue
        it = fs.listFiles(root, True)
        while it.hasNext():
            n += it.next().getPath().getName().endswith(".parquet")
    return n


def write_table(spark: SparkSession, path: str, table: pa.Table) -> None:
    """Replace the parquet directory ``path`` by ``table`` as one part,
    then ``_SUCCESS``. The part is written under a hidden name and renamed
    into place before the old parts are deleted: a reader never finds no
    complete part (in between it finds both — a manifest's new content is
    a superset of its old)."""
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    data = sink.getvalue().to_pybytes()
    fs, root = fs_path(spark, path)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    name = uuid.uuid4().hex
    tmp = jvm_path(root, f"_tmp-{name}.parquet")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data), 0, len(data))
    finally:
        out.close()
    # old parts, and temporaries of an earlier write that was killed
    stale = [
        st.getPath()
        for st in fs.listStatus(root)
        if st.isFile()
        and st.getPath().getName() != tmp.getName()
        and not st.getPath().getName().startswith(("_SUCCESS", "."))
    ]
    if not fs.rename(tmp, jvm_path(root, f"part-{name}.parquet")):
        raise OSError(f"rename of a new part into {path} failed")
    fs.create(jvm_path(root, "_SUCCESS"), True).close()
    for f in stale:
        fs.delete(f, False)


def read_table(spark: SparkSession, path: str) -> pa.Table | None:
    """A parquet directory (written here or by Spark) read on the driver;
    None when it is absent or holds no data file. As for Spark, names
    starting with ``_`` or ``.`` are not data."""
    fs, root = fs_path(spark, path)
    if not fs.exists(root):
        return None
    tables = []
    for st in fs.listStatus(root):
        if st.isFile() and not st.getPath().getName().startswith(("_", ".")):
            stream = fs.open(st.getPath())
            try:
                data = bytes(stream.readAllBytes())
            finally:
                stream.close()
            tables.append(pq.read_table(pa.BufferReader(data)))
    return pa.concat_tables(tables, promote_options="default") if tables else None


def write_keys(spark: SparkSession, path: str, keys, key: str = "path") -> None:
    """Write an intent or a manifest: one string column of sorted keys."""
    write_table(spark, path, pa.table({key: pa.array(sorted(keys), pa.string())}))


def read_paths(spark: SparkSession, manifest: str) -> set[str]:
    """The file paths a store's manifest records (empty when absent)."""
    t = read_table(spark, manifest)
    return set(t.column("path").to_pylist()) if t is not None else set()


def union_manifest(spark: SparkSession, manifest: str, paths) -> None:
    write_keys(spark, manifest, read_paths(spark, manifest) | set(paths))


def intent_keys(
    spark: SparkSession, intent: str, *staging: str, key: str = "path"
) -> list[str]:
    """The keys of a committed intent. One with other columns (schema
    DDLs) was prepared by the older layout, whose staging held loose part
    files with the partition column as data: a rename promote would
    record its keys and move no data, so it is refused untouched."""
    t = read_table(spark, intent)
    extra = sorted(set(t.column_names) - {key}) if t is not None else []
    if t is None or extra:
        raise ValueError(
            f"transaction {intent} was prepared by an older store layout "
            f"(intent columns {extra}): its staging {', '.join(staging)} is "
            "not in the store's layout and cannot be promoted by rename. "
            "The store and manifest are untouched; finish it with the code "
            "that prepared it, or delete the intent and staging to drop it "
            "(its input files then re-apply on the next merge)"
        )
    return sorted(t.column(key).to_pylist())


def recover(spark: SparkSession, intent: str, promote, cleanup, *args) -> bool:
    """Roll a committed transaction forward (``promote(spark, *args)``,
    True) or clear an uncommitted one's scratch (``cleanup(spark, *args)``,
    False). Run it before reading the store's manifest."""
    if not exists(spark, f"{intent}/_SUCCESS"):
        cleanup(spark, *args)
        return False
    promote(spark, *args)
    return True
