"""Merge / UPSERT writer (SURVEY.md §2.9, K4/J3; M4).

The reference gets idempotent, last-write-wins-by-key loads only at
the warehouse boundary, via Redshift's ``S3ToRedshiftOperator(
method='UPSERT', upsert_keys=[pk])``
(reference: init_2_s3_to_redshifht_dag.py:63-74;
proc_2_s3_to_redshifht_dag.py:13-39,64-75) — its own Parquet zone just
appends and hopes (journey-data-transformation.py:106,156,160). This
engine owns MERGE semantics on plain Parquet; when the target is a
catalog table whose format supports row-level operations
(Delta/Iceberg), :func:`upsert_catalog_table` delegates the same
contract to a single ``MERGE INTO`` statement instead
(:func:`merge_into_sql` renders it; probe with
:func:`supports_merge_into`). The relational definition either way:

    upsert = new ∪ (old ⟕anti new on pk)   — new rows win

Scale design: the table is hash-partitioned on a derived bucket of the
primary key (``pk_bucket = pmod(hash(pk), n_buckets)``) and written
with dynamic partition overwrite, so an incremental batch rewrites
ONLY the buckets it touches — never the whole table. The anti-join
reads just those buckets back (partition pruning on ``pk_bucket``),
and the new side is bucket-tagged with the same function, so at
100 TB a weekly increment costs O(increment × touched-buckets), not
O(table). The increment itself is evaluated once per upsert, and an
empty one touches nothing.
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "__pk_bucket"


def upsert_frames(
    old: DataFrame, new: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Pure-frame MERGE: rows of ``new`` replace same-key rows of
    ``old``; unmatched old rows survive. The relational core of the
    writer, exposed separately so it is oracle-testable without I/O.

    ``new`` must be unique per key (enforce upstream with
    dedup_deterministic — the reference's dropDuplicates-before-write
    plays this role, journey-data-transformation.py:102,150).

    Frames are explicitly aliased: ``new`` is often derived from
    ``old`` (same lineage), and unaliased ``new[k] == old[k]`` would
    resolve both sides to the same attribute.
    """
    o = old.alias("__old")
    n = new.alias("__new")
    on = [F.col(f"__old.{k}").eqNullSafe(F.col(f"__new.{k}")) for k in keys]
    survivors = o.join(n, on=on, how="left_anti")
    return new.unionByName(survivors.select(*old.columns))


class MergeWriter:
    """Idempotent keyed writer over bucket-partitioned Parquet.

    ``n_buckets`` controls incremental-rewrite granularity: more
    buckets ⇒ smaller rewrites but more files. For a 100 TB table with
    ~weekly 0.1% increments, thousands of buckets keep each rewrite in
    the tens-of-GB range.
    """

    def __init__(self, path: str, keys: Sequence[str], n_buckets: int = 32):
        self.path = path
        self.keys = list(keys)
        self.n_buckets = n_buckets

    def _bucketed(self, df: DataFrame) -> DataFrame:
        b = F.pmod(F.hash(*[F.col(k) for k in self.keys]), F.lit(self.n_buckets))
        return df.withColumn(BUCKET_COL, b)

    def _exists(self, spark: SparkSession) -> bool:
        # Cheap existence probe via the JVM Hadoop FS API (works for
        # local paths and object stores alike).
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(self.path)
        return p.getFileSystem(conf).exists(p)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path).drop(BUCKET_COL)

    def overwrite(self, df: DataFrame) -> None:
        """K1 — full refresh (reference: init-data-transformation.py:43,92)."""
        (
            self._bucketed(df)
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(self.path)
        )

    def upsert(self, spark: SparkSession, new: DataFrame) -> None:
        """K4/J3 — keyed merge of an increment.

        Reads back only the buckets the increment touches (partition
        pruning on ``BUCKET_COL``), anti-joins survivors, and rewrites
        those buckets alone via dynamic partition overwrite
        (``spark.sql.sources.partitionOverwriteMode=dynamic`` — set in
        session.py). Running the same increment twice yields an
        identical table: the idempotency contract the reference
        delegates to Redshift.

        The increment is evaluated exactly once: the bucket-tagged
        ``new`` is materialized (increment-sized, like the merged
        buckets below) and both the touched-bucket list and the merge
        read that one materialization. Deriving them from two
        evaluations would let a nondeterministic increment put rows in
        a bucket that was never read back, and the dynamic overwrite
        would then erase that bucket's old rows. An empty increment is
        a no-op: nothing is read, merged or written.
        """
        if not self._exists(spark):
            self.overwrite(new)
            return
        new_b = self._bucketed(new).localCheckpoint(eager=True)
        touched = [r[BUCKET_COL] for r in new_b.select(BUCKET_COL).distinct().collect()]
        if not touched:
            return
        old = spark.read.parquet(self.path).where(F.col(BUCKET_COL).isin(touched))
        # eqNullSafe to match upsert_frames: a null-unsafe condition
        # would never match null-key rows, so re-running the same
        # increment would append them again — breaking idempotency.
        on = [new_b[k].eqNullSafe(old[k]) for k in self.keys]
        survivors = old.join(new_b, on=on, how="left_anti")
        merged = new_b.unionByName(survivors)
        # Spark (correctly) refuses to overwrite a path its own plan is
        # reading; materialize the merged buckets first to cut lineage.
        # The checkpoint holds only the touched buckets, not the table.
        # (With Delta/Iceberg on the classpath this whole method becomes
        # a single MERGE INTO and the checkpoint disappears.)
        merged = merged.localCheckpoint(eager=True)
        # Dynamic overwrite replaces only partitions present in `merged`
        # = exactly the touched buckets. The mode is pinned as a
        # WRITE-level option (overrides any session conf): on a foreign
        # SparkSession without session.get_spark's dynamic default, a
        # static overwrite would silently ERASE every untouched bucket.
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(self.path)
        )


def merge_into_sql(target: str, source: str, keys: Sequence[str]) -> str:
    """Render the ``MERGE INTO`` statement equivalent to
    :func:`upsert_frames` (reference semantics:
    init_2_s3_to_redshifht_dag.py:63-74 ``method='UPSERT'``).

    ``<=>`` (null-safe equality) in the ON clause mirrors
    ``eqNullSafe`` in the frame path, so null-key rows match rather
    than duplicating on re-run. ``UPDATE SET * / INSERT *`` is the
    Spark SQL star form — same column list both sides, enforced by the
    caller aligning schemas (as ``unionByName`` does in the frame
    path)."""
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
    return (
        f"MERGE INTO {target} t USING {source} s ON {on} "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def supports_merge_into(spark: SparkSession, provider: str = "delta") -> bool:
    """Probe whether a row-level-operation table provider is on the
    classpath (Delta: ``io.delta.tables.DeltaTable``; Iceberg: its
    Spark catalog class; ``rowlvl``: the in-repo DSv2 catalog from
    ``jvm/SimpleRowLevelCatalog.java``, compiled and mounted by
    ``session.get_spark``). Delta/Iceberg jars are not baked into this
    container, so those probes answer False and callers fall back to
    :class:`MergeWriter`; the ``rowlvl`` probe answers True whenever
    the session was built with the JDK toolchain present — giving the
    MERGE INTO delegation a real execution path."""
    classes = {
        "delta": "io.delta.tables.DeltaTable",
        "iceberg": "org.apache.iceberg.spark.SparkCatalog",
        "rowlvl": "sparkgraft.catalog.SimpleRowLevelCatalog",
    }
    cls = classes.get(provider)
    if cls is None:
        raise ValueError(f"unknown provider {provider!r}; known: {sorted(classes)}")
    jvm = spark.sparkContext._jvm
    # Probe Spark's own classloader chain first: raw Class.forName uses
    # the py4j gateway's root loader, which cannot see jars added via
    # spark.jars.packages / session MutableURLClassLoader and would
    # false-negative. Utils.classForName(cls, initialize, noSparkClassLoader
    # =False) resolves through the context classloader like Spark itself
    # does when it loads the provider.
    try:
        jvm.org.apache.spark.util.Utils.classForName(cls, True, False)
        return True
    except Exception:
        pass
    try:
        jvm.java.lang.Class.forName(cls)
        return True
    except Exception:
        return False


def upsert_catalog_table(
    spark: SparkSession, table: str, new: DataFrame, keys: Sequence[str]
) -> None:
    """K4/J3 on a catalog table: delegate the keyed merge to the
    engine's ``MERGE INTO`` (Delta/Iceberg row-level ops) instead of
    the read-anti-join-rewrite cycle MergeWriter runs on plain
    Parquet. Same idempotency contract; the format's transaction log
    supplies atomicity that dynamic partition overwrite only
    approximates.

    Raises the provider's AnalysisException unchanged if the table's
    format does not support row-level operations — probe with
    :func:`supports_merge_into` first."""
    # unique per call: a fixed name would let two concurrent upserts
    # on one SparkSession swap each other's source views mid-MERGE
    view = f"__merge_into_source_{uuid.uuid4().hex}"
    new.createOrReplaceTempView(view)
    try:
        spark.sql(merge_into_sql(table, view, keys))
    finally:
        spark.catalog.dropTempView(view)
