"""Bucketed-table sink — the co-located-join storage layout.

At 100 TB the dominant recurring cost is re-shuffling the same fact
tables on the same key for every join.  Bucketing pays that shuffle ONCE
at write time: ``bucketBy(n, key)`` hash-partitions rows into a fixed
number of files per partition and records the layout in the catalog, so
every later equi-join or aggregation on the key reads both sides already
co-partitioned — Catalyst drops the Exchange from the plan entirely
(asserted by tests/test_bucketed.py).

Rules that make bucketing actually work (all encoded here):
- both join sides must use the SAME bucket count (else Spark re-shuffles
  the mismatched side; Spark 3.1+ can coalesce a multiple, but same-N is
  the predictable contract);
- ``sortBy`` the bucket key so bucket files are join-ready for sort-merge
  without a per-task sort;
- writes must go through ``saveAsTable`` (a path write loses the bucket
  metadata — this module refuses the footgun by construction);
- bucket count is a scale knob: files-per-write = partitions × buckets,
  so pick buckets ≈ table-size / target-file-size and repartition to the
  bucket key first to keep one file per bucket.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from ..session import LEG_THREAD_PREFIX


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for the duration of the block, restoring the
    prior value (or unsetting) on exit — session confs are global to the
    SparkSession, so a bare ``conf.set`` inside an operator silently
    changes every later query's physical plans (plan-pinned tests, bench
    timings).  NOTE Spark plans lazily: the conf must still be in scope
    when the DataFrame EXECUTES, so callers either materialize inside
    the block (``localCheckpoint(eager=True)``) or keep the block open
    across the action.  Refused on a ``session.run_legs`` thread: the
    set-then-restore would race the sibling legs' plans."""
    if threading.current_thread().name.startswith(LEG_THREAD_PREFIX):
        raise RuntimeError(
            f"scoped_conf({key!r}) inside a run_legs leg; scope it around "
            "the run_legs call instead"
        )
    try:
        prior = spark.conf.get(key)
    except Exception:
        prior = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


@contextmanager
def bucket_filter_pruning(spark: SparkSession):
    """Scope for serving bucket-PRUNED scans: Spark's
    DisableUnnecessaryBucketedScan rule (default on) only credits a
    bucketed layout when a join/aggregate wants the partitioning — it
    does not model FILTER bucket pruning, so a scan-only path filtering
    on the bucket key (``cid = literal`` → read 1 of k bucket files)
    loses SelectedBucketsCount unless autoBucketedScan is disabled.
    Scoped here so the override cannot leak into unrelated queries."""
    with scoped_conf(
        spark, "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    ):
        yield


def drop_table_and_location(spark: SparkSession, table: str) -> None:
    """DROP TABLE IF EXISTS plus removal of any orphaned warehouse
    directory the (session-scoped, in-memory) catalog no longer knows
    about — without this, re-running a build in a fresh session hits
    LOCATION_ALREADY_EXISTS on saveAsTable."""
    import os
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for pre in ("file://", "file:"):
        if wh.startswith(pre):
            wh = wh[len(pre):]
            break
    loc = os.path.join(wh, table.lower())
    if os.path.exists(loc):
        shutil.rmtree(loc)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 8,
    sort: bool = True,
) -> None:
    """Persist `df` as a catalog table bucketed (and bucket-sorted) on
    `key`.  Repartitions to the bucket key first so each bucket lands as
    one file instead of one-per-input-partition (the small-files trap at
    write fan-out)."""
    w = df.repartition(n_buckets, key).write.mode("overwrite").bucketBy(
        n_buckets, key
    )
    if sort:
        w = w.sortBy(key)
    w.format("parquet").saveAsTable(table)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key.  With matched
    layouts the physical plan contains NO Exchange on either side — the
    join reads co-partitioned buckets directly."""
    return spark.table(left_table).join(spark.table(right_table), key)


def write_range_sorted(
    df: DataFrame,
    path: str,
    order_col: str,
    n_files: int = 8,
) -> None:
    """Range-partitioned, within-file-sorted parquet — the archive layout
    for time-ordered data.  ``repartitionByRange`` samples the order
    column and assigns DISJOINT value ranges to output files, and
    ``sortWithinPartitions`` sorts inside each file, so (a) the parquet
    min/max column statistics become non-overlapping across files —
    a time-bounded read at 100 TB prunes to the few files whose range
    intersects the predicate — and (b) within a file, row-group stats
    prune further.  A plain write after a hash repartition scatters every
    time range into every file and can prune nothing."""
    (
        df.repartitionByRange(n_files, order_col)
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def zvalue(x, y, bits: int = 16):
    """Morton/Z-order interleave of two non-negative ints (bits each) —
    a pure bitwise column expression, fully codegen'd."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(
                F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            )
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Z-order clustered parquet: range-partition + sort on the Morton
    interleave of TWO columns, so per-file min/max stats are partially
    selective on BOTH — a predicate on either column prunes files,
    where a single-column sort gives pruning on one and nothing on the
    other.  This is the layout for 100 TB tables queried along two
    independent dimensions (tenant × time, key × date); more dimensions
    interleave the same way at proportionally coarser per-dim locality."""
    from pyspark.sql import functions as F

    # min-max normalize both dimensions to the full bit domain first —
    # interleaving RAW values lets the wider-range column's high bits
    # dominate the order and the narrow column degenerates to no
    # locality (two tiny agg jobs at write time, negligible vs the write)
    top = (1 << bits) - 1
    bounds = df.agg(
        F.min(col_x).alias("x0"),
        F.max(col_x).alias("x1"),
        F.min(col_y).alias("y0"),
        F.max(col_y).alias("y1"),
    ).collect()[0]

    def norm(c: str, lo, hi):
        if hi == lo:
            return F.lit(0).cast("bigint")
        return F.expr(
            f"(({c} - {lo}) * {top}) div ({hi} - {lo})"
        ).cast("bigint")

    z = zvalue(norm(col_x, bounds.x0, bounds.x1), norm(col_y, bounds.y0, bounds.y1), bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet_dir(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction — the background maintenance job every
    100 TB lake needs: streaming sinks and incremental batch appends
    leave directories of KB-sized parquet files whose per-file open +
    footer-parse overhead dominates scans long before data volume does
    (the NameNode/listing pressure is worse still).  Rewrite the
    directory as ceil(total_bytes / target_file_bytes) files via a
    round-robin repartition — a pure linear rewrite: one narrow scan,
    one shuffle of the payload into the target file count, no
    key-based placement to skew.

    Returns the number of output files requested.  Callers that need a
    keyed or time-ordered layout compact through write_bucketed /
    write_range_sorted instead — this is the layout-agnostic fallback
    for append-only event/log directories.  (Row-preservation and
    file-count behavior pinned in tests/test_bucketed.py.)"""
    # size via the Hadoop FileSystem API, not a driver-local os.walk:
    # the source may be any URI scheme (hdfs://, s3a://, file:) and the
    # 100 TB framing above requires the size probe to work there too
    # (ADVICE r8).  RECURSIVE listFiles filtered to visible *.parquet:
    # not getContentSummary (counts committer metadata — _SUCCESS,
    # .crc — which can bump n_files across a target_file_bytes
    # boundary, ADVICE r9), and not top-level listStatus (blind to
    # nested/partitioned layouts, where total would be 0 and the whole
    # directory silently compacted to ONE file regardless of size,
    # ADVICE r10).  Hidden-dir descendants (_tmp/..., .staging/...)
    # are excluded by checking every path segment under src_dir.
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(src_dir)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    base = fs.makeQualified(jpath).toUri().getPath().rstrip("/")

    def _visible(p) -> bool:
        rel = p.toUri().getPath()[len(base) :].lstrip("/")
        return not any(
            seg.startswith(("_", ".")) for seg in rel.split("/")
        )

    total = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet") and _visible(st.getPath()):
            total += st.getLen()
    n_files = max(1, -(-total // target_file_bytes))
    (
        spark.read.parquet(src_dir)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return n_files
