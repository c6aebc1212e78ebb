"""The lifecycle every availableNow stream run in the package shares.

A stream run here is synchronous: it starts with ``Trigger.AvailableNow``,
drains what its source holds and stops.  This module is the one place
that decides how such a run is set up and torn down:

- **Conf scope.** Every query starts under ``spark.sql.shuffle.partitions
  = _STREAM_SHUFFLE_PARTS`` (``drain``).
- **Scratch.** Staged sources, checkpoints and work dirs are made here
  (``replay``, ``drain_to_memory``, ``drain_partials``).
- **Replay safety.** foreachBatch output is a bid-keyed overwrite, read
  back only from ``_SUCCESS``-committed dirs (``drain_partials``).
- **Partials read.** ``drain_partials`` returns the committed partials
  as one frame of the schema its caller declares and each partial is
  checked against — no schema inference, no footer job.
- **Release.** What this module created is removed when the run ends: the
  staged source and the checkpoint in a ``finally``, the memory-sink view
  as soon as its frame is captured.  Caller-owned dirs are never removed,
  and neither is a partials dir, which the returned frame reads lazily
  (ROADMAP Direction 4).
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import run_legs

# Micro-batch shuffle/state-store partition count, scoped per stream run
# (sinks.bucketed.scoped_conf): stateful streams pin their state-store
# partition count from spark.sql.shuffle.partitions at FIRST query
# start, so the batch engine's core-count default (32 here) would give
# every micro-batch 32 state commits + 32 reduce tasks for
# trigger-sized inputs — per-batch volume, not cluster width, is the
# right sizing (optimization guide §2.2: fewer, larger partitions).
# Production deployments raise this via the env to match real trigger
# volume; checkpoints replay under the same scoped value, so resume
# tests see a consistent layout.
_STREAM_SHUFFLE_PARTS = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8")


def drain(spark: SparkSession, writer, checkpoint_dir: str) -> None:
    """Start ``writer`` (a ``DataStreamWriter`` without trigger or
    checkpoint) on ``checkpoint_dir`` with ``Trigger.AvailableNow`` and
    wait until it has drained.  The conf must be in scope at
    ``.start()`` — Structured Streaming clones the session conf when the
    query starts, not per batch.  Creates and removes nothing."""
    from ..sinks.bucketed import scoped_conf

    with scoped_conf(
        spark, "spark.sql.shuffle.partitions", _STREAM_SHUFFLE_PARTS
    ):
        q = (
            writer.option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def drain_to_files(
    spark: SparkSession, frame: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Append ``frame`` to a parquet file sink — the recoverable sink:
    a rerun on the same caller-owned ``checkpoint_dir`` processes only
    what arrived since."""
    drain(
        spark,
        frame.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        checkpoint_dir,
    )


def drain_to_memory(spark: SparkSession, frame: DataFrame, mode: str) -> DataFrame:
    """Drain ``frame`` into a memory sink in output ``mode`` and return
    its rows.  The query name and checkpoint are made here; the view is
    dropped and the checkpoint removed before returning — the captured
    frame keeps the sink's rows, not the catalog entry."""
    name = f"drain_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    try:
        drain(
            spark,
            frame.writeStream.format("memory").queryName(name).outputMode(mode),
            ckpt,
        )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)


def _file_stream(spark: SparkSession, src: str, schema: T.StructType) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def _schema(staged: DataFrame, buckets: int | None) -> T.StructType:
    return (staged.drop("b") if buckets else staged).schema


def _stage(
    spark: SparkSession, staged: DataFrame, src: str, buckets: int | None
) -> None:
    """Write ``staged`` to ``src`` as the stream's input files.

    Without ``buckets`` each partition of ``staged`` becomes one file, so
    the caller's partitioning sets the micro-batches.  With ``buckets``,
    file ``k`` holds the rows whose integer column ``b`` equals ``k``
    (``b`` dropped), mtime-staggered so one file per trigger replays them
    in ``k`` order.  The single-file writes are independent jobs, run as
    ``run_legs``; names and mtimes are computed per ``k``, so the layout
    does not depend on their timing."""
    if not buckets:
        staged.write.mode("overwrite").parquet(src)
        return
    os.makedirs(src, exist_ok=True)
    t0 = time.time() - 3600

    def _stage_one(k: int) -> None:
        tmp = os.path.join(src, f"_tmp{k}")
        staged.filter(F.col("b") == k).drop("b").coalesce(1).write.parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        target = os.path.join(src, f"{k:02d}.parquet")
        shutil.move(os.path.join(tmp, part[0]), target)
        shutil.rmtree(tmp)
        os.utime(target, (t0 + 60 * k, t0 + 60 * k))

    run_legs(spark, *(functools.partial(_stage_one, k) for k in range(buckets)))


@contextlib.contextmanager
def replay(
    spark: SparkSession,
    staged: DataFrame | str,
    schema: T.StructType | None = None,
    *,
    buckets: int | None = None,
) -> Iterator[DataFrame]:
    """Yield a file stream that replays ``staged`` one file per trigger,
    and remove its scratch source dir on exit.

    ``staged`` is either a DataFrame, staged as ``_stage`` describes, or
    the path of one parquet file, linked in place (zero-copy) and read
    with the caller's ``schema``.  ``rmtree`` unlinks the link; it does
    not follow it."""
    src = tempfile.mkdtemp(prefix="stream_src_")
    try:
        if isinstance(staged, str):
            os.symlink(staged, os.path.join(src, os.path.basename(staged)))
        else:
            _stage(spark, staged, src, buckets)
            schema = _schema(staged, buckets)
        yield _file_stream(spark, src, schema)
    finally:
        shutil.rmtree(src, ignore_errors=True)


def drain_partials(
    spark: SparkSession,
    staged: DataFrame,
    per_batch: Callable[[DataFrame, int], DataFrame | None],
    schema: T.StructType | str,
    *,
    work_dir: str | None = None,
    buckets: int | None = None,
) -> DataFrame:
    """Replay ``staged`` one file per trigger, write each micro-batch's
    ``per_batch(batch, bid)`` frame as the bid-keyed overwrite
    ``<work_dir>/partials/b<bid>`` (``_write_partial_bid``; ``None``
    writes nothing), and return the committed partials as one frame.

    ``schema`` (``StructType`` or DDL) is the partials' declared schema.
    Each partial is checked against it on the driver before its write
    (``simpleString`` equality, no job); a mismatch raises ``ValueError``
    naming both.  The committed dirs are read with it, so the read infers
    nothing and runs no footer job; with no committed data file the
    result is ``spark.createDataFrame([], schema)``.  The caller's merge
    sees one schema either way, and its empty answer is the merge of
    zero rows.

    REPLAY-SAFE: foreachBatch is at-least-once.  After a crash between a
    partial write and its epoch commit, Spark re-fires the same bid with
    the same rows, and the overwrite recomputes the identical partial
    instead of adding a second one.

    ``work_dir`` holds ``src/`` (staged once, as ``_stage`` describes; a
    rerun reuses it), ``ckpt/`` and ``partials/``.  A caller-owned
    ``work_dir`` survives whole, so a crashed run resumes on it.  Without
    one the dir is made here, and its ``src/`` and ``ckpt/`` are removed
    when the run ends; ``partials/`` stays, because the returned frame
    reads it lazily (ROADMAP Direction 4)."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    declared = schema.simpleString()
    created = work_dir is None
    if created:
        work_dir = tempfile.mkdtemp(prefix="stream_")
    src, ckpt, out = (
        os.path.join(work_dir, d) for d in ("src", "ckpt", "partials")
    )
    os.makedirs(out, exist_ok=True)
    try:
        if not os.path.isdir(src):
            _stage(spark, staged, src, buckets)

        def fold(batch: DataFrame, bid: int) -> None:
            part = per_batch(batch, bid)
            if part is None:
                return
            got = part.schema.simpleString()
            if got != declared:
                raise ValueError(
                    f"drain_partials: partial schema {got} does not match"
                    f" the declared {declared}"
                )
            _write_partial_bid(part, out, bid)

        drain(
            spark,
            _file_stream(spark, src, _schema(staged, buckets))
            .writeStream.foreachBatch(fold),
            ckpt,
        )
        dirs = _committed_partial_dirs(out)
    finally:
        if created:
            shutil.rmtree(src, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*dirs)


def _write_partial_bid(df: DataFrame, out_dir: str, bid: int) -> None:
    """Write a micro-batch's partial output keyed BY batch id
    (overwrite of ``b{bid}/``) — foreachBatch is at-least-once, so a
    blind append double-counts a replayed batch; an overwrite of the
    bid's own subdir makes the replay recompute the identical partial
    instead.

    Folds whose work is exactly one partial write do NOT pre-check
    ``batch.isEmpty()``: the check is its own Spark job per trigger
    (~0.15 s of pure scheduling at fixture scale, measured r14), and
    an empty batch just writes an empty committed partial that the
    merge unions as zero rows — identical result, half the jobs.
    Folds with side semantics beyond the write (sentinel rows,
    crash injection, model serving) keep their guards."""
    df.write.mode("overwrite").parquet(os.path.join(out_dir, f"b{bid}"))


def _committed_partial_dirs(out_dir: str) -> list[str]:
    """Bid subdirs whose write COMMITTED (Spark's ``_SUCCESS`` marker) —
    a half-written partial from a crash mid-write is invisible to the
    fold, and its replay overwrites it.

    ADVICE-r14: an EMPTY batch commits a dir holding only ``_SUCCESS``
    (empty-relation plans write zero part files) — skip dirs with no
    data file (they union as zero rows by definition), so an all-empty
    run returns [] and ``drain_partials`` hands back its typed-empty
    frame instead of reading a list of no paths."""
    out = []
    for name in sorted(os.listdir(out_dir)):
        p = os.path.join(out_dir, name)
        if (
            name.startswith("b")
            and name[1:].isdigit()
            and os.path.exists(os.path.join(p, "_SUCCESS"))
            and any(
                f.startswith("part-") and not f.endswith(".crc")
                for f in os.listdir(p)
            )
        ):
            out.append(p)
    return out
