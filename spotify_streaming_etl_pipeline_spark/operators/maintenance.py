"""Table maintenance: small-file compaction for parquet directories.

Incremental appends (the writer's conflict-ignore path, streaming
foreachBatch micro-batches) accumulate many small part files; at lake
scale the file count — not the byte count — becomes the scan
bottleneck (one scheduler task + one footer read per file, and object
stores throttle LIST/GET). Table formats solve this with OPTIMIZE /
rewrite-data-files compactions; for plain parquet the same operation
is a read → repartition-to-target-size → atomic swap rewrite.

The rewrite is data-preserving for a quiesced table (one job reads,
one writes, rename-aside → promote → retire; see compact_parquet's
single-writer contract) and keeps the existing partition columns:
compaction runs per partition directory, so a 100 TB table compacts
incrementally — only partitions whose file count drifted, never the
whole table.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

TARGET_FILE_BYTES = 128 * 1024 * 1024


def parquet_file_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet dir (recursive,
    ignores _SUCCESS/_metadata sidecars)."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def _siblings(path: str, kind: str) -> tuple[str, str]:
    """(tmp, old): the ``.{kind}_tmp_*`` / ``.{kind}_old_*`` siblings
    of ``path``, dot-prefixed AND '='-free.  Spark keeps '_'-prefixed
    dirs whose name contains '=' (that's how `_year=2021` partitions
    survive), so a name derived from a leaf partition dir must strip
    the '=' or partition discovery would pick it up (verified: an
    '='-containing residue dir fails the read with
    CONFLICTING_PARTITION_COLUMN_NAMES; a '.'-prefixed one is
    invisible)."""
    parent, base = os.path.split(os.path.normpath(path))
    safe = base.replace("=", "-")
    return (
        os.path.join(parent, f".{kind}_tmp_{safe}"),
        os.path.join(parent, f".{kind}_old_{safe}"),
    )


def recover_swap_residue(path: str, kind: str) -> tuple[str, str]:
    """Crash recovery for the two-rename swap of ``path`` (rewrite to
    ``tmp``, rename ``path`` aside to ``old``, promote ``tmp``, retire
    ``old``), run before anything reads or rewrites ``path``.  A crash
    can leave (a) ``tmp`` residue after the rewrite, (b) the live dir
    ABSENT with the data under ``old`` — reads would silently see no
    table — or (c) a stale ``old`` after promotion.  Restore the old
    dir when the live one is missing; otherwise clear residue.
    Returns the (tmp, old) siblings (``_siblings``)."""
    tmp, old = _siblings(path, kind)
    if os.path.isdir(old) and not os.path.isdir(path):
        os.rename(old, path)  # case (b): promote the retired copy back
    if os.path.isdir(old):
        shutil.rmtree(old)  # case (c): swap completed, retire for real
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)  # case (a): unpromoted rewrite is garbage
    return tmp, old


def write_aside(df: DataFrame, path: str, kind: str) -> str:
    """The write half of the swap of ``path``: recover crash residue,
    then write ``df`` to the tmp sibling and return its path.  The live
    files stay in place, so ``df``'s plan may read ``path`` itself."""
    tmp, _old = recover_swap_residue(path, kind)
    df.write.mode("overwrite").parquet(tmp)
    return tmp


def promote(spark: SparkSession, path: str, kind: str) -> None:
    """The promote half of the swap of ``path``: rename the live dir
    ASIDE, promote the tmp sibling ``write_aside`` wrote, retire the
    old dir, then drop Spark's cached file listing of ``path``.
    Renames only, no Spark job.  A crash between the renames leaves
    the data under the old sibling, which the next recovery restores;
    rmtree-then-rename would leave no table at all."""
    tmp, old = _siblings(path, kind)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.isdir(old):
        shutil.rmtree(old)
    # Spark's shared FileStatusCache still holds the old listing for
    # this path; invalidate it or later reads hit deleted part files.
    spark.catalog.refreshByPath(path)


def swap_write(df: DataFrame, path: str, kind: str) -> None:
    """Replace the parquet dir ``path`` with ``df`` through the
    two-rename swap: ``write_aside``, then ``promote``.  ``kind`` names
    the residue siblings (``.{kind}_tmp_*`` / ``.{kind}_old_*``, see
    ``recover_swap_residue``).  A caller that must run other writes
    between the two halves (``pipeline.run``: every dim is written
    before the fact appends and promoted after them) calls them
    itself."""
    write_aside(df, path, kind)
    promote(df.sparkSession, path, kind)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    min_files_to_compact: int = 2,
) -> int:
    """Rewrite ``path`` into ~target-sized files; returns the new file
    count (or the old one when already compact).

    Single-writer operation: the caller must ensure no concurrent
    appender targets ``path`` between the read job and the swap — a
    part file appended in that window is lost when the old directory
    is retired (same contract as Delta/Iceberg OPTIMIZE, which take a
    table lock for the commit). Streaming appenders should pause, or
    compaction should run on partitions past their append horizon
    (e.g. closed year= partitions).

    The rewrite goes to sibling work dirs whose basenames start with a
    dot (and contain no ``=``), so Spark/Hadoop path filters hide them
    from any read of the partitioned table root while the rewrite (or
    crash residue) exists, and partition inference never sees them.
    The swap itself is two renames, not one atomic operation: the old
    dir is renamed aside, the new one promoted, then the old one
    removed — a crash between the renames leaves the data recoverable
    under ``.compact_old_*`` rather than half-deleted.
    """
    recover_swap_residue(path, "compact")  # the listing below needs it
    if any(
        "=" in e and os.path.isdir(os.path.join(path, e))
        for e in os.listdir(path)
    ):
        # Compacting a NON-leaf dir would flatten the nested partition
        # layout (the rewrite reads partition columns as data and
        # writes them as physical columns without dirs), after which
        # the table root fails with conflicting directory structures.
        raise ValueError(
            f"{path} contains partition subdirectories — compact its "
            "leaf partition dirs (compact_partitioned recurses to them)"
        )
    n_files, total_bytes = parquet_file_stats(path)
    n_target = max(1, -(-total_bytes // target_file_bytes))  # ceil
    if n_files < min_files_to_compact or n_files <= n_target:
        return n_files
    # coalesce, not repartition: narrowing to fewer files needs no
    # shuffle — each output task reads a run of input files.
    swap_write(spark.read.parquet(path).coalesce(n_target), path, "compact")
    return parquet_file_stats(path)[0]


def compact_partitioned(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    min_files_to_compact: int = 2,
) -> dict[str, int]:
    """Compact every leaf partition directory (``key=value``) under a
    partitioned table root, one directory at a time — the incremental
    form that scales: only partitions whose file count drifted are
    rewritten, a 100 TB table never sees a whole-table job. Leaf
    selection matches Spark's own path filter: ``key=value`` dirs are
    partitions even with a leading underscore (``_year=2021``), while
    dot-prefixed dirs (compaction work dirs / crash residue) are
    hidden. Returns {partition_dir_name: file_count_after}. Inherits
    compact_parquet's single-writer contract per leaf."""
    out: dict[str, int] = {}
    for entry in sorted(os.listdir(root)):
        p = os.path.join(root, entry)
        if os.path.isdir(p) and "=" in entry and not entry.startswith("."):
            out[entry] = compact_parquet(
                spark, p, target_file_bytes, min_files_to_compact
            )
    spark.catalog.refreshByPath(root)
    return out


def overwrite_partitions(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leave every other partition untouched — the idempotent
    backfill/restatement write (re-run yesterday's load without
    clobbering the rest of the table). Plain ``mode("overwrite")``
    with STATIC overwrite semantics would truncate the whole root.

    Scoped via the writer option (not a session-wide conf mutation) so
    concurrent writers on the same session keep their own semantics.
    Same contract as lakehouse `INSERT OVERWRITE ... PARTITION`."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
