"""Small-file compaction for parquet tables — the maintenance pass every
long-lived 100 TB warehouse needs: streaming sinks, frequent upserts, and
over-parallel writes each leave behind files far below the efficient scan
size, and scan cost degrades linearly with file COUNT (task scheduling,
footer reads, no intra-file parallelism to amortize) rather than bytes.

The reference never meets this problem (a single Postgres heap;
/root/reference/src/etl.py:15 rewrites one table in one transaction); on a
file-based warehouse it is a first-class operator.

Design:
- ``plan_compaction`` is a pure inspection: file listing → per-partition-dir
  byte totals → target file counts at ``target_bytes``. Local ``os.walk``
  here; the listing is the only environment-specific line (HDFS/S3 listing
  at scale) and is O(files), driver-side, no Spark job.
- ``compact_table`` rewrites only the directories the plan says benefit
  (observed files > target): read → ``coalesce(n_target)`` → write-then-swap
  (a crash-safe rename-aside swap, see ``_swap_paths`` and ``_recover``).
  coalesce, not repartition: a compaction must MERGE partitions without a
  shuffle — the data was already correctly placed, we only change its file
  granularity.
- Partitioned tables compact per partition directory, preserving the
  partition column layout (each directory is rewritten independently, so a
  crash mid-compaction leaves every partition complete, old or new).
- Swap scratch dirs are DOT-PREFIXED SIBLINGS (``.<leaf>__compact_tmp`` /
  ``.<leaf>__old``), never bare names inside the table root: Spark's
  partition discovery ignores ``.``/``_``-prefixed directories, so a
  concurrent (or post-crash) reader of a partitioned table never sees the
  scratch copy as a bogus extra partition (e.g. ``part=0__compact_tmp``)
  and never double-counts rows. ``_recover`` is run before every plan or
  compact pass: a stale ``__old`` with a missing live dir is renamed back
  (crash between the two swap renames), any other leftover is deleted.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import SparkSession

__all__ = ["CompactionPlan", "plan_compaction", "compact_table"]

_DATA_EXT = ".parquet"
_DEFAULT_TARGET = 128 * 1024 * 1024


@dataclass(frozen=True)
class CompactionPlan:
    """One directory's compaction decision."""

    directory: str        # absolute path of the leaf data directory
    n_files: int          # current data file count
    total_bytes: int      # current data bytes
    n_target: int         # file count after compaction
    worthwhile: bool      # n_files > n_target — rewriting buys something


_TMP_SUFFIX = "__compact_tmp"
_OLD_SUFFIX = "__old"


def _swap_paths(leaf: str) -> tuple[str, str]:
    """Scratch paths for one leaf dir: dot-prefixed siblings that Spark's
    file listing and partition discovery both ignore."""
    parent, base = os.path.dirname(leaf), os.path.basename(leaf)
    return (
        os.path.join(parent, "." + base + _TMP_SUFFIX),
        os.path.join(parent, "." + base + _OLD_SUFFIX),
    )


def _recover(root: str) -> None:
    """Clean (or roll back) scratch dirs left by a crashed compaction.

    A ``.X__old`` whose live dir ``X`` is missing means the crash hit between
    the two swap renames — the old copy is the only complete one, so rename
    it back. Every other leftover (``__old`` beside a live dir, any
    ``__compact_tmp``) is a redundant or incomplete copy: delete."""
    for dirpath, dirnames, _filenames in os.walk(root):
        for name in list(dirnames):
            full = os.path.join(dirpath, name)
            if name.startswith(".") and name.endswith(_OLD_SUFFIX):
                live = os.path.join(dirpath, name[1 : -len(_OLD_SUFFIX)])
                if os.path.exists(live):
                    shutil.rmtree(full)
                else:
                    os.rename(full, live)
                    dirnames.append(os.path.basename(live))
                dirnames.remove(name)
            elif name.startswith(".") and name.endswith(_TMP_SUFFIX):
                shutil.rmtree(full)
                dirnames.remove(name)


def _leaf_dirs(root: str) -> list[str]:
    """Leaf directories holding parquet data files (the table root itself for
    unpartitioned tables, the deepest partition dirs otherwise). Hidden
    ``.``/``_``-prefixed dirs are skipped — same rule as Spark's listing."""
    leaves = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        if any(f.endswith(_DATA_EXT) for f in filenames):
            leaves.append(dirpath)
    return sorted(leaves)


def plan_compaction(
    table_path: str, target_bytes: int = _DEFAULT_TARGET
) -> list[CompactionPlan]:
    """Inspect ``table_path`` and decide, per leaf directory, how many files
    it should hold at ``target_bytes`` per file. Metadata-only — no Spark job;
    recovers stale swap dirs from a crashed prior compaction first (so the
    plan sees every row exactly once)."""
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    _recover(table_path)
    plans = []
    for d in _leaf_dirs(table_path):
        files = [
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(_DATA_EXT)
        ]
        total = sum(os.path.getsize(f) for f in files)
        n_target = max(1, math.ceil(total / target_bytes))
        plans.append(
            CompactionPlan(
                directory=d,
                n_files=len(files),
                total_bytes=total,
                n_target=n_target,
                worthwhile=len(files) > n_target,
            )
        )
    return plans


def compact_table(
    spark: SparkSession,
    table_path: str,
    target_bytes: int = _DEFAULT_TARGET,
) -> list[CompactionPlan]:
    """Rewrite every worthwhile leaf directory of ``table_path`` down to its
    planned file count. Returns the executed plans (worthwhile only).

    Each directory is read and rewritten independently with
    ``coalesce(n_target)`` (merge-only, no shuffle) and swapped in with the
    crash-safe rename dance: at any instant a complete copy of the
    directory's data exists at either the live path or its ``__old`` twin.
    """
    executed = []
    for plan in plan_compaction(table_path, target_bytes):
        if not plan.worthwhile:
            continue
        d = plan.directory
        tmp, old = _swap_paths(d)
        (
            spark.read.parquet(d)
            .coalesce(plan.n_target)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(d, old)
        os.rename(tmp, d)
        shutil.rmtree(old)
        executed.append(plan)
    return executed
