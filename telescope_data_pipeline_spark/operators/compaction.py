"""Small-file compaction: the table-maintenance job every long-lived
lake needs.

Incremental batch appends accumulate many small parquet files; at
100 TB the cost is real — file-listing RPCs, one scan task per file
regardless of core count (a single small parquet file cannot be split;
the `load_table(spread=True)` lesson), and parquet metadata overhead
per footer. Compaction rewrites a directory into files near a target size.

Design points:

- **size from the source of truth**: the input's actual on-disk bytes
  (filesystem listing), not a row-count guess — compressed parquet
  bytes are what downstream scan tasks see.
- **snapshot-swap, never in-place**: the compacted copy is written to a
  NEW `compact-<n>` snapshot directory; concurrent readers of the old
  snapshot stay consistent, and the swap is a rename-free pointer move
  (resolve_latest) — the same convention as the ingestion corpus index.
- **coalesce, not repartition**: reducing file count needs no shuffle;
  coalesce merges existing partitions map-side. (A skew-rebalancing
  compaction WOULD repartition — that is a different job with a real
  shuffle, intentionally not hidden inside this one.)
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

__all__ = ["dir_bytes", "write_sized", "compact_dir", "resolve_latest"]

_SNAP = "compact-"


def dir_bytes(path: str) -> int:
    """Total data bytes under ``path`` (ignores _metadata/_SUCCESS and
    hidden files, matching Spark's listing rules)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, f))
    return total


def write_sized(df: DataFrame, path: str, input_bytes: int,
                target_bytes: int = 128 * 1024 * 1024,
                mode: str = "error") -> int:
    """Write ``df`` as ~``input_bytes / target_bytes`` parquet files.
    Returns the file count used. Coalesce only — no shuffle."""
    n = max(1, math.ceil(input_bytes / target_bytes))
    df.coalesce(n).write.mode(mode).parquet(path)
    return n


def resolve_latest(base: str) -> str | None:
    """Newest compacted snapshot under ``base``, or None."""
    if not os.path.isdir(base):
        return None
    snaps = sorted((d for d in os.listdir(base) if d.startswith(_SNAP)),
                   key=lambda d: int(d[len(_SNAP):]))
    return os.path.join(base, snaps[-1]) if snaps else None


def compact_dir(spark: SparkSession, src: str, out_base: str,
                target_bytes: int = 128 * 1024 * 1024) -> str:
    """Rewrite the parquet directory ``src`` into a new snapshot under
    ``out_base`` with files near ``target_bytes``. Returns the snapshot
    path. Row content is preserved exactly (no shuffle, no reorder
    within partitions; file boundaries change)."""
    size = dir_bytes(src)
    prev = resolve_latest(out_base)
    nxt = (int(os.path.basename(prev)[len(_SNAP):]) + 1) if prev else 0
    snap = os.path.join(out_base, f"{_SNAP}{nxt}")
    write_sized(spark.read.parquet(src), snap, size,
                target_bytes=target_bytes)
    return snap
