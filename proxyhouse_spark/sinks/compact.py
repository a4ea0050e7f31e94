"""Small-file compaction for streaming sink / DLQ directories, and the one
rule both the compaction and the DLQ replay use to rewrite a directory.

Every micro-batch flush that delivers a key appends a parquet file, and
every DLQ spill and replay pass appends more (a trigger that delivers
nothing writes no sink file), so a long-running stream turns its sink
directories into thousands of KB-sized files — and at cluster
scale the cost is not the data, it is the *file count*: scan planning,
footer reads, and listing all go O(files). The reference never hits this
(its DLQ is one pudge file per failed flush, deleted on replay —
/root/reference/main.go:365-373, 482), but a Parquet-table DLQ that
replaces filename magic with columns (SURVEY §2.1 S4) inherits the problem
and needs the standard fix: periodic bin-packed rewrite.

A rewrite lists the directory's parquet files once, reads only those, and
finishes through ``replace_files``: it APPENDS the rewritten frame into the
same directory, then deletes exactly the files it read (the reference's
order: spill the resend first, then delete the file that was read,
main.go:479-482). Files another writer appends meanwhile (a flush spill)
are not in the list, so they are neither read nor deleted; the next pass
takes them. Two Spark appends into one directory at the same moment share
the committer's ``_temporary`` staging directory, and one job's cleanup
deletes the other's in-flight files, so every append into a flush, spill or
rewrite directory goes through ``append_parquet``, which holds one lock per
directory (keyed by its real path) for the write. The lock covers one
process only: writers in other processes (another driver on the same
directory) are not serialized. A rewrite whose append fails stops before
its deletes. A kill at any point leaves the read files beside (part of) the
new generation — duplicates of that pass's rows, which the at-least-once
contract allows — and never a loss, with no recovery step on restart.
Readers between the append and the last delete see those duplicates; a
production deployment on Delta/Iceberg replaces this with
OPTIMIZE/rewrite_data_files. Directories are flat (the DLQ and the sink);
the replay's deliveries are their own flat table, ``<sink>/replayed``,
compacted as a directory of its own.
"""

from __future__ import annotations

import math
import os
import threading

from pyspark.sql import DataFrame, SparkSession

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024  # one HDFS-ish block per file

_dir_locks: dict[str, threading.Lock] = {}
_dir_locks_guard = threading.Lock()


def parquet_files(path: str) -> list[str]:
    """The committed parquet files directly under ``path``, as full paths
    (Spark's own rule: names starting with ``_`` or ``.`` are hidden)."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(
        os.path.join(path, f)
        for f in names
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def parquet_file_count(path: str) -> int:
    return len(parquet_files(path))


def append_parquet(frame: DataFrame, path: str) -> None:
    """Append ``frame`` into ``path`` while holding the directory's lock."""
    with _dir_locks_guard:
        lock = _dir_locks.setdefault(os.path.realpath(path), threading.Lock())
    with lock:
        frame.write.mode("append").parquet(path)


def replace_files(frame: DataFrame, path: str, files: list[str]) -> None:
    """Append ``frame`` into ``path``, then delete ``files`` — the parquet
    files ``frame`` was read from — and their ``.crc`` sidecars."""
    append_parquet(frame, path)
    for f in files:
        head, name = os.path.split(f)
        for p in (f, os.path.join(head, f".{name}.crc")):
            try:
                os.remove(p)
            except FileNotFoundError:
                pass


def compact_parquet(
    spark: SparkSession, path: str, target_bytes: int = DEFAULT_TARGET_BYTES
) -> dict[str, int]:
    """Bin-pack ``path``'s parquet files to ~``target_bytes`` each.

    Returns ``{"files_before": n, "files_after": m, "rows": r}``. No-op
    (beyond a read) when the directory already meets the target count.
    """
    files = parquet_files(path)
    n_out = max(1, math.ceil(sum(map(os.path.getsize, files)) / target_bytes))
    if len(files) <= n_out:
        return {
            "files_before": len(files),
            "files_after": len(files),
            "rows": -1,
        }

    df = spark.read.parquet(*files)
    rows = df.count()
    # repartition (round-robin), not coalesce: coalesce(n) would also narrow
    # the READ stage to n tasks; repartition keeps the scan wide and only
    # the write narrow
    replace_files(df.repartition(n_out), path, files)
    return {
        "files_before": len(files),
        "files_after": parquet_file_count(path),
        "rows": rows,
    }
