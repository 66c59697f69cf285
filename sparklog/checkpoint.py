"""Checkpoint/resume for the batch pipeline (north-rule stage D9).

Unit of work = one ``warc_day`` partition of the pages table (the Iceberg
``days(warc_ts)`` partition spec): a run's scan is PARTITION-PRUNED to
the pending days' files, so resuming never rescans completed days. A
hash-based chunk key (``hash_chunk_col``) remains available for
unpartitioned inputs.

Protocol:
  1. planned chunks = the table's partition values; done = manifest entries.
  2. each run processes all pending chunks in one pass; after their sinks
     are written, each chunk's manifest entry (chunk key, rows_in,
     rows_ok, rows_rejected, sink counts, per-partition lineage, content
     fingerprint) is written ATOMICALLY (tmp file + rename). A crash
     before that leaves no entry, so those chunks rerun idempotently:
     a run clears its pending chunks' output directories, then writes
     them as per-chunk partitions under dynamic overwrite, which leaves
     every other chunk's partitions untouched.
  3. resume = anti-join of planned vs manifest — restart-safe.
"""

from __future__ import annotations

import json
import os
import re
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MANIFEST_DIR = "_manifest"


def hash_chunk_col(n_chunks: int) -> F.Column:
    """Stable hash chunking for inputs without a partition column."""
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_chunks)).cast("int")


def manifest_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, MANIFEST_DIR)


def _safe_key(chunk) -> str:
    return re.sub(r"[^A-Za-z0-9_.-]", "_", str(chunk))


def done_chunks(checkpoint_dir: str) -> dict[str, dict]:
    mdir = manifest_path(checkpoint_dir)
    if not os.path.isdir(mdir):
        return {}
    out: dict[str, dict] = {}
    for fn in os.listdir(mdir):
        if fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                entry = json.load(f)
            out[str(entry["chunk"])] = entry
    return out


def write_manifest_entry(checkpoint_dir: str, entry: dict) -> None:
    """Atomic: write to a temp file in the same dir, then rename."""
    mdir = manifest_path(checkpoint_dir)
    os.makedirs(mdir, exist_ok=True)
    final = os.path.join(mdir, f"chunk-{_safe_key(entry['chunk'])}.json")
    fd, tmp = tempfile.mkstemp(dir=mdir, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(entry, f)
    os.replace(tmp, final)


def remove_manifest_entry(checkpoint_dir: str, chunk) -> None:
    os.remove(
        os.path.join(manifest_path(checkpoint_dir),
                     f"chunk-{_safe_key(chunk)}.json")
    )


def pending_chunks(checkpoint_dir: str, planned) -> list:
    """planned: iterable of chunk keys (day strings or ints)."""
    done = done_chunks(checkpoint_dir)
    return [c for c in planned if str(c) not in done]


def row_fingerprint() -> F.Column:
    """Per-row content hash of parsed output: xxhash64 of (doc_id,
    parse_error) folded to 31 bits (keeps the ANSI-mode long sum safe for
    up to 2^32 rows per chunk). Summed, it is order-independent."""
    row_hash = F.xxhash64(
        F.col("doc_id"), F.coalesce(F.col("parse_error"), F.lit(""))
    )
    return F.pmod(row_hash, F.lit(2147483647))


def content_fingerprint(df: DataFrame) -> int:
    """Order-independent content hash of a chunk's parsed output: the sum
    of ``row_fingerprint`` over its rows."""
    r = df.select(F.sum(row_fingerprint()).alias("fp")).collect()[0]
    return int(r["fp"] or 0)
