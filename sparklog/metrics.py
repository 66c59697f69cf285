"""Per-partition lineage + metrics (north-rule stage D10).

``udf.parse_df(tag_lineage=True)`` tags every row with its input
partition and line size, (partition_id, bytes_in), inside the parse's own
Arrow pass. The metrics here are aggregated from those tagged rows (one
groupBy), so they are exact under retries/speculation — a re-run
partition simply reproduces the same rows, unlike accumulator-based
counting which double-counts retried tasks. Lineage = (doc_id ->
partition_id) is queryable and joins back to the checkpoint manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparklog.checkpoint import row_fingerprint
from sparklog.pipeline import SINK_NAMES, sink_col

# keys of one per-partition lineage row, in manifest order
PARTITION_KEYS = ("partition_id", "rows_in", "rows_ok", "rows_rejected",
                  "bytes_in")


def partition_metrics(parsed_tagged: DataFrame) -> DataFrame:
    """Aggregate tagged+parsed rows into the per-partition metrics table."""
    return (
        parsed_tagged.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.sum(
                F.when(F.col("parse_error").isNull(), 1).otherwise(0)
            ).alias("rows_ok"),
            F.sum(
                F.when(F.col("parse_error").isNotNull(), 1).otherwise(0)
            ).alias("rows_rejected"),
            F.sum("bytes_in").alias("bytes_in"),
        )
        .orderBy("partition_id")
    )


def chunk_metrics(enriched: DataFrame) -> DataFrame:
    """One row per (chunk, partition_id) of tagged+enriched rows: the
    partition metrics, the content fingerprint's partial sum and a row
    count per route sink. A few rows per chunk, so one small collect
    yields every chunk's manifest figures (``chunk_entries``)."""
    ok = F.col("parse_error").isNull()
    sink = sink_col()
    return enriched.groupBy("chunk", "partition_id").agg(
        F.count(F.lit(1)).alias("rows_in"),
        F.count(F.when(ok, 1)).alias("rows_ok"),
        F.count(F.when(~ok, 1)).alias("rows_rejected"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum(row_fingerprint()).alias("fingerprint"),
        *[F.count(F.when(sink == s, 1)).alias(s) for s in SINK_NAMES],
    )


def chunk_entries(rows) -> dict[str, dict]:
    """Fold collected ``chunk_metrics`` rows into per-chunk manifest
    figures: rows_in/ok/rejected, sink_counts (non-empty sinks, in
    SINK_NAMES order), the content fingerprint (a sum, so partial sums
    add up to ``checkpoint.content_fingerprint`` of the chunk) and the
    per-partition lineage rows, ordered by partition_id."""
    out: dict[str, dict] = {}
    for r in sorted(rows, key=lambda r: (str(r["chunk"]), r["partition_id"])):
        e = out.setdefault(str(r["chunk"]), {
            "rows_in": 0, "rows_ok": 0, "rows_rejected": 0,
            "sink_counts": dict.fromkeys(SINK_NAMES, 0),
            "fingerprint": 0, "partitions": [],
        })
        for k in ("rows_in", "rows_ok", "rows_rejected", "fingerprint"):
            e[k] += r[k]
        for s in SINK_NAMES:
            e["sink_counts"][s] += r[s]
        e["partitions"].append({k: r[k] for k in PARTITION_KEYS})
    for e in out.values():
        e["sink_counts"] = {s: n for s, n in e["sink_counts"].items() if n}
    return out
