"""spark-submit entry point: the full checkpoint-resumable pipeline.

Usage:
    spark-submit --py-files sparklog.zip jobs/run_pipeline.py \
        --input /root/testdata/sf0.01 --output /tmp/out \
        --checkpoint /tmp/ckpt [--parallelism 32] [--corrupt]

Stage 0 (once): materialize pages partitioned by days(warc_ts) — the
Iceberg-style layout. Unit of work = one warc_day partition (a chunk).

One pass over ALL pending chunks (SURVEY.md §2D): scan PARTITION-PRUNED
to the pending days' files (never rescans completed days on resume) ->
synth -> parse (vectorized UDF, lineage-tagged) -> enrich (pure
projections), persisted once -> the pending days' output directories
cleared -> three jobs over it: the route write (per-severity sinks +
rejects under chunk=<day>/sink=<s>/, AQE-rebalanced, dynamic partition
overwrite), the hourly agg (agg/chunk=<day>/) and one small grouped
collect of every chunk's metrics -> one ATOMIC manifest entry per chunk.
A crash before the manifests are written re-runs every chunk of that
pass; committed chunks are never rescanned or rewritten.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import time
from collections import Counter

# running as a plain script puts jobs/ on sys.path; add the repo root so
# `sparklog` imports without --py-files in local runs
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf dir with documents.parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sparklog import checkpoint as CK
    from sparklog import metrics as M
    from sparklog import pipeline as PL
    from sparklog import synth
    from sparklog.session import build_spark
    from sparklog.udf import parse_df

    master = f"local[{args.parallelism}]" if args.parallelism else None
    spark = build_spark(app="sparklog-pipeline", master=master,
                        shuffle_partitions=args.parallelism)

    # stage 0: day-partitioned pages (Iceberg days(warc_ts) analog)
    pages_dir = os.path.join(args.output, "_pages")
    if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
        synth.write_pages_partitioned(spark, args.input, pages_dir)
    pages = spark.read.parquet(pages_dir)

    # planned chunks = the table's partition directories, read from its
    # file index: no Spark job, and no completed day's file is opened
    planned = sorted({re.search(r"/warc_day=([^/]+)/", f).group(1)
                      for f in pages.inputFiles()})
    pending = CK.pending_chunks(args.checkpoint, planned)
    print(f"chunks pending: {pending}")

    if pending:
        t0 = time.perf_counter()
        # ONE partition-pruned scan: only the pending days' files are read
        pending_pages = pages.filter(F.col("warc_day").isin(pending)).select(
            "doc_id", "text", "lang",
            F.col("warc_day").cast("string").alias("chunk"),
        )
        lines = synth.lines_from_docs(pending_pages, corrupt=args.corrupt,
                                      carry=("chunk",))
        # lineage tagging fused into the parse pass: ONE Python crossing
        parsed = parse_df(lines, tag_lineage=True)
        # ONE parse per pass: the route write, the hourly agg and the
        # chunk metrics all consume the same persisted frame
        enriched = PL.enrich(parsed, spark, with_lang=False).persist()
        # dynamic overwrite replaces only the partitions this pass writes:
        # clear every pending day first, so a sink or agg partition left by
        # an uncommitted earlier attempt cannot survive next to the new one
        for day in pending:
            for root in (args.output, os.path.join(args.output, "agg")):
                shutil.rmtree(os.path.join(root, f"chunk={day}"),
                              ignore_errors=True)
        try:
            counts = PL.route_write(enriched, args.output,
                                    partition_cols=("chunk",))
            agg = PL.hourly_agg(enriched.filter(F.col("parse_error").isNull()),
                                by=("chunk",))
            (agg.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("chunk").parquet(os.path.join(args.output, "agg")))
            entries = M.chunk_entries(M.chunk_metrics(enriched).collect())
        finally:
            enriched.unpersist()
        # the write's observed sink totals are the chunks' counts summed
        totals = sum((Counter(e["sink_counts"]) for e in entries.values()),
                     Counter())
        assert counts == totals, (counts, totals)
        # every chunk's entry carries the wall of the whole pass
        wall_sec = round(time.perf_counter() - t0, 3)
        for day in pending:
            e = entries[day]
            # conservation law: every input row lands in exactly one sink
            assert sum(e["sink_counts"].values()) == e["rows_in"], (day, e)
            CK.write_manifest_entry(args.checkpoint,
                                    {"chunk": day, **e, "wall_sec": wall_sec})
            print(f"chunk {day}: in={e['rows_in']} ok={e['rows_ok']} "
                  f"rej={e['rows_rejected']}")

    done = CK.done_chunks(args.checkpoint)
    summary = {
        "chunks_done": len(done),
        "rows_in": sum(e["rows_in"] for e in done.values()),
        "rows_ok": sum(e["rows_ok"] for e in done.values()),
        "rows_rejected": sum(e["rows_rejected"] for e in done.values()),
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
