"""Checkpoint resume + per-partition lineage/metrics tests (D9/D10)."""

from __future__ import annotations

import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from sparklog import checkpoint as CK
from sparklog import metrics as M
from sparklog import pipeline as PL
from sparklog import synth
from sparklog.udf import parse_df

from conftest import SF_SMOKE, last_execution_id, sql_plans

JOB = Path(__file__).resolve().parents[1] / "jobs" / "run_pipeline.py"
DAYS = [f"2016-01-{d}" for d in range(10, 17)]  # sf0.001's 7-day window


def test_manifest_atomic_roundtrip(tmp_path):
    ck = str(tmp_path / "ckpt")
    days = ["2016-01-10", "2016-01-11", "2016-01-12"]
    assert CK.pending_chunks(ck, days) == days
    CK.write_manifest_entry(ck, {"chunk": "2016-01-11", "rows_in": 10})
    assert CK.pending_chunks(ck, days) == ["2016-01-10", "2016-01-12"]
    assert CK.done_chunks(ck)["2016-01-11"]["rows_in"] == 10
    # idempotent rewrite
    CK.write_manifest_entry(ck, {"chunk": "2016-01-11", "rows_in": 11})
    assert CK.done_chunks(ck)["2016-01-11"]["rows_in"] == 11
    CK.remove_manifest_entry(ck, "2016-01-11")
    assert CK.pending_chunks(ck, days) == days


def test_partition_metrics_conservation(spark):
    lines = synth.lines_df(spark, SF_SMOKE, corrupt=True).repartition(4)
    parsed = parse_df(lines, tag_lineage=True)
    mx = M.partition_metrics(parsed).collect()
    assert len(mx) == 4
    total_in = sum(r["rows_in"] for r in mx)
    assert total_in == lines.count()
    for r in mx:
        assert r["rows_in"] == r["rows_ok"] + r["rows_rejected"]
        assert r["bytes_in"] > 0
    assert sum(r["rows_rejected"] for r in mx) > 0


def _run_pipeline(args):
    return subprocess.run(
        [sys.executable, "/root/repo/jobs/run_pipeline.py", *args],
        capture_output=True, text=True, timeout=600,
    )


def test_run_pipeline_resume(tmp_path):
    """Full job in two halves: pre-mark one day done (simulating a prior
    run), run, then clear it and resume; final manifest totals must equal
    a single-shot run's. Chunks are warc_day partitions (pruned scans)."""
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    common = ["--input", SF_SMOKE, "--output", out, "--checkpoint", ck,
              "--parallelism", "4", "--corrupt"]

    fake_day = "2016-01-11"
    CK.write_manifest_entry(ck, {"chunk": fake_day, "rows_in": -1,
                                 "rows_ok": -1, "rows_rejected": -1,
                                 "sink_counts": {}})
    r1 = _run_pipeline(common)
    assert r1.returncode == 0, r1.stderr[-2000:]
    pending_line = next(
        ln for ln in r1.stdout.splitlines() if ln.startswith("chunks pending")
    )
    assert f"'{fake_day}'" not in pending_line, pending_line

    # clear the fake entry and resume: ONLY that day runs
    CK.remove_manifest_entry(ck, fake_day)
    r2 = _run_pipeline(common)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert f"chunks pending: ['{fake_day}']" in r2.stdout

    done = CK.done_chunks(ck)
    summary = json.loads(r2.stdout.strip().splitlines()[-1])
    assert summary["chunks_done"] == len(done) >= 7  # 7-day synth window
    assert summary["rows_in"] == 500  # sf0.001 documents
    assert summary["rows_ok"] + summary["rows_rejected"] == 500
    assert summary["rows_rejected"] > 0
    # per-day lineage recorded
    assert all("partitions" in e for e in done.values())


def test_chunk_entries_match_per_chunk_metrics(spark):
    """The job's one grouped collect yields, per chunk, the same figures
    as partition_metrics, content_fingerprint and the route sinks of that
    chunk alone."""
    lines = synth.lines_df(spark, SF_SMOKE, corrupt=True).repartition(3)
    enriched = PL.enrich(
        parse_df(lines.withColumn("chunk", (F.col("doc_id") % 2).cast("string")),
                 tag_lineage=True),
        spark, with_lang=False,
    ).cache()
    entries = M.chunk_entries(M.chunk_metrics(enriched).collect())
    assert sorted(entries) == ["0", "1"]
    for c, e in entries.items():
        one = enriched.filter(F.col("chunk") == c)
        assert e["fingerprint"] == CK.content_fingerprint(one)
        want = [r.asDict() for r in M.partition_metrics(one).collect()]
        assert e["partitions"] == want
        assert e["rows_in"] == sum(r["rows_in"] for r in want)
        assert e["rows_ok"] == sum(r["rows_ok"] for r in want)
        assert e["rows_rejected"] == sum(r["rows_rejected"] for r in want) > 0
        sinks = {r["s"]: r["n"] for r in one.groupBy(PL.sink_col().alias("s"))
                 .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert e["sink_counts"] == sinks
        assert list(e["sink_counts"]) == [s for s in PL.SINK_NAMES if s in sinks]
    enriched.unpersist()


@pytest.fixture(scope="module")
def staged_pages(spark, tmp_path_factory):
    """sf0.001 pages, day-partitioned as the job's stage 0 writes them."""
    pages = tmp_path_factory.mktemp("pages") / "_pages"
    synth.write_pages_partitioned(spark, SF_SMOKE, str(pages))
    return pages


def _run_job_inprocess(staged: Path, out: Path, ckpt: Path, monkeypatch,
                       days=DAYS) -> None:
    """jobs/run_pipeline.main in this process (on the test session), over
    a hard-linked copy of the staged pages holding only ``days``."""
    if not (out / "_pages").exists():
        (out / "_pages").mkdir(parents=True)
        os.link(staged / "_SUCCESS", out / "_pages" / "_SUCCESS")
        for d in days:
            shutil.copytree(staged / f"warc_day={d}",
                            out / "_pages" / f"warc_day={d}",
                            copy_function=os.link)
    spec = importlib.util.spec_from_file_location("run_pipeline", JOB)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    monkeypatch.setattr(sys, "argv", [
        "run_pipeline.py", "--input", SF_SMOKE, "--output", str(out),
        "--checkpoint", str(ckpt), "--parallelism", "8", "--corrupt"])
    job.main()


def _part_files(out: Path) -> dict[Path, tuple[int, int]]:
    """part file -> (inode, mtime) for the sinks and the hourly agg."""
    files = [*out.glob("chunk=*/sink=*/part-*"), *out.glob("agg/chunk=*/part-*")]
    return {p.relative_to(out): (p.stat().st_ino, p.stat().st_mtime_ns)
            for p in files}


def test_resume_rewrites_only_the_pending_day(spark, staged_pages, tmp_path,
                                              monkeypatch):
    """Resume after losing one day's manifest entry: only that day is
    scanned (partition-pruned) and rewritten. Every other day's sink and
    agg files keep their inode and mtime, and the re-run day holds no
    file of the first attempt, not even under a sink or agg partition
    the re-run does not write."""
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    _run_job_inprocess(staged_pages, out, ckpt, monkeypatch)
    first, done = _part_files(out), CK.done_chunks(str(ckpt))
    assert sorted(done) == DAYS

    day = "2016-01-12"
    CK.remove_manifest_entry(str(ckpt), day)
    # an earlier, uncommitted attempt wrote a sink this re-run will not
    part = next((out / f"chunk={day}").glob("sink=*/part-*"))
    stale = out / f"chunk={day}" / "sink=_stale" / part.name
    stale.parent.mkdir()
    shutil.copy(part, stale)
    stale_agg = out / "agg" / f"chunk={day}" / "part-stale.parquet"
    shutil.copy(part, stale_agg)
    mark = last_execution_id(spark)
    _run_job_inprocess(staged_pages, out, ckpt, monkeypatch)
    second = _part_files(out)

    def split(files):
        mine = {p: v for p, v in files.items() if f"chunk={day}" in p.parts}
        return mine, {p: v for p, v in files.items() if p not in mine}

    (old_day, old_rest), (new_day, new_rest) = split(first), split(second)
    assert new_rest == old_rest and len(old_rest) > 6 * 2
    assert new_day and not set(new_day) & set(old_day)
    assert not stale.parent.exists() and not stale_agg.exists()
    assert spark.read.parquet(str(out / f"chunk={day}")).count() == \
        done[day]["rows_in"]
    again = CK.done_chunks(str(ckpt))
    assert {d: again[d] for d in DAYS if d != day} == \
        {d: done[d] for d in DAYS if d != day}
    for key in ("rows_in", "rows_ok", "rows_rejected", "sink_counts",
                "fingerprint"):
        assert again[day][key] == done[day][key], key

    filters = [ln for _, plan in sql_plans(spark, mark)
               for ln in plan.splitlines() if "PartitionFilters:" in ln]
    assert filters
    for ln in filters:
        assert set(re.findall(r"\d{4}-\d{2}-\d{2}", ln)) == {day}, ln


def test_jobs_per_run_do_not_grow_with_days(spark, staged_pages, tmp_path,
                                            monkeypatch):
    """One pass over all pending days, not one pass per day: a 1-day and
    a 7-day pages table take the same number of Spark jobs."""
    sc = spark.sparkContext
    jobs = {}
    for days in (DAYS[:1], DAYS):
        group = f"run-pipeline-{len(days)}-days"
        sc.setJobGroup(group, "jobs per run")
        try:
            _run_job_inprocess(staged_pages, tmp_path / group,
                               tmp_path / f"{group}.ckpt", monkeypatch,
                               days=days)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[len(days)] = len(sc.statusTracker().getJobIdsForGroup(group))
        assert sorted(CK.done_chunks(str(tmp_path / f"{group}.ckpt"))) == days
    assert jobs[1] == jobs[7], jobs


def test_hash_chunking_is_partition_stable(spark):
    """Hash-chunk assignment depends only on doc_id, never on partitioning."""
    lines = synth.lines_df(spark, SF_SMOKE).withColumn("c", CK.hash_chunk_col(8))
    a = {r["doc_id"]: r["c"] for r in lines.repartition(2).collect()}
    b = {r["doc_id"]: r["c"] for r in lines.repartition(16).collect()}
    assert a == b


def test_build_corpus_job_end_to_end(tmp_path):
    """The corpus-build CLI wires clean -> split -> decontam + LM gates
    -> balance -> per-split pack -> partitioned lake; stats line must be
    conservative (each stage keeps <= previous, gate quarantine counts
    reconcile exactly) and the lake must be partition-pruned by split."""
    import json

    out = subprocess.run(
        [sys.executable, "/root/repo/jobs/build_corpus.py",
         "--input", "/root/testdata/sf0.001",
         "--output", str(tmp_path), "--parallelism", "8",
         # gates ON: thresholds loose enough that the tiny corpus keeps
         # some docs, tight enough to be non-vacuous on synthetic text
         "--decontam-threshold", "0.95", "--lm-threshold", "20.0",
         "--lm-vocab-k", "5000",
         # parent-domain block: drops every node-*.example.net page
         "--blocklist", "example.net"],
        capture_output=True, text=True, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(out.stdout.strip().splitlines()[-1])
    # stage conservation including the gates
    assert stats["docs_url_blocked"] > 0  # example.net pages exist
    assert stats["docs_in"] - stats["docs_url_blocked"] >= stats["docs_clean"]
    assert stats["docs_gated"] == (stats["docs_clean"]
                                   - stats["docs_decontaminated"]
                                   - stats["docs_lm_dropped"])
    assert stats["docs_gated"] >= stats["docs_balanced"]
    assert stats["docs_balanced"] == stats["docs_written"] > 0
    assert stats["docs_decontaminated"] >= 0
    assert stats["docs_lm_dropped"] >= 0
    assert stats["tokens_total"] > 0 and stats["shards"] >= 1
    assert set(stats["splits"]) <= {"train", "valid", "test"}
    assert sum(stats["splits"].values()) == stats["docs_written"]
    # split is a physical partition column -> pruned scans for a trainer
    lake = stats["lake"]
    assert any(d.startswith("split=") for d in os.listdir(lake))

    # per-split packing contract: within each split, pack ids are
    # gap-free from 0 and the cumulative token numbering restarts —
    # a trainer reading ONE split sees full-budget shards (ADVICE r4)
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT split, min(pack_id) AS lo, max(pack_id) AS hi, "
        f"count(DISTINCT pack_id) AS n, min(cum_tokens - n_tokens) AS c0 "
        f"FROM read_parquet('{lake}/*/*/*.parquet', "
        f"hive_partitioning=true) GROUP BY split"
    ).fetchall()
    assert rows
    for split, lo, hi, n, c0 in rows:
        assert lo == 0, (split, lo)
        assert n == hi + 1, f"{split}: pack ids have gaps ({n} ids, max {hi})"
        assert c0 == 0, f"{split}: cum_tokens does not restart at 0"
