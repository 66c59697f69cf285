"""The three benchmark workloads: staging, one timed pass, output check.

Each workload object is built once per run for one seed. ``generate``
writes the seed's raw documents (untimed, once); ``stage`` is the
set-up that turns them into the workload's input with sparklog (timed,
repeated); ``expect`` derives the oracle once, untimed; ``run_pass`` is
the timed unit of work; ``check`` compares one pass's output with the
oracle and returns a list of problems (empty when the output is
correct).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import importlib.util
import os
import shutil
import statistics
import sys
from pathlib import Path

from pyspark.sql import functions as F

from perfbench import gen
from perfbench.harness import ROOT, lake_stats, link_tree, timed

FP_MOD = 2147483647  # fold per-row hashes to 31 bits, as checkpoint does


def _msg_hash(id_col: str, text_col: str) -> F.Column:
    """Order-free content hash: sum of per-row xxhash64 folded to 31 bits."""
    return F.sum(F.pmod(F.xxhash64(F.col(id_col), F.col(text_col)),
                        F.lit(FP_MOD)))


def _octets(df, col: str = "line") -> int:
    return int(df.select(F.sum(F.octet_length(col))).first()[0])


def _diff(what: str, got: dict, want: dict) -> list[str]:
    if got == want:
        return []
    keys = sorted(set(got) | set(want), key=str)
    bad = [f"{k}: got {got.get(k)} want {want.get(k)}"
           for k in keys if got.get(k) != want.get(k)]
    return [f"{what}: " + "; ".join(bad[:5])]


class Workload:
    name = ""
    n_docs = 0  # input lines per pass
    chunks = 1  # units of work per pass
    warm_ups = 2  # untimed passes before measuring
    # ledger (perfbench/trace.py): the leg timing source(), the per-layer
    # metrics of the layers one pass runs (their sum is the layer sum),
    # and the parse/enrich arguments the pass uses
    source_layer = "scan"
    ledger_layers = ("scan.s", "udf.boundary.s", "parse.in_spark.s",
                     "pipeline.enrich.s", "pipeline.split_rejects.s",
                     "pipeline.hourly_agg.s")
    parse_kwargs: dict = {}
    enrich_kwargs: dict = {}

    def __init__(self, spark, seed: int, work: Path, cpus: int):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.cpus = cpus
        self.staged: Path | None = None
        self.input_bytes = 0
        self._passes = 0

    @property
    def input_dir(self) -> Path:
        """Holds documents.parquet, the layout sparklog.synth reads."""
        return self.work / "input"

    def generate(self) -> None:
        self.docs_table = gen.documents(self.seed, self.n_docs)
        gen.write_table(self.docs_table, self.input_dir / "documents.parquet",
                        self.cpus)

    def docs(self):
        return self.spark.read.parquet(str(self.input_dir / "documents.parquet"))

    def next_out(self) -> Path:
        """Fresh output location for the next pass (untimed); the output
        of the pass before last is deleted."""
        self._passes += 1
        stale = self.work / f"out-{self._passes - 2}"
        for old in (stale, stale.with_name(stale.name + ".ckpt")):
            shutil.rmtree(old, ignore_errors=True)
        return self.work / f"out-{self._passes}"

    def stage(self, dest: Path) -> None:
        raise NotImplementedError

    def expect(self) -> None:
        raise NotImplementedError

    def run_pass(self, out: Path):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def timed_pass(self):
        """(wall_s, result, problems) of one checked pass."""
        out = self.next_out()
        wall, result = timed(lambda: self.run_pass(out))
        return wall, result, self.check(result)

    def warm_up(self):
        return self.timed_pass()

    def lake(self, result) -> tuple[int, int]:
        """(bytes, files) of the pass's parquet output."""
        return lake_stats(result)

    def raw_scan(self):
        """The pass's input scan, before any sparklog layer."""
        return self.source()

    def source(self):
        """(doc_id, line) as the pass hands it to parse_df."""
        raise NotImplementedError

    def text_dir(self) -> Path:
        """Newline-delimited text of the source lines (for the io leg)."""
        dest = self.work / "text-copy"
        if not dest.exists():
            self.source().select("line").write.text(str(dest))
        return dest

    def chunk_seconds(self, result, pass_s: float) -> float:
        return pass_s


class Rollup(Workload):
    """staged parquet lines -> parse_df -> split_rejects -> enrich ->
    hourly_agg, written to an aggregate sink."""

    name = "rollup"
    n_docs = 120_000

    def stage(self, dest: Path) -> None:
        from sparklog import synth

        synth.lines_from_docs(self.docs()).write.parquet(str(dest / "lines"))

    def source(self):
        return self.spark.read.parquet(str(self.staged / "lines"))

    def expect(self) -> None:
        import duckdb

        from sparklog import synthrules as R

        self.input_bytes = _octets(self.source())
        off = gen.doc_offset(self.seed)
        rows = duckdb.sql(
            f"SELECT {R.FACILITY_NAME}, {R.SEVERITY_NAME}, {R.HOUR_EPOCH}, "
            f"count(*) FROM range({off}, {off + self.n_docs}) t(doc_id) "
            "GROUP BY ALL"
        ).fetchall()
        self.want = {tuple(r[:3]): r[3] for r in rows}

    def run_pass(self, out: Path):
        from sparklog import pipeline as PL
        from sparklog.udf import parse_df

        ok, _rejects = PL.split_rejects(parse_df(self.source()))
        agg = PL.hourly_agg(PL.enrich(ok, self.spark))
        agg.write.parquet(str(out))
        return out

    def check(self, out) -> list[str]:
        rows = self.spark.read.parquet(str(out)).collect()
        got = {(r["facility_name"], r["severity_name"], r["hour_epoch"]): r["n"]
               for r in rows}
        return _diff("hourly counts", got, self.want)


def _run_pipeline_module():
    spec = importlib.util.spec_from_file_location(
        "run_pipeline", ROOT / "jobs" / "run_pipeline.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class ChunkedLake(Workload):
    """jobs/run_pipeline.main --corrupt over a pre-staged day-partitioned
    pages table (7 day chunks), fresh output and checkpoint each pass."""

    name = "chunked_lake"
    n_docs = 100_000
    chunks = 7
    warm_ups = 1
    # per chunk: route write, agg of the OK rows, partition metrics and
    # the content fingerprint, all over the persisted enriched frame
    ledger_layers = Workload.ledger_layers + (
        "pipeline.route_write.s", "metrics.partition_metrics.s",
        "checkpoint.content_fingerprint.s")
    parse_kwargs = {"tag_lineage": True}
    enrich_kwargs = {"with_lang": False}

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.job = _run_pipeline_module()

    def stage(self, dest: Path) -> None:
        from sparklog import synth

        synth.write_pages_partitioned(self.spark, str(self.input_dir),
                                      str(dest / "pages"))

    def expect(self) -> None:
        import duckdb

        from sparklog import synth
        from sparklog import synthrules as R

        pages = self.spark.read.parquet(str(self.staged / "pages"))
        self.input_bytes = _octets(synth.lines_from_docs(pages, corrupt=True))
        self.want_msg_hash = int(
            pages.filter(~F.expr(R.CORRUPT))
            .select(_msg_hash("doc_id", "text")).first()[0]
        )
        off = gen.doc_offset(self.seed)
        base = f"FROM range({off}, {off + self.n_docs}) t(doc_id)"
        sink = f"CASE WHEN {R.CORRUPT} THEN '_rejects' ELSE {R.SEVERITY_NAME} END"
        self.want_sinks: dict[str, dict[str, int]] = {}
        for day, s, n in duckdb.sql(
            f"SELECT ({R.WARC_SECS}) // 86400, {sink}, count(*) {base} "
            "GROUP BY ALL"
        ).fetchall():
            key = str(dt.date(1970, 1, 1) + dt.timedelta(days=day))
            self.want_sinks.setdefault(key, {})[s] = n
        self.want_variants = dict(duckdb.sql(
            f"SELECT {R.CORRUPT_ERROR} e, count(*) {base} "
            f"WHERE {R.CORRUPT} GROUP BY ALL"
        ).fetchall())

    def source(self):
        from sparklog import synth

        pages = self.spark.read.parquet(str(self.staged / "pages"))
        return synth.lines_from_docs(pages.select("doc_id", "text", "lang"),
                                     corrupt=True)

    def chunk_seconds(self, result, pass_s: float) -> float:
        from sparklog import checkpoint as CK

        return statistics.median(
            e["wall_sec"] for e in CK.done_chunks(str(result[1])).values())

    def run_job(self, out: Path, ckpt: Path) -> None:
        argv = ["run_pipeline.py", "--input", str(self.input_dir),
                "--output", str(out), "--checkpoint", str(ckpt), "--corrupt"]
        saved = sys.argv
        sys.argv = argv
        try:
            with contextlib.redirect_stdout(sys.stderr):
                self.job.main()
        finally:
            sys.argv = saved

    def next_out(self, days: list[str] | None = None) -> Path:
        out = super().next_out()
        # pre-staged pages: the job skips its stage 0 when _pages exists
        pages = self.staged / "pages"
        if days is None:
            link_tree(pages, out / "_pages")
        else:
            (out / "_pages").mkdir(parents=True)
            os.link(pages / "_SUCCESS", out / "_pages" / "_SUCCESS")
            for d in days:
                link_tree(pages / f"warc_day={d}", out / "_pages" / f"warc_day={d}")
        return out

    def warm_up(self):
        """A real run of the job over a one-day pages table: one chunk
        warms the workers and the JIT at a seventh of a pass's cost."""
        day = min(self.want_sinks)
        out = self.next_out(days=[day])
        wall, result = timed(lambda: self.run_pass(out))
        return wall, result, self.check_manifest(result[1], [day])

    def run_pass(self, out: Path):
        ckpt = out.with_name(out.name + ".ckpt")
        self.run_job(out, ckpt)
        return out, ckpt

    def lake(self, result) -> tuple[int, int]:
        return lake_stats(result[0], skip_top=("_pages", "agg"))

    def check(self, result) -> list[str]:
        out, ckpt = result
        problems = self.check_manifest(ckpt, sorted(self.want_sinks))
        lake = (self.spark.read.option("basePath", str(out))
                .parquet(str(out / "chunk=*")))
        got_variants, got_hash = {}, None
        for r in lake.groupBy("parse_error").agg(
                F.count(F.lit(1)).alias("n"),
                _msg_hash("doc_id", "msg").alias("h")).collect():
            if r["parse_error"] is None:
                got_hash = r["h"]
            else:
                got_variants[r["parse_error"]] = r["n"]
        problems += _diff("rejects per variant", got_variants,
                          self.want_variants)
        if got_hash != self.want_msg_hash:
            problems.append(f"msg hash {got_hash} != {self.want_msg_hash}")
        return problems

    def check_manifest(self, ckpt: Path, days: list[str]) -> list[str]:
        """Sink counts per chunk against the severity arithmetic, and the
        conservation law inside every chunk."""
        from sparklog import checkpoint as CK

        done = CK.done_chunks(str(ckpt))
        problems = _diff("sink counts per chunk",
                         {k: e["sink_counts"] for k, e in done.items()},
                         {d: self.want_sinks[d] for d in days})
        for k, e in done.items():
            if not (sum(e["sink_counts"].values()) == e["rows_in"]
                    == e["rows_ok"] + e["rows_rejected"]):
                problems.append(f"conservation broken in chunk {k}")
        return problems

    def resume_check(self, result) -> list[str]:
        """Delete two manifest entries and rerun: exactly those two chunks
        must run again, with the same sink counts and fingerprints."""
        import random

        from sparklog import checkpoint as CK

        out, ckpt = result
        before = CK.done_chunks(str(ckpt))
        mdir = Path(CK.manifest_path(str(ckpt)))
        stamps = {p.name: p.stat().st_mtime_ns for p in mdir.glob("*.json")}
        dropped = random.Random(self.seed).sample(sorted(before), 2)
        for day in dropped:
            CK.remove_manifest_entry(str(ckpt), day)
        self.run_job(out, ckpt)
        after = CK.done_chunks(str(ckpt))
        rerun = sorted(p.name for p in mdir.glob("*.json")
                       if stamps.get(p.name) != p.stat().st_mtime_ns)
        problems = []
        want_rerun = sorted(f"chunk-{d}.json" for d in dropped)
        if rerun != want_rerun:
            problems.append(f"resume re-ran {rerun}, want {want_rerun}")
        for day in dropped:
            for key in ("sink_counts", "fingerprint", "rows_in"):
                if after.get(day, {}).get(key) != before[day][key]:
                    problems.append(f"resume changed {key} of chunk {day}")
        return problems + self.check(result)


class RejectStorm(Workload):
    """raw text files -> io.read_syslog_text -> parse_df -> enrich ->
    route_write, about half the lines malformed or edge-case shapes."""

    name = "reject_storm"
    n_docs = 80_000
    source_layer = "io.read_syslog_text"
    ledger_layers = ("scan.s", "io.read_syslog_text.s", "udf.boundary.s",
                     "parse.in_spark.s", "pipeline.enrich.s",
                     "pipeline.route_write.s")

    def generate(self) -> None:
        super().generate()
        gen.write_table(gen.storm_overrides(self.seed, self.docs_table),
                        self.input_dir / "storm.parquet", self.cpus)

    def stage(self, dest: Path) -> None:
        from sparklog import synth

        clean = synth.lines_from_docs(self.docs())
        storm = self.spark.read.parquet(str(self.input_dir / "storm.parquet"))
        lines = clean.join(storm.withColumnRenamed("line", "storm"), "doc_id",
                           "left")
        (lines.select(F.coalesce("storm", "line")).repartition(self.cpus)
         .write.text(str(dest / "text")))

    def expect(self) -> None:
        self.input_bytes = _octets(
            self.spark.read.text(str(self.staged / "text")), "value")
        self.want = gen.storm_expected(self.seed, self.n_docs)

    def run_pass(self, out: Path):
        from sparklog import io
        from sparklog import pipeline as PL
        from sparklog.udf import parse_df

        lines = io.read_syslog_text(self.spark, str(self.text_dir()))
        counts = PL.route_write(PL.enrich(parse_df(lines), self.spark), str(out))
        return out, counts

    def lake(self, result) -> tuple[int, int]:
        return lake_stats(result[0])

    def text_dir(self) -> Path:
        return self.staged / "text"

    def raw_scan(self):
        return self.spark.read.text(str(self.text_dir()))

    def source(self):
        from sparklog import io

        return io.read_syslog_text(self.spark, str(self.text_dir()))

    def check(self, result) -> list[str]:
        out, counts = result
        problems = _diff("rows per sink", counts, self.want["sinks"])
        rej = self.spark.read.parquet(str(out / "sink=_rejects"))
        got = {r["parse_error"]: r["n"] for r in
               rej.groupBy("parse_error").agg(F.count(F.lit(1)).alias("n"))
               .collect()}
        return problems + _diff("rejects per variant", got, self.want["variants"])


WORKLOADS = {w.name: w for w in (Rollup, ChunkedLake, RejectStorm)}
