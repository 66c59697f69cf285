"""Traced run: the per-layer ledger of one workload.

Three sources, all recorded from the benchmark's own files:

1. Spans (name, start, end, parent) kept in memory: the traced passes,
   every run of a decomposition leg and every direct call.
2. A noop-sink prefix decomposition over the workload's own input:
   scan -> +Arrow pass-through -> +parse -> +enrich -> +split -> +agg
   or +route, and the JVM parse twin while it exists. The legs run in
   up to LEG_REPS interleaved rounds; a leg's time is its median, and a
   layer's self time is its leg's median minus its base leg's median.
   The JVM twin runs once untimed, then once timed: one run costs 5-15 s
   where the others cost 0.1-5 s. A round starts only while the run can
   still end in time (LEDGER_DEADLINE_S); the first always does.
3. Direct timed calls (median of 3) into public functions: checkpoint,
   metrics and the single-core parse kernels.

The layer sum of a workload adds the self times of the layers its pass
runs (``Workload.ledger_layers``), each measured over the whole input
at once. On ``rollup`` and ``reject_storm`` these layers are one prefix
chain, so the sum telescopes to the last leg's time: the ratio to the
pass wall then holds by construction and only shows work the pass does
outside the chain. On ``chunked_lake`` the sum adds legs and direct
calls that the pass runs chunk by chunk, and what it leaves of the
untraced pass wall, ``trace.unexplained_s``, is the chunk driver's
per-chunk and per-job overhead that belongs to no layer.

Every span tags the Spark jobs it starts (local property
``perfbench.span``); Spark's event log, enabled only in the traced
session, gives per-job task metrics. Spans and per-span stage metrics
are written to ``.perfbench_work/traces/`` when the run ends.

The untraced reference is measured first, in a session without the
event log, so the tracing overhead is the difference between the two.
The traced session runs in the same JVM, so it only needs its Python
workers started before its passes.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from pathlib import Path

from perfbench.harness import T0, log

SPAN_PROP = "perfbench.span"

LEG_REPS = 3  # interleaved rounds of the decomposition legs, at most
SLOW_LEGS = ("jparse.parse_df_jvm",)  # one untimed run, then round 0 only
# no ledger round starts if it would end later than this many seconds
# after process start (the traced run has 180 s in all)
LEDGER_DEADLINE_S = 145

PARSE_SAMPLE = 20_000
SLOW_SAMPLE = 5_000

# name -> (unit, better) of every per-layer metric, in report order
PER_LAYER = {
    "scan.s": ("s", "lower"),
    "io.read_syslog_text.s": ("s", "lower"),
    "udf.boundary.s": ("s", "lower"),
    "udf.parse_rows_per_input_row": ("ratio", "lower"),
    "parse.in_spark.s": ("s", "lower"),
    "parse.parse_lines.rows_per_s": ("rows/s", "higher"),
    "parse.parse_message.rows_per_s": ("rows/s", "higher"),
    "pipeline.enrich.s": ("s", "lower"),
    "pipeline.split_rejects.s": ("s", "lower"),
    "pipeline.hourly_agg.s": ("s", "lower"),
    "pipeline.route_write.s": ("s", "lower"),
    "pipeline.route_write.shuffle_write_bytes": ("B", "lower"),
    "pipeline.route_write.task_skew": ("ratio", "lower"),
    "checkpoint.content_fingerprint.s": ("s", "lower"),
    "metrics.partition_metrics.s": ("s", "lower"),
    "pass.spark_jobs": ("count", "lower"),
    "pass.jobs_per_chunk": ("count", "lower"),
    "pass.chunk_s_p50": ("s", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "trace.untraced_wall_s_p50": ("s", "lower"),
    "trace.traced_wall_s_p50": ("s", "lower"),
    "trace.overhead_rows_per_s": ("rows/s", "higher"),
    "trace.layer_sum_over_wall": ("ratio", "higher"),
    "trace.unexplained_s": ("s", "lower"),
    "jparse.parse_df_jvm.s": ("s", "lower"),
    "trace.ledger_rounds": ("count", "higher"),
}


class Tracer:
    """In-memory spans; the open span's id tags the Spark jobs started
    while it is open."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _tag(self) -> None:
        self.sc.setLocalProperty(
            SPAN_PROP, str(self._stack[-1]["id"]) if self._stack else None)

    def open(self, name: str) -> dict:
        span = {"id": len(self.spans), "name": name, "start": time.time(),
                "end": None,
                "parent": self._stack[-1]["id"] if self._stack else None}
        self.spans.append(span)
        self._stack.append(span)
        self._tag()
        return span

    def close(self, span: dict) -> None:
        while self._stack:
            top = self._stack.pop()
            top["end"] = time.time()
            if top is span:
                break
        self._tag()

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def duration(self, span: dict) -> float:
        return span["end"] - span["start"]


# --- event log -----------------------------------------------------------------

def _plan_nodes(info: dict):
    yield info
    for c in info.get("children", ()):
        yield from _plan_nodes(c)


class EventLog:
    """Per-span job, stage and task metrics from one Spark event log."""

    def __init__(self, log_dir: Path):
        self.job_span: dict[int, int] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.udf_rows_acc: set[int] = set()
        for fn in sorted(log_dir.iterdir()):
            if fn.name.startswith("."):
                continue
            with open(fn) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            span = (e.get("Properties") or {}).get(SPAN_PROP)
            if span is not None:
                self.job_span[e["Job ID"]] = int(span)
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "dur_ms": info["Finish Time"] - info["Launch Time"],
                "failed": bool(info["Failed"]) or bool(info.get("Killed")),
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_w": (m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                "acc": {a["ID"]: a.get("Update") for a in
                        info.get("Accumulables", ()) if "Update" in a},
            })
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            for node in _plan_nodes(e["sparkPlanInfo"]):
                if node["nodeName"] == "MapInPandas":
                    self.udf_rows_acc |= {
                        m["accumulatorId"] for m in node.get("metrics", ())
                        if m["name"] == "number of output rows"}

    def jobs(self, span_ids: set[int]) -> set[int]:
        return {j for j, s in self.job_span.items() if s in span_ids}

    def tasks_of(self, span_ids: set[int]) -> list[dict]:
        jobs = self.jobs(span_ids)
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]

    def totals(self, span_ids: set[int]) -> dict:
        ts = self.tasks_of(span_ids)
        udf_rows = sum(int(v) for t in ts for k, v in t["acc"].items()
                       if k in self.udf_rows_acc)
        return {
            "jobs": len(self.jobs(span_ids)),
            "tasks": len(ts),
            "executor_run_s": sum(t["run_ms"] for t in ts) / 1e3,
            "executor_cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in ts) / 1e3,
            "shuffle_write_bytes": sum(t["shuffle_w"] for t in ts),
            "spill_bytes": sum(t["spill"] for t in ts),
            "failed_tasks": sum(t["failed"] for t in ts),
            "udf_output_rows": udf_rows,
        }

    def last_stage_skew(self, span_ids: set[int]) -> float:
        """max over median task time of the last stage the spans ran
        (for a write, the stage that writes the files)."""
        ts = [t for t in self.tasks_of(span_ids) if not t["failed"]]
        last = max(t["stage"] for t in ts)
        durs = [t["dur_ms"] for t in ts if t["stage"] == last]
        return max(durs) / max(statistics.median(durs), 1)


# --- the ledger -------------------------------------------------------------------

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _passthrough(df):
    def run(batches):
        yield from batches
    return df.mapInPandas(run, df.schema)


def ledger_legs(wl, text_dir: Path, out: Path) -> list[tuple]:
    """(layer, base layer, action) of every decomposition leg; an action
    takes the round number, so writing legs write to a fresh place."""
    from sparklog import io
    from sparklog import pipeline as PL
    from sparklog.udf import parse_df

    spark = wl.spark

    def parsed():
        return parse_df(wl.source(), **wl.parse_kwargs)

    def enriched():
        return PL.enrich(parsed(), spark, **wl.enrich_kwargs)

    def ok():
        return PL.split_rejects(enriched())[0]

    legs = [
        ("scan", None, lambda r: _noop(wl.raw_scan())),
        ("text_scan", None, lambda r: _noop(spark.read.text(str(text_dir)))),
        ("io.read_syslog_text", "text_scan",
         lambda r: _noop(io.read_syslog_text(spark, str(text_dir)))),
        ("udf.boundary", wl.source_layer,
         lambda r: _noop(_passthrough(wl.source()))),
        ("parse.in_spark", "udf.boundary", lambda r: _noop(parsed())),
        ("pipeline.enrich", "parse.in_spark", lambda r: _noop(enriched())),
        ("pipeline.split_rejects", "pipeline.enrich", lambda r: _noop(ok())),
        ("pipeline.hourly_agg", "pipeline.split_rejects",
         lambda r: PL.hourly_agg(ok()).write.parquet(str(out / f"agg-{r}"))),
        ("pipeline.route_write", "pipeline.enrich",
         lambda r: PL.route_write(enriched(), str(out / f"route-{r}"))),
    ]
    try:
        from sparklog.jparse import parse_df_jvm
    except ImportError:
        return legs
    return legs + [("jparse.parse_df_jvm", wl.source_layer,
                    lambda r: _noop(parse_df_jvm(wl.source())))]


def run_ledger(wl, tracer: Tracer) -> tuple[dict, dict, int]:
    """Median time of every leg over interleaved rounds, so a leg and
    its base run close together in every round; returns (self time per
    layer, the leg's span ids per layer, rounds run)."""
    legs = ledger_legs(wl, wl.text_dir(), wl.work / "ledger")
    times: dict[str, list[float]] = {layer: [] for layer, _, _ in legs}
    spans: dict[str, set[int]] = {layer: set() for layer, _, _ in legs}
    rounds, round_s = 0, 0.0  # round_s: the last round's cheap legs
    with tracer.span("ledger"):
        for layer, _, action in legs:
            if layer in SLOW_LEGS:
                with tracer.span(f"ledger.{layer}.cold"):
                    action("cold")
        while rounds < LEG_REPS and (
                rounds == 0
                or time.monotonic() - T0 + round_s <= LEDGER_DEADLINE_S):
            round_s = 0.0
            for layer, _, action in legs:
                if rounds and layer in SLOW_LEGS:
                    continue
                with tracer.span(f"ledger.{layer}") as s:
                    action(rounds)
                times[layer].append(tracer.duration(s))
                spans[layer].add(s["id"])
                if layer not in SLOW_LEGS:
                    round_s += tracer.duration(s)
            rounds += 1
    med = {layer: statistics.median(t) for layer, t in times.items()}
    log(f"ledger legs over {rounds} rounds: " + ", ".join(
        f"{k} {[round(t, 2) for t in v]}" for k, v in times.items()))
    selfs = {layer: med[layer] - (med[base] if base else 0.0)
             for layer, base, _ in legs}
    return selfs, spans, rounds


def _direct_calls(wl, tracer: Tracer) -> dict:
    """Median-of-3 direct calls into checkpoint, metrics and the
    single-core parse kernels, on the workload's own lines."""
    from sparklog import checkpoint as CK
    from sparklog import metrics as M
    from sparklog import pipeline as PL
    from sparklog.parse import parse_lines, parse_message
    from sparklog.udf import parse_df

    def med3(name, fn):
        times = []
        for _ in range(3):
            with tracer.span(name) as s:
                fn()
            times.append(tracer.duration(s))
        return statistics.median(times)

    out = {}
    enriched = PL.enrich(parse_df(wl.source(), tag_lineage=True), wl.spark,
                         with_lang=False).persist()
    try:
        with tracer.span("direct.persist"):
            enriched.count()
        out["checkpoint.content_fingerprint.s"] = med3(
            "direct.content_fingerprint",
            lambda: CK.content_fingerprint(enriched))
        out["metrics.partition_metrics.s"] = med3(
            "direct.partition_metrics",
            lambda: M.partition_metrics(enriched).collect())
    finally:
        enriched.unpersist()
    lines = wl.source().select("line").limit(PARSE_SAMPLE).toPandas()["line"]
    out["parse.parse_lines.rows_per_s"] = len(lines) / med3(
        "direct.parse_lines", lambda: parse_lines(lines))
    slow = lines.iloc[:SLOW_SAMPLE].tolist()
    out["parse.parse_message.rows_per_s"] = len(slow) / med3(
        "direct.parse_message", lambda: [parse_message(s) for s in slow])
    return out


def run_traced(runner, seconds: float, restart) -> dict:
    """Untraced reference, then the traced session: passes, ledger,
    direct calls. `restart(event_log)` stops the current session and
    returns a new one."""
    wl = runner.wl
    runner.setup(reps=1)  # setup_s is reported by untraced runs
    for _ in range(wl.warm_ups):
        runner.attempt(wl.warm_up)
    walls, _ = runner.measure(seconds)
    if not walls:
        return {}
    untraced = statistics.median(walls)
    log(f"untraced wall_s_p50 {untraced:.3f} over {len(walls)} passes")

    event_dir = wl.work / "eventlog"
    wl.spark = restart(event_dir)
    tracer = Tracer(wl.spark.sparkContext)
    # the JVM is warm from the reference; start the new session's
    # Python workers with an Arrow pass-through of the input
    with tracer.span("warm_workers"):
        _noop(_passthrough(wl.source()))
    passes, last = [], None

    def traced_pass():
        out = wl.next_out()
        with tracer.span("pass") as p:
            result = wl.run_pass(out)
        passes.append(p)
        return tracer.duration(p), result, wl.check(result)

    t0 = time.monotonic()
    while True:
        r = runner.attempt(traced_pass)
        if r is not None:
            last = r[1]
        if time.monotonic() - t0 >= seconds:
            break
    if last is None:
        return {}
    traced = statistics.median(tracer.duration(p) for p in passes)

    selfs, leg_spans, rounds = run_ledger(wl, tracer)
    direct = _direct_calls(wl, tracer)
    chunk_s = wl.chunk_seconds(last, traced)

    wl.spark.stop()  # flushes the event log
    events = EventLog(event_dir)
    per_pass = [events.totals(_subtree(tracer, p)) for p in passes]

    def pm(key):
        return statistics.median(t[key] for t in per_pass)

    def per_leg(layer, key):
        return statistics.median(events.totals({s})[key]
                                 for s in leg_spans[layer])

    jobs = pm("jobs")
    metrics = {
        "scan.s": selfs["scan"],
        "io.read_syslog_text.s": selfs["io.read_syslog_text"],
        "udf.boundary.s": selfs["udf.boundary"],
        "udf.parse_rows_per_input_row": pm("udf_output_rows") / wl.n_docs,
        "parse.in_spark.s": selfs["parse.in_spark"],
        "parse.parse_lines.rows_per_s": direct["parse.parse_lines.rows_per_s"],
        "parse.parse_message.rows_per_s":
            direct["parse.parse_message.rows_per_s"],
        "pipeline.enrich.s": selfs["pipeline.enrich"],
        "pipeline.split_rejects.s": selfs["pipeline.split_rejects"],
        "pipeline.hourly_agg.s": selfs["pipeline.hourly_agg"],
        "pipeline.route_write.s": selfs["pipeline.route_write"],
        "pipeline.route_write.shuffle_write_bytes":
            per_leg("pipeline.route_write", "shuffle_write_bytes")
            - per_leg("pipeline.enrich", "shuffle_write_bytes"),
        "pipeline.route_write.task_skew": statistics.median(
            events.last_stage_skew({s})
            for s in leg_spans["pipeline.route_write"]),
        "checkpoint.content_fingerprint.s":
            direct["checkpoint.content_fingerprint.s"],
        "metrics.partition_metrics.s": direct["metrics.partition_metrics.s"],
        "pass.spark_jobs": jobs,
        "pass.jobs_per_chunk": jobs / wl.chunks,
        "pass.chunk_s_p50": chunk_s,
        "spark.executor_run_s": pm("executor_run_s"),
        "spark.executor_cpu_s": pm("executor_cpu_s"),
        "spark.gc_s": pm("gc_s"),
        "spark.shuffle_write_bytes": pm("shuffle_write_bytes"),
        "spark.spill_bytes": pm("spill_bytes"),
        "spark.failed_tasks": pm("failed_tasks"),
        "trace.untraced_wall_s_p50": untraced,
        "trace.traced_wall_s_p50": traced,
        "trace.overhead_rows_per_s": wl.n_docs / traced - wl.n_docs / untraced,
        "trace.ledger_rounds": rounds,
    }
    if "jparse.parse_df_jvm" in selfs:
        metrics["jparse.parse_df_jvm.s"] = selfs["jparse.parse_df_jvm"]
    layer_sum = sum(metrics[k] for k in wl.ledger_layers)
    metrics["trace.layer_sum_over_wall"] = layer_sum / untraced
    metrics["trace.unexplained_s"] = untraced - layer_sum
    _write_trace(wl, tracer, events, metrics)
    return {k: (v, PER_LAYER[k][0]) for k, v in metrics.items()}


def _subtree(tracer: Tracer, root: dict) -> set[int]:
    ids = {root["id"]}
    for s in tracer.spans:  # children always follow their parent
        if s["parent"] in ids:
            ids.add(s["id"])
    return ids


def _write_trace(wl, tracer: Tracer, events: EventLog, metrics: dict) -> None:
    """Spans plus each span's own Spark metrics, next to the run's
    metrics, in .perfbench_work/traces/<workload>-seed<seed>.json."""
    dest = wl.work.parent / "traces" / f"{wl.name}-seed{wl.seed}.json"
    dest.parent.mkdir(parents=True, exist_ok=True)
    spans = [dict(s, spark=events.totals({s["id"]})) for s in tracer.spans]
    dest.write_text(json.dumps({"workload": wl.name, "seed": wl.seed,
                                "metrics": metrics, "spans": spans}, indent=1))
    log(f"trace written to {dest}")
