"""sparklog benchmark: closed-loop passes of one workload on local[nproc].

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload rollup --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md): rollup, chunked_lake, reject_storm.
One process, one Spark session, one pass at a time. Set-up stages the
seed's inputs three times and reports the median; untimed warm-up
passes follow; then passes run back to back for --seconds. Every pass's
output, warm-ups included, is checked against an oracle. --trace 0 reports the end-to-end
metrics; --trace 1 runs the traced ledger instead and reports the
per-layer metrics. The last line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import harness  # noqa: E402  (needs ROOT on sys.path)
from perfbench.harness import RssSampler, log, timed  # noqa: E402

SETUP_REPS = 3


def _require_checkout() -> None:
    """Refuse to run anywhere but a sparklog checkout."""
    for rel in ("sparklog/__init__.py", "jobs/run_pipeline.py"):
        if not (ROOT / rel).is_file():
            raise SystemExit(f"perfbench: {ROOT / rel} not found; run from a "
                             "sparklog checkout")


class Runner:
    """One run: set-up, warm-up, measured passes, with pass accounting."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0

    def setup(self, reps: int = SETUP_REPS) -> list[float]:

        self.wl.generate()
        times = []
        for k in range(reps):
            dest = self.wl.work / f"stage-{k}"
            t, _ = timed(lambda: self.wl.stage(dest))
            times.append(t)
            if k:
                shutil.rmtree(self.wl.work / f"stage-{k - 1}")
            self.wl.staged = dest
        log(f"setup {[round(t, 3) for t in times]}")
        self.wl.expect()
        return times

    def attempt(self, fn):
        """Count one attempt of fn() -> (wall_s, result, problems); returns
        (wall_s, result), or None when it raised or its check failed."""
        self.attempted += 1
        try:
            wall, result, problems = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        if problems:
            log(f"attempt {self.attempted} FAILED its check: {problems}")
            self.failed += 1
            return None
        if wall is not None:
            log(f"attempt {self.attempted}: {wall:.3f} s")
        return wall, result

    def measure(self, seconds: float):
        """Back-to-back passes for `seconds`; returns (walls, last result)."""
        walls, last = [], None
        t0 = time.monotonic()
        while True:
            r = self.attempt(self.wl.timed_pass)
            if r is not None:
                walls.append(r[0])
                last = r[1]
            if time.monotonic() - t0 >= seconds:
                return walls, last


def run_untraced(runner: Runner, seconds: float) -> dict:
    wl = runner.wl
    setup = runner.setup()
    for _ in range(wl.warm_ups):  # workers, JIT, page cache
        runner.attempt(wl.warm_up)
    with RssSampler() as rss:
        walls, last = runner.measure(seconds)
    if last is not None and hasattr(wl, "resume_check"):
        runner.attempt(lambda: (None, last, wl.resume_check(last)))
    metrics = {"setup_s": (statistics.median(setup), "s"),
               "peak_rss_mb": (rss.peak / 2**20, "MB")}
    if walls:
        wall = statistics.median(walls)
        lake_bytes, lake_files = wl.lake(last)
        log(f"wall_s_p50 over {len(walls)} passes: {walls}")
        metrics.update({
            "rows_per_s": (wl.n_docs / wall, "rows/s"),
            "wall_s_p50": (wall, "s"),
            "lake_bytes_per_input_byte": (lake_bytes / wl.input_bytes, "B/B"),
            "lake_files": (lake_files, "count"),
        })
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _require_checkout()

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    harness.prepare_env(work)
    session = []

    def restart(event_log):
        """Stop the current session (the JVM stays) and start another."""
        session[-1].stop()
        session.append(harness.start_spark(work, event_log=event_log))
        return session[-1]

    runner = Runner(None)
    metrics = {}
    try:
        session.append(harness.start_spark(work))
        runner.wl = WORKLOADS[args.workload](
            session[-1], args.seed, work, harness.cpus())
        if args.trace:
            from perfbench import trace

            metrics = trace.run_traced(runner, args.seconds, restart)
        else:
            metrics = run_untraced(runner, args.seconds)
    except Exception:
        # set-up, oracle or ledger failed outside a pass: one failed attempt
        traceback.print_exc(file=sys.stderr)
        runner.attempted += 1
        runner.failed += 1
    finally:
        if session:
            harness.stop_spark(session[-1])
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": runner.failed == 0 and runner.attempted > 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
