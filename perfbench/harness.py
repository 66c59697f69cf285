"""Process-level plumbing: the checkout-local Spark session, the process
tree's resident memory, lake file statistics and timing.

Everything the benchmark writes goes under ``<checkout>/.perfbench_work``:
Spark's local dirs, the JVM and Python temp dirs, the warehouse, the
staged inputs, the pass outputs and the event log.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
T0 = time.monotonic()  # process start, near enough: run.py imports this first

# Driver heap for the local[N] session (build_spark defaults to 8g), fixed
# (-Xms = -Xmx) so resident memory does not follow heap-resizing choices.
DRIVER_MEM = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Point every scratch location of Spark and Python into ``work``;
    must run before the first SparkSession starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARKLOG_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # Python workers import sparklog from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def start_spark(work: Path, event_log: Path | None = None):
    from sparklog.session import build_spark

    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log.as_uri()
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return build_spark(app="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it and every Python
    worker it forked to exit."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    descendants = _tree(os.getpid()) - {os.getpid()}
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while descendants and time.monotonic() < deadline:
        descendants = {p for p in descendants if Path(f"/proc/{p}").exists()}
        time.sleep(0.1)
    for p in descendants:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


# --- memory --------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree(root: int) -> set[int]:
    """root plus every descendant process, from /proc/<pid>/stat."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [root]
    while todo:
        p = todo.pop()
        out.add(p)
        todo.extend(children.get(p, ()))
    return out


def _rss_bytes(pids) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Peak resident memory of this process, the driver JVM and the
    Python workers, sampled from /proc every 0.1 s while active. The
    process tree is re-listed every 10th sample: walking /proc costs
    more than reading a dozen statm files."""

    interval = 0.1
    relist_every = 10

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        n = 0
        while not self._stop.is_set():
            if n % self.relist_every == 0:
                pids = _tree(os.getpid())
            self.peak = max(self.peak, _rss_bytes(pids))
            n += 1
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _rss_bytes(_tree(os.getpid())))


# --- files -------------------------------------------------------------------

def lake_stats(root: Path, skip_top: tuple[str, ...] = ()) -> tuple[int, int]:
    """(bytes, count) of the parquet part files under root, leaving out
    checksums, markers and the top-level directories named in skip_top."""
    files = []
    for dirpath, dirnames, filenames in os.walk(root):
        if Path(dirpath) == root:
            dirnames[:] = [d for d in dirnames if d not in skip_top]
        files += [Path(dirpath) / f for f in filenames if f.startswith("part-")]
    return sum(f.stat().st_size for f in files), len(files)


def link_tree(src: Path, dst: Path) -> None:
    """Hard-link copy of a staged directory (no data is copied)."""
    shutil.copytree(src, dst, copy_function=os.link)


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out
