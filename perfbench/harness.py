"""Benchmark plumbing shared by the workloads: session set-up, spans,
streaming progress capture, process-tree memory and summary statistics.

Nothing here is imported by the program under test; every span is
recorded from the benchmark's side of a call into a program layer.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import signal
import statistics
import sys
import threading
import time
from typing import Any, Iterator, Optional


def log(msg: str) -> None:
    """Progress to stderr; stdout carries only the result line."""
    print(f"perfbench [{_process_age_s():6.1f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------
def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
class Tracer:
    """In-memory spans: name, start, end, parent span and trace id, plus
    counts recorded at the same boundary. Disabled, ``span`` costs one
    branch and records nothing; the workloads time their end-to-end
    metrics with their own clocks either way."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self.events: list[dict[str, Any]] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[Optional[dict]]:
        if not self.enabled:
            yield None
            return
        parent = getattr(self._local, "current", None)
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else sid,
            "name": name,
            "start": time.perf_counter(),
            "attrs": dict(attrs),
        }
        self._local.current = rec
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._local.current = parent
            with self._lock:
                self.spans.append(rec)

    def event(self, kind: str, payload: dict) -> None:
        if self.enabled:
            with self._lock:
                self.events.append({"kind": kind, "t": time.perf_counter(), **payload})

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "events": self.events, **extra}, f)


def progress_listener(tracer: Tracer):
    """A StreamingQueryListener that keeps each micro-batch's progress
    (``durationMs`` phases, input rows, state-operator figures) as tracer
    events. Registered only in traced runs."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802 - Spark's API
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            tracer.event(
                "progress",
                {
                    "query": str(p.name or p.id),
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state": [
                        {
                            "rows_total": s.numRowsTotal,
                            "memory_bytes": s.memoryUsedBytes,
                            "commit_ms": s.commitTimeMs,
                            "custom": dict(s.customMetrics),
                        }
                        for s in p.stateOperators
                    ],
                },
            )

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return _Listener()


# Phases of one micro-batch as Spark reports them in ``durationMs``; the
# trigger covers all of them plus the sink's work (addBatch).
STREAM_PHASES = {
    "stream.latest_offset_ms": "latestOffset",
    "stream.query_planning_ms": "queryPlanning",
    "stream.add_batch_ms": "addBatch",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.trigger_ms": "triggerExecution",
}


def stream_metrics(tracer: Tracer, query_prefix: str) -> dict[str, float]:
    """Per-layer figures for the micro-batch loop and its state store,
    from the progress events of queries whose name starts with
    ``query_prefix`` (batches with input rows only)."""
    progs = [
        e for e in tracer.events
        if e["kind"] == "progress" and e["query"].startswith(query_prefix) and e["rows"] > 0
    ]
    out = {name: median([p["duration_ms"].get(key, 0) for p in progs]) for name, key in STREAM_PHASES.items()}
    trig = sum(p["duration_ms"].get("triggerExecution", 0) for p in progs)
    add = sum(p["duration_ms"].get("addBatch", 0) for p in progs)
    out["stream.overhead_share"] = (trig - add) / trig if trig else 0.0
    states = [s for p in progs for s in p["state"]]
    out["state.rows_total"] = max((s["rows_total"] for s in states), default=0)
    out["state.memory_bytes"] = max((s["memory_bytes"] for s in states), default=0)
    out["state.commit_ms"] = median([s["commit_ms"] for s in states])
    out["state.dup_rows_dropped"] = sum(s["custom"].get("numDroppedDuplicateRows", 0) for s in states)
    return out


def read_epochs(out_dir: str) -> dict[int, tuple[float, list[str]]]:
    """Durable wall time and lines of each promoted ``epoch-N.jsonl``
    directory, by N. An epoch is durable when its write job committed (its
    ``_SUCCESS`` marker); reading this after the run adds no work to the
    flush."""
    out = {}
    for name in os.listdir(out_dir):
        if name.startswith("epoch-") and name.endswith(".jsonl"):
            d = os.path.join(out_dir, name)
            lines = []
            for part in sorted(os.listdir(d)):
                if part.startswith("part-"):
                    with open(os.path.join(d, part)) as f:
                        lines.extend(f.read().splitlines())
            out[int(name[6:-6])] = (os.stat(os.path.join(d, "_SUCCESS")).st_mtime_ns / 1e9, lines)
    return out


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by the forked Python workers
    count once across them, not once per worker as in RSS."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _start_ticks(pid: int) -> Optional[int]:
    """Start time of a live process, or None once it has ended (or is a
    zombie): with the pid it names one process even if the pid is reused."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else int(fields[19])


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class MemorySampler:
    """Peak resident memory (PSS) of this process's descendants (the Spark
    JVM and its Python workers), sampled from /proc every INTERVAL_S."""

    INTERVAL_S = 0.1

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.INTERVAL_S):
            self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in descendants(me)))

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------
def _process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def session_conf(work: str) -> dict[str, str]:
    """Keeps every file Spark writes inside the benchmark's work dir."""
    java_opts = f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby -XX:-UsePerfData"
    return {
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }


STOP_TIMEOUT_S = 30.0


def stop_processes() -> None:
    """Stops the Spark session if one runs, its JVM and every process this
    one started (the Python workers included), and waits until each has
    ended. Safe to call on any path out, whether or not Spark started."""
    procs = [(p, t) for p in descendants(os.getpid()) if (t := _start_ticks(p)) is not None]
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            with contextlib.suppress(Exception):
                sc.stop()
        jvm = getattr(SparkContext._gateway, "proc", None)
        if jvm is not None:
            # The gateway JVM exits when its stdin closes.
            with contextlib.suppress(OSError):
                jvm.stdin.close()
            try:
                jvm.wait(STOP_TIMEOUT_S)
            except Exception:
                jvm.kill()
                jvm.wait()
            SparkContext._gateway = SparkContext._jvm = None
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = [(p, t) for p, t in procs if _start_ticks(p) == t]
        for p, _ in left:
            with contextlib.suppress(OSError):
                os.kill(p, sig)
        deadline = time.monotonic() + STOP_TIMEOUT_S / 3
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = [(p, t) for p, t in left if _start_ticks(p) == t]
        if not left:
            return
    raise RuntimeError(f"processes still running: {[p for p, _ in left]}")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    """A ready, warmed session. Returns (session, set-up seconds from
    process start: imports, JVM launch, ``get_spark`` and a warm-up query;
    seconds inside ``get_spark``)."""
    from pyconnect_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cores=host_cores(),
        # One task wave per shuffle on this host. The default floor of
        # 32 partitions is sized for clusters: here it puts 32
        # state-store instances and 32 output files on every
        # micro-batch of the ingest stream.
        shuffle_partitions=host_cores(),
        driver_memory="2g",
        extra_conf=session_conf(work),
    )
    get_spark_s = time.perf_counter() - t
    spark.range(20000).selectExpr("sum(id * 7 % 13)", "count(distinct id % 97)").collect()
    return spark, _process_age_s(), get_spark_s
