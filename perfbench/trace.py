"""In-memory spans, a /proc RSS sampler and session shutdown for the
benchmark.

A span is (name, start, end, parent) around one call into a layer, recorded
by the benchmark around the engine's public functions — never inside them.
Spans stay in memory and are written as JSON when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Nested spans with ``perf_counter`` times. A disabled tracer keeps the
    same call sites but records nothing."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """name → summed self time: each span's duration minus the part of
        its interval its children cover (children never overlap here: the
        benchmark calls layers one at a time)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**(extra or {}), "self_s": self.self_times(), "spans": self.spans},
                      f, indent=1)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _is_pyspark(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark" in f.read()
    except OSError:
        return False


def jvm_tree_rss_mb(pid: int) -> float:
    """Summed RSS of the JVM ``pid`` and the PySpark processes below it (the
    daemon and its workers). Other children are short-lived helpers the JVM
    spawns; while one shares the JVM's address space it reports the JVM's
    whole RSS as its own, so counting it would double the JVM."""
    procs = _descendants(pid)
    return (_rss_kb(pid) + sum(_rss_kb(p) for p in procs[1:] if _is_pyspark(p))) / 1024.0


class RssSampler:
    """Background thread sampling ``jvm_tree_rss_mb``;
    ``mark`` starts a new phase so the peak of each phase can be reported."""

    def __init__(self, pid: int, period_s: float = 0.1):
        self.pid = pid
        self.period_s = period_s
        self.peaks: dict[str, float] = {}
        self.phase = "start"
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            mb = jvm_tree_rss_mb(self.pid)
            with self._lock:
                self.peaks[self.phase] = max(self.peaks.get(self.phase, 0.0), mb)
            self._stop.wait(self.period_s)

    def mark(self, phase: str) -> None:
        with self._lock:
            self.phase = phase

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class StealClock:
    """Wall clock that also reads the host's stolen CPU time (/proc/stat
    ``steal``: time the hypervisor ran another guest while one of ours
    wanted a CPU). ``lap`` returns (wall, wall minus steal per CPU)."""

    def __init__(self, n_cpus: int):
        self.n_cpus = n_cpus
        self.tick = os.sysconf("SC_CLK_TCK")

    @staticmethod
    def _steal_ticks() -> int:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])

    def start(self) -> tuple[float, int]:
        return time.perf_counter(), self._steal_ticks()

    def lap(self, since: tuple[float, int]) -> tuple[float, float]:
        wall = time.perf_counter() - since[0]
        stolen = (self._steal_ticks() - since[1]) / self.tick / self.n_cpus
        return wall, max(wall - stolen, 0.0)


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait until its JVM has exited. The JVM exits when
    its stdin closes; left alone, it does so only after this process ends,
    and its shutdown would overlap whatever runs next."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=timeout_s)
