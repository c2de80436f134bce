"""Resource numbers taken from outside the engine: process-tree RSS,
bytes on disk, and Spark's own status store (time, shuffle, spill and
failed tasks per job group). Process-tree CPU comes from
``bench._tree_cpu_seconds``."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_S = 0.05  # RSS sampling period
RESCAN_S = 0.5   # how often the process tree is listed again


def _tree_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for pid, pp in parent.items():
            if pp == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return sorted(tree)


def _rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Samples the summed RSS of this process and its descendants (the
    JVM and the Python workers) every ``SAMPLE_S`` seconds on a daemon
    thread; ``window()`` starts a new peak, ``peak_mb()`` reads it."""

    def __init__(self):
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        pids, scanned = [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - scanned >= RESCAN_S:
                pids, scanned = _tree_pids(os.getpid()), now
            rss = _rss_bytes(pids)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(SAMPLE_S)

    def window(self) -> None:
        with self._lock:
            self._peak = 0

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def dir_bytes(root: str) -> int:
    total = 0
    for base, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                continue
    return total


STAGE_FIELDS = {
    # StageData accessor -> (output key, scale to seconds / MB)
    "executorRunTime": ("task_s", 1e-3),
    "executorCpuTime": ("cpu_task_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_mb", 2**-20),
    "memoryBytesSpilled": ("spill_mb", 2**-20),
    "diskBytesSpilled": ("spill_mb", 2**-20),
    "numFailedTasks": ("failed_tasks", 1),
}


class StatusStore:
    """Per-job-group totals read from Spark's AppStatusStore (works with
    the UI disabled). Stage data is cached by stage id, so repeated
    reads cost one py4j round trip per new stage."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._jvm = self._sc._jvm
        self._stages: dict[int, dict[str, float]] = {}

    def _stage(self, sid: int) -> dict[str, float]:
        if sid not in self._stages:
            attempts = self._store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False, None)
            out = {key: 0.0 for key, _ in STAGE_FIELDS.values()}
            out["peak_exec_mb"] = 0.0
            for a in range(attempts.size()):
                st = attempts.apply(a)
                for field, (key, scale) in STAGE_FIELDS.items():
                    out[key] += getattr(st, field)() * scale
                out["peak_exec_mb"] = max(out["peak_exec_mb"],
                                          st.peakExecutionMemory() / 2**20)
            self._stages[sid] = out
        return self._stages[sid]

    def groups(self, prefix: str) -> dict[str, dict[str, float]]:
        """{job group: totals} over every job whose group starts with
        ``prefix``. Totals: the STAGE_FIELDS keys, ``peak_exec_mb`` (the
        largest stage's summed task peaks) and ``jobs``. A stage that a
        later job reuses (and skips) counts once, for the job that ran
        it."""
        jobs = self._store.jobsList(None)
        listed = []
        for j in range(jobs.size()):
            job = jobs.apply(j)
            g = job.jobGroup()
            ids = job.stageIds()
            listed.append((job.jobId(), g.get() if g.isDefined() else "",
                           [ids.apply(k) for k in range(ids.size())]))
        out: dict[str, dict[str, float]] = {}
        seen: set[int] = set()
        for _, group, stage_ids in sorted(listed):
            fresh = [s for s in stage_ids if s not in seen]
            seen.update(stage_ids)
            if not group.startswith(prefix):
                continue
            tot = out.setdefault(group, {"jobs": 0, "peak_exec_mb": 0.0})
            tot["jobs"] += 1
            for sid in fresh:
                for key, v in self._stage(sid).items():
                    if key == "peak_exec_mb":
                        tot[key] = max(tot[key], v)
                    else:
                        tot[key] = tot.get(key, 0.0) + v
        return out
