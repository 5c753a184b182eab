"""Collectors that read the engine's figures from outside the program:
CPU time and resident memory of the driver JVM and its Python workers
from ``/proc``, and stage metrics from the session's UI REST endpoint.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import urllib.request

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (index 0 is
    the state, 1 the ppid, 11-14 utime/stime/cutime/cstime)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcTree:
    """The driver JVM and every process below it (the pyspark daemon and
    the Python workers it forks)."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_rss_mb = 0.0

    def descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
        out, todo = [], list(children.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo += children.get(pid, [])
        return out

    def cpu(self) -> tuple[float, float]:
        """(JVM CPU s, Python-worker CPU s) since each process started.
        Worker time includes reaped workers through the daemon's
        cutime/cstime."""
        st = _stat(self.jvm_pid)
        jvm = (int(st[11]) + int(st[12])) / _CLK if st else 0.0
        py = 0
        for pid in self.descendants():
            s = _stat(pid)
            if s:
                py += sum(int(x) for x in s[11:15])
        return jvm, py / _CLK

    def sample_rss(self) -> float:
        """Sum of the peak RSS (VmHWM) of the JVM and the Python processes
        alive now, in MB; returns the largest sum sampled so far. Workers
        that exited are left out, so replaced workers are not added up as
        if they had lived at once."""
        kb = sum(_hwm_kb(p) for p in [self.jvm_pid] + self.descendants())
        self.peak_rss_mb = max(self.peak_rss_mb, kb / 1024.0)
        return self.peak_rss_mb


class SparkRest:
    """Stage metrics per job group from the session's local UI REST API."""

    def __init__(self, sc):
        self.sc = sc
        # the UI listens on every interface; ask it on the loopback one
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = (
            f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
        )

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as resp:
            return json.load(resp)

    def _jobs(self, group: str) -> list[dict]:
        return [j for j in self._get("/jobs") if j.get("jobGroup") == group]

    def settle(self, groups: list[str], timeout: float = 10.0) -> None:
        """Wait until the status store has seen every job of ``groups``
        end (the listener bus is asynchronous)."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            want = {j for g in groups for j in tracker.getJobIdsForGroup(g)}
            done = {
                j["jobId"]
                for g in groups
                for j in self._jobs(g)
                if j["status"] != "RUNNING"
            }
            if want <= done:
                return
            time.sleep(0.1)

    def group_metrics(self, group: str) -> dict:
        """Sums over the stages that ran for ``group``'s jobs, plus the
        max/median task run time of its heaviest stage."""
        m = dict.fromkeys(
            (
                "tasks", "failed_tasks", "gc_s", "shuffle_write_mb",
                "spill_mb", "input_mb",
            ),
            0.0,
        )
        heaviest = None
        stage_ids = {s for j in self._jobs(group) for s in j["stageIds"]}
        for sid in sorted(stage_ids):
            for att in self._get(f"/stages/{sid}?details=false"):
                if att["status"] in ("SKIPPED", "PENDING"):
                    continue
                m["tasks"] += att["numCompleteTasks"] + att["numFailedTasks"]
                m["failed_tasks"] += att["numFailedTasks"]
                m["gc_s"] += att["jvmGcTime"] / 1e3
                m["shuffle_write_mb"] += att["shuffleWriteBytes"] / 1e6
                m["spill_mb"] += att["diskBytesSpilled"] / 1e6
                m["input_mb"] += att["inputBytes"] / 1e6
                if att["numCompleteTasks"] >= 2 and (
                    heaviest is None or att["executorRunTime"] > heaviest[2]
                ):
                    heaviest = (sid, att["attemptId"], att["executorRunTime"])
        m["task_max_over_p50"] = 1.0
        if heaviest is not None:
            q = self._get(
                f"/stages/{heaviest[0]}/{heaviest[1]}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            if q[0] > 0:
                m["task_max_over_p50"] = q[1] / q[0]
        return m
