"""Measurements taken beside the engine: Spark's app status store, read
through py4j (it is populated with the UI off), and resident memory of
the driver's process tree, read from /proc."""

from __future__ import annotations

import json
import os
import threading
import time

ACTION_GROUP = "perfbench-action"
COUNT_GROUP = "perfbench-count"
_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


class StatusReader:
    """Reads finished jobs and their stages from the app status store."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._gateway = spark.sparkContext._gateway
        self._last_job = -1

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def new_jobs(self) -> list[dict]:
        """Jobs finished since the previous call, oldest first, each with
        its group, submission time and summed metrics of its stages."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = [j for j in self._json(self._store.jobsList(None))
                if j["jobId"] > self._last_job and j.get("submissionTime") is not None]
        if not jobs:
            return []
        self._last_job = max(j["jobId"] for j in jobs)
        wanted = {s for j in jobs for s in j["stageIds"]}
        quantiles = self._gateway.new_array(self._gateway.jvm.double, 0)
        stages = {}
        for s in self._json(self._store.stageList(None, False, False, quantiles, None)):
            if s["stageId"] in wanted:
                stages.setdefault(s["stageId"], []).append(s)
        out = []
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            att = [a for sid in j["stageIds"] for a in stages.get(sid, ())
                   if a["status"] != "SKIPPED" and a["numCompleteTasks"] + a["numFailedTasks"] > 0]
            out.append({
                "group": j.get("jobGroup"),
                "submitted_ms": j["submissionTime"],
                "stages": len(att),
                "tasks": sum(a["numCompleteTasks"] for a in att),
                "failed_tasks": sum(a["numFailedTasks"] for a in att),
                "task_run_s": sum(a["executorRunTime"] for a in att) / 1e3,
                "task_cpu_s": sum(a["executorCpuTime"] for a in att) / 1e9,
                "gc_s": sum(a["jvmGcTime"] for a in att) / 1e3,
                "result_bytes": sum(a["resultSize"] for a in att),
                "shuffle_write_bytes": sum(a["shuffleWriteBytes"] for a in att),
                "shuffle_read_bytes": sum(a["shuffleReadBytes"] for a in att),
                "input_rows": sum(a["inputRecords"] for a in att),
                "spill_bytes": sum(a["memoryBytesSpilled"] + a["diskBytesSpilled"] for a in att),
            })
        return out


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (parent pid, resident bytes, CPU ticks) for every live
    process; the ticks are its user and system time plus that of its
    children it has reaped."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            table[int(name)] = (int(fields[1]), int(fields[21]) * _PAGE,
                                sum(int(f) for f in fields[11:15]))
    return table


def _tree(root: int) -> dict[int, tuple[int, int, int]]:
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, row in table.items():
        kids.setdefault(row[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid]
        todo.extend(kids.get(pid, ()))
    return out


def descendants(root: int) -> dict[int, int]:
    """pid -> resident bytes of ``root`` and every process below it."""
    return {pid: row[1] for pid, row in _tree(root).items()}


class CpuClock:
    """CPU seconds used so far by this process, the JVM and the Python
    workers (user + system, reaped children included), and by the JVM's
    JIT compiler threads alone. The kernel charges a process only for
    the time it ran, not the time the host gave to other guests (steal)
    or other processes. The compiler threads must live as long as the
    JVM (``-XX:-UseDynamicNumberOfCompilerThreads``), or the time of
    one that exits could not be told apart."""

    def __init__(self) -> None:
        self._jit = []
        for pid in _tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() != "java":
                        continue
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if "CompilerThre" in fh.read():
                        self._jit.append(f"/proc/{pid}/task/{tid}/stat")
        if not self._jit:
            raise RuntimeError("no JIT compiler thread found under this process")

    def read(self) -> tuple[float, float]:
        """(CPU seconds of the whole tree, of which JIT compilation)."""
        total = sum(row[2] for row in _tree(os.getpid()).values())
        jit = 0
        for path in self._jit:
            with open(path) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            jit += int(fields[11]) + int(fields[12])
        return total / _TICK, jit / _TICK


class RssSampler:
    """Peak summed RSS of this process, the JVM and the Python workers;
    ``split`` is (driver, JVM, the rest) at the peak."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak = 0
        self.split = (0, 0, 0)
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            procs = descendants(me)
            total = sum(procs.values())
            if total > self.peak:
                jvm = max((r for p, r in procs.items() if p != me), default=0)
                self.peak = total
                self.split = (procs.get(me, 0), jvm, total - procs.get(me, 0) - jvm)
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def wait_for_children(timeout: float = 60.0) -> None:
    """Reap every child and wait until no live process is left below
    this one; after ``timeout`` kill the stragglers once."""
    import signal

    deadline, killed = time.monotonic() + timeout, False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = [p for p in descendants(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                return
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline, killed = time.monotonic() + 10.0, True
        time.sleep(0.1)
