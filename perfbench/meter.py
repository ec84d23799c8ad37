"""Spark status-store meter for the benchmark's traced runs.

Reads job and stage records from the driver's status store, which Spark
keeps with ``spark.ui.enabled=false`` too, and attributes them to the
benchmark's operations by job submission time. Attribution is by time
window rather than by job group, because the stages of one traced
rebuild share a job group and are told apart only by the stage walls
`run_pipeline(profile=True)` returns. The benchmark is a single
closed-loop client, so windows never overlap.
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int
    tasks: int
    busy_ms: int
    shuffle_write_bytes: int


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def read_jobs(spark) -> list[Job]:
    """Every finished job in the status store, oldest first.

    A stage reused by a later job (its shuffle output already exists)
    is listed again in that job as skipped, but the store returns the
    first attempt's metrics for it; counting each stage id once, in the
    first job that lists it, keeps the work from being counted twice.
    """
    store = spark.sparkContext._jsc.sc().statusStore()
    listed = store.jobsList(None)
    raw = []
    for i in range(listed.size()):
        j = listed.apply(i)
        submit, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        if submit is None or end is None:
            continue
        sids = j.stageIds()
        raw.append((j.jobId(), submit, end, [sids.apply(k) for k in range(sids.size())]))
    raw.sort()
    seen: set[int] = set()
    jobs = []
    for job_id, submit, end, sids in raw:
        tasks = busy = shuffle = 0
        for sid in sids:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - py4j error: stage evicted or never run
                continue
            tasks += st.numCompleteTasks()
            busy += st.executorRunTime()
            shuffle += st.shuffleWriteBytes()
        jobs.append(Job(job_id, submit, end, tasks, busy, shuffle))
    return jobs


def in_window(jobs: list[Job], start_ms: float, end_ms: float) -> list[Job]:
    return [j for j in jobs if start_ms <= j.submit_ms < end_ms]


def summarize(jobs: list[Job], start_ms: float, end_ms: float) -> dict[str, float]:
    """Counters for the jobs submitted in [start_ms, end_ms).

    driver_idle_s is the window's wall time that no job of the window
    covers: planning, Python-side work and scheduling gaps.
    """
    sel = in_window(jobs, start_ms, end_ms)
    covered = 0.0
    cur_s = cur_e = None
    for j in sorted(sel, key=lambda j: j.submit_ms):
        s, e = max(j.submit_ms, start_ms), min(j.end_ms, end_ms)
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return {
        "jobs": len(sel),
        "tasks": sum(j.tasks for j in sel),
        "busy_s": sum(j.busy_ms for j in sel) / 1000.0,
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in sel),
        "driver_idle_s": max(0.0, (end_ms - start_ms) - covered) / 1000.0,
    }


def _process_tree() -> tuple[list[int], dict[int, int]]:
    """This process and every process under it, and the CPU ticks of
    each (utime, stime, cutime, cstime)."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed /proc
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree, ticks


def descendants() -> list[int]:
    """Every process under this one, zombies included."""
    return _process_tree()[0][1:]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under
    it: the Spark JVM, which in local mode is driver and executors at
    once, and its Python workers. A process that has exited counts
    through its parent's `cutime`/`cstime` once the parent has reaped it.
    """
    tree, ticks = _process_tree()
    return sum(ticks.get(pid, 0) for pid in tree) / os.sysconf("SC_CLK_TCK")
