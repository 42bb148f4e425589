"""Counters read from outside the engine: Spark job/stage/task counts per job
group (``statusTracker``; the Spark UI stays disabled), point-table scans in
an executed plan, and the RSS of the Spark driver JVM and its Python workers.

RSS is read between operations, not by a sampling thread: a thread in the
driver process competes for the interpreter lock with the py4j calls that
build each plan, and slowed kNN calls from about 6.5 s to 10 s in a trial.
Heap and worker memory are not returned to the OS between operations, so
the largest reading after an operation is close to the peak.
"""

from __future__ import annotations

import os


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, executed stages, tasks and failed tasks of one job group.
    Stages skipped because a shuffle was reused have no stage info and are
    not counted."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            st = tracker.getStageInfo(sid)
            if st is None:
                continue
            stages += 1
            tasks += st.numTasks
            failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def point_scans(df, table_dir: str) -> int:
    """Parquet scans of ``table_dir`` in ``df``'s physical plan (``df`` has
    not run, so an adaptive plan prints only its initial plan)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    leaf = os.path.basename(os.path.normpath(table_dir))
    return sum(1 for line in plan.splitlines()
               if "Scan parquet" in line and f"/{leaf}]" in line)


def _children(pid_ppid: dict[int, int], root: int) -> list[int]:
    tree, frontier = [root], [root]
    while frontier:
        nxt = [p for p, pp in pid_ppid.items() if pp in frontier]
        tree += nxt
        frontier = nxt
    return tree


def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """Summed RSS of ``root_pid`` and all its descendants (the Spark driver JVM,
    the Python worker daemon and its workers)."""
    return sum(_rss_kb(p) for p in _children(_ppids(), root_pid)) / 1024.0
