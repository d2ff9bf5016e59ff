"""Test helpers that read what a call actually ran on Spark: the jobs
and stages of a job group (status tracker), and the plans of the
frames a call collects with ``toArrow()``."""

from __future__ import annotations

import re
import time

from pyspark.sql.classic.dataframe import DataFrame


def run_in_group(sc, group: str, fn):
    """``fn()`` with every job it submits tagged with ``group``."""
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def group_jobs_and_stage_tasks(
    sc, group: str, timeout_s: float = 30.0
) -> tuple[int, list[int]]:
    """(number of jobs, numTasks of every stage in stage-id order) the job
    group ran, read from the status tracker once every job of the group
    has finished (listener events arrive asynchronously after the action
    returns). The group must run at least one job."""
    st = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        done = jobs and all(
            j is not None and j.status in ("SUCCEEDED", "FAILED") for j in jobs
        )
        stages = sorted({s for j in jobs if j is not None for s in j.stageIds})
        infos = [st.getStageInfo(s) for s in stages]
        if done and all(i is not None for i in infos):
            return len(jobs), [i.numTasks for i in infos]
        assert time.monotonic() < deadline, "job group did not finish in time"
        time.sleep(0.2)


def spy_collected_plans(monkeypatch) -> list[str]:
    """From now on, the executed-plan string of every DataFrame collected
    with ``toArrow()`` — the plans a driver-merging search submits —
    is appended to the returned list."""
    plans: list[str] = []
    to_arrow = DataFrame.toArrow

    def spy(self):
        out = to_arrow(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(DataFrame, "toArrow", spy)
    return plans


def assert_cell_pruned_scan(plans: list[str]) -> None:
    """The one Python scan a search submitted reads the codes with the
    probed cells as a partition filter (per-query I/O tracks nprobe)."""
    scans = [p for p in plans if "MapInArrow" in p]
    assert len(scans) == 1, plans
    assert re.search(r"PartitionFilters: \[[^\]]*cell", scans[0]), scans[0]


# plan nodes that run Python workers (Arrow/pandas UDF execs)
PYTHON_SCOPE = re.compile(r"InArrow|InPandas|EvalPython")


def group_stage_scopes(sc, group: str) -> list[list[str]]:
    """The operation scopes — SQL plan nodes and RDD operations, the
    boxes of the UI's stage DAG — of every stage the job group ran, in
    stage-id order, skipped stages left out."""
    group_jobs_and_stage_tasks(sc, group)  # waits for the group to finish
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stages = sorted(
        {s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds}
    )
    scopes = []
    for s in stages:
        if st.getStageInfo(s).numCompletedTasks == 0:
            continue  # skipped: its shuffle output was reused
        names, todo = [], [store.operationGraphForStage(s).rootCluster()]
        while todo:
            cluster = todo.pop()
            names.append(cluster.name())
            children = cluster.childClusters().iterator()
            while children.hasNext():
                todo.append(children.next())
        scopes.append(names)
    return scopes
