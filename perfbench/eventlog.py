"""Reduce a Spark event log to per-module work.

Each job is attributed to a module, in this order:

1. its ``spark.jobGroup.id``, which the benchmark sets to the module
   name around each public call (see tracing.py);
2. the job group of its SQL execution, for jobs Spark starts from its
   own threads (broadcasts, subqueries) on behalf of a tagged query;
3. ``sources.storage`` for untagged parquet writes: the crawl engine
   commits snapshots from a background thread, which carries no job
   group and whose write jobs carry no Python call site either;
4. ``unattributed`` otherwise.

Task metrics are summed per module. Python-worker metrics are read from
the task accumulator updates of ``MapInPandas`` plan nodes and keyed by
the module and the name of the Python function the node runs.

    python3 perfbench/eventlog.py <event log file>

prints the per-module table of a whole log as JSON.
"""

from __future__ import annotations

import json
import re
import sys
from collections import defaultdict

SPARK_KEYS = ("run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "fetch_wait_s", "spill_bytes")
PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
_UDF_NAME = re.compile(r"^MapInPandas (\w+)\(")


def _walk_plan(node: dict, py_accums: dict[int, tuple[str, str]]) -> None:
    if node.get("nodeName") == "MapInPandas":
        m = _UDF_NAME.match(node.get("simpleString", ""))
        udf = m.group(1) if m else "?"
        for met in node.get("metrics", []):
            key = PY_METRICS.get(met["name"])
            if key:
                py_accums[met["accumulatorId"]] = (udf, key)
    for child in node.get("children", []):
        _walk_plan(child, py_accums)


def load(path: str) -> dict:
    """Parse the events the reducer needs."""
    jobs: dict[int, dict] = {}
    execs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    py_accums: dict[int, tuple[str, str]] = {}
    tasks: list[tuple[int, dict, list]] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith("SQLExecutionStart"):
                execs[e["executionId"]] = {
                    "root": e.get("rootExecutionId", e["executionId"]),
                    "group": e.get("jobGroupId"),
                    "description": e.get("description") or "",
                }
                _walk_plan(e["sparkPlanInfo"], py_accums)
            elif ev.endswith("SQLAdaptiveExecutionUpdate"):
                _walk_plan(e["sparkPlanInfo"], py_accums)
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                jobs[e["Job ID"]] = {
                    "submitted": e["Submission Time"] / 1000.0,
                    "group": props.get("spark.jobGroup.id"),
                    "execution": int(ex) if ex is not None else None,
                    "stage_names": [s["Stage Name"] for s in e["Stage Infos"]],
                }
                # a stage runs in the first job that lists it; later
                # jobs that reuse its shuffle output skip it
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
            elif ev == "SparkListenerTaskEnd":
                info = e.get("Task Info") or {}
                tasks.append((e["Stage ID"], e.get("Task Metrics") or {},
                              info.get("Accumulables") or []))
    return {"jobs": jobs, "execs": execs, "stage_job": stage_job,
            "py_accums": py_accums, "tasks": tasks}


def job_module(job: dict, execs: dict) -> str:
    if job["group"]:
        return job["group"]
    ex = execs.get(job["execution"])
    if ex is not None:
        root = execs.get(ex["root"], ex)
        for cand in (ex, root):
            if cand["group"]:
                return cand["group"]
    texts = job["stage_names"] + ([ex["description"]] if ex else [])
    if any(t.startswith("parquet at") for t in texts):
        return "sources.storage"
    return "unattributed"


def _in(t: float, windows) -> bool:
    return windows is None or any(a <= t <= b for a, b in windows)


def reduce(log: dict, windows=None) -> dict:
    """Per-module Spark work of the jobs submitted inside ``windows``
    (a list of (start, end) epoch seconds; None = the whole log)."""
    jobs, execs = log["jobs"], log["execs"]
    mod_of = {
        jid: job_module(j, execs)
        for jid, j in jobs.items() if _in(j["submitted"], windows)
    }
    spark: dict[str, dict] = defaultdict(lambda: dict.fromkeys(SPARK_KEYS, 0.0))
    python: dict[tuple[str, str], dict] = defaultdict(
        lambda: dict.fromkeys(PY_METRICS.values(), 0.0))
    n_jobs: dict[str, int] = defaultdict(int)
    for mod in mod_of.values():
        n_jobs[mod] += 1
    for stage_id, tm, accs in log["tasks"]:
        mod = mod_of.get(log["stage_job"].get(stage_id))
        if mod is None:
            continue
        row = spark[mod]
        row["run_s"] += tm.get("Executor Run Time", 0) / 1e3
        row["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        row["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        sr = tm.get("Shuffle Read Metrics") or {}
        row["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
        row["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        sw = tm.get("Shuffle Write Metrics") or {}
        row["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        row["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        for a in accs:
            hit = log["py_accums"].get(a.get("ID"))
            if hit is None or a.get("Update") is None:
                continue
            udf, key = hit
            val = float(a["Update"])
            python[(mod, udf)][key] += val / 1e3 if key.endswith("_s") else val
    return {
        "spark": dict(spark),
        "python": {f"{m}:{u}": v for (m, u), v in python.items()},
        "jobs": dict(n_jobs),
    }


def jobs_in(log: dict, windows) -> int:
    """Jobs submitted inside any of ``windows``, from any thread."""
    return sum(_in(j["submitted"], windows) for j in log["jobs"].values())


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: python3 perfbench/eventlog.py <event log file>")
    print(json.dumps(reduce(load(sys.argv[1])), indent=1, sort_keys=True))
