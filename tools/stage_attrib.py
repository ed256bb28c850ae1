#!/usr/bin/env python3
"""Attribute the completed stages of a Spark event log to job groups and SQL executions.

    python3 tools/stage_attrib.py EVENT_LOG_DIR [--group REGEX] [--stages]

EVENT_LOG_DIR is a rolling event log directory (`eventlog_v2_*`), which
Spark 4 writes by default; its zstd-compressed `events_<n>_*` files are
read in order, each through the `zstd` command. Each completed stage
counts once, under the job that first listed it, as the engine's
perfbench recorder counts them; skipped and failed stages do not count.

The output lists, per job group in order of first appearance, one line
per SQL execution (its id, completed stages, tasks and description) and
the group's total. `--group` keeps the groups whose id matches REGEX
(Python `re.search`); jobs without a group are listed under `-`.
`--stages` also lists each completed stage under its SQL execution: its
id, task count and RDDs in RDD id order, each as `name[operator scope]`
(e.g. `FileScanRDD[Scan parquet]`, `x3` for three in a row): the first
two, which show what it reads, and the last three, which show what it
makes. That tells a broadcast build (ending in
`MapPartitionsRDD[BroadcastExchange]`), a range-bounds sample (ending in
`MapPartitionsRDD[Exchange] x3`) and a shuffle map (ending in one
`MapPartitionsRDD[Exchange]`) apart.

To get a log from the benchmark harness without editing it, pass Spark
confs through the JVM, e.g.

    mkdir -p /tmp/evlog
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/tmp/evlog" \\
      python3 perfbench/run.py --workload cdc_warm --seed 1 --seconds 10 --trace 1
    python3 tools/stage_attrib.py /tmp/evlog/eventlog_v2_* --group '^pb\\|'
"""
import argparse
import json
import os
import re
import subprocess
import sys
from collections import OrderedDict


def events(log_dir):
    """The events of a rolling log directory, its files decompressed in index order."""
    parts = []
    for name in os.listdir(log_dir):
        m = re.match(r"events_(\d+)_", name)
        if m:
            parts.append((int(m.group(1)), os.path.join(log_dir, name)))
    if not parts:
        sys.exit(f"stage_attrib: {log_dir}: no events_<n>_* files")
    for _, path in sorted(parts):
        out = subprocess.run(["zstd", "-dc", path], check=True, stdout=subprocess.PIPE).stdout
        for line in out.decode("utf-8").splitlines():
            if line.strip():
                yield json.loads(line)


def rdd_label(rdd):
    """An RDD as `name[scope]`, the scope being the operator that made it."""
    try:
        scope = json.loads(rdd.get("Scope") or "{}").get("name", "").strip()
    except ValueError:
        scope = ""
    name = (rdd.get("Name") or "?").splitlines()[0][:40]
    return f"{name}[{scope}]" if scope else name


def lineage(rdds, head=2, tail=3):
    """The stage's RDD labels in id order, runs counted, cut to its ends."""
    runs = []  # [label, count]
    for r in sorted(rdds, key=lambda r: r.get("RDD ID", 0)):
        label = rdd_label(r)
        if runs and runs[-1][0] == label:
            runs[-1][1] += 1
        else:
            runs.append([label, 1])
    labels = [label if n == 1 else f"{label} x{n}" for label, n in runs]
    if len(labels) > head + tail:
        labels = labels[:head] + ["..."] + labels[-tail:]
    return " > ".join(labels)


def attribute(events):
    """(groups, descriptions, stages).

    groups: group -> OrderedDict(sql id -> [stages, tasks]); descriptions:
    sql id -> text; stages: (group, sql id) -> [(stage id, tasks, lineage)].
    """
    stage_job = {}   # stage id -> (group, sql id), from the first job listing it
    groups = OrderedDict()
    sql_desc = {}
    stages = {}
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or "-"
            sql = props.get("spark.sql.execution.id")
            groups.setdefault(group, OrderedDict())
            for s in e.get("Stage IDs", []):
                stage_job.setdefault(s, (group, sql))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info.get("Failure Reason") is not None:
                continue
            group, sql = stage_job.get(info["Stage ID"], ("-", None))
            acc = groups.setdefault(group, OrderedDict()).setdefault(sql, [0, 0])
            acc[0] += 1
            acc[1] += info.get("Number of Tasks", 0)
            stages.setdefault((group, sql), []).append(
                (info["Stage ID"], info.get("Number of Tasks", 0),
                 lineage(info.get("RDD Info", []))))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql_desc[str(e.get("executionId"))] = e.get("description", "")
    return groups, sql_desc, stages


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("event_log_dir")
    ap.add_argument("--group", help="keep job groups whose id matches this regex")
    ap.add_argument("--stages", action="store_true",
                    help="list each stage under its SQL execution: id, tasks, its RDD lineage's ends")
    a = ap.parse_args()
    groups, sql_desc, per_stage = attribute(events(a.event_log_dir))
    keep = re.compile(a.group) if a.group else None
    all_stages = all_tasks = 0
    for group, per_sql in groups.items():
        if keep and not keep.search(group):
            continue
        stages = sum(v[0] for v in per_sql.values())
        tasks = sum(v[1] for v in per_sql.values())
        if stages == 0:
            continue
        all_stages += stages
        all_tasks += tasks
        print(group)
        for sql, (s, t) in per_sql.items():
            if s == 0:
                continue
            label = "sql -" if sql is None else f"sql {sql}"
            desc = " ".join(sql_desc.get(str(sql), "").split())[:80]
            print(f"  {label:>9}  {s:3d} stages {t:5d} tasks  {desc}")
            if a.stages:
                for sid, n, rdds in sorted(per_stage.get((group, sql), [])):
                    print(f"  {'':>9}    stage {sid:5d} {n:4d} tasks  {rdds}")
        print(f"  {'total':>9}  {stages:3d} stages {tasks:5d} tasks")
    print(f"all: {all_stages} stages, {all_tasks} tasks")


if __name__ == "__main__":
    main()
