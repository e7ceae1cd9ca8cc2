#!/usr/bin/env python3
"""Per-stage profile of a Spark application from its event log.

Reads an uncompressed Spark event log (one JSON event per line) and prints
one row per completed stage attempt, in completion order:

  exec    SQL execution id of the job that ran the stage (- if none)
  stage   stage id (.attempt when the stage was retried)
  tasks   number of tasks
  dur_ms  submission to completion, wall clock
  run_ms  executor run time summed over the stage's tasks
  in_rec  input records read (scans)
  sr_rec  shuffle records read
  sw_rec  shuffle records written
  name    the stage's call-site name

A final line sums every column over all stages.

Get a log from any JVM run without touching its code, e.g.

  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/tmp/ev \\
    -Dspark.eventLog.compress=false" python3 perfbench/run.py --workload neardup ...
  python3 tools/stagetimes.py /tmp/ev/*

Usage: stagetimes.py LOG [LOG ...]
LOG is a log file, or a rolling log's directory (eventlog_v2_*, the
default since Spark 4.0), whose events_<n>_* parts are read in order.
"""
import json
import os
import sys

METRICS = {
    "run_ms": "internal.metrics.executorRunTime",
    "in_rec": "internal.metrics.input.recordsRead",
    "sr_rec": "internal.metrics.shuffle.read.recordsRead",
    "sw_rec": "internal.metrics.shuffle.write.recordsWritten",
}
COLS = ["exec", "stage", "tasks", "dur_ms", "run_ms", "in_rec", "sr_rec", "sw_rec"]


def log_files(path):
    """A single-file log, or the events_<n>_* parts of a rolling log's
    directory in part order."""
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def events(paths):
    for path in paths:
        for f in log_files(path):
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        yield json.loads(line)


def stages(evs):
    """Completed stage attempts as dicts, with their SQL execution id."""
    exec_of_stage = {}
    for ev in evs:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id", "-")
            for sid in ev.get("Stage IDs", []):
                exec_of_stage[sid] = exec_id
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
            sid, attempt = info["Stage ID"], info.get("Stage Attempt ID", 0)
            submitted, completed = info.get("Submission Time"), info.get("Completion Time")
            row = {
                "exec": exec_of_stage.get(sid, "-"),
                "stage": f"{sid}.{attempt}" if attempt else str(sid),
                "tasks": info.get("Number of Tasks", 0),
                "dur_ms": completed - submitted if submitted and completed else 0,
                "name": info.get("Stage Name", ""),
            }
            for col, name in METRICS.items():
                row[col] = int(acc.get(name) or 0)
            yield row


def main(argv):
    if len(argv) < 2 or argv[1] in ("-h", "--help"):
        print(__doc__.strip())
        return 0 if len(argv) >= 2 else 2
    rows = list(stages(events(argv[1:])))
    print("\t".join(COLS + ["name"]))
    for r in rows:
        print("\t".join(str(r[c]) for c in COLS) + "\t" + r["name"])
    total = {c: sum(r[c] for r in rows) for c in COLS[2:]}
    print("\t".join(["total", str(len(rows))] + [str(total[c]) for c in COLS[2:]]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
