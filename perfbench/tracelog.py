"""Per-layer metrics of a traced run, from Spark's own event log, the
Catalyst phase records of perfbench.PhaseListener and the harness's spans
around each call into graft.

Every job, task, AQE update, Catalyst phase and streaming progress report is
attributed to the timed operation whose wall-clock span contains its start;
events outside the timed window (session start, warm-up) are ignored. Spans
are epoch milliseconds, the clock the event log and the phase records use
too.

Three checks reconcile these sources with each other; a traced run that
fails one reports correct: false (see checks_pass):
- every job that starts inside the timed window starts and ends inside
  exactly one operation's span (`trace.unattributed_jobs` must be 0);
- for every write, the wall time of its final stage plus its commit time
  fits inside the write span (`trace.sink_overruns` must be 0);
- for every export, the layers measured apart (view registration from the
  harness, Catalyst phases from the trackers, job intervals and the commit
  from the event log) add up to no more than its wall time: any overlap
  between them, which a wrong attribution or clock would cause, stays
  within RECONCILE_FRACTION of it (`trace.layer_overlap_max`).
What the layers leave uncovered of an export's wall time is reported as
`trace.unexplained_max`: AQE re-planning and stage scheduling between the
jobs of a write, the writer's set-up before its first job, and the harness's
own calls.
"""
import glob
import json
import os
from datetime import datetime

from compare import driver_gap, percentile, union_length
from workloads import OPERATORS

# overlap between an export's separately measured layers, as a fraction of
# its wall time, above which the run fails its reconciliation
RECONCILE_FRACTION = 0.10
# clock granularity allowed when one span must fit inside another, ms
SLACK_MS = 2.0


def _units(unit, *names):
    return [(n, unit) for n in names]


# (name, unit) of every per-layer metric, in report order
LAYER_METRICS = (
    _units("s", "sources.register_s") + _units("count", "sources.register_calls", "sources.jobs")
    + _units("s", "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s")
    + _units("count", "catalyst.aqe_updates", "codegen.compiles")
    + _units("s", "codegen.compile_s")
    + _units("count", "exec.jobs", "exec.stages", "exec.tasks")
    + _units("s", "exec.job_busy_s", "exec.driver_gap_s", "exec.task_run_s",
             "exec.task_cpu_s", "exec.task_gc_s", "exec.task_wait_s")
    + _units("bytes", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes")
    + _units("count", "exec.task_retries")
    + _units("s", "sinks.write_s", "sinks.writer_task_s", "sinks.commit_s")
    + _units("count", "sinks.rows_written") + _units("bytes", "sinks.bytes_written")
    + _units("count", "sinks.files_written")
    + _units("s", "operators.build_s", "operators.run_s",
             *[f"operators.{code}_s" for code in OPERATORS])
    + _units("count", "ckpt.pin_jobs") + _units("s", "ckpt.pin_s")
    + _units("s", "streaming.family_s") + _units("count", "streaming.batches")
    + _units("ms", "streaming.trigger_p50_ms")
    + _units("s", "streaming.add_batch_s", "streaming.query_planning_s",
             "streaming.wal_commit_s", "streaming.commit_offsets_s")
    + _units("count", "streaming.compiles")
    + _units("MB", "driver.peak_rss_mb")
    + _units("s", "trace.op_p50_s", "trace.pass_s")
    + _units("fraction", "trace.unexplained_max", "trace.layer_overlap_max")
    + _units("count", "trace.unattributed_jobs", "trace.sink_overruns"))

_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def read_event_log(directory):
    """Jobs, stage walls, tasks, AQE-update times and streaming progress of
    the one application logged under `directory`."""
    files = [f for f in glob.glob(os.path.join(directory, "*")) if not f.endswith(".crc")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log under {directory}, found {files}")
    jobs, stage_job, stages, tasks, sql_start, aqe, progress = {}, {}, {}, [], {}, [], []
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                names = [s["Stage Name"] for s in e["Stage Infos"]]
                jobs[e["Job ID"]] = {"start": e["Submission Time"], "end": None,
                                     "stages": set(e["Stage IDs"]), "names": names}
                for s in e["Stage IDs"]:
                    stage_job[s] = e["Job ID"]
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if info.get("Submission Time") and info.get("Completion Time"):
                    stages[info["Stage ID"]] = (info["Submission Time"], info["Completion Time"])
            elif ev == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                out = m.get("Output Metrics", {})
                tasks.append({
                    "stage": e["Stage ID"],
                    "retry": info["Attempt"] > 0 or info["Failed"] or info["Killed"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "rows_out": out.get("Records Written", 0),
                    "bytes_out": out.get("Bytes Written", 0)})
            elif ev == _SQL_START:
                sql_start[e["executionId"]] = e["time"]
            elif ev == _AQE:
                aqe.append(e["executionId"])
            elif ev == _PROGRESS:
                p = e["progress"]
                ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
                progress.append({"t": ts.timestamp() * 1000.0, "ms": p["durationMs"]})
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    aqe_times = [sql_start[x] for x in aqe if x in sql_start]
    return jobs, stages, tasks, aqe_times, progress


def _inside(t, span):
    return span[0] <= t <= span[1]


def _clip(intervals, span):
    return [(max(s, span[0]), min(e, span[1])) for s, e in intervals]


def unattributed_jobs(job_walls, spans):
    """Jobs, as (start, end or None), that start inside [first span start,
    last span end] but do not start and end inside exactly one of `spans`."""
    lo, hi = min(s for s, _ in spans), max(e for _, e in spans)
    return sum(1 for s, e in job_walls
               if lo <= s <= hi and sum(_inside(s, sp) and e is not None
                                        and e <= sp[1] + SLACK_MS for sp in spans) != 1)


def sink_overrun(write, final_stage, last_job_end):
    """True when a write's final stage plus its commit (the time from its last
    job's end to the write's return) does not fit inside the write span."""
    commit = write[1] - last_job_end
    stage = final_stage[1] - final_stage[0]
    return commit < -SLACK_MS or stage + max(commit, 0.0) > write[1] - write[0] + SLACK_MS


def layer_metrics(log_dir, ops, op_p50_s, pass_s, phase_records):
    """Per-layer metrics, summed over the timed operations `ops` that
    succeeded (harness records, see run.py), and the listener's
    `phase_records`; `op_p50_s` and `pass_s` are the traced run's own, as
    measured. Returns
    (metrics, reconciliation checks)."""
    jobs, stages, tasks, aqe_times, progress = read_event_log(log_dir)
    m = {k: 0.0 for k, _ in LAYER_METRICS}
    checks = {"unexplained_max": 0.0, "layer_overlap_max": 0.0, "sink_overruns": 0,
              "unattributed_jobs": unattributed_jobs(
                  [(v["start"], v["end"]) for v in jobs.values()],
                  [(o["start"], o["end"]) for o in ops])}
    ops = [o for o in ops if o["ok"]]
    done_jobs = {j: v for j, v in jobs.items() if v["end"] is not None}

    def jobs_in(span):
        return [j for j, v in done_jobs.items() if _inside(v["start"], span)]

    def tasks_of(job_ids):
        ids = set(job_ids)
        return [t for t in tasks if t["job"] in ids]

    batches = []
    for op in ops:
        span = (op["start"], op["end"])
        wall_ms = span[1] - span[0]
        op_jobs = jobs_in(span)
        intervals = _clip([(done_jobs[j]["start"], done_jobs[j]["end"]) for j in op_jobs], span)
        m["exec.jobs"] += len(op_jobs)
        m["exec.stages"] += sum(len(done_jobs[j]["stages"]) for j in op_jobs)
        m["exec.job_busy_s"] += union_length(intervals) / 1000.0
        m["exec.driver_gap_s"] += driver_gap(span[0], span[1], intervals) / 1000.0
        for t in tasks_of(op_jobs):
            m["exec.tasks"] += 1
            m["exec.task_run_s"] += t["run_ms"] / 1000.0
            m["exec.task_cpu_s"] += t["cpu_ns"] / 1e9
            m["exec.task_gc_s"] += t["gc_ms"] / 1000.0
            m["exec.task_wait_s"] += max(0.0, t["run_ms"] / 1000.0 - t["cpu_ns"] / 1e9)
            m["exec.shuffle_read_bytes"] += t["shuffle_read"]
            m["exec.shuffle_write_bytes"] += t["shuffle_write"]
            m["exec.spill_bytes"] += t["spill"]
            m["exec.task_retries"] += t["retry"]
        for j in op_jobs:
            if any("checkpoint" in n.lower() for n in done_jobs[j]["names"]):
                m["ckpt.pin_jobs"] += 1
                m["ckpt.pin_s"] += (done_jobs[j]["end"] - done_jobs[j]["start"]) / 1000.0
        m["catalyst.aqe_updates"] += sum(_inside(t, span) for t in aqe_times)
        m["codegen.compiles"] += op["compiles"]
        m["codegen.compile_s"] += op["compile_ns"] / 1e9

        # the Dataset's own parsing and analysis, plus every executed query's
        # phases; nested executions overlap, so each phase kind is a union.
        # The queries an export's view registration runs count to sources.
        own = (op["register"][1], span[1]) if op["kind"] == "export" else span
        phases = op.get("phases", []) + [p for p in phase_records if _inside(p[1], own)]
        by_kind = {k: _clip([(s, e) for name, s, e in phases if name in names], span)
                   for k, names in (("analysis", ("parsing", "analysis")),
                                    ("optimization", ("optimization",)),
                                    ("planning", ("planning",)))}
        for k, iv in by_kind.items():
            m[f"catalyst.{k}_s"] += union_length(iv) / 1000.0

        commits = []
        for w in op["writes"]:
            wjobs = jobs_in(w)
            m["sinks.write_s"] += (w[1] - w[0]) / 1000.0
            if not wjobs:
                checks["sink_overruns"] += 1  # a write that ran no job
                continue
            last = max(wjobs, key=lambda j: done_jobs[j]["end"])
            end = done_jobs[last]["end"]
            commits.append((end, w[1]))
            m["sinks.commit_s"] += max(0.0, w[1] - end) / 1000.0
            ran = [s for s in done_jobs[last]["stages"] if s in stages]
            final_stage = max(ran) if ran else None
            m["sinks.writer_task_s"] += sum(
                t["run_ms"] for t in tasks if t["stage"] == final_stage) / 1000.0
            if final_stage is None or sink_overrun(w, stages[final_stage], end):
                checks["sink_overruns"] += 1
            for t in tasks_of(wjobs):
                m["sinks.rows_written"] += t["rows_out"]
                m["sinks.bytes_written"] += t["bytes_out"]
        m["sinks.files_written"] += op["files"]

        if op["kind"] == "export":
            reg = op["register"]
            m["sources.register_s"] += (reg[1] - reg[0]) / 1000.0
            m["sources.register_calls"] += 1
            m["sources.jobs"] += len(jobs_in(reg))
            # the jobs that view registration runs count to sources
            query_jobs = _clip([(done_jobs[j]["start"], done_jobs[j]["end"])
                                for j in jobs_in(own)], span)
            layers = ([reg[1] - reg[0]] + [union_length(v) for v in by_kind.values()]
                      + [union_length(query_jobs)] + [e - s for s, e in commits])
            covered = union_length(
                [reg] + [iv for v in by_kind.values() for iv in v] + query_jobs + commits)
            w = max(wall_ms, 1e-9)
            checks["unexplained_max"] = max(checks["unexplained_max"], (wall_ms - covered) / w)
            checks["layer_overlap_max"] = max(checks["layer_overlap_max"],
                                              (sum(layers) - covered) / w)
        elif op["kind"] == "operator":
            m["operators.build_s"] += op["build_ms"] / 1000.0
            m["operators.run_s"] += op["run_ms"] / 1000.0
            m[f"operators.{op['name']}_s"] += wall_ms / 1000.0
        else:
            m["streaming.family_s"] += wall_ms / 1000.0
            m["streaming.compiles"] += op["compiles"]
            batches += [p for p in progress if _inside(p["t"], span)]

    m["streaming.batches"] = len(batches)
    if batches:
        m["streaming.trigger_p50_ms"] = percentile(
            [p["ms"].get("triggerExecution", 0) for p in batches], 50)
    for key, name in (("addBatch", "add_batch_s"), ("queryPlanning", "query_planning_s"),
                      ("walCommit", "wal_commit_s"), ("commitOffsets", "commit_offsets_s")):
        m[f"streaming.{name}"] = sum(p["ms"].get(key, 0) for p in batches) / 1000.0
    m["trace.op_p50_s"] = op_p50_s
    m["trace.pass_s"] = pass_s
    for k in checks:
        m[f"trace.{k}"] = checks[k]
    return m, checks


def checks_pass(checks):
    return (checks["unattributed_jobs"] == 0 and checks["sink_overruns"] == 0
            and checks["layer_overlap_max"] <= RECONCILE_FRACTION)
