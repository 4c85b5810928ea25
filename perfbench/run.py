#!/usr/bin/env python3
"""graft benchmark: one closed-loop client driving graft's public entry
points from a PySpark driver, with the compiled classes on its class path.

    python3 perfbench/run.py --workload adhoc_export --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run builds graft with sbt and
writes the corpus, and the first traced run compiles perfbench/jvm; all are
cached under perfbench/.work. The last line of
standard output is the JSON result; the lines before it name every metric
with its unit. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

T_LAUNCH = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import calib  # noqa: E402
import compare  # noqa: E402
import corpus  # noqa: E402
import tracelog  # noqa: E402
import workloads  # noqa: E402

# scale factor of each workload's corpus. The operators and the streaming
# family are bound by per-job and per-batch overhead, not by data volume
# (the family takes ~30 s at sf0.01 and ~40 s at sf0.1 on 4 cores), and
# sf0.01 keeps a run inside the benchmark's time budget.
CORPUS_SF = {"adhoc_export": 0.1, "operator_pipeline": 0.01}
WORKLOADS = tuple(CORPUS_SF)
# A run's timed work is a fixed number of passes, round(--seconds / these
# nominal lengths), never a number set by how fast the host runs. At
# --seconds 8: three adhoc_export passes, and two operator_pipeline rounds,
# so that each operator runs both first and last (see OperatorOrder).
NOMINAL_PASS_S = {"adhoc_export": 2.5, "operator_pipeline": 4.0}
DRIVER_MEMORY = "3g"
PHASES = ("parsing", "analysis", "optimization", "planning")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    files += sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build_listener():
    """Compile the traced run's query-execution listener (perfbench/jvm)
    against PySpark's jars; return its classes directory."""
    import pyspark
    src = os.path.join(HERE, "jvm", "perfbench", "PhaseListener.java")
    out = os.path.join(WORK, "jvm")
    stamp = os.path.join(out, "source.sha256")
    with open(src, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return out
    shutil.rmtree(out, ignore_errors=True)
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    subprocess.run(["javac", "-nowarn", "-cp", jars, "-d", out, src], check=True,
                   stdout=sys.stderr, timeout=300)
    with open(stamp, "w") as f:
        f.write(digest)
    return out


def build():
    """Compile graft's main classes once per source state; return the
    classes directory."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit(f"perfbench: no graft sources (build.sbt, src/main/scala) under {ROOT}")
    classes = os.path.join(ROOT, "target", "scala-2.13", "classes")
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    log("building graft with sbt")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=ROOT,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0 or not os.path.isdir(classes):
        raise SystemExit("perfbench: sbt compile failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


# ---------------------------------------------------------------- spark

class Graft:
    """One Spark session and handles on graft's entry points."""

    def __init__(self, classes, event_log=None, listener=None):
        from pyspark.sql import SparkSession
        n = str(os.cpu_count())
        tmp = os.path.join(WORK, "tmp")
        b = (SparkSession.builder.master(f"local[{n}]").appName("perfbench")
             # graft.Bench's session confs
             .config("spark.sql.shuffle.partitions", n)
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", DRIVER_MEMORY)
             .config("spark.driver.extraClassPath",
                     classes + (os.pathsep + listener if listener else ""))
             # keep every file the run writes inside the checkout
             .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
             .config("spark.local.dir", tmp)
             .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
             .config("spark.eventLog.enabled", str(bool(event_log)).lower()))
        if event_log:
            b = (b.config("spark.eventLog.dir", event_log)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false")
                 .config("spark.sql.queryExecutionListeners", "perfbench.PhaseListener"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark._jvm
        self.js = self.spark._jsparkSession
        self.engine = self.jvm.graft.Engine
        self.sinks = self.jvm.graft.sinks.Sinks
        self.entry = self.jvm.graft.SparkEntry
        self.names = {}  # registry short code -> full query name
        it = self.entry.queries().keys().iterator()
        while it.hasNext():
            name = it.next()
            self.names[name.split("_")[0]] = name

    def query(self, code):
        """SparkEntry.queries' function for a registry short code."""
        return self.entry.queries().apply(self.names[code])

    def oracle_sql(self, code):
        return self.entry.oracleSql().apply(self.names[code])

    def compile_counters(self):
        """(janino compiles so far, their total compile time in ns)."""
        return (self.jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME().getCount(),
                self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
                .compileTime())

    def write_dir(self, df, path):
        self.sinks.writeDir(df, path, self.sinks.fromPath("x.parquet"),
                            getattr(self.sinks, "writeDir$default$4")())

    def peak_rss_mb(self):
        """The driver JVM's VmHWM."""
        pid = self.jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def phase_records(self):
        """Catalyst phases of every query execution run so far, as
        (phase, start ms, end ms), once the listener bus has delivered them."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        out = []
        for line in self.jvm.perfbench.PhaseListener.drain().splitlines():
            name, start, end = line.split(",")
            out.append((name, float(start), float(end)))
        return out

    def stop(self):
        self.spark.stop()


def shutdown_gateway():
    """Stop the driver JVM that PySpark launched and wait until it exits."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- workloads

def n_files(path):
    if os.path.isfile(path):
        return 1
    return len([f for f in os.listdir(path) if f.startswith("part-")])


def tracker_phases(df):
    """The Catalyst phases a Dataset's own planning tracker has recorded, as
    (phase, start ms, end ms)."""
    phases = df.queryExecution().tracker().phases()
    out = []
    for k in PHASES:
        if phases.contains(k):
            p = phases.apply(k)
            out.append((k, float(p.startTimeMs()), float(p.endTimeMs())))
    return out


class AdhocExport:
    """Distinct small-result verbatim-SQL exports through Engine.export."""

    checked = ()  # registry oracles it needs: none, DuckDB runs the same SQL

    def __init__(self, seed, corpus_dir, out_dir):
        self.url = "parquet://" + corpus_dir
        self.out_dir = out_dir
        self.timed = workloads.AdhocStream(seed)
        # warm-up literals come from their own stream; a repeat of a timed
        # query would only hit the codegen cache harder
        self.warm = workloads.AdhocStream(-seed - 1)
        self.n = 0
        self.done = []  # (sql, output path, ok)

    def warm_up(self, g):
        for _, sql, fmt in self.warm.next_pass():
            self._export(g, sql, fmt, traced=False)

    def timed_pass(self, g, traced):
        return [self._export(g, sql, fmt, traced, template)
                for template, sql, fmt in self.timed.next_pass()]

    def after_passes(self, g, traced):
        return []

    def _export(self, g, sql, fmt, traced, name="warm"):
        self.n += 1
        out = os.path.join(self.out_dir, f"{self.n}.{fmt}")
        op = {"kind": "export", "name": name, "ok": True, "files": 1, "writes": []}
        c0 = g.compile_counters() if traced else None
        op["start"] = time.time() * 1000
        try:
            if traced:
                # Engine.export is Sinks.writeSingleFile(Engine.query(..));
                # the same two public calls, one span each
                df = g.engine.query(g.js, self.url, sql)
                t1 = time.time() * 1000
                g.sinks.writeSingleFile(df, out)
                op["writes"] = [(t1, time.time() * 1000)]
            else:
                g.engine.export(g.js, self.url, sql, out)
        except Exception as e:  # noqa: BLE001 - a failed export is a failed operation
            log(f"export failed: {str(e).splitlines()[0][:200]}")
            op["ok"] = False
        op["end"] = time.time() * 1000
        if traced:
            c1 = g.compile_counters()
            op["compiles"], op["compile_ns"] = c1[0] - c0[0], c1[1] - c0[1]
            if op["ok"]:
                op["phases"] = tracker_phases(df)
                # Engine.query registers the views, then spark.sql parses
                parse = [s for k, s, _ in op["phases"] if k == "parsing"]
                op["register"] = (op["start"], parse[0] if parse else t1)
        self.done.append((sql, out, op["ok"]))
        return op

    def verify(self, duck, oracles):
        """Read every exported file back and compare it with DuckDB running
        the same SQL on the same parquet files."""
        failed = 0
        for sql, out, ok in self.done:
            if not ok:
                continue
            try:
                rel = duck.sql(sql)
                expected = (rel.columns, rel.fetchall())
                same, why = compare.same_result(compare.read_export(out, duck), expected)
            except Exception as e:  # noqa: BLE001
                same, why = False, str(e).splitlines()[0][:200]
            if not same:
                failed += 1
                log(f"MISMATCH {os.path.basename(out)}: {why}\n  {sql}")
        return failed


class OperatorPipeline:
    """Registry operators through SparkEntry.queries, written with
    Sinks.writeDir, then the concurrent streaming family."""

    checked = workloads.OPERATORS + workloads.STREAM_FAMILY

    def __init__(self, seed, corpus_dir, out_dir):
        self.corpus = corpus_dir
        self.out_dir = out_dir
        self.order = workloads.OperatorOrder(seed)
        self.n = 0
        self.done = []  # (code, output dir)

    def warm_up(self, g):
        # StatefulProbe loads the micro-batch planner, state store and
        # offset-log classes, the way graft.Bench warms up; one untimed round
        # of the operators takes their first calls' one-time costs, which
        # would otherwise land on whichever operator the seed puts first
        g.jvm.graft.tools.StatefulProbe.run(g.js)
        for code in workloads.OPERATORS:
            g.write_dir(g.query(code).apply(g.js, self.corpus),
                        os.path.join(self.out_dir, "warm", code))

    def timed_pass(self, g, traced):
        self.n += 1
        return [self._run(g, code, traced) for code in self.order.next_round()]

    def after_passes(self, g, traced):
        return [self._run(g, "stfamily", traced)]

    def _run(self, g, code, traced):
        members = workloads.STREAM_FAMILY if code == "stfamily" else (code,)
        kind = "family" if code == "stfamily" else "operator"
        op = {"kind": kind, "name": code, "ok": True, "writes": [], "files": 0,
              "build_ms": 0.0, "run_ms": 0.0}
        c0 = g.compile_counters() if traced else None
        op["start"] = time.time() * 1000
        try:
            for member in members:
                out = os.path.join(self.out_dir, f"p{self.n}", member)
                t0 = time.time() * 1000
                df = g.query(member).apply(g.js, self.corpus)
                t1 = time.time() * 1000
                g.write_dir(df, out)
                t2 = time.time() * 1000
                op["build_ms"] += t1 - t0
                op["run_ms"] += t2 - t1
                op["writes"].append((t1, t2))
                op["files"] += n_files(out)
                self.done.append((member, out))
        except Exception as e:  # noqa: BLE001
            log(f"{code} failed: {str(e).splitlines()[0][:200]}")
            op["ok"] = False
        op["end"] = time.time() * 1000
        if traced:
            c1 = g.compile_counters()
            op["compiles"], op["compile_ns"] = c1[0] - c0[0], c1[1] - c0[1]
        return op

    def verify(self, duck, oracles):
        """Compare every output with its SparkEntry.oracleSql twin run by
        DuckDB, by check.py's rule: columns matched by name, rows compared
        as multisets of exact values."""
        failed = 0
        for member, out in self.done:
            try:
                rel = duck.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')")
                same, why = compare.same_result((rel.columns, rel.fetchall()),
                                                oracle_result(duck, oracles[member], self.corpus))
            except Exception as e:  # noqa: BLE001
                same, why = False, str(e).splitlines()[0][:200]
            if not same:
                failed += 1
                log(f"MISMATCH {member}: {why}")
        return failed


def oracle_result(duck, sql, corpus_dir):
    """DuckDB's normalised (columns, rows) for `sql`, kept inside the corpus
    directory: gr1's oracle alone takes about 14 s at sf0.01 on 4 cores, and
    the corpus is written once and never changes. A rewritten corpus starts
    with an empty cache, because corpus.ensure replaces the whole directory."""
    path = os.path.join(corpus_dir, "_oracle",
                        hashlib.sha256(sql.encode()).hexdigest()[:32] + ".json")
    if not os.path.exists(path):
        rel = duck.sql(sql)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(compare.normalise(rel.columns, rel.fetchall()), f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        cols, rows = json.load(f)
    return cols, [tuple(r) for r in rows]


def duckdb_on(corpus_dir):
    import duckdb
    duck = duckdb.connect()
    for t in corpus.TABLES:
        duck.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
    return duck


# ---------------------------------------------------------------- main

def measure(a, classes, listener, wl, log_dir, prep, ref):
    """Set up once, in a fresh driver JVM (launch, session, warm-up), then run
    the fixed number of timed passes. Set-up counts from process launch,
    minus the one-time build and corpus preparation `prep`. The reference
    load runs before every pass and after the last operation, and its job
    times are added to `ref`."""
    g = Graft(classes, log_dir if a.trace else None, listener if a.trace else None)
    wl.warm_up(g)
    setup = time.time() - T_LAUNCH - prep
    oracles = {code: g.oracle_sql(code) for code in wl.checked}
    wl.done.clear()  # only the timed operations are checked and counted

    ops, passes = [], []
    for _ in range(max(1, round(a.seconds / NOMINAL_PASS_S[a.workload]))):
        ref += calib.reference_jobs(os.cpu_count())
        p0 = time.time()
        ops += wl.timed_pass(g, traced=bool(a.trace))
        passes.append(time.time() - p0)
    ops += wl.after_passes(g, traced=bool(a.trace))
    ref += calib.reference_jobs(os.cpu_count())
    phases = g.phase_records() if a.trace else []
    rss = g.peak_rss_mb()
    g.stop()
    return setup, ops, passes, rss, oracles, phases


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t_prep = time.time()
    classes = build()
    listener = build_listener() if a.trace else None
    tmp = os.path.join(WORK, "tmp")
    out_dir = os.path.join(WORK, "out")
    log_dir = os.path.join(WORK, "eventlog")
    for d in (tmp, out_dir, log_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    sf = CORPUS_SF[a.workload]
    corpus_dir = corpus.ensure(os.path.join(WORK, f"corpus-sf{sf}"), sf)
    wl = (AdhocExport if a.workload == "adhoc_export" else OperatorPipeline)(
        a.seed, corpus_dir, out_dir)
    duck = duckdb_on(corpus_dir)
    ref = calib.reference_jobs(os.cpu_count())
    prep = time.time() - t_prep

    try:
        setup, ops, passes, rss, oracles, phases = measure(a, classes, listener, wl, log_dir,
                                                           prep, ref)
    finally:
        shutdown_gateway()
    ref_job = compare.percentile(ref, 50)

    t_verify = time.time()
    failed = sum(not o["ok"] for o in ops)
    failed += wl.verify(duck, oracles)
    attempted = len(ops)
    t_verify = time.time() - t_verify
    lat = {o["name"]: [] for o in ops}
    for o in ops:
        lat[o["name"]].append((o["end"] - o["start"]) / 1000.0)
    # operator_pipeline's unit operation is one batch operator call, and a
    # pass of it is a round of the batch operators plus the streaming family
    unit = [(o["end"] - o["start"]) / 1000.0 for o in ops if o["kind"] != "family"]
    family = lat.get("stfamily", [0.0])[0]
    pass_s = compare.percentile(passes, 50) + family
    # op_p50_s: the median export; on operator_pipeline, the mean operator call
    # of the median round, so that every operator counts once however its
    # cost compares with the others'
    op_p50_s = (compare.percentile(passes, 50) / len(workloads.OPERATORS)
                if a.workload == "operator_pipeline" else compare.percentile(unit, 50))
    raw = {"setup_s": setup, "op_p50_s": op_p50_s, "pass_s": pass_s}

    if a.trace:
        # the harness's own records, beside the event log they are read with
        with open(os.path.join(WORK, "trace_ops.json"), "w") as f:
            json.dump({"ops": ops, "passes": passes, "phases": phases}, f)
        metrics, checks = tracelog.layer_metrics(log_dir, ops, raw["op_p50_s"], pass_s, phases)
        metrics["driver.peak_rss_mb"] = rss
        correct = failed == 0 and tracelog.checks_pass(checks)
        result = {k: {"value": metrics[k], "unit": u} for k, u in tracelog.LAYER_METRICS}
        log(f"reconciliation: {checks}")
    else:
        correct = failed == 0
        result = {k: {"value": v * calib.REF_JOB_S / ref_job, "unit": "s"} for k, v in raw.items()}
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: {attempted} operations "
          f"in {len(passes)} passes")
    print(f"  error_rate {failed / attempted:.4f} failed/attempted ({failed}/{attempted})")
    print(f"  set-up {setup:.3f} s, timed window {sum(passes) + family:.1f} s, "
          f"output check {t_verify:.1f} s, one-time preparation {prep:.1f} s")
    print("  median s per operation: " + " ".join(
        f"{k}={compare.percentile(v, 50):.3f}(n={len(v)})" for k, v in lat.items()))
    tail = compare.tail_percentile(len(unit))
    if tail is not None:
        print(f"  op_p{tail}_s {compare.percentile(unit, tail):.4f} s "
              f"(highest percentile with >=10 of {len(unit)} samples beyond)")
    else:
        print(f"  no tail percentile: {len(unit)} samples leave fewer than 10 beyond p1")
    if a.workload == "operator_pipeline":
        print(f"  ops_wall_s {compare.percentile(passes, 50):.4f} s (median round), "
              f"stream_family_s {family:.4f} s")
    if not a.trace:
        print(f"  peak_rss_mb {rss:.6g} MB (driver JVM VmHWM; not gated, traced as "
              "driver.peak_rss_mb)")
    print(f"  reference job {ref_job:.4f} s (median of {len(ref)}; {calib.REF_JOB_S} s on the "
          "reference host); as measured: " + " ".join(f"{k} {v:.4f} s" for k, v in raw.items()))
    for k, v in result.items():
        print(f"  {k} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": result}))


if __name__ == "__main__":
    main()
