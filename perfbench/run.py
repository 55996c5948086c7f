"""Benchmark of the Excel → SQL → combine → export pipeline
(``QueryEngine.process_queries``) on generated workbooks.

    python3 perfbench/run.py --workload fanout_excel --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

One run of a workload, in one process:

1. generate the workbooks and the sqlite3 expected outputs from the seed
   (``workloads.py``, in a child process so its memory is not the
   driver's);
2. start a fresh JVM and session, and run the pipeline in it once, cold
   (``first_run_s``, what a CLI user pays per call, class loading and JIT
   included; printed and traced, but a single cold sample is too noisy to
   bound); then take ``SETUPS - 1`` more fresh set-ups in child processes
   (``setup_s``: median of all);
3. run the pipeline warm for ``--seconds`` (``run_s``: median wall of
   those runs);
4. check every (query × run) output against the oracle.

The session runs ``SPARK_THREADS`` task threads with ``JVM_OPTS`` (see
there): the measured runs are Spark's fixed per-job costs on small
inputs, and on a few shared cores those are steadiest with few threads.

With ``--trace 1`` the warm phase is split: untraced runs first, then
runs with spans around the package's calls and Spark's event log on
(``tracing.py``); the per-layer metrics and the per-label table come from
those.  The last stdout line is the JSON result; the lines before it
record the host, the inputs and a readable table.  All scratch files go
under ``.perfbench-work/`` at the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
sys.path.insert(0, ROOT)

from etl_excel_to_hyper_tableau_spark import Query, QueryBundle, QueryEngine, get_spark  # noqa: E402
import tracing  # noqa: E402
from oracle import check_outputs, match_of  # noqa: E402
from workloads import SHEET, WORKLOADS, file_names  # noqa: E402

# fresh JVM + session each; setup_s is their median.  Each costs 8-15 s,
# so two keep one benchmark run near a minute.  The first is the session
# the pipeline runs in; the others run in child processes after its cold
# first run, while it idles and its JIT compiles what that run queued.
# Without this pause the first warm run took 40-60 % longer than the next
# in 4 of 10 fanout_excel runs.
SETUPS = 2

# More task threads add no speed on these inputs, only contention with the
# JIT, the GC and the Python driver for a few shared cores.  C1-only JIT
# reaches its steady speed within the cold first run, so the timed runs sit
# on a plateau instead of on C2's minute-long warm-up slope, and serial GC
# adds no concurrent GC threads.
SPARK_THREADS = 2
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"

END_TO_END = {"setup_s": "s", "run_s": "s", "driver_rss_mb": "MB"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit, so the
    next set-up starts cold."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
            proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def temp_views(spark) -> int:
    return sum(1 for t in spark.catalog.listTables() if t.isTemporary)


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def output_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if not f.startswith((".", "_")))


def reference_run(in_dir: str, w) -> dict:
    """The reference's compute shape on the same files: pandas frames →
    stdlib sqlite3 ``to_sql`` → per-file SQL → pandas concat.  Parsing
    uses the engine's xlsx reader (openpyxl is absent), so the ratio to
    ``run_s`` isolates everything after parsing."""
    import sqlite3

    import pandas as pd
    from etl_excel_to_hyper_tableau_spark.sources import xlsx_io

    con = sqlite3.connect(":memory:")
    try:
        tables = {}
        for name in file_names(w):
            cols, rows = xlsx_io.read_sheet(os.path.join(in_dir, name), SHEET)
            tables[name] = f"t_{match_of(name)}"
            pd.DataFrame(rows, columns=cols).to_sql(tables[name], con, index=False)
        out = {}
        for qname, sql, pivot in w.queries:
            frames = {match_of(n): pd.read_sql_query(sql.replace("Sheet1.sheet", t), con)
                      for n, t in tables.items()}
            if pivot:
                out[qname] = pd.concat([f.assign(index=m) for m, f in frames.items()])
            else:
                out[qname] = pd.concat([f.add_prefix(f"{m}_") for m, f in frames.items()],
                                       axis=1)
        return out
    finally:
        con.close()


class Bench:
    def __init__(self, w, seed: int, seconds: float, trace: bool, work: str,
                 setups: int = SETUPS):
        self.w, self.seed, self.seconds, self.trace = w, seed, seconds, trace
        self.work, self.setups = work, setups
        self.event_dir = os.path.join(work, "events")
        self.in_dir = os.path.join(work, "in")
        self.export_dir = os.path.join(work, "out")
        self.cores = min(SPARK_THREADS, nproc())
        self.runs: list[dict] = []  # one record per process_queries call
        self.tracer = None

    # -- session ---------------------------------------------------------
    def conf(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # get_spark's 16g default exceeds what a shared host can give
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_OPTS}",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                # Spark 4 defaults to zstd rolling logs, unreadable with the stdlib
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def setup(self):
        """Start a fresh JVM and session; return it and the seconds from
        ``get_spark`` to the end of a first trivial job."""
        t0 = time.perf_counter()
        spark = get_spark(master=f"local[{self.cores}]", extra_conf=self.conf())
        spark.range(1).count()
        return spark, time.perf_counter() - t0

    # -- one pipeline run -------------------------------------------------
    def run_once(self, spark, phase: str) -> dict:
        bundle = QueryBundle(
            export_name=self.w.name, sink=self.w.sink,
            matches=[match_of(n) for n in file_names(self.w)], sheets=[SHEET],
            queries=[Query(n, sql, pivot) for n, sql, pivot in self.w.queries])
        engine = QueryEngine(spark, self.in_dir, [bundle], self.export_dir)
        views0 = temp_views(spark)
        load0 = os.getloadavg()[0]
        root = None
        c0, t0 = time.process_time(), time.perf_counter()
        try:
            if phase == "traced":
                with self.tracer.span("process_queries") as root:
                    out = engine.process_queries()
            else:
                out = engine.process_queries()
            error = None
        except Exception as e:  # a failed run counts every query as failed
            out, error = {}, f"{type(e).__name__}: {str(e)[:300]}"
        wall = time.perf_counter() - t0
        cpu = time.process_time() - c0
        path = out.get(self.w.name)
        try:
            checks = (check_outputs(self.expected, self.w.sink, path) if path
                      else {q: error or "no output" for q in self.expected})
        except Exception as e:  # an unreadable output fails every query
            checks = {q: f"unreadable output: {e!r}"[:300] for q in self.expected}
        rec = {"phase": phase, "wall_s": wall, "cpu_s": cpu,
               "why": {q: why for q, why in checks.items() if why},
               "views_leaked": temp_views(spark) - views0,
               "persisted_rdds": persisted_rdds(spark),
               "load": [load0, os.getloadavg()[0]],
               "bytes_out": output_bytes(path) if path else 0, "root": root}
        self.runs.append(rec)
        return rec

    # -- the whole run ------------------------------------------------------
    def prepare(self) -> None:
        """Generate the inputs and expected outputs in a child process."""
        subprocess.run(
            [sys.executable, os.path.join(HERE, "workloads.py"), "--workload", self.w.name,
             "--seed", str(self.seed), "--out", self.work],
            check=True, capture_output=True, text=True)

    def run_for(self, spark, phase: str, seconds: float) -> None:
        """Run the pipeline at least once, and again until ``seconds`` passed."""
        deadline = time.perf_counter() + seconds
        self.run_once(spark, phase)
        while time.perf_counter() < deadline:
            self.run_once(spark, phase)

    def child_setup(self) -> float:
        """One more fresh set-up, in a child process with its own JVM,
        while this session idles.  Without the event log, which would mix
        the child's jobs into the traced ones."""
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", self.w.name,
             "--seed", str(self.seed), "--setup-only", self.work],
            check=True, capture_output=True, text=True, timeout=150)
        return float(proc.stdout.splitlines()[-1])

    def measure(self) -> dict:
        with open(os.path.join(self.work, "expected.json")) as f:
            self.expected = json.load(f)
        inputs = {"files": self.w.files, "rows": self.w.files * self.w.rows,
                  "bytes": sum(os.path.getsize(os.path.join(self.in_dir, n))
                               for n in file_names(self.w))}
        for d in (self.event_dir, os.path.join(self.work, "tmp")):
            os.makedirs(d, exist_ok=True)
        spark = None
        try:
            spark, dt = self.setup()
            setups = [dt]
            self.run_once(spark, "first")
            setups += [self.child_setup() for _ in range(self.setups - 1)]
            self.run_for(spark, "warm", self.seconds / 2 if self.trace else self.seconds)
            if self.trace:
                self.tracer = tracing.Tracer(spark)
                tracing.install(self.tracer)
                self.run_for(spark, "traced", self.seconds / 2)
        finally:
            if self.tracer is not None:
                self.tracer.uninstall()
            if spark is not None:
                stop_spark(spark)

        warm = [r["wall_s"] for r in self.runs if r["phase"] == "warm"]
        metrics = {"setup_s": statistics.median(setups),
                   "run_s": statistics.median(warm),
                   "driver_rss_mb": peak_rss_mb()}
        first_run_s = self.runs[0]["wall_s"]
        attempted = len(self.runs) * len(self.expected)
        failed = sum(len(r["why"]) for r in self.runs)
        context = {"inputs": inputs, "why": self.w.why, "warm_runs_s": warm,
                   "first_run_s": first_run_s,
                   "error_rate": failed / attempted, "setups_s": setups,
                   "session": [[r["phase"], r["views_leaked"], r["persisted_rdds"]]
                               for r in self.runs],
                   "host": self.host()}
        if self.trace:
            result_metrics = self.layer_metrics(metrics["run_s"], context)
        else:
            result_metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        self.report(metrics, context, failed)
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": result_metrics}

    def host(self) -> dict:
        import pandas
        import pyarrow
        import pyspark
        return {"nproc": nproc(), "spark_threads": self.cores, "jvm_opts": JVM_OPTS,
                "python": sys.version.split()[0],
                "pyspark": pyspark.__version__, "pandas": pandas.__version__,
                "pyarrow": pyarrow.__version__,
                "load_before_after": [r["load"] for r in self.runs]}

    def layer_metrics(self, run_s: float, context: dict) -> dict:
        traced = [r for r in self.runs if r["phase"] == "traced"]
        tree = tracing.SpanTree(self.tracer.spans, tracing.parse_event_log(self.event_dir),
                              [r["root"] for r in traced])
        roots = tree.outermost("process_queries")
        traced_s = statistics.median(r["wall_s"] for r in traced)
        covered = [sum(c.dur for c in tree.children[r.id]
                       if c.name in ("stage", "run_query", "combine", "export"))
                   for r in roots]
        reference = []
        for _ in range(3):
            t0 = time.perf_counter()
            reference_run(self.in_dir, self.w)
            reference.append(time.perf_counter() - t0)
        reference_s = statistics.median(reference)
        exec_s = tree.spark(roots, "exec_run_ms") / 1000
        m = {
            "sources.stage_s": (tree.seconds("stage"), "s"),
            "sources.xlsx_parse_s": (tree.seconds("read_sheet"), "s"),
            "sources.to_spark_s": (tree.seconds("read_excel_sheet")
                                   - tree.seconds("read_sheet", under="read_excel_sheet"), "s"),
            "sources.rows": (tree.counts("read_sheet", "rows"), "count"),
            "sources.bytes": (tree.counts("read_sheet", "bytes"), "B"),
            "plans.rewrite_s": (tree.seconds("format_query") + tree.seconds("sqlite_to_spark"), "s"),
            "plans.bare_retries": (tree.calls("rewrite_bare_column"), "count"),
            "plans.recursive_s": (tree.seconds("run_recursive_union_sql"), "s"),
            "plans.recursive_jobs": (tree.spark(tree.outermost("run_recursive_union_sql"), "jobs"),
                                     "count"),
            "engine.branches": (tree.calls("run_query"), "count"),
            "engine.analyze_s": (tree.self_seconds("run_query"), "s"),
            "combinators.combine_s": (tree.seconds("combine"), "s"),
            "combinators.jobs": (tree.spark(tree.outermost("combine"), "jobs"), "count"),
            "sinks.export_s": (tree.seconds("export"), "s"),
            "sinks.collect_s": (tree.seconds("toPandas", under="export"), "s"),
            "sinks.xlsx_write_s": (tree.seconds("write_workbook"), "s"),
            "sinks.parquet_write_s": (tree.seconds("write_parquet"), "s"),
            "sinks.rows_out": (self.rows_out(), "count"),
            "sinks.bytes_out": (statistics.median(r["bytes_out"] for r in traced), "B"),
            "spark.jobs": (tree.spark(roots, "jobs"), "count"),
            "spark.stages": (tree.spark(roots, "stages"), "count"),
            "spark.tasks": (tree.spark(roots, "tasks"), "count"),
            "spark.exec_run_s": (exec_s, "s"),
            "spark.shuffle_write_bytes": (tree.spark(roots, "shuffle_write_bytes"), "B"),
            "spark.spill_bytes": (tree.spark(roots, "spill_bytes"), "B"),
            "spark.gc_s": (tree.spark(roots, "gc_ms") / 1000, "s"),
            "spark.core_util": (exec_s / (traced_s * self.cores), "ratio"),
            "session.temp_views_leaked": (statistics.mean(r["views_leaked"] for r in self.runs),
                                          "count"),
            "session.persisted_rdds": (self.runs[-1]["persisted_rdds"], "count"),
            "driver.cpu_s": (statistics.median(r["cpu_s"] for r in self.runs
                                               if r["phase"] == "warm"), "s"),
            "trace.overhead_s": (traced_s - run_s, "s"),
            "trace.uncovered_s": (traced_s - statistics.median(covered), "s"),
            "first_run_s": (context["first_run_s"], "s"),
            "reference_s": (reference_s, "s"),
            "vs_reference": (run_s / reference_s, "ratio"),
        }
        table = tree.by_label()
        context["per_label"] = table
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(WORK, f"trace_{self.w.name}.json"), "w") as f:
            json.dump({"seed": self.seed, "traced_runs": len(traced), "per_label": table,
                       "metrics": {k: v for k, (v, _) in m.items()}}, f, indent=1)
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def rows_out(self) -> int:
        return sum(len(e["rows"]) if e["pivot"] else max(len(b["rows"]) for b in e["blocks"])
                   for e in self.expected.values())

    def report(self, metrics: dict, context: dict, failed: int) -> None:
        print("inputs " + json.dumps({"workload": self.w.name, "seed": self.seed,
                                      **context["inputs"], "why": context["why"]}))
        print("host " + json.dumps(context["host"]))
        print("session [phase, temp views leaked, persisted RDDs] per run "
              + json.dumps(context["session"]))
        if "per_label" in context:
            print(f"{'span':<26}{'calls':>7}{'total_s':>9}{'self_s':>9}{'jobs':>7}"
                  f"{'tasks':>7}{'exec_s':>8}")
            for name, row in context["per_label"].items():
                print(f"{name:<26}{row.get('calls', 0):>7.1f}{row.get('total_s', 0):>9.3f}"
                      f"{row.get('self_s', 0):>9.3f}{row.get('jobs', 0):>7.1f}"
                      f"{row.get('tasks', 0):>7.1f}{row.get('exec_run_ms', 0) / 1000:>8.3f}")
        for k, v in metrics.items():
            print(f"{k:<16}{v:>12.4f} {END_TO_END[k]}")
        print(f"{'first_run_s':<16}{context['first_run_s']:>12.4f} s  (one cold run)")
        print(f"{'error_rate':<16}{context['error_rate']:>12.4f} ratio  ({failed} failed checks)")
        print("set-ups s " + json.dumps(context["setups_s"]))
        print(f"warm runs s ({len(context['warm_runs_s'])}) " + json.dumps(context["warm_runs_s"]))
        for r in self.runs:
            for q, why in r["why"].items():
                print(f"FAILED {r['phase']} {q}: {why}", file=sys.stderr)


def run_all(args) -> int:
    """Each workload in its own process, then one summary table."""
    rows = []
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)], capture_output=True, text=True)
        sys.stdout.write(proc.stdout)
        if proc.returncode:
            sys.stderr.write(proc.stderr)
            return proc.returncode
        rows.append((name, json.loads(proc.stdout.splitlines()[-1])))
    print(f"{'workload':<14}{'correct':>8}{'failed':>8}  metrics")
    for name, res in rows:
        ms = "  ".join(f"{k}={v['value']:.4g}{v['unit']}" for k, v in res["metrics"].items())
        print(f"{name:<14}{str(res['correct']):>8}{res['failed']:>8}  {ms}")
    return 0 if all(r["correct"] for _, r in rows) else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", metavar="WORK", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    if args.setup_only:  # one set-up for Bench.child_setup; prints its seconds
        bench = Bench(WORKLOADS[args.workload], args.seed, 0, False, args.setup_only)
        spark, dt = bench.setup()
        stop_spark(spark)
        print(dt)
        return 0
    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK)
    # every temp file of this process and its JVM stays in the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    try:
        bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds,
                      bool(args.trace), work)
        bench.prepare()
        result = bench.measure()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
