"""Repo benchmark: the paper's clinical DAG and a registered-query mix.

    python3 perfbench/run.py --workload clinical_paper --seed 1 --seconds 20 --trace 0

Each workload is a closed loop with one client: one driver thread runs the
operations one after another on ``local[4]``, in a session built by
``session.get_spark`` with the library's ``DEFAULT_CONF``. On top of the
defaults it sets only the master, the UI off, a fresh warehouse, the JVM's
temp directory inside the run's work directory, ``PYTHONPATH`` for the
Python workers and, with ``--trace 1``, an uncompressed event log.

A run sets up once in a fresh process (JVM launch and session start,
seeded inputs landed, JVM warm-up) and times that as ``setup_s``. It then
times whole passes until ``--seconds`` have passed, at least one. The
first pass in a session pays code generation and JIT for every operator,
as a fresh batch run does; on a 4-core machine one pass takes longer than
``--seconds``. Each pass's outputs are checked outside the timed region;
a mismatch fails the op.

The last stdout line is one JSON object: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer counters parsed from the
event log of the same passes, and ``trace.pass_s``, whose excess over the
untraced ``pass_s`` is the tracing overhead. The line before it carries
run details: pass times, op count, leaked RDDs, load and steal.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
MIN_PASSES = 1

CLINICAL_LAYERS = ["sources.readers", "operators.cleaning", "operators.quality",
                   "operators.summarize", "plans.pipeline", "functions.stats",
                   "functions.mining", "ml.pipeline", "sources.catalog"]
QUERY_LAYERS = ["queries.relational", "queries.quality", "queries.medstats",
                "queries.stats_ml", "queries.text_dedup", "queries.corpus_clean",
                "queries.corpus_pipeline"]
LAYER_METRICS = [("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("task_s", "s"),
                 ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
                 ("peak_mem_bytes", "bytes")]
EXTRA_METRICS = [("session.start_s", "s"), ("spark.sched_wait_s", "s"),
                 ("spark.task_skew", "ratio"), ("spark.gc_s", "s"),
                 ("spark.failed_tasks", "count"), ("python.bytes", "bytes"),
                 ("cache.leaked_rdds", "count"), ("sources.catalog.files_written", "count"),
                 ("sources.catalog.bytes_written", "bytes"),
                 ("sources.catalog.stored_bytes_per_input_byte", "ratio"),
                 ("trace.pass_s", "s")]
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"), ("op_p90_s", "s"),
              ("cpu_s", "s"), ("peak_rss_mb", "MB")]


def per_layer_names() -> list[tuple[str, str]]:
    return [(f"{layer}.{m}", unit) for layer in CLINICAL_LAYERS + QUERY_LAYERS
            for m, unit in LAYER_METRICS] + EXTRA_METRICS


class Clinical:
    """The paper's DAG; every product published to the catalog."""

    def land(self, work: str, seed: int) -> int:
        from perfbench import clinical

        self.paths, self.expect, size = clinical.land(work, seed)
        return size

    def ops_per_pass(self) -> int:
        from perfbench import clinical

        return len(clinical.products())

    def sink(self, df, name: str) -> None:
        from perfbench import clinical

        clinical.publish(df, name)

    def run_pass(self, spark, rec, index: int) -> None:
        from perfbench import clinical

        spark.sql(f"CREATE DATABASE pass{index}")
        spark.catalog.setCurrentDatabase(f"pass{index}")
        clinical.run_pass(spark, rec, self.paths)

    def check(self, spark) -> list[str]:
        from perfbench import clinical

        return clinical.check_pass(spark, self.expect)


class QueryMix:
    """Registered queries, one after another in a fixed order: in the
    session's first pass the first query pays most of the JVM warm-up, so a
    seeded order would move op latencies between queries from run to run.
    Each result is collected (the results are small) and, outside the timed
    region, compared with the query's DuckDB oracle by the canonical compare
    of ``tools/check_correctness.py``."""

    def __init__(self):
        self.results = {}

    def land(self, work: str, seed: int) -> int:
        from perfbench import querymix

        self.sf_dir, size = querymix.land(work, seed)
        return size

    def ops_per_pass(self) -> int:
        from perfbench import querymix

        return len(querymix.QUERIES)

    def sink(self, df, name: str) -> None:
        self.results[name] = df.toPandas()

    def run_pass(self, spark, rec, index: int) -> None:
        import __spark_entry__ as entry

        from perfbench import querymix

        registered = entry.queries()
        for name, layer in querymix.QUERIES.items():
            df = rec.call(layer, name, lambda fn=registered[name]: fn(spark, self.sf_dir))
            rec.publish(layer, name, df)

    def check(self, spark) -> list[str]:
        import duckdb

        import __spark_entry__ as entry
        from tools.check_correctness import compare

        con = duckdb.connect()
        for f in sorted(os.listdir(self.sf_dir)):
            con.sql(f"CREATE VIEW {f.split('.')[0]} AS "
                    f"SELECT * FROM '{os.path.join(self.sf_dir, f)}'")
        oracles = entry.oracle_sql()
        bad = []
        for name, got in self.results.items():
            res = compare(got, con.sql(oracles[name]).df())
            if not (res["rows"] and res["schema"] and res["values_exact"]):
                print(f"oracle mismatch {name}: {res.get('detail')}", file=sys.stderr)
                bad.append(name)
        self.results.clear()
        con.close()
        return bad


WORKLOADS = {"clinical_paper": Clinical, "query_mix": QueryMix}


def start_session(work: str, event_dir: str | None):
    from azure_medicine_data_engineering_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", master=f"local[{CORES}]", conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def warm_up(spark) -> None:
    spark.range(1_000_000).selectExpr("sum(id)").collect()


def stop_jvm() -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def percentile(values: list[float], q: float) -> float:
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith(".") and not n.startswith("_"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Run:
    def __init__(self, name: str, seed: int, seconds: int, work: str):
        self.name, self.seed, self.seconds, self.work = name, seed, seconds, work
        self.workload = WORKLOADS[name]()
        self.attempted = self.failed = 0

    def setup(self, event_dir: str | None):
        """Launch the JVM and start the session (logging events when
        tracing), land the inputs and warm the JVM up. Returns (session,
        setup seconds, session start seconds)."""
        t0 = time.perf_counter()
        spark = start_session(self.work, event_dir)
        start_s = time.perf_counter() - t0
        land_dir = os.path.join(self.work, "inputs")
        os.makedirs(land_dir)
        self.input_bytes = self.workload.land(land_dir, self.seed)
        warm_up(spark)
        return spark, time.perf_counter() - t0, start_s

    def passes(self, spark, rec) -> tuple[list[float], list[float]]:
        """Timed passes until ``seconds`` have passed (at least MIN_PASSES),
        each checked outside the timed region; returns pass and CPU
        seconds."""
        from perfbench import harness

        pass_s, cpu_s = [], []
        start = time.perf_counter()
        while len(pass_s) < MIN_PASSES or time.perf_counter() - start < self.seconds:
            index = len(pass_s) + 1
            rec.start_pass(f"t{index}")
            c0 = harness.tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            ok = self.one_pass(spark, rec, index)
            pass_s.append(time.perf_counter() - t0)
            cpu_s.append(harness.tree_cpu_s(os.getpid()) - c0)
            if ok:
                self.check(spark, rec)
        return pass_s, cpu_s

    def one_pass(self, spark, rec, index: int) -> bool:
        """Run one pass; an exception fails the pass's remaining ops."""
        expected = self.workload.ops_per_pass()
        done_before = len(rec.ops)
        self.attempted += expected
        try:
            self.workload.run_pass(spark, rec, index)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += expected - (len(rec.ops) - done_before)
            return False
        return True

    def check(self, spark, rec) -> None:
        tag = rec.pass_tag
        rec.start_pass("check")
        bad = self.workload.check(spark)
        if bad:
            print(f"check failed in {tag}: {bad}", file=sys.stderr)
        self.failed += len(bad)

    def run(self, trace: bool) -> dict:
        from perfbench import eventlog, harness

        stamp0 = harness.host_stamp()
        t_run = time.perf_counter()
        event_dir = os.path.join(self.work, "events") if trace else None
        if event_dir:
            os.makedirs(event_dir)
        spark, setup_s, start_s = self.setup(event_dir)
        rec = harness.Recorder(spark, self.name, self.workload.sink)
        pass_s, cpu_s = self.passes(spark, rec)
        op_times = [lat for tag, _, _, lat in rec.ops if tag.startswith("t")]
        rss_mb = harness.vm_hwm_mb(jvm_pid(spark)) + harness.vm_hwm_mb(os.getpid())
        if trace:
            app_id = spark.sparkContext.applicationId
            spark.stop()
            metrics = self.layer_metrics(rec, eventlog.log_lines(event_dir, app_id), pass_s,
                                         start_s)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (statistics.median(pass_s), "s"),
                "op_p50_s": (percentile(op_times, 0.5), "s"),
                "op_p90_s": (percentile(op_times, 0.9), "s"),
                "cpu_s": (statistics.median(cpu_s), "s"),
                "peak_rss_mb": (rss_mb, "MB"),
            }
        stop_jvm()
        stamp1 = harness.host_stamp()
        print(json.dumps({"detail": {
            "workload": self.name, "seed": self.seed, "trace": trace,
            "passes": len(pass_s), "pass_s_all": pass_s, "ops_timed": len(op_times),
            "leaked_rdds": {f"{tag}:{op}": n for (tag, op), n in rec.leaked_rdds.items()},
            "run_s": time.perf_counter() - t_run,
            "load1_before": stamp0["load1"], "load1_after": stamp1["load1"],
            "steal_pct": harness.steal_pct(stamp0, stamp1)}}))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self, rec, lines, pass_s: list[float], start_s: float) -> dict:
        """Per-layer counters of the timed passes, averaged per pass: spans
        from the benchmark's timers, everything else from the event log.
        Jobs of the catalog's own registration writes (plans that write the
        catalog table) are charged to sources.catalog."""
        from azure_medicine_data_engineering_spark.sources.catalog import DEFAULT_CATALOG_TABLE

        from perfbench import eventlog

        counters, marked = eventlog.parse(lines, marker=DEFAULT_CATALOG_TABLE)
        n = len(pass_s)
        timed = {f"t{i}" for i in range(1, n + 1)}
        m = {name: 0.0 for name, _ in per_layer_names()}
        skew = [0.0]
        for (group, desc, is_catalog), c in counters.items():
            if desc.split(":")[0] not in timed:
                continue
            layer = "sources.catalog" if is_catalog else group.split(":")[1]
            m[f"{layer}.jobs"] += c.jobs / n
            m[f"{layer}.task_s"] += c.task_s / n
            m[f"{layer}.shuffle_bytes"] += c.shuffle_bytes / n
            m[f"{layer}.spill_bytes"] += c.spill_bytes / n
            m[f"{layer}.peak_mem_bytes"] = max(m[f"{layer}.peak_mem_bytes"], c.peak_mem_bytes)
            m["spark.sched_wait_s"] += c.sched_wait_s / n
            m["spark.gc_s"] += c.gc_s / n
            m["spark.failed_tasks"] += c.failed_tasks
            m["python.bytes"] += c.python_bytes / n
            skew += c.stage_skew
        for span in rec.spans:
            if span.pass_tag in timed:
                m[f"{span.layer}.{span.phase}_s"] += span.seconds / n
        for (group, desc), (plan_s, run_s) in marked.items():
            if desc.split(":")[0] in timed:
                m[f"{group.split(':')[1]}.exec_s"] -= (plan_s + run_s) / n
                m["sources.catalog.build_s"] += plan_s / n
                m["sources.catalog.exec_s"] += run_s / n
        m["spark.task_skew"] = max(skew)
        m["session.start_s"] = start_s
        m["cache.leaked_rdds"] = sum(v for (tag, _), v in rec.leaked_rdds.items() if tag in timed)
        if isinstance(self.workload, Clinical):
            files, size = dir_usage(os.path.join(self.work, "warehouse", "pass1.db"))
            m["sources.catalog.files_written"] = files
            m["sources.catalog.bytes_written"] = size
            m["sources.catalog.stored_bytes_per_input_byte"] = size / self.input_bytes
        m["trace.pass_s"] = statistics.median(pass_s)
        units = dict(per_layer_names())
        return {k: (v, units[k]) for k, v in m.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "azure_medicine_data_engineering_spark")):
        print("perfbench: the library is not in this checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's shuffle/spill files and Python's temp files stay in the run's
    # work directory too
    os.environ.update({"SPARK_LOCAL_DIRS": os.path.join(work, "local"),
                       "TMPDIR": os.path.join(work, "tmp")})
    try:
        result = Run(args.workload, args.seed, args.seconds, work).run(bool(args.trace))
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
