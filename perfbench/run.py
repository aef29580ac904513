#!/usr/bin/env python3
"""The repository benchmark: what one caller pays per registered query.

    python3 perfbench/run.py --workload anagram_corpus --seed 1 --seconds 15 --trace 0

One run is one fresh process and one closed-loop caller (concurrency 1,
one driver process). It starts the session through ``session.get_spark``
on every CPU the process may use, loads the queries through
``registry.all_queries`` and generates its inputs from ``--seed``. A
workload may name queries to warm up: they run once on a small corpus
of their own before the timed region, and that time counts as set-up.
Then, for each query of the workload in a fixed order, it builds the
DataFrame (the call into the operator, including any eager work the
operator does while building), executes it once cold and once warm; once
every query has run, ``WARM_REPS - 1`` more passes execute each of them
warm again.
The session is never cleared between queries. Every execution plans the
DataFrame afresh (the cold one through the DataFrame's own query
execution, warm ones through a ``select("*")`` over it), so warm reps
re-run scans and shuffles instead of reading back the shuffle outputs a
DataFrame keeps from its previous action. If the queries took less than
``--seconds``, further warm passes over all queries run while a whole pass
still fits; they only add warm samples.

After the timed region, every cold result is compared with the query's
registered DuckDB oracle over the same files (order-insensitively, by
``tests/oracle.py``'s rule).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics (see ``layers.py``) and writes the spans and per-query
detail to ``.perfbench_work/traces/``. The last line of standard output
is the result object; the line before it, prefixed ``details:``, holds
the pinned environment, the input sizes and the failures.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid
from dataclasses import dataclass, replace
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
sys.path[:0] = [str(HERE), str(ROOT)]

from gen import CorpusSpec, write_corpus  # noqa: E402

WARM_REPS = 3  # warm executions per query; the median is reported
WARMUP_SEED_OFFSET = 5  # the warm-up corpus's seed differs from the measured ones
DRIVER_MEMORY = "4g"  # local[nproc] in one JVM; leaves most of a 15 GB machine free


@dataclass(frozen=True)
class Step:
    query: str  # registered query key, or a label for ad-hoc SQL
    corpus: str
    sql: str | None = None  # ad-hoc SQL run through cc_mapreducer_spark.sql
    sink: bool = False  # execute as a one-file text sink instead of a collect

    @property
    def id(self) -> str:
        return self.query if self.corpus in ("main", "a") else f"{self.query}@{self.corpus}"


# Ad-hoc SQL strings that both Spark SQL and DuckDB accept with one meaning;
# the string itself is the oracle.
SOURCE_LANG_SQL = """
SELECT source, lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY source, lang
"""
LONG_DOCS_SQL = """
SELECT d.lang, COUNT(*) AS n_long, CAST(MAX(d.n_chars) AS BIGINT) AS max_chars
FROM documents d
WHERE d.n_chars > (SELECT AVG(n_chars) FROM documents)
GROUP BY d.lang
"""

WORKLOADS: dict[str, dict] = {
    # The paper's pipeline: scan, tokenize codegen, the single signature
    # Exchange and a text sink beside the reads. No trainers, no persist
    # memo, no Python boundary, so it is the control for changes to those.
    "anagram_corpus": {
        "corpora": {
            "main": CorpusSpec(docs=4000, vocab=6000, families=300,
                               words_min=30, words_max=90),
        },
        "steps": [
            Step("anagram_groups", "main"),
            Step("word_profile", "main"),
            Step("anagram_output_lines", "main", sink=True),
            Step("sql_source_lang", "main", sql=SOURCE_LANG_SQL),
            Step("sql_long_docs", "main", sql=LONG_DOCS_SQL),
        ],
        "warmup": (),
    },
    # A data-prep session: the WordPiece trainer's eager build loop, the
    # persist memo (hits from contrastive_negatives on near_dedup's MinHash
    # frames, then misses and stale frames after the switch to corpus b) and
    # the mapInPandas boundary. The registered-query control for these layers
    # is anagram_corpus.
    "curation_session": {
        "corpora": {
            "a": CorpusSpec(docs=1500, vocab=500, families=50, words_min=20,
                            words_max=80, dup_clusters=30, dup_size=3),
            "b": CorpusSpec(docs=1500, vocab=500, families=50, words_min=20,
                            words_max=80, dup_clusters=30, dup_size=3),
        },
        "steps": [
            Step("near_dedup_pairs", "a"),
            Step("contrastive_negatives", "a"),
            Step("wordpiece_token_stats", "a"),
            Step("near_dedup_pairs", "b"),
        ],
        # Built in a cold JVM, the trainer's ~200-job build varied by a
        # quarter from run to run; warmed up first, it is steady.
        "warmup": ("wordpiece_token_stats",),
    },
}


def warmup_spec(spec: CorpusSpec) -> CorpusSpec:
    """The warm-up corpus: shaped like a measured one, a fifth of its size."""
    return replace(spec, docs=spec.docs // 5, dup_clusters=spec.dup_clusters // 5)


def since_process_start() -> float:
    """Seconds since this process was created (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def pin_env() -> dict:
    """Settings the run depends on, set here so a run does not depend on
    the caller's shell; all of them live inside the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # keeps session.py's code-cache size; keeps the JVMs' temp and perf
        # files out of /tmp; retains every job and SQL execution for the tracer
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_GRAFT_DRIVER_JVM_OPTS": " ".join([
            "-XX:ReservedCodeCacheSize=1g",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.retainedJobs=100000",
            "-Dspark.ui.retainedStages=100000",
            "-Dspark.sql.ui.retainedExecutions=100000",
        ]),
        # Python workers must import cc_mapreducer_spark from this checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
    }
    os.environ.update(env)
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR
    return env


def start_session(tracer):
    """Session ready plus registry loaded: the set-up a caller pays."""
    from cc_mapreducer_spark import registry
    from cc_mapreducer_spark.session import get_spark

    with tracer.span("session"):
        spark = get_spark("perfbench")
    session_s = since_process_start()
    with tracer.span("registry"):
        t0 = time.perf_counter()
        queries, oracles = registry.all_queries(), registry.all_oracles()
        registry_s = time.perf_counter() - t0
    return spark, queries, oracles, {"session.start_s": session_s, "registry.load_s": registry_s,
                                     "setup_s": session_s + registry_s}


def shutdown(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the Python
    workers it started) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def load_oracle_module():
    import importlib.util

    spec = importlib.util.spec_from_file_location("perfbench_oracle", ROOT / "tests" / "oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python driver. spark-submit execs
    the JVM, so the gateway's launcher process is the driver JVM."""
    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            return next(int(l.split()[1]) for l in f if l.startswith("VmHWM")) / 1024
    return hwm(spark.sparkContext._gateway.proc.pid) + hwm("self")


class Run:
    def __init__(self, args, tracer, spark, queries, oracles, setup: dict):
        from layers import Layers

        self.args = args
        self.spark = spark
        self.queries = queries
        self.oracles = oracles
        self.setup = setup
        self.workload = WORKLOADS[args.workload]
        self.tracer = tracer
        self.layers = Layers(spark) if args.trace else None
        self.sink_dir = WORK / "sink" / f"{args.workload}-{os.getpid()}"
        self.dirs: dict[str, str] = {}
        self.warmup_dir = ""
        self.manifests: dict[str, dict] = {}
        self.records: list[dict] = []
        self.results: dict[str, object] = {}
        self.failures: list[dict] = []
        self.storage_a: dict[int, float] | None = None  # persisted frames before corpus b

    # -- inputs ------------------------------------------------------------
    def make_inputs(self) -> None:
        for i, (corpus, spec) in enumerate(self.workload["corpora"].items()):
            seed = self.args.seed * 10 + i
            tag = hashlib.sha1(repr(spec).encode()).hexdigest()[:8]
            out = WORK / "data" / f"{self.args.workload}-{corpus}-seed{seed}-{tag}"
            self.manifests[corpus] = write_corpus(str(out), spec, seed)
            self.dirs[corpus] = str(out)
        if self.workload["warmup"]:
            spec = warmup_spec(next(iter(self.workload["corpora"].values())))
            seed = self.args.seed * 10 + WARMUP_SEED_OFFSET
            tag = hashlib.sha1(repr(spec).encode()).hexdigest()[:8]
            self.warmup_dir = str(WORK / "data" / f"{self.args.workload}-warmup-seed{seed}-{tag}")
            write_corpus(self.warmup_dir, spec, seed)

    # -- JVM warm-up, part of set-up -----------------------------------------
    def warm_up(self) -> float:
        """Build and execute each of the workload's warm-up queries once on
        the warm-up corpus, so the timed queries meet a warm JVM
        (JIT-compiled code, generated-code cache). The warm-up corpus lives
        in another directory, so no per-input memo carries over; persisted
        frames are dropped afterwards, so the timed workload starts with an
        empty cache. Failures are left for the timed run to count."""
        if not self.workload["warmup"]:
            return 0.0
        t0 = time.perf_counter()
        self.spark.sparkContext.setJobGroup("perfbench:warmup", "perfbench:warmup")
        with self.tracer.span("warmup"):
            for query in self.workload["warmup"]:
                try:
                    self.queries[query](self.spark, self.warmup_dir).toPandas()
                except Exception:
                    pass
            self.spark.catalog.clearCache()
            for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
                rdd.unpersist(True)
        return time.perf_counter() - t0

    # -- one query ---------------------------------------------------------
    def _execute(self, df, step: Step, cold: bool):
        if step.sink:
            df.coalesce(1).write.mode("overwrite").text(str(self.sink_dir))
            return None
        return (df if cold else df.select("*")).toPandas()

    def _group(self, step: Step, phase: str) -> str:
        group = f"perfbench:{step.id}:{phase}"
        self.spark.sparkContext.setJobGroup(group, group)
        return group

    def run_step(self, step: Step) -> dict:
        rec = {"step": step.id, "warm_s": []}
        lay, span = self.layers, self.tracer.span
        sf = self.dirs[step.corpus]
        with span("query", step=step.id):
            group = self._group(step, "build")
            t0 = time.perf_counter()
            if step.sql is not None:
                from cc_mapreducer_spark import sql as sqlmod

                with span("sql.register_views"):
                    sqlmod.register_views(self.spark, sf)
                rec["register_views_s"] = time.perf_counter() - t0
                with span("sql.query_build"):
                    t1 = time.perf_counter()
                    df = sqlmod.sql(self.spark, sf, step.sql)
                    rec["query_build_s"] = time.perf_counter() - t1
            else:
                with span("operators.build"):
                    df = self.queries[step.query](self.spark, sf)
            rec["build_s"] = time.perf_counter() - t0
            if lay:
                rec["build"] = lay.jobs(group)
                exec0, jvm0 = lay.last_execution_id(), lay.jvm()

            group = self._group(step, "first")
            with span("exec.first"):
                t0 = time.perf_counter()
                self.results[step.id] = self._execute(df, step, cold=True)
                rec["first_s"] = time.perf_counter() - t0
            if lay:
                jvm1 = lay.jvm()
                rec["first"] = {**lay.jobs(group), **lay.executions_since(exec0),
                                **lay.plan(df), **_delta(jvm1, jvm0)}

            group = self._group(step, "warm")
            if lay:
                exec0 = lay.last_execution_id()
            with span("exec.warm", rep=0):
                t0 = time.perf_counter()
                self._execute(df, step, cold=False)
                rec["warm_s"].append(time.perf_counter() - t0)
            if lay:
                rec["warm"] = {**lay.jobs(group), **lay.executions_since(exec0),
                               **_delta(lay.jvm(), jvm1)}
                rec["storage"] = lay.storage()
        rec["df"] = df
        return rec

    # -- the workload ------------------------------------------------------
    def run_workload(self) -> None:
        steps = self.workload["steps"]
        with self.tracer.span("workload", workload=self.args.workload):
            t_start = time.perf_counter()
            for step in steps:
                if step.corpus == "b" and self.storage_a is None and self.layers:
                    self.storage_a = self.layers.storage()
                try:
                    self.records.append(self.run_step(step))
                except Exception as ex:  # a failing query is counted, not fatal
                    self.failures.append({"step": step.id, "error": _short(ex)})
            # the other warm reps run in passes over all queries, so a short
            # stall of the machine costs a query one sample, not all of them
            for _ in range(WARM_REPS - 1):
                self.warm_pass()
            self.workload_s = time.perf_counter() - t_start
            self.trace_overhead_s = self.layers.overhead_s if self.layers else 0.0
            # extra warm passes while a whole pass still fits in --seconds
            last_pass = sum(statistics.median(r["warm_s"]) for r in self.records)
            while self.records and time.perf_counter() - t_start + last_pass <= self.args.seconds:
                last_pass = self.warm_pass()

    def warm_pass(self) -> float:
        """One more warm execution of every built query, in workload order."""
        by_id = {s.id: s for s in self.workload["steps"]}
        t0 = time.perf_counter()
        for rec in self.records:
            step = by_id[rec["step"]]
            self._group(step, "warm")
            with self.tracer.span("exec.warm", step=step.id, rep=len(rec["warm_s"])):
                t1 = time.perf_counter()
                self._execute(rec["df"], step, cold=False)
                rec["warm_s"].append(time.perf_counter() - t1)
        return time.perf_counter() - t0

    def scan_inputs(self) -> float:
        """Noop scan of each input table (traced run, after the workload)."""
        total = 0.0
        for corpus, sf in self.dirs.items():
            with self.tracer.span("tables.scan", corpus=corpus):
                t0 = time.perf_counter()
                self.spark.read.parquet(f"{sf}/documents.parquet").write.mode(
                    "overwrite").format("noop").save()
                total += time.perf_counter() - t0
        return total

    # -- correctness, outside the timed region ------------------------------
    def check(self) -> None:
        import pandas as pd

        oracle = load_oracle_module()
        cons = {c: oracle.duckdb_connection(d) for c, d in self.dirs.items()}
        for con in cons.values():
            con.execute(f"SET temp_directory = '{WORK / 'tmp'}'")
        by_id = {s.id: s for s in self.workload["steps"]}
        for rec in self.records:
            step = by_id[rec["step"]]
            with self.tracer.span("oracle.check", step=step.id):
                try:
                    got = self.results[step.id]
                    if step.sink:
                        lines = [l for p in sorted(self.sink_dir.glob("part-*"))
                                 for l in p.read_text().splitlines()]
                        got = pd.DataFrame({"line": lines})
                    sql = step.sql if step.sql is not None else self.oracles[step.query]
                    want = cons[step.corpus].sql(sql).df()
                    oracle.compare_frames(got, want, step.id)
                    if step.query == "anagram_groups" and len(got) == 0:
                        raise AssertionError("anagram_groups is empty on the generated corpus")
                except Exception as ex:
                    self.failures.append({"step": step.id, "error": _short(ex)})
        for con in cons.values():
            con.close()

    # -- metrics -----------------------------------------------------------
    def input_rows_per_pass(self) -> int:
        return sum(self.manifests[s.corpus]["documents_rows"] for s in self.workload["steps"])

    def end_to_end(self) -> dict:
        warm = sum(statistics.median(r["warm_s"]) for r in self.records)
        return {
            "setup_s": (self.setup["setup_s"], "s"),
            "build_s": (sum(r["build_s"] for r in self.records), "s"),
            "first_exec_s": (sum(r["first_s"] for r in self.records), "s"),
            "warm_exec_s": (warm, "s"),
            "workload_s": (self.workload_s, "s"),
            "warm_rows_per_s": (self.input_rows_per_pass() / warm, "1/s"),
        }

    def per_layer(self, scan_s: float, rss: float) -> dict:
        recs = self.records
        op_recs = [r for r in recs if "query_build_s" not in r]

        def total(phase: str, key: str) -> float:
            return sum(r[phase][key] for r in recs)

        def both(key: str) -> float:
            return total("first", key) + total("warm", key)

        memo = [r["storage"] for r in recs]
        end = memo[-1] if memo else {}
        stale = sum(mb for rid, mb in (self.storage_a or {}).items() if rid in end)
        sink_files = sorted(self.sink_dir.glob("part-*")) if self.sink_dir.exists() else []
        out = {
            "session.start_s": (self.setup["session.start_s"], "s"),
            "registry.load_s": (self.setup["registry.load_s"], "s"),
            "jvm.warmup_s": (self.setup["jvm.warmup_s"], "s"),
            "tables.input_rows": (sum(m["documents_rows"] for m in self.manifests.values()), "count"),
            "tables.input_mb": (sum(m["documents_bytes"] for m in self.manifests.values()) / 1e6, "MB"),
            "tables.scan_s": (scan_s, "s"),
            "operators.build_jobs": (sum(r["build"]["jobs"] for r in recs), "count"),
            "operators.build_s": (sum(r["build_s"] for r in op_recs), "s"),
            "operators.memo_frames": (max((len(m) for m in memo), default=0), "count"),
            "operators.memo_mb": (max((sum(m.values()) for m in memo), default=0.0), "MB"),
            "operators.memo_stale_mb": (stale, "MB"),
            "operators.sink_mb": (sum(p.stat().st_size for p in sink_files) / 1e6, "MB"),
            "operators.sink_files": (len(sink_files), "count"),
            "plans.analysis_ms": (total("first", "plans.analysis_ms"), "ms"),
            "plans.optimization_ms": (total("first", "plans.optimization_ms"), "ms"),
            "plans.planning_ms": (total("first", "plans.planning_ms"), "ms"),
            "plans.exchanges": (total("first", "plans.exchanges"), "count"),
            "plans.broadcasts": (total("first", "plans.broadcasts"), "count"),
            "plans.exec_jobs": (both("jobs"), "count"),
            "plans.exec_tasks": (both("tasks"), "count"),
            "plans.shuffle_write_mb": (both("plans.shuffle_write_mb"), "MB"),
            "plans.shuffle_records": (both("plans.shuffle_records"), "count"),
            "plans.shuffle_fetch_wait_ms": (both("plans.shuffle_fetch_wait_ms"), "ms"),
            "plans.spill_mb": (both("plans.spill_mb"), "MB"),
            "plans.codegen_pipeline_ms": (both("plans.codegen_pipeline_ms"), "ms"),
            "functions.python_boot_ms": (both("functions.python_boot_ms"), "ms"),
            "functions.python_init_ms": (both("functions.python_init_ms"), "ms"),
            "functions.python_exec_ms": (both("functions.python_exec_ms"), "ms"),
            "functions.python_sent_mb": (both("functions.python_sent_mb"), "MB"),
            "functions.python_received_mb": (both("functions.python_received_mb"), "MB"),
            "jvm.jit_ms": (both("jit_ms"), "ms"),
            "jvm.gc_ms": (both("gc_ms"), "ms"),
            "driver.peak_rss_mb": (rss, "MB"),
            "sql.register_views_s": (sum(r.get("register_views_s", 0.0) for r in recs), "s"),
            "sql.query_build_s": (sum(r.get("query_build_s", 0.0) for r in recs), "s"),
            "trace.overhead_s": (self.trace_overhead_s, "s"),
            "trace.workload_s": (self.workload_s, "s"),
        }
        return out


def _delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


def _short(ex: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(ex), ex)).strip()[:2000]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in (ROOT / "cc_mapreducer_spark" / "__init__.py", ROOT / "tests" / "oracle.py"):
        if not need.is_file():
            print(f"perfbench: {need.relative_to(ROOT)} is missing; run from a checkout "
                  "of the repository", file=sys.stderr)
            return 2

    from layers import Tracer

    env = pin_env()
    tracer = Tracer(uuid.uuid4().hex[:12], enabled=bool(args.trace))
    with tracer.span("run", workload=args.workload, seed=args.seed):
        spark, queries, oracles, setup = start_session(tracer)
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(args, tracer, spark, queries, oracles, setup)
        try:
            t0 = time.perf_counter()
            run.make_inputs()
            phases = {"inputs_s": time.perf_counter() - t0}
            setup["jvm.warmup_s"] = run.warm_up()
            setup["setup_s"] += setup["jvm.warmup_s"]
            run.run_workload()
            rss = peak_rss_mb(spark)
            scan_s = run.scan_inputs() if args.trace else 0.0
            t0 = time.perf_counter()
            run.check()
            phases["check_s"] = time.perf_counter() - t0
            metrics = None
            if run.records:
                e2e = run.end_to_end()
                metrics = run.per_layer(scan_s, rss) if args.trace else e2e
        finally:
            shutdown(spark)
            shutil.rmtree(run.sink_dir, ignore_errors=True)
    if metrics is None:
        print(f"perfbench: every query failed: {run.failures}", file=sys.stderr)
        return 1

    attempted = len(run.workload["steps"])
    failed_steps = {f["step"] for f in run.failures}
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "run_id": run.tracer.run_id, "env": env, "warm_reps": WARM_REPS,
        "inputs": run.manifests, "input_rows_per_pass": run.input_rows_per_pass(),
        "fail_ratio": len(failed_steps) / attempted, "failures": run.failures,
        "steps": [{k: v for k, v in r.items() if k != "df"} for r in run.records],
    }
    details["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
    details["peak_rss_mb"] = rss
    details["phases"] = {**phases, "workload_s": run.workload_s, "wall_s": since_process_start()}
    results_dir = WORK / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    untraced = results_dir / f"{args.workload}-seed{args.seed}-trace0.json"
    if args.trace:
        if untraced.exists():
            prev = json.loads(untraced.read_text())["end_to_end"]["workload_s"]
            details["traced_minus_untraced_workload_s"] = run.workload_s - prev
        traces = WORK / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        (traces / f"{args.workload}-seed{args.seed}.json").write_text(json.dumps(
            {**details, "per_layer": {k: v for k, (v, _) in metrics.items()},
             "spans": run.tracer.spans}, indent=1, default=str))
    (results_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(details, indent=1, default=str))

    print("details: " + json.dumps({k: details[k] for k in (
        "workload", "seed", "run_id", "env", "input_rows_per_pass", "peak_rss_mb",
        "phases", "fail_ratio", "failures")}, default=str))
    print(json.dumps({
        "correct": not failed_steps,
        "attempted": attempted,
        "failed": len(failed_steps),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
