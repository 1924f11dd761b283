"""Closed-loop benchmark of sparkplug_spark: one workload, one seed, one client.

    python3 perfbench/run.py --workload rules_deep --seed 1 --seconds 8 --trace 0

Run it from the repository root (it imports ``sparkplug_spark`` and
``__spark_entry__`` from the parent of this directory and exits with code 2
when they are missing).  One driver process runs Spark on ``local[nproc]``;
the next job starts only after the previous one has returned, its output has
been checked and the per-job hygiene has run.

A run sets the workload up ``SETUPS`` times (each time in a fresh Spark
session: seeded inputs written, oracle answer computed), runs the first job
of the last session as the cold job, then runs warm jobs for ``--seconds``.
The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``END_TO_END``).
With ``--trace 1`` every other warm job is traced: a span is recorded around
each call into the library, Spark counters from the status tracker and
status store are attached to the spans, the spans are written to
``.perfbench_out/`` and the metrics are the per-layer ones (``PER_LAYER``),
medians over the traced warm jobs, plus the tracing overhead.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 5  # set-ups per run; setup_s is their median
# warm jobs run even when --seconds is over, so that every run's median has
# as many samples
MIN_WARM = {"rules_deep": 8, "graph_pair": 3}

# input sizes per workload; tests pass smaller ones
SIZES = {
    "rules_deep": {"rules": 20, "max_actions": 2, "rows": 5_000},
    "graph_pair": {"customers": 1_000, "orders": 10_000, "documents": 300},
}

END_TO_END = {"setup_s": "s", "job_s": "s"}

GRAPH_CALLS = ("graphs.fold_edges", "graphs.pagerank_integer", "graphs.pagerank_incremental")
PAIR_CALLS = ("joins.blocked_link", "dedup.jaccard_prefix_pairs", "dedup.dedup_threshold_curve")

PER_LAYER = {
    "validation.validate_s": "s",
    "engine.build_s": "s",
    "catalyst.plan_s": "s",
    "engine.plan_projects": "count",
    "sink.write_s": "s",
    **{k: v for c in GRAPH_CALLS for k, v in ((c + "_s", "s"), (c + ".jobs", "count"))},
    **{
        k: v
        for c in PAIR_CALLS
        for k, v in ((c + "_s", "s"), (c + ".jobs", "count"), (c + ".rows_out", "count"))
    },
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "caching.persisted_after": "count",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def repo_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "sparkplug_spark", "__init__.py")) and (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    )


# ------------------------------------------------------------------ session


def driver_memory_mb() -> int:
    """An eighth of the host's memory, between 1 and 2 GiB: the whole heap
    is touched (see ``start_session``), and the inputs are small."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1024, min(2048, total_kb // 8192))


def start_session(work: str):
    """A ``local[nproc]`` session whose scratch space and Python workers
    stay inside ``work`` and the repository."""
    from pyspark.sql import SparkSession

    cpus = len(os.sched_getaffinity(0))
    mem = driver_memory_mb()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem}m")
        # A heap fixed at its full size and touched when the JVM starts: on a
        # VM whose memory the host backs lazily, first touches of heap pages
        # during jobs made whole runs up to a third slower than others.
        # C1 only: with C2, warm jobs kept getting faster for more than 15
        # jobs, so a run's median depended on how far the JIT had got; with
        # C1 job times are flat from the first warm job on.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem}m -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}",
        )
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # Python workers import the library whatever the launch directory
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def persistent_rdd_ids(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def hygiene(spark, keep: set[int]) -> int:
    """``bench.py``'s per-job hygiene: unpersist every RDD the job left
    persisted (all but ``keep``), clear the cache, run a JVM GC.  Returns
    how many RDDs were left.

    A Python GC runs first, so that the py4j proxies of the job's Java
    objects are released (each with a call into the JVM) here, outside the
    timed region, and not by a collection during a later job."""
    gc.collect()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    left = [i for i in rdds.keySet().toArray() if int(i) not in keep]
    for i in left:
        rdds.get(i).unpersist(False)
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    return len(left)


def peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = int(next(line for line in f if line.startswith("VmHWM")).split()[1])
    return kb / 1024.0


# ------------------------------------------------------------------ tracing


class Tracer:
    """Spans around the benchmark's calls into the library.

    A span records name, start, end, parent and the workload job number.
    Each span runs its Spark jobs under a job group of its own, so after the
    job (outside the timed region) the status tracker tells which Spark
    jobs each span ran.  Switched off, a span does nothing."""

    def __init__(self, spark):
        self.spark = spark
        self.on = False
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.job_no = 0

    def _group(self, idx: int | None) -> None:
        self.spark.sparkContext.setLocalProperty(
            "spark.jobGroup.id", None if idx is None else f"perfbench-{idx}"
        )

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        rec = {"name": name, "parent": parent, "job": self.job_no, "start": time.perf_counter()}
        self.spans.append(rec)
        self.stack.append(idx)
        self._group(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            self._group(parent)

    def finish_job(self) -> dict[str, float]:
        """Attach Spark counters to the spans of the job just run; return
        the job's per-layer numbers."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        spans = [(i, s) for i, s in enumerate(self.spans) if s["job"] == self.job_no]
        for i, s in spans:
            s["spark_jobs"] = sorted(tracker.getJobIdsForGroup(f"perfbench-{i}"))
            s["self_s"] = s["end"] - s["start"]
        for i, s in spans:
            if s["parent"] is not None:
                self.spans[s["parent"]]["self_s"] -= s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in spans:
            if s["parent"] is None:
                continue
            out[s["name"] + "_s"] = out.get(s["name"] + "_s", 0.0) + s["end"] - s["start"]
            n = len(s["spark_jobs"]) + sum(
                len(c["spark_jobs"]) for _, c in spans if self._inside(c, i)
            )
            out[s["name"] + ".jobs"] = out.get(s["name"] + ".jobs", 0) + n
        counters = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0.0)
        for _, s in spans:
            for jid in s["spark_jobs"]:
                counters["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks == 0:
                        continue  # skipped: its shuffle output was reused
                    counters["stages"] += 1
                    counters["tasks"] += st.numCompletedTasks
                    d = store.lastStageAttempt(sid)
                    counters["executor_run_s"] += d.executorRunTime() / 1e3
                    counters["executor_cpu_s"] += d.executorCpuTime() / 1e9
                    counters["jvm_gc_s"] += d.jvmGcTime() / 1e3
                    counters["shuffle_read_bytes"] += d.shuffleReadBytes()
                    counters["shuffle_write_bytes"] += d.shuffleWriteBytes()
                    counters["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        for i, s in spans:
            if s["parent"] is None:
                s["counters"] = dict(counters)
        out.update({"spark." + k: v for k, v in counters.items()})
        return out

    def _inside(self, span: dict, ancestor: int) -> bool:
        p = span["parent"]
        while p is not None:
            if p == ancestor:
                return True
            p = self.spans[p]["parent"]
        return False


# ------------------------------------------------------------------ checks


def canon_check(cols, rows, oracle) -> list[str]:
    """Compare a collected result with an oracle answer the way the repo's
    correctness gate does: canon-safe types, row count, column names and the
    order-independent value digest."""
    from tools.check_correctness import table_digest

    want_cols, want_rows, risky = oracle
    problems = list(risky)
    if len(rows) != len(want_rows):
        problems.append(f"rowcount {len(rows)} != {len(want_rows)}")
    if sorted(cols) != sorted(want_cols):
        problems.append(f"columns {sorted(cols)} != {sorted(want_cols)}")
    if not problems and table_digest(cols, rows) != table_digest(want_cols, want_rows):
        problems.append("value digest mismatch")
    return problems


def duck_oracle(tables_dir: str, names: list[str], queries: list[str]):
    """Run the repo's unchanged ``oracle_sql()`` twins over ``tables_dir``."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_correctness import risky_duck_types

    sqls = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for t in names:
            path = os.path.join(tables_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q in queries:
            risky = [f"oracle types not canon-safe: {b}" for b in risky_duck_types(con, sqls[q])]
            cur = con.execute(sqls[q])
            cols = [d[0] for d in cur.description]
            rows = [tuple(r[c] for c in cols) for r in cur.fetch_arrow_table().to_pylist()]
            out[q] = (cols, rows, risky)
    finally:
        con.close()
    return out


def spark_rows(df):
    from tools.check_correctness import risky_spark_types

    risky = [f"spark types not canon-safe: {b}" for b in risky_spark_types(df)]
    return list(df.columns), [tuple(r) for r in df.collect()], risky


# ------------------------------------------------------------------ workloads


class RulesDeep:
    """A seeded rule chain folded over in-memory rows, validation, plug
    details and metrics on; checked against DuckDB running the same fold."""

    def __init__(self, seed: int, work: str, sizes: dict):
        self.seed, self.sizes = seed, sizes

    def setup(self, spark) -> None:
        import inputs
        from sparkplug_spark import rule_from_dict

        rules = inputs.gen_rules(self.seed, self.sizes["rules"], self.sizes["max_actions"])
        rows = inputs.gen_rows(self.seed, self.sizes["rows"])
        self.rules = [rule_from_dict(r) for r in rules]
        self.df = spark.createDataFrame(rows).localCheckpoint(eager=True)
        self.want = inputs.rules_oracle(rows, rules)

    def job(self, spark, tr: Tracer):
        from pyspark.sql import Observation

        from sparkplug_spark import SparkPlug
        from sparkplug_spark.engine import PlugRuleValidationException

        obs = Observation()
        sp = SparkPlug.builder(spark).enable_plug_details().enable_metrics(obs).create()
        with tr.span("validation.validate"):
            errors = sp.validate(self.df.schema, self.rules)
        if errors:
            raise PlugRuleValidationException(errors)
        with tr.span("engine.build"):
            out = sp.plug(self.df, self.rules)
        with tr.span("catalyst.plan"):
            out._jdf.queryExecution().executedPlan()
        with tr.span("sink.write"):
            out.write.format("noop").mode("overwrite").save()
        return out, obs.get

    def check(self, spark, result, traced: bool):
        import inputs

        out, observed = result
        sql = inputs.digest_sql(
            f"array_join(transform({inputs.DETAILS}, d -> d.name), ',')",
            f"size({inputs.DETAILS}) > 0",
            lambda h: f"cast(conv({h}, 16, 10) as bigint)",
        )
        got = tuple(int(v) for v in spark.sql(f"SELECT {sql} FROM {{out}}", out=out).first())
        problems = []
        if got != self.want:
            problems.append(f"digest {got} != oracle {self.want}")
        if (observed["total"], observed["changed"]) != self.want[:2]:
            problems.append(f"observed {observed} != oracle {self.want[:2]}")
        extra = {}
        if traced:
            plan = out._jdf.queryExecution().optimizedPlan().toString()
            extra["engine.plan_projects"] = len(re.findall(r"(?m)^[\s:|+\-]*Project \[", plan))
        return problems, extra


class GraphPair:
    """Graph fixpoints, then candidate verification, over seeded parquet
    tables: the ``pagerank_incremental`` recipe one public call at a time
    (fold batch 1 into the canonical store, rank it cold, fold batch 2 and
    re-rank warm), then blocked record linkage over customer names, exact
    prefix-filtered Jaccard pairs and the dedup threshold curve over
    documents.  Checked against the repo's ``oracle_sql()`` twins in DuckDB
    over the same files."""

    oracles = ("pagerank_incremental", "blocked_link", "dedup_jaccard_prefix", "dedup_threshold_curve")

    def __init__(self, seed: int, work: str, sizes: dict):
        self.seed, self.sizes = seed, sizes
        self.dir = os.path.join(work, "tables")
        os.environ["SPARK_GRAFT_SF_DIR"] = self.dir

    def setup(self, spark) -> None:
        import inputs

        inputs.write_tables(self.seed, self.dir, **self.sizes)
        self.want = duck_oracle(self.dir, ["orders", "customer", "documents"], list(self.oracles))

    def job(self, spark, tr: Tracer):
        import __spark_entry__ as entry
        from sparkplug_spark.operators import (
            blocked_link,
            dedup_threshold_curve,
            fold_edges,
            jaccard_prefix_pairs,
            pagerank_incremental,
            pagerank_integer,
        )

        b1, b2 = entry._pri_edge_batches(spark, self.dir)
        with tr.span("graphs.fold_edges"):
            store = fold_edges(None, b1).persist()
        with tr.span("graphs.pagerank_integer"):
            ranks1 = pagerank_integer(store, iterations=8, assume_canonical=True)
        with tr.span("graphs.pagerank_incremental"):
            ranks = pagerank_incremental(ranks1, store, b2, iterations=4)
        with tr.span("sink.write"):
            ranks.write.format("noop").mode("overwrite").save()
        cust = spark.read.parquet(os.path.join(self.dir, "customer.parquet"))
        docs = spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
        calls = (
            lambda: blocked_link(
                cust,
                id_col="c_custkey",
                name_col="c_name",
                block_cols=("c_nationkey", "c_mktsegment"),
                max_distance=2,
            ),
            lambda: jaccard_prefix_pairs(docs, n=3, threshold=0.6),
            lambda: dedup_threshold_curve(docs),
        )
        outs = [ranks]
        for name, call in zip(PAIR_CALLS, calls):
            with tr.span(name):
                out = call()
                with tr.span("sink.write"):
                    out.write.format("noop").mode("overwrite").save()
            outs.append(out)
        return outs

    def check(self, spark, result, traced: bool):
        problems, extra = [], {}
        for name, q, df in zip((None,) + PAIR_CALLS, self.oracles, result):
            cols, rows, risky = spark_rows(df)
            problems += [f"{q}: {p}" for p in risky + canon_check(cols, rows, self.want[q])]
            if name is not None:
                extra[name + ".rows_out"] = len(rows)
        return problems, extra


WORKLOADS = {"rules_deep": RulesDeep, "graph_pair": GraphPair}


# ------------------------------------------------------------------ driver


def run(workload: str, seed: int, seconds: float, trace: bool, sizes: dict | None = None):
    """One benchmark run; returns the result object printed last."""
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    wl = WORKLOADS[workload](seed, work, sizes or SIZES[workload])
    spark = None
    try:
        setups = []
        t0 = T_START
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
                t0 = time.perf_counter()
            spark = start_session(work)
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)
        keep = persistent_rdd_ids(spark)
        tracer = Tracer(spark)
        jobs: list[tuple[float, bool, dict]] = []  # (job_s, traced, layers)
        failed = 0
        warm_end = None
        while (
            warm_end is None
            or len(jobs) < 1 + MIN_WARM[workload]
            or time.perf_counter() < warm_end
        ):
            n = len(jobs)
            # cold job and every other warm job are traced in a traced run
            traced = trace and n % 2 == 0
            tracer.on, tracer.job_no = traced, n
            t = time.perf_counter()
            try:
                with tracer.span("job"):
                    result = wl.job(spark, tracer)
                dt = time.perf_counter() - t
                layers = tracer.finish_job() if traced else {}
                tracer.on = False
                problems, extra = wl.check(spark, result, traced)
                layers.update(extra)
                del result  # released before the hygiene, not in the next job
            except Exception as e:  # a failed job counts; the run goes on
                tracer.on = False
                dt, problems, layers = time.perf_counter() - t, [f"{type(e).__name__}: {e}"], {}
            if problems:
                failed += 1
                print(f"job {n} FAILED: " + "; ".join(problems)[:2000], file=sys.stderr)
            layers["caching.persisted_after"] = hygiene(spark, keep)
            jobs.append((dt, traced, layers))
            if warm_end is None:
                warm_end = time.perf_counter() + seconds
        rss = peak_rss_mb(spark)
        e2e = {
            "setup_s": statistics.median(setups),
            "job_s": statistics.median(dt for dt, _, _ in jobs[1:]),
        }
        if trace:
            metrics = layer_metrics(jobs)
            metrics["jvm.peak_rss_mb"]["value"] = rss
            write_trace(workload, seed, tracer)
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        summary = {k: [v, END_TO_END[k]] for k, v in e2e.items()}
        summary["cold_job_s"] = [jobs[0][0], "s"]
        summary["fail_ratio"] = [failed / len(jobs), "ratio"]
        summary["peak_rss_mb"] = [rss, "MB"]
        summary.update(workload=workload, seed=seed, setups_s=setups, jobs_s=[j[0] for j in jobs])
        print("summary " + json.dumps(summary))
        return {"correct": failed == 0, "attempted": len(jobs), "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)


def layer_metrics(jobs) -> dict:
    traced = [layers for _, on, layers in jobs[1:] if on]
    untraced = [dt for dt, on, _ in jobs[1:] if not on]
    out = {}
    for name, unit in PER_LAYER.items():
        vals = [layers.get(name, 0) for layers in traced]
        out[name] = {"value": statistics.median(vals) if vals else 0.0, "unit": unit}
    t_on = [dt for dt, on, _ in jobs[1:] if on]
    if t_on and untraced:
        out["trace.overhead_s"]["value"] = statistics.median(t_on) - statistics.median(untraced)
    return out


def write_trace(workload: str, seed: int, tracer: Tracer) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace-{workload}-{seed}.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "spans": tracer.spans}, f, indent=1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not repo_present():
        print(f"perfbench: no sparkplug_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
