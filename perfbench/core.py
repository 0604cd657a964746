"""Workloads, the closed-loop client and the metrics it reports.

One client runs the workload's operations back to back on
``local[nproc]``: each operation starts when the previous one has
returned. An operation is timed from plan build through the action
that brings its result to the driver:

* a registry query: ``Query.fn(spark, dir)``, then ``toPandas()``
  (the fetch path of ``tools/check_oracle.py``, which the output
  check reuses);
* the ETL import: ``etl.pipeline.build_pipeline``, then
  ``write_parquet`` into Hive-style ``year=/month=`` directories.

A run sets up ``SETUPS`` times (build a session, then one warm pass)
and reports the median as ``setup_s``. After ``WARMUP_S`` of untimed
passes it runs passes for ``seconds`` and reports the sum over
operations of each operation's median time as ``pass_s``. Both are net
of hypervisor steal (see :func:`run_share`). Outputs are checked after
every execution, outside the timed region, and the persisted RDDs an
execution left behind are swept after it, also untimed.

With tracing on, every second pass is traced: job groups tag its
operations and the status store supplies their jobs and stages. The
untraced passes in between give the tracing overhead.
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import time
import traceback
from dataclasses import dataclass

from perfbench import gen
from perfbench.trace import STAGE_FIELDS, SparkProbe, Spans, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "1536m"  # driver JVM heap; every task runs in it under local[n]
YOUNG = "256m"  # its young generation
SETUPS = 3  # session set-ups per run; setup_s is their median
WARMUP_S = 6.0  # untimed passes after set-up, before the timed ones


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...] = ()  # registry query names; empty for the ETL import
    scale: float = 0.0  # star-schema scale factor for query workloads
    csv_rows: int = 0  # tweets CSV rows for the ETL import


# Why each workload exists, and its sizes: perfbench/METRICS.md.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("etl_import", csv_rows=60_000),
        Workload("sql_scan", ops=("q1_pricing_summary", "q3_shipping_priority"), scale=0.2),
        Workload(
            "llm_curation",
            ops=("dedup_semdedup", "multimodal_jpeg_roundtrip", "graph_label_propagation"),
            scale=0.01,
        ),
    )
}

# Smoke mode runs each query family's full operation list on tiny
# inputs, so every one of them keeps passing its output check on
# generated data.
SMOKE_OPS = {
    "sql_scan": (
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
        "join_broadcast_dim", "subq_in_heavy_orders", "agg_rollup",
        "window_topk_per_group", "asof_join_purchase_view",
        "setop_union_by_name", "window_range_frame", "events_funnel",
        "join_dpp_prune",
    ),
    "llm_curation": (
        "dedup_minhash_lsh", "dedup_simhash", "text_quality", "graph_pagerank",
        "graph_label_propagation", "dedup_semdedup", "tokenize_bpe_encode",
        "multimodal_jpeg_roundtrip", "quality_classifier_score",
        "doc_tfidf_cosine_topk",
    ),
}
SMOKE_SCALE = 0.001
SMOKE_CSV_ROWS = 10_000

END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "success_rate": ("ratio", "higher"),
}

_SELF = ("pass", "op", "queries.plan", "queries.collect", "etl.build",
         "etl.write", "spark.job", "spark.stage")
PER_LAYER = {
    "session.build_s": ("s", "lower"),
    "queries.plan_s": ("s", "lower"),
    "queries.plan_jobs": ("count", "lower"),
    "queries.collect_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.between_jobs_s": ("s", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.executor_noncpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.input_mb": ("MB", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.error_log_lines": ("count", "lower"),
    "checkpoint.rdds_left": ("count", "lower"),
    "checkpoint.mb_left": ("MB", "lower"),
    "checkpoint.release_s": ("s", "lower"),
    "etl.build_s": ("s", "lower"),
    "etl.write_s": ("s", "lower"),
    "etl.scan_stage_run_s": ("s", "lower"),
    "etl.write_stage_run_s": ("s", "lower"),
    "etl.shuffle_write_mb": ("MB", "lower"),
    "etl.rows_in": ("count", "higher"),
    "etl.rows_written": ("count", "higher"),
    "etl.rows_dropped": ("count", "lower"),
    "etl.partitions_written": ("count", "lower"),
    "etl.files_written": ("count", "lower"),
    "etl.bytes_out_per_byte_in": ("ratio", "lower"),
    "etl.rows_per_s": ("rows/s", "higher"),
    **{f"self.{name}_s": ("s", "lower") for name in _SELF},
    "pass.wall_s": ("s", "lower"),
    "host.steal_share": ("ratio", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


class QueryOp:
    """A registry query, checked against its DuckDB oracle."""

    plan_span, act_span = "queries.plan", "queries.collect"

    def __init__(self, name: str, query, data_dir: str, checker, oracle):
        self.name, self.query, self.data_dir = name, query, data_dir
        self.checker, self.oracle = checker, oracle
        self.stats: dict[str, float] = {}

    def plan(self, spark):
        return self.query.fn(spark, self.data_dir)

    def act(self, df):
        return df.toPandas()

    def check(self, pdf) -> str | None:
        cols, n_rows, digest = self.oracle
        rows = self.checker._pandas_rows(pdf)
        got_cols = [str(c) for c in pdf.columns]
        if len(rows) != n_rows:
            return f"rowcount {len(rows)} != oracle {n_rows}"
        if sorted(got_cols) != cols:
            return f"columns {sorted(got_cols)} != oracle {cols}"
        if self.checker.digest(rows, got_cols) != digest:
            return "value digest differs from the oracle"
        return None


class EtlOp:
    """The reference pipeline: schema, twitter cleanse, dateEnrich
    tweet_time, partitionCols year,month."""

    name = "etl_import"
    plan_span, act_span = "etl.build", "etl.write"

    def __init__(self, tweets: dict, dest: str):
        from hdfs_parquet_importer_spark.etl.pipeline import PipelineOptions

        self.tweets, self.dest = tweets, dest
        self.opts = PipelineOptions(
            src_file=tweets["csv"],
            dest_file=dest,
            schema_file=tweets["schema"],
            twitter_cleanse=True,
            date_enrich="tweet_time",
            partition_cols=["year", "month"],
        )
        self.stats: dict[str, float] = {}

    def plan(self, spark):
        from hdfs_parquet_importer_spark.etl.pipeline import build_pipeline

        return build_pipeline(spark, self.opts)

    def act(self, df):
        from hdfs_parquet_importer_spark.etl.pipeline import write_parquet

        write_parquet(df, self.dest, self.opts.partition_cols)
        return self.dest

    def check(self, dest: str) -> str | None:
        import pyarrow.parquet as pq

        files, partitions = [], set()
        for dirpath, _, names in os.walk(dest):
            for n in names:
                if n.endswith(".parquet"):
                    files.append(os.path.join(dirpath, n))
                    rel = os.path.relpath(dirpath, dest).split(os.sep)
                    partitions.add(tuple(p.split("=", 1)[1] for p in rel))
        rows = sum(pq.read_metadata(f).num_rows for f in files)
        self.stats = {
            "etl.rows_in": self.tweets["rows"],
            "etl.rows_written": rows,
            "etl.rows_dropped": self.tweets["rows"] - rows,
            "etl.partitions_written": len(partitions),
            "etl.files_written": len(files),
            "etl.bytes_out_per_byte_in":
                sum(os.path.getsize(f) for f in files) / self.tweets["csv_bytes"],
        }
        expected_rows = self.tweets["rows"] - self.tweets["corrupt_rows"]
        if rows != expected_rows:
            return f"rows written {rows} != rows in - planted corrupt {expected_rows}"
        expected = {tuple(p) for p in self.tweets["partitions"]}
        if partitions != expected:
            return f"partitions {sorted(partitions ^ expected)[:4]} differ from expected"
        return None


def _query_ops(op_names, star: dict) -> list[QueryOp]:
    """Registry queries over the generated tables, each with its oracle
    answer computed by DuckDB up front (untimed)."""
    import duckdb

    from hdfs_parquet_importer_spark.queries import registry
    from hdfs_parquet_importer_spark.tables import TABLE_NAMES, table_path

    # tools/ is not a package: load check_oracle.py by path.
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    checker = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(checker)
    reg = registry()
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{table_path(star['dir'], t)}')"
            )
        ops = []
        for name in op_names:
            query = reg[name]
            cols, rows = checker.fetch_oracle(con, query.oracle)
            ops.append(QueryOp(
                name, query, star["dir"], checker,
                (sorted(cols), len(rows), checker.digest(rows, cols)),
            ))
        return ops
    finally:
        con.close()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    """One benchmark run: inputs, set-ups, timed passes, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 cache: str, log_path: str, console, smoke: bool = False):
        self.w = WORKLOADS[workload]
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.cache, self.log_path, self.console = cache, log_path, console
        # Smoke runs check that everything runs and reports, not speed.
        self.smoke = smoke
        self.setups, self.warmup = (1, 0.0) if smoke else (SETUPS, WARMUP_S)
        self.spark = None
        self.attempted = self.failed = 0
        self.spans = Spans()
        self.session_builds: list[float] = []

    # -- inputs (never timed) ------------------------------------------
    def _ops(self) -> list:
        w = self.w
        if not w.ops:
            rows = SMOKE_CSV_ROWS if self.smoke else w.csv_rows
            tweets = gen.tweets_csv(self.cache, self.seed, rows)
            return [EtlOp(tweets, os.path.join(self.cache, "etl-out", "tweets.parquet"))]
        scale = SMOKE_SCALE if self.smoke else w.scale
        names = SMOKE_OPS[w.name] if self.smoke else w.ops
        return _query_ops(names, gen.star_schema(self.cache, self.seed, scale))

    # -- session -------------------------------------------------------
    def _build_session(self):
        from hdfs_parquet_importer_spark.session import build_session

        cpus = len(os.sched_getaffinity(0))
        tmp = os.path.join(self.cache, "tmp")
        return build_session(
            "perfbench",
            threads=cpus,
            shuffle_partitions=2 * cpus,
            log_level="ERROR",
            conf={
                # A fixed heap with a fixed young generation, not
                # pre-touched. Young collections reuse the same young
                # regions, so resident memory is the native part, the
                # young generation and the old generation's high-water
                # mark: it grows with what the driver holds on to.
                # (With an adaptive young generation eden grows to fill
                # the heap and pins peak RSS near -Xmx; with a growing
                # heap, peak RSS follows timing-driven expansions.)
                "spark.driver.memory": HEAP,
                "spark.driver.extraJavaOptions":
                    f"-Xms{HEAP} -Xmn{YOUNG} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.cache, "warehouse"),
            },
        )

    # -- one execution ---------------------------------------------------
    def _execute(self, op, traced: bool, tag: str, parent: int | None) -> dict:
        sc = self.spark.sparkContext
        rec = {"op": op.name, "wall": None, "layers": {}}
        group = f"perfbench/{tag}/{op.name}"
        self.attempted += 1
        try:
            if traced:
                sc.setJobGroup(f"{group}/plan", f"{op.name} plan")
            k0 = cpu_ticks()
            e0, t0 = time.time(), time.perf_counter()
            df = op.plan(self.spark)
            t1 = time.perf_counter()
            if traced:
                sc.setJobGroup(f"{group}/act", f"{op.name} action")
            out = op.act(df)
            t2, e1 = time.perf_counter(), time.time()
            net = (t2 - t0) * run_share(k0, cpu_ticks())
            problem = op.check(out)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            problem = f"error\n{traceback.format_exc()}"
        finally:
            if traced:
                sc._jsc.clearJobGroup()
        if problem is not None:
            self.failed += 1
            self._say(f"{op.name}: {problem}")
        else:
            rec.update(wall=t2 - t0, net=net, plan=t1 - t0, act=t2 - t1)
        layers = rec["layers"]
        if traced:
            layers["checkpoint.rdds_left"], layers["checkpoint.mb_left"] = (
                self.probe.persisted()
            )
        r0 = time.perf_counter()
        for rdd in sc._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        layers["checkpoint.release_s"] = time.perf_counter() - r0
        if traced and problem is None:
            layers.update(op.stats)
            layers.update(self._trace(op, group, e0, e0 + (t1 - t0), e1, parent))
        return rec

    def _trace(self, op, group, e0, e_mid, e1, parent) -> dict:
        """Spans and per-layer sums for one traced execution."""
        self.probe.settle()
        op_span = self.spans.add("op", e0, e1, parent, op=op.name)
        plan_jobs = self.probe.jobs(f"{group}/plan")
        act_jobs = self.probe.jobs(f"{group}/act")
        out = {f: 0.0 for f in STAGE_FIELDS}
        seen, job_iv = set(), []
        etl = {"etl.scan_stage_run_s": 0.0, "etl.write_stage_run_s": 0.0}
        for name, lo, hi, jobs in ((op.plan_span, e0, e_mid, plan_jobs),
                                   (op.act_span, e_mid, e1, act_jobs)):
            step = self.spans.add(name, lo, hi, op_span)
            for job in jobs:
                js, je = job["start"] or lo, job["end"] or hi
                job_iv.append((js, je))
                jspan = self.spans.add("spark.job", js, je, step, job=job["id"])
                for st in job["stages"]:
                    if st["id"] in seen:
                        continue
                    seen.add(st["id"])
                    self.spans.add("spark.stage", st["start"] or js,
                                   st["end"] or je, jspan, stage=st["id"])
                    for f in STAGE_FIELDS:
                        out[f] += st[f]
                    # The ETL plan has a CSV scan stage (reads input) and
                    # a partitioned write stage (writes output).
                    if st["spark.input_mb"] > 0:
                        etl["etl.scan_stage_run_s"] += st["spark.executor_run_s"]
                    if st["output_mb"] > 0:
                        etl["etl.write_stage_run_s"] += st["spark.executor_run_s"]
        out["spark.jobs"] = len(plan_jobs) + len(act_jobs)
        out["spark.between_jobs_s"] = (e1 - e0) - union_length(job_iv, e0, e1)
        out["spark.executor_noncpu_s"] = (
            out["spark.executor_run_s"] - out["spark.executor_cpu_s"]
        )
        if isinstance(op, EtlOp):
            etl["etl.shuffle_write_mb"] = out["spark.shuffle_write_mb"]
            out.update(etl)
        else:
            out["queries.plan_jobs"] = len(plan_jobs)
        return out

    def _pass(self, ops, traced: bool, tag: str) -> tuple[list[dict], int | None]:
        span = None
        start = time.time()
        if traced:
            span = self.spans.add("pass", start, start, self.root, tag=tag)
        recs = [self._execute(op, traced, tag, span) for op in ops]
        if traced:
            self.spans.items[span]["end"] = time.time()
        return recs, span

    def _say(self, msg: str) -> None:
        print(msg, file=self.console, flush=True)

    # -- the run ---------------------------------------------------------
    def run(self) -> dict:
        ops = self._ops()
        setup_s = []
        self.root = self.spans.add("workload", time.time(), time.time(), None,
                                   workload=self.w.name, seed=self.seed)
        try:
            for k in range(self.setups):
                if self.spark is not None:
                    self.spark.stop()
                k0, t0 = cpu_ticks(), time.perf_counter()
                self.spark = self._build_session()
                self.session_builds.append(time.perf_counter() - t0)
                self._pass(ops, False, f"setup{k}")
                setup_s.append((time.perf_counter() - t0) * run_share(k0, cpu_ticks()))
            # The JIT keeps speeding the passes up for several more
            # passes after set-up; time only once that has settled.
            warm_end = time.perf_counter() + self.warmup
            warm = []
            while time.perf_counter() < warm_end:
                warm.append(self._pass(ops, False, "warmup")[0])
            self.probe = SparkProbe(self.spark.sparkContext)
            passes: list[tuple[bool, list[dict], int | None]] = []
            k0, deadline = cpu_ticks(), time.perf_counter() + self.seconds
            while True:
                traced = self.traced and len(passes) % 2 == 1
                recs, span = self._pass(ops, traced, f"pass{len(passes)}")
                passes.append((traced, recs, span))
                enough = not self.traced or len(passes) >= 2
                if enough and time.perf_counter() >= deadline:
                    break
            self.steal_share = 1.0 - run_share(k0, cpu_ticks())
            self.spans.items[self.root]["end"] = time.time()
            rss = _peak_rss_mb(self.spark)
        finally:
            if self.spark is not None:
                self.spark.stop()
                _stop_jvm()
        if self.traced:
            metrics = self._layer_metrics(ops, passes)
        else:
            metrics = self._end_to_end(ops, passes, setup_s, rss)
        self._write_record(setup_s, warm, passes)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def _write_record(self, setup_s, warm, passes) -> None:
        """Per-run detail for later comparison: every set-up and every
        operation's (wall, net of steal) seconds, in run order."""
        def times(recs):
            return {r["op"]: [r["wall"], r.get("net")] for r in recs}

        out = os.path.join(self.cache, "runs")
        os.makedirs(out, exist_ok=True)
        name = f"{self.w.name}-s{self.seed}-t{int(self.traced)}.json"
        with open(os.path.join(out, name), "w") as fh:
            json.dump({
                "setup_s": setup_s,
                "session_build_s": self.session_builds,
                "steal_share": self.steal_share,
                "warmup": [times(recs) for recs in warm],
                "passes": [{"traced": t, "ops": times(recs)} for t, recs, _ in passes],
            }, fh, indent=1)

    @staticmethod
    def _pass_s(ops, passes, traced: bool, key: str = "net") -> float:
        """Sum over operations of the median ``key`` time across the
        traced (or untraced) timed passes."""
        samples = {op.name: [] for op in ops}
        for t, recs, _ in passes:
            if t == traced:
                for r in recs:
                    if r["wall"] is not None:
                        samples[r["op"]].append(r[key])
        return sum(_median(v) for v in samples.values())

    def _end_to_end(self, ops, passes, setup_s, rss) -> dict:
        values = {
            "setup_s": _median(setup_s),
            "pass_s": self._pass_s(ops, passes, False),
            "peak_rss_mb": rss,
            "success_rate": (self.attempted - self.failed) / self.attempted,
        }
        return {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in values.items()}

    def _layer_metrics(self, ops, passes) -> dict:
        per_pass = []
        for traced, recs, span in passes:
            if not traced:
                continue
            sums: dict[str, float] = {}
            for r in recs:
                for k, v in r["layers"].items():
                    sums[k] = sums.get(k, 0) + v
                if r["wall"] is not None:
                    kind = "etl" if r["op"] == EtlOp.name else "queries"
                    first, second = (("build_s", "write_s") if kind == "etl"
                                     else ("plan_s", "collect_s"))
                    sums[f"{kind}.{first}"] = sums.get(f"{kind}.{first}", 0) + r["plan"]
                    sums[f"{kind}.{second}"] = sums.get(f"{kind}.{second}", 0) + r["act"]
            for name, v in self.spans.self_times(self.spans.descendants(span)).items():
                sums[f"self.{name}_s"] = v
            if sums.get("etl.write_s"):
                sums["etl.rows_per_s"] = sums["etl.rows_in"] / sums["etl.write_s"]
            per_pass.append(sums)
        values = {k: _median([p.get(k, 0.0) for p in per_pass]) for k in PER_LAYER}
        values["session.build_s"] = _median(self.session_builds)
        values["spark.error_log_lines"] = _error_lines(self.log_path)
        values["host.steal_share"] = self.steal_share
        values["pass.wall_s"] = self._pass_s(ops, passes, False, "wall")
        values["trace.overhead_s"] = (
            self._pass_s(ops, passes, True) - self._pass_s(ops, passes, False)
        )
        trace_dir = os.path.join(self.cache, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        self.spans.write(os.path.join(trace_dir, f"{self.w.name}-s{self.seed}.json"))
        return {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in values.items()}


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks summed over all CPUs, from /proc/stat.
    Steal is time a CPU wanted to run but the hypervisor ran another
    guest instead."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal


def run_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the wanted CPU time that the CPUs really ran between
    two :func:`cpu_ticks` readings (1.0 on a host with no steal)."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return busy / (busy + steal) if busy + steal > 0 else 1.0


def _stop_jvm() -> None:
    """End the JVM pyspark launched and wait for it to exit. The JVM
    exits when its stdin closes; without the wait it can outlive us."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (which runs every task in local mode)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _error_lines(log_path: str) -> int:
    with open(log_path, errors="replace") as fh:
        return sum(1 for line in fh if " ERROR " in line)
