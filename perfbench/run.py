#!/usr/bin/env python3
"""Benchmark of the replica engine: one workload per run, closed loop.

    python3 perfbench/run.py --workload cdc_burst --seed 1 --seconds 6 --trace 0

Run from the repository root. Workloads:

  cdc_burst           a ~75k-row lineitem entity; every round lands a ~2%
                      change batch, runs one scheduler tick
                      (Engine.sync_due) and then a fixed read set (SOQL
                      COUNT(), a filtered SOQL select, an Engine.sql
                      group-by). Each tick and read is checked against a
                      DuckDB reference of pgsf's merge rules.
  analytics_headline  the 14 headline analytics queries, each built and
                      fully materialized with the noop writer; their full
                      results are checked once per run, outside the timed
                      passes, against DuckDB oracle signatures.

One process sends every operation and starts the next only after the
previous one returned. Spark runs as local[nproc] with nproc shuffle
partitions. All files go under .perfbench_work/ in the working directory
and are removed at exit. The last line of stdout is the result JSON; a run
record (parallelism, versions, load, steal, wall and CPU samples) goes to
stderr.

The end-to-end timings are CPU seconds: the set-up's, and medians per
operation. On a shared virtual machine the hypervisor's steal moves
wall-clock times of the same code by up to a third between runs, and CPU
seconds far less. Wall times are in the run record and, traced, in the
per-layer metrics.

--trace 1 wraps the engine's layers (spans.py), turns on Spark's event log
and prints the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench_work")

NPROC = len(os.sched_getaffinity(0))

BURST_SF = 0.0125  # lineitem rows ~ 6M x sf: ~75k
BURST_SHARE = 0.02  # change rows per tick, as a share of the entity
WARMUP_ROUNDS = 10  # burst tick CPU levels off after about ten ticks in a fresh JVM
ANALYTICS_SF = 0.01
ANALYTICS_SEED = 1  # fixed: signatures.json is computed for these inputs
GEN_REPS = 3  # input generation is repeated and its median reported

RELATIONAL = [
    "pricing_summary",
    "revenue_by_nation",
    "region_volume",
    "top_orders_per_customer",
    "sessionize",
    "merge_upsert_customer",
    "dedup_exact",
    "quality_score",
]
# bench.py's HEADLINE order: relational and similarity queries interleave
PASS_ORDER = [
    "pricing_summary",
    "revenue_by_nation",
    "region_volume",
    "top_orders_per_customer",
    "sessionize",
    "merge_upsert_customer",
    "dedup_exact",
    "minhash_lsh_pairs",
    "cosine_topk",
    "quality_score",
    "kmeans_clusters",
    "pagerank_neardup",
    "prefix_filter_pairs",
    "lsh_jaccard_verified",
]

READ_COUNT = "SELECT COUNT() FROM lineitem"
READ_SELECT = (
    "SELECT Id, l_extendedprice FROM lineitem "
    "WHERE l_quantity >= 49 AND l_returnflag = 'R'"
)
READ_AGG = (
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS q "
    "FROM lineitem GROUP BY l_returnflag, l_linestatus"
)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def span(tracer, name: str):
    """The tracer's span in a traced run; nothing otherwise."""
    return tracer.span(name) if tracer else contextlib.nullcontext()


# -- Spark session ------------------------------------------------------------


def start_spark(workdir: str, event_dir: str | None):
    from pgsf_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # -Xms = max heap: G1 does not resize the heap by its GC-time
        # heuristics, which follow steal, so the GC work of an operation
        # repeats. Fixed compiler threads live as long as the JVM, so
        # CpuClock can take their CPU out of the JVM's total.
        "spark.driver.extraJavaOptions": (
            f"-Xms2g -XX:-UseDynamicNumberOfCompilerThreads -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        "perfbench",
        master=f"local[{NPROC}]",
        shuffle_partitions=NPROC,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def retained_mb(spark) -> tuple[float, float, float]:
    """Memory the driver JVM still holds once the operations are done, in
    MB: heap in use after a full collection, non-heap in use (metaspace,
    code cache) and NIO buffers. Unlike its resident set, which with a fixed
    heap reads the heap size, this follows what the program keeps."""
    jvm = spark.sparkContext._jvm
    mgmt = jvm.java.lang.management
    # the first collection queues Spark's ContextCleaner, which then drops
    # blocks of broadcasts and shuffles nothing references; the second one
    # frees what it dropped
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    mem = mgmt.ManagementFactory.getMemoryMXBean()
    buffers = jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean")
    return (
        mem.getHeapMemoryUsage().getUsed() / 1e6,
        mem.getNonHeapMemoryUsage().getUsed() / 1e6,
        sum(p.getMemoryUsed() for p in mgmt.ManagementFactory.getPlatformMXBeans(buffers)) / 1e6,
    )


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the driver JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024.0


class CpuClock:
    """CPU seconds (user + system) used so far by every thread of this
    process and, once attached, of the driver JVM since its launch, except
    the JVM's JIT compiler threads. Unlike wall time, it does not count the
    time the hypervisor gives this machine's CPUs to other guests (steal).
    The compiler threads are left out because they compile in the
    background, beside the threads an operation waits for, and in bursts
    that land on one tick or the next; their CPU is kept apart (``jit``)."""

    def __init__(self):
        self.jvm = None
        self.hz = os.sysconf("SC_CLK_TCK")

    def attach(self, spark) -> None:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.jvm = f"/proc/{pid}/stat"
        tasks = f"/proc/{pid}/task"
        self.compilers = []
        for t in os.listdir(tasks):
            try:
                with open(f"{tasks}/{t}/comm") as f:
                    name = f.read()
            except FileNotFoundError:  # a thread that ended meanwhile
                continue
            if "CompilerThre" in name:  # "C1 CompilerThre", "C2 CompilerThre"
                self.compilers.append(f"{tasks}/{t}/stat")
        if not self.compilers:
            raise RuntimeError("no JIT compiler threads found in the driver JVM")

    def _ticks(self, path: str) -> int:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])

    def jit(self) -> float:
        return sum(self._ticks(p) for p in self.compilers) / self.hz

    def __call__(self) -> float:
        total = time.process_time()
        if self.jvm:
            total += self._ticks(self.jvm) / self.hz - self.jit()
        return total


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def run_record(spark) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": NPROC,
        "defaultParallelism": sc.defaultParallelism,
        "master": sc.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "loadavg": os.getloadavg(),
    }


def timed_gen(make):
    """Run ``make`` GEN_REPS times; return its last result and the median
    (CPU seconds, wall seconds) of one generation."""
    cpu, wall, out = [], [], None
    for _ in range(GEN_REPS):
        c0, t0 = time.process_time(), time.perf_counter()
        out = make()
        wall.append(time.perf_counter() - t0)
        cpu.append(time.process_time() - c0)
    return out, (median(cpu), median(wall))


# -- cdc_burst ------------------------------------------------------------------


class Burst:
    """One lineitem entity under ~2% change batches, plus a read set."""

    def __init__(self, args, workdir: str):
        import gen

        self.workdir = workdir
        self.src = os.path.join(workdir, "src")
        tdir = os.path.join(self.src, "lineitem")

        def make():
            shutil.rmtree(self.src, ignore_errors=True)
            os.makedirs(tdir)
            entity = gen.as_entity(gen.star_tables(BURST_SF, args.seed)["lineitem"], args.seed)
            gen.write_tables({"snapshot": entity}, tdir)
            return entity

        self.entity, self.gen_s = timed_gen(make)
        self.warmup_cpu_s: list[float] = []
        self.check_s = 0.0
        self.tdir = tdir
        self.tracer = None
        self.batch_rows = int(self.entity.num_rows * BURST_SHARE)
        self.feed = gen.ChangeFeed(self.entity, args.seed)
        self.samples: dict[str, list] = {
            k: []
            for k in (
                "op_s",
                "read_s",
                "op_cpu_s",
                "read_cpu_s",
                "read.soql_count_s",
                "read.soql_select_s",
                "read.sql_agg_s",
                "written_mb",
                "files_written",
                "buckets_rewritten",
                "buckets_carried",
                "change_rows",
            )
        }

    def setup(self, spark) -> tuple[float, float]:
        """The snapshot load the ticks start from (part of set-up); its
        (CPU seconds, wall seconds)."""
        from pgsf_spark.engine import Engine
        from reference import CdcReference

        self.engine = Engine(spark, self.src, os.path.join(self.workdir, "engine"))
        c0, t0 = self.cpu(), time.perf_counter()
        n = self.engine.bulk_load("lineitem", refresh_minutes=0)
        load = (self.cpu() - c0, time.perf_counter() - t0)
        if n != self.entity.num_rows:
            raise RuntimeError(f"snapshot load kept {n} of {self.entity.num_rows} rows")
        self.ref = CdcReference(self.entity)
        self.wm = self.engine.state.get("lineitem").syncuntil
        self.seq = 0
        return load

    def snapshot_load_s(self, spark) -> float:
        """A warm bulk load of the same snapshot into a fresh replica."""
        from pgsf_spark.engine import Engine

        src = os.path.join(self.workdir, "snap-src")
        os.makedirs(os.path.join(src, "lineitem"))
        os.link(
            os.path.join(self.tdir, "snapshot.parquet"),
            os.path.join(src, "lineitem", "snapshot.parquet"),
        )
        t0 = time.perf_counter()
        Engine(spark, src, os.path.join(self.workdir, "snap")).bulk_load("lineitem")
        return time.perf_counter() - t0

    def round(self, measured: bool) -> tuple[int, int]:
        """Land a batch, tick, run the read set; check everything.
        Returns (operations attempted, operations failed)."""
        import gen
        from reference import WATERMARK_FMT, read_replica, replica_mismatch

        batch = self.feed.batch(self.batch_rows)
        self.seq += 1
        gen.land(batch, self.tdir, self.seq)
        self.ref.apply(batch)

        c0, t0 = self.cpu(), time.perf_counter()
        results = self.engine.sync_due(max_workers=NPROC)
        t1, c1 = time.perf_counter(), self.cpu()
        reads, read_times = self.read_set()
        c2 = self.cpu()

        # -- checks, outside the timed region --
        check_t0 = time.perf_counter()
        problems = []
        if len(results) != 1 or "error" in results[0]:
            problems.append(f"tick result {results}")
        row = self.engine.state.get("lineitem")
        expect = max(
            parse_wm(self.wm), self.ref.max_ts().replace(tzinfo=None)
        ).strftime(WATERMARK_FMT)
        if row.status != "ready":
            problems.append(f"status {row.status}")
        if row.syncuntil < self.wm:
            problems.append(f"watermark moved back {self.wm} -> {row.syncuntil}")
        if row.syncuntil != expect:
            problems.append(f"watermark {row.syncuntil} != reference {expect}")
        self.wm = row.syncuntil
        version = self.engine.store.current_version_path("lineitem")
        bad = replica_mismatch(read_replica(version, self.ref.schema), self.ref.table)
        if bad:
            problems.append(f"replica: {bad}")
        read_failed = self.check_reads(reads)
        self.check_s += time.perf_counter() - check_t0
        if problems:
            log(f"round {self.seq}: tick FAILED: {problems}")
        if read_failed:
            log(f"round {self.seq}: reads FAILED: {read_failed}")
        if not measured:
            self.warmup_cpu_s.append(c1 - c0)
        else:
            s = self.samples
            s["op_s"].append(t1 - t0)
            s["op_cpu_s"].append(c1 - c0)
            s["read_s"].append(sum(read_times))
            s["read_cpu_s"].append(c2 - c1)
            for k, v in zip(("read.soql_count_s", "read.soql_select_s", "read.sql_agg_s"), read_times):
                s[k].append(v)
            s["change_rows"].append(batch.num_rows)
            self.account_files(version)
        return 4, int(bool(problems)) + len(read_failed)

    def read_set(self):
        e = self.engine
        out, times = [], []
        for name, run in (
            ("read.soql_count", lambda: e.soql(READ_COUNT)),
            ("read.soql_select", lambda: [tuple(r) for r in e.soql(READ_SELECT).collect()]),
            ("read.sql_agg", lambda: [tuple(r) for r in e.sql(READ_AGG).collect()]),
        ):
            t0 = time.perf_counter()
            with span(self.tracer, name):
                out.append(run())
            times.append(time.perf_counter() - t0)
        return out, times

    def check_reads(self, reads) -> list[str]:
        ref = self.ref
        expect = [
            ref.query("SELECT count(*) FROM ref WHERE NOT IsDeleted")[0][0],
            ref.query(READ_SELECT.replace("FROM lineitem", "FROM ref")),
            [
                (a, b, int(n), float(q))
                for a, b, n, q in ref.query(READ_AGG.replace("FROM lineitem", "FROM ref"))
            ],
        ]
        got = [reads[0], sorted(reads[1]), sorted((a, b, int(n), float(q)) for a, b, n, q in reads[2])]
        names = ("soql_count", "soql_select", "sql_agg")
        return [n for n, g, x in zip(names, got, expect) if g != x]

    def account_files(self, version: str) -> None:
        """New bytes of the published version: files with one link are new;
        carried buckets are hardlinks of the previous version's files."""
        with open(os.path.join(version, "_MANIFEST.json")) as f:
            rewritten = len(json.load(f).get("rewritten_partitions", []))
        buckets = [d for d in os.listdir(version) if d.startswith("pgsf_bucket=")]
        files = new_bytes = 0
        for d in buckets:
            for name in os.listdir(os.path.join(version, d)):
                st = os.stat(os.path.join(version, d, name))
                if name.endswith(".parquet") and st.st_nlink == 1:
                    files += 1
                    new_bytes += st.st_size
        s = self.samples
        s["written_mb"].append(new_bytes / 1e6)
        s["files_written"].append(files)
        s["buckets_rewritten"].append(rewritten)
        s["buckets_carried"].append(len(buckets) - rewritten)


def parse_wm(s: str):
    from datetime import datetime

    from reference import WATERMARK_FMT

    return datetime.strptime(s, WATERMARK_FMT)


# -- analytics_headline -------------------------------------------------------


class Analytics:
    """The 14 headline queries over generated star + text + vector tables."""

    def __init__(self, args, workdir: str):
        import gen
        from reference import tables_digest

        self.data = os.path.join(workdir, "data")

        def make():
            tabs = {
                **gen.star_tables(ANALYTICS_SF, ANALYTICS_SEED),
                **gen.extra_tables(ANALYTICS_SF, ANALYTICS_SEED),
            }
            gen.write_tables(tabs, self.data)
            return tabs

        tabs, self.gen_s = timed_gen(make)
        with open(os.path.join(HERE, "signatures.json")) as f:
            self.signatures = json.load(f)
        if self.signatures["data_sha256"] != tables_digest(tabs):
            raise RuntimeError(
                "generated analytics inputs differ from the ones signatures.json "
                "was computed for; rerun perfbench/oracle.py"
            )
        self.samples: dict[str, list] = {
            "op_s": [], "read_s": [], "op_cpu_s": [], "read_cpu_s": []
        }
        self.per_query: dict[str, dict[str, list]] = {
            q: {"build_s": [], "exec_s": [], "plan_ms": []} for q in PASS_ORDER
        }
        self.tracer = None

    def setup(self, spark) -> tuple[float, float]:
        return 0.0, 0.0

    def check_pass(self, spark) -> None:
        """Collect every query's full result once and compare it with the
        DuckDB oracle signature (the warm-up pass; not timed)."""
        from pgsf_spark.analytics.registry import QUERIES
        from reference import result_signature

        self.wrong = set()
        for q in PASS_ORDER:
            try:
                df = QUERIES[q].fn(spark, self.data)
                sig = result_signature(df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # noqa: BLE001 -- a failing query is a failed op
                log(f"{q}: raised {type(e).__name__}: {e}")
                self.wrong.add(q)
                continue
            if sig != self.signatures["queries"][q]:
                log(f"{q}: result {sig} != oracle {self.signatures['queries'][q]}")
                self.wrong.add(q)

    def round(self, measured: bool) -> tuple[int, int]:
        from pgsf_spark.analytics.registry import QUERIES

        spark = self.spark
        times, cpu = {}, {}
        for q in PASS_ORDER:
            c0 = self.cpu()
            t0 = time.perf_counter()
            with span(self.tracer, f"q.{q}.build"):
                df = QUERIES[q].fn(spark, self.data)
            t1 = time.perf_counter()
            plan_ms = plan_phases_ms(df) if self.tracer else 0.0
            t2 = time.perf_counter()
            with span(self.tracer, f"q.{q}.exec"):
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            times[q] = (t1 - t0) + (t3 - t2)
            cpu[q] = self.cpu() - c0
            if measured:
                pq_ = self.per_query[q]
                pq_["build_s"].append(t1 - t0)
                pq_["exec_s"].append(t3 - t2)
                pq_["plan_ms"].append(plan_ms)
        if measured:
            self.samples["op_s"].append(sum(times.values()))
            self.samples["read_s"].append(sum(times[q] for q in RELATIONAL))
            self.samples["op_cpu_s"].append(sum(cpu.values()))
            self.samples["read_cpu_s"].append(sum(cpu[q] for q in RELATIONAL))
        return len(PASS_ORDER), len(self.wrong)


def plan_phases_ms(df) -> float:
    """Analysis + optimization + planning time from the query execution's
    phase tracker (forces physical planning of the DataFrame)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        if opt.isDefined():
            total += opt.get().durationMs()
    return float(total)


# -- per-layer metrics and main -------------------------------------------------


def per_layer(wl, tracer, jobs, rounds: set[int], session_s: float, units: dict) -> dict:
    """Per-layer metrics of a traced run; 0 for layers the workload does
    not exercise."""
    out = {n: 0.0 for n in units}
    out["setup.session_s"] = session_s
    mj = [j for j in jobs if j.round in rounds]

    def span_s(name):
        by_round: dict[int, float] = {}
        for s in tracer.by_name(name, rounds):
            by_round[s.round] = by_round.get(s.round, 0.0) + s.seconds
        return median(list(by_round.values()))

    def per_round(sel, attr=None):
        by_round = {r: 0.0 for r in rounds}
        for j in mj:
            if sel(j):
                by_round[j.round] += 1 if attr is None else getattr(j, attr)
        return median(list(by_round.values()))

    if isinstance(wl, Burst):
        s = wl.samples
        sync_job = lambda j: j.root == "sync.table"  # noqa: E731
        starts = {sp.round: sp.start for sp in tracer.by_name("sync.run_due", rounds)}
        out.update(
            {
                "sync.table_s": span_s("sync.table"),
                "sync.jobs": per_round(sync_job),
                "sync.tasks": per_round(sync_job, "tasks"),
                "sync.wait_s": median(
                    [sp.start - starts[sp.round] for sp in tracer.by_name("sync.table", rounds)]
                ),
                "sync.task_run_s": per_round(sync_job, "run_ms") / 1e3,
                "sync.task_cpu_s": per_round(sync_job, "cpu_ns") / 1e9,
                "sync.shuffle_mb": per_round(sync_job, "shuffle_write") / 1e6,
                "sync.spill_mb": per_round(sync_job, "spill") / 1e6,
                "sync.rows_read_per_change": per_round(sync_job, "input_records")
                / median(s["change_rows"]),
                "sync.snapshot_s": wl.snapshot_s,
                "source.incremental_s": span_s("source.incremental"),
                "merge.build_s": span_s("merge.build"),
                "store.write_s": span_s("store.write"),
                "store.read_s": span_s("store.read"),
                "store.buckets_rewritten": median(s["buckets_rewritten"]),
                "store.buckets_carried": median(s["buckets_carried"]),
                "store.files_written": median(s["files_written"]),
                "store.written_mb": median(s["written_mb"]),
                "state.claim_s": span_s("state.claim"),
                "state.release_s": span_s("state.release"),
                "read.soql_count_s": median(s["read.soql_count_s"]),
                "read.soql_select_s": median(s["read.soql_select_s"]),
                "read.sql_agg_s": median(s["read.sql_agg_s"]),
                "read.input_mb": per_round(
                    lambda j: (j.root or "").startswith("read."), "input_bytes"
                )
                / 1e6,
                "traced.op_s": median(s["op_s"]),
                "traced.read_s": median(s["read_s"]),
            }
        )
    else:
        out["tables.schema_jobs"] = per_round(lambda j: j.span == "tables.load_table")
        for q, pq_ in wl.per_query.items():
            out[f"q.{q}.build_s"] = median(pq_["build_s"])
            out[f"q.{q}.build_jobs"] = per_round(lambda j, q=q: j.root == f"q.{q}.build")
            out[f"q.{q}.plan_ms"] = median(pq_["plan_ms"])
            out[f"q.{q}.exec_s"] = median(pq_["exec_s"])
            out[f"q.{q}.shuffle_mb"] = (
                per_round(lambda j, q=q: j.root == f"q.{q}.exec", "shuffle_write") / 1e6
            )
        out["traced.op_s"] = median(wl.samples["op_s"])
        out["traced.read_s"] = median(wl.samples["read_s"])
    return {n: metric(out[n], unit) for n, unit in units.items()}


def load_metric_units() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["cdc_burst", "analytics_headline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "pgsf_spark")):
        log("run from the repository root: pgsf_spark/ not found here")
        return 2
    end_to_end, per_layer_units = load_metric_units()

    workdir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "TZ": "UTC",
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]),
            "PYTHONDONTWRITEBYTECODE": "1",
        }
    )
    time.tzset()
    sys.dont_write_bytecode = True
    sys.path[:0] = [ROOT, HERE]
    spark = None
    try:
        wl = (Burst if args.workload == "cdc_burst" else Analytics)(args, workdir)
        wl.cpu = clock = CpuClock()
        c0, t0 = clock(), time.perf_counter()
        spark = start_spark(workdir, os.path.join(workdir, "events") if args.trace else None)
        session_s = time.perf_counter() - t0
        clock.attach(spark)
        session_cpu_s = clock() - c0
        wl.spark = spark
        tracer = None
        if args.trace:
            import pgsf_spark.analytics.registry  # noqa: F401 -- import before patching
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
            wl.tracer = tracer
        load_cpu_s, load_s = wl.setup(spark)
        # set-up cost in CPU seconds, like the operations: the cold JVM start
        # and snapshot load are as exposed to steal as any wall-clock time
        setup_s = session_cpu_s + wl.gen_s[0] + load_cpu_s
        setup_wall_s = session_s + wl.gen_s[1] + load_s

        warm_t0 = time.perf_counter()
        if isinstance(wl, Analytics):
            wl.check_pass(spark)
        else:
            for _ in range(WARMUP_ROUNDS):
                wl.round(measured=False)
        warmup_s = time.perf_counter() - warm_t0

        measure_t0 = time.perf_counter()
        jit0 = clock.jit()
        steal0 = steal_ticks()
        attempted = failed = 0
        rounds = 0
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end:
            if tracer:
                tracer.round = rounds
            a, f = wl.round(measured=True)
            attempted += a
            failed += f
            rounds += 1
        if tracer:
            tracer.round = -1
        steal1 = steal_ticks()
        jit_s = clock.jit() - jit0
        rss = peak_rss_mb(spark)
        retained = retained_mb(spark)
        if tracer and isinstance(wl, Burst):
            wl.snapshot_s = wl.snapshot_load_s(spark)
        record = run_record(spark)
        stop_spark(spark)
        spark = None

        s = wl.samples
        op = s["op_s"]
        record.update(
            {
                "workload": args.workload,
                "seed": args.seed,
                "rounds": rounds,
                "setup_s": setup_s,
                "setup_parts_cpu_s": [session_cpu_s, wl.gen_s[0], load_cpu_s],
                "setup_wall_s": setup_wall_s,
                "setup_parts_wall_s": [session_s, wl.gen_s[1], load_s],
                "warmup_s": warmup_s,
                "measure_s": time.perf_counter() - measure_t0,
                # hypervisor steal while measuring: what moves wall-clock
                # times between runs of the same code
                "measure_steal_pct": 100.0
                * (steal1[0] - steal0[0])
                / max(1, steal1[1] - steal0[1]),
                "op_s_samples": op,
                "read_s_samples": s["read_s"],
                "op_cpu_s_samples": s["op_cpu_s"],
                "read_cpu_s_samples": s["read_cpu_s"],
                "measure_jit_cpu_s": jit_s,
                "op_s": median(op),
                "peak_rss_mb": rss,
                "retained_parts_mb": retained,
                "read_s": median(s["read_s"]),
            }
        )
        if isinstance(wl, Burst):
            # slow drift: change of tick time from the first to the last
            # measured round, as a share of the first
            record["tick_drift"] = (op[-1] - op[0]) / op[0] if len(op) > 1 else 0.0
            # warm-up: CPU seconds of each warm-up tick, levelling off
            record["warmup_op_cpu_s_samples"] = wl.warmup_cpu_s
            record["check_s"] = wl.check_s
        else:
            record["query_s_samples"] = {
                q: [b + e for b, e in zip(v["build_s"], v["exec_s"])]
                for q, v in wl.per_query.items()
            }
        log("run record: " + json.dumps(record))

        if args.trace:
            from spans import read_event_log

            jobs = read_event_log(os.path.join(workdir, "events"))
            metrics = per_layer(
                wl, tracer, jobs, set(range(rounds)), session_s, per_layer_units
            )
        else:
            values = {
                "setup_s": setup_s,
                "op_cpu_s": median(s["op_cpu_s"]),
                "read_cpu_s": median(s["read_cpu_s"]),
                "retained_mb": sum(retained),
            }
            metrics = {n: metric(values[n], unit) for n, unit in end_to_end.items()}
        # every operation was checked, and one that failed its check is
        # counted in `failed`
        print(
            json.dumps(
                {
                    "correct": attempted > 0 and failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
