"""Spans around calls into the program, and Spark job accounting per span.

The traced run wraps public functions of the engine's modules from the
outside (nothing inside ``pgsf_spark`` changes). Each wrapper records a
span (name, round, start, end, parent) in memory and labels the Spark jobs
started inside it with the SparkContext local property ``perfbench.span``.
Local properties are per thread under PySpark's pinned threads, so the label
is set inside the wrapped call, in whatever thread runs it: a table sync
started by ``run_due``'s pool is labelled from that pool thread.

Spark's event log (enabled only in the traced run, uncompressed) then gives
every job's tasks with their run time, CPU time, shuffle, spill and input
counts, and run.py joins them to the labels.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

SPAN_PROP = "perfbench.span"  # innermost open span
ROOT_PROP = "perfbench.root"  # outermost open span of the thread
ROUND_PROP = "perfbench.round"


@dataclass
class Span:
    name: str
    round: int
    start: float
    end: float
    parent: str | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``install`` patches the engine's layers for
    the rest of the process."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.round = -1
        self._lock = threading.Lock()
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._stack, "names", None)
        if stack is None:
            stack = self._stack.names = []
        parent = stack[-1] if stack else None
        if not stack:
            self.sc.setLocalProperty(ROOT_PROP, name)
        stack.append(name)
        self.sc.setLocalProperty(SPAN_PROP, name)
        self.sc.setLocalProperty(ROUND_PROP, str(self.round))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, parent)
            if not stack:
                self.sc.setLocalProperty(ROOT_PROP, None)
            with self._lock:
                self.spans.append(Span(name, self.round, start, end, parent))

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap every layer the benchmark reports on."""
        from pgsf_spark.operators.table_store import TableStore
        from pgsf_spark.sources.entity import EntitySource
        from pgsf_spark.sync import runner
        from pgsf_spark.sync.state import SyncState
        from pgsf_spark import tables

        self.wrap(runner.SyncRunner, "run_due", "sync.run_due")
        self.wrap(runner.SyncRunner, "sync_table", "sync.table")
        self.wrap(EntitySource, "incremental", "source.incremental")
        self.wrap(runner, "merge_upsert", "merge.build")
        self.wrap(TableStore, "write", "store.write")
        self.wrap(TableStore, "write_partial", "store.write")
        self.wrap(TableStore, "read", "store.read")
        self.wrap(SyncState, "claim", "state.claim")
        self.wrap(SyncState, "release", "state.release")
        # every analytics module imported load_table by name: patch each copy
        orig = tables.load_table
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("pgsf_spark") and getattr(
                mod, "load_table", None
            ) is orig:
                self.wrap(mod, "load_table", "tables.load_table")

    def by_name(self, name: str, rounds: set[int]) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.round in rounds]


@dataclass
class Job:
    job_id: int
    span: str | None
    root: str | None
    round: int | None
    group: str | None
    stages: list[int]
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    input_records: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their task totals from the (uncompressed) event log."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                rnd = props.get(ROUND_PROP)
                job = Job(
                    ev["Job ID"],
                    props.get(SPAN_PROP),
                    props.get(ROOT_PROP),
                    int(rnd) if rnd is not None else None,
                    props.get("spark.jobGroup.id"),
                    ev.get("Stage IDs", []),
                )
                jobs[job.job_id] = job
                for s in job.stages:
                    stage_job[s] = job.job_id
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.run_ms += m.get("Executor Run Time", 0)
                job.cpu_ns += m.get("Executor CPU Time", 0)
                job.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                job.spill += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
                inp = m.get("Input Metrics") or {}
                job.input_bytes += inp.get("Bytes Read", 0)
                job.input_records += inp.get("Records Read", 0)
    return list(jobs.values())
