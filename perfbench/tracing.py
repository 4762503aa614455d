"""Per-layer tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's side of each call into the
library, and counters are read where the work is done:

- ``catalog.load_table`` is wrapped in every library module that holds it;
- a ``QueryExecutionListener`` reads the Catalyst phase times of every
  query execution;
- a ``StreamingQueryListener`` reads each micro-batch's ``durationMs`` and
  state-operator counts, tagged with the key through the query name;
- Spark's status store gives the jobs and stages each key ran;
- ``/proc`` gives the CPU time of the Python worker processes.

Nothing here is installed in an untraced run.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.measure import python_worker_cpu_s, slot_util

# Streaming progress ``durationMs`` entries and the metric each feeds.
_STREAM_PHASES = {
    "queryPlanning": "stream.query_planning_s",
    "getBatch": "stream.get_batch_s",
    "addBatch": "stream.add_batch_s",
    "walCommit": "stream.wal_commit_s",
    "commitOffsets": "stream.commit_offsets_s",
}

# Every per-layer metric with its unit, in report order.
LAYER_UNITS: dict[str, str] = {
    "session.start_s": "s",
    "stage.fixture_s": "s",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.one_task_stages": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.slot_util": "ratio",
    "pyworker.cpu_s": "s",
    "stream.batches": "count",
    "stream.state_rows": "count",
    "stream.query_planning_s": "s",
    "stream.get_batch_s": "s",
    "stream.add_batch_s": "s",
    "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s",
    "stream.state_commit_s": "s",
    "stream.empty_batch_s": "s",
    "machine.probe_s": "s",
    "trace.overhead_ratio": "ratio",
}

# Metrics summed over the keys of a traced pass.
PASS_METRICS = tuple(
    m
    for m in LAYER_UNITS
    if m
    not in (
        "session.start_s",
        "stage.fixture_s",
        "exec.slot_util",
        "machine.probe_s",
        "trace.overhead_ratio",
    )
)


class _PhaseListener:
    """py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``:
    adds up the Catalyst phase times of every successful execution."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self.tracer.add_phases(qe.tracker().phases())

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.tracer.add_phases(qe.tracker().phases())

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _StreamListener(StreamingQueryListener):
    """Adds up each micro-batch's phase times under the key named in its
    query name (``luxor_<key>_<n>``)."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        self.tracer.add_progress(event.progress)

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def _phase_seconds(phases) -> dict[str, float]:
    """A query execution's ``tracker().phases()`` map, in seconds."""
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000
    return out


def _key_of_query(name: str | None) -> str:
    if not name:
        return "?"
    return name.removeprefix("luxor_").rsplit("_", 1)[0]


class Tracer:
    """Spans and per-key layer counters for one traced run."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._jsc = sc._jsc.sc()
        self.cores = sc.defaultParallelism
        self.driver_pid = os.getpid()
        self.spans: list[dict] = []
        self._parents: list[int] = []
        self._lock = threading.Lock()
        self._acc: dict[str, float] = defaultdict(float)
        # Per streaming query (key from its name, run id): batch counters.
        self._drains: dict[tuple[str, str], dict[str, float]] = {}
        self.enabled = False
        self._phase_listener = _PhaseListener(self)
        self._stream_listener = _StreamListener(self)
        self._wrap_load_table()

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span; its parent is the innermost open span."""
        record = {
            "name": name,
            **attrs,
            "id": len(self.spans),
            "parent": self._parents[-1] if self._parents else None,
            "start": time.perf_counter(),
        }
        self.spans.append(record)
        self._parents.append(record["id"])
        try:
            yield record
        finally:
            record["end"] = time.perf_counter()
            self._parents.pop()

    # -- listeners ---------------------------------------------------------

    def enable(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self._gateway)
        self.spark._jsparkSession.listenerManager().register(
            self._phase_listener
        )
        self.spark.streams.addListener(self._stream_listener)
        self.enabled = True

    def disable(self) -> None:
        self.enabled = False
        self.spark._jsparkSession.listenerManager().unregister(
            self._phase_listener
        )
        self.spark.streams.removeListener(self._stream_listener)

    def add_phases(self, phases) -> None:
        got = _phase_seconds(phases)
        with self._lock:
            for phase in ("analysis", "optimization", "planning"):
                self._acc[f"catalyst.{phase}_s"] += got.get(phase, 0.0)

    def add_progress(self, p) -> None:
        dur = dict(p.durationMs)
        with self._lock:
            drain = self._drains.setdefault(
                (_key_of_query(p.name), p.runId), defaultdict(float)
            )
            drain["stream.batches"] += 1
            # Rows held in state after this batch; the last batch's count
            # is the drain's.
            drain["stream.state_rows"] = sum(
                s.numRowsTotal for s in p.stateOperators
            )
            for phase, metric in _STREAM_PHASES.items():
                drain[metric] += dur.get(phase, 0) / 1000
            drain["stream.state_commit_s"] += (
                sum(s.commitTimeMs for s in p.stateOperators) / 1000
            )
            if p.numInputRows == 0:
                drain["stream.empty_batch_s"] += (
                    dur.get("triggerExecution", 0) / 1000
                )

    # -- catalog -----------------------------------------------------------

    def _wrap_load_table(self) -> None:
        """Replace ``load_table`` in every loaded library module that
        holds it with a wrapper that counts and times calls while the
        tracer is enabled."""
        from luxor_db_spark import catalog

        original = catalog.load_table
        tracer = self

        def load_table(spark, sf_dir, name):
            if not tracer.enabled:
                return original(spark, sf_dir, name)
            with tracer.span("catalog.load_table", table=name) as span:
                df = original(spark, sf_dir, name)
            with tracer._lock:
                tracer._acc["catalog.load_calls"] += 1
                tracer._acc["catalog.load_s"] += span["end"] - span["start"]
            return df

        for mod_name, mod in list(sys.modules.items()):
            if (
                mod_name.startswith("luxor_db_spark")
                and getattr(mod, "load_table", None) is original
            ):
                mod.load_table = load_table

    # -- status store ------------------------------------------------------

    def _wait_listeners(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _max_job_id(self) -> int:
        jobs = self._jsc.statusStore().jobsList(self._jvm.java.util.ArrayList())
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def _max_stage_id(self) -> int:
        stages = self._stage_list()
        return stages.head().stageId() if stages.nonEmpty() else -1

    def _stage_list(self):
        # Newest stage first.
        return self._jsc.statusStore().stageList(
            self._jvm.java.util.ArrayList(),
            False,
            False,
            self._gateway.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )

    def _stages_after(self, stage_id: int) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        it = self._stage_list().iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() <= stage_id:
                break
            if s.status().toString() == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += s.numTasks()
            out["exec.one_task_stages"] += s.numTasks() == 1
            out["exec.run_s"] += s.executorRunTime() / 1e3
            out["exec.cpu_s"] += s.executorCpuTime() / 1e9
            out["exec.gc_s"] += s.jvmGcTime() / 1e3
            out["exec.input_bytes"] += s.inputBytes()
            out["exec.shuffle_read_bytes"] += s.shuffleReadBytes()
            out["exec.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["exec.spill_bytes"] += (
                s.memoryBytesSpilled() + s.diskBytesSpilled()
            )
        return out

    # -- one key -----------------------------------------------------------

    def begin_key(self) -> None:
        self._wait_listeners()
        with self._lock:
            self._acc.clear()
            self._drains.clear()
        self._job0 = self._max_job_id()
        self._stage0 = self._max_stage_id()
        self._py0 = python_worker_cpu_s(self.driver_pid)

    def after_build(self) -> None:
        self._wait_listeners()
        self._build_jobs = self._max_job_id() - self._job0

    def end_key(self, key: str, df, build_s: float) -> dict[str, float]:
        """Counters of ``key``, which just ran; ``df`` is the DataFrame its
        query function returned."""
        self._wait_listeners()
        out: dict[str, float] = dict.fromkeys(PASS_METRICS, 0.0)
        with self._lock:
            out.update(self._acc)
            for (drain_key, _), drain in self._drains.items():
                if drain_key == key:
                    for metric, value in drain.items():
                        out[metric] += value
        out.update(self._stages_after(self._stage0))
        out["exec.jobs"] = self._max_job_id() - self._job0
        out["operators.build_jobs"] = self._build_jobs
        out["operators.build_s"] = build_s
        out["pyworker.cpu_s"] = (
            python_worker_cpu_s(self.driver_pid) - self._py0
        )
        # The returned DataFrame was analysed while it was built, in its
        # own query execution, which the listener never sees.
        phases = _phase_seconds(df._jdf.queryExecution().tracker().phases())
        out["catalyst.analysis_s"] += phases.get("analysis", 0.0)
        return out


def pass_layers(per_key: dict[str, dict], wall_s: float, cores: int) -> dict:
    """Sum the per-key counters of one traced pass; ``wall_s`` is the
    summed wall time of its keys."""
    out = {m: sum(k[m] for k in per_key.values()) for m in PASS_METRICS}
    out["exec.slot_util"] = slot_util(out["exec.run_s"], wall_s, cores)
    return out
