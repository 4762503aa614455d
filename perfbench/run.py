#!/usr/bin/env python3
"""Benchmark of the luxor-db-spark engine: one workload, one fresh process.

    python3 perfbench/run.py --workload olap_star --seed 1 --seconds 10 --trace 0

A run sets up a session (``session.get_spark``, plus the declared fixture
staging for workloads that stream), runs every key of the workload once in
the cold session, collecting its result, checks those results, then runs
warm passes for ``--seconds`` seconds. Each key is built through
``registry.load_all_queries()[key](spark, sf_dir)``; a warm pass drains each
returned DataFrame with a ``noop`` write.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` warm passes alternate between
untraced and traced, and the metrics are the per-layer ones (see
``perfbench/README.md``). The line before it holds per-key detail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if __name__ == "__main__":
    # Run as a script: make the ``perfbench`` package importable.
    sys.path.insert(0, str(ROOT))

from perfbench.check import Checker, Collected  # noqa: E402
from perfbench.measure import (  # noqa: E402
    PeakRss,
    cpu_probe,
    descendants,
    median,
    tail_percentile,
)
from perfbench.tracing import LAYER_UNITS, Tracer, pass_layers  # noqa: E402
from perfbench.workloads import WORKLOADS, pass_order  # noqa: E402

SF_DIR = ROOT / "perfbench" / "fixtures" / "sf0.01"
BUILD_DIR = ROOT / ".bench_build" / "perfbench"
# A run that has not finished by then is killed without a result.
DEADLINE_S = 170.0
HEAP = "2g"


def _prepare_env(work: Path) -> None:
    """Keep every file the run writes inside ``work`` and let the Python
    workers import the library."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    old_path = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), old_path])),
            "TMPDIR": str(tmp),
            "SPARK_LOCAL_DIRS": str(tmp),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "LUXOR_DRIVER_MEM": HEAP,
            # A fixed, pre-touched heap: the JVM's resident memory then
            # does not depend on when the collector grew the heap, which
            # otherwise moves peak_rss_mb by 20-40% between runs.
            "PYSPARK_SUBMIT_ARGS": (
                f'--driver-java-options "-Djava.io.tmpdir={tmp} '
                f'-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData" '
                f"--conf spark.sql.warehouse.dir={work / 'warehouse'} "
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        }
    )
    tempfile.tempdir = None


def _error(e: BaseException) -> str:
    return f"{type(e).__name__}: {e}"[:500]


def _drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    """State of one benchmark run."""

    def __init__(self, workload, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.probe_before = cpu_probe()
        self.failures: dict[str, str] = {}
        self.spark = None
        self.tracer: Tracer | None = None

    @property
    def attempted(self) -> int:
        return len(self.workload.keys) + self.workload.stages

    def setup(self) -> None:
        from luxor_db_spark.registry import load_all_queries
        from luxor_db_spark.session import get_spark

        self.queries = load_all_queries()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        self.session_s = time.perf_counter() - t0
        self.stage_s = 0.0
        if self.workload.stages:
            from luxor_db_spark.streaming.streams import stage_fixture_sources

            t0 = time.perf_counter()
            try:
                stage_fixture_sources(self.spark, str(SF_DIR))
            except Exception as e:  # noqa: BLE001 — reported as a failure
                self.failures["stage_fixture_sources"] = _error(e)
            self.stage_s = time.perf_counter() - t0
        if self.trace:
            self.tracer = Tracer(self.spark)

    def first_pass(self) -> tuple[float, dict, dict]:
        """Build and collect every key in the cold session; return the pass
        wall time, the collected outputs and each key's time."""
        outputs, times = {}, {}
        t_pass = time.perf_counter()
        for key in pass_order(self.workload.keys, self.seed, 0):
            t0 = time.perf_counter()
            try:
                df = self.queries[key](self.spark, str(SF_DIR))
                outputs[key] = Collected(df.columns, df.schema, df.collect())
            except Exception as e:  # noqa: BLE001 — counted, run goes on
                self.failures.setdefault(key, f"first pass: {_error(e)}")
            times[key] = time.perf_counter() - t0
        return time.perf_counter() - t_pass, outputs, times

    def check(self, outputs: dict) -> dict[str, str]:
        checker = Checker(self.spark, str(SF_DIR))
        status = {}
        try:
            for key, out in outputs.items():
                problem = checker.check(key, out)
                status[key] = problem or "pass"
                if problem:
                    self.failures.setdefault(key, f"check: {problem}")
        finally:
            checker.close()
        return status

    def warm_pass(self, pass_no: int, traced: bool) -> dict:
        """One pass of noop writes; per-key layer counters when traced."""
        tracer = self.tracer if traced else None
        times: dict[str, float] = {}
        layers: dict[str, dict] = {}
        if tracer:
            tracer.enable()
        t_pass = time.perf_counter()
        for key in pass_order(self.workload.keys, self.seed, pass_no):
            fn = self.queries[key]
            try:
                if tracer:
                    tracer.begin_key()
                    t0 = time.perf_counter()
                    with tracer.span("key", key=key, pass_no=pass_no):
                        with tracer.span("operators.build"):
                            df = fn(self.spark, str(SF_DIR))
                        build_s = time.perf_counter() - t0
                        tracer.after_build()
                        with tracer.span("execute"):
                            _drain(df)
                    times[key] = time.perf_counter() - t0
                    layers[key] = tracer.end_key(key, df, build_s)
                else:
                    t0 = time.perf_counter()
                    _drain(fn(self.spark, str(SF_DIR)))
                    times[key] = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001 — counted, run goes on
                self.failures.setdefault(key, f"pass {pass_no}: {_error(e)}")
        wall = time.perf_counter() - t_pass
        if tracer:
            tracer.disable()
        return {"pass": pass_no, "traced": traced, "wall_s": wall,
                "key_s": times, "layers": layers}

    def warm_passes(self, seconds: float) -> list[dict]:
        """Warm passes until ``seconds`` have gone by. A traced run
        alternates untraced and traced passes, starting and ending with an
        untraced one, so a traced pass is never compared only with passes
        that ran earlier, in a less warm session."""
        passes = []
        t0 = time.perf_counter()
        while True:
            traced = self.trace and len(passes) % 2 == 1
            passes.append(self.warm_pass(len(passes) + 1, traced))
            if time.perf_counter() - t0 >= seconds and (
                not self.trace or (len(passes) >= 3 and not traced)
            ):
                return passes

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for every process the
        run started to end."""
        from pyspark import SparkContext

        started = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — fall through to kill
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        _reap(started)


def _reap(pids: list[int], grace_s: float = 10.0) -> None:
    """Wait for ``pids`` to exit, killing any still alive after
    ``grace_s``."""
    deadline = time.monotonic() + grace_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive and time.monotonic() > deadline:
            _kill(alive)
            deadline = float("inf")
        if alive:
            time.sleep(0.05)


def _kill(pids: list[int]) -> None:
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _key_samples(passes: list[dict]) -> list[float]:
    return [t for p in passes if not p["traced"] for t in p["key_s"].values()]


def _end_to_end(run: Run, first_s: float, passes: list[dict], rss_mb: float) -> dict:
    untraced = [p["wall_s"] for p in passes if not p["traced"]]
    return {
        "setup_s": _metric(run.session_s + run.stage_s, "s"),
        "first_pass_s": _metric(first_s, "s"),
        "pass_s": _metric(median(untraced), "s"),
        "query_p50_s": _metric(median(_key_samples(passes)), "s"),
        "peak_rss_mb": _metric(rss_mb, "MB"),
    }


def _per_layer(run: Run, passes: list[dict], probe_after: float) -> dict:
    traced = [p for p in passes if p["traced"]]
    sums = [
        pass_layers(p["layers"], sum(p["key_s"].values()), run.tracer.cores)
        for p in traced
    ]
    values = {m: median([s[m] for s in sums]) for m in sums[0]}
    values["session.start_s"] = run.session_s
    values["stage.fixture_s"] = run.stage_s
    values["machine.probe_s"] = max(run.probe_before, probe_after)
    values["trace.overhead_ratio"] = median(
        [p["wall_s"] for p in traced]
    ) / median([p["wall_s"] for p in passes if not p["traced"]])
    return {m: _metric(values[m], u) for m, u in LAYER_UNITS.items()}


def _detail(run: Run, first_key_s: dict, passes: list[dict], checks: dict) -> dict:
    samples = _key_samples(passes)
    tail = tail_percentile(samples)
    untraced = [p for p in passes if not p["traced"]]
    return {
        "workload": run.workload.name,
        "seed": run.seed,
        "sf_dir": str(SF_DIR.relative_to(ROOT)),
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "passes": [
            {"pass": p["pass"], "traced": p["traced"], "wall_s": p["wall_s"]}
            for p in passes
        ],
        "first_pass_key_s": first_key_s,
        "key_median_s": {
            k: median([p["key_s"][k] for p in untraced if k in p["key_s"]])
            for k in run.workload.keys
        },
        "query_samples": len(samples),
        "query_tail": (
            None if tail is None else {"percentile": tail[0], "s": tail[1]}
        ),
        "fail_ratio": len(run.failures) / run.attempted,
        "failures": run.failures,
        "checks": checks,
    }


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """Run one workload; return (result line, detail line)."""
    run = Run(WORKLOADS[name], seed, trace)
    steps = [("start", time.perf_counter())]
    try:
        with PeakRss(os.getpid()) as rss:
            run.setup()
            steps.append(("setup", time.perf_counter()))
            first_s, outputs, first_key_s = run.first_pass()
            steps.append(("first_pass", time.perf_counter()))
            checks = run.check(outputs)
            steps.append(("check", time.perf_counter()))
            del outputs
            passes = run.warm_passes(seconds)
            steps.append(("warm_passes", time.perf_counter()))
    finally:
        run.shutdown()
    steps.append(("shutdown", time.perf_counter()))
    probe_after = cpu_probe()
    detail = _detail(run, first_key_s, passes, checks)
    detail["step_s"] = {b[0]: b[1] - a[1] for a, b in zip(steps, steps[1:])}
    # The same fixed CPU probe as machine.probe_s: a reading well above the
    # usual one marks a run measured on a contended machine.
    detail["machine_probe_s"] = [run.probe_before, probe_after]
    if trace:
        metrics = _per_layer(run, passes, probe_after)
        trace_file = BUILD_DIR / f"trace-{name}-seed{seed}.json"
        trace_file.parent.mkdir(parents=True, exist_ok=True)
        trace_file.write_text(
            json.dumps(
                {"detail": detail, "spans": run.tracer.spans,
                 "passes": [p for p in passes if p["traced"]]},
                default=str,
            )
        )
        detail["trace_file"] = str(trace_file.relative_to(ROOT))
    else:
        metrics = _end_to_end(run, first_s, passes, rss.peak_mb)
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }
    return result, detail


def _arm_deadline() -> threading.Timer:
    def abort() -> None:
        print(f"perfbench: run exceeded {DEADLINE_S:.0f} s", file=sys.stderr)
        _kill(descendants(os.getpid()))
        os._exit(3)

    timer = threading.Timer(DEADLINE_S, abort)
    timer.daemon = True
    timer.start()
    return timer


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [
        p
        for p in ("luxor_db_spark/__init__.py", "tools/driver_sim.py")
        if not (ROOT / p).is_file()
    ]
    if missing:
        print(
            f"perfbench: not inside a checkout of the repository "
            f"(missing {', '.join(missing)})",
            file=sys.stderr,
        )
        return 2
    work = BUILD_DIR / f"run-{os.getpid()}"
    _prepare_env(work)
    timer = _arm_deadline()
    try:
        result, detail = run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        timer.cancel()
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
