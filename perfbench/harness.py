"""Run context shared by the workloads: session hygiene, spans, failure
bookkeeping and the timed loop.

Everything a run creates lives under one run directory inside the
checkout (Derby databases, checkpoints, watched directories, Spark
local dirs, event logs, temp files); `run.py` removes it at exit.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"

def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Span:
    """One layer call: `group` is the Spark job group its jobs carry
    (unique per span), `parent` the enclosing span's group. Times are
    epoch seconds, comparable with the event log's milliseconds."""

    name: str
    group: str
    start: float
    end: float
    parent: str | None

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Run:
    """One benchmark process: its directory, settings and records."""

    run_dir: str
    seed: int
    seconds: float
    trace: bool
    cpus: int
    spark: object = None
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    checks: list = field(default_factory=list)
    spans: list = field(default_factory=list)
    info: dict = field(default_factory=dict)
    _open: list = field(default_factory=list)
    phase_t0: float = field(default_factory=time.perf_counter)
    phases: dict = field(default_factory=dict)
    _sessions: int = 0
    _seq: int = 0

    def phase(self, name: str) -> None:
        """Mark the end of a run phase; `phases` keeps each phase's
        wall. The first phase starts at `phase_t0`, the process start."""
        now = time.perf_counter()
        self.phases[name] = now - self.phase_t0
        self.phase_t0 = now

    @property
    def setup_s(self) -> float:
        """Time from process start to the first timed pass, less the
        benchmark's own work in between (input generation, correctness
        checks): starting the JVM and the session, then the warm-up
        passes. Workloads mark the phases "session" and "warm-up"."""
        return self.phases["session"] + self.phases["warm-up"]

    def path(self, *parts: str) -> str:
        p = os.path.join(self.run_dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    # -- session ---------------------------------------------------------
    def session_conf(self, traced: bool) -> dict[str, str]:
        tmp = self.path("tmp", "")
        java_opts = " ".join((
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={self.path('derby.log')}",
            # the database stands in for MySQL: its log fsyncs would
            # measure the shared disk, not the program
            "-Dderby.system.durability=test",
            "-Duser.timezone=UTC",
            # a heap fixed at its maximum: no resizing to vary between runs
            f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}",
            "-XX:-UsePerfData",
        ))
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": java_opts,
        }
        if traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + self.path("events", ""),
                "spark.eventLog.logStageExecutorMetrics": "true",
            })
        return conf

    def build_session(self, traced: bool = False):
        """A fresh session through the program's own builder; traced
        sessions write an uncompressed event log under the run dir."""
        from elb_log_to_mysql_spark.session import build_session

        self._sessions += 1
        with self.span("session.build"):
            spark = build_session(
                app_name=f"perfbench-{self._sessions}",
                extra_conf=self.session_conf(traced),
            )
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        """Record a span around a layer call and tag the Spark jobs it
        starts with the span's own job group."""
        self._seq += 1
        group = f"{name}#{self._seq}"
        parent = self._open[-1] if self._open else None
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(group, name, interruptOnCancel=False)
        self._open.append(group)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, group, t0, time.time(), parent))
            self._open.pop()
            if self.spark is not None and sc is self.spark.sparkContext:
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(parent, parent.split("#")[0], interruptOnCancel=False)

    # -- bookkeeping -----------------------------------------------------
    def record_failure(self, what: str, ex: BaseException) -> None:
        self.failed += 1
        self.errors.append({
            "op": what,
            "type": type(ex).__name__,
            "message": str(ex).strip().splitlines()[0][:300] if str(ex).strip() else "",
        })
        log(f"FAILED {what}: {type(ex).__name__}")
        traceback.print_exc(file=sys.stderr)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})
        if not ok:
            log(f"CHECK FAILED {name}: {detail}")
        return bool(ok)

    @property
    def correct(self) -> bool:
        return self.failed == 0 and bool(self.checks) and all(c["ok"] for c in self.checks)


class WrongResult(Exception):
    """An operation returned without error but with a wrong result."""


def timed_loop(run: Run, op, seconds: float, *, min_ops: int, after=None) -> list[float]:
    """Call `op(i)` until `seconds` have passed and at least `min_ops`
    calls were made. Returns each call's wall. `after(i)` runs between
    calls, outside the measured walls, and raises `WrongResult` on a
    wrong result. Every call counts as attempted; one that raises, in
    `op` or `after`, counts as failed, its time is dropped and the loop
    stops."""
    walls: list[float] = []
    t_end = time.perf_counter() + seconds
    i = 0
    while i < min_ops or time.perf_counter() < t_end:
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            op(i)
            wall = time.perf_counter() - t0
            if after is not None:
                after(i)
        except Exception as ex:  # noqa: BLE001 — counted, recorded, run fails
            run.record_failure(f"timed op {i}", ex)
            return walls
        walls.append(wall)
        i += 1
    return walls


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()
