"""Shared run context: one Spark session, the generated inputs, the run's
private directory, the tracer, and the per-operation timing loop."""

from __future__ import annotations

import hashlib
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import probes
from perfbench.trace import Tracer


@dataclass
class Op:
    label: str
    seconds: float
    ok: bool
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


@dataclass
class Ctx:
    spark: object
    data_dir: str
    run_dir: str
    seed: int
    tracer: Tracer
    # ops of the timed passes; warm-up ops are kept apart
    ops: list[Op] = field(default_factory=list)
    warm_ops: list[Op] = field(default_factory=list)
    timed: bool = False
    # the next op raises (self-test of failure counting)
    inject_failure: bool = False
    # time spent collecting trace-only counters
    probe_s: float = 0.0
    # per-layer counters a workload adds to while tracing
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    # digest of every output the checks read, to compare runs by
    outputs: object = field(default_factory=hashlib.sha256)
    _n: int = 0

    def span(self, name: str):
        return self.tracer.span(name)

    def op(self, label: str, fn) -> bool:
        """Run one operation, time it, and record it. A raised exception
        marks the op failed and is reported on stderr; the run goes on."""
        self._n += 1
        group = f"perfbench-op-{self._n}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, label)
        ok = True
        t0 = time.perf_counter()
        try:
            with self.span("op"):
                if self.inject_failure:
                    self.inject_failure = False
                    raise RuntimeError("injected failure")
                fn()
        except Exception:  # noqa: BLE001 - one failed op must not end the run
            ok = False
            sys.stderr.write(f"perfbench: op {label} failed\n{traceback.format_exc()}\n")
        dt = time.perf_counter() - t0
        sc.setJobGroup("perfbench-idle", "between ops")
        rec = Op(label, dt, ok)
        if self.tracer.enabled:
            with self.probe():
                rec.jobs, rec.stages, rec.tasks = probes.job_counts(self.spark, group)
        (self.ops if self.timed else self.warm_ops).append(rec)
        return ok

    @contextmanager
    def probe(self):
        """Time trace-only counter collection, for the overhead figure."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.probe_s += time.perf_counter() - t0

    def fail(self, label: str, why: str) -> None:
        """Count a failed output check as a failed op."""
        sys.stderr.write(f"perfbench: check {label} failed: {why}\n")
        self.ops.append(Op(f"check:{label}", 0.0, False))


def quantile(values: list[float], q: float) -> float:
    """Inclusive-method quantile (``statistics.quantiles``)."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]
