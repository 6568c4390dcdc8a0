"""Orchestration: multi-table / multi-database runs (SURVEY §2.14).

The reference fans out one OS process per database, capped at cpu_count
(its ``main.py:170-190``), and logs per-phase wall times
(``main.py:73-110``). On Spark the scheduler owns parallelism: independent
actions run as concurrent JOBS submitted from a driver-side thread pool
(``run_concurrent``, the engine's only one), and every stage's
parallelism comes from partitioning. The phase timer reproduces the
reference's logging discipline so bench runs emit comparable stage
breakdowns (BASELINE.md)."""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


class PhaseTimer:
    """Per-phase wall-clock log (reference: migration_logger writes
    'Schema generation took Xs' etc., main.py:73-110)."""

    def __init__(self) -> None:
        self.phases: dict[str, float] = {}

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = round(time.perf_counter() - t0, 3)

    def report(self) -> dict[str, float]:
        return dict(self.phases)


def run_concurrent(
    spark: SparkSession,
    jobs: Iterable[tuple[str, Callable[[], Any]]],
    max_parallel: int = 4,
) -> dict[str, Any]:
    """Run independent actions as concurrent Spark jobs; return
    ``{name: result}`` in job order, whatever order they finish in.

    Driver threads only dispatch; executors do the work. The scheduler
    is FIFO, so a later job's tasks take the slots an earlier job leaves
    idle. Each job is wrapped in
    its own ``inheritable_thread_target``, so it starts from a private
    copy of the caller's local properties (job group, description):
    what one job sets is never seen by another. A failure propagates
    once every job has finished.
    """
    with ThreadPoolExecutor(max_workers=max_parallel) as ex:
        futures = {
            name: ex.submit(inheritable_thread_target(spark)(fn)) for name, fn in jobs
        }
    return {name: fut.result() for name, fut in futures.items()}
