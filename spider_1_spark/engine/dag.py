"""The executor for one wave's DAG of Spark jobs.

The loop thread declares a wave's named nodes ``(name, pool, fn,
deps)``.  Each node runs on its own driver thread (a SparkSession is
thread-safe for job submission) once all of its deps have finished, so
latency-bound JVM write jobs overlap the Arrow/Python stages that
saturate the cores.  At entry a node tags its thread's jobs with its
scheduler pool and the job description ``{tag}/{name}``, so every job
in the Spark UI and event log names the engine layer that ran it.
Pool and description are per-thread local properties, so each node
sets its own rather than relying on what its thread inherited.

A node whose dep failed does not run; it fails with the dep's
exception.  ``result`` re-raises a node's failure on the caller's
thread, and ``drain`` joins every node thread before re-raising the
first failure, so no writer outlives a failed wave.
"""

from __future__ import annotations

import threading
from typing import Any, Callable, Sequence

from pyspark import SparkContext
from pyspark.sql import DataFrame


class Node:
    """One node's thread and outcome."""

    def __init__(
        self, thread_name: str, fn: Callable[[], Any], deps: Sequence[Node]
    ):
        self.deps = tuple(deps)
        self.value: Any = None
        self.error: BaseException | None = None
        self.thread = threading.Thread(
            name=thread_name, target=self._run, args=(fn,)
        )

    def _run(self, fn: Callable[[], Any]) -> None:
        for dep in self.deps:
            dep.thread.join()
            if dep.error is not None:
                self.error = dep.error
                return
        try:
            self.value = fn()
        except BaseException as e:  # re-raised on the loop thread
            self.error = e

    def result(self) -> Any:
        self.thread.join()
        if self.error is not None:
            raise self.error
        return self.value


class WaveDag:
    """Nodes of one wave (tag ``w{wave}``) or of the seeding (``seed``)."""

    def __init__(self, sc: SparkContext, tag: str):
        self.sc = sc
        self.tag = tag
        self.nodes: dict[str, Node] = {}
        # cached frames the wave commit releases
        self.cached: list[DataFrame] = []

    def describe(self, name: str) -> None:
        """Name the calling thread's next jobs ``{tag}/{name}``."""
        self.sc.setJobDescription(f"{self.tag}/{name}")

    def add(
        self,
        name: str,
        pool: str,
        fn: Callable[[], Any],
        deps: Sequence[Node] = (),
    ) -> Node:
        """Start node ``name``; ``deps`` may belong to another wave."""

        def run() -> Any:
            self.sc.setLocalProperty("spark.scheduler.pool", pool)
            self.describe(name)
            return fn()

        node = self.nodes[name] = Node(f"spider1-{self.tag}-{name}", run, deps)
        node.thread.start()
        return node

    def result(self, name: str) -> Any:
        return self.nodes[name].result()

    def join(self) -> None:
        """Wait for every node thread; failures stay stored."""
        for node in self.nodes.values():
            node.thread.join()

    def drain(self) -> None:
        """Join every node thread, then re-raise the first failure."""
        self.join()
        for node in self.nodes.values():
            if node.error is not None:
                raise node.error
