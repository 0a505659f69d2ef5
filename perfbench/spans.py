"""Layer spans recorded from the benchmark's side of each engine call.

A span wraps the calls the benchmark makes into one engine module (its
*layer*). In a traced run the span's output is forced to the ``noop``
sink at its boundary, so the span's wall time covers the whole lazy
prefix of the op up to that layer, and the layer's *self* time is its
increment over the previous span's forced part (eager work done while
the previous plan was built is not re-run and is not subtracted). Jobs and tasks are counted per
span through a job group and the status tracker; CPU and I/O come from
the process tree's ``/proc`` counters. With tracing off every call here
is a no-op and the op runs exactly as a user would run it.
"""

from __future__ import annotations

import itertools
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

from probe import tree_sample

_EXCHANGES = re.compile(r"\bExchange (?:hash|range|Single|RoundRobin)")
# every plan node that crosses into a Python worker
_PY_NODES = re.compile(
    r"\b(?:MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas"
    r"|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas)\b"
)


@dataclass
class LayerStats:
    spans: int = 0
    self_s: float = 0.0
    span_s: float = 0.0
    plan_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    read_b: int = 0
    write_b: int = 0

    def metrics(self, nproc: int) -> dict[str, float]:
        n = max(1, self.spans)
        return {
            "wall_s": self.self_s / n,
            "plan_s": self.plan_s / n,
            "jobs": self.jobs / n,
            "tasks": self.tasks / n,
            "cpu_util": self.cpu_s / (self.span_s * nproc) if self.span_s else 0.0,
            "read_mb": self.read_b / n / 1e6,
            "write_mb": self.write_b / n / 1e6,
        }


class Span:
    def __init__(self, tracer: "Tracer"):
        self._tracer = tracer
        self.marked_at: float | None = None

    def out(self, df) -> None:
        """Force ``df`` at the layer boundary (traced runs only)."""
        if self._tracer.enabled:
            self.mark()
            df.write.format("noop").mode("overwrite").save()

    def mark(self) -> None:
        """The benchmark starts consuming the layer's result here; time
        before this point is the layer's plan time."""
        if self.marked_at is None:
            self.marked_at = time.perf_counter()


class Tracer:
    def __init__(self, spark, enabled: bool, nproc: int):
        self.spark = spark
        self.enabled = enabled
        self.nproc = nproc
        self.layers: dict[str, LayerStats] = defaultdict(LayerStats)
        self.plans: dict[str, dict[str, int]] = {}
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count()
        self._prev_forced = 0.0

    def begin_op(self) -> None:
        self._prev_forced = 0.0

    @contextmanager
    def layer(self, name: str):
        span = Span(self)
        if not self.enabled:
            yield span
            return
        sc = self.spark.sparkContext
        group = f"perfbench-{next(self._ids)}"
        sc.setJobGroup(group, name)
        s0, t0 = tree_sample(), time.perf_counter()
        try:
            yield span
        finally:
            t1 = time.perf_counter()
            d = tree_sample() - s0
            sc.setJobGroup("perfbench-none", "outside spans")
        st = self.layers[name]
        wall = t1 - t0
        st.spans += 1
        st.span_s += wall
        plan = (span.marked_at or t1) - t0
        # the next span re-runs this span's lazy prefix (its forced part),
        # not the eager work done while the plan was built
        st.self_s += wall - self._prev_forced
        self._prev_forced = wall - plan
        st.plan_s += plan
        st.cpu_s += d.cpu_s
        st.read_b += d.rchar
        st.write_b += d.wchar
        tracker = sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            st.jobs += 1
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                si = tracker.getStageInfo(stage)
                st.tasks += si.numTasks if si else 0

    def plan(self, op_type: str, df) -> None:
        """Exchange and Python-node counts of ``df``'s plan, once per op
        type, read before the plan runs (so only the initial plan prints)."""
        if not self.enabled or op_type in self.plans:
            return
        from xarray_dataaccessor_spark.plans.explain import plan_string

        # "simple" mode prints each node once, with its partitioning inline
        plan = plan_string(df, mode="simple")
        self.plans[op_type] = {
            "exchanges": len(_EXCHANGES.findall(plan)),
            "python_nodes": len(_PY_NODES.findall(plan)),
        }

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value


def join_output_rows(df) -> int:
    """Rows produced by every join of ``df``'s executed plan (call after
    an action on ``df`` itself): the pairs a similarity plan scored."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if "Join" in kind:
            rows = node.metrics().get("numOutputRows")
            if rows.isDefined():
                total += rows.get().value()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return total
