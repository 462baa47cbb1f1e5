"""Span recorder for the traced benchmark run.

Wrappers from this file replace public functions on their module
attributes (only in a run with ``--trace 1``), so calls the program
makes through those attributes — including imports done at call time —
land in a span.  A wrapped function that returns DataFrames has them
materialized (``localCheckpoint``) inside its span, so the span holds
the work rather than a lazy plan.

Each span records name, start, end, parent span and the operation id
(cycle or search batch).  At span entry the span's id becomes the
Spark job group, so jobs and shuffle bytes can be read back per span
from Spark's status store when the run ends.  Spans stay in memory and
are written out once, at the end.
"""

from __future__ import annotations

import importlib
import itertools
import json
import statistics
import time
from collections import defaultdict
from collections.abc import Callable

_GROUP = "spark.jobGroup.id"


def materialize(out):
    """localCheckpoint every DataFrame in ``out`` (nested in tuples)."""
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        return out.localCheckpoint(eager=True)
    if isinstance(out, tuple):
        return tuple(materialize(x) for x in out)
    return out


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self.op: str = "setup"

    # -- recording ---------------------------------------------------
    def _set_group(self, sid: int | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setLocalProperty(_GROUP, None if sid is None else f"perfbench-{sid}")

    def count(self, name: str, value: float) -> None:
        self.counts.append({"name": name, "op": self.op, "value": value})

    def wrap(
        self,
        module: str,
        attr: str,
        span: str | None,
        lazy: bool = True,
        counters: Callable | None = None,
    ) -> None:
        """Replace ``module.attr`` with a recording wrapper.  ``lazy``
        results are materialized inside the span; ``counters(result,
        args, kwargs)`` returns {name: value} recorded for the
        operation.  ``span=None`` records the counters only: no span,
        and the job group is left as it is."""
        mod = importlib.import_module(module)
        fn = getattr(mod, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            rec = None
            if span is not None:
                rec = {"id": next(tracer._ids), "name": span, "op": tracer.op,
                       "parent": tracer._stack[-1] if tracer._stack else None}
                tracer._stack.append(rec["id"])
                tracer._set_group(rec["id"])
                rec["start"] = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
                if lazy:
                    out = materialize(out)
                if counters is not None:
                    for k, v in counters(out, args, kwargs).items():
                        tracer.count(k, v)
                return out
            finally:
                if rec is not None:
                    rec["end"] = time.perf_counter()
                    tracer._stack.pop()
                    tracer._set_group(rec["parent"])
                    tracer.spans.append(rec)

        setattr(mod, attr, wrapper)

    # -- Spark counters ----------------------------------------------
    def attach_spark_counters(self, spark) -> None:
        """Attribute every job in the status store to the span whose
        group it ran under, then sum each span's descendants into it:
        ``jobs`` and ``shuffle_bytes`` (bytes written by the jobs'
        stages) of a span cover its whole duration, like ``<span>_s``."""
        from py4j.protocol import Py4JJavaError

        store = spark.sparkContext._jsc.sc().statusStore()
        per_span: dict[int, dict] = defaultdict(lambda: {"jobs": 0, "shuffle_bytes": 0})
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined() or not group.get().startswith("perfbench-"):
                continue
            acc = per_span[int(group.get().split("-", 1)[1])]
            acc["jobs"] += 1
            stages = job.stageIds()
            for j in range(stages.size()):
                try:
                    stage = store.lastStageAttempt(stages.apply(j))
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                acc["shuffle_bytes"] += stage.shuffleWriteBytes()
        # a child span takes the job group over, so a span's own group
        # holds only its self jobs; add every descendant's to its total
        totals = {r["id"]: dict(per_span.get(r["id"], {"jobs": 0, "shuffle_bytes": 0}))
                  for r in self.spans}
        by_id = {r["id"]: r for r in self.spans}
        for rec in self.spans:
            own, parent = per_span.get(rec["id"]), rec["parent"]
            while own and parent is not None:
                for k in own:
                    totals[parent][k] += own[k]
                parent = by_id[parent]["parent"]
        for rec in self.spans:
            rec.update(totals[rec["id"]])

    # -- reporting ---------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover
        (children never overlap: the benchmark is one client thread)."""
        child = defaultdict(float)
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        return {r["id"]: r["end"] - r["start"] - child[r["id"]] for r in self.spans}

    def per_op(self) -> dict[str, dict[str, dict[str, float]]]:
        """{span metric: {op: total}} for ``<span>_s``, ``.self_s``,
        ``.jobs``, ``.shuffle_bytes`` and every recorded count."""
        self_t = self.self_times()
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for rec in self.spans:
            name, op = rec["name"], rec["op"]
            out[f"{name}_s"][op] += rec["end"] - rec["start"]
            out[f"{name}.self_s"][op] += self_t[rec["id"]]
            out[f"{name}.jobs"][op] += rec.get("jobs", 0)
            out[f"{name}.shuffle_bytes"][op] += rec.get("shuffle_bytes", 0)
        for c in self.counts:
            out[c["name"]][c["op"]] += c["value"]
        return out

    def summarize(self, timed_ops: list[str]) -> dict[str, float]:
        """One value per metric: timings and Spark counters are the
        median over the ``timed_ops`` that hit the span (or over every
        operation, for a span outside them, e.g. the index build);
        counts are taken from the first operation that recorded them,
        so they repeat exactly for a seed."""
        loop = set(timed_ops)
        counted = {c["name"] for c in self.counts}
        result = {}
        for metric, by_op in self.per_op().items():
            if metric in counted:
                result[metric] = next(iter(by_op.values()))
                continue
            vals = [v for op, v in by_op.items() if op in loop] or list(by_op.values())
            result[metric] = statistics.median(vals)
        return result

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts, **extra}, fh)
