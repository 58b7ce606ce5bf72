"""In-memory spans around calls into the engine's layers.

A span records name, start, end, parent, op id and the Spark job group it
ran under. Spans are opened from the benchmark's own files: around the
calls the workloads make, plus wrappers that :func:`install_wrappers`
puts on the engine's public functions before the query modules import
them. With tracing off, :class:`Tracer` hands out a no-op span, so the
untraced passes pay one attribute check per call.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

# Layer of a span = the part of its name before the first dot.
LAYERS = ("op", "catalog", "queries", "plan", "exec", "ops", "collect", "log")


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self.outputs: list[tuple[int, object]] = []  # (span id, kernel output)
        self._stack: list[dict] = []
        self._op: str | None = None

    @contextmanager
    def span(self, name: str, op: str | None = None, group: bool = False):
        """Time the block as span ``name``. ``group=True`` runs it under a
        Spark job group of its own, so the jobs it launches can be counted;
        the enclosing group is restored afterwards."""
        if not self.enabled:
            yield None
            return
        if op is not None:
            self._op = op
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self._op,
            "group": None,
            "jobs": [],
        }
        self.spans.append(rec)
        self._stack.append(rec)
        prev_group = None
        if group and self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            rec["group"] = f"perfbench-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if rec["group"] is not None:
                rec["jobs"] = list(
                    self.sc.statusTracker().getJobIdsForGroup(rec["group"])
                )
                if prev_group is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(prev_group, "")

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: span time not covered by the span's children (spans of
    one thread nest, so children never overlap)."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + duration(s)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + duration(s) - child_time.get(s["id"], 0.0)
    return out


def descendants(spans: list[dict], root: dict) -> list[dict]:
    """Spans under ``root`` (the span list is in open order)."""
    inside = {root["id"]}
    out = []
    for s in spans[root["id"] + 1 :]:
        if s["parent"] in inside:
            inside.add(s["id"])
            out.append(s)
    return out


def _wrap(tracer: Tracer, name: str, fn, keep_output: bool = False):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name, group=True) as rec:
            out = fn(*args, **kwargs)
        if rec is not None and keep_output:
            tracer.outputs.append((rec["id"], out))
        return out

    return wrapper


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the engine's public layer functions. Must run before
    ``marasa_spark.queries`` is imported: the query modules bind
    ``load_table`` by name at import time."""
    import sys

    from marasa_spark import catalog
    from marasa_spark.log import MarasaLog
    from marasa_spark.ops import dedup

    if "marasa_spark.queries" in sys.modules:
        raise RuntimeError("install_wrappers must run before the queries import")
    catalog.load_table = _wrap(tracer, "catalog.load", catalog.load_table)
    # The kernel's outputs are kept so their pair counts can be taken after
    # the traced pass, outside every span.
    dedup.minhash_lsh_pairs = _wrap(
        tracer, "ops.minhash_lsh", dedup.minhash_lsh_pairs, keep_output=True
    )
    for method in (
        "append",
        "delete",
        "max_seqno",
        "lookup",
        "get",
        "latest",
        "changes",
        "compact",
    ):
        setattr(
            MarasaLog, method, _wrap(tracer, f"log.{method}", getattr(MarasaLog, method))
        )


def job_stats(sc, job_ids) -> dict:
    """Wall time (union of the jobs' run intervals) and stage and task
    counts of Spark jobs, from Spark's status store."""
    store = sc._jsc.sc().statusStore()
    intervals, stages, tasks, failed = [], 0, 0, 0
    for j in job_ids:
        jd = store.job(j)
        stages += jd.numCompletedStages()
        tasks += jd.numCompletedTasks()
        failed += jd.numFailedTasks()
        if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
            intervals.append(
                (jd.submissionTime().get().getTime(), jd.completionTime().get().getTime())
            )
    wall_ms, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            wall_ms += e - s
            end = e
        elif e > end:
            wall_ms += e - end
            end = e
    return {"jobs": len(job_ids), "wall_s": wall_ms / 1e3, "stages": stages, "tasks": tasks, "failed_tasks": failed}
