"""In-memory span tracer for the traced benchmark run.

A span is (id, name, start, end, parent, run). While a span is open
its id is the Spark job group of the calling thread, so every job a
layer call triggers is attributed to the innermost open span; when
the job ends, ``finish`` reads each span's jobs back from Spark's
status store (tasks, executor run time, GC time, input/output bytes,
shuffle read/write bytes, spill bytes). Spans stay in memory; the
benchmark writes them out once, when the run ends.

Layers are traced from outside the engine: ``wrap`` swaps a module
attribute for a wrapper that opens a span around the call and, when
given ``materialize``, forces the result in a child span named
``<name>.materialize`` (cache + count), so downstream spans start from
a computed input and each span's self time is its own layer's work.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "executor_run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
}


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0

    # -- spans ------------------------------------------------------------

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.run_id}/{self._seq}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "attrs": {},
        }
        self._seq += 1
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(rec)

    @contextmanager
    def wrap(self, module, attr: str, name: str, materialize=None, after=None):
        """Trace every call of ``module.attr`` while the block runs."""
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if materialize is not None:
                    with self.span(f"{name}.materialize"):
                        out = materialize(out, rec)
                if after is not None:
                    after(rec, out)
            return out

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    # -- Spark counts and self times --------------------------------------

    def finish(self) -> None:
        """Attach Spark counts and self time to every closed span."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        children: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            counts = {k: 0 for k in STAGE_FIELDS}
            job_ids = list(tracker.getJobIdsForGroup(s["id"]))
            for group in s.get("groups", []):
                job_ids += tracker.getJobIdsForGroup(group)
            for j in job_ids:
                stage_ids = store.job(j).stageIds()
                for i in range(stage_ids.size()):
                    sd = store.lastStageAttempt(stage_ids.apply(i))
                    for k, f in STAGE_FIELDS.items():
                        fs = f if isinstance(f, tuple) else (f,)
                        counts[k] += sum(int(getattr(sd, g)()) for g in fs)
            counts["jobs"] = len(job_ids)
            s["spark"] = counts
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - sum(
                c["end"] - c["start"] for c in children.get(s["id"], [])
            )


def layer_totals(spans: list[dict], run: str) -> dict[str, dict]:
    """Per layer (span name with any ``.materialize`` suffix folded in):
    summed self time, call count and Spark counts of one traced run."""
    out: dict[str, dict] = {}
    for s in spans:
        if s["run"] != run:
            continue
        layer = s["name"].removesuffix(".materialize")
        t = out.setdefault(layer, {"self_s": 0.0, "calls": 0, "call_jobs": 0})
        t["self_s"] += s["self_s"]
        if not s["name"].endswith(".materialize"):
            t["calls"] += 1
            t["call_jobs"] += s["spark"]["jobs"]
        for k, v in s["spark"].items():
            t[k] = t.get(k, 0) + v
    return out
