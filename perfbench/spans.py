"""Spans around the benchmark's calls into the package's layers, and the
per-layer profile built from them.

Spans are always recorded (a few clock reads per layer call). With
``tracing=True`` each span also sets a Spark job group, and ``cut``
persists and counts a layer's output under that group, so lazy work is
charged to the layer that defined it rather than to the sink that
finally ran it. Job and stage metrics come from Spark's status store
after the pass; jobs whose group is not a span's (streaming micro-batches
run under their query's own group) go to the innermost span open when
they were submitted.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: every layer the benchmark calls, named by package module
LAYERS = ("session", "sources.readers", "operators.html_extract",
          "functions.text", "operators.formatters", "plans.pipeline",
          "operators.tokens", "sources.writers", "operators.dedup",
          "checkpointing", "operators.sampling", "operators.similarity",
          "streaming.events")
LAYER_SUFFIXES = ("wall_s", "jobs", "tasks", "cpu_s", "util", "shuffle_mb",
                  "rows_out")
ENGINE_METRICS = ("spark.driver_only_s", "spark.sql_executions",
                  "spark.stages", "spark.gc_s", "spark.spill_mb",
                  "spark.failed_tasks", "spark.scaling_x")
TRACE_METRICS = ("trace.wall_s", "trace.unattributed_s", "trace.overhead_s")
#: the span wrapping one whole pass; its self time is harness time
ROOT = "pass"
RATIO_METRICS = ("operators.dedup.candidate_pairs_per_doc",
                 "operators.dedup.kept_frac", "plans.pipeline.removed_frac",
                 "operators.similarity.probe_s")


#: unit and direction of every per-layer metric, by name suffix
_UNITS = {
    "wall_s": ("s", "lower"), "jobs": ("count", "lower"),
    "tasks": ("count", "lower"), "cpu_s": ("s", "lower"),
    "util": ("ratio", "higher"), "shuffle_mb": ("MB", "lower"),
    "rows_out": ("count", "lower"), "driver_only_s": ("s", "lower"),
    "sql_executions": ("count", "lower"), "stages": ("count", "lower"),
    "gc_s": ("s", "lower"), "spill_mb": ("MB", "lower"),
    "failed_tasks": ("count", "lower"), "scaling_x": ("x", "higher"),
    "unattributed_s": ("s", "lower"), "overhead_s": ("s", "lower"),
    "candidate_pairs_per_doc": ("pairs/doc", "lower"),
    "kept_frac": ("ratio", "higher"), "removed_frac": ("ratio", "lower"),
    "probe_s": ("s", "lower"),
}


def per_layer_spec() -> list[dict]:
    """The per-layer metrics in BENCHMARK.json order."""
    names = ["session.wall_s"]
    names += [f"{layer}.{s}" for layer in LAYERS[1:] for s in LAYER_SUFFIXES]
    names += list(ENGINE_METRICS + TRACE_METRICS + RATIO_METRICS)
    return [dict(zip(("name", "unit", "better"),
                     (n, *_UNITS[n.rsplit(".", 1)[1]]))) for n in names]


def per_layer_units() -> dict[str, str]:
    return {m["name"]: m["unit"] for m in per_layer_spec()}


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    rows_out: int | None = None
    error: str | None = None
    jobs: list[int] = field(default_factory=list)


class Tracer:
    """Records spans for one process; ``run`` ids tell passes apart."""

    def __init__(self, spark=None, tracing: bool = False) -> None:
        self.spark = spark
        self.tracing = tracing
        self.spans: list[Span] = []
        self.run = ""
        self._stack: list[Span] = []
        self._persisted: list = []

    @contextmanager
    def span(self, layer: str, name: str):
        if layer not in LAYERS and layer != ROOT:
            raise ValueError(f"unknown layer {layer!r}")
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), layer, name, parent, self.run,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        except BaseException as e:
            sp.error = type(e).__name__
            raise
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if not self.tracing:
            return
        sc = self.spark.sparkContext
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"perfbench-{sp.id}", f"{sp.layer}:{sp.name}")

    def cut(self, df):
        """Traced mode: persist + count ``df`` under the open span's group
        (its rows become the span's ``rows_out``). Untraced: ``df``."""
        if not self.tracing:
            return df
        df = df.persist()
        self._persisted.append(df)
        n = df.count()
        sp = self._stack[-1]
        sp.rows_out = (sp.rows_out or 0) + n
        return df

    def share(self, df):
        """Persist a frame several sinks read (in both modes); when
        tracing, also count it under the open span."""
        if self.tracing:
            return self.cut(df)
        df = df.persist()
        self._persisted.append(df)
        return df

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def calls(self, run: str) -> list[Span]:
        return [s for s in self.spans if s.run == run]


# ------------------------------------------------------- status store

def _jackson_json(jvm, obj) -> list:
    """Serialize a Scala collection of Spark API records (JobData,
    StageData) in one py4j call, as the REST API would."""
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$").__getattr__("MODULE$")
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(scala_mod)
    return json.loads(mapper.writeValueAsString(obj))


def drain_listener(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def sql_executions(spark) -> int:
    return int(spark._jsparkSession.sharedState().statusStore()
               .executionsCount())


def read_status(spark) -> tuple[list[dict], dict[int, list[dict]]]:
    """All jobs, and all stage attempts by stage id, in the status store."""
    drain_listener(spark)
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = _jackson_json(jvm, store.jobsList(None))
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = _jackson_json(jvm, store.stageList(None, False, False,
                                                no_quantiles, None))
    by_id: dict[int, list[dict]] = {}
    for st in stages:
        by_id.setdefault(st["stageId"], []).append(st)
    return jobs, by_id


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def profile(tracer: Tracer, run: str, jobs: list[dict],
            stages: dict[int, list[dict]], cores: int,
            wall_epoch: tuple[float, float]) -> dict[str, float]:
    """Per-layer and engine-wide metrics of one traced pass.

    ``wall_epoch`` = (epoch ms, perf_counter s) read at the same instant,
    to place status-store job times (epoch millis) on the span clock."""
    spans = tracer.calls(run)
    if not spans:
        return {}
    epoch_ms, perf_s = wall_epoch

    def to_perf(ms: float) -> float:
        return perf_s + (ms - epoch_ms) / 1e3

    t0 = min(s.start for s in spans)
    t1 = max(s.end for s in spans)
    by_group = {f"perfbench-{s.id}": s for s in spans}
    pass_jobs = []
    for j in jobs:
        if "submissionTime" not in j or "completionTime" not in j:
            continue
        sub, end = to_perf(j["submissionTime"]), to_perf(j["completionTime"])
        if sub < t0 - 0.05 or sub > t1:
            continue
        sp = by_group.get(j.get("jobGroup"))
        if sp is None:  # innermost span open at submission
            open_ = [s for s in spans if s.start <= sub <= s.end]
            sp = max(open_, key=lambda s: s.start) if open_ else None
        pass_jobs.append((j, sp, sub, end))
        if sp is not None:
            sp.jobs.append(j["jobId"])

    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
    self_time = {s.id: (s.end - s.start) - child_time.get(s.id, 0.0) for s in spans}

    zero = dict.fromkeys(LAYER_SUFFIXES, 0.0)
    acc = {layer: dict(zero) for layer in LAYERS + (ROOT,)}
    run_ms = {layer: 0.0 for layer in LAYERS + (ROOT,)}
    seen_stage: set[tuple[int, int]] = set()
    eng = {"stages": 0, "gc_ms": 0.0, "spill": 0.0, "failed": 0}
    for j, sp, _, _ in pass_jobs:
        layer = sp.layer if sp else None
        if layer:
            acc[layer]["jobs"] += 1
        for sid in j.get("stageIds", []):
            for st in stages.get(sid, []):
                key = (sid, st["attemptId"])
                if key in seen_stage or st.get("status") == "SKIPPED":
                    continue
                seen_stage.add(key)
                eng["stages"] += 1
                eng["gc_ms"] += st.get("jvmGcTime", 0)
                eng["spill"] += st.get("diskBytesSpilled", 0)
                eng["failed"] += st.get("numFailedTasks", 0)
                if not layer:
                    continue
                a = acc[layer]
                a["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
                a["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                a["shuffle_mb"] += (st.get("shuffleReadBytes", 0)
                                    + st.get("shuffleWriteBytes", 0)) / 1e6
                if sp.rows_out is None:
                    a["rows_out"] += st.get("outputRecords", 0)
                run_ms[layer] += st.get("executorRunTime", 0)
    for s in spans:
        acc[s.layer]["wall_s"] += self_time[s.id]
        if s.rows_out is not None:
            acc[s.layer]["rows_out"] += s.rows_out
    out: dict[str, float] = {}
    for layer in LAYERS[1:]:
        a = acc[layer]
        a["util"] = (run_ms[layer] / 1e3 / (a["wall_s"] * cores)
                     if a["wall_s"] > 0 else 0.0)
        for sfx in LAYER_SUFFIXES:
            out[f"{layer}.{sfx}"] = a[sfx]
    busy = _union_len([(max(sub, t0), min(end, t1)) for _, _, sub, end in pass_jobs])
    out.update({
        "spark.driver_only_s": (t1 - t0) - busy,
        "spark.stages": eng["stages"],
        "spark.gc_s": eng["gc_ms"] / 1e3,
        "spark.spill_mb": eng["spill"] / 1e6,
        "spark.failed_tasks": eng["failed"],
        "trace.wall_s": t1 - t0,
        "trace.unattributed_s": acc[ROOT]["wall_s"],
    })
    return out
