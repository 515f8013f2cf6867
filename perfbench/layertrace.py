"""Per-layer attribution for the traced run, entirely from the benchmark's
side of the program boundary.

* Every PySpark action entry point (DataFrame.count/collect/take/...,
  DataFrameWriter.save/parquet/..., DataStreamWriter.start,
  StreamingQuery.awaitTermination, and ``DataFrame.rdd``, which runs the
  adaptive plan's query stages when a plan builder asks for a partition
  count) is wrapped while a ``Tracer`` is
  active. A wrapped call opens a span, names the layer that issued it from
  the call stack, and labels its Spark jobs with
  ``setJobDescription("pb|<layer>|<span>")``.
* Driver-side layer functions (the ruleset compiler, the duplication
  probe) are wrapped for the whole run and timed directly.
* After the traced pass, stage metrics come from the status store
  (``sc._jsc.sc().statusStore()``, which works with the UI disabled) and
  are summed per layer by the stage's job description. Streaming
  micro-batches carry Spark's own batch description and count as the
  streaming layer; stages with no description (jobs Spark submits from its
  own threads) go to the innermost span open when they were submitted.

Spans live in memory until ``layer_metrics`` is called.

Which layer issued an action: the innermost stack frame inside the
program's package decides by module (``MODULE_LAYERS``). A frame in the
validation job script decides by the region of ``main`` it sits in
(``JOB_REGIONS``, found by anchor text, so line edits do not break it).
Otherwise the benchmark's own ``Tracer.layer(...)`` context decides.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import time

# package-relative path prefix -> layer; first match wins
MODULE_LAYERS = (
    ("schema/", "schema"),
    ("plans/checkpoint.py", "checkpoint"),
    ("plans/stats_history.py", "drift"),
    ("operators/drift.py", "drift"),
    ("operators/uniqueness.py", "crossrow"),
    ("operators/referential.py", "crossrow"),
    ("streaming/", "streaming.drift_arm"),
    ("plans/validation.py", "validation"),
    ("sources/", "validation"),
    ("util.py", "collapse"),  # only COLLAPSE_FUNCS; other helpers take their caller's layer
    ("operators/lm.py", "lm.score"),
    ("operators/dedup.py", "dedup"),
    ("functions/", "text.quality"),
    ("plans/curation.py", "curation.pass"),
)

COLLAPSE_FUNCS = ("duplication_probe", "collapse_mode", "collapse_representatives",
                  "attach_per_text")

# (anchor text in scripts/run_validation_job.py, layer of the lines from
# that anchor to the next one); lines before the first anchor are the scan,
# rules and violations sink
JOB_REGIONS = (
    ("cross = uniqueness_violations(", "crossrow"),
    ("bounds = {", "drift"),
    ("from json_schema_py_spark.operators.drift import histogram as _hist", "streaming.drift_arm"),
    ("hlog.append(watched, run_id)", "drift"),
    ('n = spark.read.parquet(f"{out_dir}/violations")', "validation"),
    ('nc = spark.read.parquet(f"{out_dir}/violations_cross")', "crossrow"),
)

COMMON = ("wall_s", "exec_cpu_s", "exec_run_s", "busy_share", "gc_s",
          "shuffle_write_mb", "spill_mb", "input_rows")


def _action_targets():
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.streaming.query import StreamingQuery
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    return (
        [(DataFrame, m) for m in ("count", "collect", "first", "head", "take", "toPandas",
                                   "isEmpty", "localCheckpoint", "checkpoint", "foreach", "show",
                                   "rdd")]
        + [(DataFrameWriter, m) for m in ("save", "parquet", "json", "csv",
                                          "saveAsTable", "insertInto")]
        + [(DataStreamWriter, "start"), (StreamingQuery, "awaitTermination")]
    )


class Tracer:
    def __init__(self, spark, root: str):
        self.sc = spark.sparkContext
        self.pkg = os.path.join(root, "json_schema_py_spark") + os.sep
        self.job_script = os.path.join(root, "scripts", "run_validation_job.py")
        self.regions, self.missing_anchors = self._job_regions()
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.context: list[str] = []
        self.driver: dict[str, list[float]] = {}
        self.probes: list[dict] = []
        self._saved: list = []
        self._stage_mark = -1

    # ---------------------------------------------------------- layer lookup
    def _job_regions(self):
        try:
            with open(self.job_script) as f:
                lines = f.read().splitlines()
        except OSError:
            return [], [a for a, _ in JOB_REGIONS]
        found, missing = [], []
        for anchor, layer in JOB_REGIONS:
            hit = next((i + 1 for i, ln in enumerate(lines) if anchor in ln), None)
            if hit is None:
                missing.append(anchor)
            else:
                found.append((hit, layer))
        return sorted(found), missing

    def _job_layer(self, lineno: int) -> str:
        layer = "validation"
        for start, name in self.regions:
            if lineno >= start:
                layer = name
        return layer

    def resolve(self) -> str:
        f = sys._getframe(2)
        while f is not None:
            fn = f.f_code.co_filename
            if fn.startswith(self.pkg):
                rel = fn[len(self.pkg):]
                if rel != "util.py" or f.f_code.co_name in COLLAPSE_FUNCS:
                    return next((lay for pre, lay in MODULE_LAYERS if rel.startswith(pre)), "other")
            if fn == self.job_script:
                return self._job_layer(f.f_lineno)
            f = f.f_back
        return self.context[-1] if self.context else "other"

    @contextlib.contextmanager
    def layer(self, name: str):
        """Attribute actions issued by the benchmark itself to ``name``."""
        self.context.append(name)
        try:
            yield
        finally:
            self.context.pop()

    # ------------------------------------------------------------- spans
    def _wrap(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            lay = tracer.resolve()
            span = {"id": len(tracer.spans), "layer": lay, "name": fn.__qualname__,
                    "parent": tracer.stack[-1]["id"] if tracer.stack else None,
                    "t0": time.perf_counter(), "w0": time.time()}
            tracer.spans.append(span)
            tracer.stack.append(span)
            prev = tracer.sc.getLocalProperty("spark.job.description")
            tracer.sc.setJobDescription(f"pb|{lay}|{span['id']}")
            try:
                return fn(*a, **kw)
            finally:
                tracer.sc.setJobDescription(prev)
                tracer.stack.pop()
                span["t1"] = time.perf_counter()
                span["w1"] = time.time()

        return wrapped

    def install_actions(self) -> None:
        """Start a traced pass: wrap the action entry points and remember
        the newest stage id, so only this pass's stages are attributed."""
        for cls, name in _action_targets():
            orig = cls.__dict__[name]
            self._saved.append((cls, name, orig))
            if isinstance(orig, functools.cached_property):  # DataFrame.rdd
                wrapped = functools.cached_property(self._wrap(orig.func))
                wrapped.__set_name__(cls, name)
            else:
                wrapped = self._wrap(orig)
            setattr(cls, name, wrapped)
        self._stage_mark = max((s["stageId"] for s in self.stages()), default=-1)
        self.spans.clear()

    def uninstall_actions(self) -> None:
        while self._saved:
            cls, name, orig = self._saved.pop()
            setattr(cls, name, orig)

    def wrap_driver(self, module, name: str, key: str, record=None) -> None:
        """Time every call of ``module.name`` (for the whole run) under
        ``key``; ``record(result, args)`` may keep extra facts."""
        orig = getattr(module, name)
        times = self.driver.setdefault(key, [])

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            t0 = time.perf_counter()
            out = orig(*a, **kw)
            times.append(time.perf_counter() - t0)
            if record is not None:
                record(out, a)
            return out

        setattr(module, name, wrapped)

    # -------------------------------------------------------- stage metrics
    def stages(self) -> list[dict]:
        jvm = self.sc._gateway
        store = self.sc._jsc.sc().statusStore()
        seq = store.stageList(None, False, False, jvm.new_array(jvm.jvm.double, 0),
                              jvm.jvm.java.util.ArrayList())
        out = []
        for s in jvm.jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq):
            desc = s.description()
            sub = s.submissionTime()
            out.append({
                "stageId": s.stageId(),
                "desc": desc.get() if desc.isDefined() else None,
                "submitted_s": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "input_rows": s.inputRecords(),
                "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.diskBytesSpilled(),
            })
        return out

    def _layer_at(self, t: float | None) -> str:
        open_spans = [s for s in self.spans
                      if t is not None and s["w0"] <= t <= s.get("w1", float("inf"))]
        return max(open_spans, key=lambda s: s["w0"])["layer"] if open_spans else "other"

    def layer_metrics(self, cores: int) -> tuple[dict, dict]:
        """({layer: common metrics} for the traced pass, totals)."""
        per: dict[str, dict] = {}

        def bucket(layer):
            return per.setdefault(layer, {k: 0.0 for k in COMMON})

        # a span's self time excludes the spans nested inside it
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["t1"] - s["t0"]
        for s in self.spans:
            bucket(s["layer"])["wall_s"] += s["t1"] - s["t0"] - child.get(s["id"], 0.0)
        total_input = 0
        unlabelled = 0
        for st in self.stages():
            if st["stageId"] <= self._stage_mark:
                continue
            d = st["desc"]
            if d and d.startswith("pb|"):
                layer = d.split("|")[1]
            elif d:
                layer = "streaming.drift_arm"  # micro-batch descriptions
            else:
                # jobs submitted from Spark's own threads (adaptive query
                # stages, broadcasts) carry no description: the innermost
                # span open when the stage was submitted issued them
                unlabelled += 1
                layer = self._layer_at(st["submitted_s"])
            b = bucket(layer)
            b["exec_run_s"] += st["run_ms"] / 1e3
            b["exec_cpu_s"] += st["cpu_ns"] / 1e9
            b["gc_s"] += st["gc_ms"] / 1e3
            b["shuffle_write_mb"] += st["shuffle_write"] / 1e6
            b["spill_mb"] += st["spill"] / 1e6
            b["input_rows"] += st["input_rows"]
            total_input += st["input_rows"]
        for b in per.values():
            b["busy_share"] = b["exec_run_s"] / (b["wall_s"] * cores) if b["wall_s"] > 0 else 0.0
        return per, {"input_rows": total_input, "unlabelled_stages": unlabelled,
                     "missing_anchors": self.missing_anchors}
