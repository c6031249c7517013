"""The traced run: spans around the calls into each layer's public functions.

Wrappers are installed from this file only when ``--trace 1`` is given; the
program itself is never edited. Spans stay in memory (name, start, end,
parent, operation id) and are written out once, at the end of the run, as
JSON lines; per-layer self times are derived from them.

Layers and where their spans come from:

- ``workload``: the benchmark's own call of a query builder (or an ELT
  read-back query builder); py4j round trips are counted inside it.
- ``operators.<module>``: every public function of the operator modules.
- ``io`` / ``session`` / ``layout`` / ``catalog`` / ``metadata`` /
  ``pipeline``: the public functions named in the per-layer table.
- ``spark``: the benchmark's own plan and noop-execute calls, plus
  per-operation stage metrics read from Spark's status store.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

OPERATOR_MODULES = ("dedup", "similarity", "relational", "timeseries",
                    "analytic", "pivot", "star", "hierarchy", "packing",
                    "multimodal", "decontaminate")

#: Per-layer metric names and units, in output order.
OPERATOR_METRICS = (("build_s", "s"), ("calls", "count"), ("exec_s", "s"),
                    ("shuffle_write_mb", "MB"))
LAYER_METRICS = (
    [("workload.build_s", "s"), ("workload.py4j_calls", "count")]
    + [(f"operators.{m}.{k}", u) for m in OPERATOR_MODULES
       for k, u in OPERATOR_METRICS]
    + [("spark.plan_s", "s"), ("spark.exec_s", "s"), ("spark.jobs", "count"),
       ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.exchanges", "count"), ("spark.shuffle_write_mb", "MB"),
       ("spark.spill_mb", "MB"), ("spark.task_run_s", "s"),
       ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
       ("io.read_table_s", "s"), ("io.read_table_calls", "count"),
       ("session.get_spark_s", "s"),
       ("odata_source.scan_s", "s"), ("odata_source.pages", "count"),
       ("odata_source.rows", "count"),
       ("layout.write_s", "s"), ("layout.bytes_written", "bytes"),
       ("layout.files_written", "count"), ("layout.stored_ratio", "ratio"),
       ("catalog.register_s", "s"), ("catalog.comment_s", "s"),
       ("catalog.ddl_statements", "count"), ("metadata.io_s", "s"),
       ("pipeline.process_dataset_s", "s"), ("pipeline.skip_s", "s"),
       ("trace.overhead_s", "s")]
)

MB = 1e6


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.active = False
        self.op: str | None = None
        self._restore: list[tuple[object, str, object]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._group = 0
        self._sc = None

    # -- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def inside(self, prefix: str) -> bool:
        return any(self.spans[i]["name"].startswith(prefix) for i in self._stack)

    def count(self, key: str, n: float = 1) -> None:
        if self.active:
            self.counts[key] += n

    # -- wrappers -----------------------------------------------------------

    def _wrapped(self, fn, name: str, post=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
            if post is not None:
                post(rec, out)
            return out

        return wrapper

    def patch(self, fn, name: str, post=None) -> None:
        """Rebind ``fn`` to a spanning wrapper wherever a loaded program
        module holds it, so ``from x import f`` bindings are covered too."""
        wrapper = self._wrapped(fn, name, post)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("statline_bq_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapper)
                    self._restore.append((mod, attr, fn))

    def patch_module(self, mod, layer: str) -> None:
        for name, fn in list(vars(mod).items()):
            if (not name.startswith("_") and inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__):
                self.patch(fn, f"{layer}.{name}")

    def install(self) -> None:
        """Wrap every traced layer's public functions (inactive until
        ``active`` is set)."""
        import importlib

        from pyspark.sql import SparkSession

        from statline_bq_spark import io, pipeline, session
        from statline_bq_spark.plans import layout
        from statline_bq_spark.sources import catalog, metadata

        for m in OPERATOR_MODULES:
            self.patch_module(
                importlib.import_module(f"statline_bq_spark.operators.{m}"),
                f"operators.{m}")
        self.patch(io.read_table, "io.read_table")
        self.patch(session.get_spark, "session.get_spark")
        self.patch(layout.write_snapshot, "layout.write_snapshot",
                   post=self._after_write)
        self.patch(catalog.register_dataset_tables, "catalog.register")
        self.patch(catalog.patch_column_descriptions, "catalog.comment")
        self.patch(metadata.read_metadata, "metadata.io")
        self.patch(metadata.write_metadata, "metadata.io")
        self.patch(pipeline.process_dataset, "pipeline.process_dataset",
                   post=self._after_process)

        sql = SparkSession.sql
        tracer = self

        @functools.wraps(sql)
        def counted_sql(self, *args, **kwargs):
            if tracer.active and tracer.inside("catalog."):
                tracer.count("catalog.ddl_statements")
            return sql(self, *args, **kwargs)

        SparkSession.sql = counted_sql
        self._restore.append((SparkSession, "sql", sql))

    def attach(self, spark) -> None:
        """Count py4j commands of this session's gateway, except py4j's
        GC-driven ``m`` (memory release) commands, whose number depends
        on when Python's collector runs."""
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        send = client.send_command

        def counted(command, *args, **kwargs):
            if self.active and not command.startswith("m"):
                self.count("py4j.all")
                if self.inside("workload"):
                    self.count("workload.py4j_calls")
            return send(command, *args, **kwargs)

        client.send_command = counted
        self._restore.append((client, "send_command", send))

    def uninstall(self) -> None:
        for obj, attr, val in reversed(self._restore):
            setattr(obj, attr, val)
        self._restore.clear()

    def _after_write(self, rec, path: str) -> None:
        files = nbytes = 0
        for root, _, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(root, n))
        self.count("layout.files_written", files)
        self.count("layout.bytes_written", nbytes)

    def _after_process(self, rec, result) -> None:
        if rec is not None and result.skipped:
            rec["name"] = "pipeline.skip"

    # -- spark-side measurements ----------------------------------------------

    def begin_op(self, op: str) -> None:
        self._group += 1
        self.op = f"{op}#{self._group}"
        if self.active:
            self._sc.setJobGroup(self.op, op)

    def end_op(self) -> None:
        """Add the stage metrics of the jobs the operation ran."""
        if not self.active:
            return
        sc = self._sc
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        jobs = sc.statusTracker().getJobIdsForGroup(self.op)
        stage_ids = set()
        for j in jobs:
            info = sc.statusTracker().getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        shuffle = 0
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage never ran (skipped)
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            self.count("spark.stages")
            self.count("spark.tasks", sd.numTasks())
            self.count("spark.task_run_s", sd.executorRunTime() / 1e3)
            self.count("spark.task_cpu_s", sd.executorCpuTime() / 1e9)
            self.count("spark.gc_s", sd.jvmGcTime() / 1e3)
            self.count("spark.spill_mb",
                       (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB)
            shuffle += sd.shuffleWriteBytes()
        self.count("spark.jobs", len(jobs))
        self.count("spark.shuffle_write_mb", shuffle / MB)
        self.counts[f"op_shuffle:{self.op}"] = shuffle / MB

    def plan_and_exec(self, df) -> None:
        """Plan, then materialise with a noop write, each in its own span."""
        import re

        with self.span("spark.plan"):
            plan = df._jdf.queryExecution().executedPlan().toString()
        self.count("spark.exchanges",
                   len(re.findall(r"\b(?:Broadcast|Shuffle)?Exchange\b", plan)))
        with self.span("spark.exec"):
            df.write.format("noop").mode("overwrite").save()

    # -- results ----------------------------------------------------------------

    def pass_metrics(self, first_span: int) -> dict[str, float]:
        """Per-layer figures of the spans recorded since ``first_span`` plus
        the counters, which the caller resets per pass."""
        spans = self.spans[first_span:]
        out = {name: 0.0 for name, _ in LAYER_METRICS}
        simple = {"workload": "workload.build_s", "spark.plan": "spark.plan_s",
                  "spark.exec": "spark.exec_s", "io.read_table": "io.read_table_s",
                  "layout.write_snapshot": "layout.write_s",
                  "catalog.register": "catalog.register_s",
                  "catalog.comment": "catalog.comment_s",
                  "metadata.io": "metadata.io_s",
                  "pipeline.process_dataset": "pipeline.process_dataset_s",
                  "pipeline.skip": "pipeline.skip_s",
                  "odata_source.scan": "odata_source.scan_s"}
        for s in spans:
            key = simple.get(s["name"])
            if key:
                out[key] += s["end"] - s["start"]
        out["io.read_table_calls"] = sum(
            1 for s in spans if s["name"] == "io.read_table")

        # operator modules: outermost span per module; each operation's
        # exec time and shuffle go to the module with the largest build span
        by_op: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        exec_by_op: dict[str, float] = defaultdict(float)
        for s in spans:
            if s["name"] == "spark.exec":
                exec_by_op[s["op"]] += s["end"] - s["start"]
            if not s["name"].startswith("operators."):
                continue
            mod = s["name"].split(".")[1]
            if self._has_ancestor(s, f"operators.{mod}."):
                continue
            dur = s["end"] - s["start"]
            out[f"operators.{mod}.build_s"] += dur
            out[f"operators.{mod}.calls"] += 1
            by_op[s["op"]][mod] += dur
        for op, mods in by_op.items():
            top = max(mods, key=mods.get)
            out[f"operators.{top}.exec_s"] += exec_by_op.get(op, 0.0)
            out[f"operators.{top}.shuffle_write_mb"] += self.counts.get(
                f"op_shuffle:{op}", 0.0)
        for k, v in self.counts.items():
            if k in out:
                out[k] += v
        return out

    def _has_ancestor(self, span: dict, prefix: str) -> bool:
        p = span["parent"]
        while p is not None:
            if self.spans[p]["name"].startswith(prefix):
                return True
            p = self.spans[p]["parent"]
        return False

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the union of the
        intervals its direct children cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered = 0.0
            cur_s = cur_e = None
            for a, b in sorted(children.get(i, [])):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")
