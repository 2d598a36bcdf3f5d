"""Outside-in tracing for the benchmark's traced runs.

Nothing here changes the engine.  The tracer replaces public functions
of mtail_spark modules with wrappers that record one span per call
(name, start, end, parent span, pass or micro-batch tag), counts py4j
round trips per thread by wrapping the gateway client's send, listens
to Structured Streaming progress events, and reads stage metrics from
Spark's status store.  Spans stay in memory until dump().
count_backends() counts calls into each backend's store builder, so a
run can check which backend actually ran.
"""

from __future__ import annotations

import functools
import importlib
import json
import threading
import time

# backend label -> (module, store builder that run_batch calls for it)
BACKENDS = {
    "vector": ("mtail_spark.compiler.codegen", "vectorized_store"),
    "chunkfold": ("mtail_spark.compiler.chunkfold", "chunkfold_store"),
}

STAGE_KEYS = ("cpu_s", "tasks", "shuffle_write_b", "shuffle_read_b",
              "spill_b", "stages")


def count_backends() -> dict:
    """Wrap each backend's store builder with a call counter; returns
    the live {backend: calls} dict."""
    calls = {b: 0 for b in BACKENDS}
    for backend, (mod, attr) in BACKENDS.items():
        m = importlib.import_module(mod)
        orig = getattr(m, attr)

        def counted(*a, _orig=orig, _backend=backend, **kw):
            calls[_backend] += 1
            return _orig(*a, **kw)

        setattr(m, attr, functools.wraps(orig)(counted))
    return calls


def sum_stages(per_group: dict, groups) -> dict:
    """Add up stage_metrics() of the given job groups."""
    out = dict.fromkeys(STAGE_KEYS, 0)
    out["max_task_share"] = 0.0
    for g in groups:
        s = per_group.get(g)
        if s is None:
            continue
        for k in STAGE_KEYS:
            out[k] += s[k]
        out["max_task_share"] = max(out["max_task_share"],
                                    s["max_task_share"])
    return out


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self.samples: dict[str, list] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spark = None
        self.tailers: list = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_tag(self, tag) -> None:
        """Pass id or micro-batch id for spans this thread records."""
        self._local.tag = tag

    def py4j_calls(self) -> int:
        """Round trips this thread has sent so far."""
        return getattr(self._local, "py4j", 0)

    def span(self, name: str, fn, *args, **kwargs):
        st = self._stack()
        rec = {
            "id": None, "name": name,
            "parent": st[-1] if st else None,
            "tag": getattr(self._local, "tag", None),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        st.append(rec["id"])
        calls0 = self.py4j_calls()
        rec["start"] = time.monotonic()
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.monotonic()
            rec["py4j"] = self.py4j_calls() - calls0
            st.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace owner.attr (a module function or a class method)
        with a span-recording wrapper."""
        orig = getattr(owner, attr)
        if getattr(orig, "_perfbench_traced", False):
            return

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.span(name, orig, *args, **kwargs)

        traced._perfbench_traced = True
        setattr(owner, attr, traced)

    # ------------------------------------------------------ spark hooks

    def attach(self, spark) -> None:
        """Count py4j round trips and listen to streaming progress on
        a freshly created session."""
        if self.spark is spark:
            return
        self.spark = spark
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        local = self._local

        def counting_send(*a, **kw):
            local.py4j = getattr(local, "py4j", 0) + 1
            return send(*a, **kw)

        client.send_command = counting_send
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append({
                    "batch": p.batchId,
                    "t": time.monotonic(),
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs or {}),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Progress())

    def install(self) -> None:
        """Wrap the public entry points of every engine layer the
        benchmark reports on."""
        from pyspark.sql.streaming import DataStreamWriter

        from mtail_spark import session
        from mtail_spark.compiler import api
        from mtail_spark.exporters import formats, http
        from mtail_spark.sources import filetail, logs
        from mtail_spark.streaming import pipeline

        get_spark = session.get_spark
        tracer = self

        @functools.wraps(get_spark)
        def traced_get_spark(*a, **kw):
            spark = tracer.span("session.get_spark", get_spark, *a, **kw)
            tracer.attach(spark)
            return spark

        session.get_spark = traced_get_spark
        self.wrap(api, "compile_program", "compiler.compile_program")
        self.wrap(api.CompiledProgram, "run_batch", "compiler.run_batch")
        self.wrap(logs, "read_log_lines", "sources.logs.read_log_lines")
        self.wrap(pipeline.StreamingMetricStore, "merge_batch",
                  "streaming.store.merge_batch")
        self.wrap(pipeline.StreamingMetricStore, "rows",
                  "streaming.store.rows")
        self.wrap(http, "to_prometheus", "exporters.to_prometheus")
        self.wrap(formats, "to_prometheus", "exporters.to_prometheus")
        self.wrap(filetail.FileTailSpooler, "poll_once",
                  "sources.filetail.poll_once")
        for backend, (mod, attr) in BACKENDS.items():
            self.wrap(importlib.import_module(mod), attr,
                      f"compiler.{backend}_store")

        init = filetail.FileTailSpooler.__init__

        @functools.wraps(init)
        def capture_init(obj, *a, **kw):
            init(obj, *a, **kw)
            tracer.tailers.append(obj)

        filetail.FileTailSpooler.__init__ = capture_init

        foreach = DataStreamWriter.foreachBatch

        # Each micro-batch's jobs run in a job group of their own, so
        # stage metrics can be summed over chosen batches.  The
        # stream's own group is put back afterwards: stopping the
        # query cancels by it.
        group_keys = ("spark.jobGroup.id", "spark.job.description",
                      "spark.job.interruptOnCancel")

        @functools.wraps(foreach)
        def traced_foreach(writer, func):
            def on_batch(df, batch_id):
                tracer.set_tag(batch_id)
                sc = df.sparkSession.sparkContext
                saved = [sc.getLocalProperty(k) for k in group_keys]
                sc.setJobGroup(f"batch-{batch_id}",
                               f"perfbench batch {batch_id}")
                try:
                    return tracer.span("streaming.batch", func, df,
                                       batch_id)
                finally:
                    for k, v in zip(group_keys, saved):
                        sc.setLocalProperty(k, v)

            return foreach(writer, on_batch)

        DataStreamWriter.foreachBatch = traced_foreach

    # ------------------------------------------------------ status store

    def stage_metrics(self, spark) -> dict:
        """Executor metrics per job group: {group: sums over the stages
        of the group's jobs}.  Jobs outside any group are left out."""
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        group_stages: dict[str, set] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined():
                continue
            ids = j.stageIds()
            group_stages.setdefault(g.get(), set()).update(
                ids.apply(k) for k in range(ids.size()))
        no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        out = {}
        for group, stage_ids in group_stages.items():
            m = dict.fromkeys(STAGE_KEYS, 0)
            m["max_task_share"] = 0.0
            for sid in sorted(stage_ids):
                try:
                    attempts = store.stageData(sid, False, None, False,
                                               no_quantiles)
                except Exception:
                    continue  # skipped stage: never ran, nothing to count
                for a in range(attempts.size()):
                    s = attempts.apply(a)
                    m["stages"] += 1
                    m["cpu_s"] += s.executorCpuTime() / 1e9
                    m["tasks"] += s.numTasks()
                    m["shuffle_write_b"] += s.shuffleWriteBytes()
                    m["shuffle_read_b"] += s.shuffleReadBytes()
                    m["spill_b"] += (s.memoryBytesSpilled()
                                     + s.diskBytesSpilled())
                    sub, done = s.submissionTime(), s.completionTime()
                    if not (sub.isDefined() and done.isDefined()):
                        continue
                    wall = done.get().getTime() - sub.get().getTime()
                    tasks = store.taskList(sid, s.attemptId(), 100000)
                    longest = 0
                    for k in range(tasks.size()):
                        d = tasks.apply(k).duration()
                        if d.isDefined():
                            longest = max(longest, d.get())
                    if wall > 0:
                        m["max_task_share"] = max(m["max_task_share"],
                                                  longest / wall)
            out[group] = m
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "progress": self.progress,
                       "samples": self.samples, **(extra or {})}, f)
