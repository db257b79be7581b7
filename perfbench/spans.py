"""Spans around the public calls, attributed to Spark counters.

Untraced runs use ``NullTracer``: every hook is a no-op and ``force``
returns its argument, so the timed job is the plain production shape.
A ``Tracer`` records, per span, name, start, end and parent; each span
runs under its own Spark job group, so the status store's stage
counters and the SQL store's operator metrics can be attributed to it
after the pass. ``force`` materializes a call's output (persist + count)
inside the span so its time lands there and not in a later consumer.
Spans stay in memory and are written out as JSON when the run ends.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name):
        yield

    def action(self, fn, *args):
        return fn(*args)

    def force(self, df):
        return df

    def checkpointed(self, fn):
        return fn

    def close_checkpoint(self):
        pass

    def release(self):
        pass


@dataclass
class Span:
    name: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)


_UNIT = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
         "TiB": 1024 ** 4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: '1,234', '2.3 MiB', or
    'total (min, med, max ...)\\n10.9 s (...)'."""
    first = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", first)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNIT.get(m.group(2), 1.0)


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self._forced: list = []
        self._ckpt_open: int | None = None

    # -- spans -----------------------------------------------------------

    def begin(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else None
        sp = Span(name, parent, f"perfbench-{len(self.spans)}-{name}",
                  time.perf_counter())
        self.spans.append(sp)
        self.stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(sp.group, name)
        return len(self.spans) - 1

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        assert self.stack.pop() == idx, "spans must nest"
        self._restore_group()

    def _restore_group(self) -> None:
        if self.stack:
            top = self.spans[self.stack[-1]]
            self.sc.setJobGroup(top.group, top.name)
        else:
            self.sc._jsc.clearJobGroup()

    @contextmanager
    def span(self, name):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def action(self, fn, *args):
        with self.span("action"):
            return fn(*args)

    def force(self, df):
        """Materialize ``df`` inside the current span; later consumers
        read the cached result. Released by ``release``."""
        df = df.persist()
        self._forced.append(df)
        with self.span("action"):
            df.count()
        return df

    def release(self):
        for df in self._forced:
            df.unpersist()
        self._forced = []

    # -- checkpoint writes: a stage's parquet write runs inside
    # CheckpointedJob.run after the stage function returns, so each
    # write span opens when a stage function returns and closes when
    # the next one starts (or the job ends)

    def checkpointed(self, fn):
        def stage(*args):
            self.close_checkpoint()
            out = fn(*args)
            self._ckpt_open = self.begin("checkpoint.write")
            return out
        return stage

    def close_checkpoint(self):
        if self._ckpt_open is not None:
            self.end(self._ckpt_open)
            self._ckpt_open = None
            self.release()

    def note_checkpoint(self, manifests):
        self.metric("checkpoint.files", sum(m["n_files"] for m in manifests),
                    "count")
        self.metric("checkpoint.bytes_written",
                    sum(p.get("bytes", 0) for m in manifests
                        for p in m["partitions"]), "B")

    # -- counts taken outside every span ---------------------------------

    def _uncounted(self, fn):
        self.sc.setJobGroup("perfbench-counts", "counts")
        try:
            return fn()
        finally:
            self._restore_group()

    def count(self, df) -> int:
        return self._uncounted(df.count)

    def count_sum(self, df, col) -> int:
        from pyspark.sql import functions as F
        return int(self._uncounted(
            lambda: df.agg(F.sum(col)).first()[0]) or 0)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    # -- attribution -------------------------------------------------------

    def collect_counters(self) -> None:
        """Fill each span's counters from the status stores. Counters are
        inclusive: a span counts the jobs of its own job group and of
        every span nested in it."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jobs = [set(tracker.getJobIdsForGroup(sp.group)) for sp in self.spans]
        # children come after their parent, so one backward sweep folds
        # every descendant's jobs into each ancestor
        for i in reversed(range(len(self.spans))):
            p = self.spans[i].parent
            if p is not None:
                jobs[p] |= jobs[i]
        sql_execs = self._sql_executions(set().union(*jobs))
        stage_cache: dict = {}

        def stages_of(job_ids):
            out = {}
            for j in job_ids:
                info = tracker.getJobInfo(j)
                for s in (info.stageIds if info else ()):
                    if s not in stage_cache:
                        try:
                            stage_cache[s] = store.lastStageAttempt(s)
                        except Exception:       # skipped: never ran
                            stage_cache[s] = None
                    d = stage_cache[s]
                    if d is not None and d.numCompleteTasks() > 0:
                        out[s] = d
            return out

        for sp, js in zip(self.spans, jobs):
            st = stages_of(js)
            c = {
                "jobs": len(js),
                "stages": len(st),
                "tasks": sum(d.numCompleteTasks() for d in st.values()),
                "task_run_s": sum(d.executorRunTime()
                                  for d in st.values()) / 1e3,
                "task_cpu_s": sum(d.executorCpuTime()
                                  for d in st.values()) / 1e9,
                "shuffle_write_bytes": sum(d.shuffleWriteBytes()
                                           for d in st.values()),
                "spill_bytes": sum(d.memoryBytesSpilled()
                                   + d.diskBytesSpilled()
                                   for d in st.values()),
            }
            if st:
                s, d = max(st.items(), key=lambda kv: kv[1].executorRunTime())
                durs = self._task_durations(store, s, d.attemptId())
                c["top_stage_tasks"] = len(durs)
                c["top_stage_max_task_s"] = max(durs, default=0.0)
                c["top_stage_median_task_s"] = (statistics.median(durs)
                                                if durs else 0.0)
            for ex_jobs, metrics in sql_execs:
                if ex_jobs and ex_jobs <= js:
                    for k, v in metrics.items():
                        c[k] = c.get(k, 0.0) + v
            sp.counters = c

    def _task_durations(self, store, stage, attempt) -> list[float]:
        out = []
        it = store.taskList(stage, attempt, 1 << 20).iterator()
        while it.hasNext():
            td = it.next()
            if td.duration().isDefined():
                out.append(td.duration().get() / 1e3)
        return out

    def _sql_executions(self, traced_jobs: set):
        """[(job ids, {python/arrow metric: total})] per SQL execution that
        ran one of ``traced_jobs``."""
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        sql = self.spark._jsparkSession.sharedState().statusStore()
        wanted = {"time to run Python workers": "python_s",
                  "data sent to Python workers": "arrow_bytes_in",
                  "data returned from Python workers": "arrow_bytes_out"}
        out = []
        it = sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            jobs = {int(k) for k in conv.asJava(e.jobs()).keySet()}
            if not jobs & traced_jobs:
                continue
            values = conv.asJava(sql.executionMetrics(e.executionId()))
            metrics: dict[str, float] = {}
            nodes = sql.planGraph(e.executionId()).allNodes().iterator()
            while nodes.hasNext():
                mi = nodes.next().metrics().iterator()
                while mi.hasNext():
                    pm = mi.next()
                    key = wanted.get(pm.name())
                    v = values.get(pm.accumulatorId())
                    if key and v is not None:
                        metrics[key] = metrics.get(key, 0.0) \
                            + parse_sql_metric(v)
            if metrics:
                out.append((jobs, metrics))
        return out

    # -- summaries -------------------------------------------------------

    def self_time(self, idx: int) -> float:
        sp = self.spans[idx]
        kids = sum(c.end - c.start for c in self.spans if c.parent == idx)
        return (sp.end - sp.start) - kids

    def to_json(self) -> list[dict]:
        return [{"name": s.name, "parent": s.parent, "group": s.group,
                 "start": s.start, "end": s.end,
                 "dur_s": s.end - s.start, "self_s": self.self_time(i),
                 "counters": s.counters}
                for i, s in enumerate(self.spans)]
