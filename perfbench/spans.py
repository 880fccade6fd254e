"""Spans around calls into the engine's layers, recorded from outside.

``Tracer.install()`` wraps, on their classes and modules, the public
entry points the benchmark attributes time to:

* ``CrawlEngine.run`` and ``CrawlEngine.invalidate_and_recrawl``
* ``WaveStore.commit_wave`` and ``WaveStore.read``
* ``seenidx.write_str_runs`` (the tag prefix ``heal-`` marks a full
  rebuild; a call made directly under ``invalidate_and_recrawl`` is the
  invalidation rebuild; every other call is a per-wave delta build)

Each span is (name, start, end, parent index, op id) plus a small
attribute dict; spans stay in memory and ``dump`` writes them as JSON
lines at the end of the run.  ``uninstall`` restores the originals.

``JobLedger`` reads job, stage and task counts and executor run time
from Spark's status store: the benchmark marks the highest job id
between waves, and ``harvest`` resolves the job ranges afterwards.
"""

from __future__ import annotations

import functools
import json
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = 0
        self._saved: list[tuple] = []
        self.codegen_off_commits = 0

    def _wrap(self, owner, attr: str, name: str, attrs_fn=None, result_fn=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            span = {"name": name, "start": time.time(), "end": None,
                    "parent": tracer._stack[-1] if tracer._stack else None,
                    "op": tracer.op}
            if attrs_fn is not None:
                span.update(attrs_fn(*a, **kw))
            idx = len(tracer.spans)
            tracer.spans.append(span)
            tracer._stack.append(idx)
            try:
                out = orig(*a, **kw)
                if result_fn is not None:
                    span.update(result_fn(out))
                return out
            finally:
                tracer._stack.pop()
                span["end"] = time.time()

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from cianparser_spark.engine import seenidx
        from cianparser_spark.engine.crawler import CrawlEngine
        from cianparser_spark.engine.store import WaveStore

        tracer = self

        def commit_attrs(store, wave, *a, **kw):
            # the engine runs a wave below codegen_row_floor with
            # whole-stage codegen off and commits inside that window
            conf = store.spark.conf.get("spark.sql.codegen.wholeStage", "true")
            if conf == "false":
                tracer.codegen_off_commits += 1
            return {"wave": int(wave)}

        def str_runs_attrs(keys_df, root, n_buckets, tag, *a, **kw):
            parent = tracer.spans[tracer._stack[-1]]["name"] if tracer._stack else None
            rebuild = tag.startswith("heal-") or parent == "engine.invalidate"
            return {"tag": tag, "rebuild": rebuild}

        self._wrap(CrawlEngine, "run", "engine.run")
        self._wrap(CrawlEngine, "invalidate_and_recrawl", "engine.invalidate")
        self._wrap(WaveStore, "commit_wave", "store.commit", attrs_fn=commit_attrs)
        self._wrap(WaveStore, "read", "store.read",
                   attrs_fn=lambda store, name: {"table": name})
        self._wrap(seenidx, "write_str_runs", "seenidx.write_str_runs",
                   attrs_fn=str_runs_attrs, result_fn=lambda n: {"keys": int(n)})

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def select(self, name: str, op: int | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and s["end"] is not None and (op is None or s["op"] == op)]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _opt_ms(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` → epoch seconds (or None)."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class JobLedger:
    """Per-wave Spark job accounting from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def last_job_id(self) -> int:
        ids = self.tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def harvest(self, first: int, last: int) -> dict:
        """Jobs with ids in (first, last]: count, completed tasks, summed
        executor run time (s) and the job intervals (epoch s)."""
        from py4j.protocol import Py4JJavaError

        store = self.sc._jsc.sc().statusStore()
        jobs = tasks = 0
        run_s = 0.0
        intervals = []
        stages_seen: set = set()  # a reused shuffle stage shows in many jobs
        for jid in range(first + 1, last + 1):
            try:
                jd = store.job(jid)
            except Py4JJavaError:  # evicted from the store, or never registered
                continue
            jobs += 1
            t0, t1 = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if t0 is not None and t1 is not None:
                intervals.append((t0, t1))
            stage_ids = jd.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in stages_seen:
                    continue
                stages_seen.add(sid)
                info = self.tracker.getStageInfo(sid)
                if info is None or info.numCompletedTasks == 0:
                    continue  # skipped stage (shuffle reuse)
                tasks += info.numCompletedTasks
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the store
                    continue
                run_s += sd.executorRunTime() / 1000.0
        return {"jobs": jobs, "tasks": tasks, "executor_run_s": run_s,
                "intervals": intervals}


def uncovered(t0: float, t1: float, intervals: list[tuple]) -> float:
    """Part of [t0, t1] covered by none of ``intervals``."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, t0), min(e, t1)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (t1 - t0) - covered)
