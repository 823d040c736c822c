"""Per-layer attribution of benchmark requests, observed from outside.

Nothing here edits the engine. While a traced pass runs, the tracer:

- wraps the engine's public entry points (``sources.tables``
  ``register_views`` / ``clear_artifact_caches`` /
  ``session_artifact_cache``, ``sources.fixtures.register_fixture_views``
  and every ``streaming.pipeline.run_*``) by rebinding the names in each
  loaded engine module, and sums their wall time;
- tags each request's jobs with a Spark job group and counts jobs,
  stages and tasks through ``statusTracker``;
- reads Catalyst phase times from ``queryExecution().tracker()``;
- collects micro-batch progress with a ``StreamingQueryListener``
  (micro-batch jobs run on the stream thread, so job groups miss them);
- diffs the keys of the session's ``_mea_cache_*`` artifact dicts to
  count artifact builds.

Task metrics (executor run time, shuffle, spill, GC) come from the Spark
event log, enabled at launch in traced runs only and parsed after the
session stops: every job submitted inside a traced pass's wall-clock
window is attributed to that pass.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time

PKG = "monday_etl_automation_spark"
CACHE_PREFIX = "_mea_cache_"
MB = 1024.0 * 1024.0

# per-pass layer sums; the report is their mean over traced passes
PASS_KEYS = (
    "sources.register_s",
    "sources.artifact_builds",
    "sources.artifact_build_s",
    "plans.build_s",
    "plans.catalyst_s",
    "exec.action_s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "streaming.replay_s",
    "streaming.batches",
    "streaming.add_batch_ms",
    "streaming.state_commit_ms",
    "streaming.state_rows",
)
EVENT_KEYS = ("exec.executor_run_s", "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb", "exec.gc_s")


def artifact_keys(spark) -> set:
    """Every (cache tag, key) the session's snapshot-keyed artifact dicts hold."""
    return {(attr, k) for attr, cache in list(vars(spark).items()) if attr.startswith(CACHE_PREFIX) for k in list(cache)}


def _rebind(original, replacement) -> None:
    """Point every engine-module global bound to ``original`` at ``replacement``."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(PKG):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.passes: list[dict] = []
        self.windows_ms: list[tuple[float, float]] = []
        self._lock = threading.Lock()
        self._depth: dict[str, int] = {}
        self._cur: dict = {}
        self._req: dict = {}
        self._last_progress: dict = {}
        self._listener = None
        self._n = 0

    # -- engine entry points ------------------------------------------
    def install(self) -> None:
        from monday_etl_automation_spark.sources import fixtures, tables
        from monday_etl_automation_spark.streaming import pipeline

        targets = [
            (tables.register_views, "sources.register_s"),
            (fixtures.register_fixture_views, "sources.register_s"),
            (tables.clear_artifact_caches, "sources.register_s"),
            (tables.session_artifact_cache, None),
        ]
        targets += [(fn, "streaming.replay_s") for n, fn in vars(pipeline).items() if n.startswith("run_") and callable(fn)]
        for fn, bucket in targets:
            _rebind(fn, self._wrap(fn, bucket))

    def _wrap(self, fn, bucket):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            if bucket is None:  # an artifact-cache lookup: mark the request
                self._req["artifact_lookup"] = True
                return fn(*args, **kwargs)
            with self._lock:
                outer = self._depth.get(bucket, 0) == 0
                self._depth[bucket] = self._depth.get(bucket, 0) + 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with self._lock:
                    self._depth[bucket] -= 1
                    if outer:
                        self._cur[bucket] += dt
                        self._req[bucket] = self._req.get(bucket, 0.0) + dt

        return timed

    # -- streaming progress ---------------------------------------------
    def _add_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer._on_progress(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)

    def _on_progress(self, p) -> None:
        with self._lock:
            if not self.active:
                return
            cur = self._cur
            cur["streaming.batches"] += 1
            cur["streaming.add_batch_ms"] += (p.durationMs or {}).get("addBatch", 0)
            ops = p.stateOperators or []
            cur["streaming.state_commit_ms"] += sum(op.commitTimeMs for op in ops)
            self._last_progress[str(p.id)] = sum(op.numRowsTotal for op in ops)

    # -- passes and requests --------------------------------------------
    def begin_pass(self) -> None:
        if self._listener is None:
            self._add_listener()
        self._cur = dict.fromkeys(PASS_KEYS, 0.0)
        self._cur.update(artifact_lookups=0, artifact_hits=0)
        self._last_progress = {}
        self._t0_ms = time.time() * 1000.0
        self.active = True

    def end_pass(self) -> None:
        t1_ms = time.time() * 1000.0
        time.sleep(0.5)  # let the listener bus deliver the last progress events
        with self._lock:
            self.active = False
            self._cur["streaming.state_rows"] = float(sum(self._last_progress.values()))
        self.windows_ms.append((self._t0_ms, t1_ms))
        self.passes.append(self._cur)

    def request(self, name: str, build, act) -> None:
        """Run one request (``build()`` -> DataFrame, ``act(df)``) and
        attribute its time to layers; raises what the request raises."""
        sc = self.spark.sparkContext
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        sc.setJobGroup(group, name, interruptOnCancel=False)
        self._req = {}
        before = artifact_keys(self.spark)
        t0_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            df = build()
            t_build = time.perf_counter() - t0
            qe = df._jdf.queryExecution()
            qe.executedPlan()  # forces optimization + planning on the builder's frame
            phases = qe.tracker().phases()
            catalyst_ms = 0
            for ph in ("analysis", "optimization", "planning"):
                summary = phases.get(ph)
                # a memoized frame's tracker spans every request that reused
                # it (first start to last end): count only phases run now
                if summary.isDefined() and summary.get().startTimeMs() >= t0_ms - 1:
                    catalyst_ms += summary.get().durationMs()
            t1 = time.perf_counter()
            act(df)
            t_act = time.perf_counter() - t1
        finally:
            wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            added = len(artifact_keys(self.spark) - before)
            self._count_jobs(group)
            cur = self._cur
            cur["sources.artifact_builds"] += added
            if added:
                cur["sources.artifact_build_s"] += wall
            if self._req.get("artifact_lookup"):
                cur["artifact_lookups"] += 1
                cur["artifact_hits"] += 0 if added else 1
        cur["plans.build_s"] += max(0.0, t_build - self._req.get("streaming.replay_s", 0.0))
        cur["plans.catalyst_s"] += catalyst_ms / 1000.0
        cur["exec.action_s"] += t_act

    def _count_jobs(self, group: str) -> None:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        self._cur["exec.jobs"] += len(jobs)
        self._cur["exec.stages"] += len(stages)
        self._cur["exec.tasks"] += tasks

    # -- report -----------------------------------------------------------
    def layer_means(self) -> dict[str, float]:
        n = max(1, len(self.passes))
        out = {k: sum(p[k] for p in self.passes) / n for k in PASS_KEYS}
        lookups = sum(p["artifact_lookups"] for p in self.passes)
        hits = sum(p["artifact_hits"] for p in self.passes)
        out["sources.artifact_hit_ratio"] = hits / lookups if lookups else 1.0
        return out


def event_log_metrics(event_dir: str, windows_ms: list[tuple[float, float]]) -> dict[str, float]:
    """Task metrics of every job submitted inside one of ``windows_ms``,
    summed from the event log(s) in ``event_dir`` and averaged per window."""
    stage_ids: set[int] = set()
    sums = dict.fromkeys(EVENT_KEYS, 0.0)
    tasks: list[dict] = []
    for fname in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, fname)) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    t = ev.get("Submission Time", 0)
                    if any(a <= t <= b for a, b in windows_ms):
                        stage_ids.update(ev.get("Stage IDs", []))
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    tasks.append((ev.get("Stage ID"), ev.get("Task Metrics") or {}))
    for stage, m in tasks:
        if stage not in stage_ids:
            continue
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        sums["exec.executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        sums["exec.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        sums["exec.spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
        sums["exec.shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / MB
        sums["exec.shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / MB
    n = max(1, len(windows_ms))
    return {k: v / n for k, v in sums.items()}
