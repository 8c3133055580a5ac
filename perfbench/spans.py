"""Timing spans around the calls into each engine layer.

Spans live in memory and are written out when the run ends. Each span
has a name, start, end, parent span and request id; a layer's self
time is its span minus the part of it its child spans cover.

``Tracer.patch`` swaps a module attribute for a timing wrapper where
its caller looks it up and restores it afterwards, so engine code
stays unchanged. The untraced run uses ``NULL`` and installs nothing.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the union of its children's intervals
    clipped to the span."""
    children: dict = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        ivs = sorted(
            (max(c["start"], lo), min(c["end"], hi))
            for c in children.get(s["id"], ())
            if c["end"] > lo and c["start"] < hi
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


class Tracer:
    enabled = True

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list = []
        self.groups: list[str] = []

    # -- spans
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def rid(self):
        return getattr(self._local, "rid", None)

    @contextlib.contextmanager
    def request(self, rid, group: str | None = None):
        """Mark the calling thread's work as request ``rid``; with
        ``group``, also tag its Spark jobs with that job group."""
        prev = self.rid
        self._local.rid = rid
        if group is not None and self.sc is not None:
            self.sc.setJobGroup(group, group)
            with self._lock:
                self.groups.append(group)
        try:
            yield
        finally:
            self._local.rid = prev

    def jobs_now(self) -> int:
        """Jobs of the calling thread's job group so far."""
        if self.sc is None:
            return 0
        group = self.sc.getLocalProperty("spark.jobGroup.id")
        if group is None:
            return 0
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        s = {
            "id": next(self._ids),
            "name": name,
            "parent": st[-1]["id"] if st else None,
            "rid": self.rid,
            "attrs": attrs,
        }
        jobs0 = self.jobs_now()
        st.append(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            st.pop()
            s["attrs"]["jobs"] = self.jobs_now() - jobs0
            with self._lock:
                self.spans.append(s)

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        return timed

    def note_df(self, df) -> None:
        """Keep a DataFrame built for the current request so its Catalyst
        phases can be read once it has executed."""
        dfs = getattr(self._local, "dfs", None)
        if dfs is None:
            dfs = self._local.dfs = []
        dfs.append(df)

    def take_dfs(self) -> list:
        dfs = getattr(self._local, "dfs", None) or []
        self._local.dfs = []
        return dfs

    # -- patching (modules and classes by attribute, registries by key)
    def patch(self, obj, attr: str, replacement) -> None:
        if isinstance(obj, dict):
            self._saved.append((obj, attr, obj[attr]))
            obj[attr] = replacement
        else:
            self._saved.append((obj, attr, getattr(obj, attr)))
            setattr(obj, attr, replacement)

    def patch_span(self, obj, attr: str, name: str, on_result=None) -> None:
        self.patch(obj, attr, self.wrap(name, getattr(obj, attr), on_result))

    def unpatch(self) -> None:
        while self._saved:
            obj, attr, orig = self._saved.pop()
            if isinstance(obj, dict):
                obj[attr] = orig
            else:
                setattr(obj, attr, orig)

    # -- reading back
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self) -> list[dict]:
        st = self_times(self.spans)
        return [
            {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "rid": s["rid"],
                "start": s["start"],
                "end": s["end"],
                "self": st[s["id"]],
                **{k: v for k, v in s["attrs"].items() if k != "df"},
            }
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]


class _NullTracer:
    """Installed in untraced runs: no spans, no job groups, no cost
    beyond one attribute lookup."""

    enabled = False
    spans: list = []
    rid = None

    @contextlib.contextmanager
    def request(self, rid, group=None):
        yield

    @contextlib.contextmanager
    def span(self, name, **attrs):
        yield {"attrs": attrs}

    def unpatch(self) -> None:
        pass


NULL = _NullTracer()


# ------------------------------------------------------ Spark read-back


def phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations recorded on a DataFrame's
    QueryExecution (analysis, optimization, planning)."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def group_stats(sc, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and executor counters of one job group, read
    from the status tracker and the status store."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        (
            "jobs",
            "stages",
            "tasks",
            "executor_run_ms",
            "executor_cpu_ms",
            "gc_ms",
            "shuffle_read_bytes",
            "shuffle_write_bytes",
            "spill_bytes",
        ),
        0.0,
    )
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            try:
                st = store.lastStageAttempt(stage_id)
            except Exception:  # noqa: BLE001 - skipped stages have no attempt
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["gc_ms"] += st.jvmGcTime()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out
