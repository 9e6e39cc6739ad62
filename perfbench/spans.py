"""Spans from pass-through wrappers, plus Spark's event log.

``Recorder.install`` wraps the package's public calls (engine seed/run/resume
and maintenance, every snapshot-store commit, fold, checkpoint).  Each
wrapper records a span (name, thread, start, end, parent, iteration), returns
the wrapped call's value and re-raises its exception unchanged.  With
``describe=True`` it also sets the Spark job description in the calling
thread to ``<span name>#<span id>``, so every job in the event log names the
span that ran it; commits run in a thread pool, so this is per thread.

Untraced runs install only the checkpoint wrapper, which timestamps each
iteration boundary; everything else is traced-run only.

``read_event_log`` turns Spark's uncompressed JSON event log into one record
per job: submit/complete time, description, SQL execution id, task count,
summed executor run time, per-task run times, shuffle bytes written and
bytes spilled.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time

DESC = "spark.job.description"


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; hidden/underscore files excluded."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            with contextlib.suppress(OSError):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def _live_dirs(table) -> set[str]:
    m = table.manifest()
    if m is None:
        return set()
    return {s.split("/")[0] for s in m.segments} | {
        p.split("/")[0] for p in (m.partitions or {}).values()
    }


class Recorder:
    def __init__(self, spark, describe: bool):
        self.spark = spark
        self.describe = describe
        self.spans: list[dict] = []
        self.boundaries: list[float] = []  # end time of each iteration checkpoint
        self.iteration = 0  # global iteration index across engines
        self.frontier_segments: list[int] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def start_timed(self) -> None:
        """Drop what the warm-up recorded outside the timed passes: its
        frontier segment counts and, in a traced run, its UDF profiles."""
        self.frontier_segments.clear()
        if self.describe:
            self.spark.profile.clear(type="perf")

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(DESC) if self.describe else None
        if self.describe:
            sc.setLocalProperty(DESC, f"{name}#{sid}")
        rec = {
            "id": sid, "name": name, "thread": threading.get_ident(),
            "parent": stack[-1]["id"] if stack else None,
            "parent_name": stack[-1]["name"] if stack else None,
            "iteration": self.iteration, "start": time.time(), **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self.describe:
                sc.setLocalProperty(DESC, prev)
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, owner, attr: str, name_of, before=None, after=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            name = name_of(*args, **kwargs)
            stack = self._local.__dict__.get("stack") or []
            if stack and stack[-1]["name"] == name:  # inner call of the same op
                return orig(*args, **kwargs)
            state = before(args, kwargs) if before else None
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
            if after:
                rec.update(after(state, args, kwargs) or {})
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def _checkpoint_done(self, _state, args, kwargs):
        label = args[1] if len(args) > 1 else kwargs.get("label", {})
        if "stats" not in label:  # seed / compaction markers are not iterations
            return None
        self.boundaries.append(time.time())
        self.iteration += 1
        if self.describe:
            store = args[0]
            manifests = (store.table(n).manifest() for n in ("frontier", "frontier_tombs"))
            self.frontier_segments.append(sum(len(m.segments) for m in manifests if m))
        return {"iteration_end": True}

    @staticmethod
    def _dirs_before(args, kwargs):
        return _live_dirs(args[0])

    @staticmethod
    def _segment_bytes(dirs_before, args, kwargs):
        """Bytes and files of the data dirs a store write added."""
        table = args[0]
        size = files = 0
        for d in _live_dirs(table) - dirs_before:
            b, f = dir_stats(os.path.join(table.root, "data", d))
            size += b
            files += f
        return {"bytes": size, "files": files}

    def install(self) -> None:
        from feapder_spark.crawl.engine import CrawlEngine
        from feapder_spark.store.snapshot import SnapshotStore, SnapshotTable

        self._wrap(SnapshotStore, "checkpoint", lambda *a, **k: "store.checkpoint",
                   after=self._checkpoint_done)
        if not self.describe:
            return
        for attr in ("seed", "run", "resume"):
            self._wrap(CrawlEngine, attr, lambda *a, _n=attr, **k: f"engine.{_n}")
        self._wrap(CrawlEngine, "compact_frontier", lambda *a, **k: "store.compact")
        self._wrap(CrawlEngine, "expire_snapshots", lambda *a, **k: "store.expire")
        written = dict(before=self._dirs_before, after=self._segment_bytes)
        for attr in ("commit", "commit_append_partitioned", "commit_partitions"):
            self._wrap(SnapshotTable, attr, lambda t, *a, **k: f"store.commit.{t.name}", **written)
        self._wrap(SnapshotTable, "fold_segments", lambda t, *a, **k: f"store.fold.{t.name}",
                   **written)
        self._wrap(SnapshotTable, "rewrite_data_files",
                   lambda t, *a, **k: f"store.rewrite.{t.name}", **written)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def read_event_log(log_dir: str) -> list[dict]:
    """One dict per Spark job, in submission order."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "job": jid, "submit": ev["Submission Time"] / 1000.0,
                        "end": None, "desc": props.get(DESC) or "",
                        "sql": props.get("spark.sql.execution.id"),
                        "tasks": 0, "task_s": 0.0, "task_times": [],
                        "shuffle_bytes": 0, "spill_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    job["tasks"] += 1
                    job["task_s"] += run_s
                    job["task_times"].append(run_s)
                    job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    out = [j for j in jobs.values() if j["end"] is not None]
    return sorted(out, key=lambda j: (j["submit"], j["job"]))


def span_of(job: dict) -> tuple[str, int | None]:
    """(span name, span id) a job's description names; ('', None) if none."""
    name, _, sid = job["desc"].rpartition("#")
    return (name, int(sid)) if sid.isdigit() else ("", None)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def python_worker_seconds(spark, dump_dir: str) -> dict[str, float]:
    """Profiled Python-worker seconds per UDF kind, from the session's
    ``perf`` UDF profiler: ``fetch`` (the fused fetch+parse ``mapInPandas``),
    ``seen`` (the Bloom claim) and ``other``."""
    import pstats

    spark.profile.dump(dump_dir, type="perf")
    out = {"fetch": 0.0, "seen": 0.0, "other": 0.0}
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        st = pstats.Stats(path)
        funcs = {(os.path.basename(f), fn) for f, _, fn in st.stats}
        if ("fetcher.py", "fp_map") in funcs:
            kind = "fetch"
        elif ("seen_set.py", "per_bucket") in funcs:
            kind = "seen"
        else:
            kind = "other"
        out[kind] += st.total_tt
    return out
