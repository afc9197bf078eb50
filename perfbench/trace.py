"""Spans around the program's public layer functions, recorded from outside.

``Tracer.install`` wraps ``Store.put_blobs/get/compact/vacuum``,
``Lake.get/put_blobs`` and the driver-side ``crypto.encrypt_as/decrypt_as``
(``Store.get`` calls them through the module, so the wrapper sees every
driver-side call; calls inside Spark's Python workers are out of its reach).
The workloads open spans of their own around each operation and each
registry builder. Each span records its name, start, end, parent and op id,
plus a Spark job group: the group is set with ``setJobGroup`` before the
wrapped call, and the jobs, stages and tasks of every group are read from
``statusTracker()`` once, when the run ends. Spans stay in memory until then.

The time the tracer spends on its own bookkeeping is summed, so the traced
run can report its overhead.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time

from .stats import self_times


def _parquet_files(path: str) -> dict[str, int]:
    """Parquet files under ``path`` with their sizes."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                out[full] = os.path.getsize(full)
    return out


def active_chunks_dir(store) -> str:
    """The active chunks generation: ``chunks_dir`` in the store's
    manifest.json, or ``chunks`` before any compact or vacuum."""
    import json

    with open(os.path.join(store.path, "manifest.json")) as f:
        return os.path.join(store.path, json.load(f).get("chunks_dir") or "chunks")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.overhead_s = 0.0
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": 0.0,
            "end": 0.0,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "group": f"perfbench-{idx}",
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        sc.setJobGroup(rec["group"], name)
        rec["start"] = t1 = time.perf_counter()
        self.overhead_s += t1 - t0
        try:
            yield attrs
        finally:
            t2 = time.perf_counter()
            rec["end"] = t2
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self.spans[self._stack[-1]]["group"], self.spans[self._stack[-1]]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - t2

    def timed_extra(self, fn, *args):
        """Run bookkeeping ``fn`` (e.g. a directory snapshot) and count its
        time as tracing overhead."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.overhead_s += time.perf_counter() - t0

    # -- wrappers ---------------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper_factory):
        orig = getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper_factory(orig)))

    def install(self) -> None:
        from ps_datalake_spark.lake import crypto
        from ps_datalake_spark.lake.lake import Lake
        from ps_datalake_spark.lake.store import Store

        tr = self

        def plain(name):
            def factory(orig):
                def wrapper(*a, **kw):
                    with tr.span(name):
                        return orig(*a, **kw)

                return wrapper

            return factory

        def put_blobs(orig):
            def wrapper(store, *a, **kw):
                before = tr.timed_extra(_parquet_files, store.path)
                with tr.span("lake.store.put_blobs") as attrs:
                    out = orig(store, *a, **kw)
                after = tr.timed_extra(_parquet_files, store.path)
                new = [f for f in after if f not in before]
                attrs["files_written"] = len(new)
                attrs["bytes_written"] = sum(after[f] for f in new)
                chunks_dir = active_chunks_dir(store) + os.sep
                attrs["new_chunks"] = tr.timed_extra(_rows, [f for f in new if f.startswith(chunks_dir)])
                return out

            return wrapper

        def get(orig):
            def wrapper(store, *a, **kw):
                files = tr.timed_extra(lambda: len(_parquet_files(active_chunks_dir(store))))
                with tr.span("lake.store.get", files=files):
                    return orig(store, *a, **kw)

            return wrapper

        def compact(orig):
            def wrapper(store, *a, **kw):
                before = tr.timed_extra(lambda: _parquet_files(active_chunks_dir(store)))
                with tr.span("lake.store.compact") as attrs:
                    out = orig(store, *a, **kw)
                after = tr.timed_extra(lambda: _parquet_files(active_chunks_dir(store)))
                attrs.update(
                    files_before=len(before), files_after=len(after), bytes_rewritten=sum(after.values())
                )
                return out

            return wrapper

        def vacuum(orig):
            def wrapper(store, *a, **kw):
                with tr.span("lake.store.vacuum") as attrs:
                    out = orig(store, *a, **kw)
                attrs["chunks_removed"] = out
                return out

            return wrapper

        def lake_get(orig):
            def wrapper(lake, *a, **kw):
                from ps_datalake_spark.errors import NotFound

                with tr.span("lake.lake.get") as attrs:
                    try:
                        return orig(lake, *a, **kw)
                    except NotFound:
                        attrs["miss"] = 1
                        raise

            return wrapper

        self._patch(Store, "put_blobs", put_blobs)
        self._patch(Store, "get", get)
        self._patch(Store, "compact", compact)
        self._patch(Store, "vacuum", vacuum)
        self._patch(Lake, "get", lake_get)
        self._patch(Lake, "put_blobs", plain("lake.lake.put_blobs"))
        self._patch(crypto, "encrypt_as", plain("lake.crypto.encrypt_as"))
        self._patch(crypto, "decrypt_as", plain("lake.crypto.decrypt_as"))
        # Store.get_blobs only plans a DataFrame; the workloads span it
        # together with the action that runs it ("lake.store.get_blobs").

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # -- results ----------------------------------------------------------------

    def spark_counts(self) -> None:
        """Fill each span's own jobs, stages and tasks from the status
        tracker. Stages skipped because their shuffle output was reused do
        not count, nor do their tasks."""
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        for rec in self.spans:
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stages = tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    ran = (st.numCompletedTasks + st.numFailedTasks) if st else 0
                    if ran:
                        stages += 1
                        tasks += ran
            rec.update(own_jobs=len(jobs), own_stages=stages, own_tasks=tasks)
        self.overhead_s += time.perf_counter() - t0

    def inclusive(self) -> list[dict]:
        """Each span with ``jobs/stages/tasks`` summed over it and its
        descendants, and ``self_s``."""
        incl = [dict(s) for s in self.spans]
        for s in incl:
            s["jobs"], s["stages"], s["tasks"] = s["own_jobs"], s["own_stages"], s["own_tasks"]
        for i in range(len(incl) - 1, -1, -1):  # children come after parents
            p = incl[i]["parent"]
            if p is not None:
                for k in ("jobs", "stages", "tasks"):
                    incl[p][k] += incl[i][k]
        for s, st in zip(incl, self_times(self.spans)):
            s["self_s"] = st
            s["s"] = s["end"] - s["start"]
        return incl

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _rows(files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)
