"""Per-layer tracing for the benchmark, done entirely from outside the engine.

``Tracer.install()`` wraps the module-level functions and class methods that
``core/dataset.py`` (and the random-access and view layers) reach through
module attributes (``md.``, ``mf.``, ``rec.``, ``_bl.``), so no engine file
changes. Each wrapper records a span -- name, start, end, parent span and op
id -- while an op is being traced, and calls straight through otherwise.
Counts (bytes written, files probed, cache requests, Spark jobs) are taken at
the same boundaries. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from collections import defaultdict
from typing import Callable, Dict, List, Optional

import pyarrow.parquet as pq

# (owner path, attribute, span name). Owners are modules or classes of the
# engine; every call site in the engine looks the attribute up at call time.
_SPAN_TARGETS = [
    ("space_spark.core.dataset:Dataset", "append", "dataset.append"),
    ("space_spark.core.dataset:Dataset", "read", "dataset.read"),
    ("space_spark.core.dataset:Dataset", "read_by_keys", "dataset.read_by_keys"),
    ("space_spark.core.dataset:Dataset", "upsert", "dataset.upsert"),
    ("space_spark.core.dataset:Dataset", "delete", "dataset.delete"),
    ("space_spark.core.dataset:Dataset", "diff", "dataset.diff"),
    ("space_spark.core.dataset:Dataset", "compact", "dataset.compact"),
    ("space_spark.core.dataset:Dataset", "compact_delete_vectors",
     "dataset.compact_delete_vectors"),
    ("space_spark.core.metadata:MetadataLog", "commit_snapshot",
     "metadata.commit_snapshot"),
    ("space_spark.core.metadata:MetadataLog", "read_metadata",
     "metadata.read_metadata"),
    ("space_spark.core.metadata:MetadataLog", "write_metadata",
     "metadata.write_metadata"),
    ("space_spark.core.manifests", "prune_files", "manifests.prune_files"),
    ("space_spark.core.manifests", "write_manifest", "manifests.write_manifest"),
    ("space_spark.core.manifests", "write_record_manifest",
     "manifests.write_record_manifest"),
    ("space_spark.core.manifests", "read_file_blooms",
     "manifests.read_file_blooms"),
    ("space_spark.core.manifests", "collect_file_stats",
     "manifests.collect_file_stats"),
    ("space_spark.core.blooms", "build_arrow", "blooms.build_arrow"),
    ("space_spark.core.blooms", "file_matches_any", "blooms.file_matches_any"),
    ("space_spark.core.blooms", "file_matches_value_sets",
     "blooms.file_matches_value_sets"),
    ("space_spark.core.records", "read_blob_column", "records.read_blob_column"),
    ("space_spark.core.random_access:RandomAccessDataSource", "_file_column",
     "random_access.file_column"),
    ("space_spark.core.views:MaterializedView", "refresh", "views.refresh"),
    ("space_spark.core.agg_views:MaterializedAggregate", "refresh",
     "views.refresh"),
]

# Bloom probes: one call per candidate file; a true result keeps the file.
_BLOOM_PROBES = ("blooms.file_matches_any", "blooms.file_matches_value_sets")

LISTING_PREFIX = "Listing leaf files and directories"


def _resolve(path: str):
    import importlib

    mod_name, _, cls_name = path.partition(":")
    mod = importlib.import_module(mod_name)
    return getattr(mod, cls_name) if cls_name else mod


def _tree_stats(root: str) -> Dict[str, List[int]]:
    """{kind: [files, bytes]} under ``root``, where kind is the table
    subdirectory a file sits in (``data``, ``records`` or ``_space``)."""
    out: Dict[str, List[int]] = defaultdict(lambda: [0, 0])
    for dirpath, _dirs, files in os.walk(root):
        parts = os.path.relpath(dirpath, root).split(os.sep)
        kind = next((p for p in ("data", "records", "_space") if p in parts),
                    "other")
        acc = out[kind]
        for name in files:
            try:
                acc[1] += os.path.getsize(os.path.join(dirpath, name))
            except FileNotFoundError:
                continue
            acc[0] += 1
    return out


class Tracer:
    """Spans and counts for the ops run while ``begin_op``/``end_op`` bracket
    them. One instance per benchmark run; ``install`` patches the engine and
    ``uninstall`` restores it."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._status = self._sc.statusTracker()
        self._store = self._sc._jsc.sc().statusStore()
        self._patched: List[tuple] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_span = 0
        self.op: Optional[dict] = None
        self.ops: List[dict] = []
        self.spans: List[dict] = []

    # ------------------------------------------------------------ patching
    def install(self) -> None:
        for owner_path, attr, name in _SPAN_TARGETS:
            owner = _resolve(owner_path)
            orig = owner.__dict__[attr]
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))
        md = _resolve("space_spark.core.metadata:MetadataLog")
        orig_lock = md.__dict__["commit_lock"]
        self._patched.append((md, "commit_lock", orig_lock))
        tracer = self

        @contextlib.contextmanager
        def commit_lock(log_self):
            t0 = time.perf_counter()
            with orig_lock(log_self):
                if tracer.op is not None:
                    tracer.op["counts"]["metadata.commit_lock.wait_s"] += (
                        time.perf_counter() - t0)
                yield

        md.commit_lock = commit_lock

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _wrap(self, fn: Callable, name: str) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            op = tracer.op
            if op is None:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            with tracer._lock:
                span_id = tracer._next_span
                tracer._next_span += 1
            span = {"id": span_id, "name": name,
                    "parent": stack[-1]["id"] if stack else None,
                    "op": op["id"], "tracer_s": 0.0,
                    "start": time.perf_counter()}
            stack.append(span)
            result, error = None, None
            try:
                result = fn(*args, **kwargs)
                return result
            except BaseException as e:
                error = e
                raise
            finally:
                stack.pop()
                span["end"] = time.perf_counter()
                with tracer._lock:
                    tracer.spans.append(span)
                tracer._count(op, name, args, kwargs, result, error)
                # Counting (opening manifests, sizing files) runs inside
                # the parent span; keep it out of the parent's self time.
                if stack:
                    stack[-1]["tracer_s"] += time.perf_counter() - span["end"]

        return wrapper

    def _count(self, op, name, args, kwargs, result, error) -> None:
        c = op["counts"]
        if error is not None:
            from space_spark.errors import TransactionConflictError

            if (name == "metadata.commit_snapshot"
                    and isinstance(error, TransactionConflictError)):
                c["metadata.conflicts"] += 1
            return
        if name == "metadata.write_metadata":
            log = args[0]
            c["metadata.bytes_written"] += os.path.getsize(log.abs_path(result))
        elif name in ("manifests.write_manifest",
                      "manifests.write_record_manifest"):
            # Both take the manifest's absolute path second.
            path = args[1] if len(args) > 1 else kwargs["manifest_abs_path"]
            c["manifests.bytes_written"] += os.path.getsize(path)
        elif name == "manifests.prune_files":
            paths = args[1] if len(args) > 1 else kwargs["manifest_abs_paths"]
            c["manifests.files_in"] += sum(
                pq.ParquetFile(p).metadata.num_rows for p in paths)
            c["manifests.files_kept"] += len(result)
        elif name in _BLOOM_PROBES:
            c["blooms.files_probed"] += 1
            c["blooms.files_kept"] += int(bool(result))
        elif name == "random_access.file_column":
            c["random_access.requests"] += 1
        elif name == "records.read_blob_column":
            c["random_access.misses"] += 1
        elif name == "views.refresh":
            c["views.snapshots_applied"] += len(result)

    # ------------------------------------------------------------- op scope
    def begin_op(self, op_id: int, kind: str, watch_dir: Optional[str]) -> None:
        """Start tracing an op; a writer passes the directory holding its
        tables, whose files are counted before and after."""
        self._sc.setJobGroup(f"perfbench-op-{op_id}", kind)
        self.op = {"id": op_id, "kind": kind, "counts": defaultdict(float),
                   "watch_dir": watch_dir,
                   "fs_before": _tree_stats(watch_dir) if watch_dir else None}

    def end_op(self) -> None:
        op, self.op = self.op, None
        self._sc.setJobGroup("perfbench-idle", "idle")
        c = op["counts"]
        for jid in self._status.getJobIdsForGroup(f"perfbench-op-{op['id']}"):
            info = self._status.getJobInfo(jid)
            c["spark.jobs"] += 1
            if info is None:
                continue
            c["spark.stages"] += len(info.stageIds)
            for sid in info.stageIds:
                stage = self._status.getStageInfo(sid)
                if stage is not None:
                    c["spark.tasks"] += stage.numTasks
            desc = self._store.job(jid).description()
            if desc.isDefined() and desc.get().startswith(LISTING_PREFIX):
                c["spark.listing_jobs"] += 1
        if op["fs_before"] is not None:
            after = _tree_stats(op["watch_dir"])
            before = op["fs_before"]
            files = sum(v[0] for v in after.values()) - sum(
                v[0] for v in before.values())
            c["fs.files_created"] += max(0, files)
            for sub, key in (("data", "fs.data_bytes_written"),
                             ("records", "records.bytes_written")):
                c[key] += after.get(sub, [0, 0])[1] - before.get(sub, [0, 0])[1]
        op.pop("fs_before")
        self.ops.append(op)

    # ----------------------------------------------------------- reporting
    def span_times(self) -> Dict[int, dict]:
        """{span id: {"name", "op", "dur", "self"}}; self time is the span's
        duration minus the union of its children's intervals and minus the
        tracer's own counting work done inside it."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            dur = s["end"] - s["start"]
            out[s["id"]] = {"name": s["name"], "op": s["op"], "dur": dur,
                            "self": dur - covered - s["tracer_s"],
                            "parent": s["parent"]}
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"ops": [{k: v for k, v in op.items() if k != "watch_dir"}
                               for op in self.ops],
                       "spans": self.spans}, f)
