"""In-memory spans around the engine's public calls (traced runs only).

A span is (id, name, start, end, parent, thread, attrs). ``Tracer.install``
replaces each traced function where its caller looks it up — a class
attribute for methods, the importing module's global for functions imported
by name — with a wrapper that records a span and labels the Spark jobs it
triggers (``setJobDescription``). ``Tracer.restore`` puts the originals
back. Spans are kept in memory and written out once, by ``dump``.

Self time of a span is its duration minus the part of it that its child
spans cover (``self_time``).
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

# (module, owner attribute or None for a module global, attribute, span name)
TRACE_POINTS = [
    ("transcript_cdc.sources.changes", "ChangeFeed", "read_range", "changes.read_range"),
    ("transcript_cdc.plans.ingest", "CdcIngestJob", "run", "ingest.run"),
    ("transcript_cdc.plans.ingest", "CdcIngestJob", "run_epoch", "ingest.epoch"),
    # merge_apply looks survivors_anti_join up in merge.py; the fused COW
    # epoch imports it by name into plans/ingest.py
    ("transcript_cdc.operators.merge", None, "survivors_anti_join", "merge.survivors_anti_join"),
    ("transcript_cdc.plans.ingest", None, "survivors_anti_join", "merge.survivors_anti_join"),
    ("transcript_cdc.sources.lake", "ParquetSnapshotTable", "plan_cow_merge", "lake.plan_cow_merge"),
    ("transcript_cdc.sources.lake", "ParquetSnapshotTable", "write_epoch_data", "lake.write_epoch_data"),
    ("transcript_cdc.sources.lake", "ParquetSnapshotTable", "commit_epoch", "lake.commit_epoch"),
    ("transcript_cdc.sources.lake", "ParquetSnapshotTable", "bucket_of", "lake.bucket_of"),
    ("transcript_cdc.sources.lake", "ParquetSnapshotTable", "files_for_key", "lake.files_for_key"),
    ("transcript_cdc.streaming.stream_ingest", "StreamingIngest", "apply_batch", "stream.apply_batch"),
    ("transcript_cdc.streaming.stream_ingest", "StreamingIngest", "start", "stream.start"),
]


class Tracer:
    """Span recorder. ``enabled=False`` makes ``span`` a no-op, so the
    untraced run pays nothing and installs no wrappers."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self._sc = None

    def bind(self, spark_context) -> None:
        """Spark context whose job descriptions the wrappers set."""
        self._sc = spark_context

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "thread": threading.get_ident(),
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        prev_desc = None
        if self._sc is not None:
            prev_desc = self._sc.getLocalProperty("spark.job.description")
            self._sc.setJobDescription(f"{name} span={sid}")
        stack.append(sid)
        try:
            yield attrs
        finally:
            stack.pop()
            rec["end"] = time.time()
            if self._sc is not None:
                self._sc.setJobDescription(prev_desc)
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as attrs:
                out = fn(*args, **kwargs)
                if name == "lake.files_for_key":
                    attrs["n_files"] = len(out)
                return out

        return traced

    def install(self) -> None:
        import importlib

        if not self.enabled:
            return
        for mod_name, owner_name, attr, span_name in TRACE_POINTS:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            orig = owner.__dict__[attr] if owner_name else getattr(mod, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, span_name))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)

    # ---------- queries over recorded spans ----------

    def named(self, name: str, lo: float, hi: float) -> list[dict]:
        """Spans called ``name`` that started inside [lo, hi]."""
        return sorted(
            (s for s in self.spans if s["name"] == name and lo <= s["start"] <= hi),
            key=lambda s: s["start"],
        )

    def self_time(self, span: dict) -> float:
        kids = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.spans
            if c["parent"] == span["id"]
        )
        return (span["end"] - span["start"]) - covered(kids)

    def innermost(self, t: float) -> dict | None:
        """The latest-starting span open at time ``t`` (any thread)."""
        best = None
        for s in self.spans:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] > best["start"]):
                best = s
        return best


def covered(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_s is None or s > cur_e:
            if cur_s is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_s is not None:
        total += cur_e - cur_s
    return total
