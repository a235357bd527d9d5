"""Span recorder wrapped around the package's public layer functions.

Spans live in memory and are written out once, when the run ends. Each span
holds (name, layer, start, end, parent, op id). The wrappers are installed by
rebinding the function objects in every loaded ``kartothek_spark`` module, so
calls made inside the package (``read_table`` -> ``dispatch_labels`` ->
``query_index_labels``) are recorded too. Nothing in the package changes.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time

# (module that defines it, attribute, layer)
TARGETS = [
    ("kartothek_spark.core.manifest", "DatasetManifest.load", "manifest"),
    ("kartothek_spark.core.manifest", "DatasetManifest.commit", "manifest"),
    ("kartothek_spark.dataset.read", "dispatch_labels", "plan"),
    ("kartothek_spark.core.index", "query_index_labels", "index"),
    ("kartothek_spark.core.index", "update_index", "index"),
    ("kartothek_spark.core.index", "build_index", "index"),
    ("kartothek_spark.dataset.read", "read_table", "scan"),
    ("kartothek_spark.cube.query", "query_cube", "cube"),
    ("kartothek_spark.dataset.write", "store_dataframe_as_dataset", "write"),
    ("kartothek_spark.dataset.write", "update_dataset", "write"),
    ("kartothek_spark.dataset.write", "compact_dataset", "write"),
    ("kartothek_spark.dataset.write", "expire_snapshots", "write"),
    ("kartothek_spark.dataset.write", "garbage_collect_dataset", "write"),
    ("kartothek_spark.dataset.dml", "delete_rows", "dml"),
    ("kartothek_spark.dataset.dml", "upsert_dataset", "dml"),
    ("kartothek_spark.operators.dedup_index", "sync_minhash_index", "ops"),
    ("kartothek_spark.operators.search_index", "sync_text_index", "ops"),
    ("kartothek_spark.operators.search_index", "search_text_index", "ops"),
]

def du(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _commit_bytes(args, kwargs, out):
    """Bytes one commit wrote: live manifest, history snapshot, sidecar."""
    m = args[0]
    n = os.path.getsize(m.manifest_path)
    if m.keep_history and os.path.exists(m.history_path(m.version)):
        n += os.path.getsize(m.history_path(m.version))
    if m.storage_format == "json":
        with open(m.manifest_path) as fh:
            ref = json.load(fh).get("partitions_ref")
        if ref:
            n += os.path.getsize(os.path.join(m.root, ref))
    return n


def _manifest_arg(args, kwargs):
    return args[1] if len(args) > 1 else kwargs["manifest"]


# What a span keeps of its call, computed after the span has closed.
KEEP = {
    "DatasetManifest.commit": _commit_bytes,
    "dispatch_labels": lambda a, k, out: (_manifest_arg(a, k), out),
    "garbage_collect_dataset": lambda a, k, out: len(out),
    "update_index": lambda a, k, out: du(os.path.join(_manifest_arg(a, k).root, out)),
    "build_index": lambda a, k, out: du(os.path.join(_manifest_arg(a, k).root, out)),
}


class Span:
    __slots__ = ("sid", "name", "layer", "start", "end", "parent", "op", "ok", "keep")

    def __init__(self, sid, name, layer, start, parent, op):
        self.sid, self.name, self.layer = sid, name, layer
        self.start, self.end, self.parent, self.op = start, None, parent, op
        self.ok = True
        self.keep = None

    def as_dict(self):
        d = {s: getattr(self, s) for s in self.__slots__ if s != "keep"}
        d["keep"] = self.keep if isinstance(self.keep, (int, float)) else None
        return d


class Recorder:
    """In-memory span store. ``enabled`` gates recording, so the same wrapped
    functions serve traced and untraced operations in one process."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self.root: Span | None = None  # the open op span
        self.on_enter = None  # optional hook(span) for main-thread spans
        self.on_exit = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self):
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, layer: str) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        parent = stack[-1].sid if stack else self._root_sid()
        with self._lock:
            span = Span(len(self.spans), name, layer, time.perf_counter(), parent, self.op)
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span | None, ok: bool = True) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        span.ok = ok
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def _root_sid(self):
        # spans opened on another thread (stream callbacks) hang off the
        # open op span of the main thread
        return self.root.sid if self.root is not None else None

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.as_dict()) + "\n")


class _SpanCtx:
    def __init__(self, rec, name, layer):
        self.rec, self.name, self.layer = rec, name, layer

    def __enter__(self):
        self.s = self.rec.open(self.name, self.layer)
        return self.s

    def __exit__(self, et, ev, tb):
        self.rec.close(self.s, ok=et is None)
        return False


def _wrap(rec: Recorder, fn, name: str, layer: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        span = rec.open(name, layer)
        if span is None:
            return fn(*args, **kwargs)
        hook = rec.on_enter is not None and threading.current_thread() is threading.main_thread()
        if hook:
            rec.on_enter(span)
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            rec.close(span, ok=False)
            if hook:
                rec.on_exit(span)
            raise
        rec.close(span)
        if hook:
            rec.on_exit(span)
        keep = KEEP.get(name)
        if keep is not None:
            span.keep = keep(args, kwargs, out)
        return out

    wrapper.__wrapped_by_perfbench__ = fn
    return wrapper


def install(rec: Recorder) -> None:
    """Rebind every target, in its defining module and in every loaded
    ``kartothek_spark`` module that imported it by name."""
    import importlib

    for modname, attr, layer in TARGETS:
        mod = importlib.import_module(modname)
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            raw = cls.__dict__[meth]
            if isinstance(raw, classmethod):
                setattr(cls, meth, classmethod(_wrap(rec, raw.__func__, attr, layer)))
            else:
                setattr(cls, meth, _wrap(rec, raw, attr, layer))
            continue
        orig = getattr(mod, attr)
        wrapped = _wrap(rec, orig, attr, layer)
        for name, m in list(sys.modules.items()):
            if (name == "kartothek_spark" or name.startswith("kartothek_spark.")) and getattr(
                m, attr, None
            ) is orig:
                setattr(m, attr, wrapped)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: duration minus the part of its interval covered by its
    children (children on other threads may overlap each other, so their
    intervals are merged before subtracting)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        if s.end is None:
            continue
        covered, cur_a, cur_b = 0.0, None, None
        for c in sorted((c for c in kids.get(s.sid, ()) if c.end is not None), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.sid] = (s.end - s.start) - covered
    return out


def span_cost_us(n: int = 20000) -> float:
    """Cost of one recorded call through a wrapper, minus the bare call."""
    rec = Recorder()
    rec.enabled = True

    def noop():
        return None

    w = _wrap(rec, noop, "noop", "noop")
    t0 = time.perf_counter()
    for _ in range(n):
        w()
    t1 = time.perf_counter()
    for _ in range(n):
        noop()
    t2 = time.perf_counter()
    return max(0.0, ((t1 - t0) - (t2 - t1)) / n * 1e6)
