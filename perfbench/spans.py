"""Spans at the layer boundaries of cuely_spark, recorded from outside.

The traced run wraps the functions and methods each module exposes (and
pyarrow's row-group read, the storage boundary) for the duration of an
operation, then restores the originals, so untraced operations run the
unmodified program. A span is (name, start, end, parent, op id); spans
stay in memory until the run writes them out at exit.

Work the program runs inside Spark tasks (tokenizer, segment kernel,
posting encode; the query kernel on the distributed path) happens in
worker processes and is not seen here; the run reports Spark job, stage
and task counts and the build's own ``phase_sec`` for it instead.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "op", "thread")

    def __init__(self, sid, name, start, parent, op, thread):
        self.sid = sid
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.op = op
        self.thread = thread

    def as_dict(self) -> dict:
        return {"id": self.sid, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent, "op": self.op,
                "thread": self.thread}


class Tracer:
    """In-memory span recorder plus counters.

    Parent links follow the calling thread's open spans; a span opened on
    a pool thread with no open span of its own is parented to the
    innermost span open on the main thread (the call that fanned out)."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op: int | str | None = None
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._decoded: dict[int, set] = {}
        self._patches: list[tuple] = []
        self._saved: list[tuple] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> Span:
        stack = self._stack()
        if stack:
            parent = stack[-1].sid
        else:
            main = self._main_stack
            parent = main[-1].sid if main else None
        with self._lock:
            sp = Span(len(self.spans), name, time.perf_counter(), parent,
                      self.op, threading.get_ident())
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def count_blocks(self, postings, blocks) -> None:
        """Posting-block decodes: ``kernel.block_decodes`` counts every
        decode call's blocks, ``kernel.blocks_decoded`` each block of an
        op once (decode_blocks does not cache, so blocks can repeat)."""
        seen = self._decoded.setdefault(id(postings), set())
        new = {int(b) for b in blocks} - seen
        seen.update(new)
        self.count("kernel.block_decodes", len(blocks))
        self.count("kernel.blocks_decoded", len(new))

    def wrapper(self, fn, name: str, after=None):
        """``fn`` recorded as span ``name``; ``after(tracer, result, *args,
        **kwargs)`` may add counts once it returns."""
        tracer = self

        def traced(*args, **kwargs):
            sp = tracer.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(sp)
            if after is not None:
                after(tracer, out, *args, **kwargs)
            return out

        traced.__wrapped__ = fn
        return traced

    # -- patching ------------------------------------------------------
    def add_patch(self, owner, attr: str, make) -> None:
        """``make(original) -> replacement`` is applied to
        ``owner.attr`` by :meth:`install`."""
        self._patches.append((owner, attr, make))

    def install(self) -> None:
        if self._saved:
            raise RuntimeError("tracer already installed")
        # postings objects live for one op: block identity resets here
        self._decoded.clear()
        for owner, attr, make in self._patches:
            is_cls = isinstance(owner, type)
            orig = owner.__dict__[attr] if is_cls else getattr(owner, attr)
            repl = make(orig)
            # name the replacement after the slot it fills, so a closure
            # that Spark pickles for its tasks refers to it by reference
            # and each worker resolves its own, unpatched function
            repl.__module__ = owner.__module__ if is_cls else owner.__name__
            repl.__qualname__ = (f"{owner.__qualname__}.{attr}" if is_cls
                                 else attr)
            repl.__name__ = attr
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, repl)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.as_dict()) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> its duration minus the part of its interval that its
    child spans cover (children on pool threads may overlap each other,
    so covered time is the union, clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {sp.sid: sp for sp in spans}
    for sp in spans:
        p = by_id.get(sp.parent)
        if p is not None and sp.end is not None and p.end is not None:
            s, e = max(sp.start, p.start), min(sp.end, p.end)
            if e > s:
                kids[p.sid].append((s, e))
    return {sp.sid: (sp.end - sp.start) - union_length(kids[sp.sid])
            for sp in spans if sp.end is not None}


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    st = self_times(spans)
    for sp in spans:
        if sp.sid in st:
            out[sp.name] += st[sp.sid]
    return dict(out)


# -- the program's layer boundaries ----------------------------------------
def _count_row_groups(tracer, table, pf, row_groups, *args, columns=None,
                      **kwargs):
    md = pf.metadata
    names = set(columns) if columns is not None else None
    nbytes = 0
    for i in row_groups:
        rg = md.row_group(i)
        for j in range(rg.num_columns):
            col = rg.column(j)
            if names is None or col.path_in_schema in names:
                nbytes += col.total_compressed_size
    tracer.count("executor.row_groups_read", len(row_groups))
    tracer.count("executor.posting_bytes_read", nbytes)
    tracer.count("executor.posting_rows_read", table.num_rows)


def _count_fallback(tracer, _out, reader, *args, **kwargs):
    if getattr(reader, "_local_pruned", None) is False:
        tracer.count("executor.read_fallbacks")


def instrument(tracer: Tracer) -> Tracer:
    """Register the layer boundaries of cuely_spark (and pyarrow's
    row-group read) on ``tracer``; nothing is patched until
    ``tracer.install()``."""
    import pyarrow.parquet as pq

    import cuely_spark.indexer.merge as merge_mod
    import cuely_spark.queryengine as qe_pkg
    import cuely_spark.queryengine.executor as ex
    import cuely_spark.queryengine.kernel as kernel
    import cuely_spark.queryengine.parser as parser
    import cuely_spark.streaming.live_index as live

    def span(name, after=None):
        return lambda fn: tracer.wrapper(fn, name, after)

    # queryengine.parser: the name is bound in three namespaces
    for owner in (parser, qe_pkg, ex):
        tracer.add_patch(owner, "parse_query", span("parser.parse"))
    # queryengine.executor: routing, planning, reads, DataFrame build
    R = ex.IndexReader
    tracer.add_patch(R, "__init__", span("executor.reader_open"))
    tracer.add_patch(R, "search_collect", span("executor.search_collect"))
    tracer.add_patch(R, "search_local", span("executor.search_local"))
    tracer.add_patch(R, "search", span("executor.plan"))
    tracer.add_patch(R, "search_many", span("executor.plan"))
    tracer.add_patch(R, "term_dfs", span("executor.term_dfs"))
    tracer.add_patch(R, "_local_postings",
                     span("executor.posting_read", _count_fallback))
    # storage: every parquet row-group read the driver makes
    tracer.add_patch(pq.ParquetFile, "read_row_groups",
                     span("storage.read_row_groups", _count_row_groups))
    # queryengine.kernel (names as the executor binds them) + codec
    for fn_name in ("segment_topk", "union_topk", "count_matches"):
        tracer.add_patch(ex, fn_name, span("kernel.topk"))
    for fn_name in ("decode_docs", "decode_tfs", "decode_positions",
                    "varbyte_decode"):
        tracer.add_patch(kernel, fn_name, span("codec.decode"))
    TP = kernel.TermPostings

    def count_init(orig):
        def init(self, first_doc, last_doc, ndocs, docs, *a, **kw):
            orig(self, first_doc, last_doc, ndocs, docs, *a, **kw)
            tracer.count("kernel.blocks_total", len(self.docs))
        return init

    def count_block(orig):
        def decode_block(self, b):
            if b not in self._cache:  # cached blocks are not decoded
                tracer.count_blocks(self, (b,))
            return orig(self, b)
        return decode_block

    def count_blocks(orig):
        def decode_blocks(self, blocks):
            if len(blocks) > 1:  # a single block goes through decode_block
                tracer.count_blocks(self, blocks)
            return orig(self, blocks)
        return decode_blocks

    tracer.add_patch(TP, "__init__", count_init)
    tracer.add_patch(TP, "decode_block", count_block)
    tracer.add_patch(TP, "decode_blocks", count_blocks)
    # streaming + merge (the build's layers come from its stats.json)
    W = live.LiveIndexWriter
    tracer.add_patch(W, "process_batch", span("live.process_batch"))
    tracer.add_patch(W, "_incremental_stats", span("live.stats_refresh"))
    tracer.add_patch(W, "compact", span("live.compact"))
    tracer.add_patch(merge_mod, "merge_segments", span("merge.merge"))
    return tracer
