"""Spans recorded from the benchmark's side of the library boundary.

A span marks one call into a layer: name, start, end, parent and the
Spark job group its jobs ran under.  Each span sets its own job group
(``pb<span id>``), so Spark's status tracker and event log attribute every
job to the innermost open span.  Spans stay in memory until the report.

``install_layer_spans`` wraps the module functions the pipeline calls
(checkpoint, sketch, lsh, compare, cluster) so that their calls open
spans; ``uninstall`` restores the originals.  Only the benchmark process
is touched: nothing in the program files changes.

``Tracer.overhead`` is the wall time spent in the tracing itself: span
bookkeeping, setting job groups, the status-tracker job counts and the
wrappers' own code.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: int = 0  # jobs run directly under this span's job group

    @property
    def group(self) -> str:
        return f"pb{self.sid}"

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of its interval its children cover
    (children clipped to the parent; overlapping children counted once)."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end)) for c in children
    )
    covered = 0.0
    cur_s = cur_e = None
    for s, e in ivs:
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
    return span.duration - covered


class Tracer:
    """In-memory span recorder.  `sc` (a SparkContext) may be None, in
    which case spans are timed but no job groups are set."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.overhead = 0.0  # seconds spent recording, on time.perf_counter

    # -- recording ---------------------------------------------------------
    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        b0 = time.perf_counter()
        parent = self.current
        sp = Span(
            sid=len(self.spans),
            name=name,
            parent=parent.sid if parent else None,
            start=self.clock(),
            attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        self.overhead += time.perf_counter() - b0
        try:
            yield sp
        finally:
            b1 = time.perf_counter()
            sp.end = self.clock()
            if self.sc is not None:
                sp.jobs = len(
                    self.sc.statusTracker().getJobIdsForGroup(sp.group)
                )
            self._stack.pop()
            self._set_group(parent)
            self.overhead += time.perf_counter() - b1

    # -- queries -----------------------------------------------------------
    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.sid]

    def subtree(self, span: Span) -> list[Span]:
        out = [span]
        i = 0
        while i < len(out):
            out.extend(self.children(out[i]))
            i += 1
        return out

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        pool = self.subtree(within) if within else self.spans
        return [s for s in pool if s.name == name]

    def jobs(self, span: Span) -> int:
        return sum(s.jobs for s in self.subtree(span))

    def groups(self, span: Span) -> set[str]:
        return {s.group for s in self.subtree(span)}

    # -- wrapping library functions ----------------------------------------
    def wrap(self, owner, attr: str, name: str, when=None, attrs_of=None):
        """Replace owner.attr with a version that runs inside a span.
        `when()` gates the span (called with the tracer); `attrs_of(args,
        kwargs)` supplies span attributes."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            b0 = time.perf_counter()
            if when is not None and not when(self):
                self.overhead += time.perf_counter() - b0
                return orig(*args, **kwargs)
            attrs = attrs_of(args, kwargs) if attrs_of else {}
            self.overhead += time.perf_counter() - b0
            with self.span(name, **attrs):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, orig))

    def tap(self, owner, attr: str, on_call) -> None:
        """Replace owner.attr with a version that first passes its
        arguments to on_call(args, kwargs); no span is opened."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def tapped(*args, **kwargs):
            b0 = time.perf_counter()
            on_call(args, kwargs)
            self.overhead += time.perf_counter() - b0
            return orig(*args, **kwargs)

        setattr(owner, attr, tapped)
        self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


def install_layer_spans(tracer: Tracer) -> None:
    """Open spans around the module functions the pipeline calls.  The
    pipeline looks these up as module attributes at call time, so
    replacing the attributes is enough."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    from sourmash_spark import pipeline
    from sourmash_spark.operators import cluster, compare, lsh
    from sourmash_spark.sources import checkpoint

    def in_stage(t: Tracer) -> bool:
        cur = t.current
        return cur is not None and cur.name == "checkpoint.run_stage"

    tracer.wrap(
        checkpoint, "run_stage", "checkpoint.run_stage",
        attrs_of=lambda a, k: {"stage": k.get("stage", a[2] if len(a) > 2 else None)},
    )
    tracer.wrap(checkpoint, "partition_metrics", "checkpoint.partition_metrics")
    tracer.wrap(checkpoint, "_append_lineage", "checkpoint.append_lineage")
    # the stage's own write and its read-back count, told apart from the
    # bookkeeping jobs around them
    tracer.wrap(DataFrameWriter, "parquet", "checkpoint.write", when=in_stage)
    tracer.wrap(DataFrameWriter, "saveAsTable", "checkpoint.write", when=in_stage)
    tracer.wrap(DataFrame, "count", "checkpoint.readback_count", when=in_stage)
    tracer.wrap(pipeline, "sketch_signatures", "sketch.sketch_signatures")
    tracer.wrap(lsh, "band_signatures", "lsh.band_signatures")
    tracer.wrap(lsh, "bucket_stats", "lsh.bucket_stats")
    tracer.wrap(lsh, "candidate_pairs", "lsh.candidate_pairs")
    tracer.wrap(lsh, "verify_pairs", "lsh.verify_pairs")
    tracer.wrap(compare, "cap_postings", "compare.cap_postings")
    tracer.wrap(cluster, "assign_clusters", "cluster.assign_clusters")
    tracer.wrap(cluster, "connected_components", "cluster.connected_components")
