"""Spans around the calls into each layer, recorded from outside the engine.

The engine is driven through its public entry points only. Spans come
from three places, all in this file:

- a ``Catalog`` subclass handed to ``crawl()`` (and swapped in for the
  ``api`` module's catalog during traced reads) that wraps every
  ``write_round``, ``compact`` and ``compact_latest`` per table and
  counts the round dirs behind every ``read_all*``;
- module-attribute wrappers on ``delta_frontier.backlog_and_bands`` and
  ``delta_frontier.compact`` (the driver looks both up through the
  module at call time);
- the caller's own spans (crawl, api calls).

Each wrapped call runs under a thread-scoped Spark job tag, so the
products and frontier chains (two driver threads) and the bloom writer
thread get separate spans and separate stage attribution. Spans are
kept in memory and written out by the caller at the end.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

from webcrawlerfull_spark.sources.catalog import Catalog
from webcrawlerfull_spark.streaming import delta_frontier

TAG_PREFIX = "perfbench:"


def dir_bytes(path: str) -> int:
    total = 0
    for d, _subdirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.read_dirs: list[int] = []
        self.round = 0  # round the driver is in; advanced by the lineage write
        self._lock = threading.Lock()
        self._t0 = time.monotonic()

    def now(self) -> float:
        return time.monotonic() - self._t0

    @contextlib.contextmanager
    def span(self, name: str, round_id: int | None = None):
        """Record one span; Spark jobs started inside it on this thread
        carry the tag ``perfbench:<name>``. The block may add attributes
        to the yielded dict."""
        attrs: dict = {}
        tag = TAG_PREFIX + name
        self.sc.addJobTag(tag)
        start = self.now()
        try:
            yield attrs
        finally:
            end = self.now()
            self.sc.removeJobTag(tag)
            with self._lock:
                self.spans.append(
                    {
                        "name": name,
                        "start": start,
                        "end": end,
                        "round": self.round if round_id is None else round_id,
                        "thread": threading.current_thread().name,
                        **attrs,
                    }
                )

    def catalog_class(self) -> type:
        tracer = self

        class TracingCatalog(Catalog):
            def write_round(self, df, table, round_id, partition_by=None):
                with tracer.span(f"write:{table}", round_id) as attrs:
                    super().write_round(df, table, round_id, partition_by)
                    attrs["bytes"] = dir_bytes(self._dir(table, round_id))

            def write_round_local(self, rows, table, round_id, schema):
                with tracer.span(f"write:{table}", round_id) as attrs:
                    super().write_round_local(rows, table, round_id, schema)
                    attrs["bytes"] = dir_bytes(self._dir(table, round_id))
                if table == "lineage":
                    tracer.round = round_id + 1

            def compact(self, table, up_to, *args, **kwargs):
                with tracer.span(f"compact:{table}", up_to) as attrs:
                    done = super().compact(table, up_to, *args, **kwargs)
                    attrs["bytes"] = dir_bytes(self._dir(table, up_to))
                return done

            def compact_latest(self, table, up_to, key_cols):
                with tracer.span(f"compact:{table}", up_to) as attrs:
                    done = super().compact_latest(table, up_to, key_cols)
                    attrs["bytes"] = dir_bytes(self._dir(table, up_to))
                return done

            def _count_dirs(self, table, up_to_round):
                rounds = self.committed_rounds(table)
                if up_to_round is not None:
                    rounds = [r for r in rounds if r <= up_to_round]
                with tracer._lock:
                    tracer.read_dirs.append(len(rounds))

            def read_all(self, table, up_to_round=None):
                self._count_dirs(table, up_to_round)
                return super().read_all(table, up_to_round)

            def read_all_with_round(self, table, up_to_round=None):
                self._count_dirs(table, up_to_round)
                return super().read_all_with_round(table, up_to_round)

        return TracingCatalog

    @contextlib.contextmanager
    def wrap_delta_frontier(self):
        """Wrap the delta layout's loop-top backlog job and its queue
        compaction for the duration of the block."""
        orig_backlog = delta_frontier.backlog_and_bands
        orig_compact = delta_frontier.compact

        def backlog_and_bands(*args, **kwargs):
            with self.span("delta_frontier.backlog"):
                return orig_backlog(*args, **kwargs)

        def compact(catalog, up_to, *args, **kwargs):
            with self.span("delta_frontier.compact", up_to):
                return orig_compact(catalog, up_to, *args, **kwargs)

        delta_frontier.backlog_and_bands = backlog_and_bands
        delta_frontier.compact = compact
        try:
            yield
        finally:
            delta_frontier.backlog_and_bands = orig_backlog
            delta_frontier.compact = orig_compact


def covered_s(spans: list[dict], start: float, end: float) -> float:
    """Length of the part of [start, end] that any span covers (spans on
    concurrent threads overlap, so this is a union, not a sum)."""
    ivs = sorted(
        (max(s["start"], start), min(s["end"], end))
        for s in spans
        if s["end"] > start and s["start"] < end
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
