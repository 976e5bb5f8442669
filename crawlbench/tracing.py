"""Span tracing around the engine's layer boundaries, from outside the engine.

A :class:`Tracer` replaces, for the duration of a traced window, the public
functions and methods the crawl plan calls, each with a wrapper that
records a span (name, start, end, parent, crawl id) around the original
call. Spans stay in memory until :meth:`Tracer.write` is called at the end
of the run.

Spark is lazy, so a span around a plan-building call alone would measure
nothing. ``schedule()`` only builds the eligible/carryover plans; the
engine materializes the eligible set right after it and then builds the
parse UDF, so the ``schedule`` span runs from the ``schedule()`` call to
the next ``make_parse_udf()`` call. ``filter_unseen()`` is called with an
eager ``materialize`` hook, so its span already holds the job that
materializes its flagged candidates.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import Observation
from pyspark.sql import functions as F

import spider_spark.plans.crawl as crawl_mod
from spider_spark.sources.tableio import ParquetManifestIO


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, int] = defaultdict(int)
        self.crawl_id = 0
        self._stack: list[int] = []
        self._next_id = 0
        self._open_schedule: dict | None = None
        self._saved: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------

    def _new_span(self, name: str) -> dict:
        self._next_id += 1
        return {"id": self._next_id, "name": name, "crawl": self.crawl_id,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter(), "end": None}

    @contextmanager
    def span(self, name: str):
        s = self._new_span(name)
        self._stack.append(s["id"])
        try:
            yield
        finally:
            self._stack.pop()
            s["end"] = time.perf_counter()
            self.spans.append(s)

    def total(self, name: str, crawl: int) -> float:
        """Summed duration of the ``name`` spans of one crawl."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["crawl"] == crawl)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- wrappers ---------------------------------------------------------

    def _patch(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _timed(self, name: str, count: str | None = None):
        def make(orig):
            def wrapper(*args, **kwargs):
                if count:
                    self.counts[count] += 1
                with self.span(name):
                    return orig(*args, **kwargs)
            return wrapper
        return make

    def install(self) -> None:
        def rank(orig):
            def wrapper(*args, **kwargs):
                with self.span("rank"):
                    out = orig(*args, **kwargs)
                if kwargs.get("with_count"):
                    self.counts["rank.rows"] += out[1]
                return out
            return wrapper

        def dedupe(orig):
            def wrapper(candidates, col, seen, bloom, materialize=None, **kwargs):
                obs = Observation()
                candidates = candidates.observe(obs, F.count(F.lit(1)).alias("n"))
                with self.span("dedupe"):
                    out = orig(candidates, col, seen, bloom,
                               materialize=materialize, **kwargs)
                if bloom is not None and materialize is not None:
                    # the eager flagged materialization ran the observed plan
                    self.counts["dedupe.candidates"] += obs.get["n"]
                return out
            return wrapper

        def schedule(orig):
            def wrapper(*args, **kwargs):
                self._open_schedule = self._new_span("schedule")
                return orig(*args, **kwargs)
            return wrapper

        def parse_udf(orig):
            def wrapper(*args, **kwargs):
                s, self._open_schedule = self._open_schedule, None
                if s is not None:
                    s["end"] = time.perf_counter()
                    self.spans.append(s)
                return orig(*args, **kwargs)
            return wrapper

        self._patch(crawl_mod.CrawlEngine, "crawl", self._timed("crawl"))
        self._patch(crawl_mod.CrawlEngine, "resume", self._timed("resume"))
        self._patch(crawl_mod, "schedule", schedule)
        self._patch(crawl_mod, "make_parse_udf", parse_udf)
        self._patch(crawl_mod, "filter_unseen", dedupe)
        self._patch(crawl_mod, "build_into", self._timed("bloom.build"))
        self._patch(crawl_mod, "with_global_rank", rank)
        for method in ("commit_overwrite", "append"):
            self._patch(ParquetManifestIO, method,
                        self._timed("tableio.commit", count="tableio.commits"))
        self._patch(ParquetManifestIO, "read_bucketed_keys", self._timed("tableio.mirror"))
        self._patch(ParquetManifestIO, "restore", self._timed("tableio.restore"))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)
