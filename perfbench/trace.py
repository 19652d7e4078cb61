"""Spans around the program's public calls, and cumulative-prefix timing
of ``QualityPipeline.assess``.

The spans come from wrappers this module installs around public
functions and methods for the length of a traced pass, and removes
afterwards; the program's own files are not changed. Lazy DataFrame
builders (``with_token_columns`` and the like) return in microseconds;
the execution time lands in the spans of the actions (``count``,
``DataFrameWriter.parquet`` and so on), nested under the call that ran
them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    """Spans (id, name, start, end, parent) kept in memory."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent":
               self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def instrument(self, targets: list[tuple[object, str, str]]):
        """Wrap owner.attr in a span named name for each target, and
        restore the originals on exit."""
        saved = []
        try:
            for owner, attr, name in targets:
                orig = owner.__dict__[attr]
                saved.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(orig, name))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = (out.get(s["name"], 0.0)
                              + s["end"] - s["start"] - child[s["id"]])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "self_time_s": self.self_times()}, f, indent=1)


def program_targets() -> list[tuple[object, str, str]]:
    """The public calls a filter or build pass makes, by layer."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    import scripts.build_corpus as build_corpus
    from luzzu_spark import checkpoint, dedup, metrics, pipeline, sources
    from luzzu_spark.rules.registry import RuleRegistry
    qp = pipeline.QualityPipeline
    return [
        (sources, "read_corpus", "sources.read_corpus"),
        (qp, "assess", "pipeline.assess"),
        (qp, "filtered_from_assessed", "pipeline.filtered_from_assessed"),
        (pipeline, "with_token_columns", "heuristics.with_token_columns"),
        (RuleRegistry, "with_scores", "registry.with_scores"),
        (pipeline, "with_plugin_scores", "plugins.with_plugin_scores"),
        (RuleRegistry, "with_late_scores", "registry.with_late_scores"),
        (RuleRegistry, "with_verdict", "registry.with_verdict"),
        (pipeline, "with_scrub", "scrub.with_scrub"),
        (checkpoint.ResumableRun, "run", "checkpoint.ResumableRun.run"),
        (checkpoint.BatchManifest, "commit", "checkpoint.commit"),
        (metrics, "partition_lineage", "metrics.partition_lineage"),
        (dedup, "exact_dedup", "dedup.exact_dedup"),
        (dedup, "near_dup_survivors", "dedup.near_dup_survivors"),
        (build_corpus, "assign_seq_ids", "build_corpus.assign_seq_ids"),
        (DataFrame, "count", "spark.count"),
        (DataFrame, "collect", "spark.collect"),
        (DataFrame, "first", "spark.first"),
        (DataFrame, "persist", "spark.persist"),
        (DataFrame, "unpersist", "spark.unpersist"),
        (DataFrameWriter, "parquet", "spark.write_parquet"),
        (DataFrameWriter, "save", "spark.write_save"),
    ]


ASSESS_LAYERS = ("scan", "tokens", "scores", "udf", "verdict", "scrub")


def assess_prefixes(pages) -> list[tuple[str, object]]:
    """Cumulative prefixes of ``QualityPipeline.assess`` with the
    default registry, one per layer: each adds one call of assess's
    body to the previous one. The last equals ``assess(pages)``; the
    benchmark checks that by timing both."""
    from luzzu_spark.fixtures import spread
    from luzzu_spark.pipeline import (LINEAGE_COLS, QualityPipeline,
                                      with_plugin_scores)
    from luzzu_spark.rules.heuristics import with_token_columns
    from luzzu_spark.rules.scrub import with_scrub
    reg = QualityPipeline().registry
    deps = reg.deps()
    df = spread(pages.select(*[c for c in pages.columns
                               if c in deps or c in LINEAGE_COLS]))
    out = [("scan", df)]
    df = with_token_columns(df)
    out.append(("tokens", df))
    df = reg.with_scores(df)
    out.append(("scores", df))
    df = with_plugin_scores(df)
    out.append(("udf", df))
    df = reg.with_verdict(reg.with_late_scores(df))
    out.append(("verdict", df))
    out.append(("scrub", with_scrub(df).drop("tokens")))
    return out
