"""Spans recorded from outside the program, by rebinding names.

Two tracers, both installed only for a traced run and undone afterwards:

* ``ExtractorTracer`` rebinds the functions ``extractor.pipeline`` calls
  to timing wrappers, so the in-process chain reports self time per
  function (a span's wall minus the wrapped calls nested inside it).
* ``LayerTagger`` wraps the pipeline steps that submit Spark jobs and
  sets a ``perfbench.layer`` local property around each, so every job in
  the event log carries the layer that submitted it.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

#: The functions ``extractor.pipeline`` calls that get their own span;
#: everything else it calls is reported together as ``other``.
EXTRACTOR_FUNCS = (
    "decode_html",
    "parse_html",
    "collect_meta",
    "detect_embed",
    "extract_anchors",
    "extract_title",
    "extract_authors",
    "extract_published",
    "clean",
    "select_content",
    "extract_image",
    "sanitize",
    "textify",
    "extract_summary",
    "extract_keywords",
    "free_tree",
    "extract_pdf_text",
)

LAYER_PROPERTY = "perfbench.layer"
PHASE_PROPERTY = "perfbench.phase"


class ExtractorTracer:
    """Per-function self time of the extractor chain, in seconds."""

    def __init__(self) -> None:
        self.self_s = dict.fromkeys(EXTRACTOR_FUNCS, 0.0)
        self._child_s = [0.0]  # time of wrapped calls nested in the open span

    def _wrap(self, name, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            self._child_s.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                wall = time.perf_counter() - t0
                nested = self._child_s.pop()
                self.self_s[name] += wall - nested
                self._child_s[-1] += wall

        return timed

    @contextmanager
    def installed(self):
        from readembedability_spark.extractor import decode, pipeline

        # decode_html is reached as an attribute of the decode module
        targets = [(pipeline, n) for n in EXTRACTOR_FUNCS if n != "decode_html"]
        targets.append((decode, "decode_html"))
        saved = [(mod, n, getattr(mod, n)) for mod, n in targets]
        try:
            for mod, n, fn in saved:
                setattr(mod, n, self._wrap(n, fn))
            yield self
        finally:
            for mod, n, fn in saved:
                setattr(mod, n, fn)


class LayerTagger:
    """Tags Spark jobs with the pipeline layer and run phase that
    submitted them (job properties in the event log)."""

    #: pipeline step → layer its jobs belong to; after ``load_metrics``
    #: returns, the rest of ``run_extract`` (metrics write, sum, count)
    #: stays tagged ``plans.pipeline.tail``
    STEPS = {
        "_pending_buckets": "operators.resume.pending",
        "mark_bucket_list_done": "operators.resume.checkpoint",
        "load_metrics": "plans.pipeline.tail",
    }

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    def _wrap(self, layer, fn, restore):
        @functools.wraps(fn)
        def tagged(*args, **kwargs):
            prev = self.sc.getLocalProperty(LAYER_PROPERTY)
            self.sc.setLocalProperty(LAYER_PROPERTY, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                if restore:
                    self.sc.setLocalProperty(LAYER_PROPERTY, prev)

        return tagged

    @contextmanager
    def installed(self):
        from readembedability_spark.plans import pipeline

        saved = {n: getattr(pipeline, n) for n in self.STEPS}
        try:
            for n, fn in saved.items():
                restore = n != "load_metrics"
                setattr(pipeline, n, self._wrap(self.STEPS[n], fn, restore))
            yield self
        finally:
            for n, fn in saved.items():
                setattr(pipeline, n, fn)

    @contextmanager
    def phase(self, name: str):
        """Jobs submitted inside belong to run phase ``name``; the
        extract-and-write jobs of ``run_extract`` are the default layer."""
        self.sc.setLocalProperty(PHASE_PROPERTY, name)
        self.sc.setLocalProperty(LAYER_PROPERTY, "operators.extract")
        try:
            yield
        finally:
            self.sc.setLocalProperty(PHASE_PROPERTY, None)
            self.sc.setLocalProperty(LAYER_PROPERTY, None)
