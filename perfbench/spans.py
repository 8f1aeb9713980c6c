"""Span boundaries around the merge pipeline's public calls.

``Instrumented(tracer).install()`` wraps, from outside the engine, the calls that
``MergePipeline.run`` and ``pipeline.cli.main`` make, so that each phase
runs under its own Spark job group:

- ``merge.integrity``   ``MergePipeline.check_integrity``
- ``merge.uuid_gate``   each ``uuid_fixpoint`` call of ``run``
- ``merge.mappings``    ``MergePipeline.build_mappings``
- ``merge.transform``   ``MergePipeline.transform_table`` (plan building)
- ``merge.reconcile``   the jobs ``run`` launches after each
                        ``transform_table`` returns (cache and counts)
- ``merge.publish``     ``MergePipeline.publish``
- ``cli.provenance``    the jobs ``cli.main`` launches after ``run``

Jobs outside every span (``cli.main`` reading its inputs, ``run``'s
provenance gate) are filed under ``untagged``.

``restore()`` puts the original functions back.
"""

from __future__ import annotations

import functools

from beehive_spark.pipeline import merge as merge_mod
from beehive_spark.pipeline.merge import MergePipeline

MERGE_SPANS = ("merge.integrity", "merge.uuid_gate", "merge.mappings",
               "merge.transform", "merge.reconcile", "merge.publish",
               "cli.provenance")


class Instrumented:
    """Installs the span wrappers.  ``after_run`` is called with the
    ``MergeResult`` when ``run`` returns, outside every span; then
    ``after_span`` (``cli.provenance`` under ``cli.main``) opens."""

    def __init__(self, tracer, after_run=None, after_span=None):
        self.tracer = tracer
        self.after_run = after_run
        self.after_span = after_span
        self._saved = []

    def _patch(self, owner, name, make):
        orig = getattr(owner, name)
        self._saved.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def _span(self, name, then=None):
        tracer = self.tracer

        def make(orig):
            @functools.wraps(orig)
            def wrapped(*args, **kwargs):
                tracer.enter(name)
                out = orig(*args, **kwargs)
                if then is not None:
                    tracer.enter(then)
                return out
            return wrapped
        return make

    def install(self) -> "Instrumented":
        tracer = self.tracer
        after_run, after_span = self.after_run, self.after_span
        self._patch(MergePipeline, "check_integrity", self._span("merge.integrity"))
        self._patch(merge_mod, "uuid_fixpoint", self._span("merge.uuid_gate"))
        self._patch(MergePipeline, "build_mappings", self._span("merge.mappings"))
        self._patch(MergePipeline, "transform_table",
                    self._span("merge.transform", then="merge.reconcile"))
        self._patch(MergePipeline, "publish", self._span("merge.publish"))

        def make_run(orig):
            @functools.wraps(orig)
            def run(*args, **kwargs):
                tracer.enter(None)
                res = orig(*args, **kwargs)
                tracer.enter(None)
                if after_run is not None:
                    after_run(res)
                tracer.enter(after_span)
                return res
            return run
        self._patch(MergePipeline, "run", make_run)
        return self

    def restore(self) -> None:
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved.clear()
