"""Run ``filter_job.main(argv)`` in this process, timed from outside.

    python3 perfbench/launch.py --marks marks.json [--spans spans.json] \\
        -- <filter_job arguments>

``filter_job.main`` imports its layers inside the function, so replacing a
module attribute before ``main`` runs puts a wrapper around every call the
job makes into that layer, without editing the package.

Without ``--spans`` only the input layer (``read_transcripts``) is wrapped,
to note when set-up ends.  With ``--spans`` every layer boundary the job
crosses is recorded as a span (name, start, end, parent, run id), each span
sets a Spark job group so the event log attributes jobs and tasks to it,
and the spans are written out when the job returns or raises.
"""

from __future__ import annotations

import itertools
import json
import sys
import time
import uuid


class Tracer:
    """In-memory spans.  A *segment* is a span with no call to wrap: it runs
    from where it is opened until the next span opens at the same depth, or
    its parent ends."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._stack: list[dict] = []     # open call spans
        self._segments: dict = {}        # parent id -> open segment

    def _parent(self):
        return self._stack[-1]["id"] if self._stack else None

    def _close_segment(self, parent, t: float) -> None:
        seg = self._segments.pop(parent, None)
        if seg is not None:
            seg["end"] = t
            self.spans.append(seg)

    def _new(self, name: str, t: float) -> dict:
        return {"id": next(self._ids), "name": name, "start": t, "end": None,
                "parent": self._parent(), "run_id": self.run_id}

    def _group(self) -> None:
        """Point Spark's job group at the innermost open span."""
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        parent = self._parent()
        seg = self._segments.get(parent)
        cur = seg or (self._stack[-1] if self._stack else None)
        sc.setJobGroup(cur["name"] if cur else "job", "perfbench span")

    def begin(self, name: str) -> None:
        t = time.time()
        self._close_segment(self._parent(), t)
        self._stack.append(self._new(name, t))
        self._group()

    def end(self) -> None:
        t = time.time()
        span = self._stack.pop()
        self._close_segment(span["id"], t)
        span["end"] = t
        self.spans.append(span)
        self._group()

    def segment(self, name: str) -> None:
        t = time.time()
        parent = self._parent()
        self._close_segment(parent, t)
        self._segments[parent] = self._new(name, t)
        self._group()

    def finish(self) -> None:
        while self._stack:
            self.end()
        self._close_segment(None, time.time())


def _wrap(mod, attr: str, before=None, after=None) -> None:
    fn = getattr(mod, attr)

    def wrapper(*args, **kwargs):
        if before:
            before(args)
        try:
            result = fn(*args, **kwargs)
        finally:
            if after:
                after(args)
        return result

    setattr(mod, attr, wrapper)


def install_mark(marks: dict) -> None:
    from languagedetection_spark.sources import readers

    def note(_args):
        marks.setdefault("input_call", time.time())

    _wrap(readers, "read_transcripts", before=note)


def install_spans(tr: Tracer, marks: dict) -> None:
    """Wrap every layer boundary ``filter_job.main`` crosses in batch mode."""
    from pyspark.sql import SparkSession

    from languagedetection_spark.functions import udfs
    from languagedetection_spark.jobs import filter_job
    from languagedetection_spark.operators import dedup, quality_filter
    from languagedetection_spark.plans import session
    from languagedetection_spark.sources import checkpoint, readers

    def call(mod, attr, name):
        _wrap(mod, attr, before=lambda _a: tr.begin(name),
              after=lambda _a: tr.end())

    call(session, "get_spark", "session.start")
    call(filter_job, "build_model", "model.build")
    call(checkpoint, "model_fingerprint", "model.fingerprint")
    call(udfs, "broadcast_model", "model.broadcast")
    call(readers, "read_transcripts", "scan.plan")
    call(dedup, "dedup_exact_keep_first", "dedup.plan")
    call(checkpoint, "run_with_checkpoint", "checkpoint.run")
    call(checkpoint, "load_completed", "checkpoint.load")
    call(quality_filter, "quality_filter", "bucket.plan")
    call(checkpoint, "_bucket_metrics", "lineage")
    call(checkpoint, "record_done", "progress.commit")
    call(SparkSession, "stop", "session.stop")
    # the bucket's write runs inline in run_with_checkpoint, between the
    # process() call returning and the lineage pass
    _wrap(quality_filter, "quality_filter",
          after=lambda _a: tr.segment("bucket.write"))
    # the exports are lazy plans whose actions (write_bucketed among them)
    # run inline in main()
    _wrap(quality_filter, "conv_report",
          before=lambda _a: tr.segment("export.conv_report"))
    _wrap(quality_filter, "kept_turns",
          before=lambda _a: tr.segment("export.bucketed_table"))
    install_mark(marks)


def main(argv: list[str]) -> int:
    sep = argv.index("--")
    opts, job_args = argv[:sep], argv[sep + 1:]
    marks_path = opts[opts.index("--marks") + 1]
    spans_path = opts[opts.index("--spans") + 1] if "--spans" in opts else None

    from languagedetection_spark.jobs import filter_job

    marks: dict = {}
    tracer = Tracer() if spans_path else None
    if tracer:
        install_spans(tracer, marks)
    else:
        install_mark(marks)
    rc = 1
    try:
        rc = filter_job.main(job_args)
    finally:
        marks["main_return"] = time.time()
        with open(marks_path, "w") as f:
            json.dump(marks, f)
        if tracer:
            tracer.finish()
            with open(spans_path, "w") as f:
                json.dump({"run_id": tracer.run_id, "spans": tracer.spans}, f)
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
