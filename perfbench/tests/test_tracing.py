"""Unit tests of the traced run's coverage figure, on hand-made spans
(no Spark needed).

Run from the repository root: ``python -m pytest perfbench/tests -q``."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from tracing import Span, Tracer  # noqa: E402


def _span(tr: Tracer, name: str, start: float, end: float, layer: bool,
          parent: int | None = None, thread: int = 1) -> Span:
    sp = Span(len(tr.spans) + 1, parent, name, thread, layer)
    sp.start, sp.end = start, end
    tr.spans.append(sp)
    return sp


def _op(tr: Tracer, name: str, start: float, end: float,
        stages: list[tuple[float, float]] = ()) -> Span:
    sp = _span(tr, f"op:{name}", start, end, layer=False)
    tr.ops.append({"op": name, "span": sp.id, "stage_intervals": list(stages)})
    return sp


def test_entry_span_does_not_cover_its_operation():
    tr = Tracer(None)
    op = _op(tr, "commit", 0.0, 10.0)
    entry = _span(tr, "ingest.cdc_apply", 0.0, 10.0, True, op.id)
    _span(tr, "table.commit", 1.0, 7.0, True, entry.id)
    assert tr.coverage("commit", entry="ingest.cdc_apply") == 0.6
    # counted as a layer, the entry point would hide the unspanned 40%
    assert tr.coverage("commit") == 1.0


def test_benchmark_spans_never_count_but_stages_do():
    tr = Tracer(None)
    op = _op(tr, "scan", 0.0, 4.0, stages=[(2.0, 3.0), (2.5, 3.5)])
    _span(tr, "table.scan", 0.0, 1.0, True, op.id)
    _span(tr, "spark.action", 1.0, 4.0, False, op.id)
    assert tr.coverage("scan") == 0.625  # 1 s planning + 1.5 s of stages


def test_engine_spans_of_other_threads_count_inside_the_operation_only():
    tr = Tracer(None)
    op = _op(tr, "request", 10.0, 12.0)
    _span(tr, "service.request", 10.0, 12.0, False, op.id)
    _span(tr, "ingest.rest_ingest", 10.5, 11.0, True, thread=2)
    _span(tr, "ingest.rest_ingest", 12.5, 13.0, True, thread=2)  # next op's
    assert tr.coverage("request") == 0.25


def test_coverage_is_the_median_over_operations_and_none_without_any():
    tr = Tracer(None)
    for i, covered in enumerate((0.1, 0.5, 0.9)):
        _op(tr, "range", 10.0 * i, 10.0 * i + 1.0,
            stages=[(10.0 * i, 10.0 * i + covered)])
    assert abs(tr.coverage("range") - 0.5) < 1e-9
    assert tr.coverage("ann") is None
