"""In-memory spans recorded from outside the program.

The benchmark wraps the program's public callables (no code in ``ocr_spark``
changes): driver-side entry points for the traced commit, and the kernel
entry points for the in-process replay of ``extract_batch``. A wrapped name
is patched on its defining module, which catches lazy ``from .. import``
inside function bodies, and on every loaded ``ocr_spark`` module that bound
the same object at import time.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
import uuid
from contextlib import contextmanager

#: driver-side callables wrapped during the traced commit: (module, attr)
DRIVER_CALLABLES = (
    ("ocr_spark.plans.pipeline", "run_extract_job"),
    ("ocr_spark.sources.lineage", "pending_pages"),
    ("ocr_spark.sources.lineage", "lineage_of"),
)
#: ManifestTable methods; their spans are named per table (extracted,
#: lineage, metrics) from the table root's basename
CATALOG_METHODS = ("read", "append")

#: kernel entry points wrapped during the replay: (module, attr)
KERNELS = (
    ("ocr_spark.kernels.html_extract", "extract_page"),
    ("ocr_spark.kernels.encoding", "decode_bytes"),
    ("ocr_spark.kernels.encoding", "detect_bom"),
    ("ocr_spark.kernels.md_extract", "parse_markdown"),
    ("ocr_spark.kernels.doc_parsers", "parse_docx"),
    ("ocr_spark.kernels.imagecodec", "png_decode"),
    ("ocr_spark.kernels.imagecodec", "jpeg_decode"),
    ("ocr_spark.kernels.pixel_ocr", "ocr_page"),
    ("ocr_spark.kernels.pdf_parse", "parse_pdf_pages"),
    ("ocr_spark.kernels.pdf_layout", "process_page"),
    ("ocr_spark.kernels.combine", "combine_boxes"),
    ("ocr_spark.kernels.sort", "sort_boxes_xywh"),
    ("ocr_spark.kernels.ctc", "synth_logits_for_text"),
    ("ocr_spark.kernels.ctc", "ctc_greedy_decode_batch"),
)


def span_name(module: str, attr: str) -> str:
    """``ocr_spark.kernels.ctc``, ``ctc_greedy_decode_batch`` -> ``ctc.ctc_greedy_decode_batch``"""
    return f"{module.rsplit('.', 1)[1]}.{attr}"


class Tracer:
    """Span recorder: one run id, a parent stack, spans kept in memory."""

    def __init__(self):
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- analysis ----------------------------------------------------------
    def self_times(self, spans=None) -> dict[int, float]:
        """Span id -> duration minus the part covered by its children."""
        spans = self.spans if spans is None else spans
        children: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], ())):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def totals(self, since: int = 0) -> dict[str, dict]:
        """name -> {calls, total_s, self_s} over spans recorded after ``since``."""
        spans = self.spans[since:]
        selfs = self.self_times(spans)
        out: dict[str, dict] = {}
        for s in spans:
            agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += s["end"] - s["start"]
            agg["self_s"] += selfs[s["id"]]
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, f)


@contextmanager
def patched(tracer: Tracer, targets):
    """Wrap each (module, attr) of ``targets`` with a span named
    ``span_name(module, attr)`` wherever the name is looked up; restore on exit."""
    undo = []
    try:
        for mod_name, attr in targets:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            wrapped = tracer.wrap(span_name(mod_name, attr), orig)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("ocr_spark") and m.__dict__.get(attr) is orig:
                    undo.append((m, attr, orig))
                    setattr(m, attr, wrapped)
        yield
    finally:
        for m, attr, orig in reversed(undo):
            setattr(m, attr, orig)


@contextmanager
def driver_spans(tracer: Tracer):
    """Spans around the driver-side public callables of one commit."""
    from ocr_spark.sources.catalog import ManifestTable

    originals = {m: getattr(ManifestTable, m) for m in CATALOG_METHODS}

    def method_wrapper(method, fn):
        @functools.wraps(fn)
        def traced(self, *args, **kwargs):
            with tracer.span(f"catalog.{method}:{os.path.basename(self.root)}"):
                return fn(self, *args, **kwargs)

        return traced

    try:
        for m, fn in originals.items():
            setattr(ManifestTable, m, method_wrapper(m, fn))
        with patched(tracer, DRIVER_CALLABLES):
            yield
    finally:
        for m, fn in originals.items():
            setattr(ManifestTable, m, fn)


def kernel_spans(tracer: Tracer):
    return patched(tracer, KERNELS)
