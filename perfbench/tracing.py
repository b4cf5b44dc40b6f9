"""In-memory spans for the traced run, and the layer wrappers that make them.

A span is (id, name, start, end, parent, run). Spans stay in memory and are
written out once, when the run ends. A layer's self time is its span's
duration minus the time its direct child spans cover.

``kernel_layers`` wraps the engine's kernel entry points from outside, in
this process only, for the duration of a ``with`` block: each wrapped call
records one span under its layer name. Nothing in the engine is edited, and
Spark's Python workers (separate processes) never see the wrappers.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn, name):
        """``fn`` with a span around each call; ``name`` is a string or a
        function of the call's arguments."""

        def traced(*args, **kwargs):
            with self.span(name if isinstance(name, str) else name(*args, **kwargs)):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def self_times(self) -> dict[int, float]:
        """span id → self seconds, for every ended span."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {
            s["id"]: s["end"] - s["start"] - child[s["id"]]
            for s in self.spans
            if s["end"] is not None
        }

    def layers(self, since: int = 0) -> dict[str, tuple[int, float]]:
        """name → (calls, busy self seconds) over spans with id ≥ ``since``."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for sid, dt in self.self_times().items():
            if sid >= since:
                name = self.spans[sid]["name"]
                out[name][0] += 1
                out[name][1] += dt
        return {k: (v[0], v[1]) for k, v in out.items()}

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(s, self=selfs.get(s["id"]))) + "\n")


def _codec(data: bytes) -> str:
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:2] == b"\xff\xd8":
        return "jpeg"
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return "webp"
    return "other"


@contextmanager
def kernel_layers(tracer: Tracer):
    """Wrap every kernel layer the extractor's in-process path calls."""
    from img2table_spark.kernels import document, hocr, image_doc, pdf_doc, table_image
    from img2table_spark.operators import extract

    t = tracer
    targets: list[tuple[object, str, str | object]] = [
        (extract, "parse_html_tables", "kernels.html_parse"),
        (image_doc, "decode_image_bytes", lambda data: f"kernels.decode.{_codec(data)}"),
        (table_image, "detect_lines", "kernels.lines"),
        (hocr, "parse_hocr_pages", "kernels.text_assign"),
        (document, "table_get_content", "kernels.text_assign"),
        (pdf_doc, "table_get_content", "kernels.text_assign"),
        (document, "get_title_tables", "kernels.titles"),
        (pdf_doc, "_pdf_titles", "kernels.titles"),
        (pdf_doc, "interpret_page", "kernels.pdf_parse"),
        (pdf_doc, "cluster_words", "kernels.pdf_parse"),
        (pdf_doc, "chars_to_pixel", "kernels.pdf_parse"),
        (pdf_doc, "pdf_metrics", "kernels.pdf_parse"),
        (pdf_doc, "detect_pdf_lines", "kernels.pdf_lines"),
        (pdf_doc, "render_pdf_text_page", "kernels.pdf_render"),
        (pdf_doc, "rasterize_pdf_page", "kernels.pdf_render"),
    ]
    for mod in (table_image, pdf_doc):
        for fn in ("get_cells", "get_tables", "implicit_content", "merge_consecutive_tables"):
            targets.append((mod, fn, "kernels.grid"))

    table_cls = document.TableImage
    pdf_cls = pdf_doc.PdfDocument

    class TracedTableImage(table_cls):
        def __init__(self, *args, **kwargs):
            with t.span("kernels.preprocess"):
                super().__init__(*args, **kwargs)

    class TracedPdfDocument(pdf_cls):
        def __init__(self, *args, **kwargs):
            with t.span("kernels.pdf_parse"):
                super().__init__(*args, **kwargs)

    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
    saved += [
        (document, "TableImage", table_cls),
        (pdf_doc, "PdfDocument", pdf_cls),
        (table_cls, "extract_borderless_tables", table_cls.extract_borderless_tables),
    ]
    try:
        for mod, attr, name in targets:
            setattr(mod, attr, t.wrap(getattr(mod, attr), name))
        document.TableImage = TracedTableImage
        pdf_doc.PdfDocument = TracedPdfDocument
        table_cls.extract_borderless_tables = t.wrap(
            table_cls.extract_borderless_tables, "kernels.borderless"
        )
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)
