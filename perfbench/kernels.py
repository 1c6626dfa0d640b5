"""Single-thread timings of the oracle kernels on a workload's own payloads.

These are the pure-Python functions the engine's UDFs call; timing them
directly, outside Spark, gives the kernel CPU a pass cannot avoid, so
the traced run can report what share of core time a pass spends on it.
"""

from __future__ import annotations

import time

from typhoon_ocr_spark.oracle.docpipe import sniff_kind
from typhoon_ocr_spark.oracle.htmlstrip import strip_html_boilerplate
from typhoon_ocr_spark.oracle.linearize import (
    DEFAULT_ANCHOR_BUDGET,
    linearize_page,
    truncation_rng,
)
from typhoon_ocr_spark.oracle.pdfmini import parse_pdf
from typhoon_ocr_spark.oracle.render import page_ocr_message_sha
from typhoon_ocr_spark.oracle.tables import detect_table

from .inputs import payloads

# which kernels each workload's pass runs
KERNELS = {
    "crawl_mix": ("parse_pdf", "linearize", "htmlstrip"),
    "pdf_skew": ("parse_pdf", "linearize"),
    "ocr_prep": ("parse_pdf", "linearize", "render", "tables"),
    "corpus_filters": (),
}


def kernel_metrics(workload: str, input_path: str) -> dict:
    """oracle.* metrics: kernel seconds and the work counts they cover.
    Kernels a workload never runs report 0."""
    used = KERNELS[workload]
    out = {f"oracle.{k}_s": 0.0 for k in ("parse_pdf", "linearize", "htmlstrip", "render", "tables")}
    if not used:
        return out
    rows = payloads(input_path)
    clock = time.perf_counter
    docs = pages = truncated = n_bytes = 0
    for url, blob in zip(rows["url"], rows["html"]):
        docs += 1
        kind = sniff_kind(blob)
        if kind == "html" and "htmlstrip" in used:
            n_bytes += len(blob)
            pages += 1
            t0 = clock()
            strip_html_boilerplate(blob)
            out["oracle.htmlstrip_s"] += clock() - t0
            continue
        if kind != "pdf":
            pages += 1
            continue
        n_bytes += len(blob)
        t0 = clock()
        try:
            reports = parse_pdf(blob)
        except Exception:  # error rows are valid outputs; only time the attempt
            reports = []
        out["oracle.parse_pdf_s"] += clock() - t0
        pages += max(1, len(reports))
        for idx, report in enumerate(reports, start=1):
            t0 = clock()
            anchor = linearize_page(report, DEFAULT_ANCHOR_BUDGET, truncation_rng(url, idx))
            out["oracle.linearize_s"] += clock() - t0
            if "render" in used:
                t0 = clock()
                page_ocr_message_sha(url, report, idx)
                out["oracle.render_s"] += clock() - t0
            if "tables" in used:
                t0 = clock()
                detect_table(report.text_elements)
                out["oracle.tables_s"] += clock() - t0
            full = linearize_page(report, 10 ** 12)
            truncated += len(full) > len(anchor) and len(full) > DEFAULT_ANCHOR_BUDGET
    out.update({
        "oracle.docs": docs,
        "oracle.pages": pages,
        "oracle.bytes_parsed": n_bytes,
        "oracle.anchors_truncated": truncated,
    })
    return out
