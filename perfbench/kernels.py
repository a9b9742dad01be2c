"""In-process microbenches of the engine's public kernel functions.

Each kernel is timed single-threaded in this process over the workload's
own inputs: its page blobs, PDF containers, segmented cells and date
boxes, and its markup span texts. A workload without inputs for a kernel
(no images in ``markup``, no markup in ``scan``) times that kernel over
the fixed warm-up corpus instead, and the record says so. Every sample is
a fixed, deterministic subset, so the work timed repeats exactly for a
seed.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from ocr_to_csv_spark.datagen import gen
from ocr_to_csv_spark.extraction.cells import (
    correct_cell,
    is_blank_cell,
    read_date_box,
)
from ocr_to_csv_spark.extraction.html_extract import parse_html
from ocr_to_csv_spark.extraction.latex import parse_latex
from ocr_to_csv_spark.extraction.markdown import parse_markdown
from ocr_to_csv_spark.imaging.codecs import decode_image
from ocr_to_csv_spark.imaging.segment import segment_page
from ocr_to_csv_spark.sources.pdf import extract_page_images

PARSERS = {
    "html": ("extraction.html_extract.parse_html.ms_per_kb", parse_html),
    "markdown": ("extraction.markdown.parse_markdown.ms_per_kb", parse_markdown),
    "latex": ("extraction.latex.parse_latex.ms_per_kb", parse_latex),
}
# caps keep a traced run's kernel pass to seconds on large corpora
MAX_PAGES = 48
MAX_CELLS = 600
MAX_PARSE_BYTES = 1 << 20


def _inputs(corpus_dir: str) -> dict:
    docs = pd.read_parquet(os.path.join(corpus_dir, "documents.parquet"))
    media = pd.read_parquet(os.path.join(corpus_dir, "media.parquet"))
    blobs = dict(zip(media["media_ref"], media["content"]))
    page_blobs, pdf_blobs = [], []
    texts: dict[str, list[str]] = {k: [] for k in PARSERS}
    for spans in docs.sort_values("doc_id")["spans"]:
        for s in spans:
            if s["kind"] in ("image", "pdf_page"):
                page_blobs.append(bytes(blobs[s["media_ref"]]))
            elif s["kind"] == "pdf":
                pdf_blobs.append(bytes(blobs[s["media_ref"]]))
            elif s["kind"] in texts:
                texts[s["kind"]].append(s["text"])
    return {"page_blobs": page_blobs, "pdf_blobs": pdf_blobs, "texts": texts}


def _timed(fn, items) -> tuple[float, list]:
    out = []
    t0 = time.perf_counter()
    for x in items:
        out.append(fn(x))
    return time.perf_counter() - t0, out


def _accepted(fn, blobs: list[bytes]) -> list[bytes]:
    """The blobs ``fn`` accepts; the pipeline quarantines the others."""
    ok = []
    for b in blobs:
        try:
            fn(b)
        except Exception:  # junk or a blob the engine cannot read
            continue
        ok.append(b)
    return ok


def _stride(items: list, cap: int) -> list:
    return items[:: max(1, -(-len(items) // cap))]


def run(corpus_dir: str, warm_dir: str) -> tuple[dict, dict]:
    """Return (metrics, record): per-kernel ms per unit, the blank-cell
    share and the segmented cell count; the record says which inputs were
    timed and how many of each."""
    own, warm = _inputs(corpus_dir), None

    def pick(key, sub=None):
        nonlocal warm
        val = own[key] if sub is None else own[key][sub]
        if val:
            return val, "workload"
        warm = warm or _inputs(warm_dir)
        return (warm[key] if sub is None else warm[key][sub]), "warm"

    metrics, record = {}, {}
    names = gen.alias_names()
    purposes = gen.alias_purposes()

    pdf_blobs, src = pick("pdf_blobs")
    pdf_blobs = _accepted(extract_page_images, pdf_blobs)
    dt, pdf_pages = _timed(extract_page_images, pdf_blobs)
    n_pdf_pages = sum(len(p) for p in pdf_pages)
    metrics["sources.pdf.extract_page_images.ms_per_page"] = 1e3 * dt / n_pdf_pages
    record["pdf"] = {"inputs": src, "blobs": len(pdf_blobs), "pages": n_pdf_pages}

    page_blobs, src = pick("page_blobs")
    page_blobs = _stride(_accepted(decode_image, page_blobs), MAX_PAGES)
    dt, decoded = _timed(decode_image, page_blobs)
    metrics["imaging.codecs.decode_image.ms_per_page"] = 1e3 * dt / len(decoded)
    record["decode"] = {"inputs": src, "pages": len(decoded)}

    pages = decoded + [p for ps in pdf_pages for p in ps]
    dt, segs = _timed(segment_page, pages)
    metrics["imaging.segment.segment_page.ms_per_page"] = 1e3 * dt / len(pages)

    boxes = [d for dates, _ in segs for d in dates]
    dt, _ = _timed(read_date_box, boxes)
    metrics["extraction.cells.read_date_box.ms_per_box"] = 1e3 * dt / max(len(boxes), 1)

    # data cells (header row and the '#' column are skipped, as classify does)
    cells = [
        (np.ascontiguousarray(cell), c)
        for _, matrix in segs
        for r, row in enumerate(matrix) if r > 0
        for c, cell in enumerate(row) if c > 0
    ]
    blank = sum(is_blank_cell(img) for img, _ in cells)
    metrics["extraction.cells.is_blank_cell.blank_frac"] = blank / max(len(cells), 1)
    sample = _stride(cells, MAX_CELLS)
    dt, _ = _timed(lambda x: correct_cell(x[0], x[1], names, purposes), sample)
    metrics["extraction.cells.correct_cell.ms_per_cell"] = 1e3 * dt / max(len(sample), 1)
    record["segment"] = {"inputs": src, "pages": len(pages), "date_boxes": len(boxes),
                         "cells": len(cells), "cells_classified": len(sample)}

    for kind, (metric, parse) in PARSERS.items():
        texts, src = pick("texts", kind)
        kept, size = [], 0
        for t in texts:
            if size >= MAX_PARSE_BYTES:
                break
            kept.append(t)
            size += len(t.encode())
        dt, _ = _timed(parse, kept)
        metrics[metric] = 1e3 * dt / (size / 1024)
        record[kind] = {"inputs": src, "spans": len(kept), "kb": round(size / 1024, 1)}
    return metrics, record
