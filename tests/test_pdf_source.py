"""PDF page-image source (S2): build → extract roundtrip and the full
pipeline fan-out of a multi-page PDF document into per-page spans/rows
(reference image_scraper.py:107-111 rasterizes PDFs via Poppler)."""

import numpy as np
import pytest

from ocr_to_csv_spark.datagen.gen import HEADER, alias_names, alias_purposes
from ocr_to_csv_spark.extraction import pipeline
from ocr_to_csv_spark.imaging import render
from ocr_to_csv_spark.sources import pdf

DOC_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)
MEDIA_SCHEMA = "media_ref string, content binary, width int, height int"


def test_build_extract_roundtrip_exact():
    rng = np.random.default_rng(11)
    pages = [(rng.random((40, 60)) * 255).astype(np.uint8) for _ in range(4)]
    out = pdf.extract_page_images(pdf.build_pdf(pages))
    assert len(out) == 4
    for a, b in zip(pages, out):
        assert np.array_equal(a, b)


def test_flate_stream_ending_in_cr_reads_back():
    """Document 53 of seed 5 holds a Flate stream whose last byte is
    ``\r``: the direct /Length keeps it, where stripping the EOL before
    ``endstream`` cut it off and zlib failed."""
    from ocr_to_csv_spark.datagen.gen import gen_corpus

    blobs = [bytes(b) for b in gen_corpus(1, 5, start=53)["media"]["content"]]
    pdfs = [b for b in blobs if b.startswith(b"%PDF")]
    assert pdfs and any(b"\r\nendstream" in b for b in pdfs)
    for blob in pdfs:
        assert pdf.extract_page_images(blob)


def test_vector_pdf_raises():
    with pytest.raises(ValueError):
        pdf.extract_page_images(b"%PDF-1.4\n1 0 obj\n<< >>\nendobj\n")
    with pytest.raises(ValueError):
        pdf.extract_page_images(b"not a pdf")


def _page(rows):
    return render.render_page([HEADER] + rows)


def test_pipeline_fans_pdf_into_pages(spark):
    """One doc: [text span, 2-page PDF, text span]. The PDF expands to two
    pdf_page spans in place, offsets renumber to the document ordinal, and
    each page yields its own CSV rows."""
    p1 = _page([["1", "JOHN SMITH", "1:30", "2:45", "3", "ROBOTICS"]])
    p2 = _page([["1", "MARY JONES", "9:05", "10:30", "1", "CODING"],
                ["2", "BOB BROWN", "2:00", "4:00", "2", "ART"]])
    blob = pdf.build_pdf([p1, p2])

    docs = spark.createDataFrame(
        [("doc-pdf", [
            {"kind": "text", "text": "before", "media_ref": None, "offset": 0},
            {"kind": "pdf", "text": None, "media_ref": "m-pdf", "offset": 1},
            {"kind": "text", "text": "after", "media_ref": None, "offset": 2},
        ])],
        DOC_SCHEMA,
    )
    media = spark.createDataFrame([("m-pdf", blob, 0, 0)], MEDIA_SCHEMA)
    aliases = spark.createDataFrame(
        [(1, v) for v in alias_names()] + [(5, v) for v in alias_purposes()],
        "col int, value string",
    )

    res = pipeline.extract(spark, docs, media, aliases)
    spans = sorted(res["spans"].collect(), key=lambda r: r["order"])
    seq = [(r["kind"], r["text"], r["media_ref"]) for r in spans]
    assert seq == [
        ("text", "before", None),
        ("table_row", "john smith,1:30,2:45,3,robotics", "m-pdf#p0"),
        ("table_row", "mary jones,9:05,10:30,1,coding", "m-pdf#p1"),
        ("table_row", "bob brown,2:00,4:00,2,art", "m-pdf#p1"),
        ("text", "after", None),
    ]
    rows = sorted(
        ((r["page"], r["row"], r["name"]) for r in res["rows"].collect())
    )
    assert rows == [(1, 1, "john smith"), (2, 1, "mary jones"), (2, 2, "bob brown")]
    assert res["quarantine"].count() == 0


def test_corrupt_pdf_quarantines(spark):
    docs = spark.createDataFrame(
        [("doc-bad", [
            {"kind": "pdf", "text": None, "media_ref": "m-bad", "offset": 0},
        ])],
        DOC_SCHEMA,
    )
    media = spark.createDataFrame(
        [("m-bad", b"%PDF-1.4\nvector only, no images\n", 0, 0)], MEDIA_SCHEMA
    )
    aliases = spark.createDataFrame([(1, "john smith")], "col int, value string")
    res = pipeline.extract(spark, docs, media, aliases)
    q = res["quarantine"].collect()
    assert len(q) == 1 and q[0]["kind"] == "media_error"
    assert res["spans"].count() == 0
