"""Minimal PDF page-image source (S2): pure-stdlib parse of embedded
image XObjects — the engine's analogue of the reference's
``convert_from_path`` Poppler rasterization
(``/root/reference/modules/image_scraper.py:107-111``).

Scanned-document PDFs (the reference's input class) are page-image
containers: each page holds one full-page image XObject. This module

- ``build_pdf(pages)``: writes such a PDF (FlateDecode DeviceGray 8-bit
  XObjects, one per page) — the datagen/test-side synthesizer;
- ``extract_page_images(data)``: returns the embedded page images in
  page order. Supported encodings: FlateDecode (zlib), DCTDecode
  (baseline JPEG via ``imaging.jpeg``), and raw streams; DeviceGray
  directly, DeviceRGB via luma conversion. Vector-content PDFs (no
  image XObjects) and unsupported filters raise ``ValueError`` → the
  pipeline quarantine.

Parsing strategy: objects are located by ``N 0 obj … endobj`` scan and
page order resolved via the /Root → /Pages → /Kids tree when present,
falling back to object-number order — robust for the flat PDFs scanners
emit, not a general PDF renderer (no xref streams / encryption /
object streams).
"""

from __future__ import annotations

import re
import zlib

import numpy as np

_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj(.*?)endobj", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n(.*)", re.DOTALL)


def build_pdf(pages: list[np.ndarray]) -> bytes:
    """Write a scanned-document-style PDF: one FlateDecode DeviceGray
    image XObject per page, referenced from a proper page tree."""
    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)  # 1-based object number

    n_pages = len(pages)
    # object layout: 1=catalog, 2=pages, then per page (page, contents, image)
    page_nums = []
    kids_refs = []
    catalog_num = add(b"<< /Type /Catalog /Pages 2 0 R >>")
    pages_placeholder = add(b"")  # filled after kids known
    for i, img in enumerate(pages):
        arr = np.ascontiguousarray(img, dtype=np.uint8)
        h, w = arr.shape
        data = zlib.compress(arr.tobytes(), 6)
        img_num = len(objs) + 3  # page, contents, image
        page_num = add(
            b"<< /Type /Page /Parent 2 0 R "
            + f"/MediaBox [0 0 {w} {h}] ".encode()
            + f"/Resources << /XObject << /Im{i} {img_num} 0 R >> >> ".encode()
            + f"/Contents {img_num - 1} 0 R >>".encode()
        )
        content = f"q {w} 0 0 {h} 0 0 cm /Im{i} Do Q".encode()
        add(
            f"<< /Length {len(content)} >>\nstream\n".encode()
            + content
            + b"\nendstream"
        )
        add(
            b"<< /Type /XObject /Subtype /Image "
            + f"/Width {w} /Height {h} ".encode()
            + b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
            + b"/Filter /FlateDecode "
            + f"/Length {len(data)} >>\nstream\n".encode()
            + data
            + b"\nendstream"
        )
        page_nums.append(page_num)
        kids_refs.append(f"{page_num} 0 R".encode())
    objs[pages_placeholder - 1] = (
        b"<< /Type /Pages /Kids [" + b" ".join(kids_refs)
        + f"] /Count {n_pages} >>".encode()
    )

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs):
        offsets.append(len(out))
        out += f"{i + 1} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        b"trailer\n<< /Size " + str(len(objs) + 1).encode()
        + f" /Root {catalog_num} 0 R >>\nstartxref\n{xref_pos}\n%%EOF\n".encode()
    )
    return bytes(out)


def _dict_int(d: bytes, key: bytes) -> int | None:
    m = re.search(re.escape(key) + rb"\s+(\d+)", d)
    return int(m.group(1)) if m else None


def _parse_objects(data: bytes) -> dict[int, bytes]:
    return {int(m.group(1)): m.group(2) for m in _OBJ_RE.finditer(data)}


def _page_order(objs: dict[int, bytes]) -> list[int]:
    """Page object numbers in tree order (fallback: numeric order)."""
    root_pages = None
    for body in objs.values():
        if b"/Type" in body and b"/Catalog" in body:
            root_pages = _dict_int(body, b"/Pages")
            break
    order: list[int] = []

    def walk(num: int) -> None:
        body = objs.get(num)
        if body is None:
            return
        if b"/Kids" in body:
            m = re.search(rb"/Kids\s*\[(.*?)\]", body, re.DOTALL)
            if m:
                for ref in re.finditer(rb"(\d+)\s+0\s+R", m.group(1)):
                    walk(int(ref.group(1)))
        elif b"/Page" in body:
            order.append(num)

    if root_pages is not None:
        walk(root_pages)
    if not order:
        order = sorted(
            n for n, b in objs.items() if b"/Type" in b and b"/Page" in b
            and b"/Pages" not in b
        )
    return order


def _decode_xobject(body: bytes) -> np.ndarray:
    w = _dict_int(body, b"/Width")
    h = _dict_int(body, b"/Height")
    bpc = _dict_int(body, b"/BitsPerComponent") or 8
    if w is None or h is None or bpc != 8:
        raise ValueError("unsupported image XObject header")
    if w * h == 0 or w * h > 64_000_000:  # corrupt-header OOM guard
        raise ValueError(f"implausible XObject dimensions {w}x{h}")
    m = _STREAM_RE.search(body)
    if m is None:
        raise ValueError("image XObject without stream")
    raw = m.group(1)
    # a direct /Length is exact; it wins whenever it lands on the stream's
    # end (an EOL strip alone loses a payload byte that is itself a \r)
    length = re.search(rb"/Length\s+(\d+)\b(?!\s+\d+\s+R)", body[: m.start()])
    n = int(length.group(1)) if length else -1
    end = raw.rfind(b"endstream")
    if 0 <= n <= len(raw) and raw[n:].lstrip(b"\r\n").startswith(b"endstream"):
        raw = raw[:n]
    elif end >= 0:
        raw = raw[:end]
        if raw.endswith(b"\r\n"):
            raw = raw[:-2]
        elif raw.endswith(b"\n") or raw.endswith(b"\r"):
            raw = raw[:-1]
    if b"/DCTDecode" in body:
        from ..imaging import jpeg as jpegc

        return jpegc.decode(raw)
    if b"/FlateDecode" in body:
        raw = zlib.decompress(raw)
    elif b"/Filter" in body:
        raise ValueError("unsupported PDF stream filter")
    if b"/DeviceRGB" in body:
        arr = np.frombuffer(raw[: w * h * 3], dtype=np.uint8).reshape(h, w, 3)
        return np.clip(
            arr.astype(np.float64) @ np.array([0.299, 0.587, 0.114]), 0, 255
        ).astype(np.uint8)
    arr = np.frombuffer(raw[: w * h], dtype=np.uint8)
    if arr.size < w * h:
        raise ValueError("truncated image stream")
    return arr.reshape(h, w)


def extract_page_images(data: bytes) -> list[np.ndarray]:
    """Embedded page images, in page order (see module docstring)."""
    if not data.startswith(b"%PDF"):
        raise ValueError("not a PDF stream")
    objs = _parse_objects(data)
    images: list[np.ndarray] = []
    for page_num in _page_order(objs):
        body = objs[page_num]
        m = re.search(rb"/XObject\s*<<(.*?)>>", body, re.DOTALL)
        if not m:
            continue
        for ref in re.finditer(rb"(\d+)\s+0\s+R", m.group(1)):
            xobj = objs.get(int(ref.group(1)))
            if xobj is not None and b"/Image" in xobj:
                images.append(_decode_xobject(xobj))
    if not images:
        raise ValueError("no embedded page images found")
    return images
