"""Codec robustness fuzzing: random corruptions of valid PNG/JPEG/PDF
blobs must either decode or raise promptly — never hang, never attempt
a multi-GB allocation, never kill the process. The pipeline quarantines
any exception; these tests pin the 'prompt, bounded' part a 10^12-doc
corpus depends on."""

import random
import time

import numpy as np
import pytest

from ocr_to_csv_spark.imaging import codecs, jpeg, png
from ocr_to_csv_spark.sources import pdf


def _img(h=60, w=90):
    img = np.zeros((h, w), dtype=np.uint8)
    img[:] = np.linspace(10, 240, w, dtype=np.uint8)[None, :]
    img[15:30, 20:70] = 0
    return img


def _fuzz(blob: bytes, decode, n_trials: int, seed: int) -> None:
    rng = random.Random(seed)
    t0 = time.time()
    for _ in range(n_trials):
        data = bytearray(blob)
        for _ in range(rng.randint(1, 8)):
            data[rng.randrange(len(data))] = rng.randrange(256)
        try:
            out = decode(bytes(data))
            if isinstance(out, np.ndarray):
                assert out.nbytes <= 256_000_000
        except Exception:
            pass  # any exception is fine — callers quarantine
    assert time.time() - t0 < 60, "fuzzed decode too slow (hang risk)"


def test_png_fuzz_corruptions():
    _fuzz(png.encode_gray(_img()), png.decode, 300, seed=1)


def test_jpeg_fuzz_corruptions():
    _fuzz(jpeg.encode_gray(_img(), 90), jpeg.decode, 300, seed=2)


def test_jpeg_size0_ac_symbol_in_dht():
    """A DHT listing an AC symbol of size 0 that is neither EOB nor ZRL
    (0x10 here, in place of the unused 0xFA) still decodes, and the
    stream stays fuzz-safe."""
    blob = jpeg.encode_gray(_img(), 90)
    dht = blob.index(b"\xff\xc4\x00\xb5\x10")  # the AC luma table
    vals_end = dht + 2 + 0xB5
    assert blob[vals_end - 1] == 0xFA and 0x10 not in blob[dht + 21 : vals_end]
    odd = blob[: vals_end - 1] + b"\x10" + blob[vals_end:]
    assert np.array_equal(jpeg.decode(odd), jpeg.decode(blob))
    _fuzz(odd, jpeg.decode, 300, seed=2)


def test_pdf_fuzz_corruptions():
    blob = pdf.build_pdf([_img(), _img(50, 70)])
    _fuzz(blob, pdf.extract_page_images, 200, seed=3)


def test_avi_fuzz_corruptions():
    from ocr_to_csv_spark.extraction import video

    for codec, seed in (("raw", 4), ("mjpg", 5)):
        blob, _ = video.synth_avi(7, codec=codec, n_frames=6)
        _fuzz(blob, lambda d: video.sample_frames(d, 2)[1], 200, seed=seed)


def test_hostile_dimension_headers_raise_not_oom():
    # PNG declaring 65535x65535
    import struct, zlib
    ihdr = struct.pack(">IIBBBBB", 65535, 65535, 8, 0, 0, 0, 0)
    def chunk(tag, data):
        return struct.pack(">I", len(data)) + tag + data + struct.pack(
            ">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    hostile_png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                   + chunk(b"IDAT", zlib.compress(b"\x00" * 10))
                   + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="implausible"):
        png.decode(hostile_png)

    # JPEG declaring 65535x65535 via SOF0
    good = jpeg.encode_gray(_img(), 90)
    sof = good.index(b"\xff\xc0")
    hostile_jpg = (good[: sof + 5]
                   + struct.pack(">HH", 65535, 65535)
                   + good[sof + 9 :])
    with pytest.raises(ValueError, match="implausible"):
        jpeg.decode(hostile_jpg)

    # PDF XObject declaring absurd dimensions
    blob = pdf.build_pdf([_img()])
    hostile_pdf = blob.replace(b"/Width 90 /Height 60", b"/Width 99999 /Height 99999")
    with pytest.raises(ValueError):
        pdf.extract_page_images(hostile_pdf)


def test_decode_image_dispatch_survives_fuzz():
    rng = random.Random(7)
    blobs = [png.encode_gray(_img()), jpeg.encode_gray(_img(), 90), b"%PDF-1.4 junk",
             b"RIFF....WAVE", b"", b"\x00" * 64]
    for blob in blobs:
        for _ in range(50):
            data = bytearray(blob or b"x")
            for _ in range(rng.randint(0, 4)):
                data[rng.randrange(len(data))] = rng.randrange(256)
            try:
                codecs.decode_image(bytes(data))
            except Exception:
                pass


def test_wav_fuzz_corruptions():
    """Audio path shares the 'prompt, bounded, never crash' contract."""
    from ocr_to_csv_spark.extraction.audio import _decode_one, synth_wav

    blob, _ = synth_wav(7, sr=8000, n=3000)

    def decode(data: bytes):
        row = _decode_one("fz", data)
        assert row[1] in ("wav", "corrupt_wav")
        return None

    _fuzz(blob, decode, 300, seed=4)


def test_wav_hostile_header_fields_bounded():
    """A WAV header claiming absurd frame counts must not allocate
    gigabytes: the decoder reads only the actual payload and flags the
    frame-count mismatch as corrupt."""
    from ocr_to_csv_spark.extraction.audio import _decode_one, synth_wav
    import struct

    blob, _ = synth_wav(8)
    # wave's nframes lives in the data-chunk size; lie by patching the
    # RIFF chunk size AND data size fields to huge values
    data = bytearray(blob)
    data[4:8] = struct.pack("<I", 0x7FFFFFF0)
    data[-len(data) + 40:-len(data) + 44] = struct.pack("<I", 0x7FFFFFF0)
    t0 = time.time()
    row = _decode_one("hostile", bytes(data))
    assert row[1] in ("wav", "corrupt_wav")
    assert time.time() - t0 < 10


def test_webp_fuzz_corruptions():
    from ocr_to_csv_spark.imaging import webp

    _fuzz(webp.encode_gray(_img()), webp.decode, 300, seed=6)


def test_gif_fuzz_corruptions():
    from ocr_to_csv_spark.imaging import gif

    _fuzz(gif.encode_gray(_img()), gif.decode, 300, seed=7)
