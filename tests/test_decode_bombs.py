"""Decompression bombs: a small payload whose compressed data expands far
past what its header declares raises ValueError, and the decode never
allocates much more than the header budgets. Each case decodes in a
subprocess and reads the growth of its peak RSS (``ru_maxrss``)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

RSS_GROWTH_MB = 32

SCRIPT = r'''
import json, resource, struct, sys, zlib

from ocr_inference_spark.imgcodec import decode_image

W = H = 8  # every bomb declares an 8x8 gray page


def chunk(tag, payload):
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


def png_bomb():
    # an IDAT that inflates to 100 MB, built 1 MB at a time
    z = zlib.compressobj(9)
    zero = bytes(1 << 20)
    idat = b"".join(z.compress(zero) for _ in range(100)) + z.flush()
    ihdr = struct.pack(">IIBBBBB", W, H, 8, 0, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
            + chunk(b"IEND", b""))


def tiff(compression, strip):
    # little-endian, one strip at offset 8, the IFD after it
    entries = [(256, 4, W), (257, 4, H), (258, 3, 8), (259, 3, compression),
               (262, 3, 1), (273, 4, 8), (277, 3, 1), (278, 4, H),
               (279, 4, len(strip))]
    ifd = struct.pack("<H", len(entries)) + b"".join(
        struct.pack("<HHII", tag, typ, 1, value) for tag, typ, value in entries
    ) + struct.pack("<I", 0)
    return b"II*\x00" + struct.pack("<I", 8 + len(strip)) + strip + ifd


def lzw_bomb():
    # TIFF LZW over a run of zeros: after a clear and the literal 0, each
    # code k names the entry just being made, k - 256 zeros long, so 15
    # cycles of codes 258..4093 inflate to about 110 MB
    acc = nbits = 0
    out = bytearray()

    def put(code, width):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append(acc >> nbits)
            acc &= (1 << nbits) - 1

    for _ in range(15):
        width = 9
        put(256, width)
        put(0, width)
        for k in range(258, 4094):
            put(k, width)
            if k + 1 == (1 << width) - 1 and width < 12:  # early change
                width += 1
        put(256, width)
    put(257, 12)
    if nbits:
        put(0, 8 - nbits)
    return tiff(5, bytes(out))


def packbits_bomb():
    # 0.95 MB of 128-byte repeat runs: 64 MB of PackBits output
    return tiff(32773, b"\x81\x00" * 500_000)


payload = {"png": png_bomb, "lzw": lzw_bomb, "packbits": packbits_bomb}[sys.argv[1]]()
before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
try:
    decode_image(payload)
    error = None
except Exception as exc:
    error = type(exc).__name__
after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
print(json.dumps({"error": error, "growth_mb": (after - before) / 1024,
                  "payload_kb": len(payload) / 1024}))
'''


@pytest.mark.parametrize("bomb", ["png", "lzw", "packbits"])
def test_bomb_raises_within_its_header_budget(bomb):
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, bomb],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout)
    assert out["payload_kb"] < 1024
    assert out["error"] == "ValueError"
    assert out["growth_mb"] < RSS_GROWTH_MB, out
