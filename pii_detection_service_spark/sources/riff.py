"""RIFF container layer — the one place that packs or walks a chunk header
(AVI, WAV and WebP all go through it). A RIFF file is ``'RIFF' <u32 size>
<form type>`` then chunks of ``<fourcc> <u32 size> <payload>``, with a
pad byte after an odd-length payload (IBM/Microsoft RIFF 1991; RFC 9649
for WebP). Recursing into ``LIST`` chunks is the caller's choice.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator


def chunk(tag: bytes, payload: bytes) -> bytes:
    """One chunk, padded to an even length."""
    return tag + struct.pack("<I", len(payload)) + payload + b"\x00" * (len(payload) & 1)


def form(form_type: bytes, body: bytes) -> bytes:
    """A whole RIFF file around ``body`` (already-built chunks)."""
    return chunk(b"RIFF", form_type + body)


def chunks(buf: bytes, pos: int = 0) -> Iterator[tuple[bytes, bytes]]:
    """Yield ``(tag, payload)`` per chunk of ``buf[pos:]``. A chunk that runs
    past the end raises ValueError; a missing final pad byte does not."""
    while pos < len(buf):
        size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        if pos + 8 + size > len(buf):  # also a cut-short header
            raise ValueError(f"truncated RIFF chunk {buf[pos : pos + 4]!r}")
        yield buf[pos : pos + 4], buf[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)


def read(data: bytes, form_type: bytes) -> Iterator[tuple[bytes, bytes]]:
    """Check the RIFF header and form type, then walk the top-level chunks."""
    if data[:4] != b"RIFF" or data[8:12] != form_type:
        raise ValueError(f"not a RIFF/{form_type.decode().strip()} file")
    return chunks(data, 12)
