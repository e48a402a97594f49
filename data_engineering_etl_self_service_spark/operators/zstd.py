"""Zstandard frame-header probe.

zstd payloads decode through pyarrow's native codec (libzstd). libzstd
fails a frame that names an external dictionary with an opaque
"corrupt" error, so ``sniff_decompress`` (operators/encoding.py) and
the Avro OCF reader (sources/avro_ocf.py) first read the frame header
here and raise an actionable "requires its external dictionary" error
instead.

Header layout per RFC 8878: magic 0x28B52FFD, then the
Frame_Header_Descriptor whose low two bits size the Dictionary_ID
field; skippable frames (magic 0x184D2A50-0x184D2A5F plus a 4-byte
length) are skipped to reach the first real frame.
"""

from __future__ import annotations

import struct

ZSTD_MAGIC = 0xFD2FB528
SKIPPABLE_LO = 0x184D2A50
SKIPPABLE_HI = 0x184D2A5F


def zstd_dictionary_id(raw: bytes) -> int | None:
    """Dictionary_ID declared by the first (non-skippable) zstd frame
    in ``raw``, or ``None`` when the frame carries no dictionary
    reference (no DID field, or the spec's explicit ID 0). A cheap
    header-bytes-only probe — callers use it to fail a dictionary
    frame with a SPECIFIC error before handing the bytes to a decoder
    that can only say "corrupt" (VERDICT r8 #6). Returns ``None`` for
    anything that isn't a zstd frame header at all."""
    pos = 0
    try:
        while True:
            if pos + 4 > len(raw):
                return None
            magic = struct.unpack_from("<I", raw, pos)[0]
            pos += 4
            if SKIPPABLE_LO <= magic <= SKIPPABLE_HI:
                if pos + 4 > len(raw):
                    return None
                pos += 4 + struct.unpack_from("<I", raw, pos)[0]
                continue
            if magic != ZSTD_MAGIC:
                return None
            fhd = raw[pos]
            pos += 1
            did_size = (0, 1, 2, 4)[fhd & 3]
            if not fhd & 0x20:
                pos += 1  # Window_Descriptor
            if not did_size or pos + did_size > len(raw):
                return None
            return int.from_bytes(raw[pos : pos + did_size], "little") or None
    except IndexError:
        return None
