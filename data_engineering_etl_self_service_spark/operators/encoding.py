"""Charset sniffing for raw text bytes — real corpora arrive in mixed
encodings, and decoding them to ONE canonical UTF-8 text column is the
step before even Unicode normalization (operators/unicodenorm.py). The
detection ladder is standard public practice:

1. BOM sniff — UTF-8 / UTF-16 LE / UTF-16 BE / UTF-32 LE / UTF-32 BE
   signatures decide outright (and the BOM is stripped);
2. UTF-16 heuristic without a BOM: an even-length buffer whose NUL
   bytes concentrate on one parity side (ASCII-heavy text encoded as
   UTF-16 has a NUL every other byte);
3. strict UTF-8 attempt;
4. Latin-1 fallback (never fails by construction — every byte maps),
   with the high-byte count reported so a quality gate can treat
   "latin-1 with many high bytes" as the mojibake signal it usually is.

Returns exact accounting (encoding label, had_bom, n_replacements,
high_bytes) so the oracled query can state every field symbolically
from the builder's encoding choice.

Scale: per-row byte work over Arrow batches; shuffle-free, linear.
"""

from __future__ import annotations

import codecs

#: BOM signature → (encoding label, BOM length). Longest first so
#: UTF-32 LE (FF FE 00 00) wins over UTF-16 LE (FF FE).
_BOMS = [
    (codecs.BOM_UTF32_LE, "utf-32-le", 4),
    (codecs.BOM_UTF32_BE, "utf-32-be", 4),
    (codecs.BOM_UTF8, "utf-8", 3),
    (codecs.BOM_UTF16_LE, "utf-16-le", 2),
    (codecs.BOM_UTF16_BE, "utf-16-be", 2),
]


def sniff_decode(raw: bytes) -> dict:
    """Decode ``raw`` → ``{encoding, had_bom, text, n_replacements,
    high_bytes}``. Never raises: the ladder ends in Latin-1, which is
    total; replacement characters only appear if a BOM-declared or
    heuristic-detected encoding has invalid sequences (decoded with
    errors='replace' — corrupt bytes degrade, the file still yields
    text)."""
    out = {
        "encoding": "latin-1",
        "had_bom": False,
        "text": "",
        "n_replacements": 0,
        "high_bytes": 0,
    }
    if not raw:
        out["encoding"] = "empty"
        return out
    for bom, name, blen in _BOMS:
        if raw.startswith(bom):
            body = raw[blen:]
            text = body.decode(name, "replace")
            out.update(
                encoding=name,
                had_bom=True,
                text=text,
                n_replacements=text.count("�"),
            )
            return out
    if len(raw) >= 4 and len(raw) % 2 == 0:
        even_nul = raw[::2].count(0)
        odd_nul = raw[1::2].count(0)
        half = len(raw) // 2
        if odd_nul >= (half * 3) // 4 and even_nul == 0:
            text = raw.decode("utf-16-le", "replace")
            out.update(
                encoding="utf-16-le",
                text=text,
                n_replacements=text.count("�"),
            )
            return out
        if even_nul >= (half * 3) // 4 and odd_nul == 0:
            text = raw.decode("utf-16-be", "replace")
            out.update(
                encoding="utf-16-be",
                text=text,
                n_replacements=text.count("�"),
            )
            return out
    try:
        out.update(encoding="utf-8", text=raw.decode("utf-8", "strict"))
        return out
    except UnicodeDecodeError:
        pass
    out.update(
        encoding="latin-1",
        text=raw.decode("latin-1"),
        high_bytes=sum(1 for b in raw if b >= 0x80),
    )
    return out


#: compression magic → decoder. gzip via zlib wbits=31 (header parsing
#: included); bzip2/xz via their stdlib modules; zstd/lz4 frames via
#: pyarrow's native codec (libzstd / liblz4), a core dependency.
_MAGICS = [
    (b"\x1f\x8b", "gzip"),
    (b"BZh", "bzip2"),
    (b"\xfd7zXZ\x00", "xz"),
    (b"\x28\xb5\x2f\xfd", "zstd"),
    (b"\x04\x22\x4d\x18", "lz4"),
]


def sniff_decompress(raw: bytes) -> dict:
    """Sniff + decompress a payload → ``{compression, ok, data}``.

    ``compression`` is 'none' for unrecognized bytes (data passes
    through verbatim — plain text IS the common case); a magic-prefixed
    payload that fails to inflate ALSO passes through verbatim with
    ``ok=False`` and the failure's message under ``error`` — magic
    bytes can occur in plain text ('BZh' is three printable ASCII
    chars), and destroying the payload on a sniff false-positive would
    be silent data loss (review r6c). Never raises. A zstd frame that
    names an external DICTIONARY is failed up front with a specific
    actionable ``error`` ("requires its external dictionary") instead
    of the generic decode failure libzstd would report (VERDICT r8 #6).
    Composes with :func:`sniff_decode`: bytes → decompress → charset →
    text is the whole front door.
    """
    comp = "none"
    for magic, name in _MAGICS:
        if raw.startswith(magic):
            comp = name
            break
    if comp == "none":
        return {"compression": "none", "ok": True, "data": raw}
    try:
        if comp == "gzip":
            import zlib

            return {
                "compression": comp,
                "ok": True,
                "data": zlib.decompress(raw, wbits=31),
            }
        if comp == "bzip2":
            import bz2

            return {"compression": comp, "ok": True, "data": bz2.decompress(raw)}
        if comp == "xz":
            import lzma

            return {"compression": comp, "ok": True, "data": lzma.decompress(raw)}
        if comp == "zstd":
            # dictionary frames fail libzstd with an opaque "corrupt" —
            # probe the header first so the failure names the real
            # cause and the missing piece (VERDICT r8 #6)
            from .zstd import zstd_dictionary_id

            did = zstd_dictionary_id(raw)
            if did is not None:
                raise ValueError(
                    f"zstd: dictionary frame (dictionary_id={did}) "
                    "requires its external dictionary; external "
                    "dictionaries are unsupported"
                )
        # zstd / lz4 frames
        import io

        import pyarrow as pa

        data = pa.input_stream(io.BytesIO(raw), compression=comp).read()
        return {"compression": comp, "ok": True, "data": data}
    except Exception as ex:
        # sniff false-positive, corrupt container or dictionary frame:
        # keep the bytes, name the why
        return {
            "compression": comp,
            "ok": False,
            "data": raw,
            "error": str(ex),
        }
