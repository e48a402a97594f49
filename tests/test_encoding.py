"""Charset sniffing (operators/encoding.py): BOM ladder, UTF-16
heuristic, fall-through, replacement accounting, fuzz totality."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from data_engineering_etl_self_service_spark.operators.encoding import (
    sniff_decode,
)


def test_bom_ladder_priority():
    # UTF-32 LE BOM starts with the UTF-16 LE BOM bytes: longest wins
    raw32 = b"\xff\xfe\x00\x00" + "ab".encode("utf-32-le")
    assert sniff_decode(raw32)["encoding"] == "utf-32-le"
    assert sniff_decode(raw32)["text"] == "ab"
    raw16 = b"\xff\xfe" + "ab".encode("utf-16-le")
    assert sniff_decode(raw16)["encoding"] == "utf-16-le"


def test_utf16_heuristic_without_bom():
    for enc in ("utf-16-le", "utf-16-be"):
        r = sniff_decode("ascii heavy text".encode(enc))
        assert r["encoding"] == enc and r["text"] == "ascii heavy text"
    # an odd-length buffer never triggers the heuristic
    r = sniff_decode("abc".encode("utf-16-le") + b"x")
    assert r["encoding"] != "utf-16-le"


def test_utf8_strict_then_latin1_fallback():
    assert sniff_decode("héllo".encode("utf-8"))["encoding"] == "utf-8"
    r = sniff_decode(b"caf\xe9 au lait")
    assert r["encoding"] == "latin-1"
    assert r["text"] == "café au lait"
    assert r["high_bytes"] == 1 and r["n_replacements"] == 0


def test_bom_with_corrupt_body_counts_replacements():
    r = sniff_decode(b"\xef\xbb\xbfok \xff\xfe broken")
    assert r["encoding"] == "utf-8" and r["had_bom"]
    assert r["n_replacements"] == 2
    assert "ok" in r["text"]


def test_empty_input():
    r = sniff_decode(b"")
    assert r["encoding"] == "empty" and r["text"] == ""


@settings(max_examples=80, deadline=None)
@given(st.binary(max_size=300))
def test_sniff_total_and_consistent(raw):
    r = sniff_decode(raw)
    assert isinstance(r["text"], str)
    assert r["n_replacements"] == r["text"].count("�") or r[
        "encoding"
    ] in ("utf-8", "latin-1", "empty")


def test_sniff_decompress_all_containers_and_degrade():
    import bz2
    import gzip
    import lzma

    from data_engineering_etl_self_service_spark.operators.encoding import (
        sniff_decompress,
    )

    text = b"round trip payload"
    for raw, comp in [
        (gzip.compress(text), "gzip"),
        (bz2.compress(text), "bzip2"),
        (lzma.compress(text), "xz"),
        (text, "none"),
    ]:
        r = sniff_decompress(raw)
        assert (r["compression"], r["ok"], r["data"]) == (comp, True, text)
    # sniff false-positive: 'BZh' is printable ASCII — the payload
    # must survive verbatim, not be destroyed
    fp = sniff_decompress(b"BZh is a legit sentence start")
    assert fp["compression"] == "bzip2" and not fp["ok"]
    assert fp["data"] == b"BZh is a legit sentence start"
    broken = sniff_decompress(b"\x1f\x8bnot really gzip")
    assert broken["compression"] == "gzip" and not broken["ok"]
    assert broken["data"] == b"\x1f\x8bnot really gzip"
    # zstd/lz4 (round 7): real frames inflate exactly; corrupt frames
    # with the right magic degrade to passthrough like the others
    import pyarrow as pa

    for codec in ("zstd", "lz4"):
        r = sniff_decompress(pa.Codec(codec).compress(text, asbytes=True))
        assert (r["compression"], r["ok"], r["data"]) == (codec, True, text)
    zstd = sniff_decompress(b"\x28\xb5\x2f\xfd payload")
    assert zstd["compression"] == "zstd" and not zstd["ok"]
    assert zstd["data"].startswith(b"\x28")
    lz4 = sniff_decompress(b"\x04\x22\x4d\x18 nope")
    assert lz4["compression"] == "lz4" and not lz4["ok"]


def test_dictionary_frame_specific_error_all_paths():
    """VERDICT r8 #6: a zstd frame naming an external dictionary must
    fail with a DISTINCT actionable error — naming the dictionary id
    and the missing piece — through the sniffing front door (ok=False
    passthrough + error message) and the Avro OCF block path (loud).
    The spec's explicit Dictionary_ID=0 form ('no dictionary') must
    still decode."""
    import pyarrow as pa
    import pytest

    from data_engineering_etl_self_service_spark.operators.encoding import (
        sniff_decompress,
    )
    from data_engineering_etl_self_service_spark.operators.zstd import (
        zstd_dictionary_id,
    )
    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        _decompress_block,
    )

    payload = b"hello dictionary world " * 40
    frame = pa.compress(payload, codec="zstd", asbytes=True)
    assert zstd_dictionary_id(frame) is None
    # graft a 1-byte Dictionary_ID=7 into the real frame header
    fhd = frame[4]
    assert fhd & 3 == 0
    ins = 5 if fhd & 0x20 else 6  # after Window_Descriptor if present
    crafted = (
        frame[:4] + bytes([fhd | 0x01]) + frame[5:ins] + b"\x07"
        + frame[ins:]
    )
    assert zstd_dictionary_id(crafted) == 7
    # sniffing front door: bytes pass through with the specific reason
    r = sniff_decompress(crafted)
    assert r["compression"] == "zstd" and r["ok"] is False
    assert r["data"] == crafted
    assert "requires its external dictionary" in r["error"]
    assert "dictionary_id=7" in r["error"]
    # OCF block path: loud, specific
    with pytest.raises(
        ValueError, match=r"avro: zstd dictionary frame \(dictionary_id=7\)"
    ):
        _decompress_block(crafted, "zstd")
    # Dictionary_ID=0 is the spec's 'no dictionary' encoding: decodes
    crafted0 = (
        frame[:4] + bytes([fhd | 0x01]) + frame[5:ins] + b"\x00"
        + frame[ins:]
    )
    assert zstd_dictionary_id(crafted0) is None
    r0 = sniff_decompress(crafted0)
    assert (r0["compression"], r0["ok"], r0["data"]) == ("zstd", True, payload)


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=300))
def test_sniff_decompress_never_raises(raw):
    from data_engineering_etl_self_service_spark.operators.encoding import (
        sniff_decompress,
    )

    r = sniff_decompress(raw)
    assert isinstance(r["data"], bytes)
