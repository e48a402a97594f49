"""Parquet split-block bloom filters (operators/parquet_bloom.py):
spec math, the writer-side graft, and the point-lookup skipping audit.

No independent bloom implementation exists in this container (pyarrow
16 and DuckDB 1.0 neither write nor read them), so verification leans
on the filter's PROVABLE invariants — no false negatives, bounded
false-positive rate, pyarrow byte-value-identical read-back of grafted
files — plus thrift round-trips of every structure through the
repo's own decoder.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_engineering_etl_self_service_spark.operators.parquet_bloom import (
    bloom_bytes_for,
    bloom_might_contain,
    bloom_skipping_report,
    encode_bloom_header,
    graft_bloom_filters,
    read_bloom,
)
from data_engineering_etl_self_service_spark.operators.parquet_meta import (
    read_footer_local,
    thrift_compact_decode,
)


def test_xxhash_reference_vectors():
    """operators/xxhash.py against the published XXH64 sanity vectors —
    the hash every bloom probe and insert goes through."""
    from data_engineering_etl_self_service_spark.operators.xxhash import (
        xxh64,
    )

    msg80 = b"1234567890" * 8
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc") == 0x44BC2CF5AD770999
    assert xxh64(b"message digest") == 0x066ED728FCEEB3BE
    assert xxh64(b"abcdefghijklmnopqrstuvwxyz") == 0xCFE1F278FA89835C
    assert xxh64(msg80) == 0xE04A477F19EE145D


def test_bloom_header_thrift_round_trip():
    for n in (32, 320, 65536, (1 << 20) + 32):
        d = thrift_compact_decode(encode_bloom_header(n), 0)
        assert d[1] == n
        # BLOCK / XXHASH / UNCOMPRESSED unions, member 1 each
        assert d[2] == {1: {}} and d[3] == {1: {}} and d[4] == {1: {}}


def test_bloom_no_false_negatives_across_types():
    """THE bloom invariant: every inserted value tests positive —
    fuzzed across int64 (incl. negatives/extremes), strings, bytes,
    and doubles."""
    rng = random.Random(5)
    cases = [
        ([rng.randrange(-(2**63), 2**63) for _ in range(3000)], "int64"),
        ([rng.randrange(-(2**31), 2**31) for _ in range(3000)], "int32"),
        ([f"doc-{rng.randrange(10**9)}" for _ in range(3000)], "byte_array"),
        (
            [bytes([rng.randrange(256) for _ in range(20)]) for _ in range(500)],
            "byte_array",
        ),
        ([rng.random() * 1e6 for _ in range(2000)], "double"),
        ([rng.random() * 100 for _ in range(2000)], "float"),
        ([0, -1, 2**63 - 1, -(2**63)], "int64"),
    ]
    for vals, ptype in cases:
        bs = bloom_bytes_for(vals, ptype)
        assert all(bloom_might_contain(bs, v, ptype) for v in vals)


def test_bloom_false_positive_rate_near_target():
    vals = [i * 37 for i in range(5000)]
    bs = bloom_bytes_for(vals, fpp=0.01)
    absent = [i * 37 + 1 for i in range(40000)]
    fpr = sum(bloom_might_contain(bs, v) for v in absent) / len(absent)
    # split-block blooms run slightly above the classic-bloom target;
    # 3x is the honesty band, 1.4% measured at this size
    assert fpr < 0.03, fpr
    # and the filter is genuinely selective
    assert fpr > 0.0001


def test_graft_preserves_pyarrow_readback_and_footer_parity(tmp_path):
    """The byte-level footer patch (long-form fields 14/15 inserted
    before each ColumnMetaData STOP) must leave the file readable by
    pyarrow with identical values AND identical metadata facts; the
    repo's footer decoder must surface the bloom anchors."""
    src = str(tmp_path / "s.parquet")
    dst = str(tmp_path / "d.parquet")
    pq.write_table(
        pa.table(
            {
                "v": pa.array(range(2000), pa.int64()),
                "w": pa.array([f"s{i}" for i in range(2000)]),
            }
        ),
        src,
        row_group_size=500,
    )
    assert graft_bloom_filters(src, dst, "v") == 4
    assert pq.read_table(dst).equals(pq.read_table(src))
    ms, md = pq.ParquetFile(src).metadata, pq.ParquetFile(dst).metadata
    assert md.num_rows == ms.num_rows
    assert md.num_row_groups == ms.num_row_groups
    for ri in range(ms.num_row_groups):
        a, b = ms.row_group(ri), md.row_group(ri)
        for ci in range(a.num_columns):
            assert (
                a.column(ci).statistics.min == b.column(ci).statistics.min
            )
    f = read_footer_local(dst, os.path.getsize(dst))
    for rg in f["row_groups"]:
        v, w = rg["columns"]
        assert v["path"] == "v" and v["bloom_off"] is not None
        assert v["bloom_len"] > 0
        assert w["bloom_off"] is None  # only the grafted column
        bitset, hdr = read_bloom(
            open(dst, "rb"), v["bloom_off"]
        )
        assert hdr[1] == len(bitset)
    # the ungrafted file has no anchors
    f0 = read_footer_local(src, os.path.getsize(src))
    assert all(
        c["bloom_off"] is None
        for rg in f0["row_groups"]
        for c in rg["columns"]
    )


def test_bloom_skipping_report_end_to_end(spark, tmp_path):
    """Point-lookup audit over a grafted mini-lake: per (partition,
    probe), the row group CONTAINING the probe is never skipped (no
    false negatives), bloomless columns/files are conservatively
    scanned, and expected skip counts match a direct driver-side
    recomputation with the same filters (deterministic)."""
    lake = tmp_path / "lake"
    # part=a: 4 rgs of 500, disjoint value ranges per rg, bloom-grafted
    # part=b: same data, NO blooms -> never skipped
    for part, grafted in (("part=a", True), ("part=b", False)):
        d = lake / part
        d.mkdir(parents=True)
        tmp = str(tmp_path / "stage.parquet")
        pq.write_table(
            pa.table({"v": pa.array(range(2000), pa.int64())}),
            tmp,
            row_group_size=500,
        )
        out = str(d / "f0.parquet")
        if grafted:
            graft_bloom_filters(tmp, out, "v")
        else:
            os.replace(tmp, out)
    probes = [42, 600, 1999, 10**9]  # rg0, rg1, rg3, absent
    rep = {
        (r["partition"], r["probe"]): r
        for r in bloom_skipping_report(
            spark, str(lake), column="v", values=probes
        ).collect()
    }
    assert len(rep) == 8
    # driver-side recomputation with the same bitsets
    f = read_footer_local(
        str(lake / "part=a" / "f0.parquet"),
        os.path.getsize(lake / "part=a" / "f0.parquet"),
    )
    with open(lake / "part=a" / "f0.parquet", "rb") as fh:
        bitsets = [
            read_bloom(fh, rg["columns"][0]["bloom_off"])[0]
            for rg in f["row_groups"]
        ]
    for p in probes:
        expected_skip = sum(
            1 for b in bitsets if not bloom_might_contain(b, p)
        )
        a = rep[("part=a", str(p))]
        assert a["n_rgs"] == 4 and a["n_with_bloom"] == 4
        assert a["n_bloom_skipped"] == expected_skip
        assert a["rows_scanned"] == (4 - expected_skip) * 500
        if p < 2000:  # present: its home rg must survive
            home = p // 500
            assert bloom_might_contain(bitsets[home], p)
            assert a["n_bloom_skipped"] <= 3
        b = rep[("part=b", str(p))]
        assert b["n_with_bloom"] == 0 and b["n_bloom_skipped"] == 0
        assert b["rows_scanned"] == 2000  # no bloom -> read everything
    # the audit is genuinely selective: present probes skip the other
    # rgs modulo false positives, absent probes skip all-or-most
    assert rep[("part=a", str(10**9))]["n_bloom_skipped"] >= 3


def test_bloom_read_is_ranged_not_whole_file(tmp_path):
    """The audit's I/O: reading one rg's bloom costs header+bitset
    bytes, never the file."""
    src = str(tmp_path / "s.parquet")
    dst = str(tmp_path / "d.parquet")
    pq.write_table(
        pa.table({"v": pa.array(range(50000), pa.int64())}),
        src,
        row_group_size=25000,
    )
    graft_bloom_filters(src, dst, "v")
    f = read_footer_local(dst, os.path.getsize(dst))
    off = f["row_groups"][0]["columns"][0]["bloom_off"]
    ln = f["row_groups"][0]["columns"][0]["bloom_len"]

    class Counting:
        def __init__(self, fh):
            self.fh = fh
            self.n = 0

        def seek(self, p):
            return self.fh.seek(p)

        def read(self, k):
            out = self.fh.read(k)
            self.n += len(out)
            return out

    with open(dst, "rb") as raw:
        fh = Counting(raw)
        bitset, _ = read_bloom(fh, off)
    assert len(bitset) == ln - len(encode_bloom_header(len(bitset)))
    assert fh.n <= ln + 64  # header probe + bitset, nothing else
    # ~30 KB of bloom (25k distinct at 1%) vs a 350 KB file — the
    # blob itself, never the data pages
    assert fh.n < os.path.getsize(dst) // 4

def test_plain_encoding_is_physical_type_correct(tmp_path):
    """review r9c: INT32/FLOAT plain encodings are 4 bytes — a bloom
    that hashed them as 8 would give near-total false negatives to any
    spec-compliant reader. Graft blooms onto int32 and float columns
    and assert every present value still tests positive through the
    full footer→bloom path, with the width pinned."""
    from data_engineering_etl_self_service_spark.operators.parquet_bloom import (
        plain_encode,
    )

    assert plain_encode(7, "int32") == b"\x07\x00\x00\x00"
    assert plain_encode(7, "int64") == b"\x07" + b"\x00" * 7
    assert len(plain_encode(1.5, "float")) == 4
    assert len(plain_encode(1.5, "double")) == 8
    src = str(tmp_path / "s.parquet")
    dst = str(tmp_path / "d.parquet")
    pq.write_table(
        pa.table(
            {
                "i": pa.array(range(1000), pa.int32()),
                "f": pa.array([i * 0.5 for i in range(1000)], pa.float32()),
            }
        ),
        src,
        row_group_size=500,
    )
    for col, probes, ptype in (
        ("i", [0, 499, 999], "int32"),
        ("f", [0.0, 250.5, 499.5], "float"),
    ):
        graft_bloom_filters(src, dst, col)
        f = read_footer_local(dst, os.path.getsize(dst))
        with open(dst, "rb") as fh:
            for rg in f["row_groups"]:
                c = next(
                    x for x in rg["columns"] if x["path"] == col
                )
                assert c["type"] == ptype
                bitset, _ = read_bloom(fh, c["bloom_off"])
                vals = pq.ParquetFile(dst).read_row_group(
                    f["row_groups"].index(rg), columns=[col]
                ).column(col).to_pylist()
                assert all(
                    bloom_might_contain(bitset, v, ptype) for v in vals
                )


def test_negative_zero_and_encoding_dedupe():
    """review r9c: ±0.0 are SQL-equal but IEEE-distinct — both insert
    and probe canonicalize, so a -0.0-only filter never proves a
    ``= 0.0`` lookup absent; distinctness is judged on encodings."""
    bs = bloom_bytes_for([-0.0, 1.5, 2.5], ptype="double")
    assert bloom_might_contain(bs, 0.0, "double")
    assert bloom_might_contain(bs, -0.0, "double")
    bs2 = bloom_bytes_for([0.0], ptype="double")
    assert bloom_might_contain(bs2, -0.0, "double")


def test_read_blooms_coalesced_extent_reads(tmp_path):
    """review r9c: the audit's bloom I/O is coalesced exact extents
    (footer already records offset+length), not 2 probing reads per
    row group — byte-count-pinned, with per-rg parity against the
    single-blob reader."""
    from data_engineering_etl_self_service_spark.operators.parquet_bloom import (
        read_blooms,
    )
    from data_engineering_etl_self_service_spark.operators.parquet_meta import (
        read_footer_handle,
    )

    src = str(tmp_path / "s.parquet")
    dst = str(tmp_path / "d.parquet")
    pq.write_table(
        pa.table({"v": pa.array(range(4000), pa.int64())}),
        src,
        row_group_size=500,
    )
    graft_bloom_filters(src, dst, "v")
    fsize = os.path.getsize(dst)

    class Counting:
        def __init__(self, fh):
            self.fh = fh
            self.n = 0
            self.reads = 0

        def seek(self, p):
            return self.fh.seek(p)

        def read(self, k):
            out = self.fh.read(k)
            self.n += len(out)
            self.reads += 1
            return out

    with open(dst, "rb") as raw:
        footer = read_footer_handle(raw, fsize)
        fh = Counting(raw)
        bitsets = read_blooms(fh, footer, "v")
    lens = [
        c["bloom_len"]
        for rg in footer["row_groups"]
        for c in rg["columns"]
        if c["bloom_off"] is not None
    ]
    assert len(bitsets) == 8 and all(b is not None for b in bitsets)
    # the 8 adjacent blobs coalesce into ONE positioned read
    assert fh.reads == 1
    assert fh.n == sum(lens)
    # parity with the single-blob probing reader
    with open(dst, "rb") as raw:
        for rg, b in zip(footer["row_groups"], bitsets):
            off = rg["columns"][0]["bloom_off"]
            assert read_bloom(raw, off)[0] == b
