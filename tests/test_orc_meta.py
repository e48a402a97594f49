"""ORC tail introspection, stripe pruning, and zero-decode concat.

Every decode is pinned against pyarrow.orc's view of the same file
(metadata parity) or against recomputed actual values (stripe windows
re-derived by reading the stripe's rows) — the same two-implementation
posture as tests/test_parquet_meta.py. The concat round-trips through
BOTH readers this container has: pyarrow's C++ ORC reader and Spark's
Java ORC reader.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.orc as po
import pytest

from data_engineering_etl_self_service_spark.operators.orc_meta import (
    column_id,
    orc_concat,
    orc_layout_report,
    orc_pruning_report,
    read_orc_tail,
    read_orc_tail_path,
)

CODECS = ["uncompressed", "zlib", "snappy", "zstd", "lz4"]


def _table(lo: int, n: int) -> pa.Table:
    return pa.table(
        {
            "v": pa.array(range(lo, lo + n), pa.int64()),
            "s": pa.array([f"k{i:06d}" for i in range(lo, lo + n)]),
            "d": pa.array([i * 0.5 for i in range(lo, lo + n)]),
        }
    )


@pytest.mark.parametrize("codec", CODECS)
def test_tail_decode_matches_pyarrow(tmp_path, codec):
    """num_rows / stripe count / codec / per-stripe windows parity with
    pyarrow on a multi-stripe file under every chunk codec."""
    p = str(tmp_path / f"t_{codec}.orc")
    n = 50_000
    po.write_table(_table(0, n), p, compression=codec, stripe_size=64 << 10)
    t = read_orc_tail_path(p)
    f = po.ORCFile(p)
    assert t["num_rows"] == n == f.nrows
    assert t["n_stripes"] == f.nstripes
    assert sum(s["n_rows"] for s in t["stripes"]) == n
    cid = column_id(t["types"], "v")
    fs = t["file_stats"][cid]
    assert (fs["min"], fs["max"], fs["sum"]) == (0, n - 1, n * (n - 1) // 2)
    # values are written in order, so stripe windows tile contiguously
    off = 0
    for si, stripe in enumerate(t["stripes"]):
        st = t["stripe_stats"][si][cid]
        assert (st["min"], st["max"]) == (off, off + stripe["n_rows"] - 1)
        off += stripe["n_rows"]
    scid = column_id(t["types"], "s")
    assert t["file_stats"][scid]["min"] == "k000000"
    dcid = column_id(t["types"], "d")
    assert t["file_stats"][dcid]["max"] == (n - 1) * 0.5


def test_stripe_stats_match_recomputed_actuals(tmp_path):
    """Decoded per-stripe windows equal min/max recomputed from the
    stripe's actual rows (read_stripe) — not just internally consistent."""
    p = str(tmp_path / "actuals.orc")
    po.write_table(
        _table(0, 30_000), p, compression="snappy", stripe_size=64 << 10
    )
    t = read_orc_tail_path(p)
    f = po.ORCFile(p)
    assert f.nstripes == t["n_stripes"] > 1
    cid = column_id(t["types"], "v")
    for si in range(f.nstripes):
        col = f.read_stripe(si).column("v").to_pylist()
        st = t["stripe_stats"][si][cid]
        assert st["min"] == min(col) and st["max"] == max(col)
        assert st["n_values"] == len(col)


def test_date_and_null_stats(tmp_path):
    import datetime as dt

    p = str(tmp_path / "dates.orc")
    days = [dt.date(2020, 1, 1) + dt.timedelta(days=i) for i in range(10)]
    po.write_table(
        pa.table(
            {
                "day": pa.array(days, pa.date32()),
                "maybe": pa.array([None] * 10, pa.int64()),
            }
        ),
        p,
    )
    t = read_orc_tail_path(p)
    did = column_id(t["types"], "day")
    st = t["file_stats"][did]
    epoch = dt.date(1970, 1, 1)
    assert st["stat_kind"] == "date"
    assert st["min"] == (days[0] - epoch).days
    assert st["max"] == (days[-1] - epoch).days
    mid = column_id(t["types"], "maybe")
    ms = t["file_stats"][mid]
    assert ms["n_values"] == 0 and ms["has_null"]


def test_column_id_nested_and_missing(tmp_path):
    p = str(tmp_path / "nested.orc")
    po.write_table(
        pa.table(
            {
                "top": pa.array([1, 2], pa.int64()),
                "obj": pa.array(
                    [{"x": 1, "y": "a"}, {"x": 2, "y": "b"}],
                    pa.struct([("x", pa.int64()), ("y", pa.string())]),
                ),
            }
        ),
        p,
    )
    t = read_orc_tail_path(p)
    assert t["types"][column_id(t["types"], "obj.x")]["kind"] == "long"
    with pytest.raises(ValueError, match="not found"):
        column_id(t["types"], "obj.z")
    with pytest.raises(ValueError, match="not found"):
        column_id(t["types"], "nope")


class _CountingHandle:
    def __init__(self, fh):
        self.fh = fh
        self.bytes_read = 0

    def seek(self, *a):
        return self.fh.seek(*a)

    def read(self, n=-1):
        out = self.fh.read(n)
        self.bytes_read += len(out)
        return out

    def close(self):
        self.fh.close()


def test_tail_bytes_only_on_multi_gb_file(tmp_path):
    """A real ORC tail grafted onto a 2 GiB sparse body: the decode
    reads tail bytes only (the 16 KiB probe, one more ranged read iff
    the tail region is larger) — any data read would show up as
    gigabytes in the counter."""
    import io

    buf = io.BytesIO()
    po.write_table(_table(0, 1000), buf, compression="zlib")
    raw = buf.getvalue()
    ps_len = raw[-1]
    small = read_orc_tail_path_from_bytes(raw)
    tail_len = (
        small["_tail_bytes"]
    )
    big = tmp_path / "big.orc"
    with open(big, "wb") as f:
        f.write(b"ORC")
        f.seek(2 << 30)
        f.write(raw[len(raw) - tail_len :])
    fsize = os.path.getsize(big)
    assert fsize > 2 << 30
    fh = _CountingHandle(open(big, "rb"))
    t = read_orc_tail(fh, fsize)
    fh.close()
    assert t["num_rows"] == 1000
    assert fh.bytes_read <= 32 << 10
    assert ps_len > 0


def read_orc_tail_path_from_bytes(raw: bytes) -> dict:
    """Helper: decode a tail from in-memory bytes and report how long
    the metadata+footer+postscript+1 region is."""
    import io

    fh = io.BytesIO(raw)
    t = read_orc_tail(fh, len(raw))
    ps_len = raw[-1]
    # recompute the region length the reader needs
    from data_engineering_etl_self_service_spark.operators.orc_meta import (
        _one,
        _pb_fields,
    )

    ps = _pb_fields(raw[-1 - ps_len : -1])
    t["_tail_bytes"] = _one(ps, 1, 0) + _one(ps, 5, 0) + ps_len + 1
    return t


def test_rejects_non_orc_and_truncated(tmp_path):
    import io

    with pytest.raises(ValueError):
        read_orc_tail(io.BytesIO(b"PAR1" + b"\x00" * 100 + b"\x04"), 105)
    buf = io.BytesIO()
    po.write_table(_table(0, 100), buf)
    raw = buf.getvalue()
    # keep one byte less than the declared metadata+footer+ps region:
    # the postscript parses but its declared tail exceeds the file
    need = read_orc_tail_path_from_bytes(raw)["_tail_bytes"]
    cut = raw[len(raw) - (need - 1) :]
    with pytest.raises(ValueError, match="exceeds file size"):
        read_orc_tail(io.BytesIO(cut), len(cut))


# ------------------------------------------------------------------ concat


@pytest.mark.parametrize("codec", ["uncompressed", "snappy", "zstd"])
def test_concat_roundtrip_pyarrow(tmp_path, codec):
    ins, tabs, off = [], [], 0
    for j, rows in enumerate([30, 50, 20, 1]):
        t = _table(off, rows)
        p = str(tmp_path / f"in{j}.orc")
        po.write_table(t, p, compression=codec)
        ins.append(p)
        tabs.append(t)
        off += rows
    merged = str(tmp_path / "merged.orc")
    info = orc_concat(merged, ins)
    assert info["n_stripes"] == 4 and info["num_rows"] == 101
    assert po.ORCFile(merged).read().equals(pa.concat_tables(tabs))
    t = read_orc_tail_path(merged)
    cid = column_id(t["types"], "v")
    wins = [(s[cid]["min"], s[cid]["max"]) for s in t["stripe_stats"]]
    assert wins == [(0, 29), (30, 79), (80, 99), (100, 100)]
    fs = t["file_stats"][cid]
    assert (fs["min"], fs["max"], fs["sum"]) == (0, 100, 5050)


def test_concat_readable_by_spark(spark, tmp_path):
    """Spark's JAVA ORC reader (a second, stricter implementation)
    accepts the hand-built tail and returns the exact union of rows."""
    d = tmp_path / "parts"
    d.mkdir()
    ins, off = [], 0
    for j, rows in enumerate([40, 25, 35]):
        p = str(d / f"in{j}.orc")
        po.write_table(_table(off, rows), p, compression="snappy")
        ins.append(p)
        off += rows
    mdir = tmp_path / "merged"
    mdir.mkdir()
    orc_concat(str(mdir / "m.orc"), ins)
    got = spark.read.orc(str(mdir)).orderBy("v").collect()
    assert len(got) == 100
    assert [r["v"] for r in got] == list(range(100))
    assert got[37]["s"] == "k000037"
    assert got[99]["d"] == 99 * 0.5


def test_concat_merges_stats_with_all_null_input(tmp_path):
    """An all-NULL input contributes no window and must not veto the
    merged file-level min/max (counts still sum, has_null ORs)."""
    a = str(tmp_path / "a.orc")
    b = str(tmp_path / "b.orc")
    po.write_table(pa.table({"v": pa.array([5, 6, 7], pa.int64())}), a)
    po.write_table(pa.table({"v": pa.array([None] * 4, pa.int64())}), b)
    merged = str(tmp_path / "m.orc")
    orc_concat(merged, [a, b])
    t = read_orc_tail_path(merged)
    cid = column_id(t["types"], "v")
    fs = t["file_stats"][cid]
    assert (fs["min"], fs["max"]) == (5, 7)
    assert fs["n_values"] == 3 and fs["has_null"]
    assert po.ORCFile(merged).read().column("v").null_count == 4


def test_concat_rejects_mismatches(tmp_path):
    a = str(tmp_path / "a.orc")
    b = str(tmp_path / "b.orc")
    c = str(tmp_path / "c.orc")
    po.write_table(_table(0, 10), a, compression="snappy")
    po.write_table(_table(10, 10), b, compression="zlib")
    po.write_table(pa.table({"other": pa.array([1])}), c, compression="snappy")
    with pytest.raises(ValueError, match="compression mismatch"):
        orc_concat(str(tmp_path / "m1.orc"), [a, b])
    with pytest.raises(ValueError, match="type tree mismatch"):
        orc_concat(str(tmp_path / "m2.orc"), [a, c])
    with pytest.raises(ValueError, match="no inputs"):
        orc_concat(str(tmp_path / "m3.orc"), [])


# ------------------------------------------------------------------ audits


def _build_lake(tmp_path):
    """part=a: one merged 3-stripe file (windows [0,99] [100,199]
    [200,299]) + one all-null file. part=b: one single-stripe file
    [500,599]."""
    lake = tmp_path / "lake"
    stage = tmp_path / "stage"
    stage.mkdir()
    pa_dir = lake / "part=a"
    pb_dir = lake / "part=b"
    pa_dir.mkdir(parents=True)
    pb_dir.mkdir(parents=True)
    ins = []
    for j in range(3):
        p = str(stage / f"s{j}.orc")
        po.write_table(
            pa.table(
                {"v": pa.array(range(j * 100, j * 100 + 100), pa.int64())}
            ),
            p,
            compression="snappy",
        )
        ins.append(p)
    orc_concat(str(pa_dir / "merged.orc"), ins)
    po.write_table(
        pa.table({"v": pa.array([None] * 40, pa.int64())}),
        str(pa_dir / "nulls.orc"),
        compression="snappy",
    )
    po.write_table(
        pa.table({"v": pa.array(range(500, 600), pa.int64())}),
        str(pb_dir / "f.orc"),
        compression="snappy",
    )
    return lake


def test_pruning_report_range_and_not_null(spark, tmp_path):
    lake = _build_lake(tmp_path)
    rep = {
        r["partition"]: r.asDict()
        for r in orc_pruning_report(
            spark, str(lake), column="v", lo=120, hi=180
        ).collect()
    }
    a = rep["part=a"]
    # stripes [0,99] skip, [100,199] hit, [200,299] skip; null file skips
    assert a["n_files"] == 2 and a["n_skippable_files"] == 1
    assert a["n_stripes"] == 4 and a["n_skippable_stripes"] == 3
    assert a["rows_total"] == 340 and a["rows_scanned"] == 100
    b = rep["part=b"]
    assert b["n_skippable_files"] == 1 and b["rows_scanned"] == 0

    nn = {
        r["partition"]: r.asDict()
        for r in orc_pruning_report(
            spark, str(lake), column="v", not_null=True
        ).collect()
    }
    # IS NOT NULL: only the all-null file skips
    assert nn["part=a"]["n_skippable_stripes"] == 1
    assert nn["part=a"]["rows_scanned"] == 300
    assert nn["part=b"]["n_skippable_stripes"] == 0

    with pytest.raises(ValueError, match="range mode needs"):
        orc_pruning_report(spark, str(lake), column="v")


def test_pruning_report_string_predicate(spark, tmp_path):
    lake = tmp_path / "slake"
    d = lake / "part=0"
    d.mkdir(parents=True)
    po.write_table(
        pa.table({"s": pa.array(["apple", "banana", "cherry"])}),
        str(d / "f0.orc"),
    )
    po.write_table(
        pa.table({"s": pa.array(["melon", "peach", "plum"])}),
        str(d / "f1.orc"),
    )
    rep = orc_pruning_report(
        spark, str(lake), column="s", lo="aa", hi="dd"
    ).collect()[0]
    assert rep["n_skippable_files"] == 1
    assert rep["rows_scanned"] == 3


def test_force_generic_matches_local(spark, tmp_path):
    lake = _build_lake(tmp_path)
    local = sorted(
        map(
            tuple,
            orc_pruning_report(
                spark, str(lake), column="v", lo=120, hi=180
            ).collect(),
        )
    )
    ranged = sorted(
        map(
            tuple,
            orc_pruning_report(
                spark,
                str(lake),
                column="v",
                lo=120,
                hi=180,
                force_generic=True,
            ).collect(),
        )
    )
    assert local == ranged


def test_layout_report(spark, tmp_path):
    lake = _build_lake(tmp_path)
    rep = {
        r["partition"]: r.asDict()
        for r in orc_layout_report(spark, str(lake)).collect()
    }
    a = rep["part=a"]
    assert a["n_files"] == 2 and a["n_stripes"] == 4
    assert a["rows_total"] == 340
    assert a["codecs"] == ["snappy"]
    assert a["avg_stripe_rows"] == 340 // 4
    assert rep["part=b"]["n_stripes"] == 1


def test_spark_written_orc_decodes(spark, tmp_path):
    """Spark's Java ORC WRITER output (the third implementation in the
    container) decodes identically: rows, stripes, file stats."""
    out = str(tmp_path / "sparkorc")
    spark.range(10_000).selectExpr(
        "id AS v", "format_string('r%05d', id) AS s"
    ).coalesce(1).write.option("compression", "zlib").orc(out)
    files = [
        os.path.join(out, f)
        for f in os.listdir(out)
        if f.endswith(".orc")
    ]
    assert len(files) == 1
    t = read_orc_tail_path(files[0])
    assert t["num_rows"] == 10_000
    assert t["compression"] == "zlib"
    cid = column_id(t["types"], "v")
    assert (
        t["file_stats"][cid]["min"],
        t["file_stats"][cid]["max"],
    ) == (0, 9_999)
    f = po.ORCFile(files[0])
    assert t["n_stripes"] == f.nstripes


def _strip_file_stats(path):
    """Byte-surgery: rewrite an ORC file's tail WITHOUT Footer field 7
    (the file-level ColumnStatistics list) — the shape a nonconforming
    writer produces. Streams and Metadata are untouched."""
    import os

    from data_engineering_etl_self_service_spark.operators.orc_meta import (
        _chunked,
        _pb_blob,
        _pb_uint,
        read_orc_tail,
    )

    size = os.path.getsize(path)
    with open(path, "rb") as fh:
        data = fh.read()
        fh.seek(0)
        t = read_orc_tail(fh, size)
    ps_len = data[-1]
    footer_len = t["_raw_ps"][1][0]

    def _emit(fields, skip=()):
        out = bytearray()
        for fid in sorted(fields):
            if fid in skip:
                continue
            for v in fields[fid]:
                out += (
                    _pb_blob(fid, v)
                    if isinstance(v, (bytes, bytearray))
                    else _pb_uint(fid, v)
                )
        return bytes(out)

    foot_stream = _chunked(
        _emit(t["_raw_footer"], skip=(7,)),
        t["compression"],
        t["compression_block"],
    )
    new_ps = _pb_uint(1, len(foot_stream)) + _emit(t["_raw_ps"], skip=(1,))
    body_end = len(data) - 1 - ps_len - footer_len
    with open(path, "wb") as fh:
        fh.write(data[:body_end])
        fh.write(foot_stream)
        fh.write(new_ps)
        fh.write(bytes([len(new_ps)]))


def test_merge_stats_missing_input_omits_footer_stats(tmp_path):
    """An input with NO file statistics (unknown rows, not known-NULL)
    must make ``orc_concat`` OMIT Footer field 7 for the merged file
    entirely (ADVICE r10): there is no sound numberOfValues for
    unknown rows — unset decodes as proto-default 0 (count==0+hasNull
    SARGs skip the file, ADVICE r9), and a row-total upper bound can
    equal the merged rowCount, which numberOfValues!=rowCount
    nullability derivations (Trino's TupleDomainOrcPredicate) read as
    'no nulls' and prune IS NULL over live NULL rows. An absent
    statistics list makes no claims either way."""
    import pyarrow as pa
    import pyarrow.orc as po
    import pytest as _pytest

    from data_engineering_etl_self_service_spark.operators.orc_meta import (
        _merge_col_stats,
        orc_concat,
        read_orc_tail_path,
    )

    a, b = str(tmp_path / "a.orc"), str(tmp_path / "b.orc")
    po.write_table(
        pa.table({"x": pa.array([1, 2, None], pa.int64())}), a
    )
    po.write_table(pa.table({"x": pa.array([5, 6], pa.int64())}), b)
    _strip_file_stats(b)
    tb = read_orc_tail_path(b)
    assert all(s["n_values"] is None for s in tb["file_stats"])
    merged = str(tmp_path / "m.orc")
    res = orc_concat(merged, [a, b])
    assert res["num_rows"] == 5
    tm = read_orc_tail_path(merged)
    # field 7 absent: no count, no window, no nullability claim
    assert 7 not in tm["_raw_footer"]
    # the merged file still reads whole through the C++ reader, and
    # the live NULL row is still there
    got = po.ORCFile(merged).read().column("x").to_pylist()
    assert got == [1, 2, None, 5, 6]
    # the merge helper itself refuses missing-stats inputs — omission
    # is the caller's job, never a fabricated count
    with _pytest.raises(AssertionError, match="omit the statistics"):
        _merge_col_stats([{"missing": True, "rows": 4}])


def test_strip_helper_roundtrip_and_statted_merge_unchanged(tmp_path):
    """Control for the surgery helper: an untouched pair still merges
    WITH complete footer stats (counts sum, windows fold)."""
    import pyarrow as pa
    import pyarrow.orc as po

    from data_engineering_etl_self_service_spark.operators.orc_meta import (
        orc_concat,
        read_orc_tail_path,
    )

    a, b = str(tmp_path / "a.orc"), str(tmp_path / "b.orc")
    po.write_table(pa.table({"x": pa.array([1, 2], pa.int64())}), a)
    po.write_table(pa.table({"x": pa.array([5, 6], pa.int64())}), b)
    merged = str(tmp_path / "m.orc")
    orc_concat(merged, [a, b])
    tm = read_orc_tail_path(merged)
    assert 7 in tm["_raw_footer"]
    xcol = tm["file_stats"][-1]
    assert xcol["n_values"] == 4
    assert (xcol["min"], xcol["max"]) == (1, 6)


def _compressed_chunks(data: bytes) -> dict:
    """``data`` as one raw ORC chunk per compressed codec."""
    import zlib

    deflate = zlib.compressobj(wbits=-15)
    return {
        "zlib": deflate.compress(data) + deflate.flush(),
        "snappy": pa.compress(data, codec="snappy", asbytes=True),
        "zstd": pa.compress(data, codec="zstd", asbytes=True),
        "lz4": pa.compress(data, codec="lz4_raw", asbytes=True),
    }


def test_orc_chunk_bomb_is_bounded():
    """Every compressed ORC codec inflates a chunk under its output
    bound and fails that bound with ValueError instead of
    materializing a hostile chunk's declared expansion (review r9)."""
    from data_engineering_etl_self_service_spark.operators.orc_meta import (
        _inflate_chunk,
    )

    data = b"\x00" * (300 << 10)
    for codec, chunk in _compressed_chunks(data).items():
        assert len(chunk) < 16 << 10, codec  # tiny wire, big output
        assert _inflate_chunk(chunk, codec, 1 << 20) == data, codec
        with pytest.raises(ValueError, match="bound"):
            _inflate_chunk(chunk, codec, 1 << 10)


def test_orc_truncated_chunk_raises_valueerror():
    """A truncated compressed chunk fails as ValueError for every codec
    — the error the ORC compaction loop records per file."""
    from data_engineering_etl_self_service_spark.operators.orc_meta import (
        _inflate_chunk,
    )

    data = bytes(range(256)) * 400
    for codec, chunk in _compressed_chunks(data).items():
        assert _inflate_chunk(chunk, codec, 1 << 20) == data, codec
        with pytest.raises(ValueError, match=codec):
            _inflate_chunk(chunk[: len(chunk) // 2], codec, 1 << 20)


# -------------------------------------------------------------- compaction


def test_compact_orc_flagged_zero_decode_loop(spark, tmp_path):
    """The ORC OPTIMIZE loop: small files merge by stripe concat
    (batched per codec), large files ride along untouched (hardlinked,
    byte-identical), rows survive exactly, the audit flag clears, and
    a second run is a no-op."""
    from data_engineering_etl_self_service_spark.operators.orc_meta import (
        compact_orc_flagged,
    )

    lake = tmp_path / "lake"
    for part in range(2):
        d = lake / f"part={part}"
        d.mkdir(parents=True)
        base = part * 1000
        # 4 small snappy + 2 small zstd + 1 big(ish) snappy file
        off = base
        for j in range(4):
            po.write_table(
                pa.table({"v": pa.array(range(off, off + 50), pa.int64())}),
                str(d / f"s{j}.orc"),
                compression="snappy",
            )
            off += 50
        for j in range(2):
            po.write_table(
                pa.table({"v": pa.array(range(off, off + 50), pa.int64())}),
                str(d / f"z{j}.orc"),
                compression="zstd",
            )
            off += 50
        # pseudo-random values defeat RLE so the file stays over the
        # small-file threshold (sequential ints delta-encode to ~KBs)
        po.write_table(
            pa.table(
                {
                    "v": pa.array(
                        [
                            (i * 2654435761) % (1 << 40)
                            for i in range(off, off + 20_000)
                        ],
                        pa.int64(),
                    )
                }
            ),
            str(d / "big.orc"),
            compression="snappy",
        )
    big_bytes = (lake / "part=0" / "big.orc").read_bytes()
    before = sorted(
        r["v"] for r in spark.read.orc(str(lake / "part=0")).collect()
    )
    rep = {
        r["partition"]: r.asDict()
        for r in compact_orc_flagged(
            spark, str(lake), small_file_bytes=64 << 10
        ).collect()
    }
    p0 = rep["part=0"]
    # rows_* are PARTITION TOTALS (the parquet loop's semantics)
    assert p0["swapped"] and p0["rows_before"] == 20_300
    assert p0["rows_after"] == 20_300
    # 4 snappy -> 1, 2 zstd -> 1, big untouched: 7 files -> 3
    assert p0["files_before"] == 7 and p0["files_after"] == 3
    after = sorted(
        r["v"] for r in spark.read.orc(str(lake / "part=0")).collect()
    )
    assert after == before
    assert (lake / "part=0" / "big.orc").read_bytes() == big_bytes
    # merged files carry real stripe stats: the pruning audit still
    # sees every original window
    repp = orc_pruning_report(
        spark, str(lake), column="v", lo=60, hi=90
    ).collect()
    by = {r["partition"]: r for r in repp}
    assert by["part=0"]["rows_total"] == 20_300
    assert by["part=0"]["n_skippable_stripes"] > 0
    # second run: nothing left under the threshold to merge (merged
    # files may still be < threshold but each batch is a singleton)
    rep2 = compact_orc_flagged(
        spark, str(lake), small_file_bytes=64 << 10
    ).collect()
    assert all(not r["swapped"] for r in rep2) or not rep2


def test_compact_orc_flagged_rejects_remote_and_recovers(spark, tmp_path):
    from data_engineering_etl_self_service_spark.operators.orc_meta import (
        compact_orc_flagged,
    )

    with pytest.raises(ValueError, match="local"):
        compact_orc_flagged(spark, "s3a://bucket/lake")
    # crash-recovery sweep: a partition stranded mid-swap (src absent,
    # __retired present) is restored before the audit runs
    lake = tmp_path / "lake"
    d = lake / "part=0"
    d.mkdir(parents=True)
    for j in range(2):
        po.write_table(
            pa.table({"v": pa.array(range(j * 10, j * 10 + 10), pa.int64())}),
            str(d / f"s{j}.orc"),
        )
    os.rename(str(d), str(lake / "part=0__retired"))
    rep = compact_orc_flagged(
        spark, str(lake), small_file_bytes=1 << 20
    ).collect()
    assert (lake / "part=0").is_dir()
    assert rep and rep[0]["swapped"]
    got = sorted(r["v"] for r in spark.read.orc(str(lake)).collect())
    assert got == list(range(20))


def test_compact_orc_flagged_never_swaps_table_root(spark, tmp_path):
    """Small files directly under the table ROOT (partition label '.')
    must not trigger a root swap — retiring the root would delete the
    sibling partition dirs riding inside it and strand the table
    outside the recovery sweep on a crash (review r9)."""
    from data_engineering_etl_self_service_spark.operators.orc_meta import (
        compact_orc_flagged,
    )

    lake = tmp_path / "lake"
    lake.mkdir()
    for j in range(3):
        po.write_table(
            pa.table({"v": pa.array(range(j * 5, j * 5 + 5), pa.int64())}),
            str(lake / f"root{j}.orc"),
        )
    d = lake / "part=0"
    d.mkdir()
    for j in range(2):
        po.write_table(
            pa.table(
                {"v": pa.array(range(100 + j * 5, 105 + j * 5), pa.int64())}
            ),
            str(d / f"s{j}.orc"),
        )
    rep = compact_orc_flagged(
        spark, str(lake), small_file_bytes=1 << 20
    ).collect()
    # only the hive subdir compacted; root files untouched
    assert [r["partition"] for r in rep] == ["part=0"]
    assert sorted(f.name for f in lake.iterdir() if f.is_file()) == [
        "root0.orc", "root1.orc", "root2.orc",
    ]
    assert (lake / "part=0").is_dir()
    assert spark.read.orc(str(lake / "part=0")).count() == 10


def test_compact_orc_flagged_reruns_with_prior_merged_files(spark, tmp_path):
    """A second run whose new batches coexist with the first run's
    merged-* outputs must not collide on names (review r9)."""
    from data_engineering_etl_self_service_spark.operators.orc_meta import (
        compact_orc_flagged,
    )

    lake = tmp_path / "lake"
    d = lake / "part=0"
    d.mkdir(parents=True)
    for j in range(2):
        po.write_table(
            pa.table({"v": pa.array(range(j * 5, j * 5 + 5), pa.int64())}),
            str(d / f"a{j}.orc"),
        )
    r1 = compact_orc_flagged(
        spark, str(lake), small_file_bytes=1 << 20
    ).collect()
    assert r1[0]["swapped"]
    # new small files arrive; the prior merged file is still small and
    # joins the next batch (or rides along) — either way, no crash
    for j in range(2):
        po.write_table(
            pa.table({"v": pa.array(range(50 + j * 5, 55 + j * 5), pa.int64())}),
            str(d / f"b{j}.orc"),
        )
    r2 = compact_orc_flagged(
        spark, str(lake), small_file_bytes=1 << 20
    ).collect()
    assert r2 and r2[0]["swapped"]
    got = sorted(r["v"] for r in spark.read.orc(str(d)).collect())
    assert got == list(range(10)) + list(range(50, 60))


# ------------------------------------------------------------ row index


def test_row_index_entries_match_recomputed_actuals(tmp_path):
    """Per-granule windows decoded from the ROW_INDEX stream equal
    min/max recomputed from the granule's actual rows, across a
    multi-stripe file."""
    from data_engineering_etl_self_service_spark.operators.orc_meta import (
        read_stripe_row_index,
    )

    p = str(tmp_path / "ri.orc")
    n = 30_000
    # pseudo-random values keep the stripe-size estimate honest so the
    # 64 KiB stripe_size actually yields several stripes
    po.write_table(
        pa.table(
            {
                "v": pa.array(
                    [(i * 2654435761) % (1 << 40) for i in range(n)],
                    pa.int64(),
                )
            }
        ),
        p,
        compression="snappy",
        stripe_size=64 << 10,
        row_index_stride=1000,
    )
    t = read_orc_tail_path(p)
    assert t["n_stripes"] > 1 and t["row_index_stride"] == 1000
    cid = column_id(t["types"], "v")
    f = po.ORCFile(p)
    with open(p, "rb") as fh:
        for si in range(t["n_stripes"]):
            col = f.read_stripe(si).column("v").to_pylist()
            entries = read_stripe_row_index(fh, t, si, cid)
            assert len(entries) == -(-len(col) // 1000)
            for g, est in enumerate(entries):
                sl = col[g * 1000 : (g + 1) * 1000]
                assert (est["min"], est["max"]) == (min(sl), max(sl))
                assert est["n_values"] == len(sl)


def test_granule_report_marginal_io_and_null_mode(spark, tmp_path):
    """Granule audit semantics: a stripe the STRIPE stats already skip
    spends zero index bytes (counted via a byte-counting handle); an
    all-null granule skips under both range and IS NOT NULL modes."""
    from data_engineering_etl_self_service_spark.operators.orc_meta import (
        orc_granule_pruning_report,
        read_orc_tail,
        read_stripe_row_index,
    )

    lake = tmp_path / "lake"
    d = lake / "part=0"
    d.mkdir(parents=True)
    # granule 0: all null; granules 1-2: values 1000..2999
    vals = [None] * 1000 + list(range(1000, 3000))
    po.write_table(
        pa.table({"v": pa.array(vals, pa.int64())}),
        str(d / "f.orc"),
        row_index_stride=1000,
    )
    rep = orc_granule_pruning_report(
        spark, str(lake), column="v", lo=1500, hi=1800
    ).collect()[0]
    # null granule skips, [1000,1999] survives, [2000,2999] skips
    assert rep["n_granules"] == 3
    assert rep["n_skippable_granules"] == 2
    assert rep["rows_scanned"] == 1000
    nn = orc_granule_pruning_report(
        spark, str(lake), column="v", not_null=True
    ).collect()[0]
    assert nn["n_skippable_granules"] == 1 and nn["rows_scanned"] == 2000

    # marginal I/O: a file whose single stripe misses entirely reads
    # tail bytes only — no stripe footer, no index stream
    skiplake = tmp_path / "skiplake" / "part=0"
    skiplake.mkdir(parents=True)
    p2 = str(skiplake / "skip.orc")
    po.write_table(
        pa.table({"v": pa.array(range(100), pa.int64())}),
        p2,
        row_index_stride=1000,
    )
    t2 = read_orc_tail_path(p2)
    import os as _os

    class _Count:
        def __init__(self, fh):
            self.fh, self.bytes_read = fh, 0

        def seek(self, *a):
            return self.fh.seek(*a)

        def read(self, n=-1):
            out = self.fh.read(n)
            self.bytes_read += len(out)
            return out

        def close(self):
            self.fh.close()

    # replicate the report's per-file logic with a counting handle
    fh = _Count(open(p2, "rb"))
    tail = read_orc_tail(fh, _os.path.getsize(p2))
    tail_only = fh.bytes_read
    # stripe stats prove the miss for lo=10_000 — the report never
    # calls read_stripe_row_index; prove index reads WOULD add bytes
    cid = column_id(tail["types"], "v")
    read_stripe_row_index(fh, tail, 0, cid)
    assert fh.bytes_read > tail_only  # index bytes are extra…
    fh.close()
    rep2 = orc_granule_pruning_report(
        spark, str(tmp_path / "skiplake"), column="v", lo=10_000, hi=20_000
    )
    row = {
        r["partition"]: r.asDict() for r in rep2.collect()
    }["part=0"]
    assert row["n_skippable_granules"] == row["n_granules"]


def test_granule_report_degrades_without_stride(spark, tmp_path):
    """stride bigger than the stripe -> one granule per stripe; the
    report still answers at that honest granularity."""
    from data_engineering_etl_self_service_spark.operators.orc_meta import (
        orc_granule_pruning_report,
    )

    lake = tmp_path / "lake"
    d = lake / "part=0"
    d.mkdir(parents=True)
    po.write_table(
        pa.table({"v": pa.array(range(500), pa.int64())}),
        str(d / "f.orc"),
        row_index_stride=10_000,
    )
    rep = orc_granule_pruning_report(
        spark, str(lake), column="v", lo=100, hi=200
    ).collect()[0]
    assert rep["n_granules"] == 1 and rep["n_skippable_granules"] == 0
    assert rep["rows_scanned"] == 500


def test_clustering_report_orc_lane(spark, tmp_path):
    """clustering_report(format="orc"): contiguous windows -> depth 1,
    0 overlap pairs; interleaved windows -> full depth; all-null file
    counts unstatted; parity of semantics with the parquet lane."""
    from data_engineering_etl_self_service_spark.operators.parquet_meta import (
        clustering_report,
    )

    lake = tmp_path / "lake"
    good = lake / "part=good"
    bad = lake / "part=bad"
    good.mkdir(parents=True)
    bad.mkdir(parents=True)
    for j in range(3):  # disjoint [0,99] [100,199] [200,299]
        po.write_table(
            pa.table(
                {"v": pa.array(range(j * 100, j * 100 + 100), pa.int64())}
            ),
            str(good / f"f{j}.orc"),
        )
    po.write_table(
        pa.table({"v": pa.array([None] * 5, pa.int64())}),
        str(good / "nulls.orc"),
    )
    for j in range(3):  # interleaved: every file spans 0..299
        po.write_table(
            pa.table(
                {"v": pa.array(list(range(j, 300, 3)), pa.int64())}
            ),
            str(bad / f"f{j}.orc"),
        )
    rep = {
        r["partition"]: r.asDict()
        for r in clustering_report(
            spark, str(lake), column="v", format="orc"
        ).collect()
    }
    g = rep["part=good"]
    assert g["n_files"] == 4 and g["n_unstatted"] == 1
    assert g["max_depth"] == 1 and g["n_overlap_pairs"] == 0
    assert g["clustered"]
    b = rep["part=bad"]
    assert b["max_depth"] == 3 and b["n_overlap_pairs"] == 3
    assert not b["clustered"]


def test_clustering_report_withholds_verdict_honestly(spark, tmp_path):
    """A typo'd/absent column or a mixed-typed-lane partition reports
    clustered=NULL, never a green verdict from an empty or
    lane-blind sweep (review r9)."""
    from data_engineering_etl_self_service_spark.operators.parquet_meta import (
        clustering_report,
    )

    lake = tmp_path / "lake"
    d = lake / "part=0"
    d.mkdir(parents=True)
    po.write_table(
        pa.table({"v": pa.array(range(100), pa.int64())}),
        str(d / "a.orc"),
    )
    # absent column: all files unstatted -> verdict withheld
    rep = clustering_report(
        spark, str(lake), column="nope", format="orc"
    ).collect()[0]
    assert rep["n_unstatted"] == rep["n_files"] == 1
    assert rep["clustered"] is None
    # mixed lanes: int file + double file, overlapping values —
    # the sweep can't compare across lanes, so no verdict
    po.write_table(
        pa.table({"v": pa.array([50.0, 60.0], pa.float64())}),
        str(d / "b.orc"),
    )
    rep2 = clustering_report(
        spark, str(lake), column="v", format="orc"
    ).collect()[0]
    assert rep2["n_lanes"] == 2 and rep2["clustered"] is None


# ----------------------------------------------- ADVICE r9 hardening


def test_granule_scan_clamps_nonconforming_entry_counts():
    """A writer emitting MORE row-index entries than ceil(rows/stride)
    must never produce negative rows_scanned (clamped zero-row
    granules), and one emitting FEWER must charge the uncovered tail
    to rows_scanned — the conservative no-skip answer (ADVICE r9)."""
    from data_engineering_etl_self_service_spark.operators.orc_meta import (
        _granule_scan,
    )

    def ent(lo, hi):
        return {
            "n_values": 1, "has_null": False, "min": lo, "max": hi,
            "sum": None, "stat_kind": "int",
        }

    # conforming: 25 rows, stride 10 -> granules of 10/10/5
    miss, hit = ent(1000, 2000), ent(0, 5)
    n, s, scanned = _granule_scan(
        [miss, hit, miss], 10, 25, 0, 9, False
    )
    assert (n, s, scanned) == (3, 2, 10)
    # too many entries: fabricated zero-row extras are NOT granules —
    # counting them (skippable or not) would inflate the skip ratio —
    # and rows_scanned never goes negative
    n, s, scanned = _granule_scan(
        [hit, hit, hit, hit, hit], 10, 25, 0, 9, False
    )
    assert (n, s) == (3, 0)
    assert scanned == 25  # 10 + 10 + 5 — not 10+10+5-5-15
    n, s, scanned = _granule_scan(
        [miss, miss, miss, miss, miss], 10, 25, 0, 9, False
    )
    assert (n, s, scanned) == (3, 3, 0)  # extras don't pad n_skip
    # too few entries: the 15 uncovered tail rows count as scanned
    n, s, scanned = _granule_scan([miss], 10, 25, 0, 9, False)
    assert (n, s) == (1, 1)
    assert scanned == 15  # skip covers only its own 10 rows


def _patch_footer(src: str, dst: str, extra: bytes) -> None:
    """Append raw protobuf bytes to an UNCOMPRESSED ORC file's Footer
    and rebuild the PostScript (test fixture for writer-emitted fields
    this container's writers don't produce)."""
    from data_engineering_etl_self_service_spark.operators import (
        orc_meta as om,
    )

    raw = open(src, "rb").read()
    ps_len = raw[-1]
    ps = om._pb_fields(raw[-1 - ps_len : -1])
    foot_len = ps[1][-1]
    foot_end = len(raw) - 1 - ps_len
    foot = raw[foot_end - foot_len : foot_end] + extra
    new_ps = bytearray()
    new_ps += om._pb_uint(1, len(foot))
    for f in (2, 3):
        for v in ps.get(f, []):
            new_ps += om._pb_uint(f, v)
    for v in ps.get(4, []):
        new_ps += (
            om._pb_blob(4, v) if isinstance(v, bytes) else om._pb_uint(4, v)
        )
    for f in (5, 6):
        for v in ps.get(f, []):
            new_ps += om._pb_uint(f, v)
    new_ps += om._pb_blob(8000, b"ORC")
    assert len(new_ps) <= 255
    with open(dst, "wb") as out:
        out.write(raw[: foot_end - foot_len])
        out.write(foot)
        out.write(bytes(new_ps))
        out.write(bytes([len(new_ps)]))


def test_concat_rejects_encryption_and_unknown_footer_fields(tmp_path):
    """An encrypted (or future-field-carrying) input must be REJECTED,
    not silently copied into an unreadable merged file (ADVICE r9:
    orc_concat re-emits only the fields it knows)."""
    from data_engineering_etl_self_service_spark.operators import (
        orc_meta as om,
    )

    a = str(tmp_path / "a.orc")
    b = str(tmp_path / "b.orc")
    po.write_table(_table(0, 100), a, compression="uncompressed")
    po.write_table(_table(100, 100), b, compression="uncompressed")
    enc = str(tmp_path / "enc.orc")
    _patch_footer(b, enc, om._pb_blob(10, b""))  # Footer.encryption
    with pytest.raises(ValueError, match="encryption"):
        om.orc_concat(str(tmp_path / "m1.orc"), [a, enc])
    fut = str(tmp_path / "fut.orc")
    _patch_footer(b, fut, om._pb_blob(13, b"\x08\x01"))  # unknown field
    with pytest.raises(ValueError, match="unknown footer field"):
        om.orc_concat(str(tmp_path / "m2.orc"), [a, fut])


def test_concat_carries_calendar_and_rejects_mixed(tmp_path, spark):
    """The calendar field (Footer 11) rides through the merge verbatim
    — dropping it would relabel Julian-hybrid dates as proleptic — and
    inputs DISAGREEING on it refuse to merge (ADVICE r9)."""
    from data_engineering_etl_self_service_spark.operators import (
        orc_meta as om,
    )

    raw_a = str(tmp_path / "raw_a.orc")
    raw_b = str(tmp_path / "raw_b.orc")
    po.write_table(_table(0, 100), raw_a, compression="uncompressed")
    po.write_table(_table(100, 100), raw_b, compression="uncompressed")
    a = str(tmp_path / "a.orc")
    b = str(tmp_path / "b.orc")
    _patch_footer(raw_a, a, om._pb_uint(11, 1))  # PROLEPTIC_GREGORIAN
    _patch_footer(raw_b, b, om._pb_uint(11, 1))
    merged = str(tmp_path / "m.orc")
    info = om.orc_concat(merged, [a, b])
    assert info["num_rows"] == 200
    t = om.read_orc_tail_path(merged)
    assert t["_raw_footer"].get(11) == [1]  # carried, not dropped
    # both this container's readers still accept the merged file
    assert po.ORCFile(merged).nrows == 200
    assert spark.read.orc([merged]).count() == 200
    c = str(tmp_path / "c.orc")
    _patch_footer(raw_b, c, om._pb_uint(11, 0))  # JULIAN_GREGORIAN
    with pytest.raises(ValueError, match="calendar mismatch"):
        om.orc_concat(str(tmp_path / "m2.orc"), [a, c])
