"""Pure-Python Avro OCF reader/writer (sources/avro_ocf.py) and the
read_avro/write_avro fallback wiring (sources/files.py)."""

from __future__ import annotations

import json
import struct

import pytest
from hypothesis import given, settings, strategies as st

from data_engineering_etl_self_service_spark.sources.avro_ocf import (
    _zigzag,
    avro_to_spark_type,
    parse_ocf_header,
    read_avro_ocf,
    read_ocf,
    write_avro_ocf_files,
    write_ocf,
)
from data_engineering_etl_self_service_spark.sources.files import (
    avro_available,
    read_avro,
    write_avro,
)

FULL_SCHEMA = {
    "type": "record",
    "name": "tok",
    "namespace": "x.y",
    "fields": [
        {"name": "idx", "type": "int"},
        {"name": "word", "type": "string"},
        {"name": "score", "type": "double"},
        {"name": "ratio", "type": "float"},
        {"name": "flag", "type": "boolean"},
        {"name": "blob", "type": "bytes"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
        {
            "name": "color",
            "type": {
                "type": "enum",
                "name": "Color",
                "symbols": ["RED", "GREEN", "BLUE"],
            },
        },
        {"name": "fx", "type": {"type": "fixed", "name": "F4", "size": 4}},
        {"name": "maybe", "type": ["null", "long"]},
    ],
}


def _full_records(n=23):
    return [
        {
            "idx": i,
            "word": f"w{i}",
            "score": i * 0.5,
            "ratio": float(i),
            "flag": i % 2 == 0,
            "blob": bytes([i % 256, (i + 1) % 256]),
            "tags": [f"t{j}" for j in range(i % 4)],
            "attrs": {f"k{j}": j * i for j in range(i % 3)},
            "color": ["RED", "GREEN", "BLUE"][i % 3],
            "fx": bytes([i % 256] * 4),
            "maybe": None if i % 3 == 0 else i * 100,
        }
        for i in range(n)
    ]


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy", "zstd"])
def test_ocf_roundtrip_all_types_all_codecs(codec):
    recs = _full_records()
    payload = write_ocf(recs, FULL_SCHEMA, codec=codec, block_records=7)
    schema, got_codec, out = read_ocf(payload)
    assert got_codec == codec
    assert schema == FULL_SCHEMA
    assert len(out) == len(recs)
    for a, b in zip(recs, out):
        for k in a:
            if k == "ratio":  # float32 round-trips through IEEE-754
                assert abs(a[k] - b[k]) < 1e-6
            else:
                assert a[k] == b[k], k


def test_ocf_writer_deterministic_and_header_parse():
    recs = _full_records(5)
    p1 = write_ocf(recs, FULL_SCHEMA, codec="deflate")
    p2 = write_ocf(recs, FULL_SCHEMA, codec="deflate")
    assert p1 == p2  # md5-derived sync marker → byte-reproducible
    hdr = parse_ocf_header(p1)
    assert hdr["schema"]["name"] == "tok"
    assert hdr["codec"] == "deflate"
    assert len(hdr["sync"]) == 16


def test_ocf_reads_negative_block_count_form():
    """Writers may emit array/map blocks as (-count, byte_size, items);
    the reader must accept both forms (Avro spec, 'Data Serialization')."""
    # record with one array field; hand-encode the negative-count form
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "xs", "type": {"type": "array", "items": "long"}}],
    }
    body = bytearray()
    items = bytearray()
    for v in (7, -3, 900):
        items += _zigzag(v)
    body += _zigzag(-3)  # negative count
    body += _zigzag(len(items))  # byte size follows
    body += items
    body += _zigzag(0)  # end of blocks
    # wrap in a null-codec OCF container by splicing into write_ocf output
    container = write_ocf([{"xs": []}], schema, codec="null")
    hdr = parse_ocf_header(container)
    out = bytearray(container[: hdr["body_pos"]])
    out += _zigzag(1)  # one record
    out += _zigzag(len(body))
    out += body
    out += hdr["sync"]
    _, _, records = read_ocf(bytes(out))
    assert records == [{"xs": [7, -3, 900]}]


def test_ocf_corrupt_inputs_fail_loudly():
    recs = _full_records(3)
    good = write_ocf(recs, FULL_SCHEMA)
    with pytest.raises(ValueError, match="magic"):
        read_ocf(b"PAR1" + good[4:])
    with pytest.raises(ValueError, match="sync|truncated"):
        read_ocf(good[:-3])  # clipped sync marker
    tampered = bytearray(good)
    tampered[-1] ^= 0xFF  # corrupt the trailing sync marker
    with pytest.raises(ValueError, match="sync"):
        read_ocf(bytes(tampered))


def test_avro_to_spark_type_mapping_and_unsupported_union():
    t = avro_to_spark_type(FULL_SCHEMA)
    assert t.simpleString() == (
        "struct<idx:int,word:string,score:double,ratio:float,"
        "flag:boolean,blob:binary,tags:array<string>,"
        "attrs:map<string,bigint>,color:string,fx:binary,maybe:bigint>"
    )
    assert [f.nullable for f in t.fields] == [False] * 10 + [True]
    # multi-branch unions map to member structs (round 8 — spark-avro's
    # SchemaConverters shape); promotion pairs collapse to one type
    tm = avro_to_spark_type(
        {
            "type": "record",
            "name": "u",
            "fields": [
                {"name": "u", "type": ["int", "string"]},
                {"name": "p", "type": ["int", "long"]},
                {"name": "f", "type": ["null", "float", "double"]},
            ],
        }
    )
    assert tm.simpleString() == (
        "struct<u:struct<member0:int,member1:string>,p:bigint,f:double>"
    )
    with pytest.raises(ValueError, match="nest"):
        avro_to_spark_type(
            {
                "type": "record",
                "name": "bad",
                "fields": [{"name": "u", "type": ["int", ["null", "string"]]}],
            }
        )


def test_read_avro_ocf_through_spark(spark, tmp_path):
    recs = _full_records(40)
    # two files → two-task parallelism; different block sizes
    (tmp_path / "a.avro").write_bytes(
        write_ocf(recs[:25], FULL_SCHEMA, codec="deflate", block_records=9)
    )
    (tmp_path / "b.avro").write_bytes(
        write_ocf(recs[25:], FULL_SCHEMA, codec="null")
    )
    df = read_avro_ocf(spark, str(tmp_path))
    rows = {r["idx"]: r for r in df.collect()}
    assert len(rows) == 40
    assert rows[7]["tags"] == ["t0", "t1", "t2"]
    assert rows[5]["attrs"] == {"k0": 0, "k1": 5}
    assert rows[6]["maybe"] is None and rows[7]["maybe"] == 700
    assert rows[8]["color"] == "BLUE"
    assert bytes(rows[9]["fx"]) == bytes([9] * 4)
    # explicit schema_json skips the driver header peek, same result
    df2 = read_avro_ocf(
        spark, str(tmp_path), schema_json=json.dumps(FULL_SCHEMA)
    )
    assert df2.count() == 40


def test_read_avro_ocf_schema_drift_fails(spark, tmp_path):
    s1 = {
        "type": "record",
        "name": "a",
        "fields": [{"name": "x", "type": "long"}],
    }
    s2 = {
        "type": "record",
        "name": "a",
        "fields": [{"name": "x", "type": "string"}],
    }
    (tmp_path / "a.avro").write_bytes(write_ocf([{"x": 1}], s1))
    (tmp_path / "b.avro").write_bytes(write_ocf([{"x": "s"}], s2))
    df = read_avro_ocf(spark, str(tmp_path), schema_json=json.dumps(s1))
    with pytest.raises(Exception, match="drift"):
        df.collect()


def test_write_avro_read_avro_fallback_end_to_end(spark, tmp_path):
    """The files.py surface: write_avro → read_avro with no jar in the
    container must silently take the pure OCF path and round-trip; where
    spark-avro IS deployed the same calls use the jar (both branches of
    the gate share this assertion)."""
    src = spark.createDataFrame(
        [(i, f"n{i}", float(i) / 4, [i, i * 2]) for i in range(100)],
        "id long, name string, score double, xs array<long>",
    ).repartition(4)
    path = str(tmp_path / "lake")
    write_avro(src, path)
    out = read_avro(spark, path)
    assert sorted(out.columns) == sorted(src.columns)
    got = {r["id"]: r for r in out.collect()}
    assert len(got) == 100
    assert got[7]["name"] == "n7" and got[7]["xs"] == [7, 14]
    if not avro_available(spark):
        # the fallback wrote real OCF files readable by the pure reader
        import glob

        files = glob.glob(path + "/part-*.avro")
        assert 1 <= len(files) <= 4
        hdr = parse_ocf_header(open(files[0], "rb").read())
        assert hdr["codec"] == "deflate"


def test_write_avro_ocf_files_nullable_columns(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, "a"), (2, None)], "id long, name string"
    )
    write_avro_ocf_files(src, str(tmp_path / "n"), codec="zstd")
    out = read_avro_ocf(spark, str(tmp_path / "n")).collect()
    by_id = {r["id"]: r["name"] for r in out}
    assert by_id == {1: "a", 2: None}


def test_snappy_crc_verified():
    """The snappy codec's 4-byte big-endian CRC32 suffix is validated —
    a flipped payload byte must not decode silently."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "x", "type": "string"}],
    }
    payload = bytearray(
        write_ocf([{"x": "hello snappy " * 20}], schema, codec="snappy")
    )
    hdr = parse_ocf_header(bytes(payload))
    # find the CRC (last 4 bytes before the trailing sync marker)
    crc_pos = len(payload) - 16 - 4
    payload[crc_pos : crc_pos + 4] = struct.pack(">I", 0)
    with pytest.raises(Exception):
        read_ocf(bytes(payload))


def test_logical_types_roundtrip_through_spark(spark, tmp_path):
    """timestamp-micros / date / decimal — the logical types
    Kafka-adjacent Avro lakes actually carry. write_avro_ocf_files maps
    Spark types to logical Avro schemas and the reader converts decoded
    base values back (timestamps as NTZ: deterministic regardless of
    the reading session's timezone — a documented divergence from
    spark-avro's session-TZ TimestampType)."""
    import datetime as dt
    from decimal import Decimal

    src = spark.createDataFrame(
        [
            (
                1,
                dt.datetime(2024, 3, 1, 12, 30, 45, 123456),
                dt.date(2024, 2, 29),
                Decimal("12345.67"),
            ),
            (2, None, None, Decimal("-0.03")),
        ],
        "id long, ts timestamp_ntz, d date, amt decimal(10,2)",
    )
    path = str(tmp_path / "logical")
    write_avro_ocf_files(src, path)
    # the written schema is logical, not just base longs
    import glob

    hdr = parse_ocf_header(
        open(glob.glob(path + "/part-*.avro")[0], "rb").read()
    )
    by_name = {
        f["name"]: f["type"] for f in hdr["schema"]["fields"]
    }
    assert by_name["ts"][1]["logicalType"] == "timestamp-micros"
    assert by_name["d"][1]["logicalType"] == "date"
    assert by_name["amt"][1] == {
        "type": "bytes",
        "logicalType": "decimal",
        "precision": 10,
        "scale": 2,
    }
    out = read_avro_ocf(spark, path)
    assert dict(out.dtypes)["ts"] == "timestamp_ntz"
    assert dict(out.dtypes)["d"] == "date"
    assert dict(out.dtypes)["amt"] == "decimal(10,2)"
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["ts"] == dt.datetime(2024, 3, 1, 12, 30, 45, 123456)
    assert rows[1]["d"] == dt.date(2024, 2, 29)
    assert rows[1]["amt"] == Decimal("12345.67")
    assert rows[2]["ts"] is None and rows[2]["d"] is None
    assert rows[2]["amt"] == Decimal("-0.03")


def test_logical_types_handwritten_ocf(spark, tmp_path):
    """An OCF authored with explicit logical schemas (as a Kafka
    Connect sink would write it) reads back with converted values —
    including timestamp-millis and a decimal inside an array."""
    schema = {
        "type": "record",
        "name": "evt",
        "fields": [
            {"name": "id", "type": "long"},
            {
                "name": "at",
                "type": {"type": "long", "logicalType": "timestamp-millis"},
            },
            {
                "name": "amts",
                "type": {
                    "type": "array",
                    "items": {
                        "type": "bytes",
                        "logicalType": "decimal",
                        "precision": 6,
                        "scale": 3,
                    },
                },
            },
        ],
    }
    recs = [
        {"id": 1, "at": 86_400_000 + 1500, "amts": [b"\x04\xd2", b"\xff\xff"]},
    ]
    (tmp_path / "x.avro").write_bytes(write_ocf(recs, schema))
    out = read_avro_ocf(spark, str(tmp_path)).collect()
    import datetime as dt
    from decimal import Decimal

    assert out[0]["at"] == dt.datetime(1970, 1, 2, 0, 0, 1, 500000)
    assert out[0]["amts"] == [Decimal("1.234"), Decimal("-0.001")]


def test_confluent_frame_roundtrip_and_errors():
    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        confluent_frame,
        decode_avro_body,
        encode_avro_body,
        parse_confluent,
    )

    schema = {
        "type": "record",
        "name": "k",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"]},
        ],
    }
    body = encode_avro_body({"a": 7, "b": "x"}, schema)
    framed = confluent_frame(body, 1234)
    assert framed[0] == 0 and len(framed) == 5 + len(body)
    sid, got = parse_confluent(framed)
    assert sid == 1234
    assert decode_avro_body(got, schema) == {"a": 7, "b": "x"}
    with pytest.raises(ValueError, match="magic"):
        parse_confluent(b"\x01\x00\x00\x00\x01xx")
    with pytest.raises(ValueError, match="trailing"):
        decode_avro_body(got + b"\x00", schema)


def test_decode_confluent_avro_dataframe(spark):
    """The DataFrame-level Kafka value decoder: framed binaries +
    passthrough columns in, typed record columns out."""
    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        confluent_frame,
        decode_confluent_avro,
        encode_avro_body,
    )

    schema = {
        "type": "record",
        "name": "evt",
        "fields": [
            {"name": "user", "type": "string"},
            {"name": "n", "type": "long"},
            {
                "name": "at",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            },
        ],
    }
    rows = [
        (
            i,
            confluent_frame(
                encode_avro_body(
                    {"user": f"u{i}", "n": i * 10, "at": i * 1_000_000},
                    schema,
                ),
                42,
            ),
        )
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "part int, value binary")
    out = decode_confluent_avro(df, "value", schema, keep=["part"])
    assert out.columns == ["schema_id", "part", "user", "n", "at"]
    got = {r["n"]: r for r in out.collect()}
    assert len(got) == 20
    import datetime as dt

    assert got[30]["user"] == "u3" and got[30]["part"] == 3
    assert got[30]["schema_id"] == 42
    assert got[30]["at"] == dt.datetime(1970, 1, 1, 0, 0, 3)


def test_register_named_through_union_array_map():
    """A named type DEFINED inside a union branch (or array/map) and
    REFERENCED later must resolve even when early values never exercise
    that branch (review r7: registration used to happen lazily during
    decode, making valid files fail data-dependently)."""
    schema = {
        "type": "record",
        "name": "R",
        "fields": [
            {
                "name": "a",
                "type": [
                    "null",
                    {
                        "type": "record",
                        "name": "X",
                        "fields": [{"name": "v", "type": "long"}],
                    },
                ],
            },
            {"name": "b", "type": "X"},
        ],
    }
    recs = [{"a": None, "b": {"v": 1}}, {"a": {"v": 2}, "b": {"v": 3}}]
    _, _, out = read_ocf(write_ocf(recs, schema))
    assert out == recs


def test_logical_timestamp_scd2_sentinel_and_far_future():
    """Integer epoch arithmetic: the 9999-12-31 SCD2 end-of-time
    sentinel and far-future values round-trip exactly (the float-
    division form crashed on the sentinel and corrupted microseconds
    past year ~3000 — review r7)."""
    import datetime as dt

    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        _logical_decoder,
        _logical_encoder,
    )

    schema = {"type": "long", "logicalType": "timestamp-micros"}
    dec = _logical_decoder(schema, {})
    enc = _logical_encoder(schema)
    for ts in (
        dt.datetime(9999, 12, 31, 23, 59, 59, 999999),
        dt.datetime(3000, 1, 1, 0, 0, 0, 123457),
        dt.datetime(1969, 12, 31, 23, 59, 59, 1),  # pre-epoch
    ):
        assert dec(enc(ts)) == ts


def test_write_avro_mode_contract_fallback(spark, tmp_path):
    """Jar-less write_avro honors all five modes (review r7: append
    used to clobber the deterministic part names)."""
    from data_engineering_etl_self_service_spark.sources.files import (
        avro_available,
    )

    if avro_available(spark):
        return  # the jar path delegates mode handling to spark-avro
    path = str(tmp_path / "lake")
    df1 = spark.range(10).selectExpr("id", "id * 2 AS y").coalesce(1)
    df2 = spark.range(100, 105).selectExpr("id", "id * 2 AS y").coalesce(1)
    write_avro(df1, path)
    write_avro(df2, path, mode="append")
    assert read_avro(spark, path).count() == 15
    write_avro(df2, path, mode="ignore")  # no-op on existing
    assert read_avro(spark, path).count() == 15
    with pytest.raises(FileExistsError):
        write_avro(df2, path, mode="error")
    write_avro(df2, path, mode="overwrite")
    assert read_avro(spark, path).count() == 5
    with pytest.raises(ValueError, match="unknown mode"):
        write_avro(df2, path, mode="banana")


def test_read_avro_fallback_honors_declared_schema(spark, tmp_path):
    """read_avro(schema=...) on the jar-less path casts/reorders to the
    caller's declared schema instead of silently ignoring it."""
    path = str(tmp_path / "lake")
    write_avro(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"),
        path,
    )
    out = read_avro(spark, path, schema="name string, id int")
    assert out.columns == ["name", "id"]
    assert dict(out.dtypes)["id"] == "int"
    assert {(r["name"], r["id"]) for r in out.collect()} == {
        ("a", 1),
        ("b", 2),
    }


# --------------------------------------------------------- property-based


def test_property_roundtrip_random_records():
    """Hypothesis-style randomized round-trip (seeded, deterministic):
    records drawn over the full supported type surface must survive
    write_ocf → read_ocf bit-exactly under every codec."""
    import random

    rng = random.Random(2024)
    schema = {
        "type": "record",
        "name": "p",
        "fields": [
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "b", "type": "bytes"},
            {"name": "xs", "type": {"type": "array", "items": "long"}},
            {"name": "kv", "type": {"type": "map", "values": "string"}},
            {"name": "m", "type": ["null", "double"]},
        ],
    }

    def rand_str():
        return "".join(
            chr(rng.choice([0x20, 0x41, 0x7A, 0xE9, 0x4E2D, 0x1F600]))
            for _ in range(rng.randrange(0, 12))
        )

    for trial in range(30):
        recs = [
            {
                "i": rng.randrange(-(2**31), 2**31),
                "l": rng.randrange(-(2**63), 2**63),
                "d": rng.choice(
                    [0.0, -0.0, 1e308, -1e-308, 3.14159, float("inf")]
                ),
                "s": rand_str(),
                "b": bytes(rng.randrange(256) for _ in range(rng.randrange(8))),
                "xs": [rng.randrange(-1000, 1000) for _ in range(rng.randrange(5))],
                "kv": {rand_str() or "k": rand_str() for _ in range(rng.randrange(3))},
                "m": None if rng.random() < 0.3 else rng.random(),
            }
            for _ in range(rng.randrange(1, 20))
        ]
        codec = ["null", "deflate", "snappy", "zstd"][trial % 4]
        _, _, out = read_ocf(
            write_ocf(recs, schema, codec=codec, block_records=5)
        )
        assert out == recs, (trial, codec)


def test_single_object_encoding_and_fingerprint():
    """Avro single-object framing (0xC3 0x01 + CRC-64-AVRO of the
    Parsing Canonical Form): round-trip, schema selection by
    fingerprint among candidates, and loud failure on unknown
    fingerprints. Canonical-form rules pinned directly: docs/aliases/
    logicalType stripped, names become fullnames, attribute order
    normalized — so an annotated and a bare copy of the same schema
    fingerprint IDENTICALLY."""
    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        canonical_form,
        parse_single_object,
        schema_fingerprint,
        single_object_frame,
    )

    annotated = {
        "type": "record",
        "name": "Evt",
        "namespace": "com.example",
        "doc": "an event",
        "fields": [
            {"name": "id", "type": {"type": "long"}, "doc": "pk"},
            {
                "name": "at",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
                "aliases": ["ts"],
            },
        ],
    }
    bare = {
        "type": "record",
        "name": "com.example.Evt",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "at", "type": "long"},
        ],
    }
    assert canonical_form(annotated) == canonical_form(bare) == (
        '{"name":"com.example.Evt","type":"record","fields":'
        '[{"name":"id","type":"long"},{"name":"at","type":"long"}]}'
    )
    assert schema_fingerprint(annotated) == schema_fingerprint(bare)

    other = {
        "type": "record",
        "name": "Other",
        "fields": [{"name": "x", "type": "string"}],
    }
    frame = single_object_frame({"id": 9, "at": 1_000_000}, annotated)
    assert frame[:2] == b"\xc3\x01" and len(frame) > 10
    # reader holds several candidate schemas; the fingerprint picks
    picked, value = parse_single_object(frame, [other, bare])
    assert picked == bare
    assert value == {"id": 9, "at": 1_000_000}
    with pytest.raises(ValueError, match="fingerprint"):
        parse_single_object(frame, [other])
    with pytest.raises(ValueError, match="marker"):
        parse_single_object(b"\x00\x01" + frame[2:], [bare])


def test_canonical_form_primitive_and_nested():
    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        canonical_form,
        crc64_avro,
    )

    assert canonical_form("int") == '"int"'
    assert canonical_form({"type": "string"}) == '"string"'
    nested = {
        "type": "record",
        "name": "R",
        "namespace": "n",
        "fields": [
            {
                "name": "e",
                "type": {"type": "enum", "name": "E", "symbols": ["A", "B"]},
            },
            {"name": "f", "type": {"type": "fixed", "name": "F", "size": 4}},
            {"name": "xs", "type": {"type": "array", "items": "E"}},
        ],
    }
    cf = canonical_form(nested)
    assert '"name":"n.R"' in cf and '"name":"n.E"' in cf
    assert '"items":"n.E"' in cf  # references become fullnames too
    # CRC-64-AVRO is deterministic and distinct per canonical form
    assert crc64_avro(cf.encode()) != crc64_avro(b'"int"')


def test_schema_resolution_adapter_rules():
    """Spec schema-resolution rules at the value level: promotions,
    defaults, dropped fields, enum symbol fallback, incompatibility
    fails at BUILD time."""
    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        resolution_adapter,
    )

    v1 = {
        "type": "record",
        "name": "E",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "tag", "type": "string"},
            {"name": "old", "type": "long"},
        ],
    }
    v2 = {
        "type": "record",
        "name": "E",
        "fields": [
            {"name": "id", "type": "long"},  # int -> long promotion
            {"name": "score", "type": "double", "default": 1.5},  # new
            {"name": "tag", "type": "bytes"},  # string -> bytes
            # new nullable field: the spec STILL requires a default
            {"name": "note", "type": ["null", "string"], "default": None},
            # bytes default arrives as an ISO-8859-1 JSON string
            {"name": "blob", "type": "bytes", "default": "\u00ff"},
        ],
    }
    adapt = resolution_adapter(v1, v2)
    assert adapt({"id": 7, "tag": "x", "old": 9}) == {
        "id": 7,
        "score": 1.5,
        "tag": b"x",
        "note": None,
        "blob": b"\xff",
    }
    # a reader-only field WITHOUT a default is a loud error even when
    # nullable (silently NULLing a renamed column is drift)
    with pytest.raises(ValueError, match="no.*default"):
        resolution_adapter(
            v1,
            {
                "type": "record",
                "name": "E",
                "fields": [{"name": "renamed", "type": ["null", "string"]}],
            },
        )
    # new required field without default -> loud build-time error
    bad = {
        "type": "record",
        "name": "E",
        "fields": [{"name": "mandatory", "type": "long"}],
    }
    with pytest.raises(ValueError, match="no.*default"):
        resolution_adapter(v1, bad)
    # illegal demotion long -> int
    with pytest.raises(ValueError, match="cannot read"):
        resolution_adapter(
            {"type": "record", "name": "E",
             "fields": [{"name": "id", "type": "long"}]},
            {"type": "record", "name": "E",
             "fields": [{"name": "id", "type": "int"}]},
        )
    # enum symbol fallback via reader default; WITHOUT a default the
    # error comes when a VALUE carries the unknown symbol (files that
    # never use it stay readable, per spec)
    we = {"type": "enum", "name": "C", "symbols": ["A", "B", "NEW"]}
    re_ = {"type": "enum", "name": "C", "symbols": ["A", "B"], "default": "A"}
    ad = resolution_adapter(we, re_)
    assert ad("NEW") == "A" and ad("B") == "B"
    no_default = {"type": "enum", "name": "C", "symbols": ["A", "B"]}
    ad2 = resolution_adapter(we, no_default)
    assert ad2("B") == "B"  # builds fine, old symbols decode
    with pytest.raises(ValueError, match="enum symbol"):
        ad2("NEW")


def test_read_avro_ocf_evolved_directory(spark, tmp_path):
    """A directory holding v1 AND v2 files reads as ONE DataFrame under
    the v2 reader schema — v1 rows get promoted ids and the default
    score; without reader_schema the same directory fails loudly."""
    v1 = {
        "type": "record",
        "name": "E",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "name", "type": "string"},
        ],
    }
    v2 = {
        "type": "record",
        "name": "E",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "score", "type": "double", "default": -1.0},
        ],
    }
    (tmp_path / "a.avro").write_bytes(
        write_ocf([{"id": 1, "name": "one"}], v1)
    )
    (tmp_path / "b.avro").write_bytes(
        write_ocf([{"id": 2, "name": "two", "score": 0.5}], v2)
    )
    out = read_avro_ocf(spark, str(tmp_path), reader_schema=v2)
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["score"] == -1.0 and rows[1]["name"] == "one"
    assert rows[2]["score"] == 0.5
    assert dict(out.dtypes)["id"] == "bigint"
    with pytest.raises(Exception, match="drift"):
        read_avro_ocf(spark, str(tmp_path), schema_json=json.dumps(v2)).collect()


def test_canonical_form_dotted_fullname_sets_child_namespace():
    """A dotted fullname names the node AND becomes the enclosing
    namespace for nested named types (review r7b: children used to
    canonicalize without their namespace, diverging from every
    reference Avro fingerprint)."""
    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        canonical_form,
    )

    dotted = {
        "type": "record",
        "name": "a.b.Outer",
        "fields": [
            {
                "name": "c",
                "type": {
                    "type": "record",
                    "name": "Child",
                    "fields": [{"name": "x", "type": "long"}],
                },
            }
        ],
    }
    explicit = {
        "type": "record",
        "name": "Outer",
        "namespace": "a.b",
        "fields": [
            {
                "name": "c",
                "type": {
                    "type": "record",
                    "name": "Child",
                    "fields": [{"name": "x", "type": "long"}],
                },
            }
        ],
    }
    assert canonical_form(dotted) == canonical_form(explicit)
    assert '"name":"a.b.Child"' in canonical_form(dotted)


def test_encode_avro_body_applies_logical_types():
    """The documented Kafka-producer pairing: spark_schema_to_avro +
    encode_avro_body round-trips logical-typed values (review r7b:
    encode used to crash on the very types the helper advertises)."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import types as T

    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        decode_avro_body,
        encode_avro_body,
        spark_schema_to_avro,
    )

    st = T.StructType(
        [
            T.StructField("ts", T.TimestampNTZType(), False),
            T.StructField("d", T.DateType(), False),
            T.StructField("amt", T.DecimalType(8, 3), False),
            T.StructField("xs", T.ArrayType(T.LongType(), True), False),
        ]
    )
    schema = spark_schema_to_avro(st)
    # nullable array ELEMENTS become [null, long] unions
    assert schema["fields"][3]["type"]["items"] == ["null", "long"]
    row = {
        "ts": dt.datetime(2024, 5, 6, 7, 8, 9, 101112),
        "d": dt.date(2024, 5, 6),
        "amt": Decimal("123.456"),
        "xs": [1, None, 3],
    }
    body = encode_avro_body(row, schema)
    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        _logical_decoder,
    )

    dec = _logical_decoder(schema, {})
    out = dec(decode_avro_body(body, schema))
    assert out == row


@settings(max_examples=120, deadline=None)
@given(st.binary(max_size=300))
def test_wire_parsers_never_panic(raw):
    """Untrusted-bytes contract for every Avro entry point: arbitrary
    input either parses or raises ValueError — never IndexError /
    struct.error / KeyError / hangs (hypothesis)."""
    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        parse_confluent,
        parse_single_object,
    )

    simple = {
        "type": "record",
        "name": "s",
        "fields": [{"name": "x", "type": "long"}],
    }
    # raw random bytes AND mutations of a VALID payload (so the fuzz
    # actually reaches past the magic/marker checks into varints,
    # metadata maps, and block walks)
    valid = write_ocf([{"x": 1}, {"x": -5}], simple)
    inputs = [raw, valid[: len(raw) % (len(valid) + 1)], valid + raw]
    if raw:
        spliced = bytearray(valid)
        spliced[len(raw) % len(valid)] ^= raw[0] or 1
        inputs.append(bytes(spliced))
    for data in inputs:
        for fn in (
            lambda d=data: read_ocf(d),
            lambda d=data: parse_ocf_header(d),
            lambda d=data: parse_confluent(d),
            lambda d=data: parse_single_object(d, simple),
        ):
            try:
                fn()
            except ValueError:
                pass


# =========================================================================
# Round-8 hardening (ADVICE r7): count bounds, bomb guards, cycles,
# nested-name uniqueness, tz-aware encode
# =========================================================================


def test_untrusted_counts_are_bounded_by_input():
    """A ~40-byte crafted payload must not be able to declare 2^40
    items: counts over zero-byte-encoded types hit an absolute cap,
    counts over >=1-byte types are bounded by remaining input. Each
    rejection must be FAST (no loop to the declared count)."""
    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        decode_avro_body,
    )

    huge = _zigzag(1 << 40)
    # array of nulls: zero bytes per item -> absolute cap
    with pytest.raises(ValueError, match="count"):
        decode_avro_body(huge, {"type": "array", "items": "null"})
    # array of longs: 1 byte per item minimum -> input-size bound
    with pytest.raises(ValueError, match="count"):
        decode_avro_body(huge + b"\x02", {"type": "array", "items": "long"})
    # map: every entry carries a key-length varint
    with pytest.raises(ValueError, match="count"):
        decode_avro_body(huge + b"\x02", {"type": "map", "values": "null"})
    # block record count over an empty (zero-byte) record
    empty_rec = {"type": "record", "name": "E", "fields": []}
    payload = bytearray(write_ocf([{}] * 3, empty_rec))
    # a legit empty-record file still reads (3 records, 0 bytes each)
    assert read_ocf(bytes(payload))[2] == [{}, {}, {}]
    hdr = parse_ocf_header(bytes(payload))
    crafted = (
        bytes(payload[: hdr["body_pos"]])
        + _zigzag(1 << 40)  # block record count
        + _zigzag(0)  # block byte size
        + hdr["sync"]
    )
    with pytest.raises(ValueError, match="count"):
        read_ocf(crafted)
    # legit small arrays of nulls still decode
    body = _zigzag(3) + _zigzag(0)
    assert decode_avro_body(
        body, {"type": "array", "items": "null"}
    ) == [None, None, None]


def test_decompression_bomb_guard(monkeypatch):
    """Deflate/zstd blocks stop inflating at the per-block byte cap and
    raise instead of allocating unbounded output; corrupt and truncated
    deflate normalize to ValueError (not zlib.error)."""
    import zlib

    from data_engineering_etl_self_service_spark.sources import avro_ocf

    monkeypatch.setattr(avro_ocf, "_MAX_BLOCK_BYTES", 1 << 16)
    c = zlib.compressobj(wbits=-15)
    bomb = c.compress(b"\x00" * (1 << 20)) + c.flush()
    with pytest.raises(ValueError, match="bound"):
        avro_ocf._decompress_block(bomb, "deflate")
    with pytest.raises(ValueError, match="bound"):
        import pyarrow as pa

        avro_ocf._decompress_block(
            pa.Codec("zstd").compress(b"\x00" * (1 << 20), asbytes=True),
            "zstd",
        )
    with pytest.raises(ValueError):
        avro_ocf._decompress_block(b"\x99\x99garbage", "deflate")
    ok = zlib.compressobj(wbits=-15)
    good = ok.compress(b"payload") + ok.flush()
    with pytest.raises(ValueError, match="truncated"):
        avro_ocf._decompress_block(good[:-2], "deflate")
    assert avro_ocf._decompress_block(good, "deflate") == b"payload"


def test_recursive_schema_raises_value_error():
    """Self-referential schemas reject with the documented ValueError
    at every entry point — never RecursionError (ADVICE r7)."""
    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        decode_avro_body,
        encode_avro_body,
    )

    direct = {
        "type": "record",
        "name": "R",
        "fields": [{"name": "x", "type": "R"}],
    }
    union_sheltered = {
        "type": "record",
        "name": "N",
        "fields": [{"name": "next", "type": ["null", "N"]}],
    }
    for schema in (direct, union_sheltered):
        with pytest.raises(ValueError, match="recursive"):
            decode_avro_body(b"\x00", schema)
        with pytest.raises(ValueError, match="recursive"):
            encode_avro_body({"x": None, "next": None}, schema)
        with pytest.raises(ValueError, match="recursive"):
            write_ocf([], schema)
    # named-type REUSE (diamond, not cycle) stays legal
    diamond = {
        "type": "record",
        "name": "D",
        "fields": [
            {
                "name": "a",
                "type": {
                    "type": "record",
                    "name": "Leaf",
                    "fields": [{"name": "v", "type": "long"}],
                },
            },
            {"name": "b", "type": "Leaf"},
        ],
    }
    rec = {"a": {"v": 1}, "b": {"v": 2}}
    assert read_ocf(write_ocf([rec], diamond))[2] == [rec]


def test_nested_record_names_are_path_unique():
    """Same-named struct fields at different nesting paths must emit
    DISTINCT Avro record names (duplicate names are invalid per the
    spec and rejected by strict readers — ADVICE r7)."""
    from pyspark.sql import types as T

    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        spark_schema_to_avro,
    )

    meta = T.StructType([T.StructField("v", T.LongType(), False)])
    st_ = T.StructType(
        [
            T.StructField(
                "a",
                T.StructType([T.StructField("meta", meta, False)]),
                False,
            ),
            T.StructField(
                "b",
                T.StructType([T.StructField("meta", meta, False)]),
                False,
            ),
        ]
    )
    schema = spark_schema_to_avro(st_)

    names: list[str] = []

    def walk(node):
        if isinstance(node, dict):
            if node.get("type") == "record":
                names.append(node["name"])
                for f in node["fields"]:
                    walk(f["type"])
            elif node.get("type") == "array":
                walk(node["items"])
            elif node.get("type") == "map":
                walk(node["values"])
        elif isinstance(node, list):
            for b in node:
                walk(b)

    walk(schema)
    assert len(names) == len(set(names)), names
    # and the schema round-trips through our own writer/reader
    rec = {"a": {"meta": {"v": 1}}, "b": {"meta": {"v": 2}}}
    assert read_ocf(write_ocf([rec], schema))[2] == [rec]


def test_tz_aware_datetime_encodes_as_utc():
    """Aware datetimes CONVERT to UTC before epoch encoding; dropping
    the tzinfo would silently shift the value by the offset (ADVICE
    r7). Naive datetimes keep the existing treated-as-UTC contract."""
    import datetime as dt

    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        _logical_decoder,
        decode_avro_body,
        encode_avro_body,
    )

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            }
        ],
    }
    aware = dt.datetime(
        2024, 5, 6, 7, 8, 9, 101112,
        tzinfo=dt.timezone(dt.timedelta(hours=2)),
    )
    naive_utc = dt.datetime(2024, 5, 6, 5, 8, 9, 101112)
    dec = _logical_decoder(schema, {})
    out_aware = dec(decode_avro_body(encode_avro_body({"ts": aware}, schema), schema))
    out_naive = dec(decode_avro_body(encode_avro_body({"ts": naive_utc}, schema), schema))
    assert out_aware == {"ts": naive_utc}
    assert out_naive == {"ts": naive_utc}


def test_sync_marker_splitting_single_file(spark, tmp_path):
    """One file larger than split_bytes fans out to MULTIPLE tasks and
    the range reads are bit-identical to the whole-file read — blocks
    straddling range edges are decoded by exactly one task (VERDICT r7
    #2: the fallback used to serialize to one task per file)."""
    recs = _full_records(200)
    payload = write_ocf(recs, FULL_SCHEMA, block_records=7)
    f = tmp_path / "one.avro"
    f.write_bytes(payload)
    # split far below the block size so EVERY range edge lands inside
    # a block (the straddle case), under both codecs
    split = 256
    assert len(payload) > 10 * split
    df_split = read_avro_ocf(spark, str(tmp_path), split_bytes=split)
    assert df_split.rdd.getNumPartitions() > 1  # >1 task for ONE file
    df_whole = read_avro_ocf(spark, str(tmp_path), split_bytes=0)
    assert df_whole.rdd.getNumPartitions() == 1
    split_rows = sorted(
        [tuple(r) for r in df_split.collect()], key=lambda t: t[0]
    )
    whole_rows = sorted(
        [tuple(r) for r in df_whole.collect()], key=lambda t: t[0]
    )
    assert split_rows == whole_rows and len(split_rows) == 200

    # compressed blocks split identically (sync markers frame the
    # COMPRESSED stream, so range maths are codec-independent)
    fz = tmp_path / "z"
    fz.mkdir()
    (fz / "one.avro").write_bytes(
        write_ocf(recs, FULL_SCHEMA, codec="deflate", block_records=7)
    )
    dfz = read_avro_ocf(spark, str(fz), split_bytes=split)
    assert dfz.rdd.getNumPartitions() > 1
    assert sorted(
        [tuple(r) for r in dfz.collect()], key=lambda t: t[0]
    ) == whole_rows


def test_sync_split_range_ownership_exact(tmp_path):
    """Unit-level pin of the split protocol: consecutive ranges
    partition the block stream exactly — every record decoded once, no
    duplicates, for EVERY split size including edges that land on
    marker boundaries."""
    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        _read_ocf_range,
        parse_ocf_header,
    )

    simple = {
        "type": "record",
        "name": "s",
        "fields": [{"name": "x", "type": "long"}],
    }
    recs = [{"x": i} for i in range(500)]
    payload = write_ocf(recs, simple, block_records=13)
    f = tmp_path / "s.avro"
    f.write_bytes(payload)
    hdr = parse_ocf_header(payload)
    fsize = len(payload)
    for split in (1, 7, 64, 100, 1024, fsize, fsize + 10):
        got = []
        start = 0
        while start < fsize:
            end = min(start + split, fsize)
            with open(f, "rb") as fh:
                got.extend(
                    _read_ocf_range(fh, hdr, start, end, fsize)
                )
            start = end
        assert got == recs, f"split={split}"


def test_sync_split_with_reader_schema_resolution(spark, tmp_path):
    """Range decode composes with schema resolution: a huge evolved
    file still adapts to the reader schema per range."""
    s1 = {
        "type": "record",
        "name": "a",
        "fields": [{"name": "x", "type": "long"}],
    }
    s2 = {
        "type": "record",
        "name": "a",
        "fields": [
            {"name": "x", "type": "long"},
            {"name": "tag", "type": "string", "default": "old"},
        ],
    }
    (tmp_path / "old.avro").write_bytes(
        write_ocf([{"x": i} for i in range(300)], s1, block_records=11)
    )
    df = read_avro_ocf(
        spark, str(tmp_path), reader_schema=json.dumps(s2), split_bytes=128
    )
    assert df.rdd.getNumPartitions() > 1
    rows = df.collect()
    assert len(rows) == 300
    assert all(r["tag"] == "old" for r in rows)
    assert sorted(r["x"] for r in rows) == list(range(300))


def test_multi_branch_union_member_struct_roundtrip(spark, tmp_path):
    """Mixed-union topics read as member structs — the documented
    spark-avro shape (VERDICT r7 #7): exactly the taken branch's
    memberJ is set, null branch → NULL struct, promotion pairs
    collapse to one column, and the writer accepts member structs
    back (wire round-trip is bit-exact)."""
    import json as _json

    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        decode_avro_body,
        encode_avro_body,
    )

    schema = {
        "type": "record",
        "name": "mix",
        "fields": [
            {"name": "id", "type": "long"},
            {
                "name": "u",
                "type": [
                    "null",
                    "string",
                    {
                        "type": "record",
                        "name": "pt",
                        "fields": [{"name": "x", "type": "long"}],
                    },
                ],
            },
            {"name": "p", "type": ["int", "long"]},
        ],
    }
    recs = [
        {"id": 0, "u": None, "p": 7},
        {"id": 1, "u": {"member0": "hello", "member1": None}, "p": 9},
        {
            "id": 2,
            "u": {"member0": None, "member1": {"x": 42}},
            "p": 1 << 40,
        },
    ]
    payload = write_ocf(recs, schema)
    _, _, out = read_ocf(payload)
    assert out == recs
    # bare-body wire round-trip per record
    for rec in recs:
        body = encode_avro_body(rec, schema)
        assert decode_avro_body(body, schema) == rec
    # exactly-one-member contract enforced loudly on encode
    with pytest.raises(ValueError, match="member"):
        encode_avro_body(
            {"id": 3, "u": {"member0": "a", "member1": {"x": 1}}, "p": 0},
            schema,
        )
    # and the DataFrame surface exposes the struct columns
    f = tmp_path / "m.avro"
    f.write_bytes(payload)
    df = read_avro_ocf(spark, str(tmp_path), schema_json=_json.dumps(schema))
    rows = {r["id"]: r for r in df.collect()}
    assert rows[0]["u"] is None and rows[0]["p"] == 7
    assert rows[1]["u"]["member0"] == "hello"
    assert rows[1]["u"]["member1"] is None
    assert rows[2]["u"]["member1"]["x"] == 42
    assert rows[2]["p"] == 1 << 40


def test_multi_branch_union_with_logical_members():
    """Logical types inside multi-branch unions convert per member
    slot both directions."""
    import datetime as dt

    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        _logical_decoder,
        decode_avro_body,
        encode_avro_body,
    )

    schema = {
        "type": "record",
        "name": "lt",
        "fields": [
            {
                "name": "when",
                "type": [
                    "string",
                    {"type": "long", "logicalType": "timestamp-micros"},
                ],
            }
        ],
    }
    ts = dt.datetime(2024, 5, 6, 7, 8, 9, 101112)
    rec = {"when": {"member0": None, "member1": ts}}
    body = encode_avro_body(rec, schema)
    dec = _logical_decoder(schema, {})
    assert dec(decode_avro_body(body, schema)) == rec
    rec2 = {"when": {"member0": "someday", "member1": None}}
    assert dec(
        decode_avro_body(encode_avro_body(rec2, schema), schema)
    ) == rec2


def test_promotion_union_encodes_on_wider_branch():
    """[int,long] / [float,double] unions encode on the WIDER branch
    (review r8, repro'd): the float branch silently destroyed double
    precision and the int branch emitted out-of-range varints."""
    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        decode_avro_body,
        encode_avro_body,
    )

    fs = {
        "type": "record",
        "name": "p",
        "fields": [
            {"name": "f", "type": ["float", "double"]},
            {"name": "i", "type": ["int", "long"]},
            {"name": "nf", "type": ["null", "float", "double"]},
        ],
    }
    rec = {"f": 1.1, "i": 1 << 40, "nf": 2.30000000000009}
    out = decode_avro_body(encode_avro_body(rec, fs), fs)
    assert out == rec  # exact doubles, exact big int — no narrowing
    # branch indices on the wire: double=1, long=1, double-in-null=2
    body = encode_avro_body(rec, fs)
    assert body[0] == 2  # zigzag(1) — the double branch of [f,d]
    # negative member keys must raise, not silently index backwards
    us = {
        "type": "record",
        "name": "u",
        "fields": [{"name": "u", "type": ["int", "string"]}],
    }
    with pytest.raises(ValueError, match="member"):
        encode_avro_body({"u": {"member-1": "x"}}, us)


def test_sync_split_malformed_bytes_raise_value_error(tmp_path):
    """The range reader honors the untrusted-bytes contract: a file
    truncated mid-block raises ValueError, never IndexError (review
    r8)."""
    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        _read_ocf_range,
    )

    simple = {
        "type": "record",
        "name": "s",
        "fields": [{"name": "x", "type": "long"}],
    }
    payload = write_ocf([{"x": i} for i in range(100)], simple,
                        block_records=7)
    hdr = parse_ocf_header(payload)
    # cut right after the header sync: block header bytes are missing
    for cut in (hdr["body_pos"] + 1, len(payload) - 3):
        f = tmp_path / f"t{cut}.avro"
        f.write_bytes(payload[:cut])
        with open(f, "rb") as fh:
            with pytest.raises(ValueError, match="avro"):
                _read_ocf_range(fh, hdr, 0, cut, cut)


def test_concat_ocf_zero_decode_merge(spark, tmp_path):
    """Zero-decode OCF concat (round 9, the row-format twin of
    orc_concat): block-copied merges decode identically through BOTH
    the pure reader and the Spark scan path, across codecs; payload
    bytes transfer verbatim (only sync markers rewrite)."""
    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        concat_ocf_files,
        read_ocf,
    )

    schema = {
        "type": "record",
        "name": "ev",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "s", "type": "string"},
        ],
    }
    for codec in ("null", "deflate", "snappy", "zstd"):
        d = tmp_path / codec
        d.mkdir()
        ins, expected, off = [], [], 0
        for j, n in enumerate([30, 50, 20]):
            recs = [
                {"id": i, "s": f"v{i:04d}"} for i in range(off, off + n)
            ]
            p = str(d / f"in{j}.avro")
            with open(p, "wb") as fh:
                fh.write(
                    write_ocf(recs, schema, codec=codec, block_records=16)
                )
            ins.append(p)
            expected += recs
            off += n
        mdir = d / "merged"
        mdir.mkdir()
        m = str(mdir / "m.avro")
        info = concat_ocf_files(m, ins)
        assert info["num_rows"] == 100
        # pure reader: records identical, codec preserved
        with open(m, "rb") as fh:
            _, cod, recs = read_ocf(fh.read())
        assert cod == codec and recs == expected
        # Spark scan path over the merged file
        rows = {
            r["id"]: r["s"]
            for r in read_avro_ocf(spark, str(mdir)).collect()
        }
        assert len(rows) == 100 and rows[42] == "v0042"


def test_concat_ocf_rejects_mismatches(tmp_path):
    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        concat_ocf_files,
    )

    s1 = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "id", "type": "long"}],
    }
    s2 = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "id", "type": "int"}],
    }
    a = str(tmp_path / "a.avro")
    b = str(tmp_path / "b.avro")
    c = str(tmp_path / "c.avro")
    with open(a, "wb") as fh:
        fh.write(write_ocf([{"id": 1}], s1, codec="null"))
    with open(b, "wb") as fh:
        fh.write(write_ocf([{"id": 2}], s2, codec="null"))
    with open(c, "wb") as fh:
        fh.write(write_ocf([{"id": 3}], s1, codec="deflate"))
    with pytest.raises(ValueError, match="schema mismatch"):
        concat_ocf_files(str(tmp_path / "m1.avro"), [a, b])
    with pytest.raises(ValueError, match="codec mismatch"):
        concat_ocf_files(str(tmp_path / "m2.avro"), [a, c])
    with pytest.raises(ValueError, match="no inputs"):
        concat_ocf_files(str(tmp_path / "m3.avro"), [])
    # a truncated input fails loudly mid-copy, naming the file
    blob = write_ocf([{"id": i} for i in range(50)], s1, codec="null")
    t = str(tmp_path / "trunc.avro")
    with open(t, "wb") as fh:
        fh.write(blob[:-9])
    with pytest.raises(ValueError, match="trunc.avro"):
        concat_ocf_files(str(tmp_path / "m4.avro"), [a, t])


def test_concat_ocf_varint_bound_and_big_header(tmp_path):
    """An 11-byte varint block count is rejected (not silently masked
    to 64 bits), and a header larger than the initial 1 MiB prefix
    read parses via grow-and-retry."""
    import io

    from data_engineering_etl_self_service_spark.sources.avro_ocf import (
        _read_varlong_fh,
        concat_ocf_files,
        read_ocf,
    )

    with pytest.raises(ValueError, match="10 bytes"):
        _read_varlong_fh(io.BytesIO(b"\xff" * 10 + b"\x01"))
    # and a max-width valid varint still decodes
    assert _read_varlong_fh(io.BytesIO(b"\xfe" + b"\xff" * 8 + b"\x01")) is not None

    # schema with a ~2 MiB doc string pushes the header past the
    # initial prefix read
    schema = {
        "type": "record",
        "name": "wide",
        "doc": "x" * (2 << 20),
        "fields": [{"name": "id", "type": "long"}],
    }
    a = str(tmp_path / "a.avro")
    b = str(tmp_path / "b.avro")
    with open(a, "wb") as fh:
        fh.write(write_ocf([{"id": 1}, {"id": 2}], schema))
    with open(b, "wb") as fh:
        fh.write(write_ocf([{"id": 3}], schema))
    m = str(tmp_path / "m.avro")
    info = concat_ocf_files(m, [a, b])
    assert info["num_rows"] == 3
    with open(m, "rb") as fh:
        _, _, recs = read_ocf(fh.read())
    assert [r["id"] for r in recs] == [1, 2, 3]
