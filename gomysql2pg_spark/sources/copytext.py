"""PostgreSQL COPY-text as a first-class Spark data source.

The reference's entire data plane speaks COPY text: every page it moves
is encoded to this wire format and streamed through `pq.CopyIn`
(`/root/reference/cmd/root.go:412-489`). Here that format becomes a
real Spark SOURCE via the PySpark 4 Python DataSource API — so a COPY
dump (from the reference, from `pg_dump`, or from this repo's
distributed encoder in `sinks.jdbc.copy_text_line`) is directly
queryable. Files above `split_bytes` (default 128 MiB) split into
byte-range scan tasks with Hadoop LineRecordReader semantics (a task
with start > 0 discards through the first newline; every task emits
exactly the lines whose first byte is at offset <= its end, reading
past `end` to finish a straddling line), so one multi-GB dump file
parallelizes across executors without coordination.

Grammar (the strict server-side rules, proven against a live
PostgreSQL 15 in tests/test_postgres_live.py): rows are LF-terminated,
cells TAB-separated; `\\N` (backslash-N) is NULL; data backslash, tab,
newline, CR are escaped as `\\\\`, `\\t`, `\\n`, `\\r`; an unknown
escape or dangling backslash is a corrupt file and fails loudly.

Scan shape: the reader yields `pyarrow.RecordBatch`es (the PySpark-4
DataSource arrow path), decoding each ~32 MiB chunk with vectorized
Arrow kernels — one `split_pattern` for lines, one for cells,
stride-`take` per column, escape decoding as four `replace_substring`
passes (escaped-backslash is swapped to a NUL placeholder first so
`\\t`/`\\n`/`\\r` replacement cannot misfire on it; NUL itself cannot
appear in COPY text — PostgreSQL text values never contain it, and a
chunk that does anyway takes the strict per-cell Python fallback), and
typed columns via Arrow string casts. Any backslash REMAINING after
the four passes is a corrupt cell; the strict scalar decoder re-runs
on it to raise the precise unknown-escape/dangling-backslash error.

All file access goes through `pyarrow.fs`: partition planning lists
files on the DRIVER (FileInfo/FileSelector) and read() re-opens the
same paths on executors through the SAME FileSystem, which rides
inside the pickled reader. A bare path scans the local filesystem; a
URI path (`s3://…`, `hdfs://…`, `gs://…`, `file:///…`) resolves via
`pyarrow.fs.FileSystem.from_uri`, so an object-store dump tree scans
directly — no staging to a shared mount. Callers instantiating the
reader directly may inject any FileSystem object (e.g. a
SubTreeFileSystem) under the `filesystem` option.

The DataSource class is built inside a FACTORY and registered from the
returned value, so cloudpickle ships it BY VALUE — Python workers in a
bare-PYTHONPATH deployment (e.g. the round driver's gate) never need
this package importable to run the scan.

`read_copy_text` decodes the same grammar with SQL expressions,
generated as text, over `spark.read.text`, so it plans and scans on
the JVM and starts no Python process; it reads through Spark's Hadoop
filesystem layer, the one `sinks.jdbc.copy_dump_sink` writes with.
compareDb reads dumps back with it; the DataSource stays the reader
for injected pyarrow FileSystems and the reference decoder its tests
compare against.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import index_store
from ..catalog import load_table
from ..functions.sqltext import ident, lit
from ..sinks.jdbc import (
    BYTEA_WIRE_PREFIX,
    COPY_ESCAPES,
    COPY_NULL,
    PLAIN_TYPES,
)


def make_copytext_source():
    """Return a self-contained (pickle-by-value) DataSource class for
    `spark.dataSource.register(...)`."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    def decode_cell(cell: str):
        if cell == "\\N":
            return None
        out, i = [], 0
        while i < len(cell):
            ch = cell[i]
            if ch == "\\":
                i += 1
                if i >= len(cell):
                    raise ValueError("corrupt COPY text: dangling backslash")
                esc = cell[i]
                try:
                    out.append(
                        {"\\": "\\", "t": "\t", "n": "\n", "r": "\r"}[esc]
                    )
                except KeyError:
                    raise ValueError(
                        f"corrupt COPY text: unknown escape \\{esc}"
                    ) from None
            else:
                out.append(ch)
            i += 1
        return "".join(out)

    def caster_for(dt):
        """Scalar (per-cell) caster — the strict fallback path. It
        runs on the DECODED cell, and `int`/`float`/`Decimal` strip
        surrounding whitespace, so here an escaped TAB, LF or CR around
        a number still parses; `read_copy_text` rejects any escape in a
        typed cell."""
        import datetime
        import decimal

        from pyspark.sql import types as T

        if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType,
                           T.ByteType)):
            return int
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return float
        if isinstance(dt, T.DecimalType):
            return decimal.Decimal
        if isinstance(dt, T.BooleanType):
            return lambda s: {
                "t": True, "true": True, "1": True,
                "f": False, "false": False, "0": False,
            }[s.lower()]
        if isinstance(dt, T.DateType):
            return datetime.date.fromisoformat
        if isinstance(dt, T.TimestampType) or isinstance(
            dt, T.TimestampNTZType
        ):
            return datetime.datetime.fromisoformat
        if isinstance(dt, T.StringType):
            return lambda s: s
        if isinstance(dt, T.BinaryType):
            # PG bytea hex output form: '\x' + hex (bytea_output=hex,
            # the server default; matches the sink's encode)
            def from_bytea(s: str) -> bytes:
                if not s.startswith("\\x"):
                    raise ValueError(
                        "corrupt COPY text: bytea cell without \\x prefix"
                    )
                return bytes.fromhex(s[2:])

            return from_bytea
        raise TypeError(f"copytext: unsupported column type {dt}")

    def arrow_type_for(dt):
        """Arrow target type per Spark type — the vectorized cast path
        (must accept exactly what `caster_for` accepts; pinned by
        tests/test_copytext_source.py)."""
        import pyarrow as pa
        from pyspark.sql import types as T

        if isinstance(dt, T.LongType):
            return pa.int64()
        if isinstance(dt, T.IntegerType):
            return pa.int32()
        if isinstance(dt, T.ShortType):
            return pa.int16()
        if isinstance(dt, T.ByteType):
            return pa.int8()
        if isinstance(dt, T.DoubleType):
            return pa.float64()
        if isinstance(dt, T.FloatType):
            return pa.float32()
        if isinstance(dt, T.DecimalType):
            return pa.decimal128(dt.precision, dt.scale)
        if isinstance(dt, T.BooleanType):
            return pa.bool_()
        if isinstance(dt, T.DateType):
            return pa.date32()
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return pa.timestamp("us")
        if isinstance(dt, T.StringType):
            return pa.string()
        if isinstance(dt, T.BinaryType):
            return pa.binary()
        raise TypeError(f"copytext: unsupported column type {dt}")

    class _FilePartition(InputPartition):
        """One scan task = one [start, end) byte range of one file —
        Hadoop text-split semantics: a task whose start > 0 discards
        through the first newline (that partial/boundary line belongs
        to the previous range, which reads past its own end to finish
        it), so a single multi-GB dump file parallelizes without
        coordination."""

        def __init__(self, path: str, start: int = 0, end: int | None = None):
            self.path = path
            self.start = start
            self.end = end

    class CopyTextReader(DataSourceReader):
        def __init__(self, schema, options):
            self._schema = schema
            self._path = options.get("path")
            if not self._path:
                raise ValueError("copytext: .load(path) is required")
            # wire bytes per RecordBatch; tests shrink it to force
            # chunk-boundary handling
            self._chunk = int(options.get("chunk_bytes", 1 << 25))
            # files above this split into byte-range scan tasks
            self._split = int(options.get("split_bytes", 128 << 20))
            # the filesystem is resolved ONCE on the driver and rides
            # to executors inside the pickled reader (pyarrow
            # filesystems implement __reduce__): a URI path
            # ("s3://...", "hdfs://...", "file:///...") resolves via
            # FileSystem.from_uri, a bare path gets LocalFileSystem,
            # and a direct instantiation (tests, embedding callers)
            # may inject any pyarrow FileSystem object — e.g. a
            # SubTreeFileSystem — under the "filesystem" option
            fs_opt = options.get("filesystem")
            self._fs, self._root = self._resolve_fs(self._path, fs_opt)

        @staticmethod
        def _resolve_fs(path: str, fs_opt):
            from pyarrow import fs as pafs

            if fs_opt is not None and not isinstance(fs_opt, str):
                return fs_opt, path  # injected FileSystem object
            if fs_opt not in (None, "", "auto", "local"):
                raise ValueError(
                    f"copytext: unknown filesystem {fs_opt!r}"
                )
            if fs_opt in (None, "", "auto") and "://" in path:
                return pafs.FileSystem.from_uri(path)
            return pafs.LocalFileSystem(), path

        def partitions(self):
            from pyarrow import fs as pafs

            info = self._fs.get_file_info(self._root)
            if info.type == pafs.FileType.File:
                files = [(info.path, info.size)]
            elif info.type == pafs.FileType.Directory:
                files = sorted(
                    (i.path, i.size)
                    for i in self._fs.get_file_info(
                        pafs.FileSelector(self._root)
                    )
                    if i.type == pafs.FileType.File
                    and not i.base_name.startswith(("_", "."))
                )
            else:
                raise FileNotFoundError(
                    f"copytext: no such file or directory: {self._root}"
                )
            parts = []
            for f, size in files:
                n = max(1, -(-size // self._split))
                step = -(-size // n) if size else 1
                parts += [
                    _FilePartition(f, i * step, min((i + 1) * step, size))
                    for i in range(n)
                ]
            return parts

        def _decode_chunk_slow(self, chunk: bytes):
            """Strict per-cell scalar decode — the fallback for chunks
            containing a NUL byte (never emitted by PostgreSQL; a NUL
            would collide with the vectorized path's escape
            placeholder). Returns one RecordBatch."""
            import pyarrow as pa

            fields = self._schema.fields
            casters = [caster_for(f.dataType) for f in fields]
            n = len(casters)
            cols: list[list] = [[] for _ in range(n)]
            for line in chunk.decode("utf-8").split("\n")[:-1]:
                cells = line.split("\t")
                if len(cells) != n:
                    raise ValueError(
                        f"corrupt COPY text: {len(cells)} cells, "
                        f"schema has {n}"
                    )
                for j, (c, k) in enumerate(zip(cells, casters)):
                    d = decode_cell(c)
                    cols[j].append(None if d is None else k(d))
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(col, type=arrow_type_for(f.dataType))
                    for col, f in zip(cols, fields)
                ],
                names=[f.name for f in fields],
            )

        def _decode_chunk(self, chunk: bytes):
            """Vectorized decode of one LF-terminated chunk into a
            RecordBatch: Arrow split/take/replace kernels end-to-end;
            Python touches individual cells only to re-raise a precise
            error for a corrupt one."""
            import numpy as np
            import pyarrow as pa
            import pyarrow.compute as pc

            if b"\x00" in chunk:
                return self._decode_chunk_slow(chunk)
            fields = self._schema.fields
            n = len(fields)
            lines = pc.list_flatten(
                pc.split_pattern(pa.array([chunk.decode("utf-8")]), "\n")
            )
            lines = lines.slice(0, len(lines) - 1)  # after trailing LF
            nrows = len(lines)
            if nrows == 0:
                return None
            cells_list = pc.split_pattern(lines, "\t")
            lengths = pc.list_value_length(cells_list)
            if not pc.all(pc.equal(lengths, n)).as_py():
                bad = lengths.to_numpy()
                bad = int(bad[bad != n][0])
                raise ValueError(
                    f"corrupt COPY text: {bad} cells, schema has {n}"
                )
            flat = pc.list_flatten(cells_list)
            has_escapes = b"\\" in chunk
            arrays = []
            for j, f in enumerate(fields):
                col = flat.take(
                    pa.array(np.arange(j, nrows * n, n, dtype=np.int64))
                )
                if has_escapes:
                    col = self._decode_escapes(col)
                at = arrow_type_for(f.dataType)
                if pa.types.is_boolean(at):
                    col = self._cast_bool(col)
                elif pa.types.is_binary(at):
                    col = self._cast_binary(col)
                elif not pa.types.is_string(at):
                    col = pc.cast(col, at)
                arrays.append(col)
            return pa.RecordBatch.from_arrays(
                arrays, names=[f.name for f in fields]
            )

        def _decode_escapes(self, col):
            """`\\N` → null, then the four escapes via non-overlapping
            left-to-right replaces: escaped-backslash is parked on a
            NUL placeholder FIRST (so `\\t` etc. cannot fire inside
            it), and any backslash still present afterwards is a
            corrupt cell — re-decoded scalar-side for the exact
            unknown-escape / dangling-backslash message."""
            import pyarrow as pa
            import pyarrow.compute as pc

            col = pc.if_else(
                pc.equal(col, "\\N"), pa.scalar(None, pa.string()), col
            )
            if not pc.any(pc.match_substring(col, "\\")).as_py():
                return col
            s = pc.replace_substring(col, "\\\\", "\x00")
            s = pc.replace_substring(s, "\\t", "\t")
            s = pc.replace_substring(s, "\\n", "\n")
            s = pc.replace_substring(s, "\\r", "\r")
            bad = pc.match_substring(s, "\\")
            if pc.any(bad).as_py():
                i = int(
                    pc.index(bad, pa.scalar(True, pa.bool_())).as_py()
                )
                decode_cell(col[i].as_py())  # raises the precise error
                raise ValueError("corrupt COPY text")  # unreachable
            return pc.replace_substring(s, "\x00", "\\")

        def _cast_binary(self, col):
            """PG bytea hex form → bytes. Prefix check is vectorized;
            the hex decode itself is per-cell Python — blob columns
            are the inherently row-granular path (the escape/split
            work above them is still vectorized)."""
            import pyarrow as pa
            import pyarrow.compute as pc

            bad = pc.and_(
                pc.invert(pc.starts_with(col, pattern="\\x")),
                pc.is_valid(col),
            )
            if pc.any(bad).as_py():
                raise ValueError(
                    "corrupt COPY text: bytea cell without \\x prefix"
                )
            return pa.array(
                [
                    None if s is None else bytes.fromhex(s[2:])
                    for s in col.to_pylist()
                ],
                type=pa.binary(),
            )

        def _cast_bool(self, col):
            import pyarrow as pa
            import pyarrow.compute as pc

            low = pc.utf8_lower(col)
            t = pc.is_in(low, value_set=pa.array(["t", "true", "1"]))
            fa = pc.is_in(low, value_set=pa.array(["f", "false", "0"]))
            invalid = pc.and_(
                pc.invert(pc.or_(t, fa)), pc.is_valid(col)
            )
            if pc.any(invalid).as_py():
                i = int(
                    pc.index(invalid, pa.scalar(True, pa.bool_())).as_py()
                )
                raise ValueError(
                    f"corrupt COPY text: invalid boolean "
                    f"{col[i].as_py()!r}"
                )
            res = pc.if_else(t, pa.scalar(True), pa.scalar(False))
            return pc.if_else(
                pc.is_valid(col), res, pa.scalar(None, pa.bool_())
            )

        def read(self, partition):
            """Scan one [start, end) byte range with Hadoop
            LineRecordReader semantics: a range with start > 0 discards
            through the first newline (that line belongs to the
            previous range), then emits every line whose FIRST byte
            sits at absolute offset <= end — including the one line
            that starts exactly at `end` (the next range skips it) and
            reading past `end` to finish a straddling line. Ranges are
            therefore disjoint and complete for any split points."""
            start = getattr(partition, "start", 0) or 0
            end = getattr(partition, "end", None)
            with self._fs.open_input_file(partition.path) as fh:
                if end is None:
                    fh.seek(0, 2)
                    end = fh.tell()
                fh.seek(start)
                pos = start  # absolute offset of the next unread byte
                carry = b""
                carry_abs = start  # absolute offset of carry[0]
                if start > 0:
                    # discard through the first newline; the previous
                    # range reads through it (its line starts <= its
                    # own end == this start)
                    while True:
                        block = fh.read(self._chunk)
                        if not block:
                            return  # range lies inside the final line
                        before = pos
                        pos += len(block)
                        nl = block.find(b"\n")
                        if nl >= 0:
                            carry = block[nl + 1:]
                            carry_abs = before + nl + 1
                            break
                while True:
                    if carry_abs > end:
                        return  # next line starts past the range
                    block = fh.read(self._chunk)
                    if not block:
                        break
                    pos += len(block)
                    buf = carry + block
                    buf_abs = carry_abs
                    # first newline at absolute offset >= end closes
                    # the last line this range owns
                    stop = buf.find(b"\n", end - buf_abs)
                    if stop >= 0:
                        batch = self._decode_chunk(buf[: stop + 1])
                        if batch is not None:
                            yield batch
                        return
                    cut = buf.rfind(b"\n")
                    if cut < 0:
                        carry = buf
                        continue
                    carry = buf[cut + 1:]
                    carry_abs = buf_abs + cut + 1
                    batch = self._decode_chunk(buf[: cut + 1])
                    if batch is not None:
                        yield batch
                if carry:
                    # EOF with leftover bytes: the stopping newline may
                    # sit inside the carry (small file, small ranges),
                    # and carry from the skip loop can already hold
                    # complete LF-terminated lines
                    stop = carry.find(b"\n", end - carry_abs)
                    if stop >= 0:
                        piece = carry[: stop + 1]
                    elif carry.endswith(b"\n"):
                        piece = carry
                    else:  # final line without trailing LF
                        piece = carry + b"\n"
                    batch = self._decode_chunk(piece)
                    if batch is not None:
                        yield batch

    class CopyTextDataSource(DataSource):
        """COPY-text reader; schema must be supplied by the caller
        (the wire format carries no header)."""

        @classmethod
        def name(cls):
            return "copytext"

        def schema(self):
            raise ValueError(
                "copytext: the COPY wire format has no header — supply "
                "the schema with spark.read.format('copytext')"
                ".schema(...)"
            )

        def reader(self, schema):
            return CopyTextReader(schema, self.options)

    return CopyTextDataSource


def register_copytext(spark: SparkSession) -> None:
    """Idempotent registration of the `copytext` format."""
    spark.dataSource.register(make_copytext_source())


# read_copy_text's SQL text pieces. A backslash may not appear inside
# an f-string's braces, so every constant that holds one is named here.
_BACKSLASH = lit("\\")
_NULL_CELL = lit(COPY_NULL)
#: the escape after a backslash ('' when the backslash ends the cell)
_ESCAPE_RE = lit(r"(?s)\\(.?)")
#: an escaped backslash, as a `split` regex
_ESCAPED_BACKSLASH_RE = lit(r"\\\\")
_UNKNOWN_ESCAPE = lit("unknown escape \\")


def _corrupt(msg: str) -> str:
    """SQL text failing the task with a COPY-text corruption error;
    `msg` is the SQL text of the message."""
    return f"raise_error(concat({lit('corrupt COPY text: ')}, {msg}))"


def _decode_cell_sql(cell: str) -> str:
    """`decode_cell` as SQL text over the cell expression `cell`:
    `\\N` → NULL, then the four escapes.

    No placeholder: the cell splits on the escaped backslash `\\\\`
    (left to right, so a backslash pairs with the one after it, as in
    the scalar decoder), `\\t`/`\\n`/`\\r` are replaced inside each
    piece, and the pieces re-join with a single backslash. A backslash
    left in a piece is an unknown escape or a dangling backslash."""
    p = "p"
    for char, escape in COPY_ESCAPES[1:]:
        p = f"replace({p}, {lit(escape)}, {lit(char)})"
    esc = f"regexp_extract({p}, {_ESCAPE_RE}, 1)"
    unknown = f"concat({_UNKNOWN_ESCAPE}, {esc})"
    checked = (
        f"CASE WHEN NOT contains({p}, {_BACKSLASH}) THEN {p}"
        f" WHEN {esc} = '' THEN {_corrupt(lit('dangling backslash'))}"
        f" ELSE {_corrupt(unknown)} END"
    )
    pieces = f"split({cell}, {_ESCAPED_BACKSLASH_RE}, -1)"
    return (
        f"CASE WHEN {cell} = {_NULL_CELL} THEN NULL"
        f" WHEN NOT contains({cell}, {_BACKSLASH}) THEN {cell}"
        f" ELSE array_join(transform({pieces}, p -> {checked}),"
        f" {_BACKSLASH}) END"
    )


def _cell_sql(cell: str, field: T.StructField) -> str:
    """The first decode step of one wire cell. A `PLAIN_TYPES` or
    binary cell only maps `\\N` to NULL: the encoder never escapes
    anything in it, so a backslash there is left for `_cast_cell_sql`
    to reject. Any other cell takes the full `_decode_cell_sql`."""
    if isinstance(field.dataType, PLAIN_TYPES + (T.BinaryType,)):
        return f"CASE WHEN {cell} != {_NULL_CELL} THEN {cell} END"
    return _decode_cell_sql(cell)


def _cast_cell_sql(s: str, field: T.StructField) -> str:
    """The cell from `_cell_sql` (the SQL text `s`) cast to `field`'s
    type; malformed input raises (`caster_for` in the Python reader
    accepts the same forms, except that its scalar casters strip
    whitespace)."""
    dt, name = field.dataType, field.name
    in_column = lit(f" in column {name}")
    if isinstance(dt, T.StringType):
        return s
    if isinstance(dt, T.BinaryType):
        # the wire form is bytea's `\x` + hex with its backslash
        # escaped (`\\x`), checked without decoding
        digits = f"substr({s}, 4, length({s}))"
        raw = f"unhex({digits})"  # NULL for a non-hex digit
        no_prefix = lit("bytea cell without \\x prefix in column " + name)
        return (
            f"CASE WHEN {s} IS NULL THEN NULL"
            f" WHEN NOT startswith({s}, {lit(BYTEA_WIRE_PREFIX)})"
            f" THEN {_corrupt(no_prefix)}"
            f" WHEN length({digits}) % 2 = 1 OR {raw} IS NULL"
            f" THEN {_corrupt(lit(f'invalid bytea hex in column {name}'))}"
            f" ELSE {raw} END"
        )
    if isinstance(dt, T.BooleanType):
        invalid = f"concat({lit('invalid boolean ')}, {s}, {in_column})"
        return (
            f"CASE WHEN {s} IS NULL THEN NULL"
            f" WHEN lower({s}) IN ('t', 'true', '1') THEN true"
            f" WHEN lower({s}) IN ('f', 'false', '0') THEN false"
            f" ELSE {_corrupt(invalid)} END"
        )
    # try_cast + an explicit raise: strict whatever the session's ANSI
    # setting (a non-ANSI cast would turn a corrupt cell into NULL). A
    # type with no cast from string (array, map, struct) fails analysis.
    v = f"try_cast({s} AS {dt.simpleString()})"
    invalid = (
        f"concat({lit(f'invalid {dt.simpleString()} ')}, {s}, {in_column})"
    )
    return (
        f"CASE WHEN {s} IS NOT NULL AND {v} IS NULL"
        f" THEN {_corrupt(invalid)} ELSE {v} END"
    )


def read_copy_text(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Read a COPY-text dump (a file or a directory of part files) as
    a DataFrame of `schema`, entirely on the JVM — the inverse of
    `sinks.jdbc.copy_text_line`, with the grammar of the `copytext`
    Python source: only LF ends a row, cells split on TAB, `\\N` is
    NULL, unknown escapes, dangling backslashes, wrong cell counts and
    malformed typed cells fail the task. Files go through Spark's
    Hadoop filesystem layer, the one `copy_dump_sink` writes with, so
    every dump the sink can write reads back.

    Each of the three projections (cell split and count check, escape
    decode, typed cast) is generated as SQL text and parsed by the
    JVM, so building the reader costs a few py4j calls per column;
    column names are quoted identifiers (`functions.sqltext.ident`).

    Typed like the encoder: a `PLAIN_TYPES` cell is never unescaped —
    only `\\N` → NULL, then the strict cast — so an escape in a number,
    date, timestamp or boolean is corrupt (Spark's cast would trim the
    TAB, LF or CR it decodes to); a binary cell is checked against its
    `\\\\x` wire prefix directly. String and nested columns take the
    full escape decode, a higher-order function that runs outside
    whole-stage codegen."""
    n = len(schema.fields)
    cells = f"split(value, {lit(chr(9))}, -1)"
    count = lit(f" cells, schema has {n}")
    checked = (
        f"CASE WHEN size({cells}) = {n} THEN {cells}"
        f" ELSE {_corrupt(f'concat(cast(size({cells}) as string), {count})')}"
        f" END AS cells"
    )
    # one projection per step: a casting expression reads its decoded
    # cell several times, and a separate projection computes it once
    decoded = (
        spark.read.option("lineSep", "\n").text(path)
        .selectExpr(checked)
        .selectExpr(*[
            f"{_cell_sql(f'cells[{i}]', f)} AS {ident(f.name)}"
            for i, f in enumerate(schema.fields)
        ])
    )
    return decoded.selectExpr(*[
        f"{_cast_cell_sql(ident(f.name), f)} AS {ident(f.name)}"
        for f in schema.fields
    ])


_RT_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_orderpriority",
    "o_totalprice",
    "o_orderdate",
)
_RT_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_orderpriority string, o_totalprice double, o_orderdate date"
)


def q_copytext_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → distributed COPY-text encode (`sinks.jdbc.
    copy_text_line`, one generated SQL expression — the JVM writes the
    wire bytes, nothing is collected) → `.write.text` → read back through
    the `copytext` Python data source. The result must hash-equal a
    plain SELECT of the same columns: an encode/decode disagreement
    anywhere in the escape grammar, numeric/date formatting, or file
    splitting shows up as a value mismatch. Doubles survive because
    both directions use shortest-round-trip representations (the VALUE
    is compared, not the string). The encoded tree is cached per
    source-fixture mtime in the tree store, so reps measure the scan,
    not the rewrite."""
    from ..sinks.jdbc import copy_text_line

    src = os.path.join(sf_dir, "orders.parquet")
    # the key covers the ENCODER RECIPE version too (same lesson as
    # the scale-smoke corpus cache): editing the wire format must not
    # silently reuse a tree written by the old encoder
    key = hashlib.md5(
        repr((os.path.abspath(src), int(os.path.getmtime(src)),
              _RT_COLS, "wire-v1")).encode()
    ).hexdigest()[:12]
    # installed through the tree store under its per-user private
    # root: 'done' is Spark's own _SUCCESS marker on a tree this user
    # installed, so neither a racing writer's half tree nor another
    # user's planted one is ever read
    store = index_store.open_store()
    tree = f"spark_graft_copytext_{key}"
    if not store.built(tree):
        # the fixture's o_orderdate is a timestamp; the entry exercises
        # the DATE wire form ('YYYY-MM-DD'), so cast at the source
        # (mirrored in the oracle)
        orders = load_table(spark, sf_dir, "orders").selectExpr(*[
            f"cast({c} as date) AS {c}" if c == "o_orderdate" else c
            for c in _RT_COLS
        ])
        wire = orders.select(
            copy_text_line(orders.schema.fields).alias("value")
        )
        if not store.install(tree, wire, fmt="text"):
            raise OSError(f"failed to install the COPY-text tree {tree}")
    register_copytext(spark)
    # split_bytes forced far below the default so the ORACLE-GATED
    # entry exercises the byte-range split path on every driver run
    # (~3 ranges/file at sf0.01, ~5 at sf0.1): any range-boundary
    # duplication or loss breaks the value hash, not just a pytest
    return (
        spark.read.format("copytext")
        .schema(_RT_SCHEMA)
        .option("split_bytes", str(256 << 10))
        .load(store.data(tree))
    )


ORACLE_COPYTEXT_ROUNDTRIP = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       o_totalprice, CAST(o_orderdate AS DATE) AS o_orderdate
FROM orders
"""


QUERIES = {
    "copytext_roundtrip": q_copytext_roundtrip,
}

ORACLES = {
    "copytext_roundtrip": ORACLE_COPYTEXT_ROUNDTRIP,
}
