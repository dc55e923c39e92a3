"""Per-cell value transforms of the reference row pump, as Column
expressions (`/root/reference/cmd/root.go:430-471`, SURVEY.md §1.2).

The reference walks every cell in Go; here each rule is a vectorized
built-in expression (whole-stage codegen — the 10-100× over row-at-a-time
Python this rebuild exists for). The NUL-sanitize side-channel (offending
rows logged to invalidTableData.log, `root.go:455-466`) becomes a
DataFrame predicate usable as a side-output filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: MySQL types whose cells the pump NUL-strips (`root.go:441-470`)
_TEXT_TYPES = ("varchar", "char", "text", "tinytext", "mediumtext", "longtext")


def geometry_hex(c: Column | str) -> Column:
    """GEOMETRY: hex-encode, drop the 8-hex-char (4-byte) SRID header
    (`root.go:437-438`, rationale readme.md:319). Lowercase hex for
    byte parity with Go's hex.EncodeToString (readme.md v0.2.0 note).
    Empty/short values yield '' (Go slicing [8:] of a shorter string
    would panic; the reference only sees well-formed geometries — we
    clamp instead)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.lower(F.substring(F.hex(c), 9, 2147483647 - 9))


def bit_hex(c: Column | str) -> Column:
    """BIT: hex-encode, drop the FIRST NIBBLE regardless of width —
    MySQL bit(1) arrives as one byte 0x00/0x01, PG bit(1) wants
    '0'/'1'; for bit(n>4) the reference's same [1:] slice leaves an
    odd-nibble hex string (`root.go:439-440`, readme.md:306-308).
    Lowercase for hex.EncodeToString parity."""
    c = F.col(c) if isinstance(c, str) else c
    return F.lower(F.substring(F.hex(c), 2, 2147483647 - 2))


def strip_nul(c: Column | str) -> Column:
    """VARCHAR/TEXT: strip U+0000, which PG text columns reject
    (`root.go:441-470`)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(c, "\x00", "")


def has_nul(c: Column | str) -> Column:
    """Predicate marking rows the reference would log to
    invalidTableData.log (`root.go:455-466`)."""
    c = F.col(c) if isinstance(c, str) else c
    return c.contains("\x00")


def lowercase_columns(df: DataFrame) -> DataFrame:
    """Column-name lowercasing (`root.go:327-329` — pq.CopyIn quotes
    names and PG folds unquoted to lowercase)."""
    lowered = [c.lower() for c in df.columns]
    return df if lowered == df.columns else df.toDF(*lowered)


def str_val(c: Column | str, data_type=None) -> Column:
    """Any→string coercion (`cmd/app.go:131-184` StrVal): numerics and
    plain values via cast; STRUCTURED values (struct/map/array — the
    MySQL JSON column shape) via to_json, because cast('string')
    renders Spark's '{k -> v}' notation, which is not JSON and a PG
    json/jsonb target would reject (r13 review finding). Pass the
    column's DataType to get the JSON branch; without it the cast
    fallback is unchanged for the primitive columns the row pump
    feeds."""
    from pyspark.sql import types as T

    c = F.col(c) if isinstance(c, str) else c
    if data_type is not None and isinstance(
        data_type, (T.StructType, T.MapType, T.ArrayType)
    ):
        return F.to_json(c)
    return c.cast("string")


def apply_cell_transforms(
    df: DataFrame, mysql_types: dict[str, str]
) -> DataFrame:
    """Apply the row pump's per-cell rules to a whole DataFrame given
    each column's MySQL driver type name (`root.go:430-443` dispatch):
    BLOB passthrough, GEOMETRY/BIT hex-slice, string NUL-strip, others
    untouched (they stay natively typed — the COPY text formatting the
    reference does in Go is the sink's job here)."""
    out = df
    for name, ty in mysql_types.items():
        t = ty.lower()
        if t == "geometry":
            out = out.withColumn(name, geometry_hex(name))
        elif t == "bit":
            out = out.withColumn(name, bit_hex(name))
        elif t in _TEXT_TYPES:
            out = out.withColumn(name, strip_nul(name))
        # blobs & everything else: passthrough (root.go:435-436)
    return lowercase_columns(out)


def nul_predicate(df: DataFrame, mysql_types: dict[str, str]) -> Column:
    """True for a row holding NUL in any string column — the rows the
    reference logs to invalidTableData.log (`root.go:466`). A Column,
    so the data phase can count matches inside the pump's own scan
    (`F.count_if`) and filter only when there are any."""
    pred = F.lit(False)
    for name, ty in mysql_types.items():
        if ty.lower() in _TEXT_TYPES:
            pred = pred | has_nul(df[name])
    return pred


def invalid_rows(df: DataFrame, mysql_types: dict[str, str]) -> DataFrame:
    """Side-output: rows containing NUL in any string column — the
    DataFrame equivalent of invalidTableData.log (`root.go:466`)."""
    return df.filter(nul_predicate(df, mysql_types))
