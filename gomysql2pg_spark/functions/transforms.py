"""Per-cell value transforms of the reference row pump, as Spark SQL
expressions (`/root/reference/cmd/root.go:430-471`, SURVEY.md §1.2).

The reference walks every cell in Go; here each rule is a vectorized
built-in expression (whole-stage codegen — the 10-100× over row-at-a-time
Python this rebuild exists for), written once as SQL text over a quoted
column name and applied to a whole table in one projection. The
NUL-sanitize side-channel (offending rows logged to
invalidTableData.log, `root.go:455-466`) becomes a DataFrame predicate
usable as a side-output filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sqltext import ident

#: MySQL types whose cells the pump NUL-strips (`root.go:441-470`)
_TEXT_TYPES = ("varchar", "char", "text", "tinytext", "mediumtext", "longtext")


def _geometry_hex_sql(name: str) -> str:
    return f"lower(substring(hex({ident(name)}), 9, {2147483647 - 9}))"


def _bit_hex_sql(name: str) -> str:
    return f"lower(substring(hex({ident(name)}), 2, {2147483647 - 2}))"


def _strip_nul_sql(name: str) -> str:
    return f"regexp_replace({ident(name)}, chr(0), '')"


def _has_nul_sql(name: str) -> str:
    return f"contains({ident(name)}, chr(0))"


def geometry_hex(name: str) -> Column:
    """GEOMETRY: hex-encode, drop the 8-hex-char (4-byte) SRID header
    (`root.go:437-438`, rationale readme.md:319). Lowercase hex for
    byte parity with Go's hex.EncodeToString (readme.md v0.2.0 note).
    Empty/short values yield '' (Go slicing [8:] of a shorter string
    would panic; the reference only sees well-formed geometries — we
    clamp instead)."""
    return F.expr(_geometry_hex_sql(name))


def bit_hex(name: str) -> Column:
    """BIT: hex-encode, drop the FIRST NIBBLE regardless of width —
    MySQL bit(1) arrives as one byte 0x00/0x01, PG bit(1) wants
    '0'/'1'; for bit(n>4) the reference's same [1:] slice leaves an
    odd-nibble hex string (`root.go:439-440`, readme.md:306-308).
    Lowercase for hex.EncodeToString parity."""
    return F.expr(_bit_hex_sql(name))


def strip_nul(name: str) -> Column:
    """VARCHAR/TEXT: strip U+0000, which PG text columns reject
    (`root.go:441-470`)."""
    return F.expr(_strip_nul_sql(name))


def has_nul(name: str) -> Column:
    """Predicate marking rows the reference would log to
    invalidTableData.log (`root.go:455-466`)."""
    return F.expr(_has_nul_sql(name))


def strip_nul_columns(df: DataFrame, names: list[str]) -> DataFrame:
    """`df` with U+0000 stripped from each named column, as one
    projection generated as SQL text."""
    if not names:
        return df
    strip = set(names)
    return df.selectExpr(*[
        f"{_strip_nul_sql(c)} AS {ident(c)}" if c in strip else ident(c)
        for c in df.columns
    ])


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
    reference does in Go is the sink's job here). Column names are
    lowercased (`lowercase_columns`) in the same single projection."""
    rules = {"geometry": _geometry_hex_sql, "bit": _bit_hex_sql}
    rules.update(dict.fromkeys(_TEXT_TYPES, _strip_nul_sql))
    # blobs & everything else: passthrough (root.go:435-436)
    types = {name.lower(): ty.lower() for name, ty in mysql_types.items()}
    exprs = []
    for c in df.columns:
        rule = rules.get(types.get(c.lower(), ""))
        cell = rule(c) if rule else ident(c)
        exprs.append(f"{cell} AS {ident(c.lower())}")
    return df.selectExpr(*exprs)


def nul_predicate(df: DataFrame, mysql_types: dict[str, str]) -> Column:
    """True for a row holding NUL in any string column — the rows the
    reference logs to invalidTableData.log (`root.go:466`). A Column,
    so the data phase can count matches inside the pump's own scan
    (`F.count_if`) and filter only when there are any; generated as
    one SQL expression over quoted names."""
    ors = [
        _has_nul_sql(name)
        for name, ty in mysql_types.items()
        if ty.lower() in _TEXT_TYPES
    ]
    return F.expr(" OR ".join(["false", *ors]))


def invalid_rows(df: DataFrame, mysql_types: dict[str, str]) -> DataFrame:
    """Side-output: rows containing NUL in any string column — the
    DataFrame equivalent of invalidTableData.log (`root.go:466`)."""
    return df.filter(nul_predicate(df, mysql_types))
