"""DDL generators (reference A10-A15, `cmd/tablemeta.go:48-364`).

Pure functions: metadata in (the same shapes the reference reads from
information_schema), PostgreSQL DDL strings out. No database and no
Spark compute — exactly like the reference, which generates all object
DDL from catalog queries and executes it on the target. String-compared
in unit tests against the reference's templates.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

from .functions.typemap import ColumnMeta, map_column


def pg_ident(name: str) -> str:
    """`name` as one quoted PostgreSQL identifier: double quotes, with
    any embedded double quote doubled."""
    return '"' + name.replace('"', '""') + '"'


def pg_literal(text: str) -> str:
    """`text` as one PostgreSQL string literal: single quotes, with any
    embedded single quote doubled."""
    return "'" + text.replace("'", "''") + "'"


# ---------------------------------------------------------------------------
# A10: CREATE TABLE (`tablemeta.go:48-154`)
# ---------------------------------------------------------------------------


def create_table_sql(
    table: str,
    cols: list[ColumnMeta],
    char_in_length: bool = False,
    use_nvarchar2: bool = False,
) -> list[str]:
    """`drop table if exists … cascade` + `create table …`
    (`tablemeta.go:142` + the column loop at `tablemeta.go:76-140`)."""
    parts = []
    for c in sorted(cols, key=lambda c: c.ordinal_position):
        m = map_column(c, char_in_length, use_nvarchar2)
        null_sql = "" if m.nullable else " not null"
        col = pg_ident(m.name)
        parts.append(f"{col} {m.pg_type}{null_sql}{m.default_sql}")
    body = ", ".join(parts)
    t = pg_ident(table.lower())
    return [
        f"drop table if exists {t} cascade",
        f"create table {t} ({body})",
    ]


# ---------------------------------------------------------------------------
# A11: sequences (`tablemeta.go:156-198`)
# ---------------------------------------------------------------------------


def sequence_sql(table: str, column: str, start: int) -> list[str]:
    """AUTO_INCREMENT → sequence + default nextval
    (`tablemeta.go:162` generator output shape)."""
    seq = pg_ident(f"seq_{table.lower()}_{column.lower()}")
    return [
        f"drop sequence if exists {seq}",
        f"create sequence {seq} increment by 1 start {start}",
        (
            f"alter table {pg_ident(table.lower())} "
            f"alter column {pg_ident(column.lower())} "
            f"set default nextval({pg_literal(seq)})"
        ),
    ]


# ---------------------------------------------------------------------------
# A12: indexes / PK / unique (`tablemeta.go:200-255`)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class IndexMeta:
    table: str
    index_name: str
    columns: list[str]  # in SEQ_IN_INDEX order (the B12 GROUP_CONCAT)
    non_unique: bool = True
    index_type: str = "BTREE"  # BTREE | FULLTEXT | SPATIAL


def index_sql(
    idx: IndexMeta,
    distributed: bool = False,
    suffix: str | None = None,
) -> str:
    """`ALTER TABLE ADD PRIMARY KEY` / `CREATE [UNIQUE] INDEX
    <name>_<uuid8>` (`tablemeta.go:215,217`); fulltext/spatial indexes
    have no direct PG-family equivalent and are emitted as plain btree
    (the reference special-cases them similarly); `DISTRIBUTE BY` hash
    for distributed targets (`tablemeta.go:233-241`)."""
    t = pg_ident(idx.table.lower())
    cols = ", ".join(pg_ident(c.lower()) for c in idx.columns)
    if idx.index_name.upper() == "PRIMARY":
        ddl = f"alter table {t} add primary key ({cols})"
        if distributed:
            ddl = f"alter table {t} distribute by hash ({cols}); " + ddl
        return ddl
    # unique index names must be globally unique on PG → uuid suffix,
    # same trick as the reference's uuid()+MD5(RAND()) naming
    sfx = suffix if suffix is not None else uuid.uuid4().hex[:8]
    name = pg_ident(f"{idx.index_name.lower()}_{sfx}")
    unique = "" if idx.non_unique else "unique "
    return f"create {unique}index {name} on {t} ({cols})"


# ---------------------------------------------------------------------------
# A13: foreign keys (`tablemeta.go:257-298`)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ForeignKeyMeta:
    table: str
    constraint_name: str
    columns: list[str]
    ref_table: str
    ref_columns: list[str]
    delete_rule: str = "NO ACTION"
    update_rule: str = "NO ACTION"


def foreign_key_sql(fk: ForeignKeyMeta) -> str:
    """`ALTER TABLE … ADD CONSTRAINT … FOREIGN KEY … REFERENCES … ON
    DELETE/UPDATE <rule>` (`tablemeta.go:278` output shape)."""
    cols = ", ".join(pg_ident(c.lower()) for c in fk.columns)
    rcols = ", ".join(pg_ident(c.lower()) for c in fk.ref_columns)
    return (
        f"alter table {pg_ident(fk.table.lower())} add constraint "
        f"{pg_ident(fk.constraint_name.lower())} foreign key ({cols}) "
        f"references {pg_ident(fk.ref_table.lower())} ({rcols}) "
        f"on delete {fk.delete_rule.lower()} on update {fk.update_rule.lower()}"
    )


# ---------------------------------------------------------------------------
# A14: views (`tablemeta.go:300-331`)
# ---------------------------------------------------------------------------


def rewrite_view_definition(definition: str, source_schema: str) -> str:
    """The reference's dialect rewrites (`tablemeta.go:306`): strip
    backticks, strip `schema.` prefixes, drop convert(… using utf8mb4)
    wrappers."""
    out = definition.replace("`", "")
    if source_schema:
        # guard: with the empty default this replace would strip EVERY
        # dot — "a.x" -> "ax", "1.5" -> "15" (r13 review finding)
        out = out.replace(f"{source_schema}.", "")
    import re

    out = re.sub(
        r"convert\(\s*(.*?)\s+using\s+\w+\s*\)", r"\1", out, flags=re.I
    )
    return out


def view_sql(name: str, definition: str, source_schema: str = "") -> str:
    body = rewrite_view_definition(definition, source_schema)
    return f"create or replace view {name.lower()} as {body}"


# ---------------------------------------------------------------------------
# A15: triggers (`tablemeta.go:333-364`)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class TriggerMeta:
    name: str
    table: str
    timing: str  # BEFORE | AFTER
    event: str  # INSERT | UPDATE | DELETE
    body: str
    extra: dict = field(default_factory=dict)


def trigger_sql(trg: TriggerMeta) -> str:
    """`create or replace trigger … <timing> <event> on <t> for each row
    as <body>`; `#` comments → `--` (`tablemeta.go:339`)."""
    body = "\n".join(
        ("--" + line[1:]) if line.lstrip().startswith("#") else line
        for line in trg.body.splitlines()
    )
    return (
        f"create or replace trigger {pg_ident(trg.name.lower())} "
        f"{trg.timing.lower()} "
        f"{trg.event.lower()} on {pg_ident(trg.table.lower())} "
        f"for each row as {body}"
    )


def trigger_sql_pg(trg: TriggerMeta) -> tuple[str, str]:
    """Vanilla-PostgreSQL two-statement trigger form — exceeds the
    reference: its one-statement `for each row as <body>` grammar
    (`tablemeta.go:339`) is openGauss dialect and vanilla PG rejects
    it, so `trigger_sql` can only ever be string-compared there. This
    form EXECUTES: a named plpgsql trigger function plus a
    `CREATE TRIGGER … EXECUTE FUNCTION` (CREATE OR REPLACE TRIGGER
    needs PG 14+). Body translation stays as light as the reference's
    (`#` → `--`), plus the one MySQL-ism a row trigger body always
    carries: `SET NEW.col = expr` becomes the plpgsql assignment
    `new.col := expr`. The function returns OLD for DELETE and NEW
    otherwise, the standard timing-agnostic epilogue. Proven to fire
    on a live PostgreSQL 15 in tests/test_postgres_live.py."""
    import re

    lines = []
    for line in trg.body.splitlines():
        ls = line.strip()
        if not ls:
            continue
        if ls.startswith("#"):
            lines.append("-- " + ls[1:].strip())
            continue
        m = re.match(r"(?i)^set\s+(new\.\w+)\s*=\s*(.+?);?$", ls)
        if m:
            lines.append(f"{m.group(1).lower()} := {m.group(2)};")
        else:
            # block-opening lines (IF ... THEN / ELSE / LOOP / BEGIN)
            # must NOT get a semicolon — 'IF x THEN;' is a plpgsql
            # syntax error (r13 review finding); statement lines do
            tail = ls.rstrip().lower()
            opens_block = tail.endswith(
                ("then", "else", "loop", "begin")
            )
            lines.append(
                ls if (ls.endswith(";") or opens_block) else ls + ";"
            )
    body = "\n  ".join(lines) or "null;"
    fn = pg_ident(f"{trg.name.lower()}_tgfn")
    func = (
        f"create or replace function {fn}() returns trigger "
        f"language plpgsql as $$\nbegin\n  {body}\n"
        "  if tg_op = 'DELETE' then return old; end if;\n"
        "  return new;\nend $$"
    )
    trig = (
        f"create or replace trigger {pg_ident(trg.name.lower())} "
        f"{trg.timing.lower()} {trg.event.lower()} on "
        f"{pg_ident(trg.table.lower())} for each row execute function {fn}()"
    )
    return func, trig
