"""DDL-generator golden tests (reference A10-A15,
`cmd/tablemeta.go:48-364`)."""

from gomysql2pg_spark.ddl import (
    ForeignKeyMeta,
    IndexMeta,
    TriggerMeta,
    create_table_sql,
    foreign_key_sql,
    index_sql,
    rewrite_view_definition,
    sequence_sql,
    trigger_sql,
    view_sql,
)
from gomysql2pg_spark.functions.typemap import ColumnMeta


def test_create_table_sql():
    cols = [
        ColumnMeta(
            name="ID",
            data_type="int",
            is_nullable="NO",
            ordinal_position=1,
        ),
        ColumnMeta(
            name="Name",
            data_type="varchar",
            char_max_len=50,
            default="x",
            ordinal_position=2,
        ),
        ColumnMeta(name="body", data_type="longtext", ordinal_position=3),
    ]
    drop, create = create_table_sql("MyTable", cols)
    assert drop == 'drop table if exists "mytable" cascade'
    assert create == (
        'create table "mytable" ("id" int not null, '
        "\"name\" varchar(50) default 'x', \"body\" text)"
    )


def test_create_table_flag_variants():
    cols = [
        ColumnMeta(
            name="v", data_type="varchar", char_max_len=10, ordinal_position=1
        )
    ]
    assert "varchar(10 char)" in create_table_sql("t", cols, char_in_length=True)[1]
    assert "nvarchar2(10)" in create_table_sql("t", cols, use_nvarchar2=True)[1]


def test_sequence_sql():
    stmts = sequence_sql("Orders", "ID", 1001)
    assert stmts == [
        'drop sequence if exists "seq_orders_id"',
        'create sequence "seq_orders_id" increment by 1 start 1001',
        'alter table "orders" alter column "id" '
        """set default nextval('"seq_orders_id"')""",
    ]


def test_index_sql_variants():
    pk = IndexMeta("T", "PRIMARY", ["a", "b"], non_unique=False)
    assert index_sql(pk) == 'alter table "t" add primary key ("a", "b")'
    assert index_sql(pk, distributed=True).startswith(
        'alter table "t" distribute by hash ("a", "b"); '
    )
    uniq = index_sql(
        IndexMeta("T", "IX_Name", ["c"], non_unique=False), suffix="abcd1234"
    )
    assert uniq == 'create unique index "ix_name_abcd1234" on "t" ("c")'
    plain = index_sql(
        IndexMeta("T", "IX2", ["c", "d"], non_unique=True), suffix="ff00ff00"
    )
    assert plain == 'create index "ix2_ff00ff00" on "t" ("c", "d")'


def test_foreign_key_sql():
    fk = ForeignKeyMeta(
        table="Orders",
        constraint_name="FK_Cust",
        columns=["cust_id"],
        ref_table="Customer",
        ref_columns=["id"],
        delete_rule="CASCADE",
        update_rule="NO ACTION",
    )
    assert foreign_key_sql(fk) == (
        'alter table "orders" add constraint "fk_cust" foreign key '
        '("cust_id") references "customer" ("id") '
        "on delete cascade on update no action"
    )


def test_view_rewrites():
    d = "select `a`, convert(`b` using utf8mb4) from mydb.`t`"
    out = rewrite_view_definition(d, "mydb")
    assert out == "select a, b from t"
    assert view_sql("V1", d, "mydb") == (
        "create or replace view v1 as select a, b from t"
    )


def test_trigger_sql_comment_rewrite():
    trg = TriggerMeta(
        name="Trg",
        table="T",
        timing="BEFORE",
        event="INSERT",
        body="# set it\nset new.x = 1;",
    )
    out = trigger_sql(trg)
    assert "-- set it" in out
    assert out.startswith(
        'create or replace trigger "trg" before insert on "t" for each row as'
    )


def test_trigger_sql_pg_two_statement_form():
    from gomysql2pg_spark.ddl import TriggerMeta, trigger_sql_pg

    trg = TriggerMeta(
        name="TRG",
        table="T",
        timing="BEFORE",
        event="INSERT",
        body="# note\nSET NEW.x = NEW.x + 1\nperform 1",
    )
    func, trig = trigger_sql_pg(trg)
    assert func.startswith(
        'create or replace function "trg_tgfn"() returns trigger'
    )
    assert "-- note" in func
    assert "new.x := NEW.x + 1;" in func
    assert "perform 1;" in func
    assert "if tg_op = 'DELETE' then return old" in func
    assert trig == (
        'create or replace trigger "trg" before insert on "t" '
        'for each row execute function "trg_tgfn"()'
    )


def test_view_rewrite_empty_schema_keeps_dots():
    """r13 review finding: with the (default) empty source schema the
    prefix strip degenerated to removing EVERY dot — 'a.x' -> 'ax',
    '1.5' -> '15' — corrupting any metadata-block view that omitted
    sourceSchema."""
    from gomysql2pg_spark.ddl import view_sql

    out = view_sql("v1", "select a.x, 1.5 as y from tbl a")
    assert "a.x" in out and "1.5" in out


def test_trigger_pg_form_keeps_if_blocks_valid():
    """r13 review finding: the line-terminator pass appended ';' to
    EVERY unterminated line, turning 'IF ... THEN' into the plpgsql
    syntax error 'IF ... THEN;'. Block-opening lines stay bare."""
    from gomysql2pg_spark.ddl import TriggerMeta, trigger_sql_pg

    trg = TriggerMeta(
        name="trg_block",
        table="orders",
        timing="BEFORE",
        event="UPDATE",
        body=(
            "IF NEW.qty > 0 THEN\n"
            "  SET NEW.total = NEW.qty * 2;\n"
            "END IF;"
        ),
    )
    func_sql, _ = trigger_sql_pg(trg)
    assert "if new.qty > 0 then\n" in func_sql.lower().replace("  ", "")
    assert "then;" not in func_sql.lower()
    assert "new.total := new.qty * 2;" in func_sql.lower()


def test_embedded_double_quote_is_doubled_in_every_identifier():
    """A MySQL name may hold `"`; PostgreSQL reads `"q""q"` as the one
    identifier q"q, while `"q"q"` is a syntax error. Every table and
    column name the generators quote doubles the embedded quote."""
    from gomysql2pg_spark.ddl import trigger_sql_pg

    cols = [ColumnMeta(name='q"q', data_type="int", ordinal_position=1)]
    drop, create = create_table_sql('T"x', cols)
    assert drop == 'drop table if exists "t""x" cascade'
    assert create == 'create table "t""x" ("q""q" int)'
    assert sequence_sql('T"x', 'I"d', 1)[2].startswith(
        'alter table "t""x" alter column "i""d" set default nextval('
    )
    pk = IndexMeta('T"x', "PRIMARY", ['a"b'], non_unique=False)
    assert index_sql(pk, distributed=True) == (
        'alter table "t""x" distribute by hash ("a""b"); '
        'alter table "t""x" add primary key ("a""b")'
    )
    ix = IndexMeta('T"x', "IX", ['a"b'], non_unique=True)
    assert index_sql(ix, suffix="00") == (
        'create index "ix_00" on "t""x" ("a""b")'
    )
    fk = ForeignKeyMeta('O"r', "FK", ['c"id'], 'C"u', ['i"d'])
    assert foreign_key_sql(fk) == (
        'alter table "o""r" add constraint "fk" foreign key ("c""id") '
        'references "c""u" ("i""d") on delete no action on update no action'
    )
    trg = TriggerMeta("trg", 'T"x', "BEFORE", "INSERT", "perform 1")
    assert ' on "t""x" for each row as ' in trigger_sql(trg)
    assert trigger_sql_pg(trg)[1] == (
        'create or replace trigger "trg" before insert on "t""x" '
        'for each row execute function "trg_tgfn"()'
    )


def test_object_names_are_quoted_identifiers():
    """The sequence, index, constraint, trigger and trigger-function
    names are identifiers too: built from table `T"x` and column `I"d`
    they must come out quoted with the embedded `"` doubled, and the
    sequence name inside `nextval('…')` must also follow the
    single-quote literal rule (a `'` in the name doubled)."""
    from gomysql2pg_spark.ddl import trigger_sql_pg

    assert sequence_sql('T"x', 'I"d', 7) == [
        'drop sequence if exists "seq_t""x_i""d"',
        'create sequence "seq_t""x_i""d" increment by 1 start 7',
        'alter table "t""x" alter column "i""d" '
        """set default nextval('"seq_t""x_i""d"')""",
    ]
    assert sequence_sql("T'x", "I d", 1)[2] == (
        """alter table "t'x" alter column "i d" """
        """set default nextval('"seq_t''x_i d"')"""
    )
    ix = IndexMeta('T"x', 'I"d', ["a"], non_unique=False)
    assert index_sql(ix, suffix="0") == (
        'create unique index "i""d_0" on "t""x" ("a")'
    )
    fk = ForeignKeyMeta('T"x', 'F"k', ['I"d'], "p", ["id"])
    assert foreign_key_sql(fk).startswith(
        'alter table "t""x" add constraint "f""k" foreign key ("i""d") '
    )
    trg = TriggerMeta('T"g', 'T"x', "AFTER", "UPDATE", "perform 1")
    assert trigger_sql(trg).startswith(
        'create or replace trigger "t""g" after update on "t""x" '
    )
    func, trig = trigger_sql_pg(trg)
    assert func.startswith('create or replace function "t""g_tgfn"() ')
    assert trig == (
        'create or replace trigger "t""g" after update on "t""x" '
        'for each row execute function "t""g_tgfn"()'
    )
