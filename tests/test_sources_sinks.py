"""JDBC source/sink option construction + COPY text encoding (no live
database in this environment — execution paths are gated; the plan and
wire-format logic is what's tested)."""

import pytest

from gomysql2pg_spark.plans.pagination import plan_pages
from gomysql2pg_spark.sinks.jdbc import (
    JdbcSinkConfig,
    encode_copy_text,
    writer_options,
)
from gomysql2pg_spark.sources.jdbc import (
    JdbcSourceConfig,
    catalog_query,
    partitioned_reader_options,
    reader_options,
)


def test_reader_options_basic():
    cfg = JdbcSourceConfig(
        url="jdbc:mysql://h:3306/db", user="u", password="p"
    )
    opts = reader_options(cfg, dbtable="orders")
    assert opts["dbtable"] == "orders"
    assert opts["fetchsize"] == "10000"
    assert opts["useCursorFetch"] == "true"


def test_reader_query_mode_is_schema_probe():
    # query= replaces the reference's `where 1=0` probe (root.go:306)
    cfg = JdbcSourceConfig(url="jdbc:mysql://h/db")
    opts = reader_options(cfg, query="select a, b from t where x > 0")
    assert "dbtable" not in opts
    assert opts["query"].startswith("select a, b")


def test_partitioned_reader_caps_parallelism():
    cfg = JdbcSourceConfig(url="jdbc:mysql://h/db", max_parallel=8)
    opts = partitioned_reader_options(
        cfg, "orders", "o_orderkey", 1, 1_000_000, num_partitions=64
    )
    assert opts["numPartitions"] == "8"  # capped like the ref semaphore
    assert opts["partitionColumn"] == "o_orderkey"


def test_catalog_query_shape():
    q = catalog_query("and table_name not like 'tmp_%'")
    assert "information_schema.tables" in q
    assert q.endswith("not like 'tmp_%'")


def test_writer_options_truncate_mode():
    cfg = JdbcSinkConfig(url="jdbc:postgresql://h/db", truncate=True)
    opts = writer_options(cfg, "orders")
    assert opts["truncate"] == "true"
    assert opts["reWriteBatchedInserts"] == "true"


def test_encode_copy_text_wire_format():
    rows = [
        (1, "plain", None),
        (2, "tab\there", "nl\nthere"),
        (3, "back\\slash", "cr\rhere"),
    ]
    out = encode_copy_text(rows)
    lines = out.split("\n")
    assert lines[0] == "1\tplain\t\\N"
    assert lines[1] == "2\ttab\\there\tnl\\nthere"
    assert lines[2] == "3\tback\\\\slash\tcr\\rhere"
    assert out.endswith("\n")


def test_hashmod_predicates_are_portable_sql(spark, sf_dir):
    """The composite-PK predicates must be executable BOTH by Spark and
    by the MySQL source — crc32/concat_ws exist in both dialects."""
    from gomysql2pg_spark.catalog import load_table
    from pyspark.sql import functions as F

    plan = plan_pages(
        "lineitem", 1000, 300, ["l_orderkey", "l_linenumber"], False
    )
    li = load_table(spark, sf_dir, "lineitem")
    n = sum(li.filter(F.expr(p)).count() for p in plan.predicates)
    assert n == li.count()


class _FakeCursor:
    def __init__(self, fail_on_call: int | None = None):
        self.copies: list[tuple[str, str]] = []
        self._fail_on = fail_on_call

    def copy_expert(self, sql, buf):
        if self._fail_on is not None and len(self.copies) + 1 == self._fail_on:
            raise RuntimeError("wire error")
        self.copies.append((sql, buf.read()))


class _FakeConn:
    def __init__(self, fail_on_call=None):
        self.cur = _FakeCursor(fail_on_call)
        self.committed = 0
        self.rolled_back = 0
        self.closed = False

    def cursor(self):
        return self.cur

    def commit(self):
        self.committed += 1

    def rollback(self):
        self.rolled_back += 1

    def close(self):
        self.closed = True


def _fake_psycopg2(monkeypatch, fail_on_call=None):
    """Install a stand-in psycopg2 so write_partition's executor-side
    import resolves to a capture harness (psycopg2 is absent here; the
    real semantics under test — one txn per partition, COPY batching,
    rollback on error — live in OUR code, ref root.go:408-504)."""
    import sys as _sys
    import types

    conns: list[_FakeConn] = []
    mod = types.ModuleType("psycopg2")

    def connect(dsn):
        conn = _FakeConn(fail_on_call)
        conn.dsn = dsn
        conns.append(conn)
        return conn

    mod.connect = connect
    monkeypatch.setitem(_sys.modules, "psycopg2", mod)
    return conns


def test_copy_partition_writer_batches_and_commits_once(monkeypatch):
    """5 rows at batch_rows=2 → 3 COPY calls, ONE commit (page-level
    txn parity with the reference's per-page transaction)."""
    from gomysql2pg_spark.sinks.jdbc import copy_partition_writer

    conns = _fake_psycopg2(monkeypatch)
    fn = copy_partition_writer(
        "dbname=x", "t", ["id", "name"], batch_rows=2
    )
    rows = [(1, "a"), (2, None), (3, "tab\there"), (4, "d"), (5, "e")]
    fn(iter(rows))

    assert len(conns) == 1
    conn = conns[0]
    assert conn.committed == 1 and conn.rolled_back == 0 and conn.closed
    sqls = {s for s, _ in conn.cur.copies}
    assert sqls == {'COPY "t" ("id", "name") FROM STDIN'}
    payload = "".join(b for _, b in conn.cur.copies)
    assert payload == "1\ta\n2\t\\N\n3\ttab\\there\n4\td\n5\te\n"
    # batching: 2 + 2 + 1
    assert [len(b.splitlines()) for _, b in conn.cur.copies] == [2, 2, 1]


def test_copy_partition_writer_doubles_embedded_double_quotes(monkeypatch):
    """A table or column name holding `"` stays one identifier in the
    COPY statement (`"q""q"`), not a PostgreSQL syntax error."""
    from gomysql2pg_spark.sinks.jdbc import copy_partition_writer

    conns = _fake_psycopg2(monkeypatch)
    copy_partition_writer("dbname=x", 't"x', ['q"q'])(iter([(1,)]))
    assert [s for s, _ in conns[0].cur.copies] == [
        'COPY "t""x" ("q""q") FROM STDIN'
    ]


def test_copy_partition_writer_rolls_back_on_error(monkeypatch):
    from gomysql2pg_spark.sinks.jdbc import copy_partition_writer

    conns = _fake_psycopg2(monkeypatch, fail_on_call=2)
    fn = copy_partition_writer("dbname=x", "t", ["id"], batch_rows=1)
    with pytest.raises(RuntimeError, match="wire error"):
        fn(iter([(1,), (2,), (3,)]))
    conn = conns[0]
    assert conn.rolled_back == 1 and conn.committed == 0 and conn.closed
