"""Building a migrated table's plans costs a few py4j calls per column.

The COPY decoder, the COPY encoder, compareDb's observed union and the
CLI data phase's pump frame (NUL strip, NUL predicate, Observation) are
generated as SQL text and parsed by the JVM. Built one Column node at a
time they cost about 290 py4j commands per column; a wide table then
spends seconds of driver CPU before its first job. Each builder here
runs without an action, and its commands are counted at the py4j
connection.
"""

from __future__ import annotations

import gc

import pytest
from py4j.clientserver import ClientServerConnection

#: one of each type the pump moves, cycled to the schema's width
_TYPES = (
    ("bigint", "id"),
    ("string", "concat('a', chr(0), cast(id as string))"),
    ("double", "id / 3"),
    ("decimal(12,3)", "cast(id as decimal(12,3))"),
    ("date", "date'2020-01-02'"),
    ("timestamp", "timestamp'2020-01-02 03:04:05'"),
    ("boolean", "id % 2 = 0"),
    ("binary", "cast('xy' as binary)"),
)


def _frame(spark, n: int):
    cols = []
    for i in range(n):
        ty, expr = _TYPES[i % len(_TYPES)]
        cols.append(f"cast({expr} as {ty}) AS c{i}")
    return spark.range(1).selectExpr(*cols)


@pytest.fixture()
def py4j_commands(monkeypatch):
    """count(build) -> the py4j commands `build()` sends, leaving out
    object releases (`m\\n`), which depend on when Python collects."""
    sent = {"n": 0}
    real = ClientServerConnection.send_command

    def send(self, command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent["n"] += 1
        return real(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", send)

    def count(build) -> int:
        gc.disable()
        sent["n"] = 0
        try:
            build()
        finally:
            gc.enable()
        return sent["n"]

    return count


def _cli_migrator(spark, tmp_path, monkeypatch, src):
    """The Migrator `cli.cmd_only_data` builds (its transform and
    error predicate), captured instead of run."""
    from gomysql2pg_spark import cli
    from gomysql2pg_spark.migrate import (
        MigrationConfig,
        MigrationReport,
        Migrator,
    )

    seen = []

    def capture(self, tables):
        seen.append(self)
        return MigrationReport()

    monkeypatch.setattr(Migrator, "run", capture)
    cfg = MigrationConfig(errors_dir=str(tmp_path / "errors"))
    cli.cmd_only_data(spark, cfg, [], lambda t: src, None)
    return seen[0]


@pytest.mark.parametrize("n", [8, 64])
def test_plan_builders_stay_within_py4j_budget(
    spark, tmp_path, monkeypatch, py4j_commands, n
):
    from gomysql2pg_spark import validate
    from gomysql2pg_spark.sinks.jdbc import copy_text_line
    from gomysql2pg_spark.sources.copytext import read_copy_text

    src = _frame(spark, n)
    schema = src.schema
    path = str(tmp_path / "dump")
    (tmp_path / "dump").mkdir()
    dump = read_copy_text(spark, path, schema)
    mig = _cli_migrator(spark, tmp_path, monkeypatch, src)
    builders = {
        "read_copy_text": lambda: read_copy_text(spark, path, schema),
        "encoder": lambda: src.select(
            copy_text_line(schema.fields).alias("value")
        ),
        "observed_union": lambda: validate._observed_union(
            src, dump, True
        ),
        "cli_pump_frame": lambda: mig._pump_frame(src),
    }
    budget = 60 + 4 * n
    counts = {name: py4j_commands(b) for name, b in builders.items()}
    assert all(counts.values()), f"no command counted: {counts}"
    over = {k: v for k, v in counts.items() if v > budget}
    assert not over, f"over {budget} py4j commands at {n} columns: {over}"
