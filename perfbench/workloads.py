"""The workloads: what one closed-loop run does and how it is checked.

A run is one complete user operation, and the next run starts only when
the previous one finished (one client, one process):

- ``migrate_jdbc_many``: the ``migrate`` command of
  ``gomysql2pg_spark.cli.main`` in this process (createTable ->
  onlyData -> compareDb), from an embedded Derby database through
  ``jdbc:derby:`` into a COPY dump tree, with errorsDir on;
- ``curate_corpus``: one pass of the curation chain through the entries
  of ``__spark_entry__.queries()``.

Each workload also has a warm-up for the set-up, cheaper than a cold run
but through the same code: the migration of two of the tables, or every
chain entry at once. Warm-ups and runs are checked against the input
manifest (migration) or the pinned result digests (curation); every miss
counts as a failure.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import io
import json
import math
import os
import re
import shutil
import time
from dataclasses import dataclass, field
from decimal import Decimal
from pathlib import Path

#: one entry per operator layer; dedup_survivors runs the MinHash LSH of
#: dedup_minhash_lsh and the union-find over its pairs
CURATE_CHAIN = [
    "dedup_survivors",
    "bpe_token_counts",
    "bm25_topk",
    "similarity_ivfpq",
]


@dataclass
class RunResult:
    seconds: float
    attempted: int
    failed: int
    rows: int
    phases: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)


def spark_conf(work: Path, event_dir: Path | None) -> dict:
    """Session settings: every file Spark, the JVM or Derby writes stays
    under `work`; the event log is on only for traced processes."""
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} "
            f"-Dderby.stream.error.file={work / 'derby.log'}"
        ),
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            # zstd, the default codec, needs the absent zstandard module
            "spark.eventLog.compress": "false",
        })
    return conf


# ---------------------------------------------------------------------------
# migration workloads
# ---------------------------------------------------------------------------

_ONLY_DATA = re.compile(r"^(\S+): (\d+) rows in \S+ (ok|FAILED.*)$")
_COMPARE = re.compile(r"^(\S+): src=(-?\d+) dst=(-?\d+) (ok|MISMATCH)$")


@dataclass
class MigrateJob:
    """One `migrate` command: its tables and where it writes."""

    tables: dict
    config: Path
    dump: Path
    errors: Path
    ddl: Path


class Migrate:
    """`migrate` from the seeded Derby database into a COPY dump tree."""

    def __init__(self, inputs: Path, manifest: dict, work: Path, cpus: int):
        self.tables = manifest["tables"]
        self.src = f"jdbc:derby:{inputs / 'derby'}"
        self.cpus = cpus
        self.job = self._job(work / "run", self.tables)
        # every table has the same columns, so the smallest table seeded
        # with U+0000 and the smallest without run every code path of a
        # full run: the side channel, escapes, NUL strip, bytea, decimal
        by_size = sorted(self.tables, key=lambda t: self.tables[t]["rows"])
        nul = [t for t in by_size if self.tables[t]["nul_rows"]]
        clean = [t for t in by_size if not self.tables[t]["nul_rows"]]
        self.warm_job = self._job(
            work / "warm-up", {t: self.tables[t] for t in nul[:1] + clean[:1]})
        self.phases: dict[str, float] = {}
        self._install_phase_timers()

    def _job(self, root: Path, tables: dict) -> MigrateJob:
        import yaml

        root.mkdir(parents=True, exist_ok=True)
        job = MigrateJob(tables, root / "config.yml", root / "dump",
                         root / "errors", root / "ddl.sql")
        job.config.write_text(yaml.safe_dump({
            "src": {"host": self.src},
            "dest": {"dbType": "copydump", "database": str(job.dump)},
            "tables": {t: [] for t in sorted(tables)},
            "errorsDir": str(job.errors),
            "maxParallel": self.cpus,
        }))
        return job

    def _install_phase_timers(self) -> None:
        """Wall time of each CLI phase: a clock read around the phase
        functions `cli.main` calls by module attribute."""
        from gomysql2pg_spark import cli

        for attr, phase in (("cmd_create_table", "create_table_s"),
                            ("cmd_only_data", "only_data_s"),
                            ("cmd_compare_db", "compare_s")):
            fn = getattr(cli, attr)
            fn = getattr(fn, "__wrapped__", fn)

            def timed(*a, _fn=fn, _phase=phase, **kw):
                t0 = time.perf_counter()
                try:
                    return _fn(*a, **kw)
                finally:
                    self.phases[_phase] = time.perf_counter() - t0

            timed.__wrapped__ = fn
            setattr(cli, attr, timed)

    def attach(self, spark) -> None:
        from gomysql2pg_spark.sources.copytext import register_copytext

        register_copytext(spark)

    def warm_up(self) -> RunResult:
        return self._migrate(self.warm_job)

    def run(self) -> RunResult:
        return self._migrate(self.job)

    def _migrate(self, job: MigrateJob) -> RunResult:
        from gomysql2pg_spark import cli

        for d in (job.dump, job.errors):
            shutil.rmtree(d, ignore_errors=True)
        rows = sum(t["rows"] for t in job.tables.values())
        self.phases = {}
        out = io.StringIO()
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(out):
                rc = cli.main(["-c", str(job.config), "migrate",
                               "--out", str(job.ddl)])
        except Exception as exc:  # a raising run fails every table
            seconds = time.perf_counter() - t0
            return RunResult(seconds, len(job.tables), len(job.tables),
                             rows, dict(self.phases),
                             [f"migrate raised {type(exc).__name__}: {exc}"])
        seconds = time.perf_counter() - t0
        errors = self.check(job, rc, out.getvalue())
        return RunResult(seconds, len(job.tables), len(errors), rows,
                         dict(self.phases), errors)

    def check(self, job: MigrateJob, rc: int, stdout: str) -> list[str]:
        """Every table of `job` against the manifest; returns one line
        per failing table (a table fails once however many checks
        miss)."""
        loaded = {m[1]: m for m in map(_ONLY_DATA.match,
                                       stdout.splitlines()) if m}
        compared = {m[1]: m for m in map(_COMPARE.match,
                                         stdout.splitlines()) if m}
        ddl = job.ddl.read_text() if job.ddl.exists() else ""
        invalid = job.errors / "invalidTableData"
        bad = {}
        for t, want in sorted(job.tables.items()):
            n = want["rows"]
            got = loaded.get(t)
            cmp_ = compared.get(t)
            if not got or got[3] != "ok" or int(got[2]) != n:
                bad[t] = f"onlyData: {got[0] if got else 'missing'}"
            elif not cmp_ or int(cmp_[2]) != n or int(cmp_[3]) != n:
                bad[t] = f"compareDb: {cmp_[0] if cmp_ else 'missing'}"
            elif (cmp_[4] == "ok") != (want["expect"] == "content_ok"):
                bad[t] = f"verdict {cmp_[4]}, expected {want['expect']}"
            elif _count_lines(job.dump / t) != n:
                bad[t] = f"dump holds {_count_lines(job.dump / t)} lines"
            elif f'create table "{t}" (' not in ddl:
                bad[t] = "no create table statement"
            elif _count_lines(invalid / t) != want["nul_rows"]:
                bad[t] = (f"invalidTableData holds "
                          f"{_count_lines(invalid / t)} rows, seeded "
                          f"{want['nul_rows']}")
        want_rc = 1 if any(v["expect"] != "content_ok"
                           for v in job.tables.values()) else 0
        if rc != want_rc and not bad:
            bad["<migrate>"] = f"exit code {rc}, expected {want_rc}"
        return [f"{t}: {why}" for t, why in bad.items()]


def _count_lines(path: Path) -> int:
    if not path.is_dir():
        return -1
    n = 0
    for part in path.iterdir():
        if part.name.startswith("part-"):
            with open(part, "rb") as f:
                while chunk := f.read(1 << 20):
                    n += chunk.count(b"\n")
    return n


# ---------------------------------------------------------------------------
# curation workload
# ---------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def result_digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: rows as tuples of
    normalized values with columns sorted by name, sorted by repr."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    keys = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(c.lower() for c in columns)).encode())
    for k in keys:
        h.update(k.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


class Curate:
    """One pass of the curation chain over the seeded corpus."""

    def __init__(self, inputs: Path, manifest: dict):
        import __spark_entry__

        self.sf = str(inputs / "tables")
        self.rows = manifest["rows"]
        self.pins_path = inputs / "pins.json"
        queries = __spark_entry__.queries()
        self.entries = {n: queries[n] for n in CURATE_CHAIN}
        self.pins = self._oracle_pins(__spark_entry__.oracle_sql())
        self.wrap = None  # set by the traced run: (entry, thunk) -> value

    def _oracle_pins(self, oracles: dict) -> dict:
        """Digest of each oracled entry's DuckDB oracle on this corpus,
        computed once per input tree (and again if the SQL changes)."""
        import duckdb

        pins = (json.loads(self.pins_path.read_text())
                if self.pins_path.exists() else {})
        con = None
        for name in CURATE_CHAIN:
            sql = oracles.get(name)
            if sql is None:
                continue
            sql_hash = hashlib.sha256(sql.encode()).hexdigest()[:16]
            if pins.get(name, {}).get("sql") == sql_hash:
                continue
            if con is None:
                con = duckdb.connect()
                for t in ("documents", "embeddings"):
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf}/{t}.parquet')")
            rel = con.execute(sql)
            cols = [d[0] for d in rel.description]
            pins[name] = {"sql": sql_hash,
                          "digest": result_digest(cols, rel.fetchall())}
        if con is not None:
            con.close()
        self._save(pins)
        return pins

    def _save(self, pins: dict) -> None:
        tmp = self.pins_path.with_suffix(f".tmp{os.getpid()}")
        tmp.write_text(json.dumps(pins, indent=1, sort_keys=True))
        os.replace(tmp, self.pins_path)

    def attach(self, spark) -> None:
        self.spark = spark

    def _call(self, fn):
        df = fn(self.spark, self.sf)
        return df.columns, df.collect()

    def warm_up(self) -> RunResult:
        """Every chain entry at once, one thread each. The first call of
        an entry pays for JIT, code generation and the IVF-PQ codebook
        training (cached in-process after it); at once, those costs
        overlap instead of adding up."""
        from concurrent.futures import ThreadPoolExecutor

        phases = {}

        def call(name, fn):
            try:
                return self._call(fn)
            finally:
                phases[name] = time.perf_counter() - t0

        t0 = time.perf_counter()
        with ThreadPoolExecutor(len(self.entries)) as pool:
            futures = {name: pool.submit(call, name, fn)
                       for name, fn in self.entries.items()}
        seconds = time.perf_counter() - t0
        results, errors = {}, []
        for name, future in futures.items():
            try:
                results[name] = future.result()
            except Exception as exc:  # a stage that raises is a failure
                errors.append(f"{name}: raised {type(exc).__name__}: {exc}")
        errors += self.check(results)
        return RunResult(seconds, len(self.entries), len(errors), self.rows,
                         phases, errors)

    def run(self) -> RunResult:
        results, errors, phases = {}, [], {}
        t0 = time.perf_counter()
        for name, fn in self.entries.items():
            t1 = time.perf_counter()
            try:
                results[name] = (self.wrap(name, lambda fn=fn: self._call(fn))
                                 if self.wrap else self._call(fn))
            except Exception as exc:  # a stage that raises is a failure
                errors.append(f"{name}: raised {type(exc).__name__}: {exc}")
            phases[name] = time.perf_counter() - t1
        seconds = time.perf_counter() - t0
        errors += self.check(results)
        return RunResult(seconds, len(self.entries), len(errors), self.rows,
                         phases, errors)

    def check(self, results: dict) -> list[str]:
        """Each result's digest against its pin; returns one line per
        mismatch."""
        errors = []
        for name, (cols, rows) in results.items():
            got = result_digest(cols, rows)
            pin = self.pins.get(name)
            if pin is None:  # rows-only entry: pinned by its first run
                self.pins[name] = {"sql": None, "digest": got}
                self._save(self.pins)
            elif pin["digest"] != got:
                errors.append(f"{name}: digest {got}, pinned "
                              f"{pin['digest']}")
        return errors
