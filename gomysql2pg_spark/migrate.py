"""Migration orchestration (reference A17-A22, `cmd/root.go:60-213`).

The reference hand-builds: a semaphore-bounded goroutine pool, a failure
channel, per-category logs, and an ASCII summary. Spark's scheduler
replaces the per-page concurrency entirely (numPartitions caps source
connections); what remains is per-TABLE orchestration — a thread pool
submitting independent Spark jobs (FAIR-scheduler friendly), failure
accounting, and job-group based cancellation (A19).

No source/target database exists in the test environment; the pipeline
is exercised in tests with parquet-in → transform → parquet-out, which
runs the identical orchestration code path.
"""

from __future__ import annotations

import contextlib
import signal
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import validate as _validate
from .functions.patterns import excluded_tables
from .validate import TableCompareResult


@dataclass
class ConnConfig:
    """One side of the yml's src/dest blocks (`example.yml:1-12`,
    viper load at `cmd/app.go:21-34`)."""

    host: str = ""
    port: int = 0
    database: str = ""
    username: str = ""
    password: str = ""
    dbtype: str = ""  # dest-only: postgres|gauss|vastbase|kingbase


@dataclass
class MigrationConfig:
    """The example.yml surface (`example.yml:1-26`, viper load at
    `cmd/app.go:21-34`)."""

    page_size: int = 100_000
    max_parallel: int = 20  # table-level concurrency (root.go:107-109)
    exclude: list[str] = field(default_factory=list)
    tables: dict[str, str] = field(default_factory=dict)  # custom SQL map
    char_in_length: bool = False
    use_nvarchar2: bool = False
    distributed: bool = False
    src: ConnConfig = field(default_factory=ConnConfig)
    dest: ConnConfig = field(default_factory=ConnConfig)
    errors_dir: str = ""  # side-channel root (cmd/app.go:83-103 LogError)

    @classmethod
    def from_yaml(cls, path: str) -> "MigrationConfig":
        """Parse an example.yml-shaped file (`example.yml:1-26`): src/
        dest blocks, pageSize, maxParallel, charInLength, useNvarchar2,
        Distributed, tables (name → [custom SQL]), exclude patterns.
        Key casing follows the reference's viper lookups
        (`cmd/app.go:21-34`, `cmd/root.go:526-560`)."""
        import yaml

        with open(path) as f:
            raw = yaml.safe_load(f) or {}

        def conn(block: dict, with_dbtype: bool = False) -> ConnConfig:
            return ConnConfig(
                host=str(block.get("host", "")),
                port=int(block.get("port", 0) or 0),
                database=str(block.get("database", "")),
                username=str(block.get("username", "")),
                password=str(block.get("password", "")),
                dbtype=str(block.get("dbType", "") or "").lower()
                if with_dbtype
                else "",
            )

        # the yml maps each table to a LIST of custom SQL (the reference
        # takes the list head, root.go:531-545); normalize to one string
        tables = {}
        for name, sqls in (raw.get("tables") or {}).items():
            if isinstance(sqls, list):
                tables[str(name)] = str(sqls[0]) if sqls else ""
            else:
                tables[str(name)] = str(sqls)
        return cls(
            page_size=int(raw.get("pageSize") or 100_000),
            max_parallel=int(raw.get("maxParallel") or 20),
            exclude=[str(p) for p in (raw.get("exclude") or [])],
            tables=tables,
            char_in_length=bool(raw.get("charInLength", False)),
            use_nvarchar2=bool(raw.get("useNvarchar2", False)),
            distributed=bool(raw.get("Distributed", False)),
            src=conn(raw.get("src") or {}),
            dest=conn(raw.get("dest") or {}, with_dbtype=True),
            errors_dir=str(raw.get("errorsDir", "") or ""),
        )


@dataclass
class TableResult:
    table: str
    rows: int = 0
    ok: bool = False
    error: str = ""
    seconds: float = 0.0
    error_rows: int = 0  # rows logged to the invalidTableData channel


@dataclass
class MigrationReport:
    """Per-category (begin, end, failed, elapsed) summary
    (`root.go:166-209`, readme.md:116-135)."""

    results: list[TableResult] = field(default_factory=list)
    started: float = field(default_factory=time.time)
    finished: float = 0.0

    @property
    def failed(self) -> list[str]:
        return [r.table for r in self.results if not r.ok]

    def summary(self) -> dict:
        return {
            "tables_total": len(self.results),
            "tables_failed": len(self.failed),
            "failed": self.failed,
            "rows_total": sum(r.rows for r in self.results),
            "elapsed_sec": round(
                (self.finished or time.time()) - self.started, 3
            ),
            "per_table": {
                r.table: {
                    "rows": r.rows,
                    "ok": r.ok,
                    "sec": round(r.seconds, 3),
                    **({"error": r.error} if r.error else {}),
                }
                for r in self.results
            },
        }


def _empty_json_output(spark: SparkSession, path: str) -> None:
    """Replace `path` with what an empty Spark JSON write leaves (an
    empty part file and an empty `_SUCCESS` marker), through Hadoop's
    FileSystem for the path, the layer Spark's writers use: a few py4j
    calls and no Spark job. A reader without a schema still infers one
    from the empty part file."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fs.delete(hpath, True)
    fs.mkdirs(hpath)
    for name in ("part-00000.json", "_SUCCESS"):
        fs.create(jvm.org.apache.hadoop.fs.Path(hpath, name)).close()


class Migrator:
    """Bounded-parallel per-table pipeline driver.

    transform_fn: DataFrame -> DataFrame (the cell-transform layer)
    sink_fn: (DataFrame, table) -> None   (JDBC/COPY/parquet writer)
    """

    #: analog of the reference's `/* gomysql2pg */` query tag
    #: (`cmd/root.go:394`) — the job-group name the SIGINT sweep cancels
    JOB_GROUP = "gomysql2pg-migrate"

    def __init__(
        self,
        spark: SparkSession,
        config: MigrationConfig,
        source_fn,
        sink_fn,
        transform_fn=None,
        error_predicate=None,
    ):
        self.spark = spark
        self.config = config
        self.source_fn = source_fn
        self.sink_fn = sink_fn
        self.transform_fn = transform_fn or (lambda df: df)
        # error_predicate: DataFrame -> Column marking the offending
        # source rows (e.g. functions.transforms.nul_predicate); they
        # are written to the invalidTableData side-channel when
        # config.errors_dir is set (`cmd/root.go:450-470`,
        # `cmd/app.go:83-103`).
        self.error_predicate = error_predicate
        self._cancel = threading.Event()

    def cancel(self):
        """A19: SIGINT-style cancellation — cancel the job group instead
        of killing source sessions (`cmd/app.go:186-216` exitHandle →
        cleanDBconn kills `/* gomysql2pg */`-tagged queries; Spark's
        job-group cancel is the engine-native equivalent)."""
        self._cancel.set()
        self.spark.sparkContext.cancelJobGroup(self.JOB_GROUP)

    @contextlib.contextmanager
    def _sigint_handler(self):
        """Install SIGINT → cancel() for the duration of run() or
        validate() (`cmd/app.go:186-216`, wired at
        `cmd/root.go:100-104`). Only the main thread may install signal
        handlers; elsewhere (e.g. a test worker) this is a no-op and
        cancel() remains callable directly."""
        if threading.current_thread() is not threading.main_thread():
            yield
            return
        prev = signal.getsignal(signal.SIGINT)

        def handler(signum, frame):
            self.cancel()

        signal.signal(signal.SIGINT, handler)
        try:
            yield
        finally:
            signal.signal(signal.SIGINT, prev)

    def _start_table(self, table: str, phase: str) -> bool:
        """Per-table prologue of run() and validate(): False once
        cancel() has fired (the caller reports the table as cancelled
        and starts nothing); otherwise tags this thread's Spark jobs
        with JOB_GROUP so that cancel() reaches them."""
        if self._cancel.is_set():
            return False
        self.spark.sparkContext.setJobGroup(
            self.JOB_GROUP, f"/* gomysql2pg */ {phase} {table}", True
        )
        return True

    def _write_error_rows(
        self, df: DataFrame, table: str, flagged: int
    ) -> int:
        """invalidTableData side-channel (`cmd/root.go:450-470`): write
        the offending rows under errors_dir/invalidTableData/<table> as
        JSON lines, replacing what an earlier run left there. `flagged`
        is the pump scan's own count of such rows; only when it is
        above 0 does a filtered scan run (the predicate pushes down to
        the source, so at scale it reads only matching row groups), and
        the count returned is the one that write observed. A clean
        table's directory is replaced through Hadoop's FileSystem by
        what an empty Spark write leaves, without a Spark job or
        touching the source."""
        path = f"{self.config.errors_dir}/invalidTableData/{table}"
        if not flagged:
            _empty_json_output(self.spark, path)
            return 0
        obs = Observation()
        (
            df.filter(self.error_predicate(df))
            .observe(obs, F.expr("count(1) AS rows"))
            .write.mode("overwrite")
            .json(path)
        )
        return int(obs.get["rows"])

    def _side_channel(self) -> bool:
        return bool(self.error_predicate and self.config.errors_dir)

    def _pump_frame(self, df: DataFrame) -> tuple[DataFrame, Observation]:
        """The frame the sink consumes, and its Observation. One
        Observation on the source piggybacks on the sink's action: the
        row count (transform_fn maps cells, so it is exactly what the
        sink consumed) and, with the side channel on, the number of
        offending rows — one source scan for a clean table."""
        metrics = [F.expr("count(1) AS rows")]
        if self._side_channel():
            metrics.append(
                F.count_if(self.error_predicate(df)).alias("flagged")
            )
        obs = Observation()
        return self.transform_fn(df.observe(obs, *metrics)), obs

    def _run_table(self, table: str) -> TableResult:
        t0 = time.time()
        res = TableResult(table=table)
        if not self._start_table(table, "migrate"):
            res.error = "cancelled"
            return res
        side_channel = self._side_channel()
        try:
            df: DataFrame = self.source_fn(table)
            out, obs = self._pump_frame(df)
            self.sink_fn(out, table)
            res.rows = int(obs.get["rows"])
            if side_channel:
                res.error_rows = self._write_error_rows(
                    df, table, int(obs.get["flagged"])
                )
            res.ok = True
        except Exception as exc:  # failure accounting (A18/A21)
            res.error = f"{exc}\n{traceback.format_exc(limit=3)}"
        res.seconds = time.time() - t0
        return res

    def run(self, tables: list[str]) -> MigrationReport:
        report = MigrationReport()
        todo = excluded_tables(tables, self.config.exclude)
        with self._sigint_handler(), ThreadPoolExecutor(
            max_workers=self.config.max_parallel
        ) as pool:
            futures = {pool.submit(self._run_table, t): t for t in todo}
            for fut in as_completed(futures):
                report.results.append(fut.result())
        report.finished = time.time()
        report.results.sort(key=lambda r: r.table)
        return report

    def validate(
        self, tables: list[str], dst_fn
    ) -> list[TableCompareResult]:
        """compareDb phase (`cmd/compare.go:23-100`), fanned out on the
        same bounded pool, with content-hash upgrade. `dst_fn(table,
        src_df)` re-reads what was loaded; it gets the source DataFrame
        because a headerless dump takes its schema from it. Results
        come back in `tables` order. Like run(), it honours cancel() and
        SIGINT: a table not yet started comes back as a failed row with
        error "cancelled"."""
        def one(t: str) -> TableCompareResult:
            if not self._start_table(t, "compare"):
                return TableCompareResult(t, -1, -2, error="cancelled")
            # per-table failure accounting, like run(): one missing /
            # unreadable table must yield a failed ROW in the report,
            # not abort the whole compare and discard every other
            # table's result (pool.map re-raises the first exception)
            try:
                src = self.source_fn(t)
                try:
                    # looked up on the module at call time, so a
                    # wrapper installed on it (tracing) sees the call
                    return _validate.compare_tables(src, dst_fn(t, src), t)
                except Exception as exc:
                    return TableCompareResult(
                        t, src.count(), -1, error=f"target unreadable: {exc}"
                    )
            except Exception as exc:
                return TableCompareResult(
                    t, -1, -2, error=f"source unreadable: {exc}"
                )

        with self._sigint_handler(), ThreadPoolExecutor(
            max_workers=self.config.max_parallel
        ) as pool:
            return list(
                pool.map(one, excluded_tables(tables, self.config.exclude))
            )
