"""Benchmark entry point.

    python3 perfbench/run.py --workload migrate_jdbc_many --seed 1 \\
        --seconds 5 --trace 0

Run from the root of a checkout. The program under test is imported
from that checkout only. Inputs are generated from ``--seed`` (cached,
outside every timed region). Set-up is the JVM and session start, the
copytext registration and the workload's warm-up; ``setup_s`` is the
time from process start to the first timed run, less input generation.
Then the workload runs in a closed loop until ``--seconds`` have passed
(at least one run), and every run is checked.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, makes one untimed run, spends the first half of the
window on traced runs (span wrappers around each layer's entry points)
and the second half on untraced runs, then folds the event log into
per-layer metrics. The last line of standard output is one JSON object;
progress goes to stderr.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402
from statistics import median  # noqa: E402

# the benchmark's own modules (perfbench/ is on sys.path as the script dir)
import inputs  # noqa: E402
import procstat  # noqa: E402
import workloads  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("migrate_jdbc_many", "curate_corpus")

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "mean_rss_mb": "MB",
}
#: wall-clock figures of the timed runs, printed with the end-to-end
#: metrics but not in the result: hypervisor steal on the host moves
#: them by more than any bound the benchmark may set (see README.md)
WALL_CLOCK = {
    "run_s": "s",
    "rows_per_s": "1/s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def program_present() -> bool:
    """The package and the registry module must be this checkout's."""
    if not (ROOT / "gomysql2pg_spark" / "__init__.py").is_file():
        return False
    if not (ROOT / "__spark_entry__.py").is_file():
        return False
    sys.path.insert(0, str(ROOT))
    import gomysql2pg_spark

    return Path(gomysql2pg_spark.__file__).resolve().parent.parent == ROOT


class Session:
    """The SparkSession of this process and the JVM behind it."""

    def __init__(self, conf: dict):
        self.conf = conf
        self.spark = None

    def start(self) -> float:
        """Build the session; returns the seconds `get_spark` took."""
        from gomysql2pg_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=self.conf)
        took = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return took

    def full_gc(self) -> None:
        """Collect garbage in the JVM and here, so that every timed run
        starts from the same heap state (JVM memory is most of the
        process tree's, and its growth depends on when G1 last ran)."""
        import gc

        gc.collect()
        self.spark._jvm.java.lang.System.gc()
        # G1 returns the freed heap to the OS shortly after the collection,
        # not during it; without the wait that happens inside the next run
        time.sleep(2)

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its workers) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def summarize(name: str, unit: str, xs: list) -> str:
    return (f"{name} = {median(xs):.4f} {unit} (median of n={len(xs)}; "
            f"max {max(xs):.4f})")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        print("perfbench: gomysql2pg_spark/ and __spark_entry__.py must be "
              "in the checkout root", file=sys.stderr)
        return 2

    import tempfile

    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True)
    # everything the program writes to a temp dir stays in the checkout
    saved_env = {k: os.environ.get(k) for k in ("TMPDIR", "SPARK_GRAFT_CPUS")}
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    tempfile.tempdir = None

    event_dir = None
    if args.trace:
        event_dir = work / "events"
        event_dir.mkdir()
    session = Session(workloads.spark_conf(work, event_dir))
    try:
        return measure(args, session, work, event_dir, cpus)
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
        for k, v in saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = None


def measure(args, session, work, event_dir, cpus) -> int:
    t_gen = time.perf_counter()
    in_dir, manifest = inputs.ensure_inputs(
        ROOT / ".perfbench" / "inputs", args.workload, args.seed)
    if args.workload == "curate_corpus":
        wl = workloads.Curate(in_dir, manifest)
    else:
        wl = workloads.Migrate(in_dir, manifest, work, cpus)
    gen_s = time.perf_counter() - t_gen
    log(f"inputs ready in {gen_s:.2f}s: {in_dir.name}")

    attempted = failed = 0
    errors: list[str] = []

    def account(res):
        nonlocal attempted, failed
        attempted += res.attempted
        failed += res.failed
        errors.extend(res.errors)

    # --- set-up: session, copytext registration, warm-up
    get_spark_s = session.start()
    wl.attach(session.spark)
    res = wl.warm_up()
    account(res)
    setup_s = time.time() - T_PROCESS - gen_s
    log(f"set-up: {setup_s:.2f}s (get_spark {get_spark_s:.2f}s, warm-up "
        f"{res.seconds:.2f}s: " + " ".join(
            f"{k}={v:.2f}" for k, v in res.phases.items()) + ")")

    jvm = session.jvm_pid()
    roots = [os.getpid()]
    if jvm not in procstat.tree_pids(roots):
        roots.append(jvm)
    sampler = procstat.TreeSampler(roots)

    def timed_loop(seconds: float, tracer=None) -> list:
        """Runs until `seconds` have passed; at least one."""
        samples = []
        start = time.perf_counter()
        while not samples or time.perf_counter() - start < seconds:
            if tracer is not None:
                tracer.next_run()
            session.full_gc()
            sampler.start()
            res = wl.run()
            cpu, mean, peak = sampler.stop()
            account(res)
            samples.append({
                "run_s": res.seconds, "cpu_s": cpu,
                "mean_rss_mb": mean / 2**20,
                "rows_per_s": res.rows / res.seconds,
                **{f"phase.{k}": v for k, v in res.phases.items()},
            })
            log(f"run {len(samples)}: {res.seconds:.3f}s cpu {cpu:.2f}s "
                f"memory mean {mean / 2**20:.0f}MB peak {peak / 2**20:.0f}MB "
                f"failed {res.failed} " + " ".join(
                    f"{k}={v:.2f}" for k, v in res.phases.items()))
        return samples

    steal0, load0 = procstat.steal_jiffies(), procstat.load_1m()
    if not args.trace:
        samples = timed_loop(args.seconds)
        metrics = {k: median([s[k] for s in samples])
                   for k in END_TO_END if k != "setup_s"}
        metrics["setup_s"] = setup_s
        units = END_TO_END
    else:
        import spans

        # one more run first, untimed, so that the traced and the
        # untraced run after it are both past the warm-up's tail; the
        # untraced run comes last and is the warmer one, so
        # trace.overhead_s errs high rather than low
        res = wl.run()
        account(res)
        log(f"settling run: {res.seconds:.3f}s")
        tracer = spans.Tracer(session.spark, wl)
        tracer.install()
        try:
            traced = timed_loop(args.seconds / 2, tracer)
        finally:
            tracer.uninstall()
        untraced = timed_loop(args.seconds / 2)
        app_id = session.spark.sparkContext.applicationId
        session.spark.stop()  # flushes the event log
        session.spark = None
        metrics = spans.fold(tracer, spans.event_log(event_dir, app_id))
        metrics["trace.overhead_s"] = (
            median([s["run_s"] for s in traced])
            - median([s["run_s"] for s in untraced]))
        for phase in ("create_table_s", "only_data_s", "compare_s"):
            metrics[f"phase.{phase}"] = median(
                [s.get(f"phase.{phase}", 0.0) for s in untraced])
        metrics["phase.run_s"] = median([s["run_s"] for s in untraced])
        metrics["session.get_spark_s"] = get_spark_s
        metrics["host.steal_jiffies"] = procstat.steal_jiffies() - steal0
        metrics["host.load_1m"] = max(load0, procstat.load_1m())
        samples = untraced + traced
        units = spans.UNITS
        missing = set(units) - set(metrics)
        if missing:
            raise RuntimeError(f"trace fold missed {sorted(missing)}")
        metrics = {k: metrics[k] for k in units}

    steal = procstat.steal_jiffies() - steal0
    log(f"steal {steal} jiffies; load {procstat.load_1m():.2f}")
    for k, unit in {**END_TO_END, **WALL_CLOCK}.items():
        xs = [setup_s] if k == "setup_s" else [s[k] for s in samples]
        print(summarize(k, unit, xs))
    for e in errors[:20]:
        print(f"FAILED {e}")
    print(f"correct: {failed == 0} ({failed} of {attempted} failed)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
