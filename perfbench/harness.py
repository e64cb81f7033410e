"""Shared run state: session set-up, the memory sampler, op accounting and
the statistics every workload reports."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

from spans import Tracer

CORES = 4
SETUPS = 3  # set-up is repeated and its median reported
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "1g"


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def wall_s(span: dict) -> float:
    return span["end"] - span["start"]


def descendants() -> set[int]:
    """Pids of every live process this one started, directly or not."""
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parents[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    mine = {os.getpid()}
    changed = True
    while changed:
        changed = False
        for pid, ppid in parents.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                changed = True
    mine.discard(os.getpid())
    return mine


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def engine_pids() -> list[int]:
    """The driver JVM and the Python workers it forked. Other descendants are
    left out: the JVM spawns short-lived helpers (``chmod``) through vfork,
    and until they exec they share the JVM's address space, so counting them
    would count the JVM twice."""
    jvm = _jvm_pid()
    pids = [jvm] if jvm is not None else []
    for pid in descendants() - set(pids):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark.daemon" in fh.read():
                    pids.append(pid)
        except OSError:
            continue
    return pids


def engine_cpu_s() -> float:
    """CPU seconds used so far by this process, the driver JVM and its Python
    workers (workers that exited are in their parent's child times)."""
    tick = os.sysconf("SC_CLK_TCK")
    own = os.times()
    total = own.user + own.system
    for pid in engine_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += sum(int(v) for v in fields[11:15]) / tick
    return total


class RssSampler:
    """Peak memory of the driver JVM and its Python workers, sampled from
    /proc on a background thread and kept per phase of the run (set
    ``phase``). Each process counts its proportional set size, so pages the
    forked Python workers share are not counted once per worker."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.phase = "setup"
        self.peaks: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _pss() -> int:
        total = 0
        for pid in engine_pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            pss = self._pss()
            self.peaks[self.phase] = max(self.peaks.get(self.phase, 0), pss)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        mb = {phase: round(v / 2**20) for phase, v in self.peaks.items()}
        print(f"perfbench: peak MB by phase {mb}", file=sys.stderr)


def _stop_jvm(timeout: float = 30.0) -> None:
    """End the driver JVM (it exits when its stdin closes) and wait until it
    and the Python workers it forked are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


class Bench:
    """One benchmark run: its scratch space, Spark session, spans and the
    count of operations attempted and failed."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, root: Path):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.root = root
        self.work = root / ".perfbench" / f"{workload}-{seed}-{os.getpid()}"
        self.tmp = self.work / "tmp"
        self.event_log = self.work / "eventlog"
        self.tracer = Tracer()
        self.spark = None
        self.setup_s: list[float] = []
        self.build_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.t0 = time.perf_counter()

    def mark(self, what: str) -> None:
        """Log how far into the run a phase ended (stderr)."""
        print(f"perfbench: {time.perf_counter() - self.t0:6.1f} s  {what}", file=sys.stderr)

    # -- operations -------------------------------------------------------------
    def op(self, name: str, fn, *args):
        """Run one check; an exception or a non-empty list of problems marks
        the operation failed. Returns the problems (falsy when it passed)."""
        self.attempted += 1
        try:
            problems = fn(*args)
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            problems = [f"{name} raised"]
        if problems:
            self.failed += 1
            for p in problems if isinstance(problems, list) else [problems]:
                print(f"CHECK FAILED {name}: {p}", file=sys.stderr)
        return problems

    # -- session ------------------------------------------------------------------
    def conf(self) -> dict[str, str]:
        conf = {
            # a fixed-size heap (initial = max), touched at start, so peak
            # memory does not depend on how much of the heap the collector
            # happened to use before the sample; temp files stay in the
            # run's scratch space (no /tmp/hsperfdata)
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={self.tmp}",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            self.event_log.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": self.event_log.as_uri(),
            })
        return conf

    def setup(self) -> None:
        """Build the session SETUPS times (stopping the previous one), each
        followed by a small shuffle job as warm-up; report the median."""
        from movie_genre_data_pipeline_spark.session import build_session

        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = build_session(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{CORES}]",
                shuffle_partitions=SHUFFLE_PARTITIONS,
                extra_conf=self.conf(),
            )
            t1 = time.perf_counter()
            (
                self.spark.range(0, 200_000, 1, CORES)
                .selectExpr("id % 100 AS k").groupBy("k").count()
                .write.format("noop").mode("overwrite").save()
            )
            self.setup_s.append(time.perf_counter() - t0)
            self.build_s.append(t1 - t0)
            self.mark(f"session build {t1 - t0:.2f} s, set-up {self.setup_s[-1]:.2f} s")

    def __enter__(self):
        shutil.rmtree(self.work, ignore_errors=True)
        self.tmp.mkdir(parents=True)
        # the package's temp files (shipping zip, suite ledgers) land here
        os.environ["TMPDIR"] = str(self.tmp)
        import tempfile

        tempfile.tempdir = None
        return self

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def __exit__(self, *exc):
        self.stop()
        _stop_jvm()
        shutil.rmtree(self.work, ignore_errors=True)

    # -- results ------------------------------------------------------------------
    def timed_units(self, unit) -> tuple[list[dict], list[dict]]:
        """Warm phase: call ``unit(i, traced)`` until ``seconds`` have passed
        and at least one unit ran. The first warm unit is the steady figure:
        the JIT compiles the hot paths during it at the same pace every run,
        while later units land at varying points of that compilation (on the
        4-core host a second medallion unit read 13.2-16.0 s where the first
        read 16.45-16.56 s over the same three seeds). With tracing on, one
        more untraced unit and then a traced one follow; by then the JIT has
        mostly settled, so their difference is the cost of tracing.
        Returns the (untraced, traced) unit spans of the units that passed
        their checks."""
        plain: list[dict] = []
        traced: list[dict] = []
        t_end = time.perf_counter() + self.seconds
        i = 0
        while i < 1 or time.perf_counter() < t_end:
            i += 1
            if (rec := unit(i, False)) is not None:
                plain.append(rec)
        if self.trace:
            for i, is_traced in ((i + 1, False), (i + 2, True)):
                if (rec := unit(i, is_traced)) is not None:
                    (traced if is_traced else plain).append(rec)
        return plain, traced

    def e2e(self, first_run_s: float, units: list[dict], space_amp: float,
            rss: RssSampler) -> dict:
        return {
            "setup_s": (statistics.median(self.setup_s), "s"),
            "first_run_s": (first_run_s, "s"),
            "unit_cpu_s": (statistics.median(u["cpu_s"] for u in units), "s"),
            "space_amp": (space_amp, "ratio"),
            "peak_rss_mb": (rss.peaks["warm"] / 2**20, "MB"),
        }
