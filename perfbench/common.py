"""Shared plumbing: the run context (seed, clock, scratch space, the
Spark session), the peak-RSS sampler and the small statistics helpers."""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def force(df) -> None:
    """Compute every output column (the noop sink, as bench.py forces
    its queries): a bare count() would let Catalyst prune projections."""
    df.write.mode("overwrite").format("noop").save()


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs: list[float]) -> tuple[float | None, float | None]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples beyond it; (None, None) below 11 samples."""
    n = len(xs)
    if n < 11:
        return None, None
    k = n - 11
    return sorted(xs)[k], 100.0 * (k + 1) / n


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between the forked Python
    workers count once across them, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime (+ reaped children) of the given processes."""
    ticks = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / ticks


class RssSampler:
    """Samples the summed resident memory (PSS) of this process's
    descendants (the driver JVM and the Python workers it forks) every
    ``period`` seconds."""

    def __init__(self, period: float = 1.0):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = sum(_pss_bytes(p) for p in descendants(me))
            self.peak = max(self.peak, rss)
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; -> peak in MB."""
        self._stop.set()
        self._thread.join()
        return self.peak / (1 << 20)


class Run:
    """One benchmark invocation: its seed, its clock and its scratch
    directory inside the checkout."""

    def __init__(self, root: str, seed: int, seconds: int, t_start: float):
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.t_start = t_start
        self.cpus = cpu_count()
        from .inputs import cache_root

        self.work = os.path.join(cache_root(root), f"run-{os.getpid()}")
        os.makedirs(self.work, exist_ok=True)
        self.excluded = 0.0  # input/oracle generation inside set-up
        self.phases: list[tuple[str, float]] = []
        self.spark = None
        self.rss: RssSampler | None = None
        self.peak_rss_mb: float | None = None
        self.attempted = 0
        self.failed = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self, event_log_dir: str | None = None):
        from theoremkb_spark.session import get_spark

        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if event_log_dir is not None:
            os.makedirs(event_log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.rss = RssSampler().start()
        self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def phase(self, name: str) -> None:
        """Record the end of a set-up phase (printed with the metrics)."""
        self.phases.append((name, time.perf_counter()))

    def setup_done(self) -> float:
        """Mark the first timed operation; -> setup_s."""
        self.t_measure = time.perf_counter()
        t, parts = self.t_start, []
        for name, end in self.phases:
            parts.append(f"{name} {end - t:.2f}")
            t = end
        print("setup phases (s): " + ", ".join(parts))
        return self.t_measure - self.t_start - self.excluded

    def more(self, done: int, min_reps: int) -> bool:
        """Keep repeating until the run's measuring window has passed
        (and at least ``min_reps`` reps were made)."""
        if done < min_reps:
            return True
        return time.perf_counter() - self.t_measure < self.seconds

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def stop_spark(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait until
        every one of them has exited (the event log is complete after
        this). Idempotent."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        started = [proc.pid, *descendants(proc.pid)] if proc is not None else []
        self.spark.stop()
        self.spark = None
        self.peak_rss_mb = self.rss.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in started
        ):
            time.sleep(0.05)

    def close(self) -> float | None:
        """Stop everything and remove the run's scratch space; -> peak
        RSS in MB (None when Spark never started)."""
        self.stop_spark()
        shutil.rmtree(self.work, ignore_errors=True)
        return self.peak_rss_mb
