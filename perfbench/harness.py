"""Run lifecycle shared by the workloads: sandboxed directories, the Spark
session (repo defaults from ``my_feast_spark.session``), the set-up clock,
the measured loop's clock, and orderly shutdown of the JVM."""

from __future__ import annotations

import os
import sys
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


#: JVM heap cap for the driver (the session factory's default is 8g)
DRIVER_MEM = "2g"


class Bench:
    """State of one benchmark run: arguments, work directory, session and
    tracer. ``work`` lies inside the checkout; nothing is written
    elsewhere."""

    def __init__(self, seed: int, seconds: float, tracer, work: str,
                 t_process: float):
        self.seed, self.seconds = seed, seconds
        self.tracer = tracer
        self.work = work
        self.t_process = t_process
        self.spark = None
        self.cores = nproc()
        self.setup_s = None
        self.info: dict = {}
        self._jvm_pid = None
        self.t_measure = float("inf")  # wall-clock start of the timed loop
        for sub in ("local", "tmp", "warehouse"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        # the JVM and the Python workers it forks take temp dirs from here
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    # --- session ----------------------------------------------------------
    def extra_confs(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no hsperfdata file under /tmp; JIT compiler threads stay
            # alive, so tree_cpu_s can leave them out
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                "-XX:-UseDynamicNumberOfCompilerThreads",
        }
        if self.tracer.enabled:
            # keep every job and stage of the run in the status store
            confs.update({
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "1000000",
            })
        return confs

    def start_session(self):
        from my_feast_spark.session import get_session

        with self.tracer.span("session.start"):
            self.spark = get_session(
                app_name="perfbench", master=f"local[{self.cores}]",
                shuffle_partitions=self.cores, extra_confs=self.extra_confs(),
            )
        self.tracer.attach(self.spark)
        self._jvm_pid = int(
            self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )
        return self.spark

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM exits."""
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    if proc.stdin:
                        proc.stdin.close()  # the JVM exits on stdin EOF
                    try:
                        proc.wait(timeout=30)
                    except Exception:
                        proc.kill()
                        proc.wait(timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None

    def jvm_peak_rss_mb(self) -> float:
        """Peak resident set of the driver JVM (VmHWM), in MiB."""
        with open(f"/proc/{self._jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    # --- set-up -----------------------------------------------------------
    def setup(self, build):
        """Start the session and run ``build(spark, dir)``; returns its
        result. ``setup_s`` runs from process start until ``build``
        returns with the first timed operation ready. One set-up per run:
        a cold one (JVM launch, first-use compilation, warm-up) costs
        about 40 s on a 4-core box, and a run has to stay near a minute."""
        with self.tracer.span("setup"):
            self.start_session()
            d = os.path.join(self.work, "setup")
            os.makedirs(d)
            state = build(self.spark, d)
        self.setup_s = time.perf_counter() - self.t_process
        return state

    def until(self):
        """Yield loop indices while ``seconds`` of measurement remain.
        An operation starts only if at least half its predecessor's
        duration remains, so a run overshoots by half an operation at
        most."""
        t_end = time.perf_counter() + self.seconds
        i, last = 0, 0.0
        self.t_measure = time.time()
        cpu0 = _host_cpu()
        while True:
            t = time.perf_counter()
            if t_end - t < last / 2 or t >= t_end:
                break
            yield i
            last = time.perf_counter() - t
            i += 1
        # CPU time the hypervisor gave to other guests while we measured:
        # timings grow with it, so every run records it
        d = [b - a for a, b in zip(cpu0, _host_cpu())]
        self.info["host_steal_pct"] = 100.0 * d[7] / max(sum(d), 1)


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> list[str] | None:
    """Fields of a /proc stat file after the command name, or None if the
    process or thread exited meanwhile."""
    try:
        with open(path) as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants — the driver JVM and the Python workers it forks —
    including threads that exited and descendants already reaped, but not
    the JVM's JIT compiler threads: compilation is a warm-up cost a
    long-running process stops paying, and on a short run its timing
    varies with host load. (The driver JVM keeps its compiler threads
    alive, see ``Bench.extra_confs``, so their time is never folded into
    the process total by a thread exit.)"""
    ppid = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat(f"/proc/{pid}/stat")
            if f is not None:
                ppid[int(pid)] = int(f[1])
    children: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        children.setdefault(parent, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        f = _stat(f"/proc/{pid}/stat")
        if f is None:
            continue
        # utime + stime (every thread, exited ones too) + cutime + cstime
        ticks += sum(int(x) for x in f[11:15])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if not fh.read().startswith(("C1 Compiler", "C2 Compiler")):
                        continue
            except OSError:
                continue
            t = _stat(f"/proc/{pid}/task/{tid}/stat")
            if t is not None:
                ticks -= int(t[11]) + int(t[12])
    return ticks / _TICK


def _host_cpu() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user nice system idle iowait
    irq softirq steal ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]
