"""Shared pieces of the benchmark: the Spark session it pins, sample
statistics, the peak-RSS sampler, the sequential-oracle digest and the
read round both workloads run.

Everything here talks to the engine through its public API only
(``session.get_spark``, ``LakeTable`` read methods, the generators'
oracle).
"""

from __future__ import annotations

import hashlib
import os
import statistics
import threading
import time

import pandas as pd

# columns of the transcripts table that the oracle also produces
CMP_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "score"]
NULL = "\x00"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """CPU time the hypervisor took from this machine so far (all CPUs,
    from ``/proc/stat``): a run that lost much of it ran slow for
    reasons outside the program."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def start_session(work: str, trace: bool):
    """The benchmark's SparkSession: ``local[nproc]``, shuffle
    partitions = nproc, driver memory sized for a small shared box,
    and every scratch directory inside ``work``. ``trace`` turns on
    Spark's uncompressed event log under ``work/eventlog``."""
    from mysql_tracker_spark.session import get_spark

    n = cores()
    conf = {
        "spark.driver.memory": "4g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench", cores=n, shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to end
    (its Python workers are its children and end with it)."""
    import subprocess

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM's gateway server exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _tree_pids(root: int) -> list[int]:
    """``root`` and every live process below it, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _stat_ticks(path: str) -> list[int]:
    """utime, stime, cutime, cstime (fields 14-17 of proc(5) stat)."""
    with open(path) as f:
        return [int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15]]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below
    it (the driver JVM and its Python workers): user + system time of
    the live processes plus that of the children they have reaped,
    less the JVM's JIT compiler threads. Time the hypervisor steals
    from the machine is not in it. The JIT's share is left out because
    Spark generates and compiles new classes for every query, and how
    much of that compiling lands in a given call swings from run to
    run; it is a third or more of the tree's CPU after the warm-up."""
    total = 0
    for pid in _tree_pids(os.getpid()):
        try:
            total += sum(_stat_ticks(f"/proc/{pid}/stat"))
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:  # the process has exited
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        total -= sum(_stat_ticks(f"/proc/{pid}/task/{tid}/stat")[:2])
            except OSError:  # the thread has exited
                continue
    return total / _TICK


class RssSampler:
    """Peak resident set of a process tree (the driver JVM plus the
    Python workers it forks), read from ``/proc`` every ``period`` s."""

    def __init__(self, root_pid: int, period: float = 0.5):
        self.root = root_pid
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        total = 0
        for pid in _tree_pids(root):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(self.root))
            self._stop.wait(self.period)

    def start(self):
        self._t.start()
        return self

    def stop(self) -> float:
        """Stop sampling (idempotent); returns the peak in MB."""
        if not self._stop.is_set():
            self._stop.set()
            self._t.join()
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(self.root))
        return self.peak_kb / 1024.0


# ------------------------------------------------------------ statistics


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it:
    returns (value, percentile, sample count). With fewer than eleven
    samples there is no such percentile and the maximum is returned
    at percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    # s[n - 11] has exactly ten samples above it
    return s[n - 11], round(100.0 * (n - 10) / n, 1), n


# ---------------------------------------------------------------- oracle


def _cell(v) -> str:
    if v is None or v is pd.NA or (isinstance(v, float) and v != v):
        return NULL
    return str(v)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Align a table read (Spark dtypes) and the oracle frame: int64
    turn, Int64 score, ``yyyy-MM-dd HH:mm:ss`` ts text."""
    df = df[CMP_COLS].copy()
    df["turn_idx"] = df["turn_idx"].astype("int64")
    df["score"] = df["score"].astype("Int64")
    df["ts"] = df["ts"].astype(str)
    return df


def digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a transcripts frame."""
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in normalize(df).itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def agg_of(df: pd.DataFrame) -> tuple[int, int]:
    """(rows, total text length): the aggregate every range and scan
    read computes, from a pandas frame."""
    return int(len(df)), int(df["text"].fillna("").str.len().sum())


# ------------------------------------------------------------ read round


class ReadRound:
    """Serving read rounds: ``n_points`` single-conversation point
    reads (``read_for_keys``), then ``n_scans`` ``ts``-window
    ``read_where`` aggregates, then ``n_scans`` full ``read()``
    aggregates over the ``text`` payload column (which manifest stats
    cannot answer). Keys and windows come from a seeded RNG; hot
    conversations are favoured."""

    def __init__(self, rng, conv_weights: pd.Series, ts_lo, ts_hi):
        self.rng = rng
        self.convs = conv_weights.index.to_numpy()
        self.p = (conv_weights / conv_weights.sum()).to_numpy()
        self.ts_lo, self.ts_hi = pd.Timestamp(ts_lo), pd.Timestamp(ts_hi)
        self.point_s: list[float] = []
        self.range_s: list[float] = []
        self.scan_s: list[float] = []
        self.files_per_point: list[int] = []
        self.files_per_range: list[int] = []
        self.cpu_s = {"point": 0.0, "range": 0.0, "scan": 0.0}  # timed reads' tree CPU

    def window(self, j: int, n: int):
        """A window of 5 % of the stream's time span, starting at a
        seeded point of the ``j``-th of ``n`` equal strata of the span,
        so the windows of a round cover it evenly."""
        span = (self.ts_hi - self.ts_lo).total_seconds()
        width = span * 0.05
        stratum = (span - width) / n
        start = self.ts_lo + pd.Timedelta(seconds=stratum * (j + float(self.rng.uniform())))
        start = start.floor("s")
        return start.to_pydatetime(), (start + pd.Timedelta(seconds=int(width))).to_pydatetime()

    def run(self, spark, table, n_points: int, n_scans: int, record: bool, tracer=None) -> dict:
        """Run one round on ``table``; returns what each read saw, for
        checking against the oracle. Latencies are kept when ``record``
        (timed rounds; warm-up rounds are not sampled)."""
        from pyspark.sql import functions as F

        def timed(samples, fn):
            t0 = time.perf_counter()
            out = fn()
            if record:
                samples.append(time.perf_counter() - t0)
            return out

        def agg(df):
            r = df.agg(F.count("*").alias("n"), F.sum(F.length("text")).alias("len")).collect()[0]
            return int(r["n"]), int(r["len"] or 0)

        seen: dict = {"points": [], "ranges": [], "scans": []}
        planned = []  # the DataFrame each timed read built, for inputFiles()

        def point(k):
            planned.append(table.read_for_keys(spark, [k]))
            return planned[-1].collect()

        def range_read(lo, hi):
            planned.append(table.read_where(spark, "ts", lo, hi))
            return agg(planned[-1])

        keys = [str(k) for k in self.rng.choice(self.convs, size=n_points, p=self.p)]
        windows = [self.window(j, n_scans) for j in range(n_scans)]
        # each kind of read runs back to back, so one tree CPU reading
        # before and after covers all reads of that kind in the round
        cpu = [tree_cpu_s()]
        for k in keys:
            seen["points"].append((k, timed(self.point_s, lambda: point(k))))
            if tracer is not None:
                self.files_per_point.append(len(planned[-1].inputFiles()))
        cpu.append(tree_cpu_s())
        for lo, hi in windows:
            seen["ranges"].append((lo, hi, timed(self.range_s, lambda: range_read(lo, hi))))
            if tracer is not None:
                self.files_per_range.append(len(planned[-1].inputFiles()))
        cpu.append(tree_cpu_s())
        for _ in range(n_scans):
            seen["scans"].append(timed(self.scan_s, lambda: agg(table.read(spark))))
        cpu.append(tree_cpu_s())
        if record:
            for i, kind in enumerate(("point", "range", "scan")):
                self.cpu_s[kind] += cpu[i + 1] - cpu[i]
        return seen


def check_round(seen: dict, expected: pd.DataFrame, check_aggs: bool = True) -> list[str]:
    """Compare one read round against the oracle's state; returns the
    list of mismatches (empty = correct)."""
    bad = []
    by_conv = expected.groupby("conv_id")
    for k, rows in seen["points"]:
        got = pd.DataFrame([r.asDict() for r in rows], columns=CMP_COLS)
        exp = by_conv.get_group(k) if k in by_conv.groups else expected.iloc[:0]
        if digest(got) != digest(exp):
            bad.append(f"point read {k}: {len(got)} rows, oracle {len(exp)}")
    if check_aggs:
        ts = pd.to_datetime(expected["ts"])
        for lo, hi, got in seen["ranges"]:
            exp = agg_of(expected[(ts >= lo) & (ts <= hi)])
            if got != exp:
                bad.append(f"range read {lo}..{hi}: {got}, oracle {exp}")
        for got in seen["scans"]:
            if got != agg_of(expected):
                bad.append(f"scan read: {got}, oracle {agg_of(expected)}")
    return bad


def round_ops(seen: dict) -> int:
    return len(seen["points"]) + len(seen["ranges"]) + len(seen["scans"])
