"""What both workloads share: the Spark session, memory and percentile
helpers, and the order-insensitive result fingerprint the output checks
compare."""

from __future__ import annotations

import hashlib
import math
import os
import resource
import time
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

# One local executor slot per core, capped so a run stays small on a
# shared machine; the same value on every machine keeps runs comparable.
CPUS = min(4, os.cpu_count() or 1)


def start_session(work: Path, trace: bool):
    """``session.get_spark`` with a fixed 1 GiB heap and every scratch
    directory (Spark's, the JVM's and Python's) under ``work``; the
    traced run also writes Spark's event log, uncompressed (this
    environment has no zstandard module to read Spark 4's default zstd
    logs)."""
    from extract_transform_load_spark.session import get_spark

    tmp = (work / "tmp").resolve()
    tmp.mkdir(parents=True, exist_ok=True)
    # The environment outranks spark.local.dir, and children inherit it;
    # -XX:-UsePerfData stops each JVM writing /tmp/hsperfdata_<user>.
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(SPARK_LOCAL_DIRS=str(tmp), TMPDIR=str(tmp), SPARK_LAUNCHER_OPTS=jvm_opts)
    conf = {
        # The same heap on every machine keeps runs comparable, and small
        # on a shared one; the generated inputs need far less.
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work.resolve() / "warehouse"),
        "spark.sql.streaming.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = work / "eventlog"
        log_dir.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir.resolve().as_uri(),
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{CPUS}]", shuffle_partitions=2 * CPUS, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the JVM plus this Python driver, in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def cpu_seconds() -> float:
    """User plus system CPU time used so far by this process and every
    process it started (the JVM, its Python workers), including children
    that have exited and been reaped, from ``/proc``."""
    stats: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited while we looked
            continue
        f = raw[raw.rindex(")") + 2 :].split()  # f[0] is field 3 (state)
        stats[int(entry)] = (int(f[1]), sum(int(x) for x in f[11:15]))  # ppid; utime..cstime
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def settle(limit_s: float = 15.0, step_s: float = 0.5, idle_share: float = 0.06) -> float:
    """Wait until the process tree is idle: under ``idle_share`` of one
    core over ``step_s``, or ``limit_s`` at most. The JVM compiles hot
    code in background threads; starting a timed region while that
    queue still drains makes its CPU time depend on how far the
    compiler had got. Returns the seconds waited."""
    t0 = time.perf_counter()
    last = cpu_seconds()
    while time.perf_counter() - t0 < limit_s:
        time.sleep(step_s)
        now = cpu_seconds()
        if now - last < idle_share * step_s:
            break
        last = now
    return time.perf_counter() - t0


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]) of a non-empty list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if v.__class__.__name__ == "NaTType":
        return "null"
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, Decimal):
        v = float(v)
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float)):
        return f"{float(v):.12g}"
    return str(v)


def fingerprint(pdf) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a pandas result: cells
    rendered engine-neutrally (numbers to 12 significant digits,
    timestamps as naive ISO), columns by name, rows sorted."""
    columns = list(pdf.columns)
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in pdf.itertuples(index=False))
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return len(lines), h.hexdigest()[:16]

