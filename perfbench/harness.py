"""Run context shared by the workloads: the Spark session, the work
directory, timing samples, check accounting, table state counts and
memory high-water marks."""

from __future__ import annotations

import os
import resource
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from spans import Tracer


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def p90(xs: list[float]) -> float:
    """90th percentile; NaN below ten samples, where it would only
    restate the maximum."""
    if len(xs) < 10:
        return float("nan")
    return statistics.quantiles(xs, n=10)[-1]


def tree_bytes(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _dirs, files in os.walk(path) for f in files
    )


def parquet_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet data files under ``path``."""
    n = b = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(root, f))
    return n, b


@dataclass
class Ctx:
    """Everything one benchmark run shares across its phases."""

    workload: str
    seed: int
    size: str
    work: str
    tracer: Tracer
    spark: object = None
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    ops: int = 0
    samples: dict[str, list[float]] = field(default_factory=dict)
    report: dict[str, tuple[float, str, int | None]] = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- timing -------------------------------------------------------------
    def sample(self, name: str, value: float) -> None:
        with self._lock:
            self.samples.setdefault(name, []).append(value)

    def timed(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` inside a benchmark span and record its wall time
        under ``name``."""
        t = time.perf_counter()
        with self.tracer.span(name):
            out = fn(*args, **kwargs)
        self.sample(name, time.perf_counter() - t)
        return out

    # -- correctness ---------------------------------------------------------
    def op(self, label: str, fn, *args, **kwargs):
        """Run one attempted operation; an exception or a failed check
        (``fn`` returning a non-empty message) counts it as failed."""
        with self._lock:
            self.attempted += 1
        try:
            problem = fn(*args, **kwargs)
        except Exception:  # one bad operation must not end the run
            problem = traceback.format_exc(limit=8)
        if problem:
            with self._lock:
                self.failed += 1
                self.errors.append(f"{label}: {problem}")
            print(f"[perfbench] FAILED {label}: {problem}", file=sys.stderr)
            return False
        return True

    def put(self, name: str, value: float, unit: str, n: int | None = None) -> None:
        """Record one of the workload's named report metrics."""
        self.report[name] = (value, unit, n)

    # -- state counts --------------------------------------------------------
    def table_state(self, table: str) -> dict[str, float]:
        """State of a snapshot table through the public API and the
        filesystem: live files, manifest versions, deletion-vector
        positions, data bytes on disk (every file outside the manifest
        log), bytes of the live snapshot's files, and all bytes on
        disk. All but the last repeat exactly for a given seed; the
        manifests record commit times, so their size varies."""
        from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
            snaptable,
        )

        layout = snaptable.table_layout(table)
        stats = snaptable.table_stats(table)
        files = snaptable.read_snapshot(self.spark, table).inputFiles()
        live_bytes = sum(os.path.getsize(f.removeprefix("file:")) for f in files)
        total = tree_bytes(table)
        log = tree_bytes(os.path.join(table, "_snapshots"))
        return {
            "snaptable.live_files": sum(p["n_files"] for p in layout),
            "snaptable.manifest_versions": len(snaptable.history(table)),
            "snaptable.dv_positions": sum(p["rows"] for p in layout) - stats["rows"],
            "snaptable.bytes_on_disk": total - log,
            "snaptable.live_bytes": live_bytes,
            "table_bytes_with_manifests": total,
        }

    # -- memory ---------------------------------------------------------------
    def peak_rss_mb(self) -> float:
        """Python plus JVM resident-set high-water marks, in MiB."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        jvm_kb = 0
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        self.put("peak_rss_python_mb", py_kb / 1024.0, "MB")
        self.put("peak_rss_jvm_mb", jvm_kb / 1024.0, "MB")
        return (py_kb + jvm_kb) / 1024.0


def closed_loop(ctx: Ctx, step, seconds: float, min_steps: int, clients: int = 1) -> int:
    """Run ``step(client, i)`` in ``clients`` closed loops until
    ``seconds`` have passed and every client made ``min_steps`` calls
    (each waits for its reply before sending the next). Returns the
    number of steps made, also added to ``ctx.ops``."""
    deadline = time.perf_counter() + seconds
    done = [0] * clients

    def loop(c: int) -> None:
        i = 0
        while i < min_steps or time.perf_counter() < deadline:
            step(c, i)
            i += 1
        done[c] = i

    if clients == 1:
        loop(0)
    else:
        threads = [threading.Thread(target=loop, args=(c,)) for c in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    ctx.ops += sum(done)
    return sum(done)
