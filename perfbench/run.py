"""lakeforge benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload bulk_maintain --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout and uses the package in it.
Prints a detail line (run settings, every workload-specific metric with
its unit, percentiles and sample counts), then as the last line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits non-zero without a result line when the package is
missing or setup fails. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "datalakequality_spark")
WORK = os.path.join(ROOT, ".perfbench_work")


def _host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _driver_memory_mb() -> int:
    """A sixteenth of host memory, between 1 and 4 GiB: the package
    default (48g) exceeds small hosts, and this run's tables are small.
    A heap the run fills keeps peak memory steady from run to run."""
    return max(1024, min(4096, _host_memory_mb() // 16))


def _fs_type(path: str) -> str:
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, typ = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, fstype = mnt, typ
    return fstype


def _source_fingerprint() -> tuple[str, str]:
    """(git commit or "none", sha256 of the package sources)."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(PACKAGE):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    commit = "none"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
        )
        commit = out.stdout.strip() or "none"
    return commit, h.hexdigest()


RSS_INTERVAL_S = 0.1


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled every RSS_INTERVAL_S from
    /proc."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
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
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def start_session(work: str, trace: bool, cores: int):
    """SparkSession with every scratch path inside ``work``; returns
    (spark, seconds spent in get_spark)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.driver.memory": f"{_driver_memory_mb()}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evt = os.path.join(work, "eventlog")
        os.makedirs(evt, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evt}",
            "spark.eventLog.compress": "false",
        })
    from datalakequality_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def latency(name: str, values: list[float]) -> dict:
    from perfbench.stats import tail

    v, pct, n = tail(values)
    return {
        f"{name}_p50_ms": {"value": statistics.median(values), "unit": "ms", "samples": n},
        f"{name}_tail_ms": {"value": v, "unit": "ms", "percentile": pct, "samples": n},
    }


def detail_metrics(wl, rec) -> dict:
    """The workload-specific end-to-end metrics, by the names the notes
    define."""
    out: dict = {}
    s = rec.samples
    v = rec.values
    if wl.name == "bulk_maintain":
        out["maintain_rows_per_s"] = {"value": statistics.median(v["rows_per_s"]), "unit": "rows/s"}
        out["rewrite_s"] = {"value": statistics.median(s["rewrite"]) / 1000.0, "unit": "s"}
        out["merge_s"] = {"value": statistics.median(s["merge"]) / 1000.0, "unit": "s"}
        out["expire_s"] = {"value": statistics.median(s["expire"]) / 1000.0, "unit": "s"}
        out.update(latency("cycle", s["cycle"]))
        out.update(latency("report", s["report"]))
    if wl.name == "stream_ingest":
        out["ingest_rows_per_s"] = {"value": statistics.median(v["rows_per_s"]), "unit": "rows/s"}
        out.update(latency("batch", s["batch"]))
        out["compact_s"] = {"value": statistics.median(s["compact"]) / 1000.0, "unit": "s"}
    if wl.name in ("bulk_maintain", "stream_ingest"):
        out.update(latency("read", s["read"]))
        out["bytes_per_user_byte"] = {"value": statistics.median(v["bytes_per_user_byte"]), "unit": "ratio"}
    return out


OP_SAMPLES = {"bulk_maintain": "cycle", "stream_ingest": "batch"}


def end_to_end(wl, rec, setup_s: float, peak_rss: int) -> dict:
    ops = rec.samples[OP_SAMPLES[wl.name]]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_ms": {"value": statistics.median(ops), "unit": "ms"},
        "rows_per_s": {"value": statistics.median(rec.values["rows_per_s"]), "unit": "rows/s"},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
    }


def run(args, work: str) -> tuple[dict, dict]:
    cores = os.cpu_count() or 1
    commit, fingerprint = _source_fingerprint()
    import pyspark

    settings = {
        "nproc": cores,
        "host_memory_mb": _host_memory_mb(),
        "driver_memory_mb": _driver_memory_mb(),
        "master": f"local[{cores}]",
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "git_commit": commit,
        "source_sha256": fingerprint,
        "work_dir": os.path.relpath(work, ROOT),
        "work_fs": _fs_type(work),
        "shuffle_dir_fs": _fs_type(work),
        "flush_policy": "no fsync; writes land in the OS page cache (same on both sides of a comparison)",
        "clients": "1, closed loop",
    }
    with RssSampler() as rss:
        t_start = time.perf_counter()
        spark, session_s = start_session(work, args.trace == 1, cores)
        session_total = time.perf_counter() - t_start
        try:
            from perfbench import trace as tr
            from perfbench.workloads import WORKLOADS, Recorder

            wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed)
            t0 = time.perf_counter()
            wl.setup()
            build_s = time.perf_counter() - t0
            setup_s = session_total + build_s

            warm_rec = Recorder()
            t0 = time.perf_counter()
            wl.warm(warm_rec)
            warm_s = time.perf_counter() - t0

            tracer = tr.Tracer() if args.trace else None
            uninstall = tr.install(tracer) if tracer else (lambda: None)
            rec = Recorder(tracer)
            windows: list[tuple[float, float]] = []
            t_measure = time.perf_counter()
            try:
                while True:
                    w0 = time.time() * 1000.0
                    if tracer is not None:
                        with tracer.round():
                            wl.round(rec)
                    else:
                        wl.round(rec)
                    windows.append((w0, time.time() * 1000.0))
                    if time.perf_counter() - t_measure >= args.seconds:
                        break
            finally:
                uninstall()
            measured_s = time.perf_counter() - t_measure
        finally:
            stop_session(spark)

    attempted = rec.attempted + warm_rec.attempted
    failed = rec.failed + warm_rec.failed
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "settings": settings,
        "input_hash": wl.input_hash,
        "rounds": len(windows),
        "measured_s": measured_s,
        "warm_s": warm_s,
        "build_s": build_s,
        "session.get_spark.s": session_s,
        "error_rate": failed / attempted,
        "workload_summary": wl.summary(),
        "metrics": detail_metrics(wl, rec),
        "samples_ms": rec.samples,
    }
    if tracer is None:
        metrics = end_to_end(wl, rec, setup_s, rss.peak)
    else:
        cost = tr.wrapper_cost_s()
        n_spans = sum(1 for s in tracer.spans if s.name != tr.ROUND)
        quarantined = tracer.counts.get("quality_gate.files_quarantined", 0.0)
        caught = sum(rec.values["injected_quarantined"])
        injected = sum(rec.values["injected"])
        precision = {
            "quality_gate.quarantine_precision": caught / quarantined if quarantined else 1.0,
            "quality_gate.quarantine_recall": caught / injected if injected else 1.0,
            "merge.rewrite_precision": (
                sum(rec.values["matched_files"]) / max(sum(rec.values["files_rewritten"]), 1)
                if "matched_files" in rec.values else 1.0
            ),
        }
        spark_m = tr.spark_metrics(os.path.join(work, "eventlog"), windows, cores)
        extra = {
            "session.get_spark.s": session_s,
            "trace.spans": n_spans / len(windows),
            "trace.op_p50_ms": statistics.median(rec.samples[OP_SAMPLES[wl.name]]),
            "trace.overhead_est_ms": n_spans * cost * 1000.0 / len(windows),
        }
        metrics = tr.layer_metrics(tracer, precision, spark_m, extra)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return detail, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(OP_SAMPLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"error: no datalakequality_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
