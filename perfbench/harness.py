"""One benchmark run: start a session sized to this machine, set up the
seeded input, then run passes of one workload in a closed loop (one client;
each pass starts when the previous one has been checked) for the given
number of seconds, and summarise.

Untraced runs report the end-to-end metrics. Traced runs alternate traced
and untraced passes, record layer spans, read the Spark event log after the
session stops, and report the per-layer metrics.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from perfbench import eventlog, spans
from perfbench.workloads import WORKLOADS, PassOutcome

# host-noise stamps shared with the repository's own bench harness
from bench import _cpu_calibration, _proc_stat_busy, _proc_stat_steal_iowait, _tree_cpu_sec

#: input materialisations timed per run; set-up reports their median
SETUP_REPEATS = 3
#: a run measures at least this many passes, even past its time budget
MIN_PASSES = 3
#: set-up spans are traced as pass 0; passes 1..WARM_PASSES warm up
SETUP_PASS, WARM_PASSES = 0, 1
DRIVER_MEMORY = "3g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _descendants(root: int) -> list[int]:
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _peak_rss_mb(root: int) -> float:
    """Σ peak resident set (VmHWM) of the process and its descendants."""
    total = 0
    for pid in [root] + _descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


class Session:
    """The SparkSession and everything it leaves on disk, under ``work``."""

    def __init__(self, work: str, trace: bool):
        from maplibre_tile_spec_spark.session import get_spark

        self.work = work
        self.eventlog_dir = os.path.join(work, "eventlog")
        tmp = os.path.join(work, "tmp")
        for d in (tmp, self.eventlog_dir):
            os.makedirs(d, exist_ok=True)
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        # Python workers import the engine from this checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["TMPDIR"] = tmp
        # no JVM perf-data files in the system temp directory
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        cores = _cores()
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.dir": "file://" + self.eventlog_dir,
                }
            )
        self.spark = get_spark(
            master=f"local[{cores}]", app_name="perfbench", shuffle_partitions=cores, extra_conf=conf
        )

    def stop(self) -> str | None:
        """Stop Spark and its JVM, wait for every child process to end, and
        return the event log path (if one was written)."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while _descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)
        logs = glob.glob(os.path.join(self.eventlog_dir, "*"))
        return logs[0] if logs else None


class PassRecord:
    def __init__(self, pass_id: int, traced: bool):
        self.pass_id = pass_id
        self.traced = traced
        self.ok = False
        self.outcome: PassOutcome | None = None
        self.wall = self.cpu = self.ext_cpu = self.steal = 0.0
        self.error = ""

    def docs_per_s(self) -> float:
        return self.outcome.docs / self.wall

    def as_json(self) -> dict:
        return {
            "pass": self.pass_id,
            "traced": self.traced,
            "ok": self.ok,
            "wall_s": self.wall,
            "docs_per_s": self.docs_per_s() if self.outcome else None,
            "cpu_s": self.cpu,
            "external_cpu_frac": self.ext_cpu,
            "steal_s": self.steal,
            "error": self.error,
        }


def _run_one(wl, tracer, pass_id: int, traced: bool) -> PassRecord:
    rec = PassRecord(pass_id, traced)
    tracer.enabled = traced
    me = os.getpid()
    cpu0, busy0, (steal0, _) = _tree_cpu_sec(me), _proc_stat_busy(), _proc_stat_steal_iowait()
    t0 = time.perf_counter()
    try:
        with tracer.pass_span(pass_id):
            rec.outcome = wl.run_pass(pass_id)
        rec.ok = not rec.outcome.errors
        rec.error = "; ".join(rec.outcome.errors)
    except Exception:  # a failing pass is counted, reported, and the loop goes on
        rec.error = traceback.format_exc(limit=3)
    rec.wall = time.perf_counter() - t0
    cpu1, busy1, (steal1, _) = _tree_cpu_sec(me), _proc_stat_busy(), _proc_stat_steal_iowait()
    rec.cpu = cpu1 - cpu0
    rec.ext_cpu = max(0.0, (busy1 - busy0) - rec.cpu) / rec.wall
    rec.steal = steal1 - steal0
    tracer.enabled = False
    print(json.dumps(rec.as_json()), flush=True)
    return rec


def run(workload: str, seed: int, seconds: float, trace: bool, root: str) -> dict:
    work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    session = None
    try:
        t0 = time.perf_counter()
        session = Session(work, trace)
        spark = session.spark
        start_s = time.perf_counter() - t0
        tracer = spans.Tracer(spark.sparkContext)
        wl = WORKLOADS[workload](spark, tracer, work, seed)
        gen_s = []
        for i in range(SETUP_REPEATS):
            path = os.path.join(work, f"input-{i}")
            t = time.perf_counter()
            wl.generate(path)
            gen_s.append(time.perf_counter() - t)
        # set-up spans (standing state, reference) are traced as pass 0
        tracer.enabled, tracer.pass_id = trace, SETUP_PASS
        t = time.perf_counter()
        wl.standing(path)
        standing_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.reference()
        reference_s = time.perf_counter() - t
        tracer.enabled = False
        print(
            json.dumps(
                {"session_s": start_s, "generate_s": gen_s, "standing_s": standing_s, "reference_s": reference_s}
            ),
            flush=True,
        )
        # the warm-up pass fills caches, starts the Python workers and
        # JIT-compiles the hot paths (the first pass takes up to twice as long
        # as the next); it is checked and counted in set-up time
        records = [_run_one(wl, tracer, p, False) for p in range(1, WARM_PASSES + 1)]
        setup_s = start_s + statistics.median(gen_s) + standing_s + sum(r.wall for r in records)
        t_loop = time.perf_counter()
        pass_id = WARM_PASSES + 1
        # a traced run needs at least two passes of each kind
        min_passes = max(MIN_PASSES, 4) if trace else MIN_PASSES
        while pass_id <= WARM_PASSES + min_passes or time.perf_counter() - t_loop < seconds:
            # traced runs alternate, so traced and untraced passes share noise
            records.append(_run_one(wl, tracer, pass_id, trace and pass_id % 2 == 0))
            pass_id += 1
        calib = _cpu_calibration()
        print(json.dumps({"calibration_mb_s": calib}), flush=True)
        peak_rss = _peak_rss_mb(os.getpid())
        codec = _codec_timing(wl) if trace else {}
        log = session.stop()
        session = None
        measured = records[WARM_PASSES:]
        failed = sum(not r.ok for r in records)
        if trace:
            metrics = _layer_metrics(wl, tracer, measured, eventlog.parse(log) if log else {}, codec)
            metrics["proc.peak_rss_mb"] = (peak_rss, "MB")
            metrics["host.calibration_mb_s"] = (calib, "MB/s")
        else:
            # noise on a shared host only ever slows a pass, so a run reports
            # its best measured pass (min-of-N, as bench.py does)
            ok = [r for r in measured if r.ok]
            metrics = {
                "setup_s": (setup_s, "s"),
                "docs_per_s": (max((r.docs_per_s() for r in ok), default=0.0), "1/s"),
                "cpu_s_per_kdoc": (min((1000.0 * r.cpu / r.outcome.docs for r in ok), default=0.0), "s"),
            }
        for name, (value, unit) in metrics.items():
            print(f"{workload} {name} = {value:.6g} {unit}", flush=True)
        print(f"{workload} error_rate = {failed / len(records):.6g} (failed {failed} of {len(records)} passes)")
        return {
            "correct": failed == 0,
            "attempted": len(records),
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if session is not None:
            session.stop()
        shutil.rmtree(work, ignore_errors=True)


def _codec_timing(wl) -> dict:
    """The MLT kernel alone, on the driver, over the fixed tile sample:
    median of 3 timings of decode and of re-encode."""
    from maplibre_tile_spec_spark.functions import mlt_codec as C

    sample = getattr(wl, "codec_sample", None)
    if not sample:
        return {}
    dec, enc = [], []
    for _ in range(3):
        t = time.perf_counter()
        decoded = [C.decode_tile(b) for b in sample]
        dec.append(time.perf_counter() - t)
        t = time.perf_counter()
        out = [
            b"".join(
                C.encode_layer(C.LayerData(la.name, la.extent, la.geometry, ids=la.ids)) for la in layers
            )
            for layers in decoded
        ]
        enc.append(time.perf_counter() - t)
    n_feat = sum(la.geometry.types.shape[0] for layers in decoded for la in layers)
    return {
        "decode_s": statistics.median(dec),
        "encode_s": statistics.median(enc),
        "bytes_per_feature": sum(len(b) for b in out) / max(n_feat, 1),
    }


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

#: name → unit of every per-layer metric, in report order
LAYER_METRICS = {
    "sources.scan_s": "s",
    "sources.bytes_read": "bytes",
    "features.parse_s": "s",
    "features.py_worker_s": "s",
    "features.arrow_bytes_to_py": "bytes",
    "features.arrow_bytes_from_py": "bytes",
    "features.rows_out": "count",
    "tiler.encode_s": "s",
    "tiler.py_worker_s": "s",
    "tiler.arrow_bytes_to_py": "bytes",
    "tiler.arrow_bytes_from_py": "bytes",
    "tiler.shuffle_write_bytes": "bytes",
    "tiler.encode_task_skew": "ratio",
    "tiler.features_in": "count",
    "tiler.tiles_out": "count",
    "tile_bytes_per_feature": "bytes",
    "mlt_codec.encode_s": "s",
    "mlt_codec.decode_s": "s",
    "mlt_codec.bytes_per_feature": "bytes",
    "spatial.pip_s": "s",
    "spatial.pip_candidates": "count",
    "spatial.pip_hits": "count",
    "spatial.pip_hit_ratio": "ratio",
    "spatial.pip_py_worker_s": "s",
    "spatial.shuffle_write_bytes": "bytes",
    "dedup.lsh_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.cc_s": "s",
    "dedup.cc_jobs": "count",
    "dedup.bootstrap_s": "s",
    "dedup.incremental_s": "s",
    "dedup.incremental_jobs": "count",
    "dedup.shuffle_write_bytes": "bytes",
    "dedup.store_files": "count",
    "sink.write_s": "s",
    "sink.bytes_written": "bytes",
    "sink.files_written": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.core_idle_frac": "ratio",
    "proc.peak_rss_mb": "MB",
    "proc.cpu_s": "s",
    "host.calibration_mb_s": "MB/s",
    "host.external_cpu_frac": "ratio",
    "host.steal_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.span_coverage": "ratio",
    "trace.check_s": "s",
}


def _layer_metrics(wl, tracer, measured: list[PassRecord], counters: dict, codec: dict) -> dict:
    """Per traced pass means of span self times, event-log counters and the
    passes' own counts; a layer the workload does not run reports 0. The
    dedup set-up layers (lsh, cc, bootstrap) run once per run, in set-up."""
    traced = [r for r in measured if r.traced and r.ok]
    plain = [r for r in measured if not r.traced and r.ok]
    ids = {r.pass_id for r in traced}
    n = max(len(traced), 1)
    self_t = spans.self_times([s for s in tracer.spans if s.pass_id in ids])

    def span_s(name: str) -> float:
        return sum(v for (nm, p), v in self_t.items() if nm == name) / n

    setup_t = spans.self_times([s for s in tracer.spans if s.pass_id == SETUP_PASS])

    def setup_span_s(name: str) -> float:
        return setup_t.get((name, SETUP_PASS), 0.0)

    def layer(prefix: str) -> list:
        return [c for (g, p), c in counters.items() if p in ids and g.startswith(prefix)]

    def total(prefix: str, attr: str) -> float:
        return sum(getattr(c, attr) for c in layer(prefix)) / n

    def count(key: str) -> float:
        return sum(r.outcome.counts.get(key, 0) for r in traced) / n

    def task_skew(prefix: str) -> float:
        ratios = []
        for c in layer(prefix):
            if not c.stage_tasks:
                continue
            heaviest = max(c.stage_tasks.values(), key=sum)
            med = statistics.median(heaviest)
            ratios.append(max(heaviest) / med if med > 0 else 1.0)
        return statistics.median(ratios) if ratios else 0.0

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    wall = sum(r.wall for r in traced) / n
    run_s = total("", "run_ms") / 1000.0
    coverage = spans.coverage([s for s in tracer.spans if s.pass_id in ids])
    m = {
        "sources.scan_s": span_s("sources.scan"),
        "sources.bytes_read": total("", "bytes_read"),
        "features.parse_s": span_s("features.parse"),
        "features.py_worker_s": total("features.", "py_run_ms") / 1000.0,
        "features.arrow_bytes_to_py": total("features.", "py_bytes_sent"),
        "features.arrow_bytes_from_py": total("features.", "py_bytes_returned"),
        "features.rows_out": count("features"),
        "tiler.encode_s": span_s("tiler.encode"),
        "tiler.py_worker_s": total("tiler.", "py_run_ms") / 1000.0,
        "tiler.arrow_bytes_to_py": total("tiler.", "py_bytes_sent"),
        "tiler.arrow_bytes_from_py": total("tiler.", "py_bytes_returned"),
        "tiler.shuffle_write_bytes": total("tiler.", "shuffle_write_bytes"),
        "tiler.encode_task_skew": task_skew("tiler.encode"),
        "tiler.features_in": count("features") if layer("tiler.") else 0.0,
        "tiler.tiles_out": count("tiles"),
        "tile_bytes_per_feature": ratio(count("tile_bytes"), count("tile_features")),
        "mlt_codec.encode_s": codec.get("encode_s", 0.0),
        "mlt_codec.decode_s": codec.get("decode_s", 0.0),
        "mlt_codec.bytes_per_feature": codec.get("bytes_per_feature", 0.0),
        "spatial.pip_s": span_s("spatial.pip"),
        "spatial.pip_candidates": total("spatial.pip", "py_rows_in"),
        "spatial.pip_hits": count("pip_hits"),
        "spatial.pip_hit_ratio": ratio(count("pip_hits"), total("spatial.pip", "py_rows_in")),
        "spatial.pip_py_worker_s": total("spatial.pip", "py_run_ms") / 1000.0,
        "spatial.shuffle_write_bytes": total("spatial.", "shuffle_write_bytes"),
        "dedup.lsh_s": setup_span_s("dedup.lsh"),
        "dedup.candidate_pairs": count("candidate_pairs"),
        "dedup.cc_s": setup_span_s("dedup.cc"),
        "dedup.cc_jobs": sum(c.jobs for (g, p), c in counters.items() if g == "dedup.cc" and p == SETUP_PASS),
        "dedup.bootstrap_s": setup_span_s("dedup.bootstrap"),
        "dedup.incremental_s": span_s("dedup.incremental"),
        "dedup.incremental_jobs": total("dedup.incremental", "jobs"),
        "dedup.shuffle_write_bytes": total("dedup.", "shuffle_write_bytes"),
        "dedup.store_files": count("store_files"),
        "sink.write_s": span_s("sink.write"),
        "sink.bytes_written": count("sink_bytes"),
        "sink.files_written": count("sink_files"),
        "spark.jobs": total("", "jobs"),
        "spark.tasks": total("", "tasks"),
        "spark.executor_cpu_s": total("", "cpu_ns") / 1e9,
        "spark.gc_s": total("", "gc_ms") / 1000.0,
        "spark.spill_bytes": total("", "spill_bytes"),
        "spark.core_idle_frac": 1.0 - ratio(run_s, wall * _cores()) if wall else 0.0,
        "proc.cpu_s": sum(r.cpu for r in traced) / n,
        "host.external_cpu_frac": statistics.median(r.ext_cpu for r in measured) if measured else 0.0,
        "host.steal_s": sum(r.steal for r in measured) / max(len(measured), 1),
        "trace.overhead_frac": (
            1.0 - statistics.median(r.docs_per_s() for r in traced) / statistics.median(r.docs_per_s() for r in plain)
            if traced and plain
            else 0.0
        ),
        "trace.span_coverage": min(coverage.values()) if coverage else 0.0,
        "trace.check_s": span_s("check"),
    }
    return {k: (m[k], LAYER_METRICS[k]) for k in LAYER_METRICS if k in m}
