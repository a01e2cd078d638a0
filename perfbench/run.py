"""cov-tiles-spark benchmark: seeded workloads against the package's
public functions, closed loop, one client, one ``local[<=4]`` process.

    python3 perfbench/run.py --workload tile-build --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is the result
(``correct``, ``attempted``, ``failed``, ``metrics``): end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. The line before
it is a report with the stated input sizes, every op's wall time and the
workload's headline numbers. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_WALL_S = 150  # start no new op past this point; a run must end within 180 s


# ---------- process tree: peak RSS and shutdown ----------

def _ppids() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                    out[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants,
    including children they have already reaped (finished Python
    workers count through the daemon that waited for them)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(v) for v in f[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
    return total / tick


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss(threading.Thread):
    """Samples the summed RSS of this process and all its descendants
    (driver JVM, Python workers) every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_evt.wait(0.2):
            self.peak = max(self.peak, sum(map(_rss_bytes, [me, *descendants(me)])))

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 2**20


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every process
    it started (Python daemon and workers) to exit."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    alive = pids
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _cpu_ticks() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def _steal_pct(before: list[int], after: list[int]) -> float:
    d = [a - b for a, b in zip(after, before)]
    return 100.0 * d[7] / max(1, sum(d[:8]))  # user..steal; guest time is inside user


# ---------- run ----------

def _env(work: str, cores: int, trace: bool) -> None:
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])])


class Ctx:
    def __init__(self, spark, work: str, seed: int, trace: bool):
        self.spark, self.work, self.seed, self.trace = spark, work, seed, trace


def _warm(batches):
    import cov_tiles_spark.pipeline.materialize  # noqa: F401  (worker-side imports)

    yield from batches


def run(args, work: str) -> tuple[dict, dict]:
    import workloads
    from cov_tiles_spark.session import get_spark
    import tracing as tr

    cores = min(4, len(os.sched_getaffinity(0)))
    _env(work, cores, args.trace)
    t_begin = time.perf_counter()
    rss = PeakRss()
    rss.start()

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    try:
        tracer = tr.Tracer(spark)
        with tracer.span("setup") as s_warm:
            from pyspark.sql import functions as F

            spark.range(0, 1000, numPartitions=cores).groupBy(
                (F.col("id") % 7).alias("k")).count().orderBy("k").collect()
            spark.range(0, cores, numPartitions=cores).mapInArrow(
                _warm, schema="id long").collect()
        warmup_s = s_warm.wall

        ctx = Ctx(spark, work, args.seed, args.trace)
        w = workloads.WORKLOADS[args.workload](ctx)
        gen_s = []
        for _ in range(3):  # input generation is repeated; setup_s takes the median
            t = time.perf_counter()
            w.make_inputs()
            gen_s.append(time.perf_counter() - t)
        with tracer.span("setup") as s_state:
            w.build_state()
            for i in range(w.warm_ops):
                w.op(-1 - i, tracer, w.prepare(-1 - i))
        state_s = s_state.wall
        setup_s = start_s + warmup_s + statistics.median(gen_s) + state_s
        w.expect()

        walls, cpus, infos, failed = [], [], [], 0
        cpu0 = _cpu_ticks()
        # closed loop: start another op while that brings the measured
        # time closer to --seconds (at least one op)
        while not walls or (sum(walls) + statistics.mean(walls) / 2 < args.seconds
                            and time.perf_counter() - t_begin + max(walls) < MAX_WALL_S):
            i = len(walls)
            arg = w.prepare(i)
            c0 = tree_cpu_s()
            with tracer.span(f"op{i}") as s:
                try:
                    out = w.op(i, tracer, arg)
                except Exception as e:  # an op that raises counts as failed
                    print(f"op {i} raised: {e!r}", file=sys.stderr)
                    out = None
            walls.append(s.wall)
            cpus.append(tree_cpu_s() - c0)
            ok, info = False, {}
            if out is not None:
                try:
                    ok, info = w.check(i, out)
                except Exception as e:  # unreadable or malformed output
                    print(f"op {i} output check raised: {e!r}", file=sys.stderr)
            failed += not ok
            infos.append(info)

        steal_pct = _steal_pct(cpu0, _cpu_ticks())
        layer = {}
        if args.trace:
            layer = _kernel_metrics(w, args.seed)
            kernel_s_per_tile = layer.pop("_kernel_s_per_tile", 0.0)
    finally:
        stop_spark(spark)
    peak_mb = rss.stop()

    report = _report(w, tracer, walls, cpus, infos, failed, setup_s, peak_mb, steal_pct)
    if args.trace:
        layer.update(_trace_metrics(w, work, walls, infos, cores, kernel_s_per_tile))
        layer["session.start_s"] = start_s
        layer["session.warmup_s"] = warmup_s
        units = tr.PER_LAYER
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": units[k][0]} for k in units}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_cpu_s.p50": {"value": statistics.median(cpus), "unit": "s"},
        }
    result = {"correct": failed == 0, "attempted": len(walls), "failed": failed,
              "metrics": metrics}
    return report, result


def _report(w, tracer, walls, cpus, infos, failed, setup_s, peak_mb, steal_pct) -> dict:
    """The workload's headline numbers, named as in perfbench/README.md."""
    p50 = statistics.median(walls)
    head = {"op_s.p50": (p50, "s"), "op_cpu_s.p50": (statistics.median(cpus), "s"),
            "setup_s": (setup_s, "s"), "peak_rss_mb": (peak_mb, "MB"),
            "failed_ops_frac": (failed / len(walls), "ratio"),
            # CPU time the hypervisor gave to other guests while the ops ran:
            # a noisy run on a shared host shows here, not in the program
            "host_steal_pct": (steal_pct, "%")}
    good = [i for i in infos if i]
    if good and w.name == "tile-build":
        last = good[-1]
        head["tiles_per_s"] = (statistics.median(i["tiles"] for i in good) / p50, "tiles/s")
        head["payload_bytes_per_feature"] = (last["payload_bytes"] / last["features"], "B")
        head["covt_vs_mvt_pct"] = (100.0 * last["payload_bytes"] / last["mvt_bytes"], "%")
    elif good and w.name == "spatial-join":
        pip = [s.wall for s in tracer.spans if s.name.endswith("/pip")]
        knn = [s.wall for s in tracer.spans if s.name.endswith("/knn")]
        head["pip_points_per_s"] = (w.n_points / statistics.median(pip), "points/s")
        head["knn_queries_per_s"] = (w.n_queries / statistics.median(knn), "queries/s")
    elif good and w.name == "tile-update":
        head["update_s.p50"] = (p50, "s")
        head["changed_tiles_per_op"] = (statistics.median(
            i["stats"]["changed"] for i in good), "count")
    return {"workload": w.name, "seed": w.ctx.seed, "inputs": w.stated_size(),
            "op_walls_s": walls, "op_cpu_s": cpus, "failed_ops": failed,
            "headline": {k: {"value": v, "unit": u} for k, (v, u) in head.items()}}


def _kernel_metrics(w, seed) -> dict:
    import kernels

    out = {}
    if w.name == "spatial-join":
        out["pip.kernel_ns_per_point_edge"] = kernels.pip_kernel_ns_per_point_edge(seed)
        return out
    km = kernels.covt_metrics(w.rows, w.last_tiles, seed)
    out.update({k: v for k, v in km.items() if not k.startswith("_")})
    tiles = w.last_tiles
    for z, g in tiles.groupby("z"):
        f = g["num_features"].sum()
        out[f"covt.bytes_per_feature.z{z}"] = g["payload_bytes"].sum() / f
        if "mvt_bytes" in g:
            out[f"covt.mvt_bytes_per_feature.z{z}"] = g["mvt_bytes"].sum() / f
    # single-core kernel seconds per encoded tile (MVT sizing only where
    # the op asks for the baseline)
    out["_kernel_s_per_tile"] = (km["_encode_us_mean"] + (
        km["_mvt_us_mean"] if w.name == "tile-build" else 0.0)) / 1e6
    return out


def _trace_metrics(w, work, walls, infos, cores, kernel_s_per_tile) -> dict:
    import glob

    import tracing as tr

    logs = glob.glob(os.path.join(work, "eventlog", "*"))
    log = tr.parse_event_log(logs[0])
    good = [i for i in infos if i]
    run = {"n_ops": len(walls), "op_walls": walls, "cores": cores, "kinds": w.kinds}
    if w.name == "tile-build":
        run["tiles_encoded"] = sum(i["tiles"] for i in good)
    elif w.name == "tile-update":
        run["tiles_encoded"] = sum(i["stats"]["changed"] for i in good)
    elif w.name == "spatial-join":
        run["knn_rows"] = sum(i["knn_rows"] for i in good)
        run["knn_points"] = w.n_points
    m = tr.spark_layer_metrics(log, run)
    if "tiles_encoded" in run:
        kernel_s = run["tiles_encoded"] * m["materialize.encode_passes"] * kernel_s_per_tile
        m["covt.kernel_share_pct"] = 100.0 * kernel_s / (sum(walls) * cores)
    if w.name == "tile-update":
        m["delta.changed_tiles"] = statistics.mean(i["stats"]["changed"] for i in good)
        m["delta.unchanged_tiles"] = statistics.mean(i["stats"]["unchanged"] for i in good)
        m["lineage.files_written"] = statistics.mean(i["files_written"] for i in good)
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path[:0] = [ROOT, HERE]
    if importlib.util.find_spec("cov_tiles_spark") is None:
        print(f"cov_tiles_spark is not importable from {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        report, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # the parent, once no run uses it
            os.rmdir(os.path.dirname(work))
    print(json.dumps(report), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
