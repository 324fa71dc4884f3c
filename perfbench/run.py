"""Benchmark entry point: one workload per process, one JSON result line.

    python3 perfbench/run.py --workload geo --seed 0 --seconds 10 --trace 0

Run from the repository root. The run starts a local Spark session with two
task slots, builds the workload's seeded inputs (three times, for a median
set-up time), computes the off-clock references, runs one untimed warm-up
pass and then ``--seconds`` worth of timed passes, at least three, moved
later while the first of them has not levelled off (``passes``). Every op
of every pass is checked. The last stdout line is the result; the line
before it is a record with pass walls, host disclosure and op checks.

``--trace 1`` prints the per-layer table instead. It builds all three
workloads in this one process: after its warm-up the named one runs its
timed passes; the others then run one pass each, warmed only by what ran
before them. Spark's status store is read per op after the passes, never
inside one, so a traced pass runs the same code as an untraced one; the
tracing overhead is ``trace.pass_wall_s`` against the ``pass_wall_s`` of
the ``--trace 0`` record.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import demeter_spark  # noqa: E402,F401  (fails fast outside a checkout)

import inputs  # noqa: E402
import measure  # noqa: E402
from workloads import WORKLOADS, Ctx, Op, Workload  # noqa: E402

SETUP_BUILDS = 3
#: the timed window is the first run of passes, after at least one
#: warm-up pass, whose first pass is within WARMUP_TOL of the window's
#: median; at most MAX_WARMUP passes are spent on warm-up, which bounds
#: a run's length on a contended host
WARMUP_TOL = 0.10
MAX_WARMUP = 2
MIN_TIMED = 3
#: task slots (never more than nproc). On a 4-vCPU host local[2] ran
#: webtext as fast as local[4] with less CPU, and the free vCPUs absorb the
#: Spark driver's threads and hypervisor steal.
SLOTS = 2
OP_STATS = ("jobs", "tasks", "max_task_s", "shuffle_write_bytes", "spill_bytes")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=inputs.DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, one build, one warm-up and one timed pass "
                   "(smoke_test.py)")
    return p.parse_args(argv)


def start_session(work_dir: str, slots: int):
    """Local session with every file it writes inside ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["DEMETER_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.local.dir={local}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}",
        f"--driver-java-options '-Djava.io.tmpdir={tmp}'",
        "pyspark-shell",
    ])
    from demeter_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{slots}]",
                      shuffle_partitions=slots)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, tree: measure.ProcTree) -> None:
    """Stop Spark and the JVM, then wait for every descendant to end."""
    from pyspark import SparkContext

    pids = [p for p in tree.pids() if p != tree.root]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def run_pass(wl: Workload, ops: list[Op], tree: measure.ProcTree, tag: str) -> dict:
    """One pass over ``ops``; every op runs under its own job group.

    The pass wall counts engine calls and their consuming actions; result
    checks and /proc sampling between ops are timed and left out."""
    sc = wl.spark.sparkContext
    wl.begin_pass()
    spans, rss, failed = [], [], []
    off_clock = 0.0
    cpu0 = tree.cpu_s()
    t0 = time.perf_counter()
    for op in ops:
        group = f"{tag}/{op.name}"
        sc.setJobGroup(group, group)
        a = time.perf_counter()
        try:
            out, err = op.run(), None
        except Exception:
            out, err = None, traceback.format_exc()
        b = time.perf_counter()
        try:
            ok = err is None and bool(op.check(out))
        except Exception:
            ok, err = False, traceback.format_exc()
        if not ok:
            failed.append(op.name)
            print(f"op failed: {tag} {op.name}: {err or out!r}"[:2000],
                  file=sys.stderr)
        rss.append(tree.rss_mb())
        off_clock += time.perf_counter() - b
        spans.append((op.name, b - a, group))
    wall = time.perf_counter() - t0 - off_clock
    cpu = tree.cpu_s() - cpu0
    sc.setJobGroup(f"{tag}/after", f"{tag}/after")
    wl.end_pass()
    return {"tag": tag, "wall": wall, "cpu": cpu, "rss": rss, "spans": spans,
            "failed": failed, "attempted": len(ops)}


def settle(wl: Workload, p: dict) -> None:
    """Off the clock: record storage still held, then reset it."""
    p["retained_mb"] = measure.retained_storage_mb(wl.spark)
    measure.reset_between_passes(wl.spark)


def shuffle_bytes(stats: measure.GroupStats, p: dict) -> int:
    return sum(stats.shuffle_write_bytes(g) for _, _, g in p["spans"])


def setup(ctx: Ctx, name: str, builds: int) -> tuple[Workload, list[float]]:
    walls = []
    for _ in range(builds):
        wl = WORKLOADS[name](ctx)
        t0 = time.perf_counter()
        wl.build()
        walls.append(time.perf_counter() - t0)
        if len(walls) < builds:
            measure.reset_between_passes(ctx.spark, settle_s=0.0)
    wl.prepare()
    return wl, walls


def passes(wl: Workload, tree, prefix: str, n: int,
           max_warm: int) -> tuple[list[dict], list[dict]]:
    """(warm-up, timed): one warm-up pass, then passes until the last ``n``
    form a window whose first pass is within WARMUP_TOL of the window's
    median, i.e. warm-up had levelled off before the window began. The rule
    reads only this run's walls, so both sides of a comparison apply it
    alike; the median always reads exactly ``n`` passes."""
    done: list[dict] = []
    while True:
        done.append(run_pass(wl, wl.ops(), tree, f"{prefix}pass{len(done)}"))
        settle(wl, done[-1])
        warm, window = done[:-n], done[-n:]
        if not warm:
            continue
        med = statistics.median(p["wall"] for p in window)
        if abs(window[0]["wall"] - med) <= WARMUP_TOL * med or len(warm) >= max_warm:
            return warm, window


def n_timed(wl: Workload, seconds: float) -> int:
    """``seconds`` / the workload's nominal pass wall, at least MIN_TIMED.
    The count never depends on measured walls, so a slow pass cannot
    change how many passes the median reads."""
    return max(MIN_TIMED, round(seconds / wl.pass_s))


def bench(args, ctx: Ctx, tree: measure.ProcTree) -> tuple[dict, dict]:
    session_s = time.perf_counter() - T_PROCESS
    wl, builds = setup(ctx, args.workload, 1 if args.smoke else SETUP_BUILDS)
    prepared = time.perf_counter()
    wl.enter()
    warm, timed = passes(wl, tree, "", 1, 1) if args.smoke else \
        passes(wl, tree, "", n_timed(wl, args.seconds), MAX_WARMUP)
    wl.leave()
    stats = measure.GroupStats(ctx.spark)
    rows = wl.rows()
    walls = [p["wall"] for p in timed]
    metrics = {
        "rows_per_s": (rows / statistics.median(walls), "1/s"),
        "cpu_us_per_row": (
            statistics.median(p["cpu"] for p in timed) / rows * 1e6, "us"),
        "setup_s": (session_s + statistics.median(builds), "s"),
        "shuffle_bytes_per_row": (
            statistics.median(shuffle_bytes(stats, p) for p in timed) / rows, "B"),
        "peak_rss_mb": (max(max(p["rss"]) for p in timed), "MB"),
    }
    done = warm + timed
    record = {
        "workload": wl.name, "seed": ctx.seed, "rows_per_pass": rows,
        "session_start_s": session_s, "build_s": builds,
        "prepare_s": prepared - T_PROCESS - session_s - sum(builds),
        "warmup_walls": [p["wall"] for p in warm], "timed_walls": walls,
        "pass_wall_s": statistics.median(walls),
        "timed_cpu_s": [p["cpu"] for p in timed],
        "op_walls": {n: [w for p in done for m, w, _ in p["spans"] if m == n]
                     for n, _, _ in timed[0]["spans"]},
        "retained_storage_mb": [p["retained_mb"] for p in done],
        "ops_attempted": sum(p["attempted"] for p in done),
        "ops_failed": sum(len(p["failed"]) for p in done),
        "failed_ops": sorted({n for p in done for n in p["failed"]}),
    }
    return metrics, record


def trace(args, ctx: Ctx, tree: measure.ProcTree) -> tuple[dict, dict]:
    from kernels import kernel_metrics
    from workloads import GEO_RES, HEX_RES, ZONAL_RES

    session_s = time.perf_counter() - T_PROCESS
    stats = measure.GroupStats(ctx.spark)
    metrics: dict[str, tuple[float, str]] = {"session.start_s": (session_s, "s")}
    attempted = failed = 0
    order = [args.workload] + [w for w in WORKLOADS if w != args.workload]
    built: dict[str, Workload] = {}
    for name in order:
        wl, _ = setup(ctx, name, 1)
        built[name] = wl
        wl.enter()
        named = name == args.workload
        if named and not args.smoke:
            warm, timed = passes(wl, tree, f"{name}.", MIN_TIMED, MAX_WARMUP)
        else:  # one pass, warmed only by what ran before it
            warm, timed = [], [run_pass(wl, wl.ops(), tree, f"{name}.pass0")]
            settle(wl, timed[0])
        warmup_s = sum(p["wall"] for p in warm)
        done = warm + timed
        traced = timed[-1]
        spans = list(traced["spans"])
        for op in wl.extra_ops():
            extra = run_pass(wl, [op], tree, f"{name}.extra")
            done.append(extra)
            spans += extra["spans"]
        if name == "webtext":
            metrics["linkgraph.pagerank.round_s"] = (_pagerank_round_s(wl), "s")
        wl.leave()
        for op_name, wall, group in spans:
            s = stats.summary(group)
            metrics[f"{op_name}.wall_s"] = (wall, "s")
            for k in OP_STATS:
                if k == "max_task_s" and op_name in NO_MAX_TASK:
                    continue
                metrics[f"{op_name}.{k}"] = (s[k], UNITS[k])
        attempted += sum(p["attempted"] for p in done)
        failed += sum(len(p["failed"]) for p in done)
        if named:
            metrics["session.warmup_s"] = (warmup_s, "s")
            metrics["session.retained_storage_mb"] = (traced["retained_mb"], "MB")
            metrics["trace.pass_wall_s"] = (
                statistics.median(p["wall"] for p in timed), "s")
            metrics["trace.pass_cpu_s"] = (
                statistics.median(p["cpu"] for p in timed), "s")
            metrics["trace.op_wall_share"] = (
                sum(w for _, w, _ in traced["spans"]) / traced["wall"], "ratio")
    metrics["sources.synth.points_s"] = (built["geo"].build_s["points"], "s")
    metrics["sources.synth.raster_cells_s"] = (built["geo"].build_s["raster_cells"], "s")
    metrics["sources.synth.corpus_s"] = (built["webtext"].build_s["corpus"], "s")
    for k, v in kernel_metrics(built["geo"], GEO_RES, ZONAL_RES, HEX_RES).items():
        metrics[k] = (v, "s" if k.endswith("_s") else "ns")
    record = {"workload": args.workload, "seed": ctx.seed,
              "ops_attempted": attempted, "ops_failed": failed}
    return metrics, record


UNITS = {"jobs": "count", "tasks": "count", "max_task_s": "s",
         "shuffle_write_bytes": "B", "spill_bytes": "B"}
#: ops whose slowest task takes well under 0.2 s: a millisecond reading
#: there repeats exactly across runs and says nothing about stragglers
NO_MAX_TASK = {"skew.hot_cells_from_metrics", "lineage.read_stage",
               "lineage.write_increment_resume", "tilepyramid.tile_pyramid",
               "curation.curate", "linkgraph.pagerank"}


def _pagerank_round_s(wl) -> float:
    """(wall at n_iter=4 - wall at n_iter=1) / 3, each with its action."""
    from demeter_spark.operators import linkgraph

    walls = {}
    for n_iter in (1, 4):
        t0 = time.perf_counter()
        linkgraph.pagerank(wl.edges, n_iter=n_iter, mode="int").agg(
            {"rank_fp": "sum"}).first()
        walls[n_iter] = time.perf_counter() - t0
    return (walls[4] - walls[1]) / 3


def main(argv=None) -> int:
    args = parse_args(argv)
    host0 = measure.host_snapshot()
    calib0 = measure.calibration_s()
    tree = measure.ProcTree()
    slots = min(SLOTS, len(os.sched_getaffinity(0)))
    work_dir = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    spark = start_session(work_dir, slots)
    try:
        ctx = Ctx(spark, args.seed, inputs.SMOKE if args.smoke else inputs.BENCH,
                  work_dir, 2 * slots)
        metrics, record = (trace if args.trace else bench)(args, ctx, tree)
    finally:
        stopping = time.perf_counter()
        stop_session(spark, tree)
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:  # another run's directory is still there
            pass
    record["stop_s"] = time.perf_counter() - stopping
    host = measure.host_window(host0, measure.host_snapshot())
    host["calib_s"] = statistics.median([calib0, measure.calibration_s()])
    record["host"] = host
    if args.trace:
        metrics["host.steal_share"] = (host["steal_share"], "ratio")
        metrics["host.loadavg"] = (host["loadavg"], "load")
        metrics["host.calib_s"] = (host["calib_s"], "s")
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": record["ops_failed"] == 0,
        "attempted": record["ops_attempted"],
        "failed": record["ops_failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
