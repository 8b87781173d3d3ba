"""Benchmark for the join and tiling engine: one workload per run.

    python3 perfbench/run.py --workload checkpoint_resume --seed 1 --seconds 12 --trace 0

Run from the repository root. One process, one closed-loop client: the
main thread starts each job only after the previous one has finished.
Spark runs as ``local[4]`` with 8 shuffle partitions; the JVM heap is
sized from the host's memory. Inputs come from ``gen.py`` for the given
seed and are cached under ``.perfbench_work/inputs``; generation runs in a
child process before the session starts, so it counts neither in
``setup_s`` nor in the measured peak memory.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` interleaves
untraced and traced jobs, prints the per-layer metrics and writes the
spans to ``.perfbench_work/spans-<workload>-<seed>.json``. ``perfbench/
layers.json`` names the end-to-end metrics and workloads each per-layer
metric should move; ``perfbench/smoke.py`` checks that every listed metric
is printed. Every metric is
printed by name and unit, and the last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from spans import Tracer, null_span

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES, SHUFFLE_PARTITIONS = 4, 8
# Warm-up jobs are discarded before timing and counted in setup_s: the
# first pays the cold JVM and Python-worker start, the next two the bulk of
# the JIT compilation. Jobs keep getting a few percent faster for a dozen
# more, longer than a run can afford to wait, so the count is fixed and
# every run times the same stretch of that curve.
WARMUP_JOBS = 3


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def heap_size() -> str:
    """An eighth of the host's memory, clamped to 1-4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(max(total_kb // 8 // 1024, 1024), 4096)}m"


def configure_env(run_dir: str) -> None:
    """Pin the session's settings and keep every file the run writes,
    Spark's scratch and the JVM's temp files included, under `run_dir`.
    The JVM flags are the engine's defaults plus a fixed initial heap: a
    heap that grows during the run changes how often the serial collector
    runs from one job to the next."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    heap = heap_size()
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_DRIVER_MEM=heap,
        SPARK_GRAFT_JVM_OPTS=f"-XX:+UseSerialGC -XX:CICompilerCount=2 -Xms{heap} -Djava.io.tmpdir={tmp}",
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} pyspark-shell"
        ),
    )


def peak_rss_mb() -> float:
    """Sum of the kernel's per-process high-water marks (VmHWM) over this
    process and all its descendants: the Spark JVM and the Python
    workers. Workers that already exited are not counted."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, wl):
        self.wl = wl
        self.fp0 = None
        self.attempted = 0
        self.failed = 0

    def run_job(self, span=null_span) -> float | None:
        """One job; returns its wall, or None when it failed or its
        fingerprint differs from the first job's."""
        self.wl.reset()
        self.wl.collecting = self.fp0 is None
        if self.wl.collecting:
            self.wl.kept = {}
        t = time.perf_counter()
        try:
            with span("bench.job"):
                fp = self.wl.job(span)
        except Exception:  # a failing job is counted, and the loop goes on
            traceback.print_exc()
            fp = None
        wall = time.perf_counter() - t
        self.wl.collecting = False
        phase(f"job {wall:.3f}s")
        if self.fp0 is None and fp is not None:
            self.fp0 = fp
        if fp is None or fp != self.fp0:
            return None
        return wall

    def timed_job(self, span=null_span) -> float | None:
        self.attempted += 1
        wall = self.run_job(span)
        if wall is None:
            self.failed += 1
        return wall


T_START = time.perf_counter()


def phase(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args()

    missing = [m for m in ("gdal_common_python_spark", "__spark_entry__") if not _importable(m)]
    if missing:
        print(f"perfbench: engine sources not found under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{args.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    configure_env(run_dir)
    inputs = os.path.join(WORK, "inputs")
    table_dir = generate(inputs, args.seed, cls.tiny if args.tiny else cls.sizes)

    phase("inputs ready")
    from gdal_common_python_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app=f"perfbench-{args.workload}", cores=CORES, shuffle_partitions=SHUFFLE_PARTITIONS)
    session_s = time.perf_counter() - t0
    try:
        wl = cls(spark, table_dir, run_dir, args.seed, args.tiny)
        rows = wl.open()
        runner = Runner(wl)
        walls = [runner.run_job() for _ in range(WARMUP_JOBS)]
        setup_s = time.perf_counter() - t0
        warm_failed = sum(w is None for w in walls)
        phase(f"warm-up done: {[round(w, 3) if w else w for w in walls]}")

        if args.trace:
            tracer = Tracer(spark.sparkContext)
            metrics = traced(args, runner, tracer, session_s)
            tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
        else:
            t_end = time.perf_counter() + args.seconds
            timed = []
            while not timed or time.perf_counter() < t_end:
                timed.append(runner.timed_job())
            ok = [w for w in timed if w is not None]
            metrics = {
                "setup_s": setup_s,
                "job_p50_s": _median_ok(ok),
                "rows_per_s": rows * len(ok) / sum(ok) if ok else 0.0,
                "peak_rss_mb": peak_rss_mb(),
            }
            extra = {"resume_s": wl.extra["resume_s"]} if "resume_s" in wl.extra else {}
        phase("timed region done")
        runner.attempted += 1
        try:
            oracle_ok = wl.check()
        except Exception:
            traceback.print_exc()
            oracle_ok = False
        runner.failed += (not oracle_ok) + warm_failed
        runner.attempted += warm_failed
        phase(f"oracle check done: {oracle_ok}")
    finally:
        stop_spark(spark)
        phase("session stopped")
    shutil.rmtree(run_dir, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec()["end_to_end"] + spec()["per_layer"]}
    metrics = {name: metrics[name] for name in units if name in metrics}
    print(f"{args.workload} seed={args.seed} trace={args.trace} rows={rows} "
          f"warmup_jobs={len(walls)} attempted={runner.attempted} failed={runner.failed}")
    for name, value in metrics.items():
        print(f"  {name:36s} {value:>16.6g} {units[name]}")
    if not args.trace:
        for name, value in extra.items():
            print(f"  {name:36s} {value:>16.6g} s")
        print(f"  {'error_rate':36s} {runner.failed / runner.attempted:>16.6g} ratio")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def traced(args, runner: Runner, tracer, session_s: float) -> dict:
    """Interleave untraced and traced jobs for the run's seconds, then probe
    single layers. Per-layer values are medians over the traced jobs; a
    metric whose layer this workload never calls reads 0."""
    untraced, traced_walls, jobs = [], [], []
    t_end = time.perf_counter() + args.seconds
    i = 0
    while len(traced_walls) < 2 or time.perf_counter() < t_end:
        # untraced, traced, traced, untraced, ...: jobs still get faster
        # through a run, and this order keeps that drift out of the overhead
        if i % 4 in (1, 2):
            tracer.job_id = f"j{i}"
            w = runner.timed_job(tracer.span)
            traced_walls.append(w)
            jobs.append(tracer.job_id)
        else:
            untraced.append(runner.timed_job())
        i += 1
    tracer.job_id = "probe"
    probes = runner.wl.probe(tracer.span)

    def per_job(fn) -> float:
        return statistics.median(fn(j) for j in jobs)

    def in_job(j):
        return [s for s in tracer.spans if s["job"] == j]

    def total(*names: str, key: str | None = None) -> float:
        """Per-job sum over the named spans: seconds, or with `key` the
        Spark count of each span's whole subtree."""
        def f(j):
            return sum(
                tracer.subtree_counts(s, key) if key else s["end"] - s["start"]
                for n in names for s in tracer.named(n, j)
            )
        return per_job(f)

    ran = {s["name"] for s in tracer.spans if s["job"] in jobs}
    seconds = {
        "spatial_join.build_s": ["spatial_join.build"],
        "tile_assign.s": ["tile_assign.call", "tile_assign.exec"],
        "zonal.build_s": ["zonal.build"],
        "zonal.exec_s": ["zonal.exec"],
        "knn.build_s": ["knn.build"],
        "knn.exec_s": ["knn.exec"],
        "checkpoint.resume_s": ["checkpoint.resume"],
    }
    spark_jobs = {
        "spatial_join.build_jobs": "spatial_join.build",
        "zonal.build_jobs": "zonal.build",
        "knn.build_jobs": "knn.build",
    }
    m = {metric: total(*names) for metric, names in seconds.items() if ran.issuperset(names)}
    m.update({metric: total(name, key="spark_jobs") for metric, name in spark_jobs.items() if name in ran})
    if {"checkpoint.partial", "checkpoint.resume"} <= ran:
        m["checkpoint.stage_jobs"] = total("checkpoint.partial", "checkpoint.resume", key="spark_jobs") / 2
    for layer in {n.split(".")[0] for n in ran}:
        m[f"self_s.{layer}"] = per_job(
            lambda j: sum(tracer.self_time(s) for s in in_job(j) if s["name"].split(".")[0] == layer)
        )
    m.update({
        "session.start_s": session_s,
        "spark.jobs": per_job(lambda j: sum(s["spark_jobs"] for s in in_job(j))),
        "spark.tasks": per_job(lambda j: sum(s["spark_tasks"] for s in in_job(j))),
        "spark.tasks_failed": per_job(lambda j: sum(s["spark_tasks_failed"] for s in in_job(j))),
        "trace.overhead_s": _median_ok(traced_walls) - _median_ok(untraced),
        **probes,
    })
    # a layer this workload never calls reads 0; one it calls but that was
    # not measured stays missing, which the smoke check reports
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    for name, link in layers.items():
        if args.workload not in link["on"]:
            m.setdefault(name, 0.0)
    unknown = set(m) - set(layers)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return m


def _median_ok(walls) -> float:
    """Median of the jobs that succeeded; 0 when none did (the run then
    reports itself incorrect)."""
    ok = [w for w in walls if w is not None]
    return statistics.median(ok) if ok else 0.0


def generate(inputs: str, seed: int, sizes: dict) -> str:
    """Table directory for `seed`, generated in a child process when not
    cached, so its memory never counts in the measured peak."""
    import gen

    table_dir, complete = gen.cached(inputs, seed, sizes)
    if not complete:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), inputs, str(seed), json.dumps(sizes)],
            check=True, stdout=subprocess.DEVNULL,
        )
    return table_dir


def _importable(module: str) -> bool:
    sys.path.insert(0, ROOT)
    try:
        return importlib.util.find_spec(module) is not None
    finally:
        sys.path.pop(0)


if __name__ == "__main__":
    sys.exit(main())
