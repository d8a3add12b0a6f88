"""spark-graft benchmark: one closed-loop client, one process, one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see ``BENCHMARK.json``):

- ``season_pipeline``: E1 max-params, E2 YAP and E3 player stats over one
  synthetic season, the reference's three file-connected stages;
- ``dedup_graph``: the two duplicate-cluster consumers, label propagation and
  k-core peeling.

An op is one query or pipeline stage, timed from the call that builds it to
the end of its sink; a pass is the workload's op list. The run sets up a
session three times (median = ``setup_s``), runs one cold pass and one
warm-up pass, then measured warm passes for about ``--seconds`` (at least
two of them). Spark runs on half the machine's cores.
Every op's output is verified outside the timed region. The last stdout line
is the JSON result; a readable summary goes to stderr and the full record,
with per-op spans, to ``perfbench/_work/record/``.

With ``--trace 1`` the warm passes alternate untraced and traced, the result
carries the per-layer metrics (per traced warm pass) and
``trace.overhead_s`` = traced minus untraced median pass time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
PACKAGE = ROOT / "nfl_big_data_bowl_2024_spark"
WORKLOADS = ("season_pipeline", "dedup_graph")
SETUPS = 3
WARMUP_PASSES = 1  # after the cold pass, excluded from every statistic
MIN_PASSES = 2  # measured; with --trace 1, one untraced and one traced

END_TO_END = [
    ("setup_s", "s"),
    ("cold_pass_s", "s"),
    ("pass_p50_s", "s"),
    ("op_p50_s", "s"),
    ("op_p90_s", "s"),
    ("queries_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
]
PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("session.first_action_s", "s"),
    ("session.pyworker_spawn_s", "s"),
    ("plans.build_s", "s"),
    ("plans.build_share", "share"),
    ("sink.action_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.core_busy", "share"),
    ("sources.scan_time_s", "s"),
    ("sources.bytes_read", "bytes"),
    ("pyworker.run_s", "s"),
    ("trace.overhead_s", "s"),
]
# Recorded per op and summarised on stderr, but kept off the result line:
# only season_pipeline writes, and Python workers, started during set-up,
# are reused, so their start time reads 0.
WORKLOAD_LAYERS = [
    "sources.write_s",
    "sources.bytes_written",
    "pyworker.start_s",
]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def cpus() -> int:
    """Executor cores: half the machine's. Every task thread of a grouped-map
    stage keeps a Python worker busy too, and the JVM's compiler and GC
    threads and the driver process need cores of their own; on all cores the
    run measures the scheduler and swings with the host's other load."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def set_environment() -> None:
    """The runner environment: executor cores, the package importable by
    Python workers, single-threaded BLAS in them, quiet stage progress, and
    every scratch file inside the checkout. The driver heap is fixed at
    2 GiB and pre-touched, so that the JVM's resident size does not depend on
    when G1 happened to grow it."""
    local = WORK / "spark-local"
    tmp = WORK / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=str(local),
        TMPDIR=str(tmp),
        OPENBLAS_NUM_THREADS="1",
        OMP_NUM_THREADS="1",
        PYTHONPATH=f"{ROOT}{os.pathsep}{path}" if path else str(ROOT),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={WORK / 'warehouse'} "
            "--driver-java-options '-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}' pyspark-shell"
        ),
    )
    sys.path.insert(0, str(ROOT))


def prepare(workload: str, seed: int) -> dict:
    """The workload's inputs and expected outputs: reused when cached, else
    generated in a child process. Returns the manifest."""
    from inputs import cached_manifest

    man = cached_manifest(workload, seed, WORK)
    if man is None:
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, str(HERE / "inputs.py"), workload, str(seed), str(WORK)],
            check=True, timeout=850,
        )
        man = cached_manifest(workload, seed, WORK)
        log(f"inputs generated in {time.perf_counter() - t0:.1f}s")
    log(f"inputs: {json.dumps(man['tables'])}")
    return man


def _identity(batches):
    yield from batches


def set_up_session() -> tuple[object, dict]:
    """``session.get_spark`` to a warm session: the first action, then a
    Python worker started on every core."""
    from nfl_big_data_bowl_2024_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("spark-graft-bench")
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    n = cpus()
    spark.range(n).repartition(n).mapInPandas(_identity, "id long").count()
    t3 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {
        "session.get_spark_s": t1 - t0,
        "session.first_action_s": t2 - t1,
        "session.pyworker_spawn_s": t3 - t2,
        "setup_s": t3 - t0,
    }


def stop_session(spark, final: bool) -> None:
    """Stop the context; on ``final`` also end the JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    if not final:
        return
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def vm_hwm_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def run_pass(workload, index: int, kind: str, tracer=None) -> list[dict]:
    workload.before_pass()
    records = []
    for op in workload.ops():
        group = tracer.begin(op.name) if tracer else None
        t0 = time.perf_counter()
        t1 = None
        error = None
        try:
            built = op.build()
            t1 = time.perf_counter()
            result = op.sink(built)
            t2 = time.perf_counter()
        except Exception as e:  # an op failure is a counted result, not a crash
            t2 = time.perf_counter()
            error = f"{type(e).__name__}: {str(e)[:300]}"
        if error is None:
            try:
                error = op.verify(result)
            except Exception as e:
                error = f"verify {type(e).__name__}: {str(e)[:300]}"
        rec = {
            "pass": index,
            "kind": kind,
            "op": op.name,
            "start": time.time() - (time.perf_counter() - t0),
            "plans.build_s": (t1 or t2) - t0,
            "sink.action_s": t2 - (t1 or t2),
            "wall_s": t2 - t0,
            "plans.build_share": ((t1 or t2) - t0) / (t2 - t0),
            "error": error,
            **op.layer_s,
        }
        if tracer:
            rec.update(tracer.end(group))
        if error:
            log(f"FAILED {op.name} (pass {index}): {error}")
        records.append(rec)
    return records


def _per_traced_pass(traced: list[dict], n_passes: int, cores: int) -> dict:
    def total(key):
        return sum(r.get(key, 0) for r in traced)

    wall = total("wall_s")
    out = {
        "plans.build_s": total("plans.build_s") / n_passes,
        "plans.build_share": total("plans.build_s") / wall,
        "sink.action_s": total("sink.action_s") / n_passes,
        "spark.core_busy": total("spark.executor_run_s") / (wall * cores),
    }
    for key in (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
        "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
        "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
        "spark.spill_bytes", "sources.scan_time_s", "sources.bytes_read",
        "pyworker.run_s", *WORKLOAD_LAYERS,
    ):
        out[key] = total(key) / n_passes
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (PACKAGE / "__init__.py").is_file():
        log(f"the spark-graft package is missing: no {PACKAGE.name}/ next to perfbench/")
        return 2
    set_environment()
    manifest = prepare(args.workload, args.seed)

    import ops
    from layers import KernelProbe, Tracer

    setups = []
    for i in range(SETUPS):
        spark, s = set_up_session()
        setups.append(s)
        if i < SETUPS - 1:
            stop_session(spark, final=False)
    cores = spark.sparkContext.defaultParallelism
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    out_dir = WORK / "out" / args.workload
    workload = ops.make(args.workload, spark, manifest, args.seed, out_dir)

    try:
        records = run_pass(workload, 0, "cold")
        cold_pass_s = sum(r["wall_s"] for r in records)
        for index in range(1, WARMUP_PASSES + 1):
            records += run_pass(workload, index, "warmup")
        # Measured passes end at the pass boundary nearest to --seconds: stop
        # once another pass of the last one's length would overrun by more
        # than half of it.
        t_start = time.perf_counter()
        measured = 0
        while True:
            measured += 1
            kind = "traced" if args.trace and measured % 2 == 0 else "warm"
            tracer = Tracer(spark) if kind == "traced" else None
            t_pass = time.perf_counter()
            records += run_pass(workload, WARMUP_PASSES + measured, kind, tracer)
            now = time.perf_counter()
            if now - t_start + (now - t_pass) / 2 >= args.seconds and measured >= MIN_PASSES:
                break

        probe = None
        if args.trace and args.workload == "season_pipeline":
            from inputs import kernel_groups

            probe = KernelProbe().run(kernel_groups(Path(manifest["dir"])))
        peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    finally:
        stop_session(spark, final=True)

    def pass_walls(kind):
        walls: dict[int, float] = {}
        for r in records:
            if r["kind"] == kind:
                walls[r["pass"]] = walls.get(r["pass"], 0.0) + r["wall_s"]
        return list(walls.values())

    warm = [r for r in records if r["kind"] == "warm"]
    warm_walls = pass_walls("warm")
    op_walls = [r["wall_s"] for r in warm]
    attempted = len(records)
    failed = sum(1 for r in records if r["error"])
    e2e = {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "cold_pass_s": cold_pass_s,
        "pass_p50_s": statistics.median(warm_walls),
        "op_p50_s": statistics.median(op_walls),
        "op_p90_s": statistics.quantiles(op_walls, n=10, method="inclusive")[8],
        "queries_per_s": len(warm) / sum(warm_walls),
        "peak_rss_mb": peak_rss_mb,
    }
    extra = {
        "error_rate": failed / attempted,
        "plays_per_s": workload.plays_per_pass * len(warm_walls) / sum(warm_walls),
        "warm_passes": len(warm_walls),
        "warm_ops": len(op_walls),
    }
    layers = {}
    if args.trace:
        traced_walls = pass_walls("traced")
        traced = [r for r in records if r["kind"] == "traced"]
        layers = {
            k: statistics.median(s[k] for s in setups)
            for k in ("session.get_spark_s", "session.first_action_s", "session.pyworker_spawn_s")
        }
        layers.update(_per_traced_pass(traced, len(traced_walls), cores))
        layers["trace.overhead_s"] = statistics.median(traced_walls) - e2e["pass_p50_s"]
        layers.update(probe or {})

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cores": cores,
        "inputs": {k: manifest[k] for k in manifest if k not in ("oracle", "expected")},
        "setups": setups,
        "end_to_end": e2e,
        "extra": extra,
        "per_layer": layers,
        "ops": records,
    }
    rec_dir = WORK / "record"
    rec_dir.mkdir(parents=True, exist_ok=True)
    rec_path = rec_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    rec_path.write_text(json.dumps(record, indent=1, default=str))

    for name, unit in END_TO_END:
        log(f"{args.workload:16s} {name:26s} {e2e[name]:12.4f} {unit}")
    log(f"{args.workload:16s} {'error_rate':26s} {extra['error_rate']:12.4f} share")
    if args.workload == "season_pipeline":
        log(f"{args.workload:16s} {'plays_per_s':26s} {extra['plays_per_s']:12.4f} 1/s")
    log(f"{args.workload:16s} warm passes {len(warm_walls)}, warm ops {len(op_walls)}")
    for k, v in layers.items():
        log(f"{args.workload:16s} {k:26s} {v:12.4f}")
    log(f"record: {rec_path}")

    units = dict(PER_LAYER if args.trace else END_TO_END)
    values = layers if args.trace else e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
