#!/usr/bin/env python3
"""The benchmark of record for newspapers_etl_spark.

    python3 perfbench/run.py --workload {ingest,prep,serve} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  One Python process, one closed-loop
client, ``local[<cpus>]``.  The metric names and units are the ones
BENCHMARK.json lists.  The workload's inputs come only from the
seeded generator (perfbench/gen.py), written under
``.perfbench_work/`` next to every other file the run creates (Spark
local dirs, warehouse, temp files); the run directory is removed at
exit.  Every output is checked for correctness after the timed loop.

The report goes to stdout first, each figure by name (including the
workload's own metrics, e.g. ``serve.read_tail_s`` with its percentile
and sample count); the LAST stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
its metrics are the end-to-end ones (BENCHMARK.json ``end_to_end``);
with ``--trace 1`` the run tags every call into an engine layer with a
Spark job group, reports the per-layer counters (``per_layer``) and
writes its spans to ``.perfbench_work/spans-<workload>-s<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import gc
import json
import logging
import os
import shutil
import signal
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK_ROOT = ROOT / ".perfbench_work"
DRIVER_MEM = "4g"  # fits a 15 GB box beside the Python side

log = logging.getLogger("perfbench")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "prep", "serve"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: Path) -> dict[str, str]:
    """Size the session to this machine through the engine's deployment
    env vars, and keep every file Spark writes inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def metric_units(section: str) -> dict[str, str]:
    """Name -> unit of every metric in one BENCHMARK.json section."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[section]}


def process_age_s() -> float:
    """Seconds since this process started (its kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def setup_session():
    """The session set-up, from process start (interpreter, imports, JVM
    launch) to a first action done.  Returns the session and the seconds
    to the session being up and to the first action after it."""
    from newspapers_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    start_s = process_age_s()
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, (start_s, time.perf_counter() - t1)


def measure(args, run_id: str, work: Path) -> dict:
    """Set up, run the workload, read the counters.  Returns plain Python
    values only, so no Java object outlives the session."""
    import tracing as tr
    import workloads

    spark, setup = setup_session()
    try:
        tracer = tr.Tracer(spark, run_id, enabled=bool(args.trace))
        reader = tr.StageReader(spark)
        t_workload = time.perf_counter()
        out = workloads.WORKLOADS[args.workload](
            spark, tracer, work, args.seed, args.seconds
        )
        t_collect = time.perf_counter()
        reader.drain()
        totals, layers = tracer.collect(reader)
        collect_s = time.perf_counter() - t_collect
        if args.trace:
            tracer.write(WORK_ROOT / f"spans-{args.workload}-s{args.seed}.jsonl")
        return {
            "setup": setup,
            "out": out,
            "totals": totals,
            "layers": layers,
            "collect_s": collect_s,
            "workload_s": t_collect - t_workload,
            "missing": sorted(reader.missing),
            "rss_kb": tracer.peak_rss_kb,
            "bookkeeping_s": tracer.bookkeeping_s,
            "trace_extras": dict(tracer.extras),
        }
    finally:
        spark.stop()


def stop_jvm() -> None:
    """Stop the JVM the session ran in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gc.collect()  # release Java references while the JVM still answers
    # Connections other threads held are reset as the JVM goes away.
    logging.getLogger("py4j").setLevel(logging.CRITICAL)
    proc = getattr(gateway, "proc", None)
    gateway.close()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(workload: str, r: dict) -> dict[str, float]:
    """Every end-to-end metric of the untraced run."""
    import stats
    import workloads

    out, totals = r["out"], r["totals"]
    written = totals["output_bytes"] + totals["shuffle_write_bytes"]
    return {
        "setup_s": sum(r["setup"]),
        "items_per_s": stats.ratio(out.items, out.work_s),
        "latency_p50_s": stats.median(out.latencies.get(workloads.PRIMARY_OP[workload], [])),
        "write_amp": stats.ratio(written, out.input_bytes),
    }


def per_layer(r: dict) -> dict[str, float]:
    """Every per-layer metric of the traced run."""
    import stats
    import tracing as tr

    out, layers = r["out"], r["layers"]
    m = {"session.start_s": r["setup"][0], "session.warm_s": r["setup"][1]}
    for layer in tr.LAYERS:
        for c in tr.COUNTERS:
            m[f"{layer}.{c}"] = layers.get(layer, {}).get(c, 0.0)
    for name in tr.EXTRA_METRICS:
        m[name] = out.extras.get(name, tr.mean(r["trace_extras"].get(name)))
    inc = layers.get("incremental", {})
    m["incremental.input_bytes_per_batch"] = stats.ratio(
        inc.get("input_bytes", 0.0), inc.get("calls", 0.0)
    )
    # Traced wall (loop + counter collection) over the same loop without
    # the tracer's own bookkeeping.
    untraced = out.loop_s - r["bookkeeping_s"]
    m["trace.overhead_frac"] = stats.ratio(out.loop_s + r["collect_s"] - untraced, untraced)
    return m


def report(args, env: dict, r: dict, e2e: dict) -> None:
    """The human-readable lines: every figure by name, with units."""
    import stats
    import workloads

    out, totals = r["out"], r["totals"]
    failed_checks = sum(1 for _, err in out.checks if err)
    print(f"# perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS"):
        print(f"#   {k}={env[k]}")
    print(f"#   setup_s={e2e['setup_s']:.4f} s (process start to session up "
          f"{r['setup'][0]:.3f} s, incl. the JVM launch; first action {r['setup'][1]:.3f} s)")
    rss = r["rss_kb"]
    print(f"#   peak_rss_mb={(rss['python'] + rss['jvm']) / 1024:.1f} MB (python "
          f"{rss['python'] / 1024:.1f} + jvm {rss['jvm'] / 1024:.1f}, at the end of the loop)")
    print(f"#   error_rate={(out.failed + failed_checks) / max(out.attempted, 1):.4f} "
          f"(ops attempted={out.attempted} failed={out.failed}; "
          f"checks={len(out.checks)} failed={failed_checks})")
    print(f"#   items_per_s={e2e['items_per_s']:.4f} 1/s (items={out.items:g} in {out.work_s:.3f} s;"
          f" loop_s={out.loop_s:.3f}; workload incl. inputs and checks {r['workload_s']:.3f} s)")
    print(f"#   latency_p50_s={e2e['latency_p50_s']:.4f} s ({workloads.PRIMARY_OP[args.workload]} ops)"
          f"   write_amp={e2e['write_amp']:.4f} "
          f"(written={totals['output_bytes'] + totals['shuffle_write_bytes']:.0f} B over "
          f"input={out.input_bytes} B, jobs={totals['jobs']:.0f})")
    print(f"#   {args.workload}.write_amp={e2e['write_amp']:.6g} ratio")
    for prefix, kinds in workloads.NAMED_LATENCIES[args.workload].items():
        xs = [x for k in kinds for x in out.latencies.get(k, [])]
        t = stats.tail(xs)
        tail = f"{t[0]:.4f} s (p{t[1]:.1f} of n={t[2]})" if t else f"n/a (n={len(xs)} <= 10)"
        print(f"#   {prefix}_p50_s={stats.median(xs):.4f} s   {prefix}_tail_s={tail}")
    for kind, xs in sorted(out.latencies.items()):
        print(f"#     op {kind}: n={len(xs)} p50={stats.median(xs):.4f} s, in order: "
              f"{' '.join(f'{x:.3f}' for x in xs)}")
    for k, v in sorted(out.details.items()):
        print(f"#   {k}={v:.6g}")
    if r["missing"]:
        print(f"#   counters Spark did not expose (reported as 0): {r['missing']}")
    for name, err in out.checks:
        print(f"#   check {name}: {'FAILED ' + err if err else 'ok'}")


def main(argv=None) -> int:
    args = parse_args(argv)
    logging.basicConfig(stream=sys.stderr, level=logging.INFO, format="[perfbench] %(message)s")
    logging.getLogger("py4j").setLevel(logging.WARNING)
    if not (ROOT / "newspapers_etl_spark" / "__init__.py").is_file():
        log.error("no newspapers_etl_spark package under %s", ROOT)
        return 2
    if args.seconds <= 0:
        log.error("--seconds must be positive")
        return 2
    sys.path.insert(0, str(ROOT))
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = WORK_ROOT / run_id
    env = configure_env(work)
    # A terminated run still stops its JVM and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        r = measure(args, run_id, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    import stats

    e2e = end_to_end(args.workload, r)
    report(args, env, r, e2e)
    out = r["out"]
    failed = out.failed + sum(1 for _, err in out.checks if err)
    metrics = per_layer(r) if args.trace else e2e
    units = metric_units("per_layer" if args.trace else "end_to_end")
    print(
        stats.result_line(
            correct=not failed,
            attempted=out.attempted,
            failed=failed,
            metrics={k: (metrics[k], units[k]) for k in units},
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
