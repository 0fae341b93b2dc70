#!/usr/bin/env python3
"""Crawl benchmark runner.

    python3 crawlbench/run.py --workload recrawl --seed 1 --seconds 5 --trace 0

Run from the repository root.  Starts one Spark driver on ``local[nproc]``,
runs one seeded, closed-loop workload (waves back to back), checks its
outputs, prints one ``name value unit`` line per metric and, as the last
line, one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (see NOTES.md).  All scratch state lives under
``.crawlbench_work/`` in the checkout and is deleted on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def _configure_env(work: str) -> None:
    """Environment for a shared 4-core box: local[nproc], a driver heap
    well below physical RAM, the repo root on every Python worker's path,
    Spark/JVM/Python temp files inside the run's work dir."""
    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files under /tmp from the launcher JVM (the driver JVM
    # gets the same flag through spark.driver.extraJavaOptions)
    os.environ["SPARK_LAUNCHER_OPTS"] = (os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    os.environ["SPARK_DRIVER_MEMORY"] = f"{min(1024, _mem_total_mb() // 4)}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)


def _rss_peak_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _jvm_pid(spark) -> int | None:
    """The driver JVM: the gateway process or its java descendant."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return None
    todo, seen = [proc.pid], set()
    while todo:
        pid = todo.pop()
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
            with open(f"/proc/{pid}/task/{pid}/children") as f:
                todo += [int(c) for c in f.read().split() if int(c) not in seen]
        except OSError:
            continue
    return None


def end_to_end(res, rss_mb: float) -> tuple[dict, dict]:
    """(reported metrics, raw wall-time figures).  Timings are reported
    without the time the hypervisor stole from the busy CPUs
    (``workloads.Timer``; NOTES.md, "Hypervisor steal")."""
    from workloads import unstolen

    timed = res.timed
    fetched = sum(w.stats.get("fetched", 0) for w in timed)
    setup = [unstolen(*r) for r in res.setup_reps]
    waves = [unstolen(w.wall_s, w.steal) for w in timed]
    raw = {
        "setup_s": statistics.median(w for w, _ in res.setup_reps),
        "crawl_urls_per_s": fetched / sum(w.wall_s for w in timed),
        "wave_s_p50": statistics.median(w.wall_s for w in timed),
        "resume_s": res.resume[0],
        "export_records_per_s": res.export_records / res.export[0],
        "steal_share_waves": statistics.median(w.steal for w in timed),
    }
    return {
        "setup_s": (statistics.median(setup), "s"),
        "crawl_urls_per_s": (fetched / sum(waves), "URLs/s"),
        "wave_s_p50": (statistics.median(waves), "s"),
        "resume_s": (unstolen(*res.resume), "s"),
        "export_records_per_s": (res.export_records / unstolen(*res.export), "records/s"),
        "state_bytes_per_url": (res.state_bytes / max(res.urls_fetched, 1), "B/URL"),
        "peak_rss_mb": (rss_mb, "MiB"),
    }, raw


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "chronicrawl_spark")):
        print("crawlbench: run from the repository root (chronicrawl_spark/ not found)", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".crawlbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        _configure_env(work)
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"crawlbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        from chronicrawl_spark.session import get_spark

        extra = {
            "spark.ui.showConsoleProgress": "false",
            # C1-only JIT: a run lives about a minute, and C2 compiles would
            # compete with the task threads for the 4 cores (measured: three
            # recrawl set-ups 43 s → 32 s)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"
            ),
        }
        tracer = None
        if args.trace:
            import trace_layers

            extra.update(trace_layers.UI_CONF)
        spark = get_spark("crawlbench", extra_conf=extra)
        if args.trace:
            tracer = trace_layers.Tracer(spark)
            tracer.install()
        ctx = workloads.Ctx(spark, work, args.seed, args.seconds, tracer)
        t0 = time.perf_counter()
        res = workloads.WORKLOADS[args.workload](ctx)
        jvm = _jvm_pid(spark)
        rss = _rss_peak_mb(os.getpid()) + (_rss_peak_mb(jvm) if jvm else 0.0)
        if args.trace:
            metrics = tracer.report(res)
            tracer.uninstall()
            # comparable with the untraced run's wave_s_p50
            metrics["trace.wave_s_p50"] = (
                statistics.median(workloads.unstolen(w.wall_s, w.steal) for w in res.timed), "s"
            )
        else:
            metrics, raw = end_to_end(res, rss)
            for name, value in raw.items():
                print(f"raw {name} {value:.6g}")

        for name, problems in res.checks.items():
            print(f"check {name}: {'ok' if not problems else 'FAILED'}")
            for pr in problems[:10]:
                print(f"  - {pr}")
        for w in res.waves:
            print(
                f"wave {w.label} {w.wall_s:.3f} s (steal {w.steal:.3f}) fetched={w.stats.get('fetched', 0)} "
                f"phases={json.dumps(w.stats.get('phase_secs', {}))}"
            )
        print("set-ups " + " ".join(f"{t:.3f} s (steal {sh:.3f})" for t, sh in res.setup_reps))
        facts = {k: v for k, v in res.extra.items() if isinstance(v, int)}
        print("facts " + " ".join(f"{k}={v}" for k, v in sorted(facts.items())))
        print(
            f"export {res.export[0]:.3f} s (steal {res.export[1]:.3f}), {res.export_records} records; "
            f"checks {res.extra['checks_s']:.3f} s"
        )
        timed = res.timed
        print(
            f"workload {args.workload} seed {args.seed}: {len(timed)} timed waves, "
            f"{sum(w.stats.get('fetched', 0) for w in timed)} URLs fetched in them, "
            f"{res.urls_fetched} visits stored, run {time.perf_counter() - t0:.1f} s"
        )
        failed_ratio = res.failed / res.attempted
        for name, (value, unit) in metrics.items():
            print(f"{name} {value:.6g} {unit}")
        print(f"failed_ops_ratio {failed_ratio:.6g} ratio")
        out = {
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(out))
        return 0
    finally:
        if spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            spark.stop()
            # the driver JVM exits when its stdin closes; wait for it (and
            # with it the Python workers it forked) before removing files
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
