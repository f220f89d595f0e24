"""Run one benchmark workload from a seed and print its metrics.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 20 --trace 0

Set-up (session, seeded inputs, warm-up) is timed apart from the measured
section, which repeats the workload's operation as many times as its
nominal repetition time fits in ``--seconds`` (at least once); the
correctness checks run after it, untimed.
With ``--trace 1`` Spark's event log is enabled and folded onto the phase
intervals, and the per-layer metrics are printed instead of the end-to-end
ones. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is a
fuller report (environment, every named metric with its unit and sample
count, failed checks).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# every run must end within this many seconds
DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
}
# phases reported from a section of their own, one call each: the traced
# recrawl's, and the hot-path pass after the timed section; every other
# phase is reported per timed repetition
PHASE_SECTION = {"mark": "recrawl", "restore": "recrawl", "extract": "hotpath"}


def layer_names() -> dict:
    """Every per-layer metric name with its unit, in report order."""
    from perfbench.phases import PHASE_FIELDS, REPORTED_PHASES
    from perfbench.workloads import CURATE_KEYS

    out = {f"phase.{p}.{f}": u for p in REPORTED_PHASES for f, u in PHASE_FIELDS.items()}
    out.update({
        "parse.py_boot_s": "s", "parse.py_init_s": "s", "parse.py_run_s": "s",
        "parse.py_sent_mb": "MB", "parse.py_recv_mb": "MB",
        "parse.prefilter_pass_frac": "ratio", "parse.scaling_eff": "ratio",
        "frontier.waves": "count", "frontier.jobs_per_wave": "count",
        "frontier.rows": "count",
        "bloom.candidates": "count", "bloom.maybe_seen_frac": "ratio",
        "bloom.add_calls": "count", "bloom.add_s": "s", "bloom.build_s": "s",
        "icelite.commits": "count", "icelite.commit_p50_s": "s",
        "icelite.bytes_written_mb": "MB", "icelite.files_written": "count",
        "icelite.write_amp": "ratio",
        "recrawl.wall_s": "s", "recrawl.restore_s": "s",
        "recrawl.waves": "count", "recrawl.wave_p50_s": "s",
        "recrawl.jobs_per_wave": "count", "recrawl.exec_run_s": "s",
    })
    for key in CURATE_KEYS:
        out.update({f"op.{key}.wall_s": "s", f"op.{key}.exec_cpu_s": "s",
                    f"op.{key}.py_run_s": "s"})
    out.update({
        "setup.session_s": "s", "setup.corpus_s": "s", "setup.warmup_s": "s",
        "mem.peak_rss_mb": "MB",
        "trace.wall_s": "s", "trace.exec_run_s": "s",
        "trace.unattributed_jobs": "count", "trace.unattributed_tasks": "count",
    })
    return out


def machine() -> dict:
    nproc = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # a quarter of the machine, within [1, 8] GiB: the machine is shared
    driver_mb = max(1024, min(8192, mem_kb // 1024 // 4))
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024, "driver_mb": driver_mb}


def repetitions(wl, seconds: float) -> int:
    """Timed repetitions for ``--seconds``: as many of the workload's
    nominal repetition (``wl.rep_s``, its time on the reference machine) as
    fill it, at least one. The count depends on the arguments only, so
    every run measures the same work and its median covers the same
    repetitions; a slow spell of a shared machine lengthens the section
    instead of leaving fewer, earlier (slower) repetitions in it."""
    return max(1, int(seconds // wl.rep_s))


def start_session(name: str, env: dict, work: Path, trace: bool):
    from pyspark.sql import SparkSession

    slots = env["slots"]
    for d in ("tmp", "spark-local", "events"):
        (work / d).mkdir(parents=True, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{slots}]")
        .appName(f"perfbench-{name}")
        .config("spark.driver.memory", f"{env['driver_mb']}m")
        # steady-state JVM sooner: the whole heap from the start (no
        # resizing between repetitions), the throughput collector, and JIT
        # thresholds at 2 % of the defaults, so Catalyst's and the
        # scheduler's hot code is compiled during the warm-up instead of
        # through the timed repetitions (see NOTES.md). The lower thresholds
        # compile more code: at the default 240 MB code cache its profiled
        # part filled within a run, which disables the JIT
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
                f"-Xms{env['driver_mb']}m -XX:+UseParallelGC "
                "-XX:CompileThresholdScaling=0.02 -XX:ReservedCodeCacheSize=512m")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * slots))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # page rows are ~36 KB: 256-row Arrow batches keep a batch ~9 MB
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", str(work / "events"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — any failure to exit: kill it
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def layer_metrics(wl, clock, fold, setup: dict, session_s: float,
                  traced: dict, peak_rss_mb: float) -> dict:
    """Per-layer values: per timed repetition, except the hot-path pass's and
    the recrawl's (one of each per run) and set-up's."""
    from perfbench.phases import CRAWL_PHASES, PHASE_FIELDS, REPORTED_PHASES, PhaseAgg
    from perfbench.stats import median
    from perfbench.workloads import CURATE_KEYS

    n = len(wl.reps)
    calls, waves = clock.calls["timed"], clock.waves["timed"]
    out = {name: 0.0 for name in layer_names()}

    walls = {s: clock.wall_s(s) for s in ("timed", "hotpath", "recrawl")}
    for p in REPORTED_PHASES:
        section = PHASE_SECTION.get(p, "timed")
        per = n if section == "timed" else 1
        if p == "op":
            agg = PhaseAgg()
            for key in CURATE_KEYS:
                agg.add(fold.get(section, f"op.{key}"))
            wall = sum(walls[section].get(f"op.{k}", 0.0) for k in CURATE_KEYS)
        else:
            agg, wall = fold.get(section, p), walls[section].get(p, 0.0)
        out[f"phase.{p}.wall_s"] = wall / per
        for f in PHASE_FIELDS:
            if f != "wall_s":
                out[f"phase.{p}.{f}"] = getattr(agg, f) / per

    # the crawl's parse kernels: text-reading Python nodes outside the
    # operator calls (corpus_to_manifest runs its own over documents.text);
    # per crawl, plus the hot-path pass
    parse = PhaseAgg()
    for p in CRAWL_PHASES:
        parse.add(fold.get("timed", p))
    hot = fold.get("hotpath", "extract")
    for name in ("py_boot_s", "py_init_s", "py_run_s", "py_sent_mb", "py_recv_mb"):
        out[f"parse.{name}"] = parse.parse_py[name] / n + hot.parse_py[name]
    fetched = sum(m["fetched"] for m in waves)
    if fetched:
        failures = sum(m["parse_failures"] for m in waves)
        out["parse.prefilter_pass_frac"] = 1.0 - failures / fetched

    def wave_jobs(section: str) -> int:
        return sum(fold.get(section, p).jobs for p in ("discover", "commit", "maintain"))

    if waves:
        out["frontier.waves"] = len(waves) / n
        out["frontier.jobs_per_wave"] = wave_jobs("timed") / len(waves)
        out["bloom.candidates"] = sum(m["bloom_candidates"] for m in waves) / n
    out["bloom.add_calls"] = len(calls["bloom.add"]) / n
    out["bloom.add_s"] = sum(calls["bloom.add"]) / n
    commits = calls["commit_snapshot"]
    out["icelite.commits"] = len(commits) / n
    if commits:
        out["icelite.commit_p50_s"] = median(commits)

    # the recrawl: every re-discovered URL should be maybe-seen
    re_calls, re_waves = clock.calls["recrawl"], clock.waves["recrawl"]
    out["bloom.build_s"] = sum(re_calls["bloom.build"])
    candidates = sum(m["bloom_candidates"] for m in re_waves)
    if candidates:
        passed = sum(m["bloom_passed"] for m in re_waves)
        out["bloom.maybe_seen_frac"] = 1.0 - passed / candidates
    if re_waves:
        out["recrawl.restore_s"] = sum(re_calls["restore"])
        out["recrawl.waves"] = len(re_waves)
        out["recrawl.wave_p50_s"] = median(re_calls["run_wave"])
        out["recrawl.jobs_per_wave"] = wave_jobs("recrawl") / len(re_waves)
        out["recrawl.exec_run_s"] = fold.total("recrawl").exec_run_s
    out.update(traced)
    out.update(wl.layers())

    for key in CURATE_KEYS:
        if calls[f"op.{key}"]:
            agg = fold.get("timed", f"op.{key}")
            out[f"op.{key}.wall_s"] = median(calls[f"op.{key}"])
            out[f"op.{key}.exec_cpu_s"] = agg.exec_cpu_s / n
            out[f"op.{key}.py_run_s"] = agg.py["py_run_s"] / n

    out["setup.session_s"] = session_s
    for k in ("corpus_s", "warmup_s"):
        out[f"setup.{k}"] = setup.get(k, 0.0)
    out["mem.peak_rss_mb"] = peak_rss_mb
    out["trace.wall_s"] = median([r["wall_s"] for r in wl.reps])
    out["trace.exec_run_s"] = fold.total("timed").exec_run_s / n
    out["trace.unattributed_jobs"] = fold.unattributed_jobs
    out["trace.unattributed_tasks"] = fold.unattributed_tasks
    return out


def run(args, env: dict, work: Path) -> tuple[dict, dict]:
    from perfbench.phases import PhaseClock, fold_event_log, instrumented
    from perfbench.stats import Checks, median, summary
    from perfbench.workloads import WORKLOADS, Context

    clock = PhaseClock()
    checks = Checks()
    # Spark task slots: see cpus_per_slot in workloads.py
    env["slots"] = max(1, env["nproc"] // WORKLOADS[args.workload].cpus_per_slot)
    t0 = time.perf_counter()
    spark = start_session(args.workload, env, work, args.trace)
    session_s = time.perf_counter() - t0
    try:
        import pyarrow
        import pyspark

        env.update(spark=pyspark.__version__, pyarrow=pyarrow.__version__)
        if args.trace:
            clock.describe = spark.sparkContext.setJobDescription
        ctx = Context(spark, work, args.seed, clock, checks, env["slots"])
        wl = WORKLOADS[args.workload](ctx)
        traced = {}
        with instrumented(clock):
            wl.setup()
            setup_s = session_s + sum(ctx.setup.values())
            clock.begin("timed")
            for _ in range(repetitions(wl, args.seconds)):
                wl.rep()
            wl.finish()
            peak_rss = jvm_peak_rss_mb()
            if args.trace:
                traced = wl.traced()
            clock.begin("check")
            wl.check()
        clock.close()
    finally:
        stop_session(spark)

    walls = [r["wall_s"] for r in wl.reps]
    steps = wl.steps()
    named = {
        "setup_s": ("s", [setup_s]),
        "wall_s": ("s", walls),
        "step_p50_s": ("s", steps),
        "peak_rss_mb": ("MB", [peak_rss]),
        **wl.report(),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "env": env, "reps": len(wl.reps),
        "rep_wall_s": walls,
        "setup": {"session_s": session_s, **ctx.setup},
        "metrics": {k: {"unit": u, **summary(v)} for k, (u, v) in named.items()},
        "fail_ratio": checks.fail_ratio,
        "failures": checks.failures,
    }
    if args.trace:
        logs = [p for p in glob.glob(str(work / "events" / "*"))
                if not p.endswith(".crc")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        fold = fold_event_log(logs[0], clock.intervals)
        values = layer_metrics(wl, clock, fold, ctx.setup, session_s,
                               traced, peak_rss)
        units = layer_names()
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}
    else:
        values = {"setup_s": setup_s, "wall_s": median(walls)}
        metrics = {k: {"value": float(values[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    result = {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": metrics,
    }
    return report, result


def main(argv=None) -> int:
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "edgar_spark").is_dir():
        print(f"perfbench: no edgar_spark/ package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    # Python workers import the program from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    (work / "tmp").mkdir()

    def on_signal(signum, frame):
        raise TimeoutError(f"stopped by signal {signum} (deadline {DEADLINE_S} s)")

    # unwind through the finally blocks: stop the JVM, remove the work dir
    signal.signal(signal.SIGALRM, on_signal)
    signal.signal(signal.SIGTERM, on_signal)
    signal.alarm(DEADLINE_S)
    try:
        report, result = run(args, machine(), work)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
