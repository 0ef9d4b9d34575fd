"""Benchmark of record: the repo's real jobs, end to end and by layer.

    python3 perfbench/run.py --workload scrub_job --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload

One run launches the JVM (local[4]), writes the seeded input three
times and runs the workload's job once to warm the JVM up (set-up),
then runs the job again, through its public entry point, for the
``--seconds`` window, checks every output, and prints every metric by
name and unit.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; ``--trace 1`` is a separate run
with Spark's event log on and spans around the jobs' layer calls, and
reports the per-layer metrics. See ``perfbench/METRICS.md``.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from pathlib import Path

import tracing
from hoststamp import RssSampler, cpu_times, cpu_window, host_stamp

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"
CPUS = "4"
DRIVER_HEAP = "1g"
SETUP_REPEATS = 3
END_TO_END = ("job_s", "docs_per_s", "setup_s", "keep_f1", "output_files",
              "output_mb", "peak_rss_mb")
UNITS = {"job_s": "s", "docs_per_s": "1/s", "setup_s": "s", "keep_f1": "ratio",
         "output_files": "count", "output_mb": "MB", "peak_rss_mb": "MB"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=20,
                   help="measurement window: warm job runs after the "
                        "warm-up, at least one, more while the next is "
                        "expected to end inside the window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: Path, trace: bool) -> Path:
    """Process environment for the JVM launch; returns the event-log dir."""
    tmp, events = work / "tmp", work / "events"
    tmp.mkdir(parents=True)
    events.mkdir()
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace:
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir={events.as_uri()}",
                 "spark.eventLog.compress=false"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_DRIVER_MEMORY": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        # keep the JVM's temp files in the checkout; no hsperfdata file
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]),
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {c}" for c in conf) + " pyspark-shell",
    })
    return events


def stop_spark() -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(tracer, job_s_traced: float, input_rows: int,
                  stages: tuple) -> dict:
    """Per-layer metrics of a traced run (see METRICS.md)."""
    spans = tracer.spans
    root = next(k for k, s in enumerate(spans) if s.name == "job")
    job = spans[root]

    def find(name):
        return [s for s in spans if s.name == name]

    def dur(name):
        return sum(s.dur for s in find(name))

    def ctr(name, key):
        return sum(s.counters.get(key, 0) for s in find(name))

    jc = job.counters
    batches = ctr("checkpoint", "queries")  # one write query per batch
    # named layer spans directly under the job, less the probe work nested in them
    covered = (sum(spans[k].dur for k in tracer.children(root) if not spans[k].probe)
               - sum(s.dur for s in spans if s.probe and s.parent != root))
    m = {
        "trace.job_s": (job_s_traced, "s"),
        "trace.span_coverage": (100.0 * covered / job_s_traced, "%"),
        "trace.failed_tasks": (jc.get("failed_tasks", 0), "count"),
        "session.start_s": (dur("session"), "s"),
        "sources.scan_amplification": (jc.get("scan_rows", 0) / max(input_rows, 1), "ratio"),
        "sources.input_mb_read": (jc.get("input_mb", 0.0), "MB"),
        "pipeline.pass_s": (dur("pipeline.pass"), "s"),
        "checkpoint.write_s": (dur("checkpoint"), "s"),
        "checkpoint.batches": (batches, "count"),
        "checkpoint.batch_s": (dur("checkpoint") / max(batches, 1), "s"),
        "checkpoint.rows_written": (ctr("checkpoint", "rows_written"), "count"),
        "checkpoint.jobs": (ctr("checkpoint", "jobs"), "count"),
        "checkpoint.tasks": (ctr("checkpoint", "tasks"), "count"),
        "checkpoint.executor_run_s": (ctr("checkpoint", "executor_run_s"), "s"),
        "checkpoint.executor_cpu_s": (ctr("checkpoint", "executor_cpu_s"), "s"),
        "checkpoint.shuffle_write_mb": (ctr("checkpoint", "shuffle_write_mb"), "MB"),
        "checkpoint.task_skew": (ctr("checkpoint", "task_skew"), "ratio"),
        "audit.append_s": (_audit_s(tracer), "s"),
        "audit.jobs": (ctr("audit", "jobs") or _run_self(tracer, "jobs"), "count"),
    }
    core_s = job_s_traced * int(CPUS)
    m.update({
        "functions.udf_rows_per_input_row": (jc.get("py_rows", 0) / max(input_rows, 1), "ratio"),
        "functions.udf_mb_sent": (jc.get(tracing.PY_SENT, 0) / 2**20, "MB"),
        "functions.udf_run_pct": (100.0 * jc.get(tracing.PY_RUN, 0) / core_s, "%"),
        "functions.udf_init_pct": (100.0 * (jc.get(tracing.PY_BOOT, 0)
                                            + jc.get(tracing.PY_INIT, 0)) / core_s, "%"),
        "build_corpus.call_pct": (100.0 * dur("build_corpus") / job_s_traced, "%"),
        "build_corpus.shuffle_write_mb": (ctr("build_corpus", "shuffle_write_mb"), "MB"),
    })
    for st in stages:
        s = find(f"build_corpus.{st}")
        m[f"build_corpus.stage_pct.{st}"] = (
            100.0 * sum(x.dur for x in s) / job_s_traced, "%")
        m[f"build_corpus.stage_rows.{st}"] = (sum(x.rows or 0 for x in s), "count")
    return m


def _run_self(tracer, key):
    """Counters of run_build_corpus's own work (its inline audit write)."""
    for k, s in enumerate(tracer.spans):
        if s.name == "build_corpus.run":
            return s.counters.get(key, 0) - sum(
                tracer.spans[c].counters.get(key, 0) for c in tracer.children(k))
    return 0


def _audit_s(tracer) -> float:
    """append_audit's span, or for corpus_build the self time of
    run_build_corpus (the lineage write it does inline)."""
    for k, s in enumerate(tracer.spans):
        if s.name == "audit":
            return s.dur
        if s.name == "build_corpus.run":
            return tracer.self_time(k)
    return 0.0


def run_one(args) -> int:
    try:
        import duckdb
        sys.path.insert(1, str(ROOT))
        import workloads as WL
        from social_media_pii_scrubber_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in WL.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    w = WL.WORKLOADS[args.workload]
    trace = bool(args.trace)
    tag = f"{w.name}-s{args.seed}-t{args.trace}"
    work = STATE / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    events = configure_env(work, trace)
    inp = work / "input.parquet"
    job = functools.partial(WL.run_job, w, inp)

    cpu0 = cpu_times()
    failures: list[str] = []
    tracer = tracing.Tracer() if trace else None
    outs: list[Path] = []
    times: list[float] = []
    with RssSampler() as rss:
        try:
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{tag}")
            launch_s = time.perf_counter() - t0
            writes = []
            for _ in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                WL.write_input(spark, inp, args.seed)
                stats = WL.input_stats(spark, inp)
                writes.append(time.perf_counter() - t0)
            # the job builds its own session, as under spark-submit; the
            # JVM stays up
            spark.stop()

            # warm-up: the first run of the job in this JVM compiles its
            # generated code and JITs its paths; it is set-up, not job_s
            outs.append(work / "out-warmup")
            warmup_s = _timed_job(job, outs[-1], failures)
            setup_s = launch_s + statistics.median(writes) + warmup_s

            if trace:
                # one traced run: its spans and event-log counters
                WL.instrument(w, tracer)
                outs.append(work / "out-1")
                times.append(_timed_job(job, outs[-1], failures, tracer))
                tracer.restore()
            else:
                # warm runs until the window is used, at least one
                t_start = time.perf_counter()
                while not times or (not failures and time.perf_counter() - t_start
                                    + statistics.median(times) <= args.seconds):
                    outs.append(work / f"out-{len(times) + 1}")
                    times.append(_timed_job(job, outs[-1], failures))
        finally:
            t0 = time.perf_counter()
            stop_spark()
            stop_s = time.perf_counter() - t0
    window = cpu_window(cpu0, cpu_times())

    t0 = time.perf_counter()
    res: dict = {}
    digests = set()
    if not failures:
        with duckdb.connect() as duck:
            duck.sql("set TimeZone = 'UTC'")
            for o in outs:
                res = WL.check_output(w, duck, inp, o, args.seed)
                failures += [f"{o.name}: {f}" for f in res["failures"]]
                digests.add(res["digest"])
    if len(digests) > 1:
        failures.append(f"runs wrote different rows: {sorted(digests)}")
    check_s = time.perf_counter() - t0

    probes = sum(s.dur for s in tracer.spans if s.probe) if trace else 0.0
    job_s = statistics.median(times) - probes
    out = outs[-1]
    n_files, out_mb = WL.output_size(out) if out.exists() else (0, 0.0)
    e2e = {
        "job_s": job_s,
        "docs_per_s": stats["input_rows"] / job_s,
        "setup_s": setup_s,
        "keep_f1": res.get("keep_f1", 0.0),
        "output_files": n_files,
        "output_mb": out_mb,
        "peak_rss_mb": rss.peak_mb,
    }
    digest = res.get("digest")
    stamp = host_stamp(ROOT, window)
    failures += _digest_check(tag.rsplit("-t", 1)[0], digest, stamp)

    print(f"workload {w.name}  seed {args.seed}  trace {args.trace}")
    print("input " + json.dumps(stats))
    print("host " + json.dumps(stamp))
    print(f"set-up: launch {launch_s:.3f} s, input writes "
          + ", ".join(f"{x:.3f}" for x in writes) + f" s, warm-up job {warmup_s:.3f} s")
    print("timed job runs: " + ", ".join(f"{x:.3f}" for x in times)
          + f" s; JVM stop {stop_s:.3f} s; checks {check_s:.3f} s")
    for k in END_TO_END:
        print(f"  {k:<14} {e2e[k]:.6g} {UNITS[k]}")
    failed = _failed_runs(failures, outs)
    print(f"  {'error_rate':<14} {failed / len(outs):.6g} failed/attempted")
    print(f"output digest {digest}  rows {res.get('rows_written')}")
    for f in failures:
        print(f"CHECK FAILED: {f}")

    if trace:
        tracing.attribute(tracer, tracing.read_events(events), str(inp))
        per_layer = layer_metrics(tracer, job_s, stats["input_rows"], WL.MAT_STAGES)
        _print_spans(tracer)
        for k, (v, u) in per_layer.items():
            print(f"  {k:<40} {v:.6g} {u}")
        tracing.dump(tracer, STATE / f"spans-{tag}.json",
                     {"host": stamp, "input": stats, "end_to_end": e2e})
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    _tracing_overhead(tag, job_s)
    print(json.dumps({"correct": not failures, "attempted": len(outs),
                      "failed": failed, "metrics": metrics}))
    return 0


def _timed_job(job, out: Path, failures: list[str], tracer=None) -> float:
    """Run ``job(out, tracer)`` once; returns its wall time. A job that
    raises is a failed run, not a crash."""
    t0 = time.perf_counter()
    try:
        with tracer.span("job") if tracer else nullcontext():
            job(out, tracer)
    except Exception as e:
        failures.append(f"{out.name}: job raised {type(e).__name__}: {e}")
    return time.perf_counter() - t0


def _failed_runs(failures: list[str], outs: list[Path]) -> int:
    """Job runs named by a failure; a failure that names none (a digest
    mismatch) fails them all."""
    named = {o.name for o in outs for f in failures if f.startswith(o.name + ":")}
    unnamed = any(not any(f.startswith(o.name + ":") for o in outs) for f in failures)
    return len(outs) if unnamed else len(named)


def _print_spans(tracer) -> None:
    print(f"  {'span':<28} {'dur_s':>8} {'self_s':>8} {'jobs':>5} {'tasks':>6} "
          f"{'cpu_s':>7} {'shw_MB':>7} {'skew':>5}")
    for k, s in enumerate(tracer.spans):
        c = s.counters
        print(f"  {s.name + (' (probe)' if s.probe else ''):<28} {s.dur:8.3f} "
              f"{tracer.self_time(k):8.3f} {c.get('jobs', 0):5d} {c.get('tasks', 0):6d} "
              f"{c.get('executor_cpu_s', 0):7.2f} {c.get('shuffle_write_mb', 0):7.2f} "
              f"{c.get('task_skew', 0):5.2f}")


def _digest_check(key: str, digest: str | None, stamp: dict) -> list[str]:
    """The same code on the same seed must write the same rows: compare
    with earlier runs in this checkout."""
    if digest is None:
        return []
    path = STATE / "digests.json"
    seen = json.loads(path.read_text()) if path.exists() else {}
    key = f"{key}@{stamp['code_sha1']}"
    prev = seen.setdefault(key, digest)
    path.write_text(json.dumps(seen, indent=1))
    return [] if prev == digest else [f"output digest {digest} != earlier {prev}"]


def _tracing_overhead(tag: str, job_s: float) -> None:
    """Print traced minus untraced job_s when both runs of this
    (workload, seed) exist in this checkout."""
    path = STATE / "job_s.json"
    seen = json.loads(path.read_text()) if path.exists() else {}
    seen[tag] = job_s
    path.write_text(json.dumps(seen, indent=1))
    base = tag.rsplit("-t", 1)[0]
    if f"{base}-t0" in seen and f"{base}-t1" in seen:
        d = seen[f"{base}-t1"] - seen[f"{base}-t0"]
        print(f"tracing overhead {d:.3f} s (traced job_s minus untraced, same seed)")


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload != "all":
        return run_one(args)
    results, ok = {}, True
    names = ("scrub_job", "crawl_job", "corpus_build")
    for name in names:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if r.returncode != 0 or not lines:
            return r.returncode or 1
        results[name] = json.loads(lines[-1])
        ok &= results[name]["correct"]
    metrics = {f"{n}.{k}": v for n, res in results.items() for k, v in res["metrics"].items()}
    print(json.dumps({"correct": ok,
                      "attempted": sum(r["attempted"] for r in results.values()),
                      "failed": sum(r["failed"] for r in results.values()),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
