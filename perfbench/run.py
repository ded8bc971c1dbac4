"""Run one benchmark workload in this (fresh) process and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--master local[4]]

Flow: build or reuse the seeded inputs (not timed), start the engine's
session, run the cold pass, then time passes for ``--seconds`` (at least
one).  Set-up time runs from process start to the cold pass's first op,
less the input build; it covers the one staging of the inputs.  Every
pass's outputs are checked after the pass; any failed check makes the exit
code 1.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on spans
and Spark's (uncompressed) event log and prints the per-layer metrics.  A
traced run brackets its timed passes with one untraced pass on each side
(spans off, job descriptions kept) to measure the cost of tracing in the
same JVM.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  The lines before it
name each metric with its unit and carry the run-state record.

Everything the run writes lives under ``perfbench/_work/pid<N>`` and
``perfbench/_cache``; the work dir is removed at exit, also on failure.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

from spans import SETUP, Tracer, driver_gap, read_event_log  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

DRIVER_MEM = "4g"


def median(xs):
    return statistics.median(xs) if xs else 0.0


# --- run-state record -------------------------------------------------------------
def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def run_state(cores: int, cpu0: list[int], load0: float) -> dict:
    cpu1 = _cpu_times()
    delta = [b - a for a, b in zip(cpu0, cpu1)]
    nproc = len(os.sched_getaffinity(0))
    load1 = os.getloadavg()[0]
    return {
        "spark_cores": cores,
        "nproc": nproc,
        "load1_start_per_core": round(load0 / nproc, 3),
        "load1_end_per_core": round(load1 / nproc, 3),
        "steal_pct": round(100.0 * delta[7] / max(1, sum(delta)), 3)
        if len(delta) > 7 else 0.0,
        "tmp_free_gb": round(shutil.disk_usage("/tmp").free / 2**30, 2),
        # the box was already busier than the cores this run asks for
        "loaded": load0 > cores,
    }


# --- process probes (traced runs) ----------------------------------------------------
def jvm_probe(spark) -> dict:
    jvm = spark.sparkContext._jvm
    pid = int(jvm.java.lang.ProcessHandle.current().pid())
    hwm = 0.0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                hwm = int(line.split()[1]) / 1024
    rt = jvm.java.lang.Runtime.getRuntime()
    jvm.java.lang.System.gc()
    live = (rt.totalMemory() - rt.freeMemory()) / 2**20
    cached = sum(
        (i.memSize() + i.diskSize())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ) / 2**20
    workers = 0
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/cmdline", "rb") as fh:
                    if b"pyspark" in fh.read() and _descends(int(d), pid):
                        workers += 1
            except OSError:
                pass
    return {"jvm.hwm_mb": hwm, "jvm.live_heap_mb": live,
            "storage.cached_mb": cached, "python.workers": workers}


def _descends(pid: int, ancestor: int) -> bool:
    while pid > 1:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                pid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            return False
        if pid == ancestor:
            return True
    return False


# --- the run ----------------------------------------------------------------------------
class Run:
    def __init__(self, work: str):
        self.work = work
        self.op_times: list[tuple[int, str, float, float, float]] = []
        self.pass_times: list[tuple[str, float]] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer_stats: list[dict] = []
        self.check_s = 0.0
        self.first_op_at: float | None = None  # perf_counter at the run's first op

    def run_pass(self, wl, tracer, index: int, kind: str) -> float:
        """One pass; kind is cold, timed or baseline (a traced run's
        untraced pass)."""
        traced = tracer.enabled
        tracer.enabled = traced and kind != "baseline"
        p = wl.new_pass(f"{self.work}/pass{index}", index)
        sc = wl.spark.sparkContext
        total = 0.0
        tracer.pass_id = index
        ops = list(wl.ops(p))
        for name, layer, fn in ops:
            tracer.op = name
            sc.setJobDescription(f"p{index}:{name}")
            start, t = time.time(), time.perf_counter()
            if self.first_op_at is None:
                self.first_op_at = t
            try:
                with tracer.span(f"op.{layer}"):
                    fn()
                ok = True
            except Exception as exc:  # an op that raises counts as failed
                ok = False
                self.failures.append(f"pass {index} {name}: {exc!r}"[:500])
            dur = time.perf_counter() - t
            sc.setJobDescription(None)
            tracer.op = None
            total += dur
            self.op_times.append((index, name, dur, start, start + dur))
            if not ok:
                break
            wl.after_op(p, name)
        tracer.pass_id = None
        t = time.perf_counter()
        bad = wl.check(p) if not self.failures else [n for n, _, _ in ops]
        self.check_s += time.perf_counter() - t
        self.attempted += len(ops)
        self.failed += len(set(bad))
        self.failures += [f"pass {index} {n}: output check failed" for n in bad]
        self.layer_stats.append(dict(p.layer_stats, _pass=index, _kind=kind))
        shutil.rmtree(p.root, ignore_errors=True)
        self.pass_times.append((kind, total))
        tracer.enabled = traced
        print(f"# pass {index} {kind} {total:.3f} s", file=sys.stderr, flush=True)
        return total


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "scopus_spark", "__init__.py")):
        print(f"perfbench: no scopus_spark package next to {HERE}; run from a "
              "full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    import workloads  # noqa: E402

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", f"pid{os.getpid()}")
    os.makedirs(work)
    # every scratch file of Python, the JVMs (spark-submit's launcher too)
    # and Spark stays in the work dir
    os.environ.update(TZ="UTC", TMPDIR=work, SPARK_LOCAL_DIRS=f"{work}/local",
                      JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}")
    time.tzset()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, work, workloads)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _stop_jvm() -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def _run(args, work: str, workloads) -> int:
    import inputs
    from scopus_spark.session import get_spark

    t_imports = time.perf_counter() - T0
    t = time.perf_counter()
    src, expected = inputs.ensure(args.workload, args.seed)
    gen_s = time.perf_counter() - t

    load0, cpu0 = os.getloadavg()[0], _cpu_times()
    tracer = Tracer(bool(args.trace))
    conf = dict(inputs.spark_dirs(work), **{"spark.driver.memory": DRIVER_MEM})
    if args.trace:
        os.makedirs(f"{work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(app_name=f"perfbench_{args.workload}",
                          master=args.master, extra_conf=conf)
    session_s = time.perf_counter() - t
    cores = spark.sparkContext.defaultParallelism
    wl = workloads.WORKLOADS[args.workload](spark, src, expected, tracer)

    # The cold pass's staging (hard links, register_views) is the set-up
    # staging.  The timed passes follow the cold one directly: passes keep
    # getting faster for several more (NOTES.md), but a run has no time for
    # them.
    run = Run(work)
    cold = run.run_pass(wl, tracer, 0, "cold")
    setup_s = run.first_op_at - T0 - gen_s
    index = 0
    if args.trace and not run.failures:
        index += 1
        run.run_pass(wl, tracer, index, "baseline")
    timed_start = time.perf_counter()
    while not run.failures:
        index += 1
        run.run_pass(wl, tracer, index, "timed")
        if time.perf_counter() - timed_start >= args.seconds:
            break
    if args.trace and not run.failures:
        # the second baseline pass: the mean of the two straddles the timed
        # passes on the warm-up curve
        run.run_pass(wl, tracer, index + 1, "baseline")
    timed_ids = [i for i, (k, _) in enumerate(run.pass_times) if k == "timed"]
    timed = [t for k, t in run.pass_times if k == "timed"]
    baseline = [t for k, t in run.pass_times if k == "baseline"]
    state = run_state(cores, cpu0, load0)

    metrics: dict[str, tuple[float, str]] = {}
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (cold, "s"),
            "pass_s": (median(timed), "s"),
        }
    elif not run.failures:
        probe = jvm_probe(spark)
        spark.sparkContext.stop()
        logs = os.listdir(f"{work}/eventlog")
        rows = read_event_log(f"{work}/eventlog/{logs[0]}", _op_label)
        metrics = _layer_metrics(run, tracer, rows, timed_ids, probe, session_s)
        metrics["trace.pass_s"] = (median(timed), "s")
        metrics["trace.overhead_s"] = (
            median(timed) - statistics.fmean(baseline), "s"
        )
        _write_report(args, tracer, rows, run)

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input_rows": expected.get("input_rows"),
        "input_bytes": expected.get("input_bytes"),
        "inputs_s": round(gen_s, 3), "imports_s": round(t_imports, 3),
        "session_s": round(session_s, 3), "setup_s": round(setup_s, 3),
        "passes": [(k, round(t, 4)) for k, t in run.pass_times],
        "op_median_s": {
            n: round(median([d for i, o, d, _, _ in run.op_times
                             if o == n and i in timed_ids]), 4)
            for n in dict.fromkeys(o for _, o, *_ in run.op_times)
        },
        "check_s": round(run.check_s, 3),
        "failed_op_frac": run.failed / max(1, run.attempted),
        "failures": run.failures[:20],
        "state": state,
    }
    print(json.dumps({"record": record}))
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"failed_op_frac {record['failed_op_frac']:.6g} ratio")
    ok = run.failed == 0 and not run.failures
    print(json.dumps({
        "correct": ok,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if ok else 1


def _op_label(desc):
    """Job description -> op label (``p<pass>:<op>``), None for set-up jobs."""
    return desc if desc and desc.startswith("p") and ":" in desc else None


def _layer_metrics(run, tracer, rows, timed_passes, probe, session_s) -> dict:
    """Per-layer metrics: medians over the timed passes of per-pass sums."""
    spans = tracer.self_times()

    def per_pass(fn):
        return median([fn(i) for i in timed_passes])

    def op_rows(i):
        return [(name, rows.get(f"p{i}:{name}")) for j, name, *_ in run.op_times if j == i]

    def total(field):
        return per_pass(lambda i: sum((r or {}).get(field, 0) for _, r in op_rows(i)))

    def span_sum(prefix):
        return per_pass(lambda i: sum(
            s["end"] - s["start"] for s in spans
            if s["pass"] == i and s["name"] == f"op.{prefix}"
        ))

    def plan_s(i):
        return sum(s["end"] - s["start"] for s in spans
                   if s["pass"] == i and s["name"].startswith("registry."))

    def gap(i):
        out = 0.0
        for j, name, _, start, end in run.op_times:
            if j == i:
                r = rows.get(f"p{i}:{name}") or {}
                out += driver_gap(start, end, r.get("job_intervals", []))
        return out

    def join_rows(ops):
        return per_pass(lambda i: sum(
            (rows.get(f"p{i}:{o}") or {}).get("join_rows", 0) for o in ops))

    stats = [s for s in run.layer_stats if s["_pass"] in timed_passes]

    def stat(name):
        return median([s.get(name, 0.0) for s in stats])

    # the set-up registration: the first, made while staging the cold pass
    register = [s["end"] - s["start"] for s in spans if s["name"] == "catalog.register_views"]
    m = {
        "session.start_s": (session_s, "s"),
        "catalog.register_s": (register[0] if register else 0.0, "s"),
        "queries.plan_s": (per_pass(plan_s), "s"),
        "spark.jobs": (total("jobs"), "count"),
        "spark.stages": (total("stages"), "count"),
        "spark.tasks": (total("tasks"), "count"),
        "spark.setup_jobs": (rows.get(SETUP, {}).get("jobs", 0), "count"),
        "spark.driver_gap_s": (per_pass(gap), "s"),
    }
    for f in ("run_s", "cpu_s", "gc_s"):
        m[f"stage.{f}"] = (total(f), "s")
    for f in ("input_mb", "output_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"stage.{f}"] = (total(f), "MB")
    m["stage.task_skew"] = (per_pass(lambda i: max(
        [(r or {}).get("task_skew", 0.0) for _, r in op_rows(i)] or [0.0])), "ratio")
    m["etl.extract_s"] = (span_sum("etl.extract"), "s")
    m["etl.merge_s"] = (span_sum("etl.merge"), "s")
    m["etl.files_written"] = (stat("etl.files_written"), "count")
    m["etl.output_mb"] = (stat("etl.output_mb"), "MB")
    m["etl.write_amp"] = (stat("etl.write_amp"), "ratio")
    m["upsert.partitions_rewritten"] = (stat("upsert.partitions_rewritten"), "count")
    m["manifest.merge_s"] = (span_sum("manifest.merge"), "s")
    m["manifest.commits"] = (stat("manifest.commits"), "count")
    m["manifest.files_per_commit"] = (stat("manifest.files_per_commit"), "count")
    m["dedup.prefix_s"] = (span_sum("dedup.prefix"), "s")
    m["dedup.lsh_s"] = (span_sum("dedup.lsh"), "s")
    m["dedup.simhash_s"] = (span_sum("dedup.simhash"), "s")
    # candidates: the largest join's output rows in each op (event log);
    # pairs: the rows each op wrote, counted by its output check
    cand = join_rows(("j2", "j9", "j11"))
    pairs = stat("dedup.pairs")
    m["dedup.candidates"] = (cand, "count")
    m["dedup.pairs"] = (pairs, "count")
    m["dedup.yield"] = (pairs / cand if cand else 0.0, "ratio")
    m["similarity.threshold_s"] = (span_sum("similarity.threshold"), "s")
    m["similarity.candidates"] = (join_rows(("j37",)), "count")
    m["similarity.pairs"] = (stat("similarity.pairs"), "count")
    m["graph.cc_s"] = (span_sum("graph.cc"), "s")
    for k, v in probe.items():
        m[k] = (v, "count" if k == "python.workers" else "MB")
    return m


def _write_report(args, tracer, rows, run) -> None:
    """Spans with self times and the per-op event-log rows, for reading
    after the run; kept in perfbench/_work (git-ignored)."""
    path = os.path.join(HERE, "_work", f"trace_{args.workload}_s{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({
            "spans": tracer.self_times(),
            "ops": {k: {kk: vv for kk, vv in v.items() if kk != "job_intervals"}
                    for k, v in rows.items()},
            "op_times": run.op_times,
        }, fh, indent=1)


if __name__ == "__main__":
    sys.exit(main())
