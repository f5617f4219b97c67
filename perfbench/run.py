"""Engine benchmark: one workload, one Spark application, one JSON result.

    python3 perfbench/run.py --workload census_and_queries --seed 1 --seconds 25 --trace 0

Run from the root of a checkout (the directory holding
``censo_escolar_spark``). Steps:

1. pin the environment (cores, driver memory, local dirs; measurement
   hooks scrubbed) and generate the workload's seeded inputs (untimed);
2. set up: ``get_spark``, program-side preparation and one warm pass —
   ``setup_s``;
3. run a fixed number of rounds (chosen from ``--seconds``) in a closed
   loop with one client;
4. with ``--trace 1``, at least two rounds run with every other operation
   traced (spans around the program's inner calls, Spark jobs tagged by
   span), then the attribution probes; Spark's status tracker and status
   REST API give job, stage and task counts;
5. check the outputs; every failed check counts as a failed operation.

Human-readable lines go first; the last stdout line is the JSON result.
With ``--trace 0`` its metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. Exit status is non-zero when any operation or check
failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: Driver heap for a 4-core, 15 GB machine that other jobs share.
DRIVER_MEM = "2g"
#: The driver JVM's young generation, fixed (see ``session_conf``).
YOUNG_GEN = "512m"
#: Environment hooks that change the program's plans; never inherited.
SCRUBBED = ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_SPREAD_WIDTH", "SPARK_GRAFT_NO_SPREAD")


def pin_env(work: str) -> dict:
    """Pin what the program reads from the environment; return the record."""
    for k in SCRUBBED:
        os.environ.pop(k, None)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "OMP_NUM_THREADS": "1",
        "PYSPARK_PYTHON": sys.executable,
        # every JVM, the spark-submit launcher's too: no perf-data file
        # under /tmp (it ignores java.io.tmpdir)
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    keys = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS",
            "OMP_NUM_THREADS")
    return {k: os.environ[k] for k in keys} | {"scrubbed": list(SCRUBBED)}


def session_conf(work: str, traced: bool) -> dict:
    """Confs that keep the run inside the checkout and off the network;
    the traced run also serves the status REST API on a free port."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if traced else "false",
        "spark.ui.port": "0",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.driver.host": "localhost",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed nursery: the heap still grows as the program retains
        # data, but G1 no longer sizes the young generation from each
        # run's timing, which moved peak RSS by up to 30 % between runs
        # of the same code on a shared 4-vCPU host
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xmn{YOUNG_GEN}",
    }


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus its JVM child, from /proc."""

    def hwm(pid: int) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    def children(pid: int) -> list[int]:
        out = []
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
        return out

    total, todo = hwm(os.getpid()), children(os.getpid())
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if comm == "java":
                total += hwm(pid)
            else:  # the spark-submit launcher shell: look below it
                todo += children(pid)
        except FileNotFoundError:
            continue
    return total / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def heap_peak_mb(spark) -> float:
    """Sum of the JVM heap pools' peak used bytes (MemoryPoolMXBean)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap = spark._jvm.java.lang.management.MemoryType.HEAP
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if p.getType().equals(heap)) / 2**20


class SparkCounts:
    """Tags every Spark job with the innermost open span (job group
    ``<run>:<span id>``) and, after the traced loop, counts jobs, stages
    and tasks per span from the status tracker and reads stage metrics
    from the status REST API."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id

    def on_enter(self, sid, name) -> None:
        gid = None if sid is None else f"{self.run_id}:{sid}"
        self.sc.setLocalProperty("spark.jobGroup.id", gid)
        self.sc.setLocalProperty("spark.job.description", name)

    def _rest(self, path: str):
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://localhost:{port}/api/v1/applications/{self.sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read())

    def collect(self, tracer: spans.Tracer, wall: float, cores: int) -> tuple[dict, dict]:
        """(run totals, per-span-name totals)."""
        st = self.sc.statusTracker()
        jobs_by_name: dict[str, list[int]] = {}
        for s in tracer.spans:
            jobs = st.getJobIdsForGroup(f"{self.run_id}:{s.span_id}")
            jobs_by_name.setdefault(s.name, []).extend(jobs)
        all_jobs = sorted({j for js in jobs_by_name.values() for j in js})
        # the REST store is fed by the listener bus: wait until it has
        # every job the tracker knows
        deadline = time.time() + 20
        while True:
            done = {j["jobId"] for j in self._rest("/jobs") if j["status"] != "RUNNING"}
            if set(all_jobs) <= done or time.time() > deadline:
                break
            time.sleep(0.2)
        stages = {(s["stageId"], s["attemptId"]): s for s in self._rest("/stages")}
        stage_ids: dict[int, list] = {}
        for j in all_jobs:
            info = st.getJobInfo(j)
            stage_ids[j] = list(info.stageIds) if info else []

        def totals(jobs) -> dict:
            rows = [s for j in jobs for sid in stage_ids[j]
                    for (i, _), s in stages.items() if i == sid and s["status"] != "SKIPPED"]
            return {
                "jobs": len(jobs),
                "stages": len(rows),
                "tasks": sum(s["numTasks"] for s in rows),
                "failed_tasks": sum(s["numFailedTasks"] for s in rows),
                "single_task_stages": sum(1 for s in rows if s["numTasks"] == 1),
                "run_s": sum(s["executorRunTime"] for s in rows) / 1000.0,
                "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in rows),
            }

        run = totals(all_jobs)
        run["task_busy_ratio"] = run["run_s"] / (wall * cores) if wall else 0.0
        return run, {name: totals(sorted(set(js))) for name, js in jobs_by_name.items()}


def run_ops(wl, spark, tracer: spans.Tracer, tally: spans.Tally, traced_run: bool) -> list:
    """The closed loop: every operation of ``wl.schedule()``, back to back.
    In a traced run each operation runs as its part's ``trace_modes`` say;
    a traced operation runs inside its part's ``tracing`` context."""
    samples = []
    for r, i, part, key in wl.schedule():
        for traced in (part.trace_modes(r, i, key) if traced_run else (False,)):
            keep: dict = {}
            try:
                fn, items = part.call(spark, r, key, traced)
                n0 = len(tracer.spans)
                with (part.tracing(tracer, keep) if traced else tracer.paused()):
                    with tracer.span(part.label_of(key)):
                        t0 = time.perf_counter()
                        fn()
                        dt = time.perf_counter() - t0
                if traced:
                    part.captured.setdefault(key, []).append((keep, tracer.spans[n0:]))
                samples.append({"label": part.label_of(key), "kind": part.kind_of(key),
                                "items": items, "t": dt, "traced": traced,
                                "pair": (part.label, part.pair_key(r, key))})
                tally.op(True)
            except Exception:  # a failed operation is counted, the loop goes on
                tally.op(False, f"{part.label_of(key)} {key}: " + traceback.format_exc(limit=3))
    return samples


def end_to_end(parts: list, samples: list, setup_s: float, rss: float) -> dict:
    """The end-to-end metrics; a metric with no successful operation behind
    it is left out (the result then reads ``correct: false``)."""
    writes = [s for s in samples if s["kind"] == "write"]
    reads = [p.read_p50([s for s in samples if s["pair"][0] == p.label and s["kind"] == "read"])
             for p in parts]
    reads = [r for r in reads if r is not None]
    out = {"setup_s": {"value": setup_s, "unit": "s"},
           "peak_rss_mb": {"value": rss, "unit": "MB"}}
    if writes:
        out["write_items_per_s"] = {"value": sum(s["items"] for s in writes)
                                    / sum(s["t"] for s in writes), "unit": "items/s"}
    if reads:  # one part of each workload reads
        out["read_p50_s"] = {"value": statistics.median(reads), "unit": "s"}
    return out


def report(line: str) -> None:
    print(line, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "censo_escolar_spark")):
        print(f"no censo_escolar_spark package under {root}: run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(HERE, "_work", run_id)
    env = pin_env(work)
    try:
        return run(args, work, run_id, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, run_id: str, env: dict) -> int:
    wl = WORKLOADS[args.workload](work, args.seed, args.seconds, bool(args.trace))
    tracer = spans.Tracer(run_id, enabled=False)
    inputs = {}
    tg = time.perf_counter()
    for p in wl.parts:
        p.tracer = tracer
        inputs |= p.prepare()

    from censo_escolar_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", **session_conf(work, bool(args.trace)))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        for p in wl.parts:
            p.prep(spark)
        t2 = time.perf_counter()
        for p in wl.parts:
            p.warm(spark)
        t3 = time.perf_counter()
        setup = {"start": t1 - t0, "prep": t2 - t1, "warm": t3 - t2}

        tally = spans.Tally()
        counts = SparkCounts(spark, run_id)
        if args.trace:
            tracer.enable(counts.on_enter)
        gc0 = gc_seconds(spark)
        t4 = time.perf_counter()
        samples = run_ops(wl, spark, tracer, tally, bool(args.trace))
        t5 = time.perf_counter()
        wall = t5 - t4
        gc_s = gc_seconds(spark) - gc0
        layers = (traced_layers(wl, spark, tracer, counts, samples, setup, gc_s)
                  if args.trace else {})
        for p in wl.parts:
            try:
                tally.checks(p.check(spark))
            except Exception:  # a check that cannot run is a failed check
                tally.op(False, f"{p.label} check: " + traceback.format_exc(limit=3))
        heap_mb = heap_peak_mb(spark)
        rss = peak_rss_mb()
        t6 = time.perf_counter()
    finally:
        stop_spark(spark)
    phases = {"inputs": t0 - tg, "setup": t3 - t0, "loop": t4 - t3 + wall,
              "after_loop": t6 - t5, "stop": time.perf_counter() - t6}

    report(f"workload {args.workload} seed {args.seed} inputs {json.dumps(inputs)}")
    report(f"env {json.dumps(env)}")
    report(f"loop closed, 1 client: rounds {wl.rounds}, {len(samples)} ops in {wall:.3f} s"
           + (" (traced run: every other operation traced)" if args.trace else ""))
    for label in sorted({s["label"] for s in samples}):
        report(f"  {label}: {json.dumps(spans.summary([s['t'] for s in samples if s['label'] == label]))} s")
    report("setup: " + ", ".join(f"{k} {v:.3f} s" for k, v in setup.items()))
    report("phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    e2e = {}
    if not args.trace:
        e2e = end_to_end(wl.parts, samples, t3 - t0, rss)
        for name, v in e2e.items():
            report(f"e2e {name} = {v['value']:.6g} {v['unit']}")
        for p in wl.parts:
            mine = [s for s in samples if s["pair"][0] == p.label]
            for name, (v, unit, n) in p.summary(mine).items():
                report(f"e2e {name} = {v:.6g} {unit} (n={n})")
    report(f"e2e error_rate = {tally.error_rate:.6g} ratio "
           f"({tally.failed} failed of {tally.attempted})")
    report(f"jvm heap peak {heap_mb:.1f} MB, peak rss {rss:.1f} MB")
    for err in tally.errors:
        report(f"FAILED {err}")
    if args.trace:
        for name, st in sorted(spans.self_times(tracer.spans).items()):
            report(f"self {name} = {st:.4f} s")
        for name, (v, unit) in sorted(layers.items()):
            report(f"layer {name} = {v:.6g} {unit}")

    if args.trace:
        layers["jvm.heap_peak_mb"] = (heap_mb, "MB")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items() if k in PER_LAYER}
    else:
        metrics = e2e
    ok = tally.failed == 0 and set(metrics) == set(PER_LAYER if args.trace else E2E)
    print(json.dumps({"correct": ok, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0 if ok else 1


def traced_layers(wl, spark, tracer, counts, samples: list, setup: dict,
                  gc_s: float) -> dict:
    """Every per-layer metric of a traced run: each part's attribution,
    the status tracker's and REST API's Spark counts over the traced
    operations, and the tracing overhead on identical work."""
    with tracer.span("attribute"):
        part_layers = {}
        for p in wl.parts:
            part_layers |= p.attribute(spark, tracer)
    counts.on_enter(None, None)
    traced_wall = sum(s["t"] for s in samples if s["traced"])
    run_counts, by_span = counts.collect(tracer, traced_wall,
                                         int(os.environ["SPARK_GRAFT_CPUS"]))
    for p in wl.parts:
        part_layers |= p.span_counts(by_span)
    tracer.dump(os.path.join(HERE, "_work", f"spans-{tracer.run_id}.json"))
    overhead = spans.paired_overhead([(s["pair"], s["traced"], s["t"]) for s in samples])
    layers = {
        "session.start_s": (setup["start"], "s"),
        "session.prep_s": (setup["prep"], "s"),
        "session.warm_s": (setup["warm"], "s"),
        "jvm.gc_s": (gc_s, "s"),
        "spark.jobs": (run_counts["jobs"], "count"),
        "spark.stages": (run_counts["stages"], "count"),
        "spark.tasks": (run_counts["tasks"], "count"),
        "spark.failed_tasks": (run_counts["failed_tasks"], "count"),
        "spark.single_task_stages": (run_counts["single_task_stages"], "count"),
        "spark.task_busy_ratio": (run_counts["task_busy_ratio"], "ratio"),
        "trace.spans": (len(tracer.spans), "count"),
    }
    if overhead is not None:
        layers["trace.overhead_s"] = (overhead[0], "s")
        layers["trace.overhead_ratio"] = (overhead[1], "ratio")
    return layers | part_layers


#: End-to-end metrics of an untraced run.
E2E = ("setup_s", "peak_rss_mb", "write_items_per_s", "read_p50_s")

#: Per-layer metrics every workload reports (the JSON result of a traced
#: run); part-specific layers are printed above it.
PER_LAYER = (
    "session.start_s", "session.prep_s", "session.warm_s", "jvm.gc_s", "jvm.heap_peak_mb",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.single_task_stages", "spark.task_busy_ratio",
    "trace.overhead_s", "trace.overhead_ratio",
)


if __name__ == "__main__":
    sys.exit(main())
