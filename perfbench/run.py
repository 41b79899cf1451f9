#!/usr/bin/env python3
"""Benchmark entry point: one workload, one closed-loop client, local[4].

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke      # every workload once at sf0.001

A run:

1. builds the workload's inputs and oracle-expected results in a child
   process (``prepare.py``; cached under ``.perfbench/cache``);
2. sets up a Spark session twice -- once in a child process and once
   here -- each from process start through imports,
   ``session.get_spark`` and one trivial job; ``setup_s`` is the median;
3. runs one cold pass over the mix in its listed order, then timed warm
   passes until the workload's count of them has run and ``--seconds``
   have passed, in an order the seed permutes for every pass.  Each request's build + execute + release
   is measured in CPU seconds of the driver, its JVM and its Python
   workers (``work_cpu_s``); its output is checked against the oracle
   outside the measured region;
4. prints one JSON line: the end-to-end metrics with ``--trace 0``, or
   the per-layer metrics of a traced run with ``--trace 1``.

Every file a run writes (sinks, Spark local dirs, span files, caches)
lands under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = os.path.join(ROOT, "etl_onprem_to_cloud_spark")
CPUS = 4
SETUP_SAMPLES = 2
DRIVER_MEM = "3g"
sys.path.insert(0, ROOT)


CLK_TCK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads; the JVM is started with a fixed set of
# them (-XX:-UseDynamicNumberOfCompilerThreads), so none exits with its
# CPU time unread.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str):
    """(comm, fields after comm) of a /proc stat file, or None if the
    process or thread has ended."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    end = stat.rindex(")")
    return stat[stat.index("(") + 1:end], stat[end + 2:].split()


def _ticks(fields, reaped: bool) -> int:
    # utime, stime (and cutime, cstime of reaped children)
    return sum(map(int, fields[11:15 if reaped else 13]))


def work_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant (the
    Spark JVM and its Python workers, reaped children included), less the
    JVM's JIT compiler threads.

    Differences of it over a request or pass count the work done there.
    Unlike wall time they leave out the time other tenants of the shared
    host held the CPUs.  JIT compilation is left out because how much of
    it lands in a pass depends on timing, not on the work the pass asked
    for: it doubled in the warm passes when other processes competed for
    the CPUs."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(f"/proc/{name}/stat")):
            procs[int(name)] = st
    me = os.getpid()
    ticks = 0
    for pid, (comm, fields) in procs.items():
        p = pid
        while p in procs and p != me:
            p = int(procs[p][1][1])  # ppid
        if p != me:
            continue
        ticks += _ticks(fields, reaped=True)
        if comm == "java":
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:  # the JVM has exited
                tids = []
            for tid in tids:
                t = _stat(f"/proc/{pid}/task/{tid}/stat")
                if t and t[0].startswith(JIT_THREADS):
                    ticks -= _ticks(t[1], reaped=False)
    return ticks / CLK_TCK


def steal_s() -> float:
    """Host-wide time the hypervisor held this machine's CPUs, in s."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def configure_env(tmp: str) -> None:
    """Pin local[4] and keep every Spark, JVM and Python temp file inside
    ``tmp``.  Must run before the JVM starts."""
    dirs = {k: os.path.join(tmp, k) for k in ("spark-local", "java", "py")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    java_opts = (f"-Djava.io.tmpdir={dirs['java']} -XX:-UsePerfData "
                 "-XX:-UseDynamicNumberOfCompilerThreads")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["py"],
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-memory {DRIVER_MEM} --driver-java-options "
            f"{shlex.quote(java_opts)} pyspark-shell"
        ),
    })


def run_child(args: list[str], timeout: float) -> str:
    """Run a child Python process to completion and return its stdout;
    the whole process group is killed if it overruns or this run is
    stopped."""
    proc = subprocess.Popen(
        [sys.executable, *args], stdout=subprocess.PIPE, cwd=ROOT,
        start_new_session=True, text=True,
    )
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:  # timeout, SIGTERM or Ctrl-C: re-raised
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"{args[0]} exited with {proc.returncode}")
    return out.strip().splitlines()[-1]


# -- session set-up and teardown ------------------------------------------


def setup():
    """Imports, ``session.get_spark`` and one trivial job."""
    import etl_onprem_to_cloud_spark.queries  # noqa: F401  (query registry)
    from etl_onprem_to_cloud_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, get_spark_s


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_proc():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def stop(spark) -> None:
    """Stop Spark and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway, proc = SparkContext._gateway, jvm_proc()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def setup_sample() -> int:
    """One set-up in a throwaway process; its JVM is killed, not stopped,
    because nothing it holds is needed."""
    _, get_spark_s = setup()
    ready = time.perf_counter() - T0
    proc = jvm_proc()
    proc.kill()
    proc.wait()
    print(json.dumps({"setup_s": ready, "get_spark_s": get_spark_s}))
    return 0


# -- requests and passes ----------------------------------------------------


def timed(tracer, name, fn, *args):
    return tracer.call(name, fn, *args) if tracer else fn(*args)


def run_request(spark, req, rid: str, tracer) -> dict:
    from etl_onprem_to_cloud_spark import pinned

    sc = spark.sparkContext
    group = f"perfbench-{rid}"
    sc.setJobGroup(group, req.name, False)
    rec = {"name": req.name, "id": rid, "error": None}
    counts0 = Counter(tracer.counts) if tracer else None
    if tracer:
        tracer.request, tracer.building = rid, True
    c0 = work_cpu_s()
    t0 = time.perf_counter()
    t1 = t2 = None
    try:
        timed(tracer, "bench.build", req.build, spark)
        t1 = time.perf_counter()
        if tracer:
            tracer.building = False
        timed(tracer, "bench.execute", req.execute, spark)
        t2 = time.perf_counter()
    except Exception as e:  # counted as a failed request
        log(traceback.format_exc())
        rec["error"] = f"{req.name}: raised {type(e).__name__}: {str(e)[:300]}"
    t_end = time.perf_counter()
    c1 = work_cpu_s()
    if tracer:
        tracer.building = False
    sc.setJobGroup("perfbench-verify", "verify", False)
    if rec["error"] is None:
        try:
            rec["error"] = req.verify()
        except Exception as e:
            log(traceback.format_exc())
            rec["error"] = f"{req.name}: verify raised {type(e).__name__}: {e}"
    if tracer and rec["error"] is None:
        from spans import plan_exchanges

        rec["exchanges"] = sum(plan_exchanges(f) for f in req.frames())
    if rec["error"] is None:
        rec["out_bytes"] = req.out_bytes()
    c2 = work_cpu_s()
    t3 = time.perf_counter()
    rec["pins"] = timed(tracer, "bench.release", pinned.release_pinned)
    t4 = time.perf_counter()
    rec["cpu_s"] = (c1 - c0) + (work_cpu_s() - c2)
    req.done()
    if tracer:
        tracer.request = None
        from spans import stage_metrics

        rec["stage"] = stage_metrics(spark, group)
        rec["counts"] = dict(Counter(tracer.counts) - counts0)
    rec["build_s"] = (t1 or t_end) - t0
    rec["exec_s"] = (t2 - t1) if t2 else 0.0
    rec["release_s"] = t4 - t3
    rec["latency_s"] = (t_end - t0) + rec["release_s"]
    sc.setJobGroup("perfbench-idle", "idle", False)
    if rec["error"]:
        log(f"FAILED {rec['error']}")
    return rec


def run_passes(spark, requests, seed: int, seconds: float, tracer, timed: int):
    """Cold pass in mix order, then timed warm passes in seed-permuted
    orders until ``seconds`` have passed and at least ``timed`` have run.

    The cold pass keeps one order because the first query of a fresh
    session pays for it: q_lpa_communities used 11.8 CPU s when it ran
    first and 3-7 s otherwise."""
    rng = random.Random(seed)
    passes = []
    while True:
        p = len(passes)
        order = range(len(requests))
        if p:
            order = rng.sample(order, len(requests))
        st0 = steal_s()
        recs = [run_request(spark, requests[i], f"p{p}r{i}", tracer) for i in order]
        log(f"pass {p}: wall {pass_time(recs):.3f}s cpu {pass_cpu(recs):.3f}s "
            f"host steal {steal_s() - st0:.2f}s")
        for r in recs:
            log(f"pass {p} {r['name']}: build {r['build_s']:.3f}s "
                f"exec {r['exec_s']:.3f}s release {r['release_s']:.4f}s "
                f"cpu {r['cpu_s']:.3f}s")
        passes.append(recs)
        if len(passes) == 1:
            timed_start = time.perf_counter()
        if len(passes) > timed and time.perf_counter() - timed_start >= seconds:
            return passes


def pass_time(recs) -> float:
    return sum(r["latency_s"] for r in recs)


def pass_cpu(recs) -> float:
    return sum(r["cpu_s"] for r in recs)


# -- metrics ---------------------------------------------------------------


def end_to_end(cold, timed, setup_s: float, input_rows: int) -> dict:
    cpu_s = statistics.median(pass_cpu(p) for p in timed)
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_cpu_s": (pass_cpu(cold), "s"),
        "pass_cpu_s": (cpu_s, "s"),
        "rows_per_cpu_s": (input_rows / cpu_s, "rows/s"),
    }


def per_layer(timed, tracer, get_spark_s: float, input_bytes: int,
              rss_mb: float) -> dict:
    rows = []
    for recs in timed:
        ids = [r["id"] for r in recs]
        lt = tracer.layer_times(ids)
        st = Counter()
        cnt = Counter()
        for r in recs:
            st.update(r.get("stage", {}))
            cnt.update(r.get("counts", {}))
        wall = pass_time(recs)
        rows.append({
            "trace.pass_s": (wall, "s"),
            "trace.pass_cpu_s": (pass_cpu(recs), "s"),
            "request.build_s": (sum(r["build_s"] for r in recs), "s"),
            "exec.materialize_s": (sum(r["exec_s"] for r in recs), "s"),
            "pinned.release_s": (sum(r["release_s"] for r in recs), "s"),
            "pinned.pins": (sum(r["pins"] for r in recs), "count"),
            "sources.io_s": (lt.get("sources.io_s", 0.0), "s"),
            "exec.jobs": (st["jobs"], "count"),
            "exec.exchanges": (sum(r.get("exchanges", 0) for r in recs), "count"),
            "spark.stages": (st["stages"], "count"),
            "spark.stages_skipped_ratio": (
                st["stages_skipped"] / st["stages"] if st["stages"] else 0.0, "ratio"),
            "spark.tasks": (st["tasks"], "count"),
            "spark.executor_run_s": (st["executor_run_s"], "s"),
            "spark.executor_cpu_s": (st["executor_cpu_s"], "s"),
            "spark.jvm_gc_s": (st["jvm_gc_s"], "s"),
            "spark.input_bytes": (st["input_bytes"], "bytes"),
            "spark.shuffle_write_bytes": (st["shuffle_write_bytes"], "bytes"),
            "spark.shuffle_read_bytes": (st["shuffle_read_bytes"], "bytes"),
            "spark.spill_bytes": (st["spill_bytes"], "bytes"),
            "spark.output_bytes": (st["output_bytes"], "bytes"),
            "spark.core_utilization": (st["executor_run_s"] / (CPUS * wall), "ratio"),
            "spark.local_checkpoints": (cnt["spark.local_checkpoints"], "count"),
            "spark.driver_collects": (cnt["spark.driver_collects"], "count"),
            "sources.io.scan_amplification": (st["input_bytes"] / input_bytes, "ratio"),
            "sources.io.out_bytes_per_in_byte": (
                sum(r.get("out_bytes", 0) for r in recs) / input_bytes, "ratio"),
            "operators.layout.ckpt_partitioned.calls": (
                lt.get("operators.layout.ckpt_partitioned.calls", 0), "count"),
            "operators.graph.calls": (lt.get("operators.graph.calls", 0), "count"),
            "llm.similarity.calls": (lt.get("llm.similarity.calls", 0), "count"),
            "llm.similarity_ml.calls": (lt.get("llm.similarity_ml.calls", 0), "count"),
            "llm.dedup.calls": (lt.get("llm.dedup.calls", 0), "count"),
            "pipeline.run_netflix_pipeline.calls": (
                lt.get("pipeline.run_netflix_pipeline.calls", 0), "count"),
        })
    out = {"session.get_spark_s": (get_spark_s, "s"), "peak_rss_mb": (rss_mb, "MB")}
    for k, (_, unit) in rows[0].items():
        out[k] = (statistics.median(r[k][0] for r in rows), unit)
    return out


def layer_summary(timed, tracer) -> dict:
    """Every layer and public-function time and call count of the timed
    passes, per pass (median); goes to the span file and stderr."""
    per = [tracer.layer_times([r["id"] for r in recs]) for recs in timed]
    keys = sorted({k for p in per for k in p})
    return {k: statistics.median(p.get(k, 0) for p in per) for k in keys}


# -- main ------------------------------------------------------------------


def build_requests(workload: str, prep: dict, tmp: str):
    from workloads import QUERY_MIX, EtlRequest, QueryRequest

    if workload == "etl_netflix":
        reqs = [
            EtlRequest(k, d["csv_dir"], os.path.join(tmp, "sink", str(k)), d["expected"])
            for k, d in enumerate(prep["drops"])
        ]
    else:
        reqs = [QueryRequest(q, prep["sf_dir"], prep["expected"][q]) for q in QUERY_MIX]
    return reqs, prep["input_rows"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="query_mix")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at sf0.001 with a tiny CSV")
    ap.add_argument("--setup-sample", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args()
    if not os.path.isdir(PACKAGE):
        log(f"package not found at {PACKAGE}; run from a full checkout")
        return 2
    from workloads import WORKLOADS

    workloads = list(WORKLOADS) if a.smoke else [a.workload]
    if any(w not in WORKLOADS for w in workloads):
        log(f"unknown workload {a.workload}; choose from {sorted(WORKLOADS)}")
        return 2
    if a.setup_sample:
        return setup_sample()

    # SIGTERM unwinds like Ctrl-C, so the finally blocks stop the JVM and
    # every child process before the run exits.
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    configure_env(tmp)
    try:
        return measure(a, workloads, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def measure(a, workloads, tmp) -> int:
    from workloads import SMOKE, WORKLOADS

    t_prep0 = time.perf_counter()
    preps = {}
    for w in workloads:
        args = [os.path.join(HERE, "prepare.py"), "--workload", w,
                "--seed", str(a.seed), "--work", WORK]
        preps[w] = json.loads(run_child(args + (["--smoke"] if a.smoke else []), 900))
    log(f"prepare: {time.perf_counter() - t_prep0:.1f}s")
    samples = [
        json.loads(run_child([os.path.abspath(__file__), "--setup-sample"], 170))
        for _ in range(0 if a.smoke else SETUP_SAMPLES - 1)
    ]
    t_setup0 = time.perf_counter()
    spark, get_spark_s = setup()
    samples.append({
        "setup_s": (t_prep0 - T0) + (time.perf_counter() - t_setup0),
        "get_spark_s": get_spark_s,
    })
    log("setup samples: " + ", ".join(f"{s['setup_s']:.3f}s" for s in samples))

    tracer = None
    if a.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()
    attempted = failed = 0
    metrics = {}
    try:
        for w in workloads:
            reqs, input_rows = build_requests(w, preps[w], tmp)
            t_run = time.perf_counter()
            cfg = SMOKE if a.smoke else WORKLOADS[w]
            passes = run_passes(spark, reqs, a.seed, 0 if a.smoke else a.seconds,
                                tracer, cfg["timed"])
            timed = passes[1:] or passes
            recs = [r for p in passes for r in p]
            attempted += len(recs)
            failed += sum(1 for r in recs if r["error"])
            log(f"{w}: {len(passes)} passes ({len(timed)} timed) in "
                f"{time.perf_counter() - t_run:.1f}s, {len(recs)} requests, "
                f"{sum(1 for r in recs if r['error'])} failed")
            proc = jvm_proc()
            rss = vm_hwm_mb("self") + (vm_hwm_mb(proc.pid) if proc else 0.0)
            setup_s = statistics.median(s["setup_s"] for s in samples)
            if a.trace:
                gs = statistics.median(s["get_spark_s"] for s in samples)
                m = per_layer(timed, tracer, gs, preps[w]["input_bytes"], rss)
                summary = layer_summary(timed, tracer)
                for k, v in summary.items():
                    log(f"layer {k} = {v:.6g}")
                os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
                tracer.dump(
                    os.path.join(WORK, "traces", f"{w}-seed{a.seed}.json"),
                    {"workload": w, "seed": a.seed, "layers": summary,
                     "requests": [{k: v for k, v in r.items() if k != "stage"}
                                  for r in recs]},
                )
            else:
                m = end_to_end(passes[0], timed, setup_s, input_rows)
            for k, (v, unit) in m.items():
                metrics[f"{w}.{k}" if a.smoke else k] = {"value": v, "unit": unit}
    finally:
        stop(spark)
    log(f"run wall: {time.perf_counter() - T0:.1f}s")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
