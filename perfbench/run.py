"""Benchmark of the paper's four uses of the lake.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads: ``dashboard``, ``lake_export``,
``stream_replay``, ``corpus`` (see ``workloads.py`` and ``manifest.json``).
A run does a fixed amount of work sized from ``--seconds``: about that many
seconds of ops on a 4-core host. Every input is generated from ``--seed``
under a per-run directory in the checkout, which is removed at exit together
with every other output (export lake, stream store, checkpoints, warehouse,
Spark local dirs).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones of ``BENCHMARK.json``; with ``--trace 1`` they are its
per-layer ones, from a run that alternates traced and untraced ops so it can
report its own overhead. The line before it carries the run's provenance and
detail, wall-clock latency (median, p90, sample count), ops per second and
the driver's heap peak included. The command exits non-zero when any op
raised or failed its output check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "time_series_and_data_lakes_spark"
# The package's session defaults to a 16g driver heap; the benchmark runs a
# 2g heap with a fixed young generation, pre-touched (see start_session).
DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"


def declared(section: str) -> dict[str, str]:
    """Metric name -> unit of one metric list of ``BENCHMARK.json``
    (``end_to_end`` or ``per_layer``)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["dashboard", "lake_export", "stream_replay", "corpus"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size; 1.0 is sf0.1-sized, 0.01 sf0.001-sized")
    p.add_argument("--out", help="append the full result record to this JSON-lines file")
    return p.parse_args(argv)


# ---------------------------------------------------------------- statistics


def weighted_median(values: list[float], weights: list[float]) -> float:
    """Smallest value whose cumulative weight reaches half the total; ties
    at exactly half average with the next value."""
    pairs = sorted(zip(values, weights))
    half = sum(weights) / 2
    acc = 0.0
    for i, (v, w) in enumerate(pairs):
        acc += w
        if abs(acc - half) < 1e-12 and i + 1 < len(pairs):
            return (v + pairs[i + 1][0]) / 2
        if acc > half:
            return v
    return pairs[-1][0]


def balanced_latency(ops: list[dict]) -> tuple[float, float]:
    """(median latency, ops per second) with every op kind weighted
    equally, as in one refresh cycle — so a partial last cycle cannot
    shift the op mix. Ops per second is the closed-loop cycle rate times
    the kinds per cycle."""
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["wall_s"])
    values, weights = [], []
    for walls in by_kind.values():
        values += walls
        weights += [1.0 / len(walls)] * len(walls)
    p50 = weighted_median(values, weights)
    rate = len(by_kind) / sum(statistics.fmean(w) for w in by_kind.values())
    return p50, rate


def steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests since boot,
    summed over this host's CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it:
    the driver JVM it launched and that JVM's Python workers (reaped
    children included)."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        pid = int(name)
        stats[pid] = sum(int(x) for x in fields[11:15])
        children.setdefault(int(fields[1]), []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def _heap_pools(spark) -> list:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def reset_heap_peak(spark) -> None:
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()


def heap_peak_mb(spark) -> float:
    """Sum over the driver JVM's heap pools of each one's peak use since
    :func:`reset_heap_peak`. The heap is pre-touched, so heap growth shows
    here and not in VmHWM."""
    return sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark)) / 2**20


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# ---------------------------------------------------------------- environment


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def prepare_env(run_dir: str, cpus: int) -> None:
    """Point every writer at the run dir and the Python workers at the
    checkout under test, before the JVM starts."""
    for sub in ("tmp", "jtmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    for key in [k for k in os.environ if k.startswith("TSDL_")]:
        del os.environ[key]  # engine knobs at their defaults, but for the heap
    old = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "TMPDIR": os.path.join(run_dir, "tmp"),
            "SPARK_GRAFT_CPUS": str(cpus),
            "TSDL_DRIVER_MEM": DRIVER_MEMORY,
            # every JVM, the spark-submit launcher included: temp files in
            # the run dir, no hsperfdata files
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'jtmp')} -XX:-UsePerfData",
        }
    )
    tempfile.tempdir = os.path.join(run_dir, "tmp")


def start_session(run_dir: str):
    from time_series_and_data_lakes_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # a fixed, pre-touched heap and young generation: how much heap
            # G1 touches otherwise moves peak RSS by 20-40% between
            # identical runs
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} -XX:+AlwaysPreTouch",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def provenance(args: argparse.Namespace, cpus: int) -> dict:
    import duckdb
    import pandas
    import pyarrow
    import pyspark

    commit = "unknown"
    if os.path.exists(os.path.join(ROOT, ".git")):
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, check=False)
        commit = res.stdout.strip() or "unknown"
    return {
        "git_commit": commit,
        "nproc": os.cpu_count(),
        "spark_graft_cpus": cpus,
        "versions": {
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__,
            "duckdb": duckdb.__version__,
            "python": sys.version.split()[0],
        },
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
    }


# ---------------------------------------------------------------- batch loop


def run_batch(ctx, wl, seconds: int, tracer) -> tuple[list[dict], float, float]:
    """Closed loop of ``wl.cycles(seconds)`` whole cycles, so every op kind
    runs equally often and every run does the same work. A traced run runs
    at least two cycles and traces every kind in one of them: half the kinds
    in even cycles, the other half in odd ones; untraced ops run exactly as
    in an untraced run. Each op records its wall and CPU seconds; its
    output is checked right after it, outside that region. Returns the ops,
    the measured seconds without the checks, and the checks' seconds."""
    from contextlib import nullcontext

    sc = ctx.spark.sparkContext
    ops: list[dict] = []
    even_half = set(wl.kinds[::2])
    n_cycles = wl.cycles(seconds, 2 if tracer is not None else 1)
    check_s = 0.0
    begin = time.perf_counter()
    for c, cycle in zip(range(n_cycles), wl.schedule(ctx.seed)):
        for item in cycle:
            kind = item if isinstance(item, str) else wl.kinds[0]
            op_id = len(ops)
            traced = tracer is not None and (kind in even_half) == (c % 2 == 0)
            group = f"bench:{wl.name}:{kind}"
            sc.setJobGroup(group, f"{wl.name} op {op_id}")
            mark = tracer.mark() if traced else None
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                with tracer.span("op", op_id=op_id) if traced else nullcontext():
                    rec = wl.run_op(ctx, item, tracer if traced else None)
                rec.update(ok=True, error=None)
            except Exception as e:  # an op that raises counts as failed
                rec = {"wall_s": time.perf_counter() - t0, "ok": False,
                       "error": f"{type(e).__name__}: {str(e)[:300]}"}
            rec.update(op_id=op_id, kind=kind, traced=traced, cpu_s=tree_cpu_s() - cpu0)
            if traced and rec["ok"]:
                tracer.after_op(op_id, kind, group, mark, rec)
            if rec["ok"]:
                t_check = time.perf_counter()
                sc.setJobGroup("bench:check", f"check of op {op_id}")
                try:
                    err = wl.check_op(ctx, item, rec)
                except Exception as e:  # so does a check that raises
                    err = f"{type(e).__name__}: {str(e)[:300]}"
                if err:
                    rec.update(ok=False, error=f"check: {kind}: {err}")
                check_s += time.perf_counter() - t_check
            ops.append(rec)
    sc._jsc.clearJobGroup()
    return ops, time.perf_counter() - begin - check_s, check_s


# ---------------------------------------------------------------- stream loop


def run_stream(ctx, wl, seconds: int, tracer) -> tuple[list[dict], float, dict, dict, list]:
    """Replay the backlog; in a traced run the first half of the backlog
    replays untraced and the second half traced, each with its own store
    and checkpoints. Returns the ops, the measured seconds, the traced
    half's layer rows, the bytes/rows the replays landed, and what
    :func:`check_replays` needs."""
    import datagen
    from workloads import tree_stats

    n_files = wl.cycles(seconds)
    halves = [(0, n_files, False)]
    if tracer is not None:
        halves = [(0, n_files // 2, False), (n_files // 2, n_files, True)]
    ops: list[dict] = []
    layer: dict = {}
    writes = {"bytes": 0, "rows": 0}
    replays = []
    measured = 0.0
    for first, last, traced in halves:
        tag = f"m{first}"
        src = ctx.path(f"backlog_{tag}")
        records = datagen.write_backlog(src, ctx.seed, first, last)
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        res, err = None, None
        try:
            if traced:
                mark = tracer.mark()
                with tracer.span("op", op_id=len(ops)):
                    res = wl.replay(ctx, src, ctx.path(f"stream_{tag}"), tag, tracer)
                layer = stream_layer(tracer, res, mark, tracer.mark())
            else:
                res = wl.replay(ctx, src, ctx.path(f"stream_{tag}"), tag, None)
        except Exception as e:  # a failed replay fails all of its files
            err = f"{type(e).__name__}: {str(e)[:300]}"
        measured += time.perf_counter() - t0
        # the micro-batches have no CPU time of their own: spread it evenly
        cpu = (tree_cpu_s() - cpu0) / (last - first)
        batches = min(len(res["ingest"]), len(res["cep"])) if res else 0
        if res and batches != last - first:
            err = f"{len(res['ingest'])}/{len(res['cep'])} data batches for {last - first} files"
        first_op = len(ops)
        for i in range(last - first):
            wall = 0.0
            if i < batches:
                wall = (res["ingest"][i].durationMs["triggerExecution"]
                        + res["cep"][i].durationMs["triggerExecution"]) / 1e3
            ops.append({"op_id": len(ops), "kind": wl.kinds[0], "wall_s": wall, "cpu_s": cpu,
                        "traced": traced, "ok": err is None, "error": err})
        if res:
            writes["bytes"] += tree_stats(res["store"])[1] + tree_stats(res["ckpt"])[1]
            writes["rows"] += len(records)
            replays.append((ops[first_op:], res, records))
    return ops, measured, layer, writes, replays


def check_replays(ctx, replays: list) -> None:
    """Outside the timed region: each replay's store must equal a batch
    melt of its backlog, and its CEP matches the batch operator's."""
    import checks

    for ops, res, records in replays:
        err = checks.check_store(ctx.spark, res["store"], records)
        err = err or checks.check_cep(ctx.spark, res["table"], records)
        if err:
            for o in ops:
                if o["ok"]:
                    o.update(ok=False, error=f"check: {err}")


def stream_layer(tracer, res: dict, mark: dict, end: dict) -> dict:
    """Per-file layer rows of the traced replay half: everything the
    replay launched between the two marks."""
    files = max(1, len(res["ingest"]))
    reader = tracer.reader
    jobs = [reader.job(j) for j in reader.jobs_since(mark["job"]) if j <= end["job"]]
    op_id = tracer.spans[-1]["op_id"]
    phases = [s for s in tracer.spans if s["op_id"] == op_id and s["name"] in ("build", "exec")]
    store_files = sum(
        1 for d, _s, names in os.walk(res["store"]) for n in names
        if n.endswith(".parquet") and "/." not in os.path.relpath(d, res["store"])
    )

    def med(progress, key):
        return statistics.median(p.durationMs.get(key, 0) for p in progress)

    def overhead(progress):
        return statistics.median(
            p.durationMs["triggerExecution"] - p.durationMs.get("addBatch", 0) for p in progress
        )

    state = res["cep"][-1].stateOperators[0] if res["cep"][-1].stateOperators else None
    build = [s for s in phases if s["name"] == "build"]
    return {
        "files": files,
        "build_s": sum(s["end"] - s["start"] for s in build) / files,
        "build_calls": sum(s["py4j_calls"] for s in build) / files,
        "exec_s": sum(s["end"] - s["start"] for s in phases if s["name"] == "exec") / files,
        "jobs": jobs,
        "python": reader.python_totals(mark["execution"], end["execution"]),
        "streaming": {
            "streaming.ingest.batch_ms": med(res["ingest"], "triggerExecution"),
            "streaming.ingest.add_batch_ms": med(res["ingest"], "addBatch"),
            "streaming.ingest.overhead_ms": overhead(res["ingest"]),
            "streaming.ingest.files_installed": store_files / files,
            "streaming.cep.batch_ms": med(res["cep"], "triggerExecution"),
            "streaming.cep.add_batch_ms": med(res["cep"], "addBatch"),
            "streaming.cep.overhead_ms": overhead(res["cep"]),
            "streaming.cep.state_rows": state.numRowsTotal if state else 0,
            "streaming.cep.state_bytes": state.memoryUsedBytes if state else 0,
        },
    }


# ---------------------------------------------------------------- metrics


def stage_totals(jobs: list[dict]) -> dict:
    stages = [s for j in jobs for s in j["stages"] if s["tasks"] > 0]
    run = sum(s["run_ms"] for s in stages)
    skewed = [s for s in stages if s["tasks"] >= 2]
    skew_w = sum(s["run_ms"] for s in skewed)
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.run_ms": run,
        "exec.cpu_ms": sum(s["cpu_ms"] for s in stages),
        "exec.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "exec.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "exec.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "exec.gc_ms": sum(s["gc_ms"] for s in stages),
        "exec.task_skew": (
            sum(s["skew"] * s["run_ms"] for s in skewed) / skew_w if skew_w else 1.0
        ),
    }


def layer_metrics(ops: list[dict], tracer_ops: list[dict], stream: dict, run_wide: dict) -> dict:
    """Per-layer metrics; ``run_wide`` holds those measured once per run
    (session, heap). A layer the workload does not touch reads 0."""
    m = dict.fromkeys(declared("per_layer"), 0.0)
    m.update(run_wide)
    ok = [o for o in ops if o["ok"]]
    traced = [o for o in ok if o["traced"]]
    plain = [o for o in ok if not o["traced"]]
    if traced and plain:
        m["untraced.latency_p50_s"], m["untraced.ops_per_s"] = balanced_latency(plain)
        m["trace.latency_p50_s"] = balanced_latency(traced)[0]
        m["trace.overhead_s"] = m["trace.latency_p50_s"] - m["untraced.latency_p50_s"]
    if stream:
        files = stream["files"]
        m["build.wall_s"] = stream["build_s"]
        m["build.py4j_calls"] = stream["build_calls"]
        m["exec.wall_s"] = stream["exec_s"]
        m["build.share"] = stream["build_s"] / statistics.fmean(o["wall_s"] for o in traced)
        totals = stage_totals(stream["jobs"])
        for k, v in totals.items():
            m[k] = v if k == "exec.task_skew" else v / files
        m["python.eval_ms"] = stream["python"]["eval_ms"] / files
        m["python.rows"] = stream["python"]["rows"] / files
        m.update(stream["streaming"])
    elif tracer_ops:
        n = len(tracer_ops)

        def mean(f):
            return sum(f(o) for o in tracer_ops) / n

        build_jobs = [[j for j in o["jobs"] if j["description"] == "build"] for o in tracer_ops]
        m["build.wall_s"] = mean(lambda o: o["phases"]["build"])
        m["build.share"] = m["build.wall_s"] / mean(lambda o: o["wall_s"])
        m["build.py4j_calls"] = mean(lambda o: o["py4j_build"])
        m["build.jobs"] = sum(len(b) for b in build_jobs) / n
        m["build.job_s"] = sum(j["completed"] - j["submitted"] for b in build_jobs for j in b) / n
        m["plan.wall_s"] = mean(lambda o: o["phases"]["plan"])
        m["plan.exchanges"] = mean(lambda o: o["exchanges"])
        m["exec.wall_s"] = mean(lambda o: o["phases"]["exec"])
        per_op = [
            stage_totals([j for j in o["jobs"] if j["description"] != "build"]) for o in tracer_ops
        ]
        for k in per_op[0]:
            m[k] = sum(t[k] for t in per_op) / n
        m["python.eval_ms"] = mean(lambda o: o["python"]["eval_ms"])
        m["python.rows"] = mean(lambda o: o["python"]["rows"])
        m["sources.export_s"] = mean(lambda o: o["phases"]["export"])
        m["sources.files_written"] = mean(lambda o: o.get("files_written", 0))
        m["sources.bytes_written"] = mean(lambda o: o.get("bytes_written", 0))
    m["exec.cpu_util"] = m["exec.cpu_ms"] / m["exec.run_ms"] if m["exec.run_ms"] else 0.0
    return m


def kind_breakdown(tracer_ops: list[dict]) -> dict:
    """Per op kind: mean wall and the share of it in each phase."""
    out: dict[str, dict] = {}
    for kind in sorted({o["kind"] for o in tracer_ops}):
        rows = [o for o in tracer_ops if o["kind"] == kind]
        wall = statistics.fmean(o["wall_s"] for o in rows)
        out[kind] = {"n": len(rows), "wall_s": round(wall, 4)}
        for p in ("build", "plan", "export", "exec"):
            out[kind][f"{p}_share"] = round(statistics.fmean(o["phases"][p] for o in rows) / wall, 4)
    return out


# ---------------------------------------------------------------- main


def run(args: argparse.Namespace, run_dir: str) -> tuple[dict, dict, int]:
    import datagen

    cpus = cpu_count()
    prepare_env(run_dir, cpus)
    lake = os.path.join(run_dir, "lake")
    sizes = datagen.write_lake(lake, datagen.FIXTURE_SEED, args.scale)

    # set-up: package import, session build and warm-up
    t_setup = time.perf_counter()
    sys.path.insert(0, ROOT)
    import workloads as W
    from pyspark.sql import functions as F
    from time_series_and_data_lakes_spark import queries as Q

    spark = start_session(run_dir)
    session_start_s = time.perf_counter() - t_setup
    try:
        t_warm = time.perf_counter()
        ctx = W.Ctx(spark, run_dir, lake, args.seed)
        wl = W.WORKLOADS[args.workload]
        Q.load(spark, lake, "events").count()
        spark.range(1000).repartition(cpus).select(
            F.pandas_udf(lambda s: s + 1, "long")("id")
        ).write.format("noop").mode("overwrite").save()
        wl.warm(ctx)
        now = time.perf_counter()
        setup_s = now - t_setup
        run_wide = {"session.start_s": session_start_s, "session.warm_s": now - t_warm}
        print(f"perfbench: setup {setup_s:.2f} s (session {session_start_s:.2f} s)", file=sys.stderr)

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark, args.workload)
        stream, replays = {}, []
        check_s = 0.0
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        reset_heap_peak(spark)
        steal_before = steal_s()
        if args.workload == "stream_replay":
            ops, measured_s, stream, writes, replays = run_stream(ctx, wl, args.seconds, tracer)
        else:
            ops, measured_s, check_s = run_batch(ctx, wl, args.seconds, tracer)
            done = [o for o in ops if o["ok"]]
            writes = {"bytes": sum(o.get("bytes_written", 0) for o in done),
                      "rows": sum(o.get("rows_written", 0) for o in done)}
        steal = steal_s() - steal_before
        run_wide["jvm.heap_peak_mb"] = heap_peak_mb(spark)
        if tracer is not None:
            tracer.finish()
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")

        t_check = time.perf_counter()
        check_replays(ctx, replays)
        check_s += time.perf_counter() - t_check
    finally:
        stop_session(spark)

    ok = [o for o in ops if o["ok"]]
    failed = len(ops) - len(ok)
    detail = {
        "provenance": provenance(args, cpus),
        "inputs": sizes,
        "measured_s": measured_s,
        "steal_s": steal,
        "cpu_s": sum(o["cpu_s"] for o in ops),
        "check_s": check_s,
        "process_s": time.perf_counter() - T_PROCESS,
        "ops": len(ops),
        "jvm_heap_peak_mb": run_wide["jvm.heap_peak_mb"],
        "errors": sorted({o["error"] for o in ops if o["error"]})[:5],
    }
    plain = [o for o in ok if not o["traced"]] or ok
    if args.trace:
        tracer_ops = tracer.ops
        metrics = layer_metrics(ops, tracer_ops, stream, run_wide)
        detail["kinds"] = kind_breakdown(tracer_ops) if tracer_ops else {}
        spans_path = os.path.join(
            ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.json"
        )
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as f:
            json.dump({"provenance": detail["provenance"], "spans": tracer.spans,
                       "ops": tracer_ops, "stream": stream}, f, default=str)
        detail["spans"] = spans_path
        units = declared("per_layer")
    else:
        # wall-clock latency and rate go to the detail line: on a guest
        # with hypervisor steal they spread too widely between runs to
        # hold a regression bound (see manifest.json "noise")
        if plain:
            walls = sorted(o["wall_s"] for o in plain)
            detail["latency_p50_s"], detail["ops_per_s"] = balanced_latency(plain)
            detail["latency_p90_s"] = statistics.quantiles(walls, n=10)[-1] if len(walls) >= 2 else walls[0]
            detail["samples"] = len(walls)
            detail["kinds"] = {
                k: [round(o["wall_s"], 4) for o in plain if o["kind"] == k]
                for k in sorted({o["kind"] for o in plain})
            }
        metrics = {
            "setup_s": setup_s,
            "cpu_s_per_op": statistics.median(o["cpu_s"] for o in ops),
            "peak_rss_mb": peak_rss_mb,
            "write_bytes_per_row": writes["bytes"] / writes["rows"] if writes["rows"] else 0.0,
        }
        units = declared("end_to_end")
    undeclared = set(metrics) - set(units)
    if undeclared:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    result = {
        "correct": failed == 0 and bool(ops),
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return detail, result, 0 if result["correct"] else 1


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ in {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        detail, result, code = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still owns it
    if args.out:
        with open(args.out, "a") as f:
            f.write(json.dumps({"detail": detail, "result": result}) + "\n")
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
