#!/usr/bin/env python3
"""The repository benchmark: one client, one driver, ``local[k]``.

    python3 perfbench/run.py --workload tabular --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads: ``tabular``, ``curation``,
``gan_train`` (see perfbench/README.md for why each exists).  A run

1. imports the registry (timed), builds or reuses the inputs (not timed:
   the sf0.1-shaped corpus from a fixed seed, the gan_train CSVs from
   ``--seed``) and prints their digests;
2. sets a Spark session up (JVM launch, ``get_spark``, Python-worker
   warm-up); ``setup_s`` is that plus the registry import;
3. runs passes back to back for ``--seconds`` (at least one), each pass one
   closed loop of calls into the program, timing each call and sampling
   the process tree's CPU time and resident memory;
4. checks every output after its pass, outside the timed window (gan_train's
   loss histories after the last pass, against a Spark-free replay of the
   training, ``replay.py``);
5. with ``--trace 1``: the session starts with Spark's event log on and
   the passes are traced (spans around every call into the layers, one job
   group per span); the event log is then folded into the per-layer record.
   Untraced and traced passes on two fresh sessions give the tracing
   overhead.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  The full span record of a traced
run is written to ``.perfbench_data/out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench_data")
PACKAGE = "gan_deeplearning4j_spark"
CORPUS_SCALE = {"full": 0.1, "tiny": 0.001}

sys.path.insert(0, HERE)

import inputs  # noqa: E402
import proctree  # noqa: E402
import replay  # noqa: E402
import workloads as W  # noqa: E402
from spans import (  # noqa: E402
    Tracer, covered_s, event_log_files, fold_event_log, jobs_by_group,
    outermost, self_times, sum_metrics,
)

OPERATOR_MODULES = ("dedup", "graph", "similarity", "packing", "relational")
SELF_LAYERS = ("bench", "queries", "spark", "pipeline", "io", "kernels",
               *(f"operators.{m}" for m in OPERATOR_MODULES))


def cores() -> int:
    """k of ``local[k]``: 2, or fewer if this process may run on fewer CPUs
    (what ``nproc`` prints).  Beside its k task threads a run keeps the
    driver, the JVM's compiler and GC threads and the pyspark daemon busy:
    on a 4-core machine, ``local[2]`` ran both workloads as fast as
    ``local[4]`` with a third to a quarter of the run-to-run spread."""
    return min(2, len(os.sched_getaffinity(0)))


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def prepare_env(k: int) -> None:
    """Launch settings from outside the program: worker import path, every
    scratch and temp directory inside the checkout, driver heap, k."""
    tmp = os.path.join(DATA, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(DATA, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(k)
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # A fixed heap and young generation: at the GC's adaptive sizing the
    # JVM's resident memory in a gan_train pass ranged 1.0-1.4 GB with GC
    # timing alone (4-core machine); fixed, it stayed within 1.29-1.33 GB.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
        f'-Xms{heap} -Xmn384m" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


# ---------------------------------------------------------------------------
# sessions
# ---------------------------------------------------------------------------

EVENT_LOG_CONF = ("spark.eventLog.enabled", "spark.eventLog.dir",
                  "spark.eventLog.compress", "spark.eventLog.rolling.enabled")


def start_session(k: int, event_dir: str | None = None):
    """(spark, start_s, warmup_s).  The event log is switched through JVM
    system properties, which every new SparkConf loads."""
    from pyspark import SparkContext

    from gan_deeplearning4j_spark.session import get_spark

    conf = dict(zip(EVENT_LOG_CONF, ("true", f"file://{event_dir}", "false", "false")))
    jvm = SparkContext._jvm
    if jvm is None:
        if event_dir is not None:  # the JVM's launch arguments become system properties
            os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
                f"--conf {key}={val}" for key, val in conf.items()
            ) + " " + os.environ["PYSPARK_SUBMIT_ARGS"]
    else:
        props = jvm.java.lang.System
        for key in EVENT_LOG_CONF:
            props.clearProperty(key)
        if event_dir is not None:
            for key, val in conf.items():
                props.setProperty(key, val)
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{k}]")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(64).repartition(k).mapInPandas(lambda it: it, "id long") \
        .write.format("noop").mode("overwrite").save()
    return spark, t1 - t0, time.perf_counter() - t1


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every process this run started."""
    from pyspark import SparkContext

    pids = [p for p in proctree.tree_pids() if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 20
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
            for pid in pids:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.1)
        deadline = time.time() + 10


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def build_corpus(scale: str) -> tuple[str, str, dict[str, int]]:
    """(dir, content digest, rows per table); built once per checkout."""
    out = os.path.join(DATA, f"corpus-{scale}")
    meta = os.path.join(out, "_DIGEST.json")
    if not os.path.exists(meta):
        tables = inputs.build_tables(CORPUS_SCALE[scale])
        info = {"digest": inputs.table_digest(tables),
                "rows": {n: t.num_rows for n, t in tables.items()}}
        inputs.write_tables(tables, out)
        with open(meta, "w") as fh:
            json.dump(info, fh)
    with open(meta) as fh:
        info = json.load(fh)
    return out, info["digest"], info["rows"]


def build_gan_inputs(scale: str, seed: int):
    """(train dir, test dir, digest, test labels, train pixels, train labels)
    for ``seed``."""
    n_train, n_test, _ = W.GAN_SIZES[scale]
    base = os.path.join(DATA, f"gan-{scale}-seed{seed}")
    px, labels = inputs.gan_arrays(seed, n_train + n_test)
    d_train = inputs.write_csv(os.path.join(base, "train"), px[:n_train], labels[:n_train])
    d_test = inputs.write_csv(os.path.join(base, "test"), px[n_train:], labels[n_train:])
    digest = hashlib.sha256((d_train + d_test).encode()).hexdigest()
    return (os.path.join(base, "train"), os.path.join(base, "test"), digest,
            [int(v) for v in labels[n_train:]],
            px[:n_train].astype(np.float32), labels[:n_train])


def gan_key(scale: str, k: int) -> str:
    n_train, _, epochs = W.GAN_SIZES[scale]
    return f"{scale}:rows{n_train}:k{k}:epochs{epochs}"


def recorded_history(scale: str, k: int, seed: int) -> list | None:
    """The gan_train loss history recorded in expected.json for (seed, k), if
    any (``record.py gan``)."""
    return load_expected().get("gan_history", {}).get(gan_key(scale, k), {}).get(str(seed))


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------

class Ctx:
    def __init__(self, **kw):
        self.__dict__.update(kw)


class Pass:
    def __init__(self, calls, wall, cpu, rss, e0, e1, spans_from, spans_to):
        self.calls, self.wall, self.cpu, self.rss = calls, wall, cpu, rss
        self.e0, self.e1 = e0, e1
        self.spans_from, self.spans_to = spans_from, spans_to


def one_pass(ctx) -> Pass:
    pass_no = ctx.pass_no
    ctx.pass_no += 1
    first_span = len(ctx.tracer.spans)
    cpu0, e0, t0 = proctree.cpu_s(), time.time(), time.perf_counter()
    with proctree.RssSampler() as rss:
        if ctx.workload == "gan_train":
            calls, state = W.gan_pass(ctx, pass_no)
        else:
            calls = W.query_pass(ctx, W.TABULAR if ctx.workload == "tabular" else W.CURATION,
                                 pass_no)
    wall, e1 = time.perf_counter() - t0, time.time()
    cpu = proctree.cpu_s() - cpu0
    if ctx.workload == "gan_train":
        ctx.histories.append(W.check_gan(calls, state, ctx.test_labels))
    else:
        W.check_queries(calls, ctx.expected)
    for c in calls:
        if not c.ok:
            log(f"FAILED {c.name}: {c.error}")
    return Pass(calls, wall, cpu, rss.peak, e0, e1, first_span, len(ctx.tracer.spans))


def run_passes(ctx, seconds: float) -> list[Pass]:
    out: list[Pass] = []
    stop_at = time.perf_counter() + seconds
    while not out or time.perf_counter() < stop_at:
        out.append(one_pass(ctx))
        p = out[-1]
        log(f"pass {ctx.pass_no - 1}: wall {p.wall:.3f} s, cpu {p.cpu:.2f} s, "
            f"rss {p.rss / 2**20:.0f} MB, calls "
            + " ".join(f"{c.name}={c.wall:.2f}" for c in p.calls))
    return out


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def end_to_end(passes: list[Pass], setup_s: float, attempted: int, failed: int) -> dict:
    wall = statistics.median(p.wall for p in passes)
    rows = statistics.median(sum(c.rows_in for c in p.calls) for p in passes)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (rows / wall, "1/s"),
        "cpu_s": (statistics.median(p.cpu for p in passes), "s"),
        "peak_rss_mb": (statistics.median(p.rss for p in passes) / 2**20, "MB"),
        "success_ratio": (1.0 - failed / attempted, "ratio"),
    }


def pass_layers(ctx, p: Pass, jobs: dict[int, dict]) -> dict:
    """Per-layer numbers of one traced pass."""
    spans = ctx.tracer.spans[p.spans_from:p.spans_to]
    by_id = {s.id: s for s in spans}
    kids = ctx.tracer.children()
    group_jobs = jobs_by_group(jobs)

    def jobs_of(sps):
        return [j for s in sps for j in group_jobs.get(str(s.id), ())]

    def total(pred):
        return sum(s.dur for s in outermost(spans, by_id, pred))

    pass_jobs = jobs_of(spans)
    m = sum_metrics(pass_jobs)
    constructs = [s for s in spans if s.layer == "queries"]
    construct_tree = [x for s in constructs for x in ctx.tracer.subtree(s, kids)]
    roots = [s for s in spans if s.parent == 0]
    selfs = self_times(spans, kids)
    out = {
        "queries.construct_s": (sum(s.dur for s in constructs), "s"),
        "queries.construct_jobs": (len(jobs_of(construct_tree)), "count"),
        "spark.action_s": (total(lambda s: s.layer == "spark"), "s"),
        "spark.jobs": (len(pass_jobs), "count"),
        "spark.stages": (sum(len(j["stages"]) for j in pass_jobs), "count"),
        "spark.tasks": (m["tasks"], "count"),
        "spark.tasks_failed": (m["tasks_failed"], "count"),
        "spark.job_gap_s": (p.wall - covered_s(pass_jobs, p.e0, p.e1), "s"),
        "spark.core_util": (m["run_ms"] / 1000.0 / (p.wall * ctx.k), "ratio"),
        "spark.executor_run_s": (m["run_ms"] / 1000.0, "s"),
        "spark.executor_cpu_s": (m["cpu_ns"] / 1e9, "s"),
        "spark.gc_s": (m["gc_ms"] / 1000.0, "s"),
        "spark.shuffle_write_bytes": (m["shuffle_write"], "bytes"),
        "spark.shuffle_read_bytes": (m["shuffle_read"], "bytes"),
        "spark.shuffle_fetch_wait_s": (m["fetch_wait_ms"] / 1000.0, "s"),
        "spark.spill_bytes": (m["spill"], "bytes"),
        "spark.peak_exec_mem_bytes": (m["peak_mem"], "bytes"),
        "python.run_s": (m["python_run_ms"] / 1000.0, "s"),
        "python.start_s": (m["python_start_ms"] / 1000.0, "s"),
        "python.bytes_sent": (m["python_sent"], "bytes"),
        "python.bytes_returned": (m["python_returned"], "bytes"),
        "io.scan_bytes": (m["scan_bytes"], "bytes"),
        "io.scan_rows": (m["scan_rows"], "count"),
        "io.read_csv_s": (sum(s.dur for s in roots if s.name == "gan.read"), "s"),
        "io.write_s": (total(lambda s: s.layer == "io" and s.name == "write_headerless_csv"), "s"),
        "pipeline.fit_s": (total(lambda s: s.layer == "pipeline" and s.name == "fit"), "s"),
        "pipeline.fit_distributed.calls": (
            sum(1 for s in spans if s.name == "fit_distributed"), "count"),
        "pipeline.fit_distributed_s": (total(lambda s: s.name == "fit_distributed"), "s"),
        "pipeline.avg_rows_collected": (
            sum(s.rows for s in spans if s.name == "rows_to_weights"), "count"),
        "pipeline.predict_s": (total(lambda s: s.layer == "pipeline" and s.name == "predict"), "s"),
        "pipeline.checkpoint_s": (
            total(lambda s: s.layer == "pipeline" and s.name == "checkpoint"), "s"),
        "kernels.forward_s": (total(lambda s: s.layer == "kernels"), "s"),
        # share of the pass wall no layer accounts for: the calls' own
        # ("bench") self time plus the gaps between calls
        "trace.unattributed_ratio": (
            1.0 - sum(v for layer, v in selfs.items() if layer != "bench") / p.wall, "ratio"),
    }
    for mod in OPERATOR_MODULES:
        out[f"operators.{mod}.s"] = (total(lambda s, L=f"operators.{mod}": s.layer == L), "s")
    for layer in SELF_LAYERS:
        out[f"{layer}.self_s"] = (selfs.get(layer, 0.0), "s")
    for name in W.CURATION:
        mine = [s for s in roots if s.name == name]
        out[f"query.{name}.wall_s"] = (sum(s.dur for s in mine), "s")
        out[f"query.{name}.jobs"] = (
            len(jobs_of([x for s in mine for x in ctx.tracer.subtree(s, kids)])), "count")
    return out


def call_records(ctx, p: Pass, jobs: dict[int, dict]) -> list[dict]:
    """Per call: wall, self time per layer, jobs, and task metrics."""
    spans = ctx.tracer.spans[p.spans_from:p.spans_to]
    kids = ctx.tracer.children()
    group_jobs = jobs_by_group(jobs)
    out = []
    for root in (s for s in spans if s.parent == 0):
        tree = ctx.tracer.subtree(root, kids)
        cj = [j for s in tree for j in group_jobs.get(str(s.id), ())]
        selfs = self_times(tree, kids)
        out.append({"call": root.name, "wall_s": root.dur, "self_s": selfs,
                    "unattributed_share": selfs.get("bench", 0.0) / root.dur if root.dur else 0.0,
                    "jobs": len(cj), "task_metrics": sum_metrics(cj),
                    "spans": [s.as_dict() for s in tree]})
    return out


def median_metrics(per_pass: list[dict]) -> dict:
    out = {}
    for key, (_, unit) in per_pass[0].items():
        out[key] = (statistics.median(d[key][0] for d in per_pass), unit)
    return out


def wrap_layers(tracer: Tracer) -> None:
    import importlib

    from gan_deeplearning4j_spark import io as gio
    from gan_deeplearning4j_spark import pipeline

    for mod in OPERATOR_MODULES:
        tracer.wrap_module(importlib.import_module(f"{PACKAGE}.operators.{mod}"),
                           f"operators.{mod}")
    tracer.wrap_function(pipeline, "fit_distributed", "pipeline")
    tracer.wrap_function(pipeline, "rows_to_weights", "pipeline",
                         count_rows=lambda rows, *a, **k: len(rows))
    tracer.wrap_function(pipeline, "forward", "kernels")
    for meth in ("fit", "predict", "checkpoint"):
        tracer.wrap_method(pipeline.GanPipeline, meth, "pipeline")
    tracer.wrap_function(gio, "read_mnist_csv", "io")
    tracer.wrap_function(gio, "write_headerless_csv", "io")


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(CORPUS_SCALE), default="full",
                    help="tiny = sf0.001 corpus and a 200-row gan_train (smoke tests)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    k = cores()
    prepare_env(k)
    sys.path.insert(0, ROOT)

    t0 = time.perf_counter()
    import gan_deeplearning4j_spark.io  # noqa: F401
    import gan_deeplearning4j_spark.pipeline  # noqa: F401
    import gan_deeplearning4j_spark.queries  # noqa: F401
    import_s = time.perf_counter() - t0

    t_in = time.perf_counter()
    work_dir = os.path.join(DATA, "work")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    ctx = Ctx(workload=args.workload, seed=args.seed, k=k, scale=args.scale,
              work_dir=work_dir, pass_no=0, tracer=Tracer(), histories=[], expected={})
    if args.workload == "gan_train":
        (ctx.gan_train, ctx.gan_test, digest, ctx.test_labels,
         ctx.train_x, ctx.train_y) = build_gan_inputs(args.scale, args.seed)
        log(f"inputs: gan_train csv digest {digest}")
        ctx.table_rows = {}
    else:
        ctx.data_dir, digest, ctx.table_rows = build_corpus(args.scale)
        log(f"inputs: corpus digest {digest}")
        recorded = load_expected()["corpus"].get(digest)
        if recorded is None:
            print(f"perfbench: no recorded output digests for corpus {digest}; "
                  "run perfbench/record.py", file=sys.stderr)
            return 3
        ctx.expected = recorded["queries"]
    log(f"seed {args.seed}, k {k}, scale {args.scale}, workload {args.workload}, "
        f"input build {time.perf_counter() - t_in:.2f} s (not in setup_s)")

    event_dir = os.path.join(DATA, "eventlog", f"{args.workload}-seed{args.seed}")
    if args.trace:
        for d in (event_dir, event_dir + "-overhead"):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
    ctx.spark, start_s, warm_s = start_session(k, event_dir if args.trace else None)
    setup_s = import_s + start_s + warm_s
    log(f"setup: import {import_s:.3f} s + session start {start_s:.3f} s + "
        f"worker warm-up {warm_s:.3f} s = setup_s {setup_s:.3f} s")

    try:
        if not args.trace:
            passes = run_passes(ctx, args.seconds)
            calls = [c for p in passes for c in p.calls]
        else:
            metrics, calls = traced_run(ctx, args, event_dir)
        if args.workload == "gan_train":
            check_histories(ctx)
        failed = sum(not c.ok for c in calls)
        if not args.trace:
            metrics = end_to_end(passes, setup_s, len(calls), failed)
        else:
            metrics.update({
                "failed_ratio": (failed / len(calls), "ratio"),
                "queries.import_s": (import_s, "s"),
                "session.start_s": (start_s, "s"),
                "session.warmup_s": (warm_s, "s"),
            })
    finally:
        shutdown(ctx.spark)  # closes the last event log before its directory goes
        if args.trace:
            for d in (event_dir, event_dir + "-overhead"):
                shutil.rmtree(d, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(calls),
        "failed": failed,
        "metrics": {k_: {"value": v, "unit": u} for k_, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def check_histories(ctx) -> None:
    """Compares every pass's gan_train loss history with the replay's, and
    with the one recorded in expected.json when there is one for this seed
    and k; a mismatch fails that pass's fit call."""
    _, _, epochs = W.GAN_SIZES[ctx.scale]
    t0 = time.perf_counter()
    want = replay.replay_history(ctx.spark, ctx.train_x, ctx.train_y, ctx.seed, epochs, ctx.k)
    recorded = recorded_history(ctx.scale, ctx.k, ctx.seed)
    status = ("no recorded history" if recorded is None
              else "recorded history " + ("equal" if W.same_history(want, recorded) else "DIFFERS"))
    log(f"gan_train replay ({time.perf_counter() - t0:.2f} s): {want}; {status}")
    for fit, history in ctx.histories:
        if fit is None or history is None:
            continue
        if not W.same_history(history, want):
            fit.ok, fit.error = False, "loss history differs from the replay's"
        elif recorded is not None and not W.same_history(history, recorded):
            fit.ok, fit.error = False, "loss history differs from the recorded one"
        if not fit.ok:
            log(f"FAILED gan.fit: {fit.error}: {history}")


def traced_passes(ctx, seconds: float) -> list[Pass]:
    ctx.tracer = Tracer(ctx.spark.sparkContext)
    wrap_layers(ctx.tracer)
    try:
        return run_passes(ctx, seconds)
    finally:
        ctx.tracer.unwrap()


def traced_run(ctx, args, event_dir):
    """Traced passes on the first session (event log on from launch), which
    give the per-layer record of the same cold passes ``wall_s`` measures;
    then, for the tracing overhead, untraced and traced passes on two fresh
    sessions of the now warm JVM."""
    k = ctx.k
    app_id = ctx.spark.sparkContext.applicationId
    traced = traced_passes(ctx, args.seconds)
    tracer = ctx.tracer
    ctx.spark.stop()  # closes the event log
    ctx.spark, _, _ = start_session(k)
    ctx.tracer = Tracer()
    untraced = run_passes(ctx, args.seconds)
    ctx.spark.stop()
    ctx.spark, _, _ = start_session(k, event_dir + "-overhead")
    again = traced_passes(ctx, args.seconds)
    ctx.tracer = tracer

    jobs = fold_event_log(event_log_files(event_dir, app_id))
    metrics = median_metrics([pass_layers(ctx, p, jobs) for p in traced])
    t_wall = statistics.median(p.wall for p in again)
    u_wall = statistics.median(p.wall for p in untraced)
    calls = [c for p in [*traced, *untraced, *again] for c in p.calls]
    metrics.update({
        "trace.traced_wall_s": (t_wall, "s"),
        "trace.untraced_wall_s": (u_wall, "s"),
        "trace.overhead_s": (t_wall - u_wall, "s"),
        "trace.overhead_ratio": ((t_wall - u_wall) / u_wall, "ratio"),
    })
    record = {
        "workload": args.workload, "seed": args.seed, "k": k, "scale": args.scale,
        "metrics": {key: v for key, (v, _) in metrics.items()},
        "passes": [{"wall_s": p.wall, "calls": call_records(ctx, p, jobs)} for p in traced],
        "overhead": {"untraced_walls_s": [p.wall for p in untraced],
                     "traced_walls_s": [p.wall for p in again]},
    }
    out_dir = os.path.join(DATA, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=list)
    log(f"trace record: {path}; tracing overhead {t_wall - u_wall:+.3f} s "
        f"({(t_wall - u_wall) / u_wall:+.1%}): traced {t_wall:.3f} s vs untraced {u_wall:.3f} s")
    return metrics, calls


if __name__ == "__main__":
    sys.exit(main())
