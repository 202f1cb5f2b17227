"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload small_mixed_search --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --smoke      # every workload + tracing, tiny sizes

Run it from the repository root. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer metrics.
The line before it is a report with every metric's sample count, the input
hashes, the drift record and (traced) per-layer self times; the traced run
also writes its spans to .perfbench_work/traces/.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from interpreter start

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _prepare_env(work: str, cores: int) -> None:
    """Keep every file the run writes inside the checkout, and make the
    engine importable in Spark's Python workers."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["HORA_SPARK_MASTER"] = f"local[{cores}]"
    for var in ("MASTER", "SPARK_MASTER", "PYSPARK_GATEWAY_PORT"):
        os.environ.pop(var, None)
    import tempfile
    tempfile.tempdir = os.environ["TMPDIR"]


def _start_spark(work: str, cores: int):
    from hora_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores, extra={
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and every Python worker to end."""
    from pyspark import SparkContext

    from perfbench.measure import _tree_pids

    children = [p for p in _tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in children:
        while True:
            try:
                os.kill(pid, 0)
            except (ProcessLookupError, PermissionError):
                break
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.1)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def end_to_end(res, setup_s: float, peak_mem: int, mem_samples: int) -> dict:
    """{name: (value, sample count)} for every end-to-end metric.

    Latencies are in floors: an operation's median wall over the median
    wall of the run's floor jobs (three after every timed read and batch, see
    workloads.Client). A floor job is a trivial one-task Spark job that
    runs no engine code; it scales with the host's speed, which drifts by
    tens of percent between runs on a shared host, so the ratio keeps what
    the engine costs and drops most of that drift. The report line has
    the same medians in seconds."""
    from perfbench.measure import median

    s, v = res.samples, res.values
    floor = median(s["floor"])

    def p50(name):
        return (median(s[name]) / floor, len(s[name]))

    return {
        "setup_s": (setup_s, len(s["setup_load_s"])),
        "search_p50_floors": p50("search"),
        "batch_floors_per_query": p50("batch_per_query"),
        "cold_search_p50_floors": p50("cold_search"),
        "visible_p50_floors": p50("visible"),
        "index_bytes_per_text_byte": (v["segment_bytes"] / v["text_bytes"], 1),
        "peak_pss_mb": (peak_mem / 2 ** 20, mem_samples),
    }


def wall_medians(res) -> dict:
    """The timed operations' medians in seconds (a batch: per query), for
    the report line."""
    from perfbench.measure import median

    return {f"{k}_p50_s": median(res.samples[k])
            for k in ("search", "batch_per_query", "cold_search", "visible", "floor")}


def per_layer(ctx, res, kernel: dict, floor_s: float, overhead: float) -> dict:
    """{name: (value, sample count)} for every per-layer metric."""
    from perfbench.measure import median

    tracer = ctx.tracer
    spans = tracer.spans
    reads = [s for s in spans if s["name"] == "request.search" and s["timed"]]
    warm = [s for s in reads if not s["cold"]]
    cold = [s for s in reads if s["cold"]]
    build = [s for s in spans if s["name"] == "request.engine.build"]
    writes = [s for s in spans if s.get("timed") and s["name"] in (
        "request.incremental.append_build", "request.engine.delete")]
    stage = tracer.stage_metrics(build[0]["jobs"])

    def dur(name):
        d = tracer.durations(name)
        return (median(d), len(d))

    def jobs(group):
        return [len(s["jobs"]) for s in group]

    return {
        "engine.search_plan_s": dur("engine.search"),
        "engine.search_collect_s": dur("engine.search_collect"),
        "engine.batch_plan_s": dur("engine.searches"),
        "engine.batch_collect_s": dur("engine.searches_collect"),
        "spark.jobs_per_search": (median(jobs(warm)), len(warm)),
        "spark.jobs_per_cold_search": (median(jobs(cold)), len(cold)),
        "spark.tasks_per_search": (median([s["tasks"] for s in warm]), len(warm)),
        "spark.jobs_per_build": (len(build[0]["jobs"]), 1),
        "spark.jobs_per_write": (sum(jobs(writes)) / len(writes), len(writes)),
        "spark.dispatch_floor_s": (floor_s, 3),
        "storage.current_version_s": dur("storage.current_version"),
        "storage.meta_s": dur("storage.meta"),
        "storage.table_bytes_s": dur("storage.table_bytes"),
        "storage.segment_dirs": (max(res.values["segment_dirs"]), len(res.values["segment_dirs"])),
        "build_index.executor_run_s": (stage["executor_run_s"], len(build[0]["jobs"])),
        "build_index.shuffle_write_bytes_per_text_byte": (
            stage["shuffle_write_bytes"] / res.values["build_text_bytes"], len(build[0]["jobs"])),
        "build_index.jvm_gc_s": (stage["jvm_gc_s"], len(build[0]["jobs"])),
        "tokenize.tokens_per_s": (kernel["tokens_per_s"], 3),
        "segments.encode_docs_per_s": (kernel["encode_docs_per_s"], 3),
        "wand.pruned_s_per_query": (median(kernel["pruned_s"]), len(kernel["pruned_s"])),
        "wand.exhaustive_s_per_query": (median(kernel["exhaustive_s"]), len(kernel["exhaustive_s"])),
        "wand.pruned_over_exhaustive": (
            sum(kernel["pruned_s"]) / sum(kernel["exhaustive_s"]), len(kernel["pruned_s"])),
        "codec.decode_mb_per_s": (kernel["decode_mb_per_s"], 3),
        "oracle.check_s": (res.samples["oracle_check_s"][0], 1),
        "trace.traced_over_untraced": (overhead, ctx.sizes["pairs"]),
    }


def _trace_extras(ctx, res) -> tuple[dict, float]:
    """Traced run only: the in-process layer timings, and the tracing
    overhead as traced ÷ untraced wall of the same warm search, in
    interleaved pairs on the final index."""
    from perfbench import layers, workloads
    from perfbench.measure import NullTracer, median

    texts = res.text_sample
    kernel = layers.kernel_layers(res.eng.store, res.probe_queries, res.eng.cfg.bm25)
    kernel["tokens_per_s"] = layers.tokenize_tokens_per_s(texts)
    kernel["encode_docs_per_s"] = layers.encode_docs_per_s(texts, res.eng.cfg.index.block_size)
    if kernel["mismatched"]:
        res.problems.append(f"shard_topk pruned != exhaustive for {kernel['mismatched']}")
    spec = res.info["warm_spec"]
    scratch = workloads.Result()
    plain = workloads.Client(res.eng, NullTracer(), scratch)
    traced = workloads.Client(res.eng, ctx.tracer, scratch)
    walls = {"plain": [], "traced": []}
    for i in range(2 * ctx.sizes["pairs"]):
        side = ("plain", "traced")[i % 2]
        t0 = time.perf_counter()
        (plain if side == "plain" else traced).search(spec)
        walls[side].append(time.perf_counter() - t0)
    return kernel, median(walls["traced"]) / median(walls["plain"])


def run_one(spark, spec: dict, name: str, seed: int, seconds: float, trace: bool,
            work: str, size: str, startup_s: float, mem) -> tuple[dict, object]:
    """Run a workload; returns its report (metrics with units and sample
    counts) and the raw Result."""
    from perfbench import inputs
    from perfbench.measure import NullTracer, Tracer, dispatch_floor_s, median
    from perfbench.workloads import WORKLOADS, Ctx

    tracer = Tracer(spark) if trace else NullTracer()
    ctx = Ctx(spark, os.path.join(work, name), seed, seconds, tracer, mem, size)
    mem.resume()
    t0 = time.perf_counter()
    res = WORKLOADS[name](ctx)
    res.info["workload_wall_s"] = time.perf_counter() - t0
    # set-up: JVM start, then the workload's set-up phase with its three
    # input generations counted once, at their median
    loads = res.samples["setup_load_s"]
    setup_s = startup_s + (res.setup_end - t0) - sum(loads) + median(loads)
    floor_s = dispatch_floor_s(spark)
    report = {"workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
              "size": size, "dispatch_floor_s": floor_s}
    if trace:
        kernel, overhead = _trace_extras(ctx, res)
        report["per_layer"] = _with_counts(spec["per_layer"],
                                           per_layer(ctx, res, kernel, floor_s, overhead))
        report["layer_self_s"] = tracer.self_times()
        tracer.dump(os.path.join(ROOT, ".perfbench_work", "traces",
                                 f"{name}-seed{seed}-{os.getpid()}.jsonl"))
    res.problems += inputs.check_pinned(f"{name}/{size}/{seed}", res.info["input_sha256"],
                                        inputs.reference_sha256())
    report["end_to_end"] = _with_counts(spec["end_to_end"],
                                        end_to_end(res, setup_s, mem.peak, mem.samples))
    report.update(wall=wall_medians(res), problems=res.problems, attempted=res.attempted,
                  failed=res.failed, info=res.info, samples=res.samples)
    return report, res


def _with_counts(spec_list, values: dict) -> dict:
    return {m["name"]: {"value": float(values[m["name"]][0]), "unit": m["unit"],
                        "samples": values[m["name"]][1]} for m in spec_list}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin-inputs", action="store_true",
                    help="rewrite perfbench/input_hashes.json from the current "
                         "input generators (only when an input change is intended)")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload traced at tiny sizes and check "
                         "that every metric is reported")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("hora_spark") is None:
        _fail(f"no hora_spark package under {ROOT}: run from the repository root")
    from perfbench.measure import (MemSampler, cpu_ticks, drift_record,
                                   numpy_calibration_s, steal_share)
    from perfbench.workloads import WORKLOADS

    if args.pin_inputs:
        from perfbench.inputs import pin
        pin(sorted(WORKLOADS))
        return 0

    names = list(WORKLOADS) if args.smoke else [args.workload]
    if None in names or not set(names) <= set(WORKLOADS):
        _fail(f"--workload must be one of {sorted(WORKLOADS)}")
    spec = _spec()
    if sorted(w["name"] for w in spec["workloads"]) != sorted(WORKLOADS):
        _fail("BENCHMARK.json workloads differ from perfbench/workloads.py")

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _prepare_env(work, cores)
    drift = {**drift_record(), "numpy_sort_s": numpy_calibration_s()}
    ticks = cpu_ticks()
    trace, size = args.smoke or bool(args.trace), "smoke" if args.smoke else "full"
    seconds = 1 if args.smoke else args.seconds
    outputs = []
    try:
        with MemSampler() as mem:
            spark = _start_spark(work, cores)
            startup_s = time.perf_counter() - T_START
            try:
                for name in names:
                    outputs.append(run_one(spark, spec, name, args.seed, seconds, trace,
                                           work, size, startup_s, mem))
            finally:
                t_stop = time.perf_counter()
                _stop_spark(spark)
                drift["stop_s"] = time.perf_counter() - t_stop
    finally:
        shutil.rmtree(work, ignore_errors=True)
    drift["loadavg_after"] = list(os.getloadavg())
    drift["cpu_steal_share"] = steal_share(ticks, cpu_ticks())

    ok = True
    for report, res in outputs:
        report["drift"] = drift
        print(json.dumps({"report": report}, default=str))
        ok = ok and not res.problems and res.failed == 0
        for p in res.problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
    if args.smoke:
        print(json.dumps({"smoke": "ok" if ok else "failed",
                          "seconds": round(time.perf_counter() - T_START, 1)}))
        return 0 if ok else 1
    report, res = outputs[0]
    metrics = {k: {"value": v["value"], "unit": v["unit"]}
               for k, v in report["per_layer" if args.trace else "end_to_end"].items()}
    print(json.dumps({"correct": ok, "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
