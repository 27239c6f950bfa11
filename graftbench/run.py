"""Benchmark entry point: one run of one workload.

    python3 graftbench/run.py --workload medallion_daily --seed 1 --seconds 18 --trace 0

Run from the repository root. The run builds its inputs from the seed, sets
up the engine (interpreter, engine import, ``session.get_spark``, a small
warm-up and any index build), runs units in a closed loop from this one
process, then checks every recorded result against the generator or the
DuckDB oracle twin. The run times ``--seconds`` ÷ ``pass_s`` whole passes of
the workload's units (at least ``min_passes``), about ``--seconds`` on the
VM the benchmark was sized on.

Stdout ends with one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` half the units are traced and the metrics are the per-layer
ones. The line before it holds the run's host-state stamps. All files the run
writes stay under ``graftbench/_work`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

END_TO_END_UNITS = {"setup_s": "s", "unit_p50_s": "s", "op_gmean_s": "s", "core_s_per_unit": "core-s"}


def _since_process_start() -> float:
    """Seconds since this process was created (boot-clock based, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rpartition(")")[2].split()
    return time.clock_gettime(time.CLOCK_BOOTTIME) - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def _confine_to_checkout() -> dict[str, str]:
    """Point every temp location of Python, the JVM and Spark at the
    work dir, so the run reads and writes only inside the checkout."""
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # a 4-core shared host: one local executor over the visible cores, and a
    # heap that leaves room for the neighbours
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("ENGINE_DRIVER_MEMORY", "2g")
    return {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the whole process tree
    (JVM, PySpark daemon and workers) has ended."""
    import probes

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    from pyspark import SparkContext

    SparkContext._gateway = SparkContext._jvm = None  # a later get_spark starts afresh
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        rest = [p for p in probes.tree_pids() if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def run(workload: str, seed: int, seconds: float, trace: bool, inspect=None) -> dict:
    """One run; returns the report (result line, stamps and samples).
    ``inspect`` (the self-test's hook) is called with the workload and its
    units after the timed region, before the checks and clean-up."""
    excluded = 0.0  # the harness's own input generation, billed to no metric
    spark_confs = _confine_to_checkout()

    import probes
    import spans
    import workloads

    from etl_poor_main_pipeline_spark.session import get_spark

    t = time.perf_counter()
    wl = workloads.WORKLOADS[workload](WORK, seed)
    excluded += time.perf_counter() - t

    t = time.perf_counter()
    spark = get_spark(app_name=f"graftbench-{workload}", extra_confs=spark_confs)
    get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    try:
        t = time.perf_counter()
        wl.warmup(spark)
        warmup_s = time.perf_counter() - t
        setup_s = _since_process_start() - excluded

        tracer = spans.Tracer(spark) if trace else None
        units: list[workloads.Unit] = []
        # whole passes, at least min_passes, so no median rests on one sample
        # and a traced run has untraced and traced samples of each op
        passes = max(wl.min_passes, round(seconds / wl.pass_s))
        with probes.Region(spark) as region:
            for i in range(passes * wl.pass_len):
                # traced and untraced units alternate in an ABBA order across
                # passes, so each operation gets both and a warming trend
                # biases neither side of trace.overhead_s
                traced = trace and (i % wl.pass_len + i // wl.pass_len) % 2 == 1
                if traced:
                    tracer.unit = i
                    install_spans(tracer, workload)
                try:
                    u = wl.unit(spark, i, tracer if traced else None)
                except Exception as exc:  # counted failed, the run goes on
                    u = workloads.Unit(i, "error", error=f"{type(exc).__name__}: {exc}")
                finally:
                    if traced:
                        tracer.uninstall()
                        tracer.unit = None
                u.traced = traced
                units.append(u)
                region.sample()
                if traced:
                    after_traced_unit(tracer, wl, u)

        floor = probes.spark_floor_s(spark, reps=3)
        peak_rss = probes.tree_peak_rss_mb()
        if inspect is not None:
            inspect(wl, units)
        bad = wl.check([u for u in units if u.error is None])
        for u in units:
            if u.error is not None:
                bad.setdefault(u.index, []).append(u.error)
        wl.close()
    finally:
        _stop_spark(spark)

    walls = [u.wall for u in units if u.error is None]
    plain = [u for u in units if u.error is None and not u.traced]
    op_walls: dict[str, list[float]] = {}
    for u in plain:
        for op, w in u.ops.items():
            op_walls.setdefault(op, []).append(w)
    n = len(units)
    stamps = {
        "workload": workload,
        "seed": seed,
        "units": n,
        "passes": n // wl.pass_len,
        "region_wall_s": round(region.wall, 3),
        "samples_per_op": {op: len(ws) for op, ws in op_walls.items()},
        "op_median_s": {op: round(statistics.median(ws), 4) for op, ws in op_walls.items()},
        "unit_max_s": round(max(walls), 4) if walls else None,
        "setup_phases_s": {
            "get_spark": round(get_spark_s, 3),
            "warmup": round(warmup_s, 3),
            "input_generation_excluded": round(excluded, 3),
        },
        "cpu_core_s": {k: round(v, 2) for k, v in region.cpu.items()},
        "jvm_gc_s": round(region.gc, 3),
        "steal_frac": round(region.steal, 4),
        "load1_start": region.load_start,
        "load1_end": region.load_end,
        "spark_floor_s": round(statistics.median(floor), 4),
        "peak_rss_mb": round(peak_rss, 1),
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "failures": {str(k): v for k, v in sorted(bad.items())},
    }
    if trace:
        metrics = layer_metrics(tracer, units, region, get_spark_s, floor, peak_rss)
        stamps["trace_uncovered_s"] = metrics.pop("_uncovered_s")
    else:
        values = {
            "setup_s": setup_s,
            "unit_p50_s": statistics.median([u.wall for u in plain]),
            "op_gmean_s": statistics.geometric_mean(
                [statistics.median(ws) for ws in op_walls.values()]
            ),
            "core_s_per_unit": region.core_s / n,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    result = {"correct": not bad, "attempted": n, "failed": len(bad), "metrics": metrics}
    return {"result": result, "stamps": stamps, "spans": tracer.dump() if trace else None}


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------


def install_spans(tracer, workload: str) -> None:
    """Rebind the public functions each layer calls so they record spans."""
    if workload == "medallion_daily":
        from etl_poor_main_pipeline_spark.pipelines import bronze, gold, silver
        from etl_poor_main_pipeline_spark.sinks import jdbc, write

        tracer.wrap(bronze, "ingest_batch", "sources.api.ingest_batch")
        for mod in (silver, gold):
            tracer.wrap(mod, "read_partition", "sources.read.read_partition")
        tracer.wrap(write, "enforce_schema", "schema.enforce_schema")
        for mod in (bronze, silver):
            tracer.wrap(mod, "write_partition_overwrite", "sinks.write.write_partition_overwrite")
        tracer.wrap(jdbc, "delete_partition_rows", "sinks.jdbc.delete_partition_rows")
        tracer.wrap(
            jdbc, "append_via_dbapi", "sinks.jdbc.append_via_dbapi",
            on_result=lambda sp, out: setattr(sp, "count", out),
        )
    else:
        from etl_poor_main_pipeline_spark.operators import dedup, similarity, text

        tracer.wrap(dedup, "minhash_signatures", "operators.dedup.minhash_signatures")
        tracer.wrap(dedup, "minhash_lsh_candidates", "operators.dedup.minhash_lsh_candidates",
                    count_rows=True)
        tracer.wrap(dedup, "minhash_verify_candidates", "operators.dedup.minhash_verify_candidates")
        tracer.wrap(similarity, "ivf_search_indexed", "operators.similarity.ivf_search_indexed")
        tracer.wrap(text, "tf_idf", "operators.text.tf_idf")


def after_traced_unit(tracer, wl, u) -> None:
    """Read back job counts of a traced unit, then time its layers' lazy
    outputs and count its layers' rows; all outside its wall."""
    tracer.settle()
    for idx in tracer.unit_spans(u.index):
        sp = tracer.spans[idx]
        if sp.group is not None:
            jobs = tracer.jobs(idx)
            sp.jobs = len(jobs)
            if sp.name == "action.execute":
                sp.tasks = tracer.tasks(jobs)
    if u.error is not None:
        tracer.discard_outputs()
        return
    with wl.posture(tracer.spark, u):
        tracer.materialise()
    if wl.name == "medallion_daily":
        written = wl.written_partitions(wl._day(u.index))
        u.layout = (
            sum(f for f, _b, _r in written) / len(written),
            sum(b for _f, b, _r in written) / max(1, sum(r for _f, _b, r in written)),
        )


# spans whose per-unit total is reported as "<span>_s": the call's wall plus,
# for a call that returns a lazy DataFrame, the wall of materialising it
LAYER_SPANS = (
    "pipelines.bronze.run",
    "pipelines.silver.run",
    "pipelines.gold.run",
    "sources.api.ingest_batch",
    "sources.read.read_partition",
    "schema.enforce_schema",
    "sinks.write.write_partition_overwrite",
    "sinks.jdbc.delete_partition_rows",
    "sinks.jdbc.append_via_dbapi",
    "registry.build",
    "action.execute",
    "fastpath.execution_posture",
    "operators.dedup.minhash_signatures",
    "operators.dedup.minhash_lsh_candidates",
    "operators.dedup.minhash_verify_candidates",
    "operators.similarity.ivf_search_indexed",
    "operators.text.tf_idf",
)
TOP_LEVEL = ("pipelines.", "registry.build", "action.execute", "fastpath.execution_posture")


def layer_metrics(tracer, units, region, get_spark_s, floor, peak_rss) -> dict:
    """Per-layer metrics of a traced run. A layer's figure is the median,
    over the traced units that called it, of its per-unit total; a layer the
    workload never calls reads 0."""
    traced = [u for u in units if u.traced and u.error is None]
    plain = [u for u in units if not u.traced and u.error is None]
    per_unit: dict[str, list[float]] = {}

    def add(name: str, value: float) -> None:
        per_unit.setdefault(name, []).append(value)

    cover = []
    for u in traced:
        totals: dict[str, float] = {}
        for idx in tracer.unit_spans(u.index):
            sp = tracer.spans[idx]
            for key, field in (("_s", sp.dur + (sp.work or 0.0)),
                               ("_self", tracer.self_time(idx)),
                               ("_jobs", sp.jobs), ("_tasks", sp.tasks),
                               ("_count", sp.count)):
                if field is not None:
                    totals[sp.name + key] = totals.get(sp.name + key, 0.0) + field
        for name, total in totals.items():
            add(name, total)
        top = sum(tracer.spans[i].dur for i in tracer.unit_spans(u.index)
                  if tracer.spans[i].parent is None and tracer.spans[i].name.startswith(TOP_LEVEL))
        cover.append((top, u.wall))
        if u.layout is not None:
            add("layout_files", u.layout[0])
            add("layout_bytes_per_row", u.layout[1])
        if u.op == "dedup_minhash_lsh":
            add("verified_pairs", len(u.result))

    def med(name: str) -> float:
        xs = per_unit.get(name)
        return statistics.median(xs) if xs else 0.0

    m: dict[str, tuple[float, str]] = {}
    for span in LAYER_SPANS:
        m[span + "_s"] = (med(span + "_s"), "s")
    for layer in ("bronze", "silver", "gold"):
        m[f"pipelines.{layer}.self_s"] = (med(f"pipelines.{layer}.run_self"), "s")
        m[f"pipelines.{layer}.spark_jobs"] = (med(f"pipelines.{layer}.run_jobs"), "count")
    m["sinks.write.files_per_partition"] = (med("layout_files"), "count")
    m["sinks.write.bytes_per_row"] = (med("layout_bytes_per_row"), "B")
    m["sinks.jdbc.rows_appended"] = (med("sinks.jdbc.append_via_dbapi_count"), "count")
    m["action.spark_jobs"] = (med("action.execute_jobs"), "count")
    m["action.spark_tasks"] = (med("action.execute_tasks"), "count")
    cands = med("operators.dedup.minhash_lsh_candidates_count")
    verified = med("verified_pairs")
    m["operators.dedup.lsh_candidates"] = (cands, "count")
    m["operators.dedup.verified_pairs"] = (verified, "count")
    m["operators.dedup.lsh_precision"] = (verified / cands if cands else 0.0, "ratio")
    m["session.get_spark_s"] = (get_spark_s, "s")
    n = len(units)
    m["process.jvm_cpu_s"] = (region.cpu["jvm"] / n, "core-s")
    m["process.driver_cpu_s"] = (region.cpu["driver"] / n, "core-s")
    m["process.worker_cpu_s"] = (region.cpu["worker"] / n, "core-s")
    m["process.jvm_gc_s"] = (region.gc / n, "s")
    m["process.cores_busy"] = (region.core_s / region.wall, "cores")
    m["host.steal_frac"] = (region.steal, "ratio")
    m["host.spark_floor_s"] = (statistics.median(floor), "s")
    m["host.peak_rss_mb"] = (peak_rss, "MB")
    traced_med = statistics.median([u.wall for u in traced]) if traced else 0.0
    plain_med = statistics.median([u.wall for u in plain]) if plain else 0.0
    m["trace.overhead_s"] = (traced_med - plain_med, "s")
    m["trace.layer_cover_s"] = (statistics.median([c for c, _w in cover]) if cover else 0.0, "s")
    out = {k: {"value": v, "unit": unit} for k, (v, unit) in m.items()}
    out["_uncovered_s"] = round(statistics.median([w - c for c, w in cover]), 4) if cover else None
    return out


# --------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["medallion_daily", "lake_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    for need in ("etl_poor_main_pipeline_spark/session.py", "tools/parity.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"graftbench: {need} not found under {ROOT}: run from a full checkout",
                  file=sys.stderr)
            return 2

    report = run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    name = f"{args.workload}_s{args.seed}_t{args.trace}_{os.getpid()}.json"
    with open(os.path.join(WORK, "reports", name), "w") as f:
        json.dump(report, f, indent=1, default=str)
    shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)
    print("stamps " + json.dumps(report["stamps"]))
    print(json.dumps(report["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
