"""Self-test of the benchmark: both workloads run tiny and traced, every
check must pass on the clean results, and each injected fault must be
counted failed.

    python3 graftbench/selftest.py

Negative cases: a duplicated gold row, a wrong silver histogram, a perturbed
query result and a truncated query result. The lake check's exactly rounded
decimal sums (``workloads.exact_dsum``) are tested on a half-cent tie. Exits non-zero if a clean check
fails, a fault goes uncaught, a traced run misses a per-layer metric named in
BENCHMARK.json, or a layer the workload calls reads 0 (a span that no longer
reaches its call).
"""

from __future__ import annotations

import copy
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import run  # noqa: E402

# per-layer metrics, by prefix, that each workload's calls must make non-zero
CALLED = {
    "medallion_daily": ("pipelines.", "sources.", "schema.", "sinks.", "session."),
    "lake_queries": ("registry.", "action.", "fastpath.", "operators.", "session."),
}

problems: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(f"{'PASS' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        problems.append(what)


def medallion_faults(wl, units) -> None:
    import pyarrow.parquet as pq
    from etl_poor_main_pipeline_spark.pipelines.silver import silver_table

    expect(wl.check(units) == {}, "medallion_daily: clean results pass every check")

    dup = copy.deepcopy(units)
    victim = dup[-1]
    victim.result = list(victim.result) + [victim.result[0]]
    expect(victim.index in wl.check(dup), "medallion_daily: duplicated gold row is caught")

    day = wl._day(units[-1].index)
    part = silver_table("US").partition_path(wl.lake, wl.days.date_id(day))
    path = os.path.join(part, next(f for f in sorted(os.listdir(part)) if f.endswith(".parquet")))
    with open(path, "rb") as f:
        original = f.read()
    table = pq.read_table(path)
    cats = table.column("temperature_category").to_pylist()
    cats[0] = "Warm" if cats[0] != "Warm" else "Freezing"
    idx = table.schema.get_field_index("temperature_category")
    pq.write_table(table.set_column(idx, "temperature_category", [cats]), path)
    try:  # final lake state is billed to the last unit that ran the day
        expect(units[-1].index in wl.check(units), "medallion_daily: wrong silver histogram is caught")
    finally:
        with open(path, "wb") as f:
            f.write(original)
    expect(wl.check(units) == {}, "medallion_daily: restored lake passes again")


def lake_faults(wl, units) -> None:
    expect(wl.check(units) == {}, "lake_queries: clean results match every oracle twin")

    perturbed = copy.deepcopy(units)
    u = next(x for x in perturbed if x.op == "tpch_q1_pricing_summary")
    col = next(c for c in u.result.columns if u.result[c].dtype.kind == "f")
    u.result.loc[u.result.index[0], col] += 0.01
    expect(u.index in wl.check(perturbed), "lake_queries: perturbed query result is caught")

    truncated = copy.deepcopy(units)
    u = next(x for x in truncated if x.op == "window_row_number_topn")
    u.result = u.result.iloc[:-1]
    expect(u.index in wl.check(truncated), "lake_queries: truncated query result is caught")


def dsum_twin() -> None:
    import duckdb
    from etl_poor_main_pipeline_spark import registry
    from workloads import exact_dsum

    for name in ("tpch_q1_pricing_summary", "tpch_q3_shipping_priority", "tpch_q5_star_join"):
        oracle = registry.REGISTRY[name].oracle
        expect(exact_dsum(oracle) != oracle, f"lake_queries: {name} twin's decimal sums are rounded exactly")
    term = exact_dsum(registry._dsum_sql("x", "s"))
    got = duckdb.sql(f"SELECT {term} FROM (SELECT 563565.955::DOUBLE AS x)").fetchone()[0]
    expect(got == 563565.96, f"lake_queries: a half-cent sum 563565.955 rounds HALF_UP to {got}")


def main() -> int:
    dsum_twin()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        layer_names = {m["name"] for m in json.load(f)["per_layer"]}
    for workload, faults in (("medallion_daily", medallion_faults), ("lake_queries", lake_faults)):
        report = run.run(workload, seed=7, seconds=1, trace=True, inspect=faults)
        result = report["result"]
        expect(result["correct"] and result["failed"] == 0,
               f"{workload}: tiny traced run reports 0 failed of {result['attempted']}")
        missing = layer_names - set(result["metrics"])
        expect(not missing, f"{workload}: every per-layer metric reported {sorted(missing)}")
        zero = sorted(n for n in layer_names if n.startswith(CALLED[workload])
                      and not result["metrics"].get(n, {}).get("value"))
        expect(not zero, f"{workload}: every layer it calls reads non-zero {zero}")
        print("  stamps " + json.dumps(report["stamps"]), flush=True)
    print(f"\nselftest: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
