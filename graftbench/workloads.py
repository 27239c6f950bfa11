"""The two workloads. Each yields timed units from ``unit`` and checks the
recorded results in ``check``, which the harness calls only after the timed
region. A workload's inputs come from ``inputs`` and depend on the seed only.

- ``medallion_daily``: one unit is one day of the paper's job: bronze
  (injected fetch over seeded payloads) -> silver US and CA -> gold into a
  stdlib sqlite3 serving DB through the delete + DB-API append. New days
  alternate with re-runs of earlier days, so both the append and the
  overwrite path run.
- ``lake_queries``: one unit is one registry query, run under
  ``fastpath.execution_posture`` and collected to pandas, over a seeded lake
  with the test corpus's schema. Passes run the ten-query mix in a fixed
  order.

A run times a fixed number of whole passes. ``pass_s`` is a pass's wall on
the 4-vCPU VM the benchmark was sized on; the harness divides ``--seconds``
by it, so the unit count depends on ``--seconds`` only, never on the host's
speed.
"""

from __future__ import annotations

import collections
import contextlib
import hashlib
import json
import os
import re
import shutil
import sqlite3
import sys
import time
from dataclasses import dataclass, field

import numpy as np

from inputs import WeatherDays, make_lake

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLD_TABLE = "north_america_weather"
GOLD_DDL = f"""CREATE TABLE {GOLD_TABLE} (
    city TEXT, country TEXT, temperature REAL, feels_like REAL, weather TEXT,
    weather_code INTEGER, wind_speed REAL, timestamp TEXT,
    temperature_category TEXT, date_id TEXT, region TEXT)"""


def _no_span(*_args, **_kwargs):
    """Stands in for ``Tracer.span`` in an untraced unit."""
    return contextlib.nullcontext()


@dataclass
class Unit:
    index: int
    op: str
    wall: float = 0.0
    ops: dict[str, float] = field(default_factory=dict)  # op type -> wall
    result: object = None
    traced: bool = False
    layout: tuple[float, float] | None = None  # (files per partition, bytes per row)
    error: str | None = None


# --------------------------------------------------------------------------
# medallion_daily
# --------------------------------------------------------------------------


class MedallionDaily:
    name = "medallion_daily"
    pass_len = 2  # a new day, then a re-run of an earlier day
    pass_s = 7.8
    min_passes = 2

    def __init__(self, work: str, seed: int):
        from etl_poor_main_pipeline_spark.pipelines import bronze, gold, silver

        self.bronze, self.silver, self.gold = bronze, silver, gold
        self.days = WeatherDays(seed)
        self.rng = np.random.default_rng([seed, 2])
        self.root = os.path.join(work, f"medallion_{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        self.lake = os.path.join(self.root, "lake")
        self.db = os.path.join(self.root, "serving.db")
        with sqlite3.connect(self.db) as c:
            c.execute(GOLD_DDL)
        self.day_of: list[int] = []

    def connect(self):
        return sqlite3.connect(self.db)

    def _day(self, i: int) -> int:
        while len(self.day_of) <= i:
            j = len(self.day_of)
            if j % 2 == 0:
                self.day_of.append(j // 2)
            else:  # re-run a day already published
                self.day_of.append(int(self.rng.integers(0, j // 2 + 1)))
        return self.day_of[i]

    def warmup(self, spark) -> None:
        """A new day and its re-run, on a date no timed unit uses (the checks
        skip it). The second day takes the re-run path and roughly halves
        the JIT cost still left in the first timed unit."""
        for _ in range(2):
            self._run_day(spark, 10_000, self.days.payloads(10_000), {})

    def _run_day(self, spark, day: int, payloads: dict[str, str], ops: dict, tracer=None):
        date_id = self.days.date_id(day)
        span = tracer.span if tracer is not None else _no_span
        steps = (
            ("bronze", "pipelines.bronze.run", lambda: self.bronze.run(
                spark, self.lake, date_id, self.days.cities, payloads.__getitem__)),
            ("silver_us", "pipelines.silver.run", lambda: self.silver.run(
                spark, self.lake, date_id, "US")),
            ("silver_ca", "pipelines.silver.run", lambda: self.silver.run(
                spark, self.lake, date_id, "CA")),
            ("gold", "pipelines.gold.run", lambda: self.gold.run(
                spark, self.lake, date_id, connect=self.connect, table=GOLD_TABLE)),
        )
        for op, span_name, call in steps:
            t0 = time.perf_counter()
            with span(span_name, jobs=True):
                call()
            ops[op] = time.perf_counter() - t0

    def unit(self, spark, i: int, tracer=None) -> Unit:
        day = self._day(i)
        payloads = self.days.payloads(day)  # input generation, outside the wall
        u = Unit(i, "new" if i % 2 == 0 else "rerun")
        t0 = time.perf_counter()
        self._run_day(spark, day, payloads, u.ops, tracer)
        u.wall = time.perf_counter() - t0
        # capture (not check) the serving rows this day left, outside the wall
        with self.connect() as c:
            u.result = c.execute(
                f"SELECT city, country, temperature, temperature_category, region "
                f"FROM {GOLD_TABLE} WHERE date_id = ?",
                (self.days.date_id(day),),
            ).fetchall()
        return u

    def posture(self, spark, u: Unit):
        """The session posture a unit's Spark work ran under: the session's own."""
        return contextlib.nullcontext()

    # ------------------------------------------------------------------

    def _partition(self, table, day: int):
        import pyarrow.parquet as pq

        path = table.partition_path(self.lake, self.days.date_id(day))
        return pq.read_table(path).to_pylist() if os.path.isdir(path) else []

    def check(self, units: list[Unit]) -> dict[int, list[str]]:
        """Unit index -> failed checks. Final lake state per day is billed to
        the last unit that ran the day; the serving rows to every unit."""
        from etl_poor_main_pipeline_spark.pipelines.bronze import BRONZE_TABLE
        from etl_poor_main_pipeline_spark.pipelines.silver import silver_table

        bad: dict[int, list[str]] = collections.defaultdict(list)
        last: dict[int, int] = {}
        for u in units:
            day = self._day(u.index)
            last[day] = u.index
            exp = self.days.expected_silver(day, "US") + self.days.expected_silver(day, "CA")
            want = sorted((c, str(self.days.country[c]), t, cat, "North America") for c, t, cat in exp)
            got = sorted(tuple(r) for r in (u.result or []))
            if got != want:
                bad[u.index].append(f"gold rows for day {day}: {len(got)} vs {len(want)} expected")
        for day, idx in last.items():
            keys = sorted(r["city"] for r in self._partition(BRONZE_TABLE, day))
            if keys != sorted(self.days.cities):
                bad[idx].append(f"bronze keys for day {day}: {len(keys)} rows")
            for country in ("US", "CA"):
                rows = self._partition(silver_table(country), day)
                exp = self.days.expected_silver(day, country)
                got_hist = collections.Counter(r["temperature_category"] for r in rows)
                want_hist = collections.Counter(cat for _c, _t, cat in exp)
                if len(rows) != len(exp) or got_hist != want_hist:
                    bad[idx].append(
                        f"silver {country} day {day}: {len(rows)} rows {dict(got_hist)}"
                        f" vs {len(exp)} {dict(want_hist)}"
                    )
        return dict(bad)

    def written_partitions(self, day: int) -> list[tuple[int, int, int]]:
        """(files, bytes, rows) of the bronze and silver partitions of ``day``."""
        import pyarrow.parquet as pq
        from etl_poor_main_pipeline_spark.pipelines.bronze import BRONZE_TABLE
        from etl_poor_main_pipeline_spark.pipelines.silver import silver_table

        out = []
        for table in (BRONZE_TABLE, silver_table("US"), silver_table("CA")):
            path = table.partition_path(self.lake, self.days.date_id(day))
            names = os.listdir(path) if os.path.isdir(path) else []
            files = [os.path.join(path, f) for f in names if f.endswith(".parquet")]
            rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            out.append((len(files), sum(os.path.getsize(f) for f in files), rows))
        return out

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


# --------------------------------------------------------------------------
# lake_queries
# --------------------------------------------------------------------------

QUERIES = (
    # analytics half
    "partition_scan",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_star_join",
    "window_row_number_topn",
    "asof_join_events",
    # curation half
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_ivf_topk",
    "text_tf_idf",
)


class LakeQueries:
    name = "lake_queries"
    pass_len = len(QUERIES)
    pass_s = 10.0
    min_passes = 2

    def __init__(self, work: str, seed: int):
        from etl_poor_main_pipeline_spark import fastpath, registry

        self.fastpath, self.registry = fastpath, registry
        self.work = work
        self.lake = make_lake(work, seed)

    def warmup(self, spark) -> None:
        """One untimed pass of the mix, four queries at a time: it builds the
        IVF index the similarity query probes and compiles every plan shape.
        A pass over a lake with a sixteenth of the rows cost 4-6 s less, but
        left the timed passes 10% slower, so the warm-up uses the lake itself.
        The posture is entered once around the pool, because it sets session
        confs and restores them on exit, which concurrent entries would race."""
        from concurrent.futures import ThreadPoolExecutor

        def one(name):
            return self.registry.REGISTRY[name].fn(spark, self.lake).toPandas()

        order = sorted(QUERIES, key=lambda n: n != "similarity_ivf_topk")  # the longest first
        with self.fastpath.execution_posture(spark, self.lake, None):
            with ThreadPoolExecutor(4) as pool:
                list(pool.map(one, order))  # re-raises a failed query

    def unit(self, spark, i: int, tracer=None) -> Unit:
        name = QUERIES[i % len(QUERIES)]
        spec = self.registry.REGISTRY[name]
        span = tracer.span if tracer is not None else _no_span
        u = Unit(i, name)
        t0 = time.perf_counter()
        # entered and exited by hand so a traced unit can time both halves:
        # entering sets the session confs, exiting restores them
        posture = self.posture(spark, u)
        with span("fastpath.execution_posture"):
            posture.__enter__()
        try:
            with span("registry.build"):
                df = spec.fn(spark, self.lake)
            with span("action.execute", jobs=True):
                u.result = df.toPandas()
        finally:
            with span("fastpath.execution_posture"):
                posture.__exit__(None, None, None)
        u.wall = time.perf_counter() - t0
        u.ops[name] = u.wall
        return u

    def posture(self, spark, u: Unit):
        """The session posture a unit's Spark work ran under."""
        return self.fastpath.execution_posture(spark, self.lake, u.op)

    # ------------------------------------------------------------------

    def oracle_fingerprints(self) -> dict[str, tuple]:
        """DuckDB twin fingerprints, cached on disk by corpus and SQL. Each
        twin's decimal sums are rounded exactly (``exact_dsum``)."""
        parity = _parity()
        cache_dir = os.path.join(self.work, "oracle_cache")
        os.makedirs(cache_dir, exist_ok=True)
        corpus = os.path.basename(self.lake)
        oracles = {n: exact_dsum(self.registry.REGISTRY[n].oracle) for n in QUERIES}
        out, con = {}, None
        for name, sql in oracles.items():
            key = hashlib.sha256(f"{corpus}\0{sql}".encode()).hexdigest()[:24]
            path = os.path.join(cache_dir, f"{key}.json")
            if os.path.exists(path):
                with open(path) as f:
                    out[name] = tuple(json.load(f))
                continue
            if con is None:
                con = parity.duck_con(self.lake)
            odf = con.sql(sql).fetchdf()
            fp = fingerprint(odf)
            with open(path + ".tmp", "w") as f:
                json.dump(fp, f)
            os.replace(path + ".tmp", path)
            out[name] = tuple(fp)
        if con is not None:
            con.close()
        return out

    def check(self, units: list[Unit]) -> dict[int, list[str]]:
        want = self.oracle_fingerprints()
        bad: dict[int, list[str]] = {}
        for u in units:
            got = tuple(fingerprint(u.result))
            if got != want[u.op]:
                bad[u.index] = [f"{u.op}: (cols, rows, hash) {got} vs oracle {want[u.op]}"]
        return bad

    def close(self) -> None:
        pass


# A twin's ``registry._dsum_sql`` term: the exact decimal sum is cast to
# double and then rounded. DuckDB rounds the binary double, which sits just
# below a sum that ends exactly on a half cent (563565.955 -> .95), while the
# Spark side rounds the decimal value HALF_UP (-> .96, the exact answer). The
# check rounds the decimal sum while it is still exact, so a Spark result is
# held to the exactly rounded value.
_DSUM_TWIN = re.compile(r"round\(cast\(sum\(cast\(([^\n]+?) as decimal\(18,6\)\)\) as double\), (\d+)\)")


def exact_dsum(sql: str) -> str:
    """``sql`` with each ``_dsum_sql`` term rounded before the cast to double."""
    return _DSUM_TWIN.sub(r"cast(round(sum(cast(\1 as decimal(18,6))), \2) as double)", sql)


def _parity():
    """tools/parity.py: the repository's Spark-vs-DuckDB normalisation."""
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import parity

    return parity


def fingerprint(df) -> list:
    """(sorted columns, row count, order-insensitive value hash)."""
    return [sorted(df.columns), len(df), _parity().value_hash(df)]


WORKLOADS = {w.name: w for w in (MedallionDaily, LakeQueries)}
