"""The benchmark's workloads.

Both share one shape, a closed loop with a single client: set up, run a
fixed number of *days* (``DAYS``), then *serve passes* over the final state:
``PASSES`` of them, and more only while the run's ``--seconds`` are not yet
spent.  A day makes newly landed data servable (the timed operation).  Day
cost grows with history, so every run does the same days whatever the
build's speed.  A serve pass runs, once each and always in the same order,
the reads that depend on that data (a dashboard page with every panel); the
first read of a pass costs more than the others while the JVM is young, so
a varying order would vary the pass.  ``run_seconds`` in BENCHMARK.json is
shorter than one pass, so every run does the same work.  The first
``WARMUP_DAYS`` days are done and checked like the others but left out of
the metrics: the JVM compiles the engine's hot paths and Spark its
generated code during them, which at first costs more CPU than the work
itself.  Days and passes are as few as give steady figures, which keeps a
run near a minute on 4 cores.  Each timed section records its wall time
and the CPU time of the driver JVM, its Python workers and this process
(:class:`stats.CpuClock`).  Outputs are checked outside the timed
sections.

``warehouse_ingest``
    The SUS star schema's write path and the dashboard read path over it.
    Set-up writes the seeded seed CSVs and calls ``etl.bootstrap_warehouse``.
    A day lands seeded ``sinasc``/``sim``/``sih`` drops, calls
    ``etl.run_ingest`` for each and ``etl.refresh_aggregate`` for every
    aggregate; serving runs the reference's dashboard operations from
    ``queries/warehouse.py`` with seeded parameters plus
    ``etl.read_aggregate``.  Checked against the generator's true totals.
    A run ingests one day: the reference's ETL is a daily batch job, so
    one day per session is what it does in use, and the day is measured
    cold.
``maintained_refresh``
    The maintained tables.  Set-up writes a seeded corpus and builds the
    maintained tables the served queries read.  A day appends one part file
    per growing table and refreshes each table through its public refresh
    function; serving runs the registered queries that read those tables.
    Checked against each query's DuckDB oracle twin over the same files.
"""

from __future__ import annotations

import os
import random
import time
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import date, timedelta

import corpus_gen
import sus_gen
from spans import Tracer

# Records in one landed day: a quarter of Brazil's national daily volume
# (about 2.6 M live births in SINASC, 1.5 M deaths in SIM and 12 M hospital
# admissions in SIH a year, i.e. 7,100, 4,100 and 33,000 a day).  At full
# volume a day took 41 s instead of 25 s on 4 cores, too long for the
# benchmark's per-run time budget; day cost is mostly per-job overhead.
DAY_BIRTHS, DAY_DEATHS, DAY_ADMISSIONS = 1800, 1000, 8200
FIRST_DT = date(2024, 1, 1)


@dataclass
class DayLog:
    """What the timed loop measured."""

    cpu: Callable[[], float]  # CPU seconds used so far (stats.CpuClock)
    op_s: list[float] = field(default_factory=list)  # wall, one per day
    op_cpu_s: list[float] = field(default_factory=list)
    serve_s: list[float] = field(default_factory=list)  # one per served read
    serve_cpu_s: list[float] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)  # one per serve pass: all its reads
    pass_cpu_s: list[float] = field(default_factory=list)
    rows_in: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    counts: Counter = field(default_factory=Counter)  # per-layer counts, summed over days

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)


def files_state(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every data file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            p = os.path.join(d, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """Files (and their bytes) that are new or changed in ``after``."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return len(new), sum(after[p][0] for p in new)


def timed(log: DayLog, tracer: Tracer, name: str, fn, *args):
    """Run one serve query: construct, collect, record its latency."""
    c0, t0 = log.cpu(), time.perf_counter()
    with tracer.span("queries.construct") as sp:
        df = fn(*args)
    construct_jobs = sp.jobs if sp is not None else 0
    with tracer.span("queries.collect"):
        rows = df.collect()
    log.serve_s.append(time.perf_counter() - t0)
    log.serve_cpu_s.append(log.cpu() - c0)
    print(f"serve {name} {log.serve_s[-1]:.4f}s cpu {log.serve_cpu_s[-1]:.2f}s")
    log.counts["queries.construct_jobs"] += construct_jobs
    log.counts["queries.rows_out"] += len(rows)
    log.counts["queries.served"] += 1
    return df.columns, rows


# --------------------------------------------------------------------------
# warehouse_ingest
# --------------------------------------------------------------------------

class WarehouseIngest:
    name = "warehouse_ingest"
    DAYS, WARMUP_DAYS = 1, 0
    PASSES = 2

    def __init__(self, spark, tracer: Tracer, work: str, seed: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.landing = os.path.join(work, "landing")
        self.wh = os.path.join(work, "warehouse")
        self.seeds_dir = os.path.join(work, "seeds")
        self.truth = sus_gen.Truth()
        self.rng = random.Random(f"serve-{seed}")
        self.days = 0

    def setup(self) -> None:
        from olap_sus_spark import etl

        self.seeds = sus_gen.write_seeds(self.seeds_dir, self.seed)
        etl.bootstrap_warehouse(self.spark, self.seeds.paths, self.wh)

    def instrument(self) -> None:
        from olap_sus_spark import etl
        from olap_sus_spark.operators import facts
        from olap_sus_spark.sources import sinks

        t = self.tracer
        t.wrap(etl, "read_dataset", "sources.raw_csv.read")
        t.wrap(etl, "load_dims", "etl.load_dims")
        for fn in ("transform_sinasc", "transform_sim", "transform_sih"):
            t.wrap(etl, fn, "operators.facts.build")
        for fn in ("build_fact_nascimentos", "build_fact_obitos", "build_fact_internacoes"):
            t.wrap(facts, fn, "operators.facts.build")
        t.wrap(sinks, "append_bridge", "sources.sinks.append_bridge")
        t.wrap(sinks, "write_fact_partition", "sources.sinks.write_fact")

    def day(self, log: DayLog) -> bool:
        from olap_sus_spark import etl

        dt = FIRST_DT + timedelta(days=self.days)
        self.days += 1
        raw_before = self.truth.raw_bytes
        rows_before = self.truth.raw_rows
        sus_gen.write_day(self.landing, self.seeds, dt, self.seed, self.truth,
                          DAY_BIRTHS, DAY_DEATHS, DAY_ADMISSIONS)
        before = files_state(self.wh) if self.tracer.enabled else {}
        log.attempted += 1
        own0 = self.tracer.own_s
        c0, t0 = log.cpu(), time.perf_counter()
        try:
            for ds in ("sinasc", "sim", "sih"):
                etl.run_ingest(self.spark, ds, dt.isoformat(), self.landing, self.wh)
            for agg in etl.AGGREGATES:
                with self.tracer.span("etl.refresh_aggregate"):
                    etl.refresh_aggregate(self.spark, self.wh, agg, dates=[dt.isoformat()])
        except Exception as exc:  # noqa: BLE001 — a failed day is counted, then the run stops
            log.fail(f"ingest {dt}: {exc!r}"[:500])
            return False
        log.op_s.append(time.perf_counter() - t0)
        log.op_cpu_s.append(log.cpu() - c0)
        print(f"day {len(log.op_s)} {log.op_s[-1]:.4f}s cpu {log.op_cpu_s[-1]:.2f}s")
        log.rows_in += self.truth.raw_rows - rows_before
        if self.tracer.enabled:
            files, nbytes = written(before, files_state(self.wh))
            log.counts["sources.sinks.files_written"] += files
            log.counts["sources.sinks.bytes_written"] += nbytes
            log.counts["raw_bytes"] += self.truth.raw_bytes - raw_before
            log.counts["trace.own_s"] += self.tracer.own_s - own0
        return True

    def _serve_plan(self):
        from olap_sus_spark import etl
        from olap_sus_spark.queries import warehouse as q

        rng, t = self.rng, self.truth
        years = sorted({y for (_, y) in t.deaths_city_year})
        cities = sorted({c for (c, _) in t.deaths_city_year if c != sus_gen.SENTINEL_CITY})
        city = rng.choice(cities)
        y0 = rng.choice(years)
        y1 = rng.choice([y for y in years if y >= y0])
        k = rng.randint(3, 10)
        regions = rng.sample(self.seeds.health_regions, 3)
        spark, wh = self.spark, self.wh

        def read_agg(name):
            with self.tracer.span("etl.read_aggregate"):
                return etl.read_aggregate(spark, wh, name)

        plan = [
            ("slice_dice", lambda: q.slice_dice_deaths(spark, wh, city, y0, y1),
             self._check_total("quantidade_obitos", sum(
                 v for (c, y), v in t.deaths_city_year.items() if c == city and y0 <= y <= y1))),
            ("pivot_year_uf", lambda: q.pivot_deaths_year_by_uf(spark, wh), self._check_pivot),
            ("drill_across", lambda: q.drill_across_growth(spark, wh, regions),
             self._check_drill(regions)),
            ("topk_causes", lambda: q.topk_causes_per_family(spark, wh, k), self._check_topk(k)),
            ("agg_births_uf_year", lambda: read_agg("agg_nascimentos_uf_ano"),
             self._check_cells("quantidade_nascimentos", t.births_uf_year)),
            ("agg_deaths_uf_year", lambda: read_agg("agg_obitos_uf_ano"),
             self._check_cells("quantidade_obitos", t.deaths_uf_year)),
        ]
        return plan

    def serve_pass(self, log: DayLog) -> None:
        n0 = len(log.serve_s)
        for name, fn, check in self._serve_plan():
            log.attempted += 1
            try:
                cols, rows = timed(log, self.tracer, name, fn)
                problem = check([r.asDict() for r in rows])
            except Exception as exc:  # noqa: BLE001 — counted as a failed operation
                problem = repr(exc)
            if problem:
                log.fail(f"{name}: {problem}"[:500])
        log.pass_s.append(sum(log.serve_s[n0:]))
        log.pass_cpu_s.append(sum(log.serve_cpu_s[n0:]))

    @staticmethod
    def _check_total(col: str, want: int):
        def check(rows):
            got = sum(r[col] or 0 for r in rows)
            return None if got == want else f"sum {col} {got} != {want}"
        return check

    def _check_pivot(self, rows):
        want = Counter()
        for (_, y), v in self.truth.deaths_uf_year.items():
            want[y] += v
        got = {r["ano"]: sum(v or 0 for k, v in r.items() if k != "ano") for r in rows}
        return None if got == dict(want) else f"pivot year sums {got} != {dict(want)}"

    def _check_drill(self, regions):
        region_of = {m.name: m.health_region for m in self.seeds.municipios}

        def total(counter):
            return sum(v for (c, _), v in counter.items() if region_of.get(c) in regions)

        def check(rows):
            got = (sum(r["nascimentos"] for r in rows), sum(r["obitos"] for r in rows))
            want = (total(self.truth.births_city_year), total(self.truth.deaths_city_year))
            return None if got == want else f"drill-across (births, deaths) {got} != {want}"
        return check

    def _check_topk(self, k):
        def check(rows):
            per = Counter(r["descricao_familia"] for r in rows)
            ranks = {}
            for r in rows:
                ranks.setdefault(r["descricao_familia"], []).append(r["ranking"])
            bad = [f for f, rk in ranks.items() if sorted(rk) != list(range(1, per[f] + 1))]
            if not rows or max(per.values()) > k or bad:
                return f"top-{k}: {len(rows)} rows, families over k or with gapped ranks {bad[:3]}"
            return None
        return check

    @staticmethod
    def _check_cells(col: str, want: Counter):
        def check(rows):
            got = {(r["uf"], r["ano"]): r[col] for r in rows}
            return None if got == dict(want) else f"{col} by (uf, year): {len(got)} cells differ"
        return check

    def final_check(self, log: DayLog) -> None:
        """Per-``dt`` fact totals against the generator, read with DuckDB
        straight from the warehouse files."""
        import duckdb

        con = duckdb.connect()
        try:
            for table, measure, want in (
                ("fact_nascimentos", "SUM(quantidade_nascimentos)", self.truth.births),
                ("fact_obitos", "SUM(quantidade_obitos)", self.truth.deaths),
                ("fact_internacoes", "SUM(quantidade_procedimentos)", self.truth.adm_procs),
                ("fact_internacoes", "CAST(SUM(valor) * 100 AS BIGINT)", self.truth.adm_cents),
            ):
                got = dict(con.execute(
                    f"SELECT CAST(dt AS VARCHAR), {measure} FROM read_parquet("
                    f"'{self.wh}/{table}/*/*.parquet', hive_partitioning = true) GROUP BY dt"
                ).fetchall())
                log.attempted += 1
                if got != dict(want):
                    log.fail(f"{table} per-dt totals {got} != {dict(want)}"[:500])
        finally:
            con.close()

    def end_counts(self, log: DayLog) -> None:
        log.counts["warehouse.files_total"] = len(files_state(self.wh))


# --------------------------------------------------------------------------
# maintained_refresh
# --------------------------------------------------------------------------

# Served queries, each reading one maintained table the day refreshes.
SERVED = (
    "bm25_search_indexed",  # inverted index
    "incremental_revenue_by_month",  # daily revenue partials
    "cms_supplier_counts_served",  # supplier CMS grid
)


class MaintainedRefresh:
    name = "maintained_refresh"
    DAYS, WARMUP_DAYS = 3, 1
    PASSES = 2

    def __init__(self, spark, tracer: Tracer, work: str, seed: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.sf = os.path.join(work, "sf")
        self.corpus = corpus_gen.Corpus(self.sf, seed)
        self._expected = None  # name -> oracle result over the final state

    def _tables(self):
        """(span, path, build, refresh) of every maintained table a day
        refreshes: the two fact summaries the served queries read, on the
        ``operators.maintained`` partials contract, and the inverted index
        in the ``operators.index_store``.  ``maintenance.refresh_fact_summaries``
        would also refresh three summaries nothing here serves, whose builds
        cost 15 s of set-up on 4 cores."""
        from olap_sus_spark.operators import inverted as inv
        from olap_sus_spark.queries import cms, incremental

        spark, sf = self.spark, self.sf
        return [
            ("operators.maintained.refresh.daily_revenue", incremental.daily_revenue_path(sf),
             lambda: incremental.load_or_build_daily_revenue(spark, sf),
             lambda day: incremental.refresh_daily_revenue(spark, sf, [day])),
            ("operators.maintained.refresh.supplier_cms", cms.supplier_cms_path(sf),
             lambda: cms.load_or_build_supplier_cms(spark, sf),
             lambda day: cms.refresh_supplier_cms(spark, sf, [day])),
            ("operators.index_store.refresh.inverted", inv.inverted_index_path(sf),
             lambda: inv.load_or_build_inverted_index(spark, sf),
             lambda day: inv.refresh_inverted_index(spark, sf)),
        ]

    def setup(self) -> None:
        self.corpus.write_base()
        for _, _, build, _ in self._tables():
            build()
        import olap_sus_spark.queries  # noqa: F401 — fills the registry
        from olap_sus_spark.registry import ORACLE, QUERIES

        self.queries, self.oracles = QUERIES, ORACLE

    def instrument(self) -> None:
        pass  # every engine call of a day is made here, inside its own span

    def _roots(self, layer: str) -> list[str]:
        return [path for span, path, _, _ in self._tables() if span.startswith(layer)]

    def day(self, log: DayLog) -> bool:
        roots = self._roots("operators.index_store")
        before = {r: files_state(r) for r in roots} if self.tracer.enabled else {}
        log.attempted += 1
        own0 = self.tracer.own_s
        c0, t0 = log.cpu(), time.perf_counter()
        try:
            day, rows = self.corpus.append_day()
            for span, _, _, refresh in self._tables():
                with self.tracer.span(span):
                    refresh(day)
        except Exception as exc:  # noqa: BLE001 — a failed day is counted, then the run stops
            log.fail(f"refresh: {exc!r}"[:500])
            return False
        log.op_s.append(time.perf_counter() - t0)
        log.op_cpu_s.append(log.cpu() - c0)
        print(f"day {len(log.op_s)} {log.op_s[-1]:.4f}s cpu {log.op_cpu_s[-1]:.2f}s")
        log.rows_in += rows
        if self.tracer.enabled:
            log.counts["operators.index_store.files_written"] += sum(
                written(before[r], files_state(r))[0] for r in roots)
            log.counts["trace.own_s"] += self.tracer.own_s - own0
        return True

    def _oracle_results(self) -> dict[str, tuple[list[str], list[tuple[str, ...]]]]:
        """Each served query's DuckDB oracle over the corpus files as they
        stand (sorted column names, canonical rows)."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in corpus_gen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet/*.parquet')")
            out = {}
            for name in SERVED:
                rel = con.execute(self.oracles[name])
                cols = [d[0] for d in rel.description]
                out[name] = (sorted(cols), canon(rel.fetchall(), cols))
            return out
        finally:
            con.close()

    def serve_pass(self, log: DayLog) -> None:
        if self._expected is None:
            self._expected = self._oracle_results()  # serving starts after the last day
        n0 = len(log.serve_s)
        for name in SERVED:
            log.attempted += 1
            try:
                cols, rows = timed(log, self.tracer, name, self.queries[name], self.spark, self.sf)
            except Exception as exc:  # noqa: BLE001 — counted as a failed operation
                log.fail(f"{name}: {exc!r}"[:500])
                continue
            if (sorted(cols), canon(rows, cols)) != self._expected[name]:
                log.fail(f"{name}: differs from its DuckDB oracle")
        log.pass_s.append(sum(log.serve_s[n0:]))
        log.pass_cpu_s.append(sum(log.serve_cpu_s[n0:]))

    def final_check(self, log: DayLog) -> None:
        pass  # every served result was checked against its oracle in its pass

    def end_counts(self, log: DayLog) -> None:
        log.counts["operators.maintained.files_total"] = sum(
            len(files_state(p)) for p in self._roots("operators.maintained"))
        index_bytes = sum(v[0] for r in self._roots("operators.index_store")
                          for v in files_state(r).values())
        corpus_bytes = sum(v[0] for v in files_state(os.path.join(self.sf, "documents.parquet")).values())
        log.counts["operators.index_store.bytes_per_corpus_byte"] = index_bytes / corpus_bytes


def canon(rows, cols) -> list[tuple[str, ...]]:
    """Order-insensitive canonical form of a result: columns by name, floats
    by repr so a match means bit-identical values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def nv(v):
        if v is None:
            return "∅"
        return repr(v) if isinstance(v, float) else str(v)

    return sorted(tuple(nv(r[i]) for i in order) for r in rows)


WORKLOADS = {w.name: w for w in (WarehouseIngest, MaintainedRefresh)}
