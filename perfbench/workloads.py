"""The benchmark's workloads.

Each workload has a set-up (everything before the timed loop) and a loop
of operations issued by one closed-loop client: the next operation starts
when the previous one has returned.  The loop runs whole blocks of its
schedule until ``--seconds`` have passed, so every run of a workload
executes the same mix of operations whatever its seed.

- ``dashboard``: the warehouse read path.  Set-up builds a warehouse with
  the engine's own ETL (bootstrap, ``run_ingest`` of one generated SINASC,
  SIM and SIH landing day, aggregate refresh); the loop shows a page that
  calls the eight ``queries/warehouse.py`` functions with the reference
  dashboard's parameters.  Facts are small, so per-query fixed
  costs (construction, footer reads, planning, scheduling) dominate.
- ``decision_support``: registered TPC-H-shaped queries and one
  ``queries/olap.py`` twin over generated sf0.1-shaped Parquet (600k
  lineitem rows).  Scans, shuffles and joins dominate, so it pairs with
  ``dashboard``: a fixed-cost optimisation should barely move it, an
  execution optimisation should.  Its traced run also builds, refreshes
  and serves the corpus indexes (``_corpus_phase``).
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from decimal import Decimal

import gen
import twins
from stats import dir_bytes, percentile
from spans import SparkCounts, Tracer

# The reference dashboard gives no call frequencies, so one block is one
# call of each function (a page with every chart), in seeded order.
WAREHOUSE_FNS = [
    "rollup_deaths_by_occupation_schooling",
    "rollup_births_by_state_age",
    "slice_dice_deaths",
    "pivot_deaths_year_by_uf",
    "drill_across_growth",
    "topk_causes_per_family",
    "rollup_cost_by_cause_chapter",
    "stay_cost_by_municipality",
]
DASHBOARD_YEARS = (2015, 2024)
DASHBOARD_ROWS = {"sinasc": 12000, "sim": 3000, "sih": 4000}
TOPK_K = 10  # the reference ranks with ``ranking <= 10``

AGG_OF = {"sinasc": "agg_nascimentos_uf_ano", "sim": "agg_obitos_uf_ano"}
FACT_OF = {"sinasc": "fact_nascimentos", "sim": "fact_obitos", "sih": "fact_internacoes"}

# One query per plan shape: scan + aggregate, filter-only scan, a star
# join of six tables, semi- and anti-join, outer join under a nested
# aggregate, a large group-by with HAVING, and a pivot.  The other 18 of
# the 26 registered TPC-H-shaped queries and olap.py twins are left out:
# a warm-up pass and a timed pass over all 26 take 80-100 s on 4 cores,
# and 22 runs of each workload must fit the benchmark's time envelope.
DECISION_QUERIES = [
    "pricing_summary",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q13_order_count_distribution",
    "tpch_q18_large_orders",
    "tpch_q22_dormant_customers",
    "pivot_year_by_region",
]
DECISION_SF = 0.1

# Served corpus queries of the traced decision_support run, one or two per
# index family, and the corpus they read.
SERVED_QUERIES = {  # registered name: the engine module that defines it
    "ann_ivf_probe_topk": "queries.vector",
    "ann_lsh_probe_topk": "queries.vector",
    "bm25_search_indexed": "queries.search",
    "phrase_search_indexed": "queries.search",
    "dedup_near_clusters_star_served": "queries.text_pipeline",
    "dedup_cross_doc_ngrams_served": "queries.text_pipeline",
}
CORPUS_ROWS = 1000  # documents and embeddings each; the append adds 1%
INDEX_FAMILIES = ("similarity", "inverted", "gramfreq", "dedup")


class Run:
    """State of one benchmark run: the Spark session, tracer, the results
    of every operation and the counters the metrics are computed from."""

    def __init__(self, spark, tracer: Tracer, seed: int, root: str):
        self.spark, self.tr, self.seed, self.root = spark, tracer, seed, root
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.latency: list[float] = []          # seconds per operation, current loop
        self.by_name: dict[str, list[float]] = defaultdict(list)
        self.reference: dict[str, list[float]] = defaultdict(list)  # untraced, traced loop
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.counts = SparkCounts()
        self.rows_returned = 0
        self.info: dict = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def attempt(self, what: str, fn) -> bool:
        """Run one checked call; an exception or a False result counts as a
        failure."""
        self.attempted += 1
        try:
            ok = fn() is not False
        except Exception:  # noqa: BLE001 — the loop must go on and count it
            traceback.print_exc()
            ok = False
        if not ok:
            self.fail(what)
        return ok

    def operation(self, name: str, fn) -> None:
        """Run one timed operation of the loop.  A traced loop runs each
        operation twice, untraced and traced in alternating order; the
        untraced time is the reference the tracing overhead is taken
        against."""
        if not self.tr.enabled:
            dt = self._call(name, fn)
        elif len(self.latency) % 2 == 0:
            self.reference[name].append(self._untraced(name, fn))
            dt = self._call(name, fn)
        else:
            dt = self._call(name, fn)
            self.reference[name].append(self._untraced(name, fn))
        self.latency.append(dt)
        self.by_name[name].append(dt)

    def _call(self, name: str, fn) -> float:
        op = f"op{self.attempted + 1}:{name}"
        self.tr.begin_op(op)
        t0 = time.perf_counter()
        with self.tr.span(f"op.{name}"):
            self.attempt(op, fn)
        dt = time.perf_counter() - t0
        if self.tr.enabled:
            self.counts.add(self.tr.op_counts(op))
        return dt

    def _untraced(self, name: str, fn) -> float:
        self.tr.enabled = False
        try:
            return self._call(name, fn)
        finally:
            self.tr.enabled = True

    def query(self, layer: str, build):
        """Build a DataFrame, then collect it: timed as build / plan / exec
        when tracing (the plan is forced on its own), build + collect
        otherwise.  Returns (columns, rows)."""
        t0 = time.perf_counter()
        with self.tr.span(f"{layer}.build"):
            df = build()
        t1 = time.perf_counter()
        if self.tr.enabled:
            with self.tr.span(f"{layer}.plan"):
                df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        with self.tr.span(f"{layer}.exec"):
            rows = df.collect()
        t3 = time.perf_counter()
        if self.tr.enabled:
            self.layer[f"{layer}.build_ms"].append((t1 - t0) * 1e3)
            self.layer[f"{layer}.plan_ms"].append((t2 - t1) * 1e3)
            self.layer[f"{layer}.exec_ms"].append((t3 - t2) * 1e3)
            self.rows_returned += len(rows)
        return df.columns, rows

    def timed(self, name: str, fn):
        t = time.perf_counter()
        with self.tr.span(name):
            out = fn()
        self.layer[name].append(time.perf_counter() - t)
        return out

    @contextmanager
    def timing_load_table(self):
        """Time the engine's own traced ``catalog.load_table`` calls: every
        module of the engine that holds the function by name gets a timing
        wrapper for the duration of the block."""
        from olap_sus_spark import catalog

        original = catalog.load_table

        def load_table(*args, **kwargs):
            if not self.tr.enabled:
                return original(*args, **kwargs)
            return self.timed("catalog.load_table", lambda: original(*args, **kwargs))

        holders = [m for name, m in list(sys.modules.items())
                   if name.startswith("olap_sus_spark") and m is not None
                   and getattr(m, "load_table", None) is original]
        for m in holders:
            m.load_table = load_table
        try:
            yield
        finally:
            for m in holders:
                m.load_table = original


def _blocks(seconds: float, make_block, run_op) -> None:
    """Run whole blocks until ``seconds`` have passed (at least one)."""
    t_end = time.perf_counter() + seconds
    while True:
        for op in make_block():
            run_op(op)
        if time.perf_counter() >= t_end:
            return


# ---------------------------------------------------------------------------
# Warehouse set-up through the engine's ETL.
# ---------------------------------------------------------------------------

def _bootstrap(run: Run) -> tuple[gen.Seeds, str]:
    from olap_sus_spark import etl

    seeds = run.timed("gen.seeds", lambda: gen.write_seeds(os.path.join(run.root, "seeds"),
                                                          run.seed))
    wh = os.path.join(run.root, "warehouse")
    run.timed("etl.bootstrap_warehouse", lambda: etl.bootstrap_warehouse(run.spark,
                                                                         seeds.paths, wh))
    return seeds, wh


def _ingest(run: Run, ds: str, day: str, landing: str, wh: str, counts: gen.DayCounts) -> None:
    """``etl.run_ingest`` of one landing day, and in a traced run the
    attribution of the lazy layers under it (``_attribute_ingest``)."""
    from olap_sus_spark import etl

    before = [dir_bytes(os.path.join(wh, t)) for t in (FACT_OF[ds], etl.BRIDGE_TABLE)]
    run.timed(f"etl.run_ingest.{ds}", lambda: etl.run_ingest(run.spark, ds, day, landing, wh))
    t_ing = run.layer[f"etl.run_ingest.{ds}"][-1]
    after = [dir_bytes(os.path.join(wh, t)) for t in (FACT_OF[ds], etl.BRIDGE_TABLE)]
    run.layer["etl.ingest_rows"].append(counts.raw_rows)
    run.layer["etl.ingest_s"].append(t_ing)
    run.layer["sources.raw_csv.bytes_read"].append(counts.raw_bytes)
    run.layer["sources.sinks.files_written"].append(
        sum(max(a[0] - b[0], 0) for a, b in zip(after, before)))
    run.layer["sources.sinks.bytes_written"].append(
        sum(max(a[1] - b[1], 0) for a, b in zip(after, before)))
    if run.tr.enabled:
        _attribute_ingest(run, ds, day, landing, wh, counts)


def _attribute_ingest(run: Run, ds: str, day: str, landing: str, wh: str,
                      counts: gen.DayCounts) -> None:
    """Self times of the lazy layers under ``run_ingest``: each prefix of
    the pipeline is materialised to a ``noop`` sink, then the day is
    ingested again (the overwrite path; the output check then shows that
    the replay left the day's sums unchanged).  The replay's time less
    its prefixes' is the sinks' share; prefixes and replay run after the
    first ingest, so all of them are equally warm."""
    from olap_sus_spark import etl
    from olap_sus_spark.operators import facts, transforms
    from olap_sus_spark.sources import raw_csv

    spark = run.spark

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def timed(name, fn):
        run.timed(name, fn)
        return run.layer[name][-1]

    raw = raw_csv.read_dataset(spark, landing, ds, day)
    t_read = timed("sources.raw_csv.read", lambda: noop(raw))
    decoded = getattr(transforms, f"transform_{ds}")(raw)
    t_dec = timed("operators.transforms.prefix", lambda: noop(decoded))
    build_fact = {"sinasc": facts.build_fact_nascimentos, "sim": facts.build_fact_obitos,
                  "sih": facts.build_fact_internacoes}[ds]
    # Building the fact plan does driver-side work of its own (the SIM
    # cause map is collected and inlined), so it is timed too.
    built = []
    t_build = timed("operators.facts.build",
                    lambda: built.append(build_fact(decoded, etl.load_dims(spark, wh))))
    fact, bridge = built[0] if isinstance(built[0], tuple) else (built[0], None)
    t_fact = t_build + timed("operators.facts.prefix", lambda: noop(fact))
    # SIM's run_ingest runs a second pipeline, for the cause-group bridge.
    # Its prefix (read, decode, group) is kept out of the sinks' share; its
    # part beyond the decode is charged to facts.
    t_bridge = bridge_self = 0.0
    if bridge is not None:
        t_bridge = timed("operators.facts.bridge_prefix", lambda: noop(bridge))
        bridge_self = t_bridge - t_dec
    t_replay = timed(f"etl.run_ingest_replay.{ds}",
                     lambda: etl.run_ingest(spark, ds, day, landing, wh))
    run.layer["operators.transforms.self_s"].append(t_dec - t_read)
    run.layer["operators.facts.self_s"].append(t_fact - t_dec + bridge_self)
    run.layer["sources.sinks.write_s"].append(t_replay - t_fact - t_bridge)
    run.layer["operators.transforms.kept_ratio"].append(counts.kept_rows / counts.raw_rows)
    part = os.path.join(wh, FACT_OF[ds], f"dt={day}")
    run.layer["operators.facts.grain_ratio"].append(
        _parquet_rows(part) / max(counts.kept_rows, 1))


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(path, n)).metadata.num_rows
               for n in os.listdir(path) if n.endswith(".parquet"))


def _check_day_sums(run: Run, wh: str, expected: dict[tuple[str, str], gen.DayCounts]) -> None:
    """Per-day measure sums in the warehouse equal the generator's counts."""
    con = twins.warehouse_connection(wh)
    measure = {"sinasc": "SUM(quantidade_nascimentos)", "sim": "SUM(quantidade_obitos)",
               "sih": "SUM(quantidade_procedimentos), SUM(valor)"}
    for (ds, day), c in sorted(expected.items()):
        got = con.execute(f"SELECT {measure[ds]} FROM {FACT_OF[ds]} "
                          f"WHERE CAST(dt AS VARCHAR) = '{day}'").fetchone()
        want = (c.procedures, c.valor) if ds == "sih" else (c.kept_rows,)
        if tuple(int(g) if not isinstance(g, Decimal) else g for g in got) != want:
            run.fail(f"{ds} {day}: warehouse holds {got}, landing day has {want}")
    con.close()


def _warehouse_ratio(wh: str, landing: str) -> float:
    return dir_bytes(wh)[1] / dir_bytes(landing)[1]


# ---------------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------------

def _dashboard_block(seeds: gen.Seeds, rng: random.Random) -> list[tuple]:
    """One block: each function once, in seeded order, with the reference
    dashboard's parameters.  Top-k uses the reference's k and drill-across
    its three health regions; slice-and-dice takes a city, drawn in
    proportion to population (the landing days' own weights, so popular
    cities repeat and rare ones miss), and a year range drawn uniformly
    from the ranges within the warehouse's years."""
    city_w = gen.zipf_cum_weights(len(seeds.mun_names), gen.POPULATION_ZIPF_S)
    years = range(DASHBOARD_YEARS[0], DASHBOARD_YEARS[1] + 1)
    ranges = [(y0, y1) for y0 in years for y1 in years if y0 <= y1]
    params = {
        "slice_dice_deaths": (rng.choices(seeds.mun_names, cum_weights=city_w)[0],
                              *rng.choice(ranges)),
        "drill_across_growth": (tuple(gen.REFERENCE_HEALTH_REGIONS),),
        "topk_causes_per_family": (TOPK_K,),
    }
    ops = [(fn, params.get(fn, ())) for fn in WAREHOUSE_FNS]
    rng.shuffle(ops)
    return ops


def dashboard(run: Run) -> dict:
    from olap_sus_spark import etl
    from olap_sus_spark.queries import warehouse

    seeds, wh = _bootstrap(run)
    landing = os.path.join(run.root, "landing")
    day = "2024-12-31"
    expected = {}
    for ds in gen.DATASETS:
        expected[(ds, day)] = c = run.timed("gen.landing", lambda ds=ds: gen.write_landing_day(
            landing, seeds, ds, day, DASHBOARD_ROWS[ds], run.seed, DASHBOARD_YEARS))
        _ingest(run, ds, day, landing, wh, c)
    for name in AGG_OF.values():
        run.timed("etl.refresh_aggregate", lambda name=name: etl.refresh_aggregate(
            run.spark, wh, name))

    results: list[tuple[str, tuple, str]] = []

    def call(fn: str, params: tuple) -> None:
        cols, rows = run.query(
            "queries.warehouse",
            lambda: getattr(warehouse, fn)(run.spark, wh, *(list(p) if isinstance(p, tuple)
                                                            else p for p in params)))
        results.append((fn, params, twins.result_hash(cols, rows, float_digits=12)))

    def run_op(op):
        run.operation(op[0], lambda: call(*op))

    def loop(secs: float) -> None:
        rng = random.Random(f"dashboard-{run.seed}")  # every loop replays one schedule
        _blocks(secs, lambda: _dashboard_block(seeds, rng), run_op)

    def check() -> None:
        _check_day_sums(run, wh, expected)
        con = twins.warehouse_connection(wh)
        verified: dict[tuple, str] = {}
        for fn, params, h in results:
            key = (fn, params)
            if key not in verified:
                verified[key] = twins.duck_hash(con, twins.twin_sql(con, fn, params),
                                                float_digits=12)
            if verified[key] != h:
                run.fail(f"{fn}{params}: result differs from its DuckDB twin")
        con.close()

    run.info["stored_bytes_per_input_byte"] = _warehouse_ratio(wh, landing)
    return {"loop": loop, "check": check}


# ---------------------------------------------------------------------------
# decision_support
# ---------------------------------------------------------------------------

def decision_support(run: Run) -> dict:
    import __spark_entry__ as contract

    sf = os.path.join(run.root, "sf")
    corpus = os.path.join(run.root, "corpus")
    tables = run.timed("gen.tpch", lambda: gen.write_tpch(sf, run.seed, DECISION_SF))
    run.info["tables"] = tables
    queries = contract.queries()
    results: list[tuple[str, str]] = []
    served: list[tuple[str, str]] = []

    def call(name: str):
        return run.query("queries", lambda: queries[name](run.spark, sf))

    def run_op(name: str) -> None:
        def checked_call():
            cols, rows = call(name)
            results.append((name, twins.result_hash(cols, rows)))
        run.operation(name, checked_call)

    # A query's first call in a fresh JVM costs 1.3-4x a later one (class
    # loading, JIT, code generation) and varies far more from run to run;
    # one untimed pass keeps that out of the timed block.
    for name in DECISION_QUERIES:
        run.timed("warm_up", lambda name=name: call(name))

    def loop(secs: float) -> None:
        rng = random.Random(f"decision-{run.seed}")  # every loop replays one schedule

        def block() -> list[str]:
            return rng.sample(DECISION_QUERIES, len(DECISION_QUERIES))

        with run.timing_load_table() if run.tr.enabled else nullcontext():
            _blocks(secs, block, run_op)

    def check() -> None:
        import duckdb

        oracles = contract.oracle_sql()
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        verified = {n: twins.duck_hash(con, oracles[n]) for n in DECISION_QUERIES}
        con.close()
        for name, h in results:
            if verified[name] != h:
                run.fail(f"{name}: result differs from oracle_sql()")
        if served:
            con = duckdb.connect()
            con.execute("SET threads TO 2")
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{corpus}/{t}.parquet/*.parquet')")
            verified = {n: twins.duck_hash(con, oracles[n]) for n in SERVED_QUERIES}
            con.close()
            for name, h in served:
                if verified[name] != h:
                    run.fail(f"{name}: served result differs from oracle_sql()")

    return {"loop": loop, "check": check,
            "traced_extra": lambda: _corpus_phase(run, queries, corpus, served)}


def _corpus_phase(run: Run, queries: dict, corpus: str, served: list) -> None:
    """The corpus indexes, in a traced decision_support run only: generate
    a small corpus, build each maintained index family, append one 1%
    part and refresh each family, then serve each query once.  The results
    are checked against ``oracle_sql()`` over the grown corpus, so a
    refresh that misses the append fails the run."""
    from olap_sus_spark.operators import dedup, gramfreq, index_store, inverted
    from olap_sus_spark.operators import similarity as sim
    from olap_sus_spark.queries import text_pipeline, vector

    spark = run.spark
    run.tr.begin_op("corpus")
    srp = {"dim": vector._DIM, "n_tables": vector._LSH_T, "n_bits": vector._LSH_H}
    nc = vector._NC
    # The same index parameters as the served queries, so they find the
    # indexes built here.
    build = {
        "similarity": lambda: (sim.load_or_build_srp_index(spark, corpus, **srp),
                               sim.load_or_build_ivf_index(spark, corpus, num_centroids=nc)),
        "inverted": lambda: inverted.load_or_build_inverted_index(spark, corpus),
        "gramfreq": lambda: gramfreq.load_or_build_gram_rollup(spark, corpus),
        "dedup": lambda: dedup.load_or_build_cluster_index(
            spark, corpus, text_pipeline.augmented_docs(spark, corpus), threshold=0.5),
    }
    refresh = {
        "similarity": lambda: (sim.refresh_srp_index(spark, corpus, **srp),
                               sim.refresh_ivf_index(spark, corpus, num_centroids=nc)),
        "inverted": lambda: inverted.refresh_inverted_index(spark, corpus),
        "gramfreq": lambda: gramfreq.refresh_gram_rollup(spark, corpus),
        "dedup": lambda: dedup.refresh_cluster_index(
            spark, corpus, text_pipeline.augmented_docs_of(corpus), threshold=0.5),
    }
    run.timed("gen.corpus", lambda: gen.write_corpus(corpus, run.seed, "part-00", 0,
                                                     CORPUS_ROWS))
    for fam in INDEX_FAMILIES:
        run.timed(f"operators.{fam}.build", build[fam])
    run.timed("gen.corpus", lambda: gen.write_corpus(corpus, run.seed, "part-01", CORPUS_ROWS,
                                                     CORPUS_ROWS // 100))
    for fam in INDEX_FAMILIES:
        run.timed(f"operators.{fam}.refresh", refresh[fam])

    def serve(name: str, layer: str) -> None:
        def collect():
            df = queries[name](spark, corpus)
            return df.columns, df.collect()

        cols, rows = run.timed(layer, collect)
        served.append((name, twins.result_hash(cols, rows)))

    for name, module in SERVED_QUERIES.items():
        run.attempt(f"served {name}", lambda: serve(name, f"{module}.{name}"))
    indexes = [e.path for e in os.scandir(index_store.index_root()) if e.is_dir()]
    run.layer["operators.index_store.files_per_index"].append(
        sum(dir_bytes(d)[0] for d in indexes) / max(len(indexes), 1))


WORKLOADS = {"dashboard": dashboard, "decision_support": decision_support}


def layer_metrics(run: Run, cores: int) -> dict[str, float]:
    """Per-layer numbers of a traced loop (0 for a layer the workload does
    not call)."""
    L = run.layer

    def mean(name):
        return sum(L[name]) / len(L[name]) if L.get(name) else 0.0

    def med(values):
        return percentile(values, 50) if values else 0.0

    n_ops = max(len(run.latency), 1)
    c = run.counts
    out = {
        "etl.run_ingest.sinasc_s": med(L.get("etl.run_ingest.sinasc", [])),
        "etl.run_ingest.sim_s": med(L.get("etl.run_ingest.sim", [])),
        "etl.run_ingest.sih_s": med(L.get("etl.run_ingest.sih", [])),
        "sources.raw_csv.read_s": mean("sources.raw_csv.read"),
        "sources.raw_csv.bytes_read": mean("sources.raw_csv.bytes_read"),
        "operators.transforms.self_s": mean("operators.transforms.self_s"),
        "operators.transforms.kept_ratio": mean("operators.transforms.kept_ratio"),
        "operators.facts.self_s": mean("operators.facts.self_s"),
        "operators.facts.grain_ratio": mean("operators.facts.grain_ratio"),
        "sources.sinks.write_s": mean("sources.sinks.write_s"),
        "sources.sinks.files_written": mean("sources.sinks.files_written"),
        "sources.sinks.bytes_written": mean("sources.sinks.bytes_written"),
        "etl.refresh_aggregate_s": med(L.get("etl.refresh_aggregate", [])),
        "etl.ingest_rows_per_s": (sum(L["etl.ingest_rows"]) / sum(L["etl.ingest_s"])
                                  if L.get("etl.ingest_s") else 0.0),
        "catalog.load_table_ms": med(L.get("catalog.load_table", [])) * 1e3,
        "spark.jobs_per_op": c.jobs / n_ops,
        "spark.stages_per_op": c.stages / n_ops,
        "spark.tasks_per_op": c.tasks / n_ops,
        "spark.input_rows_per_op": c.input_rows / n_ops,
        "spark.shuffle_write_bytes_per_op": c.shuffle_write_bytes / n_ops,
        "spark.spill_bytes": float(c.spill_bytes),
        "spark.cpu_busy_ratio": (c.run_ms / 1e3 / (sum(run.latency) * cores)
                                 if run.latency else 0.0),
        "spark.rows_scanned_per_row_returned": c.input_rows / max(run.rows_returned, 1),
    }
    for layer in ("queries.warehouse", "queries"):
        for part in ("build_ms", "plan_ms", "exec_ms"):
            out[f"{layer}.{part}"] = med(L.get(f"{layer}.{part}", []))
    for fn in WAREHOUSE_FNS:
        out[f"queries.warehouse.{fn}.p50_ms"] = med(run.by_name.get(fn, [])) * 1e3
    for q in DECISION_QUERIES:
        out[f"queries.{q}.p50_ms"] = med(run.by_name.get(q, [])) * 1e3
    for fam in INDEX_FAMILIES:
        out[f"operators.{fam}.build_s"] = med(L.get(f"operators.{fam}.build", []))
        out[f"operators.{fam}.refresh_s"] = med(L.get(f"operators.{fam}.refresh", []))
    for name, module in SERVED_QUERIES.items():
        out[f"{module}.{name}.p50_ms"] = med(L.get(f"{module}.{name}", [])) * 1e3
    out["operators.index_store.files_per_index"] = mean("operators.index_store.files_per_index")
    return out
