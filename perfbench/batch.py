"""batch: registry queries over a seeded synthetic corpus.

The corpus comes from the ``synth`` generators that
``synth.write_synth_sf`` calls, at the run's seed, with a share of the
documents turned into exact and near copies of earlier ones
(``inputs.inject_duplicates``) so the dedup queries find pairs.

The session is configured exactly as ``bench.py`` configures it, with
the plan, table and index caches on. Set-up is the cold pass (new
session, tables cached, every query constructed and executed once,
write-time indexes built); timed passes re-execute every query in a
seed-shuffled order until ``--seconds`` have passed. Results are
checked afterwards against each query's DuckDB oracle
(``queries.oracle_sql()``).
"""

from __future__ import annotations

import time

import common
import inputs
from data_feature_extraction_and_retrieval_pipeline_spark import (
    api,
    caching,
    indexes,
    queries,
    synth,
)
from data_feature_extraction_and_retrieval_pipeline_spark.sources import (
    readers,
)
from spans import Tracer, busy_pct, wrap_collect
from tools.check_correctness import normalize

# bench.py HEADLINE entries that run on the documents / embeddings /
# events tables: three retrieval shapes (tag_search and hybrid_search
# read write-time index artifacts), aggregate, sessionize window, exact
# dedup, BM25, plus the pair-mining near-dup dedup that puts real bytes
# through the shuffle. Every one has an oracle. Sized so four cold
# passes fit the run budget (workloads.json lists what was left out).
QUERIES = [
    "knn_whole",
    "hybrid_search",
    "tag_search",
    "agg_group_stats",
    "events_sessionize",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "text_bm25_topk",
]
# Cold passes per run. The first runs in a JVM that has compiled none
# of Spark's planning code yet and takes about three times as long as
# the next; it is reported apart (setup_first_s) and setup_s is the
# median of the rest.
SETUP_REPS = 4
COLD_ORDER = 1 << 20  # pass-order stream ids of the cold passes
TABLES = ("documents", "embeddings", "events")


def _caches(on: bool) -> None:
    queries.enable_plan_cache(on)
    readers.enable_table_cache(on)
    indexes.enable_index_cache(on)


def _oracle_check(sf: str, results: dict) -> list[dict]:
    import duckdb

    oracles = queries.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            # Spark-written tables are directories of part files
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet/*.parquet'"
            )
        out = []
        for name in QUERIES:
            if name not in results:  # every execution of it failed
                out.append({"query": name, "ok": False, "rows": None})
                continue
            cols, rows = results[name]
            rel = con.sql(oracles[name])
            ok = sorted(cols) == sorted(rel.columns) and normalize(
                [tuple(r) for r in rows], cols
            ) == normalize(rel.fetchall(), rel.columns)
            out.append({"query": name, "ok": ok, "rows": len(rows)})
        return out
    finally:
        con.close()


class _Run:
    def __init__(self, seed, seconds, trace, work):
        self.seed, self.seconds, self.work = seed, seconds, work
        self.sf = f"{work}/sf"
        self.tracer = Tracer() if trace else None
        self.collects: list = []  # traced collects not yet summed
        self.construct: list[dict] = []  # per set-up: s and jobs
        self.cold: list[dict] = []  # per set-up: query -> cold wall s
        self.spark = None
        self.tracing = False

    def execute(self, name: str):
        """Construct (plan cache: first call only) and collect one query,
        each under a job group so Spark's accounting splits them."""
        fn = queries.queries()[name]
        if not self.tracing:
            df = fn(self.spark, self.sf)
            rows = df.collect()
            caching.release(name)
            return df.columns, rows
        sc = self.spark.sparkContext
        try:
            sc.setJobGroup(f"construct:{name}", "perfbench construct")
            with self.tracer.span("queries.construct"):
                df = fn(self.spark, self.sf)
            sc.setJobGroup(f"execute:{name}", "perfbench execute")
            rows = df.collect()
            caching.release(name)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return df.columns, rows

    def setup_once(self, rep: int) -> float:
        _caches(False)
        if self.spark is not None:
            self.spark.stop()
        ck0 = sum(api.CHECKPOINT_SECONDS.values())
        t0 = time.perf_counter()
        self.spark = common.start_spark(self.work, batch=True)
        _caches(True)
        for t in TABLES:
            readers.load_table(self.spark, self.sf, t).count()
        tc = 0.0
        cold = {}
        for name in inputs.pass_order(self.seed, QUERIES, COLD_ORDER + rep):
            if self.tracing:
                s0 = len(self.tracer.spans)
            tq = time.perf_counter()
            self.execute(name)
            cold[name] = time.perf_counter() - tq
            if self.tracing:
                tc += sum(
                    s[2] - s[1] for s in self.tracer.spans[s0:]
                    if s[0] == "queries.construct"
                )
        caching.release()
        dt = time.perf_counter() - t0
        self.cold.append(cold)
        if self.tracer is not None:
            ledger = common.JobLedger(self.spark)
            jobs = [ledger.jobs(ledger.group(f"construct:{n}"))["jobs"]
                    for n in QUERIES]
            cold = common.collect_totals(self.spark, self.collects)
            self.construct.append({
                "s": tc, "jobs": sum(jobs),
                "plan_ms": cold["plan_ms"], "fetch_ms": cold["fetch_ms"],
                "indexes.build_s": sum(indexes.BUILD_SECONDS.values()),
                "api.checkpoint_s": sum(api.CHECKPOINT_SECONDS.values()) - ck0,
            })
        return dt

    def set_tracing(self, on: bool) -> None:
        if on and not self.tracing:
            wrap_collect(self.tracer, self.collects)
        elif not on and self.tracing:
            self.tracer.restore()
        self.tracing = on

    def timed(self, alternate: bool = False) -> dict:
        """Seed-ordered passes until the deadline; the first pass always
        completes. With ``alternate`` (traced runs) the phase lasts twice
        as long and every second pass is traced, so traced and untraced
        passes are equally warm. Returns per-query walls, full-pass walls
        by tracing state and the last result of every query."""
        ledger = common.JobLedger(self.spark)
        walls: dict[str, list[float]] = {}
        passes: dict[bool, list[float]] = {False: [], True: []}
        per_pass_exec, traced_wall = [], 0.0
        results, row_counts, errors = {}, {}, 0
        t_start = time.perf_counter()
        deadline = t_start + self.seconds * (2 if alternate else 1)
        n = 0
        while n == 0 or time.perf_counter() < deadline:
            traced = alternate and n % 2 == 1
            self.set_tracing(traced)
            job0 = ledger.max_job_id() if traced else None
            tp = time.perf_counter()
            full = True
            for name in inputs.pass_order(self.seed, QUERIES, n):
                if n > 0 and time.perf_counter() >= deadline:
                    full = False
                    break
                t0 = time.perf_counter()
                try:
                    cols, rows = self.execute(name)
                except Exception:  # counted; the run reports correct=false
                    errors += 1
                    continue
                walls.setdefault(name, []).append(time.perf_counter() - t0)
                results[name] = (cols, rows)
                row_counts.setdefault(name, set()).add(len(rows))
            if traced:
                traced_wall += time.perf_counter() - tp
            if full:
                passes[traced].append(time.perf_counter() - tp)
            if traced:
                unit = ledger.jobs(after=job0)
                unit.update(common.collect_totals(self.spark, self.collects))
                if full:
                    per_pass_exec.append(unit)
            n += 1
        self.set_tracing(False)
        return {
            "walls": walls, "passes": passes[False], "results": results,
            "row_counts": row_counts, "errors": errors,
            "wall": time.perf_counter() - t_start, "exec": per_pass_exec,
            "traced_passes": passes[True], "traced_wall": traced_wall,
        }


def run(seed: int, seconds: float, trace: bool, work: str) -> dict:
    r = _Run(seed, seconds, trace, work)
    cond = {"nproc": common.nproc(), "loadavg_before": common.loadavg()}
    jiffies0 = common.cpu_jiffies()
    try:
        t0 = time.perf_counter()
        r.spark = common.start_spark(work, batch=True)
        session_start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        # synth's generators, as synth.write_synth_sf calls them but
        # with one partition per core instead of 32: the rows are the
        # same (counter-seeded per row) and generation takes a few
        # seconds instead of about 17.
        parts = common.nproc()
        tables = {
            "documents": synth.synth_documents(
                r.spark, inputs.BATCH_DOCS, seed=seed, parts=parts),
            "embeddings": synth.synth_embeddings(
                r.spark, inputs.BATCH_VECS, seed=seed,
                n_clusters=inputs.BATCH_CLUSTERS, parts=parts),
            "events": synth.synth_events(
                r.spark, inputs.BATCH_EVENTS, seed=seed, parts=parts),
        }
        for name, df in tables.items():
            df.write.parquet(f"{r.sf}/{name}.parquet")
        inputs.inject_duplicates(seed, r.sf)
        gen_s = time.perf_counter() - t0
        if r.tracer is not None:
            r.set_tracing(True)
        setup_first = r.setup_once(0)
        setups = [r.setup_once(rep) for rep in range(1, SETUP_REPS)]
        cond["job_floor_ms"] = common.job_floor_ms(r.spark)
        spans0 = len(r.tracer.spans) if r.tracer is not None else 0
        main = r.timed(alternate=r.tracer is not None)
        rss = common.peak_rss_mb()
        cond["loadavg_after"] = common.loadavg()
        cond["cpu_steal_share"] = common.steal_share(jiffies0)
    finally:
        common.stop_jvm(r.spark)

    # -- correctness gate: after timing, outside every metric ------------
    gate = _oracle_check(r.sf, main["results"])
    unstable = [n for n, c in main["row_counts"].items() if len(c) != 1]
    attempted = sum(len(w) for w in main["walls"].values()) + (
        main["errors"] + len(gate))
    failed = main["errors"] + len(unstable) + sum(
        1 for g in gate if not g["ok"]
    )
    # Each query's median warm wall, then the median (nearest rank) and
    # mean across the query set: pooled executions would put p50 on the
    # boundary between two queries' clusters, where one pass more or
    # less moves it by the gap between them.
    per_query = {
        name: common.median(w) * 1000.0 for name, w in main["walls"].items()
    }
    n_exec = sum(len(w) for w in main["walls"].values())
    n_q = (f"{n_exec} executions of {len(per_query)} queries in "
           f"{len(main['passes'])} full passes")
    metrics = {
        "setup_s": (common.median(setups), "s",
                    f"median of {len(setups)} cold passes after a first"),
        "latency_p50_ms": (common.pct(per_query.values(), 50), "ms",
                           "over per-query medians; " + n_q),
        "latency_mean_ms": (sum(per_query.values()) / len(per_query), "ms",
                            "over per-query medians; " + n_q),
        "throughput_per_s": (len(QUERIES) / common.median(main["passes"]),
                             "1/s", "query set / median full pass; " + n_q),
        "driver_rss_mb": (rss, "MB", "peak over the run"),
    }
    detail = {
        "run_conditions": cond,
        "setup_first_s": setup_first,
        "samples": {"setup_s": setups, "executions": n_exec,
                    "full_passes": len(main["passes"])},
        "batch.pass_s": common.median(main["passes"]),
        "query_median_ms": per_query,
        "latency_p90_ms": common.pct(per_query.values(), 90),
        "cold_query_s": r.cold,
        "queries": QUERIES,
        "error_rate": failed / attempted,
        "generate_s": gen_s,
        "session.start_s": session_start_s,
        "gate": gate,
        "unstable_row_counts": unstable,
        "rss_note": "peak RSS of the Python driver process; the JVM is "
                    "a separate process and is not counted",
    }
    out = {"attempted": attempted, "failed": failed, "metrics": metrics,
           "detail": detail}
    if r.tracer is not None:
        out["layers"] = _layers(r, main, spans0, session_start_s, cond)
        r.tracer.dump(f"{work}/spans.json")
        out["spans"] = f"{work}/spans.json"
    return out


def _layers(r: _Run, main, spans0, session_start_s, cond) -> dict:
    tr = r.tracer
    layers = {
        "session.start_s": session_start_s,
        "session.job_floor_ms": cond["job_floor_ms"],
        "queries.construct_s": common.median([c["s"] for c in r.construct]),
        "queries.construct_jobs": common.median(
            [c["jobs"] for c in r.construct]),
        "indexes.build_s": common.median(
            [c["indexes.build_s"] for c in r.construct]),
        "api.checkpoint_s": common.median(
            [c["api.checkpoint_s"] for c in r.construct]),
        "service.cache_hit_ratio": 0.0,  # no service in this workload
    }
    layers.update(common.exec_layers(main["exec"]))
    layers["catalyst.plan_ms_cold_pass"] = common.median(
        [c["plan_ms"] for c in r.construct])
    layers.update(busy_pct(tr, spans0, main["traced_wall"]))
    layers["trace.overhead_pct"] = 100.0 * (
        common.median(main["traced_passes"]) / common.median(main["passes"])
        - 1
    )
    return layers
