"""serve-hot: the HTTP service over the hot tier.

Starts ``service.serve(engine, hot=True, model_loader=stub)`` over the
seeded corpus and drives it from a separate load-generator process
(loadgen.py): an open-loop phase at a fixed Poisson rate, then a
closed-loop phase with ``nproc`` clients.
"""

from __future__ import annotations

import http.client
import json
import pickle
import subprocess
import sys
import time
from pathlib import Path

import common
import inputs
from data_feature_extraction_and_retrieval_pipeline_spark import (
    api,
    service,
    serving,
)
from spans import Tracer, busy_pct, wrap_collect

# Open-loop rate: fixed, so every commit is offered the same load. The
# closed-loop capacity with nproc clients ran 235-314 req/s over five
# seeds on a shared 4-vCPU host (workloads.json); 100 req/s is about a
# third of it rather than half, so that a busy host period slows
# service time without turning latency into queue growth.
OPEN_RATE = 100.0
OPEN_SHARE = 0.6  # of --seconds; the rest is the closed-loop phase
SETUP_REPS = 5
WARMUP_REQUESTS = 64
GATE_PER_MODE = 1
FLOAT_TOL = 1e-9  # tests/test_serving.py's hot-vs-Spark tolerance
LOADGEN = Path(__file__).with_name("loadgen.py")


def stub_loader():
    """Model seam: None selects the deterministic stub encoder."""
    return None


def _post(port: int, path: str, ctype: str, body: bytes, tag: str = "x"):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        conn.request("POST", path, body,
                     {"Content-Type": ctype, "X-Bench-Req": tag})
        resp = conn.getresponse()
        data = resp.read()
        return resp.status, (json.loads(data) if resp.status == 200 else None)
    finally:
        conn.close()


def _rows_match(hot: list, spark: list) -> bool:
    if len(hot) != len(spark):
        return False
    for h, s in zip(hot, spark):
        if set(h) != set(s):
            return False
        for k, sv in s.items():
            hv = h[k]
            if isinstance(sv, float):
                if not isinstance(hv, (int, float)) or abs(hv - sv) > FLOAT_TOL:
                    return False
            elif hv != sv:
                return False
    return True


def _spark_rows(engine, r: inputs.Request) -> list[dict]:
    """The Spark tier's answer for a pool request (what the service's
    hot=False tier would serve)."""
    if r.mode == "tags":
        df = engine.search("tags", tags=r.tags, top_k=r.top_k)
    else:
        kwargs: dict = {}
        if r.tag_filter:
            kwargs["tag_filter"] = r.tag_filter
        df = engine.search_content(
            r.payload, filename=r.filename, mode=r.mode, top_k=r.top_k,
            max_segments=10, model_loader=stub_loader, **kwargs,
        )
    return [row.asDict(recursive=True) for row in df.limit(r.top_k).collect()]


def _install_tracing(tracer: Tracer, collects: list) -> None:
    tracer.wrap(
        service._Handler, "do_POST", "service.request",
        req_of=lambda a: a[0].headers.get("X-Bench-Req"),
    )
    tracer.wrap(api.Engine, "search_content_rows", "api.search_content_rows")
    tracer.wrap(api.Engine, "search_rows", "api.search_rows")
    for mode in ("whole", "segment", "hybrid", "tags"):
        tracer.wrap(serving.HotSearchIndex, mode, f"serving.score.{mode}")
    tracer.wrap(serving.HotSearchIndex, "tag_allowed", "serving.tag_allowed")
    tracer.wrap(serving.HotSearchIndex, "from_engine", "serving.build")
    wrap_collect(tracer, collects)


class _Run:
    """One serve-hot run: state shared by setup, timed phases and gate."""

    def __init__(self, seconds, trace, work):
        self.seconds, self.work = seconds, work
        self.tracer = Tracer() if trace else None
        self.collects: list = []  # traced collects not yet summed
        self.units: list[dict] = []  # per hot build: jobs, plan, fetch
        self.spark = self.server = self.engine = None

    # -- set-up -------------------------------------------------------------

    def stop_server(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None

    def setup_once(self, paths) -> float:
        """New Spark session, tables, Engine, hot build, bound server."""
        self.stop_server()
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = common.start_spark(self.work, batch=False)
        read = self.spark.read.parquet
        self.engine = api.Engine(
            read(paths["images"]), read(paths["segments"]),
            read(paths["segment_tags"]),
        )
        self.server = service.serve(
            self.engine, hot=True, model_loader=stub_loader
        )
        dt = time.perf_counter() - t0
        if self.tracer is not None:
            # this session has run exactly one thing: the hot build
            unit = common.JobLedger(self.spark).jobs()
            unit.update(common.collect_totals(self.spark, self.collects))
            self.units.append(unit)
        return dt

    @property
    def port(self) -> int:
        return self.server.server_address[1]

    def warm(self, pool, seq) -> None:
        """Fresh response cache, then a few requests so first-call costs
        (BLAS, code paths) are paid before timing."""
        handler = self.server.RequestHandlerClass
        handler.resp_cache = type(handler.resp_cache)(inputs.RESPONSE_LRU)
        for k in seq[:WARMUP_REQUESTS]:
            r = pool[k]
            _post(self.port, r.path, r.ctype, r.body, "w")

    # -- timed phase ---------------------------------------------------------

    def timed(self, pool, reqs, sched, closed_seq) -> dict:
        """One open-then-closed phase from loadgen.py in a child
        process. Arguments go in and records come back pickled over its
        pipes; the child is waited for (killed first if it overruns or
        this process fails), so none outlives the phase."""
        closed_s = self.seconds * (1 - OPEN_SHARE)
        t0 = time.monotonic() + 1.0  # room for the generator to start
        args = pickle.dumps((
            "127.0.0.1", self.port, reqs, sched, t0, closed_seq, closed_s,
            common.nproc(),
        ))
        proc = subprocess.Popen(
            [sys.executable, "-B", str(LOADGEN)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )
        try:
            out, _ = proc.communicate(args, timeout=self.seconds + 150)
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        if proc.returncode != 0:
            raise RuntimeError(f"load generator exited {proc.returncode}")
        return pickle.loads(out)


def _summarize(res: dict) -> dict:
    """End-to-end numbers of one timed phase, plus failure counts."""
    opens, closed = res["open"], res["closed"]
    lat = [(done - due) * 1000.0 for _k, due, _s, done, _st, _ok in opens]
    late = [(send - due) * 1000.0 for _k, due, send, _d, _st, _ok in opens]
    end = res["t_closed"] + res["closed_seconds"]
    completed = [r for r in closed if r[2] <= end and r[4]]
    failed = sum(1 for r in opens if not r[5]) + sum(
        1 for r in closed if not r[4]
    )
    return {
        "p50_ms": common.pct(lat, 50),
        "mean_ms": sum(lat) / len(lat),
        "p90_ms": common.pct(lat, 90),
        "p99_ms": common.pct(lat, 99),
        "n_open": len(opens),
        "late_p99_ms": common.pct(late, 99),
        "rps": len(completed) / res["closed_seconds"],
        "n_closed": len(closed),
        "attempted": len(opens) + len(closed),
        "failed": failed,
        "open": opens,
    }


def _gate(r: _Run, seed: int, pool) -> list[dict]:
    """Correctness gate, run after timing and outside every metric: a
    seeded sample of pool requests served over HTTP against the Spark
    tier."""
    gate = []
    for i in inputs.gate_sample(seed, pool, GATE_PER_MODE):
        q = pool[i]
        status, doc = _post(r.port, q.path, q.ctype, q.body, "g")
        ok = status == 200 and _rows_match(doc["results"],
                                           _spark_rows(r.engine, q))
        gate.append({"pool_index": i, "mode": q.mode, "ok": ok})
    return gate


def run(seed: int, seconds: float, trace: bool, work: str) -> dict:
    r = _Run(seconds, trace, work)
    cond = {"nproc": common.nproc(), "loadavg_before": common.loadavg()}
    jiffies0 = common.cpu_jiffies()
    t0 = time.perf_counter()
    corpus = inputs.serve_corpus(seed)
    paths = inputs.write_corpus_parquet(corpus, work)
    gen_s = time.perf_counter() - t0
    pool = inputs.request_pool(seed)
    reqs = [(q.path, q.ctype, q.body, q.mode, q.top_k) for q in pool]
    offs = inputs.arrivals(seed, OPEN_RATE, seconds * OPEN_SHARE)
    sched = list(zip(offs.tolist(), inputs.zipf_sequence(seed, len(offs)).tolist()))
    closed_seq = inputs.zipf_sequence(seed, 50000, stream="closed").tolist()

    try:
        t0 = time.perf_counter()
        r.spark = common.start_spark(work, batch=False)
        session_start_s = time.perf_counter() - t0
        if r.tracer is not None:
            _install_tracing(r.tracer, r.collects)
        setups = [r.setup_once(paths) for _ in range(SETUP_REPS)]
        cond["job_floor_ms"] = common.job_floor_ms(r.spark)
        ledger = common.JobLedger(r.spark)
        phases = {}
        if r.tracer is not None:
            # untraced reference phase for the tracing overhead
            r.tracer.restore()
            r.warm(pool, closed_seq)
            phases["untraced"] = _summarize(
                r.timed(pool, reqs, sched, closed_seq))
            _install_tracing(r.tracer, r.collects)
        r.warm(pool, closed_seq)
        job0 = ledger.max_job_id()
        t_phase = time.perf_counter()
        spans0 = len(r.tracer.spans) if r.tracer is not None else 0
        main = _summarize(r.timed(pool, reqs, sched, closed_seq))
        phase_wall = time.perf_counter() - t_phase
        timed_exec = ledger.jobs(after=job0)
        rss = common.peak_rss_mb()
        cond["loadavg_after"] = common.loadavg()
        cond["cpu_steal_share"] = common.steal_share(jiffies0)

        if r.tracer is not None:
            r.tracer.restore()
        gate = _gate(r, seed, pool)
        hot = r.engine.hot()
        build_rows = {
            "images": len(hot.image_ids), "segments": len(hot.seg_image_ids),
            "segment_tags": len(hot.tag_rows),
        }
        if r.tracer is not None:
            timed_exec.update(common.collect_totals(r.spark, r.collects))
    finally:
        r.stop_server()
        common.stop_jvm(r.spark)

    attempted = main["attempted"] + len(gate)
    failed = main["failed"] + sum(1 for g in gate if not g["ok"])
    n_open = f"{main['n_open']} open-loop requests at {OPEN_RATE:g}/s"
    metrics = {
        "setup_s": (common.median(setups), "s",
                    f"median of {len(setups)} set-ups"),
        "latency_p50_ms": (main["p50_ms"], "ms", n_open),
        "latency_mean_ms": (main["mean_ms"], "ms", n_open),
        "throughput_per_s": (
            main["rps"], "1/s",
            f"{main['n_closed']} closed-loop requests, {common.nproc()} "
            f"clients, {seconds * (1 - OPEN_SHARE):g} s"),
        "driver_rss_mb": (rss, "MB", "peak over the run"),
    }
    detail = {
        "run_conditions": cond,
        "samples": {
            "setup_s": setups, "open_requests": main["n_open"],
            "closed_requests": main["n_closed"],
        },
        "open_rate_per_s": OPEN_RATE,
        "closed_clients": common.nproc(),
        "latency_p90_ms": main["p90_ms"],
        "latency_p99_ms": main["p99_ms"],
        "loadgen.late_p99_ms": main["late_p99_ms"],
        "error_rate": failed / attempted,
        "generate_s": gen_s,
        "session.start_s": session_start_s,
        "serving.build_rows": build_rows,
        "gate": gate,
        "rss_note": "peak RSS of the Python driver process; the JVM is "
                    "a separate process and is not counted",
    }
    out = {"attempted": attempted, "failed": failed, "metrics": metrics,
           "detail": detail}
    if r.tracer is not None:
        out["layers"] = _layers(r, main, phases["untraced"], phase_wall,
                                spans0, timed_exec, session_start_s, cond)
        r.tracer.dump(f"{work}/spans.json")
        out["spans"] = f"{work}/spans.json"
    return out


def _layers(r: _Run, main, untraced, phase_wall, spans0, timed_exec,
            session_start_s, cond) -> dict:
    """Per-layer numbers of a traced run (see workloads.json for which
    end-to-end metric each should move)."""
    tr = r.tracer
    allowed = tr.durations("serving.tag_allowed", spans0)
    by_req: dict = {}
    for s in tr.closed():
        if s[4] is not None:
            by_req.setdefault(s[4], []).append(s)
    # client view per open/closed request id
    client = {}
    for i, (_k, _due, send, done, _st, _ok) in enumerate(main["open"]):
        client[f"o{i}"] = done - send
    overhead, encode = [], {}
    hits = reached = 0
    for req, ss in by_req.items():
        names = {s[0] for s in ss}
        if "service.request" not in names or req[0] not in "oc":
            continue
        top = [s for s in ss if s[0] in ("api.search_content_rows",
                                         "api.search_rows")]
        if not top:
            hits += 1
            continue
        reached += 1
        outer = max(top, key=lambda s: s[2] - s[1])
        if req in client:
            overhead.append((client[req] - (outer[2] - outer[1])) * 1000.0)
        if outer[0] == "api.search_content_rows":
            inner = [s for s in ss if s[0] == "api.search_rows"]
            if inner:
                mode = None
                for s in ss:
                    if s[0].startswith("serving.score."):
                        mode = s[0].rsplit(".", 1)[1]
                encode.setdefault(mode or "unknown", []).append(
                    ((outer[2] - outer[1]) - (inner[0][2] - inner[0][1]))
                    * 1000.0
                )
    layers = {
        "session.start_s": session_start_s,
        "session.job_floor_ms": cond["job_floor_ms"],
        "service.overhead_ms_p50": common.pct(overhead, 50) if overhead else None,
        "service.cache_hit_ratio": hits / (hits + reached) if hits + reached else 0.0,
        "service.cache_hits": hits,
        "service.cache_cacheable_requests": hits + reached,
        "api.encode_ms_p50": {m: common.pct(v, 50) for m, v in encode.items()},
        "serving.tag_allowed_ms_p50": (
            common.pct(allowed, 50) * 1000.0 if allowed else None
        ),
        "serving.build_s": tr.durations("serving.build"),
        "loadgen.late_p99_ms": main["late_p99_ms"],
    }
    for mode in ("whole", "segment", "hybrid", "tags"):
        d = [x * 1000.0
             for x in tr.durations(f"serving.score.{mode}", spans0)]
        layers[f"serving.score_ms.{mode}"] = {
            "p50": common.pct(d, 50) if d else None,
            "p99": common.pct(d, 99) if d else None, "n": len(d),
        }
    layers.update(common.exec_layers(r.units))
    layers["exec.timed_phase"] = timed_exec
    layers.update(busy_pct(tr, spans0, phase_wall))
    layers["trace.overhead_pct"] = 100.0 * (
        main["mean_ms"] / untraced["mean_ms"] - 1)
    return layers
