"""HTTP service layer (service.py) — endpoint parity with the
reference Flask app (app.py:27-331): health, the four search
endpoints, the unified dispatcher, the 16 MB cap, and every
documented 4xx path, exercised over a real socket with urllib."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest
from hypothesis import HealthCheck, assume, given, settings, strategies as st

from pyspark.sql import functions as F

from data_feature_extraction_and_retrieval_pipeline_spark.api import Engine
from data_feature_extraction_and_retrieval_pipeline_spark.service import (
    serve,
)

SF_DIR = "/root/testdata/sf0.001"
_BOUNDARY = "dferp-test-boundary-7319"


def _multipart(fields: dict, files: dict) -> tuple[bytes, str]:
    chunks: list[bytes] = []
    for k, v in fields.items():
        chunks.append(
            (
                f"--{_BOUNDARY}\r\n"
                f'Content-Disposition: form-data; name="{k}"\r\n\r\n{v}\r\n'
            ).encode()
        )
    for k, (fn, data) in files.items():
        chunks.append(
            (
                f"--{_BOUNDARY}\r\n"
                f'Content-Disposition: form-data; name="{k}"; '
                f'filename="{fn}"\r\n'
                "Content-Type: application/octet-stream\r\n\r\n"
            ).encode()
            + data
            + b"\r\n"
        )
    chunks.append(f"--{_BOUNDARY}--\r\n".encode())
    return b"".join(chunks), f"multipart/form-data; boundary={_BOUNDARY}"


def _post(base: str, path: str, body: bytes, ctype: str):
    req = urllib.request.Request(
        base + path, data=body, headers={"Content-Type": ctype}
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture(scope="module")
def server(spark):
    eng = Engine.from_sf_dir(spark, SF_DIR)
    # a tiny deterministic tag index so the tags mode is servable
    eng.segment_tags = spark.createDataFrame(
        [
            (0, [("cat", 0.9), ("dog", 0.2)]),
            (1, [("cat", 0.4)]),
            (2, [("fish", 0.8)]),
        ],
        "image_id long, tags array<struct<tag string, confidence float>>",
    )
    # stub model seam: loader returns None -> hash-projection encoder
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    srv = serve(eng, model_loader=lambda: None, documents=docs)
    host, port = srv.server_address
    yield f"http://{host}:{port}"
    srv.shutdown()


def test_health(server):
    with urllib.request.urlopen(server + "/health", timeout=30) as resp:
        body = json.loads(resp.read())
    assert resp.status == 200
    assert body["status"] == "healthy" and body["version"] == "1.0"
    assert body["images"] is True and body["segments"] is True


def test_whole_search_roundtrip(server):
    body, ctype = _multipart(
        {"top_k": 5}, {"image": ("query.jpg", b"payload-bytes-1")}
    )
    code, resp = _post(server, "/search/whole", body, ctype)
    assert code == 200
    assert resp["mode"] == "whole" and resp["top_k"] == 5
    assert 0 < len(resp["results"]) <= 5
    # engine rows: id + score columns, scores descending
    scores = [r["cosine"] for r in resp["results"] if "cosine" in r] or [
        list(r.values())[1] for r in resp["results"]
    ]
    assert scores == sorted(scores, reverse=True)


def test_segment_and_hybrid_search(server):
    body, ctype = _multipart(
        {"top_k": 3, "max_segments": 4},
        {"image": ("q.png", b"payload-bytes-2")},
    )
    code, resp = _post(server, "/search/segment", body, ctype)
    assert code == 200 and resp["mode"] == "segment"
    assert 0 < len(resp["results"]) <= 3

    body, ctype = _multipart(
        {"top_k": 3, "whole_weight": 0.5, "segment_weight": 0.5,
         "visualize": "true"},
        {"image": ("q.png", b"payload-bytes-2")},
    )
    code, resp = _post(server, "/search/hybrid", body, ctype)
    assert code == 200 and resp["mode"] == "hybrid"
    assert resp["weights"] == {"whole": 0.5, "segment": 0.5}
    # r12: the formerly scoped-out grid renders for real — a decodable
    # base64 PNG (full pin in tests/test_render.py)
    import base64

    assert base64.b64decode(resp["visualization"])[:8] == b"\x89PNG\r\n\x1a\n"


def test_tags_search_json_and_unified(server):
    body = json.dumps({"tags": ["cat", "fish"], "top_k": 10}).encode()
    code, resp = _post(server, "/search/tags", body, "application/json")
    assert code == 200
    ids = {r["image_id"] for r in resp["results"]}
    assert ids == {0, 1, 2}

    # unified dispatcher routes tags mode too (form-encoded)
    body, ctype = _multipart({"mode": "tags", "tags": "cat", "top_k": 10}, {})
    code, resp = _post(server, "/api/search", body, ctype)
    assert code == 200
    assert {r["image_id"] for r in resp["results"]} == {0, 1}


def test_unified_whole_mode(server):
    body, ctype = _multipart(
        {"mode": "whole", "top_k": 2},
        {"image": ("query.jpg", b"payload-bytes-1")},
    )
    code, resp = _post(server, "/api/search", body, ctype)
    assert code == 200 and resp["mode"] == "whole"
    assert len(resp["results"]) <= 2


def test_4xx_paths(server):
    # no image part (app.py:93-94)
    body, ctype = _multipart({"top_k": 3}, {})
    code, resp = _post(server, "/search/whole", body, ctype)
    assert code == 400 and resp["error"] == "No image file provided"

    # empty filename (app.py:97-98)
    body, ctype = _multipart({}, {"image": ("", b"x")})
    code, resp = _post(server, "/search/whole", body, ctype)
    assert code == 400 and resp["error"] == "No file selected"

    # disallowed extension (app.py:100-101)
    body, ctype = _multipart({}, {"image": ("evil.exe", b"x")})
    code, resp = _post(server, "/search/whole", body, ctype)
    assert code == 400 and resp["error"] == "Invalid file type"

    # invalid mode (app.py:310-311)
    body, ctype = _multipart({"mode": "nope"}, {})
    code, resp = _post(server, "/api/search", body, ctype)
    assert code == 400 and "Invalid mode" in resp["error"]

    # no tags (app.py:282-283)
    code, resp = _post(
        server, "/search/tags", json.dumps({"tags": []}).encode(),
        "application/json",
    )
    assert code == 400 and resp["error"] == "No tags provided"

    # malformed tags payload (app.py:279-280)
    code, resp = _post(
        server, "/search/tags", json.dumps({"tags": 7}).encode(),
        "application/json",
    )
    assert code == 400 and resp["error"] == "Invalid tags format"


def test_nonpositive_top_k_and_max_segments_are_400_on_both_tiers(spark):
    """``top_k < 1`` and ``max_segments < 1`` answer the same 400 from
    the hot tier and the Spark tier (before: the hot tier served all
    rows but one for top_k=-1, and max_segments=0 was a 500)."""
    eng = Engine.from_sf_dir(spark, SF_DIR)
    eng.segment_tags = spark.createDataFrame(
        [(0, [("cat", 0.9)])],
        "image_id long, tags array<struct<tag string, confidence float>>",
    )
    image = {"image": ("q.png", b"bad-parameter-query")}
    requests = [
        ("/search/whole", *_multipart({"top_k": "-1"}, image)),
        ("/search/hybrid", *_multipart({"top_k": "0"}, image)),
        ("/search/segment", *_multipart({"max_segments": "0"}, image)),
        (
            "/api/search",
            *_multipart({"mode": "hybrid", "max_segments": "-3"}, image),
        ),
        (
            "/search/tags",
            json.dumps({"tags": ["cat"], "top_k": 0}).encode(),
            "application/json",
        ),
    ]
    answers = {}
    for hot in (True, False):
        srv = serve(eng, model_loader=lambda: None, hot=hot)
        base = "http://{}:{}".format(*srv.server_address)
        try:
            answers[hot] = [_post(base, p, b, c) for p, b, c in requests]
        finally:
            srv.shutdown()
    assert answers[True] == answers[False]
    assert [a[0] for a in answers[True]] == [400] * len(requests)
    assert [a[1]["error"] for a in answers[True]] == [
        "top_k must be >= 1, got -1",
        "top_k must be >= 1, got 0",
        "max_segments must be >= 1, got 0",
        "max_segments must be >= 1, got -3",
        "top_k must be >= 1, got 0",
    ]


def test_413_upload_cap(server):
    big = b"x" * (16 * 1024 * 1024 + 1024)
    body, ctype = _multipart({}, {"image": ("big.png", big)})
    code, resp = _post(server, "/search/whole", body, ctype)
    assert code == 413 and "File too large" in resp["error"]


def test_concurrent_requests(server):
    """ThreadingHTTPServer + the thread-safe SparkSession serve
    parallel searches: 8 concurrent whole-image requests (mixed
    payloads) all answer 200 with deterministic, payload-dependent
    results — no cross-request state bleed."""
    from concurrent.futures import ThreadPoolExecutor

    def one(i: int):
        payload = b"concurrent-payload-%d" % (i % 2)
        body, ctype = _multipart(
            {"top_k": 3}, {"image": ("q.png", payload)}
        )
        code, resp = _post(server, "/search/whole", body, ctype)
        return code, tuple(
            (r["image_id"], round(r.get("score", r.get("cosine", 0.0)), 9))
            for r in resp["results"]
        )

    with ThreadPoolExecutor(max_workers=8) as ex:
        out = list(ex.map(one, range(8)))
    assert all(code == 200 for code, _ in out)
    evens = {res for i, (_, res) in enumerate(out) if i % 2 == 0}
    odds = {res for i, (_, res) in enumerate(out) if i % 2 == 1}
    # same payload -> identical results; different payload -> its own
    assert len(evens) == 1 and len(odds) == 1
    assert evens != odds


class TestCLI:
    """The CLI surface (cli.py — search_with_segments.py:628-717):
    flag parity, the reference's validation messages/exit codes, JSON
    output, and the --output file write."""

    def _engine(self, spark):
        eng = Engine.from_sf_dir(spark, SF_DIR)
        eng.segment_tags = spark.createDataFrame(
            [(0, [("cat", 0.9)]), (1, [("dog", 0.7)])],
            "image_id long, tags array<struct<tag string, confidence float>>",
        )
        return eng

    def _run(self, spark, argv, tmp_path):
        import io

        from data_feature_extraction_and_retrieval_pipeline_spark.cli import (
            build_parser,
            run,
        )

        img = tmp_path / "query.jpg"
        img.write_bytes(b"cli-query-payload")
        argv = [a.replace("__IMG__", str(img)) for a in argv]
        args = build_parser().parse_args(argv)
        buf = io.StringIO()
        rc = run(args, self._engine(spark), model_loader=lambda: None, out=buf)
        return rc, buf.getvalue()

    def test_whole_mode_json_lines(self, spark, tmp_path):
        rc, text = self._run(
            spark, ["--mode", "whole", "--image", "__IMG__", "--top-k", "3"],
            tmp_path,
        )
        assert rc == 0
        rows = [json.loads(line) for line in text.strip().splitlines()]
        assert 0 < len(rows) <= 3 and all("image_id" in r for r in rows)

    def test_hybrid_default_mode_and_output_file(self, spark, tmp_path):
        out_file = tmp_path / "results.json"
        rc, text = self._run(
            spark,
            ["--image", "__IMG__", "--top-k", "2",
             "--output", str(out_file)],
            tmp_path,
        )
        assert rc == 0
        saved = json.loads(out_file.read_text())
        assert 0 < len(saved) <= 2

    def test_tags_mode_and_validation(self, spark, tmp_path):
        rc, text = self._run(
            spark, ["--mode", "tags", "--tags", "cat"], tmp_path
        )
        assert rc == 0
        rows = [json.loads(line) for line in text.strip().splitlines()]
        assert {r["image_id"] for r in rows} == {0}

        # the reference's exact validation messages + exit code 1
        rc, text = self._run(spark, ["--mode", "tags"], tmp_path)
        assert rc == 1 and "--tags required for tag mode" in text
        rc, text = self._run(spark, ["--mode", "whole"], tmp_path)
        assert rc == 1 and "--image required" in text


def _post_json(base: str, path: str, obj) -> tuple[int, dict]:
    body = json.dumps(obj).encode()
    return _post(base, path, body, "application/json")


class TestPercolateEndpoints:
    """The standing-query lifecycle over HTTP (extension beyond the
    reference Flask surface — the ES deployment's percolator-index
    shape): register constructs then incrementally extends the frozen
    stats, match answers the alerting call on an inline micro-batch,
    and every documented 4xx path answers 400, not 500. Ordered:
    later tests build on earlier registrations (the server fixture is
    module-scoped)."""

    def test_register_constructs_then_extends(self, server):
        code, resp = _post_json(
            server, "/percolate/register",
            {"query_id": "svc_q1", "terms": ["data", "table"],
             "min_score": 0.3},
        )
        assert code == 200 and resp == {
            "registered": "svc_q1", "n_queries": 1
        }
        # second registration brings a NOVEL term — the incremental
        # df-extension path (df=0 terms must still alert)
        code, resp = _post_json(
            server, "/percolate/register",
            {"query_id": "svc_q2", "terms": "zzqxnovel", "min_score": 0.1},
        )
        assert code == 200 and resp["n_queries"] == 2
        with urllib.request.urlopen(
            server + "/percolate/queries", timeout=30
        ) as r:
            listed = json.loads(r.read())["queries"]
        assert {q["query_id"] for q in listed} == {"svc_q1", "svc_q2"}

    def test_register_errors(self, server):
        code, resp = _post_json(
            server, "/percolate/register",
            {"query_id": "svc_q1", "terms": ["data"]},
        )
        assert code == 400 and "already registered" in resp["error"]
        code, resp = _post_json(
            server, "/percolate/register", {"terms": ["data"]}
        )
        assert code == 400 and "query_id" in resp["error"]
        code, resp = _post(
            server, "/percolate/register", b"query_id=q",
            "application/x-www-form-urlencoded",
        )
        assert code == 400

    def test_match_alerts(self, server):
        code, resp = _post_json(
            server, "/percolate/match",
            {"docs": [
                {"doc_id": 901, "text": "zzqxnovel data arrives"},
                {"doc_id": 902, "text": "nothing relevant here"},
            ]},
        )
        assert code == 200 and resp["n_docs"] == 2
        hits = {(m["doc_id"], m["query_id"]) for m in resp["matches"]}
        # the novel-term standing query fires on the carrying doc only
        assert (901, "svc_q2") in hits
        assert not any(d == 902 for d, _ in hits)
        for m in resp["matches"]:
            assert m["bm25"] >= 0.1 and m["n_matched_terms"] >= 1

    def test_match_errors(self, server):
        code, resp = _post_json(server, "/percolate/match", {"docs": []})
        assert code == 400
        code, resp = _post_json(
            server, "/percolate/match",
            {"docs": [{"doc_id": i, "text": "x"} for i in range(501)]},
        )
        assert code == 400 and "too many docs" in resp["error"]
        code, resp = _post_json(
            server, "/percolate/match", {"docs": [{"doc_id": 1}]}
        )
        assert code == 400 and "text" in resp["error"]

    def test_unregister(self, server):
        code, resp = _post_json(
            server, "/percolate/unregister", {"query_id": "svc_q2"}
        )
        assert code == 200 and resp["n_queries"] == 1
        code, resp = _post_json(
            server, "/percolate/unregister", {"query_id": "svc_q2"}
        )
        assert code == 400
        # the LAST standing query cannot be unregistered (api contract)
        code, resp = _post_json(
            server, "/percolate/unregister", {"query_id": "svc_q1"}
        )
        assert code == 400 and "last standing query" in resp["error"]


def test_concurrent_burst_32way_hybrid_and_percolate(server):
    """SRS §5's concurrency line at single-driver scale, measured on
    the hot serving tier (serving.py; serve()'s default): a 32-way
    burst of mixed /search/hybrid and /percolate/match requests, most
    with DISTINCT payloads so the response cache cannot carry the
    result — every distinct request runs the resident-tier scorer.

    Pins: (1) every request answers 200; (2) each repeated payload's
    response is byte-identical to its serial baseline — no
    cross-request state bleed through the shared engine, hot index,
    response cache, or percolator; (3) the SRS latency line itself —
    p95 < 2 s — with an order of magnitude of headroom (hot-tier
    requests cost ~1-5 ms), so the assertion holds even on a fully
    contended box (the round-10 formulation asserted a wall-clock
    OVERLAP floor, which any CPU co-tenant could push below 1.3× —
    flaky by construction; latency of µs-class work is robust).

    The Spark tier's concurrency behavior (the ~2-5× driver plateau)
    stays covered by test_spark_tier_burst below and SCALING.md
    "Serving concurrency"."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    code, resp = _post_json(
        server, "/percolate/register",
        {"query_id": "burst_q", "terms": ["data", "vector"],
         "min_score": 0.0},
    )
    assert code == 200

    def hybrid(i: int):
        # i < 8 repeats payloads 0-3 (bleed check + cache path);
        # i >= 8 is a distinct payload per request (scorer path)
        key = i % 4 if i < 8 else i
        body, ctype = _multipart(
            {"top_k": 3, "whole_weight": 0.5, "segment_weight": 0.5},
            {"image": (f"q{i}.png", f"payload-{key}".encode())},
        )
        t0 = time.perf_counter()
        code, resp = _post(server, "/search/hybrid", body, ctype)
        return "hybrid", key, code, resp, time.perf_counter() - t0

    def match(i: int):
        key = i % 3 if i < 8 else i
        docs = [{"doc_id": key, "text": f"data table {key} vector"}]
        t0 = time.perf_counter()
        code, resp = _post_json(server, "/percolate/match", {"docs": docs})
        return "match", key, code, resp, time.perf_counter() - t0

    # serial baselines for the REPEATED payloads (bleed check)
    base = {}
    for v in range(4):
        kind, key, code, resp, _dt = hybrid(v)
        assert code == 200
        base[(kind, key)] = resp
    for v in range(3):
        kind, key, code, resp, _dt = match(v)
        assert code == 200
        base[(kind, key)] = resp

    n = 64
    tasks = [hybrid if i % 2 == 0 else match for i in range(n)]
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=32) as ex:
        got = list(ex.map(lambda p: p[0](p[1]), zip(tasks, range(n))))
    wall = time.perf_counter() - t0

    lats = sorted(g[4] for g in got)
    p50 = lats[len(lats) // 2]
    p95 = lats[int(0.95 * (len(lats) - 1))]
    print(
        f"\n32-way hot burst: {n} requests in {wall:.2f}s wall, "
        f"p50={p50 * 1000:.1f}ms p95={p95 * 1000:.1f}ms "
        f"({n / wall:.0f} rps)"
    )
    for kind, key, code, resp, _ in got:
        assert code == 200, (kind, key)
        if (kind, key) in base:
            assert resp == base[(kind, key)], f"state bleed: {kind} {key}"
    # determinism across the distinct payloads: re-asking one gives
    # the identical answer (cache hit or recompute — same bytes)
    kind, key, code, resp, _ = hybrid(10)  # even i ⇒ ran as hybrid above
    assert resp == next(
        g[3] for g in got if g[0] == "hybrid" and g[1] == 10
    )
    # the SRS line, with ~100× headroom over the observed ~5-50 ms
    assert p95 < 2.0, f"hot-tier p95 {p95:.2f}s breaches the SRS <2s line"
    assert wall < 60, f"burst wall {wall:.1f}s — pathological serialization"


def test_spark_tier_burst_no_convoy(spark):
    """The Spark serving tier (serve(hot=False) — the
    fits-nowhere-resident deployment) under a 8-way mixed burst:
    correctness under concurrency (200s + no state bleed) and a
    generous wall bound. The driver-plateau OVERLAP number (~2-5×) is
    measured and documented in SCALING.md rather than asserted — it
    is a property of the shared host's idle CPU, so a floor assertion
    here red-bars correct code whenever the box has a co-tenant
    (exactly what happened to the round-10 formulation)."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    eng = Engine.from_sf_dir(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    srv = serve(eng, model_loader=lambda: None, documents=docs,
                hot=False, cache_size=0)
    host, port = srv.server_address
    server = f"http://{host}:{port}"
    try:
        code, _ = _post_json(
            server, "/percolate/register",
            {"query_id": "cold_q", "terms": ["data"], "min_score": 0.0},
        )
        assert code == 200

        def hybrid(i: int):
            body, ctype = _multipart(
                {"top_k": 3},
                {"image": (f"q{i}.png", f"cold-{i % 2}".encode())},
            )
            return ("hybrid", i % 2) + _post(
                server, "/search/hybrid", body, ctype
            )

        def match(i: int):
            docs_body = [{"doc_id": i % 2, "text": f"data {i % 2}"}]
            return ("match", i % 2) + _post_json(
                server, "/percolate/match", {"docs": docs_body}
            )

        base = {}
        for v in range(2):
            k, key, code, resp = hybrid(v)
            assert code == 200
            base[(k, key)] = resp
            k, key, code, resp = match(v)
            assert code == 200
            base[(k, key)] = resp

        n = 8
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=8) as ex:
            got = list(
                ex.map(
                    lambda p: p[0](p[1]),
                    zip([hybrid if i % 2 == 0 else match
                         for i in range(n)], range(n)),
                )
            )
        wall = time.perf_counter() - t0
        print(f"\nspark-tier burst: {n} requests in {wall:.2f}s wall")
        for kind, key, code, resp in got:
            assert code == 200, (kind, key)
            assert resp == base[(kind, key)], f"state bleed: {kind} {key}"
        assert wall < 120, f"burst wall {wall:.1f}s — pathological"
    finally:
        srv.shutdown()


class TestResponseCacheVersioning:
    """Round-12 cache-soundness pins: Content-Type is part of the
    request identity, and the serving snapshot version
    (Engine.serving_epoch) keys every cached search response."""

    def test_content_type_in_cache_key(self, server):
        """Identical body bytes under different Content-Types are
        different requests: a cached JSON /search/tags 200 must not be
        served to a multipart request with the same bytes (which
        parses to no tags → 400)."""
        body = json.dumps({"tags": ["cat"], "top_k": 3}).encode()
        code, resp = _post(server, "/search/tags", body, "application/json")
        assert code == 200 and resp["results"]
        # same bytes, cached — still 200 (sanity: the cache hit path)
        code2, resp2 = _post(server, "/search/tags", body, "application/json")
        assert (code2, resp2) == (code, resp)
        # same bytes, multipart Content-Type: parses no tags → 400,
        # NOT the cached JSON response
        code3, resp3 = _post(
            server, "/search/tags", body,
            "multipart/form-data; boundary=zzz",
        )
        assert code3 == 400
        assert resp3["error"] == "No tags provided"

    def test_ingest_rebuild_invalidates_cached_search(self, spark):
        """serve() → cached whole-search response → ingest a new image
        whose embedding IS the stub query vector → hot(rebuild=True):
        the same request bytes must now return the new image first,
        not the cached pre-ingest rows."""
        from data_feature_extraction_and_retrieval_pipeline_spark.ml.encoders import (
            _hash_projection,
        )

        eng = Engine.from_sf_dir(spark, SF_DIR)
        srv = serve(eng, model_loader=lambda: None)
        base = "http://{}:{}".format(*srv.server_address)
        try:
            payload = b"cache-invalidation-query"
            body, ctype = _multipart(
                {"top_k": "3"}, {"image": ("q.png", payload)}
            )
            code, before = _post(base, "/search/whole", body, ctype)
            assert code == 200
            # cache hit serves the identical envelope
            code, again = _post(base, "/search/whole", body, ctype)
            assert again == before
            top_before = before["results"][0]["image_id"]
            assert top_before != 424242

            dim = eng.hot().dim
            qvec = [float(x) for x in _hash_projection(payload, dim)]
            eng.ingest(
                images=spark.createDataFrame(
                    [(424242, qvec)],
                    "image_id long, embedding array<double>",
                )
            )
            eng.hot(rebuild=True)
            code, after = _post(base, "/search/whole", body, ctype)
            assert code == 200
            assert after["results"][0]["image_id"] == 424242
        finally:
            srv.shutdown()


def test_empty_corpus_dim_parity(spark):
    """Hot and cold tiers answer an empty images table the same way:
    the ValueError('images table is empty …') → HTTP 400, instead of
    the hot tier silently encoding a 0-dim query."""
    empty = spark.createDataFrame(
        [], "image_id long, embedding array<double>"
    )
    eng = Engine(empty)
    with pytest.raises(ValueError, match="images table is empty"):
        eng.search_content_rows(b"xx", filename="q.png", mode="whole")
    with pytest.raises(ValueError, match="images table is empty"):
        eng.search_content(b"xx", filename="q.png", mode="whole")


def test_serve_hot_path_boots_from_disk(spark, tmp_path):
    """serve(hot_path=...): first server builds + saves the artifact;
    a second server over a DIFFERENT (decoy) engine boots the saved
    copy — its results come from the artifact, proof the boot skipped
    the Spark build."""
    import os

    path = str(tmp_path / "serving.npz")
    eng = Engine.from_sf_dir(spark, SF_DIR)
    srv = serve(eng, model_loader=lambda: None, hot_path=path)
    base = "http://{}:{}".format(*srv.server_address)
    try:
        body, ctype = _multipart(
            {"top_k": "3"}, {"image": ("q.png", b"hot-path-query")}
        )
        code, first = _post(base, "/search/whole", body, ctype)
        assert code == 200 and os.path.exists(path)
    finally:
        srv.shutdown()

    dim = eng.hot().dim
    decoy = Engine(
        spark.createDataFrame(
            [(31337, [0.0] * dim)], "image_id long, embedding array<double>"
        )
    )
    srv2 = serve(decoy, model_loader=lambda: None, hot_path=path)
    base2 = "http://{}:{}".format(*srv2.server_address)
    try:
        code, resp = _post(base2, "/search/whole", body, ctype)
        assert code == 200
        assert resp["results"] == first["results"]  # artifact, not decoy
        assert resp["results"][0]["image_id"] != 31337
    finally:
        srv2.shutdown()


def test_hot_refresh_follows_ingest_without_manual_rebuild(spark):
    """serve(hot_refresh=0): after an ingest, the NEXT search request
    itself triggers the auto rebuild — no operator call to
    Engine.hot(rebuild=...) anywhere. With a long debounce window the
    snapshot keeps serving instead (the documented immutable-snapshot
    behavior between windows)."""
    from data_feature_extraction_and_retrieval_pipeline_spark.ml.encoders import (
        _hash_projection,
    )

    payload = b"auto-refresh-query"
    body, ctype = _multipart({"top_k": "3"}, {"image": ("q.png", payload)})

    # -- debounce=0: every request may refresh --
    eng = Engine.from_sf_dir(spark, SF_DIR)
    srv = serve(eng, model_loader=lambda: None, hot_refresh=0.0)
    base = "http://{}:{}".format(*srv.server_address)
    try:
        code, before = _post(base, "/search/whole", body, ctype)
        assert code == 200
        assert before["results"][0]["image_id"] != 424242

        dim = eng.hot().dim
        qvec = [float(x) for x in _hash_projection(payload, dim)]
        new_row = spark.createDataFrame(
            [(424242, qvec)], "image_id long, embedding array<double>"
        )
        eng.ingest(images=new_row)
        # NO manual hot(rebuild=...) — the request does the refresh
        code, after = _post(base, "/search/whole", body, ctype)
        assert code == 200
        assert after["results"][0]["image_id"] == 424242
    finally:
        srv.shutdown()

    # -- long debounce: the pre-ingest snapshot keeps serving --
    eng2 = Engine.from_sf_dir(spark, SF_DIR)
    srv2 = serve(eng2, model_loader=lambda: None, hot_refresh=1e9)
    base2 = "http://{}:{}".format(*srv2.server_address)
    try:
        code, first = _post(base2, "/search/whole", body, ctype)
        assert code == 200  # consumes the one debounce window
        dim = eng2.hot().dim
        qvec = [float(x) for x in _hash_projection(payload, dim)]
        eng2.ingest(
            images=spark.createDataFrame(
                [(424242, qvec)], "image_id long, embedding array<double>"
            )
        )
        code, still = _post(base2, "/search/whole", body, ctype)
        assert code == 200
        # snapshot until the window expires — same rows as before
        assert still["results"][0]["image_id"] != 424242
    finally:
        srv2.shutdown()


# -- multipart parsing: the byte-level parser vs the stdlib email parser ------


def _email_parse_multipart(body: bytes, content_type: str):
    """The reference: the stdlib ``email`` feedparser over the whole
    body (the service's parser before it split bodies with bytes
    operations), reduced to the same (form, files) result."""
    from email.parser import BytesParser
    from email.policy import default

    head = f"Content-Type: {content_type}\r\nMIME-Version: 1.0\r\n\r\n"
    msg = BytesParser(policy=default).parsebytes(head.encode("utf-8") + body)
    form: dict = {}
    files: dict = {}
    if not msg.is_multipart():
        return form, files
    for part in msg.iter_parts():
        name = part.get_param("name", header="content-disposition")
        if name is None:
            continue
        payload = part.get_payload(decode=True) or b""
        filename = part.get_filename()
        if filename is not None:
            files[name] = (filename, payload)
        else:
            form[name] = payload.decode("utf-8", errors="replace")
    return form, files


def _bytes_with_breaks():
    return st.lists(
        st.one_of(
            st.binary(max_size=24),
            st.sampled_from(
                [b"\r\n", b"\r", b"\n", b"--", b"\r\n--", b"-", b" \t"]
            ),
        ),
        max_size=10,
    ).map(b"".join)


def _multipart_bodies():
    """(body, content type, parts' raw payloads) with binary payloads
    holding CRLF and ``--``, quoted, unquoted and RFC 2231 filenames,
    base64 parts, preamble, epilogue, and bodies that never close."""
    import base64
    import string
    import urllib.parse

    fname_text = st.text(
        alphabet=string.ascii_letters + string.digits + " ._-();,=éü字",
        min_size=1, max_size=12,
    )

    @st.composite
    def filename_param(draw):
        fname = draw(fname_text) + draw(st.sampled_from([".jpg", ".png", ""]))
        style = draw(st.sampled_from(["quoted", "escaped", "token", "2231"]))
        if style == "quoted":
            return f'filename="{fname}"'
        if style == "escaped":
            return 'filename="{}"'.format(
                ('a"' + fname + "\\").replace("\\", "\\\\").replace('"', '\\"')
            )
        if style == "token":
            return "filename=" + "".join(
                c for c in fname if c.isalnum() or c in "._-"
            ) + "x"
        quoted = urllib.parse.quote(fname.encode("utf-8"))
        if draw(st.booleans()):
            return f"filename*=utf-8''{quoted}"
        cut = draw(st.integers(0, len(quoted)))
        while quoted[max(cut - 2, 0):cut].count("%"):
            cut -= 1  # never split a %XX escape across segments
        return (
            f"filename*0*=utf-8''{quoted[:cut]}; filename*1*={quoted[cut:]}"
        )

    @st.composite
    def part(draw):
        name = draw(st.sampled_from(["image", "top_k", "tags", "mode", "x"]))
        cd = f'Content-Disposition: form-data; name="{name}"'
        if draw(st.booleans()):  # a form field
            value = draw(st.text(max_size=20)).encode("utf-8")
            value += draw(_bytes_with_breaks())
            return f"{cd}\r\n\r\n".encode() + value, value
        payload = draw(_bytes_with_breaks())
        headers = [f"{cd}; {draw(filename_param())}"]
        headers.append(
            draw(st.sampled_from(
                ["", "Content-Type: image/jpeg",
                 "Content-Type: application/octet-stream"]
            ))
        )
        body = payload
        if draw(st.booleans()):
            headers.append("Content-Transfer-Encoding: base64")
            body = base64.encodebytes(payload)
        head = "\r\n".join(h for h in headers if h)
        return f"{head}\r\n\r\n".encode("utf-8") + body, payload

    @st.composite
    def bodies(draw):
        # RFC 2045 token characters only: the stdlib header parser
        # reads an unquoted ' as RFC 2231 syntax and loses the boundary
        boundary = "hb" + draw(
            st.text(alphabet=string.ascii_letters + string.digits + "_-.+",
                    min_size=4, max_size=24)
        )
        parts = draw(st.lists(part(), max_size=5))
        chunks = [draw(_bytes_with_breaks()) + b"\r\n"]  # preamble
        chunks += [
            b"--" + boundary.encode() + b"\r\n" + raw + b"\r\n"
            for raw, _ in parts
        ]
        if draw(st.booleans()):
            chunks.append(b"--" + boundary.encode() + b"--")
            chunks.append(draw(_bytes_with_breaks()))  # epilogue
        ctype = draw(st.sampled_from([
            "multipart/form-data; boundary={}",
            'multipart/form-data; boundary="{}"',
            "multipart/form-data; charset=utf-8; boundary={}",
        ])).format(boundary)
        return b"".join(chunks), ctype, boundary

    return bodies()


def _check_same_parse(body: bytes, ctype: str) -> None:
    from data_feature_extraction_and_retrieval_pipeline_spark.service import (
        _parse_multipart,
    )

    assert _parse_multipart(body, ctype) == _email_parse_multipart(body, ctype)


@given(_multipart_bodies())
@settings(
    max_examples=400, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_multipart_parser_matches_email_parser_generated(case):
    body, ctype, boundary = case
    # a real client picks a boundary its payloads do not contain
    assume(body.count(b"--" + boundary.encode()) == body.count(
        b"\n--" + boundary.encode()
    ))
    _check_same_parse(body, ctype)


@pytest.mark.parametrize(
    "body, ctype",
    [
        # no closing delimiter: the last part runs to the end
        (
            b'--b1\r\nContent-Disposition: form-data; name="top_k"\r\n\r\n7'
            b'\r\n--b1\r\nContent-Disposition: form-data; name="image"; '
            b'filename="q.png"\r\n\r\nA\r\n--B\r\n',
            "multipart/form-data; boundary=b1",
        ),
        # no delimiter at all, and a JSON body sent as multipart
        (b"plain text, no parts", "multipart/form-data; boundary=b1"),
        (b'{"tags": ["cat"]}', "multipart/form-data; boundary=zzz"),
        # not multipart / no boundary: an empty form
        (b"--b1\r\n\r\n--b1--", "application/json"),
        (b"--b1\r\n\r\n--b1--", "multipart/form-data"),
        # bare-LF and bare-CR line breaks, folded header, doubled
        # delimiter, a close delimiter before any part
        (
            b'--b1\n--b1\nContent-Disposition: form-data;\r\n name="a"\n\n'
            b"v\r\r\n--b1 \t\r\nContent-Disposition: form-data; name=b\r\r"
            b"w\r--b1--",
            "multipart/form-data; boundary=b1",
        ),
        (b"--b1--\r\n--b1\r\n\r\n", "multipart/form-data; boundary=b1"),
        # a part with no blank line, a header-less part, a body line
        # inside the header block, a Content-Type name= filename
        (
            b'--b1\r\nContent-Disposition: form-data; name="h"\r\n--b1\r\n'
            b"no headers\r\n--b1\r\nContent-Disposition: form-data; "
            b'name="z"\r\nnot a header\r\nmore\r\n--b1\r\n'
            b'Content-Type: image/png; name="n.png"\r\n'
            b"Content-Disposition: form-data; name=img\r\n\r\nQ\r\n--b1--",
            "multipart/form-data; boundary=b1",
        ),
        # quoted-printable, raw UTF-8 and encoded-word filenames
        (
            b'--b1\r\nContent-Disposition: form-data; name="q"\r\n'
            b"Content-Transfer-Encoding: quoted-printable\r\n\r\na=3Db=\r\nc"
            b'\r\n--b1\r\nContent-Disposition: form-data; name="u"; '
            b'filename="caf\xc3\xa9 \xff.jpg"\r\n\r\nX\r\n--b1\r\n'
            b'Content-Disposition: form-data; name="e"; '
            b'filename="=?utf-8?q?caf=C3=A9.jpg?="\r\n\r\nY\r\n--b1--',
            "multipart/form-data; boundary=b1",
        ),
    ],
    ids=[
        "no-close", "no-delimiter", "json-body", "not-multipart",
        "no-boundary", "line-breaks", "close-first", "odd-parts",
        "encodings",
    ],
)
def test_multipart_parser_matches_email_parser(body, ctype):
    _check_same_parse(body, ctype)
