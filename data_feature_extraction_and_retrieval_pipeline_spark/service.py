"""HTTP service layer — the reference's Flask microservice
(app.py:27-331) as a dependency-free stdlib ``http.server`` wrapper
over the :class:`~.api.Engine` facade.

Endpoint-for-endpoint parity with the reference:

====================  =====================================================
``GET  /health``      app.py:72-79 — status + service + version
``POST /search/whole``    app.py:82-131 — multipart image, top_k, tags
``POST /search/segment``  app.py:134-179 — + max_segments
``POST /search/hybrid``   app.py:182-253 — + whole/segment weights
``POST /search/tags``     app.py:256-293 — JSON body or form, tag list
``POST /api/search``      app.py:296-321 — unified mode dispatcher
====================  =====================================================

Extension beyond the reference surface (the Flask app exposes no
percolation; the ES deployment does it via the percolator index —
search_with_segments.py:167-183's reversed shape): the standing-query
lifecycle over HTTP, wrapping :class:`~.api.Percolator` on the bound
``documents`` corpus —

==============================  =====================================
``POST /percolate/register``    JSON {query_id, terms, min_score} —
                                first call constructs the percolator
                                (freezes corpus stats), later calls
                                use the incremental df extension
``POST /percolate/unregister``  JSON {query_id}
``GET  /percolate/queries``     the registered standing queries
``POST /percolate/match``       JSON {docs: [{doc_id, text}, …]} —
                                which standing queries does each doc
                                clear (the alerting call; ≤500 docs
                                per request, state never grows)
==============================  =====================================

Behavioral parity pinned by tests/test_service.py: the 16 MB upload
cap answers **413** before any work (app.py:27,325-326), a missing /
empty / wrong-extension image answers **400** with the same error
strings, an invalid mode lists the four valid ones, bad tags input
answers 400, and unexpected failures answer **500** with ``details``
(app.py:330-331). The response envelope carries ``mode``, ``top_k``
and ``results`` exactly like the reference; ``results`` rows are the
engine DataFrame's rows (this engine's schemas — id + score columns —
rather than the reference's ES ``_source`` fields, which is the one
deliberate divergence: the engine is the system of record here).

Architecture note (SURVEY.md §2.10): everything below is a
driver-side THIN wrapper — parse request → Engine → JSON. No query
logic lives here. Two serving tiers share the handlers (SCALING.md
"Serving concurrency"):

- **hot** (default): ``Engine.search_content_rows`` /
  ``Percolator.matches_rows`` score against the driver-resident
  artifact (serving.py — the reference's always-hot ES index twin;
  ms-class requests, equivalence-pinned against the Spark plans by
  tests/test_serving.py), fronted by a bounded response LRU keyed on
  the request body (the ES request-cache twin — sound because the
  engine's tables are an immutable snapshot and the one mutable
  surface, the percolator registry, versions its keys with an epoch).
- **hot=False**: every request runs the Spark plans
  (``Engine.search_content`` → bounded collect) — the deployment
  whose corpus fits nowhere resident, and the tier the hot one is
  certified against.

One driver serves all threads (ThreadingHTTPServer + Spark's
thread-safe session), the same concurrency model as the reference's
single-process Flask app.

Request bodies (no Flask/werkzeug in this stack): multipart/form-data
is split on its boundary delimiter with ``bytes`` operations (RFC 7578
over RFC 2046's delimiter grammar), and only each part's small header
block is parsed — into an ``email.message.Message`` holding just those
headers, whose ``get_param`` / ``get_filename`` / ``get_payload`` give
the stdlib's parameter rules (quoted and RFC 2231 filenames) and
Content-Transfer-Encoding decoding. The form and files equal what the
stdlib ``email`` feedparser returns for the whole body (the reference
tests/test_service.py keeps), at a fraction of its per-request cost.
"""

from __future__ import annotations

import json
import re
import threading
from email.message import Message
from email.policy import default as _EMAIL_POLICY
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .api import ALLOWED_EXTENSIONS, MAX_UPLOAD_BYTES, Engine

SERVICE_NAME = "PySpark Feature Search"  # app.py:76 analogue
SERVICE_VERSION = "1.0"


def _allowed_file(filename: str) -> bool:
    """app.py:34-35."""
    return (
        "." in filename
        and filename.rsplit(".", 1)[1].lower() in ALLOWED_EXTENSIONS
    )


_EOL = re.compile(rb"\r\n|\r|\n")
# a header-block line: a field, a folded continuation, or an mbox
# "From " line (skipped, as the stdlib parser does)
_HEADER_LINE = re.compile(rb"From |[\x21-\x39\x3b-\x7e]*:|[\t ]")


def _delimiters(body: bytes, sep: bytes):
    """``(start, end, is_close)`` of each delimiter line in ``body``:
    ``--boundary`` at the body start or after a line break, an optional
    ``--`` (the close delimiter), optional blanks, then a line break or
    the end of the body. ``end`` is past the line break."""
    n = len(body)
    i = body.find(sep)
    while i >= 0:
        j = i + len(sep)
        if i == 0 or body[i - 1] in b"\r\n":
            close = body.startswith(b"--", j)
            k = j + 2 if close else j
            while k < n and body[k] in b" \t":
                k += 1
            eol = _EOL.match(body, k)
            if eol or k == n:
                yield i, eol.end() if eol else n, close
        i = body.find(sep, j)


def _header_text(name: str, value: bytes) -> str:
    """A header value as the stdlib's default policy reads it: line
    breaks removed, non-ASCII bytes decoded as UTF-8, encoded words
    (``=?charset?…?=``, rare in form data) decoded by the policy
    itself."""
    value = value.replace(b"\r", b"").replace(b"\n", b"")
    if b"=?" in value:
        return str(
            _EMAIL_POLICY.header_fetch_parse(
                name, value.decode("ascii", "surrogateescape")
            )
        )
    return value.decode("utf-8", "replace")


def _read_part(raw: bytes) -> tuple[Message, bytes]:
    """One body part as (a ``Message`` holding its headers, payload).
    The header block ends at the first blank line, or at the first
    line that is neither a field nor a continuation (that line starts
    the payload); the line break before the next delimiter belongs to
    the delimiter, so one trailing line break is dropped."""
    fields: list[tuple[bytes, list[bytes]]] = []
    pos = 0
    while pos < len(raw):
        eol = _EOL.search(raw, pos)
        end = eol.end() if eol else len(raw)
        line = raw[pos:end]
        if not _HEADER_LINE.match(line):
            if _EOL.match(line):  # the blank line closing the block
                pos = end
            break
        pos = end
        if line[:1] in b" \t":
            if fields:  # a leading continuation line is dropped
                fields[-1][1].append(line)
        elif not line.startswith(b"From "):
            colon = line.index(b":")
            if colon:  # a field with no name is dropped
                fields.append(
                    (line[:colon], [line[colon + 1 :].lstrip(b" \t")])
                )
    msg = Message()
    for name, lines in fields:
        key = name.decode("ascii", "surrogateescape")
        msg[key] = _header_text(key, b"".join(lines))
    payload = raw[pos:]
    if payload.endswith(b"\r\n"):
        payload = payload[:-2]
    elif payload.endswith((b"\r", b"\n")):
        payload = payload[:-1]
    if msg.get("content-transfer-encoding") is not None:
        msg.set_payload(payload.decode("ascii", "surrogateescape"))
        payload = msg.get_payload(decode=True)
    return msg, payload


def _parse_multipart(body: bytes, content_type: str):
    """Parse a multipart/form-data body: returns (form: dict[str, str],
    files: dict[str, (filename, bytes)]). Parts are the spans between
    delimiter lines: text before the first one is preamble, text after
    the close delimiter is epilogue, delimiter lines that directly
    follow a delimiter are skipped, and without a close delimiter the
    last part runs to the end of the body. No multipart Content-Type,
    no boundary or no delimiter gives an empty form. Parts without a
    ``name`` are skipped; later parts win on repeated names. Nested
    multipart/* and message/* parts are taken as raw bytes (form data
    carries none). Unquoted parameter values are read as RFC 2045
    tokens, where the stdlib's default policy reads an unquoted ``'``
    as RFC 2231 syntax (it finds no boundary in ``boundary=a'b``)."""
    form: dict[str, str] = {}
    files: dict[str, tuple[str, bytes]] = {}
    head = Message()
    head["Content-Type"] = _header_text("Content-Type", content_type.encode())
    boundary = head.get_boundary()
    if head.get_content_maintype() != "multipart" or boundary is None:
        return form, files

    def add(raw: bytes) -> None:
        msg, payload = _read_part(raw)
        name = msg.get_param("name", header="content-disposition")
        if name is None:
            return
        filename = msg.get_filename()
        if filename is not None:
            files[name] = (filename, payload)
        else:
            form[name] = payload.decode("utf-8", errors="replace")

    start = None  # where the current part begins; None in the preamble
    for i, end, close in _delimiters(body, b"--" + boundary.encode()):
        if start is not None and i > start:
            add(body[start:i])
            if close:
                return form, files
        elif start is None and close:
            return form, files  # closed before any part
        start = end
    if start is not None:
        add(body[start:])
    return form, files


def _rows_json(df, top_k: int) -> list[dict]:
    """format_results analogue (app.py:38-69): engine rows as plain
    JSON objects. The collect is bounded: every mode's frame is
    already top-k limited, and the extra limit here is a guard."""
    import decimal

    out = []
    for r in df.limit(int(top_k)).collect():
        d = r.asDict(recursive=True)
        for k, v in list(d.items()):
            if isinstance(v, decimal.Decimal):
                # Decimal has no .item() and json.dumps rejects it —
                # a DecimalType column would otherwise 500 the request
                d[k] = float(v)
            elif hasattr(v, "item"):  # numpy scalars
                d[k] = v.item()
        out.append(d)
    return out


class _ResponseCache:
    """Bounded LRU over (path, body-digest[, percolator epoch]) → the
    encoded 200 response ``(code, bytes)`` — the reference deployment's ES REQUEST CACHE twin (ES
    caches search responses keyed on the request body against an
    immutable shard snapshot). Sound here for the same reason: an
    Engine's tables are an immutable snapshot, the model seam is
    deterministic per payload, and the one mutable surface — the
    percolator registry — versions its cache keys with an epoch
    counter bumped on register/unregister."""

    def __init__(self, maxsize: int = 512):
        from collections import OrderedDict

        self._data: "OrderedDict" = OrderedDict()
        self._lock = threading.Lock()
        self.maxsize = maxsize

    def get(self, key):
        with self._lock:
            hit = self._data.get(key)
            if hit is not None:
                self._data.move_to_end(key)
            return hit

    def put(self, key, value) -> None:
        with self._lock:
            self._data[key] = value
            self._data.move_to_end(key)
            while len(self._data) > self.maxsize:
                self._data.popitem(last=False)


class _Handler(BaseHTTPRequestHandler):
    engine: Engine = None  # bound by serve()
    model_loader = None
    documents = None  # optional corpus frame for the percolate routes
    percolator = None  # constructed lazily on first register
    _perc_lock = threading.Lock()  # register/unregister are mutations
    hot = False  # serve(hot=...) — resident-tier scoring (serving.py)
    hot_refresh: float | None = None  # serve(hot_refresh=...) seconds
    _hot_refresh_state: dict | None = None  # {"lock", "last"} per server
    resp_cache: _ResponseCache | None = None
    perc_epoch = 0  # bumped on register/unregister (cache versioning)

    _MAX_MATCH_DOCS = 500  # bounded per-request inline batch
    # idempotent search/alert calls — pure functions of (request body,
    # registry epoch); register/unregister are mutations, never cached
    _CACHEABLE = frozenset(
        (
            "/search/whole", "/search/segment", "/search/hybrid",
            "/search/tags", "/api/search", "/percolate/match",
        )
    )

    # -- plumbing -----------------------------------------------------
    def log_message(self, fmt, *args):  # quiet by default
        pass

    def _json(self, code: int, obj) -> None:
        payload = json.dumps(obj).encode("utf-8")
        key = getattr(self, "_cache_key", None)
        if key is not None and code == 200:
            # only successful, fully-built responses enter the cache,
            # encoded, so a hit sends bytes; 4xx/5xx always recompute
            # (errors may be transient)
            type(self).resp_cache.put(key, (code, payload))
        self._send(code, payload)

    def _send(self, code: int, payload: bytes) -> None:
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def _err(self, code: int, message: str, **extra) -> None:
        self._json(code, {"error": message, **extra})

    def _read_body(self) -> bytes | None:
        """Reads the request body; answers 413 and returns None when
        the declared length exceeds the cap — BEFORE reading the
        payload, like Flask's MAX_CONTENT_LENGTH (app.py:27,325)."""
        length = int(self.headers.get("Content-Length") or 0)
        if length > MAX_UPLOAD_BYTES:
            # drain (bounded) before answering so the client can
            # finish its send and read the 413 instead of hitting a
            # connection reset mid-upload; nothing is retained
            remaining = min(length, 4 * MAX_UPLOAD_BYTES)
            while remaining > 0:
                chunk = self.rfile.read(min(remaining, 1 << 20))
                if not chunk:
                    break
                remaining -= len(chunk)
            self.close_connection = True
            self._err(
                413,
                f"File too large. Max size: "
                f"{MAX_UPLOAD_BYTES // (1024 * 1024)}MB",
            )
            return None
        return self.rfile.read(length)

    # -- endpoints ----------------------------------------------------
    def do_GET(self):  # noqa: N802 (stdlib casing)
        if self.path == "/percolate/queries":
            p = type(self).percolator
            self._json(
                200,
                {
                    "queries": [
                        {
                            "query_id": q.query_id,
                            "terms": list(q.terms),
                            "min_score": q.min_score,
                        }
                        for q in (p.queries if p is not None else [])
                    ]
                },
            )
        elif self.path == "/health":
            self._json(
                200,
                {
                    # engine.health() first — the service's "healthy"
                    # wording wins (app.py:75), table flags ride along
                    **self.engine.health(),
                    "status": "healthy",
                    "service": SERVICE_NAME,
                    "version": SERVICE_VERSION,
                },
            )
        else:
            self._err(404, "not found")

    def _maybe_refresh_hot(self) -> None:
        """serve(hot_refresh=N): follow ingests without an operator
        calling ``Engine.hot(rebuild=True)`` by hand — at most one
        staleness check (+ rebuild when stale) per N-second debounce
        window, run on the request thread that won the window. Between
        windows requests serve the immutable snapshot, exactly the
        documented ``rebuild=False`` behavior; the epoch bump from a
        rebuild re-keys the response cache so no stale cached rows
        outlive the refresh."""
        cls = type(self)
        if not cls.hot or cls.hot_refresh is None:
            return
        import time as _time

        st = cls._hot_refresh_state
        now = _time.monotonic()
        with st["lock"]:
            if now - st["last"] < cls.hot_refresh:
                return
            st["last"] = now
        # outside the lock: the no-op path is one epoch compare; a
        # real rebuild runs at most once per window
        self.engine.hot(rebuild="auto")

    def do_POST(self):  # noqa: N802
        body = self._read_body()
        if body is None:
            return
        if self.path.startswith("/search") or self.path == "/api/search":
            # before the cache-key epoch read, so a refresh-triggered
            # rebuild re-keys THIS request too
            self._maybe_refresh_hot()
        cache = type(self).resp_cache
        self._cache_key = None
        if cache is not None and self.path in self._CACHEABLE:
            import hashlib

            # Version mutable surfaces into the key: the percolator
            # registry (its epoch) for /percolate/match, and the
            # serving snapshot (Engine.serving_epoch — bumped by
            # ingest() and hot rebuilds) for the search routes, so a
            # rebuild after a table refresh can't keep serving cached
            # pre-refresh responses.
            epoch = (
                type(self).perc_epoch
                if self.path == "/percolate/match"
                else self.engine.serving_epoch
            )
            # Content-Type is part of the request semantics, not just
            # transport: /search/tags and /api/search switch between
            # JSON and multipart parsing on it, and multipart field
            # extraction reads the header's boundary — identical body
            # bytes under different Content-Types are different
            # requests and must not collide on one cache entry.
            ctype = self.headers.get("Content-Type", "")
            key = (
                self.path,
                hashlib.sha256(
                    ctype.encode("utf-8", "replace") + b"\x00" + body
                ).digest(),
                epoch,
            )
            hit = cache.get(key)
            if hit is not None:
                self._send(*hit)
                return
            self._cache_key = key
        try:
            if self.path == "/search/whole":
                self._image_search(body, "whole")
            elif self.path == "/search/segment":
                self._image_search(body, "segment")
            elif self.path == "/search/hybrid":
                self._image_search(body, "hybrid")
            elif self.path == "/search/tags":
                self._tag_search(body)
            elif self.path == "/api/search":
                self._unified(body)
            elif self.path == "/percolate/register":
                self._percolate_register(body)
            elif self.path == "/percolate/unregister":
                self._percolate_unregister(body)
            elif self.path == "/percolate/match":
                self._percolate_match(body)
            else:
                self._err(404, "not found")
        except ValueError as e:
            self._err(400, str(e))
        except Exception as e:  # app.py:330-331
            self._err(500, "Internal server error", details=str(e))

    def _unified(self, body: bytes) -> None:
        """POST /api/search (app.py:296-321)."""
        form, files = _parse_multipart(
            body, self.headers.get("Content-Type", "")
        )
        mode = form.get("mode", "").lower()
        if mode not in ("whole", "segment", "hybrid", "tags"):
            self._err(
                400, "Invalid mode. Use: whole, segment, hybrid, or tags"
            )
            return
        if mode == "tags":
            self._tag_search(body)
        else:
            self._image_search(body, mode, form=form, files=files)

    def _image_search(
        self, body: bytes, mode: str, form=None, files=None
    ) -> None:
        """POST /search/{whole,segment,hybrid} (app.py:82-253)."""
        if form is None:
            form, files = _parse_multipart(
                body, self.headers.get("Content-Type", "")
            )
        if "image" not in files:
            self._err(400, "No image file provided")
            return
        filename, payload = files["image"]
        if not filename:
            self._err(400, "No file selected")
            return
        if not _allowed_file(filename):
            self._err(400, "Invalid file type")
            return
        top_k = int(form.get("top_k", 10))
        tags = form.get("tags", "").strip()
        tag_filter = (
            [t.strip() for t in tags.split(",") if t.strip()]
            if tags
            else None
        )
        kwargs: dict = {}
        if tag_filter:
            kwargs["tag_filter"] = tag_filter
        if mode in ("segment", "hybrid"):
            kwargs["max_segments"] = int(form.get("max_segments", 10))
        if mode == "hybrid":
            kwargs["whole_weight"] = float(form.get("whole_weight", 0.4))
            kwargs["segment_weight"] = float(form.get("segment_weight", 0.6))
        if type(self).hot:
            results = self.engine.search_content_rows(
                payload,
                filename=filename,
                mode=mode,
                top_k=top_k,
                model_loader=self.model_loader,
                **kwargs,
            )[: int(top_k)]
        else:
            df = self.engine.search_content(
                payload,
                filename=filename,
                mode=mode,
                top_k=top_k,
                model_loader=self.model_loader,
                **kwargs,
            )
            results = _rows_json(df, top_k)
        resp = {
            "mode": mode,
            "top_k": top_k,
            "results": results,
        }
        if mode == "hybrid":
            # app.py:210-212 echoes the weights; visualize=true returns
            # the U8 result grid as base64 PNG (r12 — rendered by the
            # matplotlib-free numpy renderer, functions/render.py; the
            # reference returns its matplotlib figure the same way)
            resp["weights"] = {
                "whole": kwargs.get("whole_weight", 0.4),
                "segment": kwargs.get("segment_weight", 0.6),
            }
            if form.get("visualize", "false").lower() == "true":
                import base64

                from .cli import render_result_grid
                from .functions import render

                resp["visualization"] = base64.b64encode(
                    render.to_png(
                        render_result_grid(self.engine, payload, results)
                    )
                ).decode("ascii")
        self._json(200, resp)

    def _tag_search(self, body: bytes) -> None:
        """POST /search/tags (app.py:256-293): JSON body
        {"tags": [...], "top_k": N} or form data with a comma list."""
        ctype = self.headers.get("Content-Type", "")
        if ctype.startswith("application/json"):
            try:
                data = json.loads(body.decode("utf-8"))
            except Exception:
                self._err(400, "Invalid tags format")
                return
            tags_input = data.get("tags", [])
            top_k = int(data.get("top_k", 10))
            if isinstance(tags_input, str):
                tags = [t.strip() for t in tags_input.split(",") if t.strip()]
            elif isinstance(tags_input, list):
                tags = [str(t).strip() for t in tags_input if str(t).strip()]
            else:
                self._err(400, "Invalid tags format")
                return
        else:
            form, _files = _parse_multipart(body, ctype)
            raw = form.get("tags", "")
            top_k = int(form.get("top_k", 10))
            tags = [t.strip() for t in raw.split(",") if t.strip()]
        if not tags:
            self._err(400, "No tags provided")
            return
        if type(self).hot:
            results = self.engine.search_rows(
                "tags", tags=tags, top_k=top_k
            )[: int(top_k)]
        else:
            results = _rows_json(
                self.engine.search("tags", tags=tags, top_k=top_k), top_k
            )
        self._json(
            200,
            {"mode": "tags", "tags": tags, "top_k": top_k,
             "results": results},
        )

    # -- percolate lifecycle (extension; ES percolator shape) ----------
    def _percolate_json(self, body: bytes) -> dict:
        ctype = self.headers.get("Content-Type", "")
        if not ctype.startswith("application/json"):
            raise ValueError("percolate endpoints take application/json")
        try:
            data = json.loads(body.decode("utf-8"))
        except Exception:
            raise ValueError("Invalid JSON body")
        if not isinstance(data, dict):
            raise ValueError("Invalid JSON body")
        return data

    def _percolate_register(self, body: bytes) -> None:
        if type(self).documents is None:
            raise ValueError(
                "no documents corpus bound — serve(documents=...)"
            )
        data = self._percolate_json(body)
        qid = str(data.get("query_id", "")).strip()
        if not qid:
            raise ValueError("query_id required")
        terms = data.get("terms", [])
        if isinstance(terms, str):
            terms = [t.strip() for t in terms.split(",") if t.strip()]
        terms = tuple(str(t).strip() for t in terms if str(t).strip())
        min_score = float(data.get("min_score", 0.0))
        from .api import Percolator

        with self._perc_lock:
            p = type(self).percolator
            if p is None:
                # first registration constructs the percolator — the
                # index-a-query call that freezes the corpus stats
                type(self).percolator = Percolator(
                    type(self).documents, [(qid, terms, min_score)]
                )
            else:
                p.register((qid, terms, min_score))
            n = len(type(self).percolator.queries)
            type(self).perc_epoch += 1  # invalidate cached match keys
        self._json(200, {"registered": qid, "n_queries": n})

    def _percolate_unregister(self, body: bytes) -> None:
        data = self._percolate_json(body)
        qid = str(data.get("query_id", "")).strip()
        p = type(self).percolator
        if p is None:
            raise ValueError("no standing queries registered")
        with self._perc_lock:
            try:
                p.unregister(qid)
            except KeyError as e:
                raise ValueError(str(e).strip("'\""))
            n = len(p.queries)
            type(self).perc_epoch += 1  # invalidate cached match keys
        self._json(200, {"unregistered": qid, "n_queries": n})

    def _percolate_match(self, body: bytes) -> None:
        data = self._percolate_json(body)
        p = type(self).percolator
        if p is None:
            raise ValueError("no standing queries registered")
        docs = data.get("docs")
        if docs is None and "text" in data:
            docs = [data]
        if not isinstance(docs, list) or not docs:
            raise ValueError("docs must be a non-empty list")
        if len(docs) > self._MAX_MATCH_DOCS:
            raise ValueError(
                f"too many docs per call (max {self._MAX_MATCH_DOCS})"
            )
        rows = []
        for i, d in enumerate(docs):
            if not isinstance(d, dict) or "text" not in d:
                raise ValueError("each doc needs a text field")
            rows.append((int(d.get("doc_id", i)), str(d["text"])))
        if type(self).hot:
            # resident-tier alerting: pure-Python scoring against the
            # frozen statistics (Percolator.matches_rows — equivalence-
            # pinned vs the Spark forms). Held under the registry lock:
            # the scorer reads the mutable registry, and at µs per call
            # the lock can cover EXECUTION without convoying anything
            # (the plan-build-only discipline below exists because
            # Spark execution is 5 orders of magnitude slower).
            with self._perc_lock:
                if (
                    self._cache_key is not None
                    and type(self).perc_epoch != self._cache_key[2]
                ):
                    # registry changed between key capture and scoring —
                    # don't publish this response under the stale epoch
                    self._cache_key = None
                matches = p.matches_rows(rows)
                cap = len(rows) * len(p.queries)
            self._json(
                200, {"n_docs": len(rows), "matches": matches[:cap]}
            )
            return
        spark = type(self).documents.sparkSession
        # inline-VALUES batch: parses to a true LocalRelation, so the
        # match plan schedules no parallelize job for the micro-batch
        # (createDataFrame is RDD-backed — measured +0.2-0.4s and one
        # extra job per call). Texts are untrusted HTTP input — escape
        # per the session's parser mode (quote doubling is valid in
        # both modes).
        from .streaming.percolate import _sql_str

        esc = (
            spark.conf.get(
                "spark.sql.parser.escapedStringLiterals", "false"
            ).lower()
            == "true"
        )
        values = ", ".join(
            "({}L, '{}')".format(int(i), _sql_str(t, esc)) for i, t in rows
        )
        batch = spark.sql(
            f"SELECT * FROM VALUES {values} AS t(doc_id, text)"
        )
        # The lock covers PLAN BUILD only (matches() reads the mutable
        # registry; register/unregister mutate it) — the built plan
        # captures the registry state as literals, so the expensive
        # part, executing it, runs lock-free and concurrent match
        # traffic does not convoy behind a slow request or a
        # registration (pinned by the 32-way burst in
        # tests/test_concurrency.py).
        with self._perc_lock:
            if (
                self._cache_key is not None
                and type(self).perc_epoch != self._cache_key[2]
            ):
                # same stale-epoch guard as the hot path: the registry
                # changed between key capture and plan build — the
                # response (built from the post-change registry) must
                # not publish under the pre-change epoch key, where
                # concurrently in-flight old-epoch requests would read
                # it as the old registry's answer
                self._cache_key = None
            df = p.matches(batch)
            cap = len(rows) * len(p.queries)
        self._json(
            200,
            {"n_docs": len(rows), "matches": _rows_json(df, cap)},
        )


def serve(
    engine: Engine,
    host: str = "127.0.0.1",
    port: int = 0,
    model_loader=None,
    documents=None,
    hot: bool = True,
    hot_path: str | None = None,
    hot_refresh: float | None = None,
    cache_size: int = 512,
) -> ThreadingHTTPServer:
    """Start the service on a background thread and return the server
    (``server.server_address`` carries the bound port when ``port=0``;
    ``server.shutdown()`` stops it). ``model_loader`` threads through
    to ``Engine.search_content`` — the CLIP seam (tests inject the
    deterministic stub; a GPU deployment passes the real loader).
    ``documents`` (optional) is the text corpus the /percolate/*
    routes freeze their standing-query statistics against; without it
    those routes answer 400.

    ``hot`` (default) builds the driver-resident serving tier at
    startup (serving.py — Engine.hot(); the ES-parity always-hot
    index) so per-request scoring costs microseconds instead of a
    ~0.5-0.9 s Spark plan; ``hot=False`` keeps every request on the
    Spark plans — the fits-nowhere-resident deployment, and the tier
    the equivalence tests certify the hot one against. ``hot_path``
    threads through to ``Engine.hot(path=...)`` — the durable-artifact
    seam: a serving process boots its resident state from the saved
    ``.npz`` when the file exists (no Spark build at startup), and
    builds + saves it when it does not (the reference's bulk-load-ES-
    then-serve split). ``hot_refresh`` (seconds, opt-in) makes a
    long-running process FOLLOW ingests: search requests trigger an
    ``Engine.hot(rebuild="auto")`` staleness check at most once per
    window — a rebuild happens only when an ingest actually bumped
    the table epoch, and between windows the documented immutable
    snapshot serves (the last manual step of the freshness story,
    automated with a debounce so a rebuild storm can't start).
    ``cache_size`` bounds the idempotent-response LRU (0 disables
    it)."""
    if hot:
        # build/boot the resident artifact before the first request
        engine.hot(path=hot_path)
    handler = type(
        "BoundHandler",
        (_Handler,),
        {
            "engine": engine,
            # staticmethod: a bare function in a class dict would bind
            # as a method and receive the handler as a bogus first arg
            "model_loader": (
                staticmethod(model_loader) if model_loader is not None
                else None
            ),
            "documents": documents,
            "percolator": None,
            "_perc_lock": threading.Lock(),
            "hot": bool(hot),
            "hot_refresh": (
                float(hot_refresh) if hot_refresh is not None else None
            ),
            "_hot_refresh_state": {
                "lock": threading.Lock(),
                "last": float("-inf"),
            },
            "resp_cache": (
                _ResponseCache(cache_size) if cache_size > 0 else None
            ),
            "perc_epoch": 0,
        },
    )
    class _Server(ThreadingHTTPServer):
        # stdlib default backlog is 5 — a 32-way burst of ms-class
        # requests (the hot tier made them arrive together) overflows
        # the SYN queue and the kernel RSTs the overflow. Size the
        # backlog to the burst the SRS contemplates.
        request_queue_size = 128
        daemon_threads = True

    server = _Server((host, port), handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server


def main(argv: list[str] | None = None) -> int:
    """``python -m data_feature_extraction_and_retrieval_pipeline_spark.service
    [--sf-dir DIR] [--port P]`` — bind an Engine to the test tables
    and serve until interrupted."""
    import argparse

    from . import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument(
        "--hot-path",
        default=None,
        help="durable serving artifact (.npz): boot from it when it "
        "exists, build+save it when it doesn't",
    )
    args = ap.parse_args(argv)

    spark = get_spark()
    engine = Engine.from_sf_dir(spark, args.sf_dir)
    from .sources import load_table

    docs = load_table(spark, args.sf_dir, "documents").select(
        "doc_id", "text"
    )
    server = serve(
        engine, host=args.host, port=args.port, documents=docs,
        hot_path=args.hot_path,
    )
    print(f"serving on {server.server_address}")
    try:
        threading.Event().wait()
    except KeyboardInterrupt:
        server.shutdown()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
