"""Hot serving tier — driver-resident scoring over Spark-built artifacts.

The reference serves interactive traffic from an always-hot
Elasticsearch index (app.py:182-253 → search_with_segments.py:148-185):
the corpus vectors are RESIDENT in the serving process, so a request
costs one in-memory scan, never a query-planning pass. This engine's
batch/query layer is Spark — and a Spark plan, even a cached one,
carries ~0.5-0.9 s of per-request driver cost at interactive corpus
sizes (Catalyst analysis + codegen + DAGScheduler submission;
measured in SCALING.md "Serving concurrency"). That floor is the right
trade for 100 TB scans and exactly the wrong one for a 10-result
lookup a user is waiting on.

:class:`HotSearchIndex` is the ES-parity piece: Spark BUILDS the
artifact (one Arrow collect per serving table, read straight into
numpy — the same "index build" step the reference runs when it
bulk-loads ES), and request scoring runs against the resident copy
in microseconds. The score algebra is the operator layer's,
replicated term-for-term (whole calibration +1.0, the hybrid
0..2/−1..1 asymmetry with missing→0, rounded-score ordering with id
tiebreaks) and pinned by equivalence tests against the Spark plans
(tests/test_serving.py) — the DataFrame path stays the system of
record; the hot tier is a view of it.

Scale posture (the 100 TB story):

- The resident artifact holds ONLY the serving columns — ids +
  vectors + tag structs — at 8·n·dim bytes of float64 per vector
  table, or 4·n·dim with a ``save(dtype="float32")`` artifact (the
  source precision: CLIP emits float32). One driver comfortably holds
  ~10M×64d (~5 GB) at float64, ~20M×64d at float32; past that the
  deployment shards: partition the vectors by id range across N
  serving processes (each built by the same Spark job writing N
  artifacts), scatter the query, merge the per-shard top-k — exact,
  because every mode's score is per-image and the final cut is a
  k-way merge on the same (rounded score, id) order. This is the
  reference's posture too: ES scales script_score by sharding the
  index, not by making one shard bigger.
- Freshness: the artifact is immutable once built, like the parquet
  snapshot it came from; refresh = rebuild from the current tables
  (``Engine.hot(rebuild=True)``). Streaming ingest appends via the
  incremental-ANN path (streaming/ann_ingest.py) and periodic
  artifact rebuilds, the standard lambda-serving split.
- Anything that does NOT fit the resident tier — historical scans,
  analytics, curation — stays on the Spark plans. ``serve(...,
  hot=False)`` keeps the pure-Spark serving path alive and tested.

Float discipline: per-pair similarities are numpy matmuls in the
RESIDENT MATRIX'S dtype. The live/float64 tier computes the same
products as the operator layer's Arrow path (functions/vectors.py
``dot_batch`` is the same matmul); the whole-image dot accumulates in
SIMD-blocked order where the JVM HOF folds left-to-right; results
agree to ~1e-13, absorbed by the 1e-6 rounded-score ordering the
engine certifies under (queries.py module header). Segment scoring
multiplies only the candidate rows — a slice view of the resident
matrix when the candidates are one contiguous run of images, a
gathered copy otherwise — and BLAS blocks a candidate-sized matmul
differently from a full-matrix one, so those dots are not
bit-identical to the full matmul's either; the same 1e-6 rounded
ordering absorbs the difference. A float32 artifact scores in
float32 — ~1e-7 relative quantization vs the float64 tier, same
1e-6-rounding absorption, pinned at 1e-6 tolerance in
tests/test_serving.py. Display rounding replicates Spark's
HALF_UP-on-shortest-decimal exactly (:func:`round6` vectorizes it).

Request-path discipline: only the k returned rows become Python
objects. Tag filters, segment maxima, averages, rank keys and the
hybrid join are numpy array operations over the resident layout.
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

# Java \s — Spark's split(lower(text), '\\s+') tokenizer class. NOT
# Python \s (which adds unicode spaces); parity with functions/text.py
# ``tokens`` requires the Java set exactly.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def py_tokens(text: str | None) -> list[str]:
    """Driver-side twin of ``functions.text.tokens`` (lowercased
    whitespace tokens, empties dropped) — same Java-regex whitespace
    class, same lowercase-then-split order."""
    if not text:
        return []
    return [t for t in _JAVA_WS.split(text.lower()) if t]


def round_half_up(x: float, digits: int = 6) -> float:
    """Spark's ``F.round(double, d)``: HALF_UP on the shortest decimal
    representation (BigDecimal.valueOf ≡ repr round-trip)."""
    return float(
        Decimal(repr(float(x))).quantize(
            Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP
        )
    )


def round6(x) -> np.ndarray:
    """:func:`round_half_up` to 6 digits over a float64 array, bit for
    bit. ``floor(|x|·1e6 + 0.5)/1e6`` with the sign restored is exact
    wherever the scaled value sits more than 1e-7 from a .5 tie: the
    product and the shortest-decimal value of ``x`` differ by under
    2e-8 there (|x·1e6| < 2**26), so both floor to the same integer,
    and one correctly rounded division gives the nearest double, as
    ``float(Decimal)`` does. Near-ties, huge values and non-finite
    values take the scalar ``Decimal`` path."""
    x = np.asarray(x, dtype=np.float64)
    scaled = np.abs(x * 1e6)
    out = np.copysign(np.floor(scaled + 0.5), x) / 1e6
    slow = ~(scaled < 2.0**26) | (np.abs(scaled % 1.0 - 0.5) < 1e-7)
    for i in np.flatnonzero(slow).tolist():
        out[i] = round_half_up(x[i], 6)
    return out


def _topk_order(scores: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Indices of the top-k rows under (score DESC, id ASC) — the
    engine's deterministic tiebreak order."""
    order = np.lexsort((ids, -scores))
    return order[: int(k)]


def _id_array(ids) -> np.ndarray:
    """An ``allowed=`` id collection (set, list or array) as an array
    for ``np.isin``."""
    return ids if isinstance(ids, np.ndarray) else np.asarray(list(ids))


def _ids(col) -> np.ndarray:
    """An Arrow id column with the dtype ``np.asarray`` gives its
    Python values: int64 for integer ids, ``<U`` for strings — the
    scorers hand ids out through ``.tolist()``."""
    import pyarrow as pa

    if pa.types.is_integer(col.type) and not col.null_count:
        return np.array(col.to_numpy(), dtype=np.int64)
    return np.asarray(col.to_pylist())


def _matrix(col, name: str) -> np.ndarray:
    """The ``(n, dim)`` float64 matrix of an Arrow list column named
    ``table.column``. Arrow would read a null as NaN, so null vectors,
    null elements and ragged rows are refused here; an empty table
    gives a ``(0, 0)`` matrix."""
    vecs = col.combine_chunks()
    flat = vecs.flatten()
    if vecs.null_count:
        raise ValueError(f"hot build: {name} holds a null vector")
    if flat.null_count:
        raise ValueError(f"hot build: {name} holds a null vector element")
    if not len(vecs):
        return np.zeros((0, 0), dtype=np.float64)
    widths = np.diff(vecs.offsets.to_numpy())
    if (widths != widths[0]).any():
        raise ValueError(
            f"hot build: {name} holds vectors of unequal width "
            f"({widths.min()} to {widths.max()})"
        )
    return flat.to_numpy().astype(np.float64).reshape(len(vecs), widths[0])


class TagTable:
    """Per-image tag lists in flat CSR form — the resident layout of
    the tag modes. Row ``r`` is image ``row_ids[r]`` and owns pairs
    ``offsets[r]:offsets[r + 1]``; a pair is a tag code into ``vocab``
    (-1 for a null tag name, which never matches) and a float64
    confidence. Rows keep their table order and are scored one by one,
    so an image on two tag rows answers twice (the Spark plan groups
    by image id: for such tables the tiers differ)."""

    def __init__(self, row_ids, offsets, codes, vocab, confs):
        self.row_ids = row_ids
        self.offsets = offsets
        self.codes = codes
        self.vocab = vocab
        self.confs = confs
        self.pair_rows = np.repeat(np.arange(len(row_ids)), np.diff(offsets))
        self._code = {t: i for i, t in enumerate(vocab.tolist())}

    @classmethod
    def from_pairs(cls, row_ids, lens, names, confs) -> "TagTable":
        """From one id and one pair count per row, then every row's
        tag names and confidences back to back (the :meth:`HotSearchIndex.save`
        layout)."""
        code: dict = {}
        codes = np.fromiter(
            (-1 if t is None else code.setdefault(t, len(code))
             for t in np.asarray(names).tolist()),
            dtype=np.int64, count=len(names),
        )
        vocab = np.asarray(list(code)) if code else np.asarray([], dtype=str)
        offsets = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        return cls(
            np.asarray(row_ids), offsets, codes, vocab,
            np.asarray(confs, dtype=np.float64),
        )

    @classmethod
    def from_rows(cls, rows) -> "TagTable":
        """From ``[(image_id, [(tag, confidence), …]), …]``."""
        pairs = [pair for _, p in rows for pair in p]
        return cls.from_pairs(
            [i for i, _ in rows], [len(p) for _, p in rows],
            [t for t, _ in pairs], [c for _, c in pairs],
        )

    def __len__(self) -> int:
        return len(self.row_ids)

    def names(self) -> list:
        """Every pair's tag name, in pair order."""
        vocab = self.vocab.tolist() + [None]  # code -1 → None
        return [vocab[c] for c in self.codes.tolist()]

    def rows(self) -> list[tuple]:
        """The per-row form ``[(image_id, [(tag, confidence), …]), …]``."""
        pairs = list(zip(self.names(), self.confs.tolist()))
        bounds = self.offsets.tolist()
        return [
            (i, pairs[a:b])
            for i, a, b in zip(self.row_ids.tolist(), bounds, bounds[1:])
        ]

    def take(self, keep: np.ndarray) -> "TagTable":
        """The rows where boolean ``keep`` is set."""
        pairs = keep[self.pair_rows]
        offsets = np.zeros(int(keep.sum()) + 1, dtype=np.int64)
        np.cumsum(np.diff(self.offsets)[keep], out=offsets[1:])
        return TagTable(
            self.row_ids[keep], offsets, self.codes[pairs], self.vocab,
            self.confs[pairs],
        )

    def hits(self, tags: Sequence[str], min_confidence: float) -> np.ndarray:
        """Boolean mask over pairs: tag in ``tags`` and confidence at or
        above the floor."""
        codes = [self._code[t] for t in {str(t) for t in tags} if t in self._code]
        return np.isin(self.codes, codes) & (
            self.confs >= float(min_confidence)
        )


class HotSearchIndex:
    """Driver-resident serving artifact for the four search modes.

    Built by :meth:`from_engine` (one Arrow collect per table);
    scores with numpy against the resident copies. Output rows
    carry the SAME column names and ordering as the operator layer's
    DataFrames, so the service can swap tiers without touching its
    response envelope.
    """

    def __init__(
        self,
        image_ids: np.ndarray,
        image_mat: np.ndarray | None,
        seg_image_ids: np.ndarray | None,
        seg_mat: np.ndarray | None,
        tags: "TagTable | list[tuple] | None",
        image_col: str = "image_id",
    ):
        self.image_col = image_col
        self.image_ids = image_ids
        self.image_mat = image_mat
        self.dim = int(image_mat.shape[1]) if image_mat is not None else None
        # segment rows sorted by image id → per-image contiguous row
        # runs seg_starts[j]:seg_ends[j], the layout every segment-mode
        # aggregation walks
        if seg_mat is not None and len(seg_image_ids):
            order = np.argsort(seg_image_ids, kind="stable")
            self.seg_image_ids = seg_image_ids[order]
            self.seg_mat = seg_mat[order]
            self.seg_groups, self.seg_starts = np.unique(
                self.seg_image_ids, return_index=True
            )
            self.seg_ends = np.append(
                self.seg_starts[1:], len(self.seg_image_ids)
            )
        else:
            self.seg_image_ids = self.seg_mat = None
            self.seg_groups = self.seg_starts = self.seg_ends = None
        # tags: a TagTable, or the per-row form [(image_id, [(tag,
        # conf), …]), …] it is built from
        if tags is not None and not isinstance(tags, TagTable):
            tags = TagTable.from_rows(tags)
        self.tag_table = tags
        self._tag_rows = None

    @property
    def tag_rows(self) -> list[tuple] | None:
        """The tag table as ``[(image_id, [(tag, confidence), …]), …]``
        (derived on first use; the scorers read :attr:`tag_table`)."""
        if self._tag_rows is None and self.tag_table is not None:
            self._tag_rows = self.tag_table.rows()
        return self._tag_rows

    # -- build ---------------------------------------------------------

    @classmethod
    def from_engine(cls, engine) -> "HotSearchIndex":
        """Collect the serving artifact from an Engine's tables — the
        hot tier's "index build". Each table is projected to its
        serving columns (ids + vectors, or ids + tag structs) and
        collected as Arrow batches; the matrices and the flat tag table
        are read from the list columns' flat values, with no Python
        object per vector element."""
        col = engine.image_col

        def fetch(df, value):
            return df.select(col, value).toArrow().columns

        def vectors(df, table, value):
            if df is None:
                return None, None
            ids, vecs = fetch(df, value)
            return _ids(ids), _matrix(vecs, f"{table}.{value}")

        img_ids, img_mat = vectors(engine.images, "images", "embedding")
        seg_ids, seg_mat = vectors(
            engine.segments, "segments", "clip_features"
        )
        tags = None
        if engine.segment_tags is not None:
            ids, tag_lists = fetch(engine.segment_tags, "tags")
            tag_lists = tag_lists.combine_chunks()
            pairs = tag_lists.flatten()  # a null tag list holds no pairs
            tags = TagTable.from_pairs(
                _ids(ids),
                tag_lists.value_lengths().fill_null(0).to_numpy(),
                *(
                    pairs.field(f).to_numpy(zero_copy_only=False)
                    for f in ("tag", "confidence")
                ),
            )
        return cls(
            img_ids, img_mat, seg_ids, seg_mat, tags,
            image_col=engine.image_col,
        )

    # -- durable artifact (build once with Spark, serve forever) --------

    def save(self, path: str, dtype: str | None = None) -> str:
        """Serialize the artifact to one ``.npz`` file — the durable
        half of the reference's build-once/serve-forever split
        (upload_features_to_elasticsearch.py:207-229 writes the ES
        index once; app.py boots against it with no feature-extraction
        stack). A serving process — one shard of
        :class:`ShardedHotIndex` — boots from this file via
        :meth:`load` with numpy alone: no SparkSession, no JVM.

        Layout: ids + matrices verbatim (already sorted), tag rows as
        four flat arrays (row ids, per-row pair counts, names,
        confidences) — no pickle anywhere, so the file is portable
        across Python versions and safe to load from shared storage.

        ``dtype="float32"`` stores the vector matrices at 4 bytes per
        value — halving shard RSS and doubling the per-process ceiling
        to ~20M×64d — which matches the SOURCE precision: CLIP emits
        512-d float32 (extract_clip_features.py), so the float64 tier
        carries no extra information to begin with. A loaded float32
        shard scores in float32; scores differ from the float64 tier
        by ≤ ~1e-7 relative quantization, absorbed by the engine's 1e-6
        rounded-score ordering except for exact ties at the rounding
        boundary (equivalence pinned at 1e-6 in tests/test_serving.py)."""
        cast = (lambda m: m.astype(np.dtype(dtype))) if dtype else (lambda m: m)
        data: dict = {"image_col": np.asarray(self.image_col)}
        if self.image_mat is not None:
            data["image_ids"] = self.image_ids
            data["image_mat"] = cast(self.image_mat)
        if self.seg_mat is not None:
            data["seg_image_ids"] = self.seg_image_ids
            data["seg_mat"] = cast(self.seg_mat)
        t = self.tag_table
        if t is not None:
            names = t.names()
            data["tag_row_ids"] = t.row_ids
            data["tag_row_lens"] = np.diff(t.offsets)
            data["tag_names"] = (
                np.asarray(names) if names else np.asarray([], dtype="U1")
            )
            data["tag_confs"] = t.confs
        with open(path, "wb") as f:
            np.savez(f, **data)
        return path

    @classmethod
    def load(cls, path: str) -> "HotSearchIndex":
        """Boot the artifact from a :meth:`save` file — numpy only, no
        SparkSession (equivalence with the live-built copy is pinned
        per mode in tests/test_serving.py)."""
        with np.load(path, allow_pickle=False) as z:
            a = {k: z[k] for k in z.files}
        tags = None
        if "tag_row_lens" in a:
            tags = TagTable.from_pairs(
                a["tag_row_ids"], a["tag_row_lens"], a["tag_names"],
                a["tag_confs"],
            )
        return cls(
            a.get("image_ids"), a.get("image_mat"), a.get("seg_image_ids"),
            a.get("seg_mat"), tags,
            image_col=str(a.get("image_col", "image_id")),
        )

    # -- per-image segment maxima (the W4 argmax kernel) ----------------

    def _avg_maxima(self, images: np.ndarray, query_rows: Sequence[tuple]):
        """(image ids, avg of the per-query-segment maxima, maxima
        matrix n_images × n_queries) for each of ``images`` that has
        segments, in ascending id order. Same matmul as the Arrow path
        (vectors.dot_batch) over the candidates' segment rows — a view
        when they are one contiguous run, else a gather — grouped with
        reduceat; the avg folds the columns left to right in float64,
        matching the Catalyst column sum."""
        qmat = np.asarray([v for _, v in query_rows], dtype=self.seg_mat.dtype)
        groups = self.seg_groups
        want = np.unique(images)
        pos = np.searchsorted(groups, want)
        pos = pos[groups[np.minimum(pos, len(groups) - 1)] == want]
        if not len(pos):
            return groups[:0], np.zeros(0), np.zeros((0, len(qmat)))
        starts, ends = self.seg_starts[pos], self.seg_ends[pos]
        if pos[-1] - pos[0] == len(pos) - 1:
            sims = self.seg_mat[starts[0] : ends[-1]] @ qmat.T
            cuts = starts - starts[0]
        else:
            lens = ends - starts
            cuts = np.cumsum(lens) - lens
            rows = np.arange(lens.sum()) + np.repeat(starts - cuts, lens)
            sims = self.seg_mat[rows] @ qmat.T
        maxima = np.maximum.reduceat(sims, cuts, axis=0)
        cols = maxima.astype(np.float64, copy=False)
        total = 0.0 + cols[:, 0]
        for j in range(1, cols.shape[1]):
            total = total + cols[:, j]
        return groups[pos], total / float(cols.shape[1]), maxima

    def _whole_scores(self, query_vec: Sequence[float], allowed):
        """(ids, calibrated whole scores dot + 1.0) over the images in
        ``allowed``. The query is cast to the MATRIX dtype: a float32
        artifact scores in float32 (mixed-dtype matmul would silently
        materialize a float64 copy of the whole matrix for BLAS)."""
        q = np.asarray(query_vec, dtype=self.image_mat.dtype)
        scores = self.image_mat @ q + 1.0
        ids = self.image_ids
        if allowed is not None:
            keep = np.isin(ids, _id_array(allowed))
            ids, scores = ids[keep], scores[keep]
        return ids, scores

    # -- the four modes --------------------------------------------------

    def whole(
        self, query_vec: Sequence[float], k: int,
        allowed: set | None = None,
    ) -> list[dict]:
        """retrieval.knn twin: score = dot + 1.0, (score DESC, id ASC),
        top k → [{image_col, score}]."""
        ids, scores = self._whole_scores(query_vec, allowed)
        take = _topk_order(scores, ids, k)
        return [
            {self.image_col: i, "score": s}
            for i, s in zip(ids[take].tolist(), scores[take].tolist())
        ]

    def segment(
        self,
        query_rows: Sequence[tuple],
        top_k: int,
        candidate_cap: int | None = None,
        allowed: set | None = None,
    ) -> list[dict]:
        """retrieval.segment_search twin: per-query-segment argmax per
        image, avg + max of the maxima, candidate cap = first ``cap``
        image ids ascending (the reference's top_k·3 ES recall
        heuristic), ordering (round6(avg) DESC, id ASC)."""
        if self.seg_groups is None:  # shard/corpus with no segments
            return []
        groups = self.seg_groups
        if allowed is not None:
            groups = groups[np.isin(groups, _id_array(allowed))]
        if candidate_cap is not None:
            groups = groups[: int(candidate_cap)]  # unique() ⇒ sorted asc
        gids, avg, maxima = self._avg_maxima(groups, query_rows)
        take = _topk_order(round6(avg), gids, top_k)
        return [
            {
                self.image_col: g,
                "avg_similarity": a,
                "max_segment_similarity": m,
            }
            for g, a, m in zip(
                gids[take].tolist(), avg[take].tolist(),
                maxima[take].max(axis=1).tolist(),
            )
        ]

    def hybrid(
        self,
        query_vec: Sequence[float],
        query_rows: Sequence[tuple],
        top_k: int,
        whole_weight: float = 0.4,
        segment_weight: float = 0.6,
        allowed: set | None = None,
    ) -> list[dict]:
        """retrieval.hybrid_search twin: phase-1 pool max(20k, 100) on
        the calibrated whole score, phase-2 segment avg-of-maxima (raw
        cosine) for pool members only, missing → 0.0, hybrid =
        w·whole + w·segment, (round6(hybrid) DESC, id ASC)."""
        ids, scores = self._whole_scores(query_vec, allowed)
        take = _topk_order(scores, ids, max(int(top_k) * 20, 100))
        pool_ids = ids[take]
        whole = scores[take].astype(np.float64)
        seg = np.zeros(len(take))
        if self.seg_mat is not None:
            gids, avg, _ = self._avg_maxima(pool_ids, query_rows)
            if len(gids):
                # join pool members to their segment scores: gids is
                # sorted, so each member's slot is a binary search
                pos = np.minimum(np.searchsorted(gids, pool_ids), len(gids) - 1)
                found = gids[pos] == pool_ids
                seg[found] = avg[pos[found]]
        hyb = float(whole_weight) * whole + float(segment_weight) * seg
        order = _topk_order(round6(hyb), pool_ids, top_k)
        return [
            {
                self.image_col: g,
                "whole_score": w,
                "segment_score": s,
                "hybrid_score": h,
            }
            for g, w, s, h in zip(
                pool_ids[order].tolist(), whole[order].tolist(),
                seg[order].tolist(), hyb[order].tolist(),
            )
        ]

    def tags(
        self,
        tags: Sequence[str],
        min_confidence: float = 0.1,
        top_k: int = 10,
    ) -> list[dict]:
        """retrieval.tag_search twin: OR-match ≥ confidence floor,
        ranked by (#distinct matched tags DESC, max confidence DESC,
        id ASC)."""
        t = self.tag_table
        hit = t.hits(tags, min_confidence)
        if not hit.any():
            return []
        rows, codes = t.pair_rows[hit], t.codes[hit]
        # pairs are in row order: each matched row is one run of hits
        cuts = np.flatnonzero(np.diff(rows, prepend=-1))
        hit_rows = rows[cuts]
        best = np.maximum.reduceat(t.confs[hit], cuts)
        distinct = np.unique(rows * len(t.vocab) + codes) // len(t.vocab)
        n_tags = np.bincount(
            np.searchsorted(hit_rows, distinct), minlength=len(hit_rows)
        )
        ids = t.row_ids[hit_rows]
        order = np.lexsort((ids, -best, -n_tags))[: int(top_k)]
        return [
            {
                self.image_col: g,
                "matched_tags": n,
                "max_confidence": c,
            }
            for g, n, c in zip(
                ids[order].tolist(), n_tags[order].tolist(),
                best[order].tolist(),
            )
        ]

    def tag_allowed(
        self, tag_filter: Sequence[str], min_confidence: float
    ) -> set:
        """Engine._tag_allowed_ids twin: ids with ≥1 tag in the filter
        at or above the confidence floor."""
        t = self.tag_table
        hit = t.hits(tag_filter, min_confidence)
        return set(t.row_ids[t.pair_rows[hit]].tolist())


class ShardedHotIndex:
    """The horizontal posture as CODE: N :class:`HotSearchIndex`
    shards partitioned by image id, each answering locally, merged
    with an exact k-way gather — the layout SCALING.md's "Serving
    concurrency" describes for the SRS 1000-user line (N stateless
    serving processes over Spark-built artifacts behind a balancer).

    Exactness argument, per mode: every score this engine serves is a
    PER-IMAGE quantity (whole dot, avg/max of per-query-segment
    maxima, tag match counts), and sharding by image id co-locates an
    image's embedding, all its segments, and its tag row on one
    shard — so each shard's local result rows equal the rows a single
    index would produce for its id range (to the ~1-ulp BLAS dgemm
    blocking effect on the dots, absorbed like every fp-order effect
    by the 1e-6 rounded-score ordering), and the global answer is a
    merge-sort of bounded local lists:

    - ``whole`` / ``tags``: gather each shard's local top-k, re-sort
      under the same (score/rank, id) order, cut to k.
    - ``segment``: the candidate cap is the FIRST ``cap`` image ids
      ascending over the whole corpus — resolved globally from the
      shards' local first-``cap`` id lists (each is a superset of its
      shard's contribution to the global cap), then scored shard-
      locally against exactly that id set.
    - ``hybrid``: the phase-1 pool (global top ``max(20k,100)`` by
      whole score) gathers from per-shard local pools the same way,
      then each shard computes segment scores for its pool members.

    Equivalence with the single index (and therefore with the Spark
    plans) is pinned for every mode in tests/test_serving.py. A real
    deployment runs one shard per process (:meth:`from_paths`) behind a
    thin gather tier that merges the per-shard rows as these methods do.
    """

    def __init__(self, shards: list[HotSearchIndex], image_col: str):
        self.shards = shards
        self.image_col = image_col

    @classmethod
    def from_hot(cls, hot: HotSearchIndex, n_shards: int) -> "ShardedHotIndex":
        """Split a built artifact into ``n_shards`` by ``id %
        n_shards`` (any id-deterministic partitioner works; a Spark
        build writes the same split with one ``pmod`` column)."""
        shards = []
        for s in range(int(n_shards)):
            def keep(ids):
                return np.asarray(
                    [int(i) % n_shards == s for i in ids.tolist()],
                    dtype=bool,
                )

            img_keep = keep(hot.image_ids)
            seg_ids = seg_mat = None
            if hot.seg_mat is not None:
                seg_keep = keep(hot.seg_image_ids)
                seg_ids = hot.seg_image_ids[seg_keep]
                seg_mat = hot.seg_mat[seg_keep]
            tags = None
            if hot.tag_table is not None:
                tags = hot.tag_table.take(keep(hot.tag_table.row_ids))
            shards.append(
                HotSearchIndex(
                    hot.image_ids[img_keep],
                    hot.image_mat[img_keep],
                    seg_ids,
                    seg_mat,
                    tags,
                    image_col=hot.image_col,
                )
            )
        return cls(shards, hot.image_col)

    @classmethod
    def from_paths(cls, paths: Sequence[str]) -> "ShardedHotIndex":
        """Boot the sharded posture from per-shard :meth:`save_shards`
        artifacts — numpy only, no SparkSession. This is the deployment
        shape: each path is one serving process's resident state; this
        in-process form is the executable merge reference."""
        shards = [HotSearchIndex.load(str(p)) for p in paths]
        image_col = shards[0].image_col if shards else "image_id"
        return cls(shards, image_col)

    def save_shards(
        self, directory: str, dtype: str | None = None
    ) -> list[str]:
        """Write each shard to ``{directory}/shard-{i}.npz`` and return
        the paths (the Spark-side build writes the same split with one
        ``pmod(id, n)`` partition column; ``from_paths`` reloads).
        ``dtype`` forwards to :meth:`HotSearchIndex.save` —
        ``"float32"`` halves every shard's resident footprint."""
        import os

        os.makedirs(directory, exist_ok=True)
        return [
            s.save(os.path.join(directory, f"shard-{i}.npz"), dtype=dtype)
            for i, s in enumerate(self.shards)
        ]

    def _gather(self, per_shard: list[list[dict]], sort_key, k: int):
        rows = [r for rows in per_shard for r in rows]
        rows.sort(key=sort_key)
        return rows[: int(k)]

    def whole(self, query_vec, k, allowed=None) -> list[dict]:
        col = self.image_col
        return self._gather(
            [s.whole(query_vec, k, allowed=allowed) for s in self.shards],
            lambda r: (-r["score"], r[col]),
            k,
        )

    def _global_cap_ids(self, cap: int, allowed) -> set:
        cand = []
        for s in self.shards:
            groups = s.seg_groups
            if groups is None:
                continue
            ids = groups.tolist()
            if allowed is not None:
                ids = [g for g in ids if g in allowed]
            cand.extend(ids[: int(cap)])  # seg_groups is sorted asc
        return set(sorted(cand)[: int(cap)])

    def segment(
        self, query_rows, top_k, candidate_cap=None, allowed=None
    ) -> list[dict]:
        col = self.image_col
        cap_ids = (
            self._global_cap_ids(candidate_cap, allowed)
            if candidate_cap is not None
            else allowed
        )
        return self._gather(
            [
                s.segment(
                    query_rows, top_k, candidate_cap=None, allowed=cap_ids
                )
                for s in self.shards
            ],
            lambda r: (-round_half_up(r["avg_similarity"], 6), r[col]),
            top_k,
        )

    def hybrid(
        self, query_vec, query_rows, top_k,
        whole_weight=0.4, segment_weight=0.6, allowed=None,
    ) -> list[dict]:
        col = self.image_col
        pool = max(int(top_k) * 20, 100)
        # phase 1: global pool from per-shard local pools (exact —
        # a shard's local top-pool is a superset of its members in
        # the global pool)
        local = [
            s.whole(query_vec, pool, allowed=allowed) for s in self.shards
        ]
        pool_rows = self._gather(
            local, lambda r: (-r["score"], r[col]), pool
        )
        pool_ids = {r[col] for r in pool_rows}
        per_shard = [
            s.hybrid(
                query_vec, query_rows, top_k,
                whole_weight=whole_weight, segment_weight=segment_weight,
                allowed=(
                    pool_ids
                    if allowed is None
                    else pool_ids & set(allowed)
                ),
            )
            for s in self.shards
        ]
        return self._gather(
            per_shard,
            lambda r: (-round_half_up(r["hybrid_score"], 6), r[col]),
            top_k,
        )

    def tags(self, tags, min_confidence=0.1, top_k=10) -> list[dict]:
        col = self.image_col
        return self._gather(
            [
                s.tags(tags, min_confidence=min_confidence, top_k=top_k)
                for s in self.shards
            ],
            lambda r: (-r["matched_tags"], -r["max_confidence"], r[col]),
            top_k,
        )

    def tag_allowed(self, tag_filter, min_confidence) -> set:
        out: set = set()
        for s in self.shards:
            if s.tag_table is not None:
                out |= s.tag_allowed(tag_filter, min_confidence)
        return out
