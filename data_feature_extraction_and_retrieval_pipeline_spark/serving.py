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
RESIDENT MATRIX'S dtype. The live/float64 tier is bit-identical to
the operator layer's Arrow path (functions/vectors.py ``dot_batch``
is the same matmul); the whole-image dot accumulates in SIMD-blocked
order where the JVM HOF folds left-to-right; results agree to ~1e-13,
absorbed by the 1e-6 rounded-score ordering the engine certifies
under (queries.py module header). A float32 artifact scores in
float32 — ~1e-7 relative quantization vs the float64 tier, same
1e-6-rounding absorption, pinned at 1e-6 tolerance in
tests/test_serving.py. Display rounding replicates Spark's
HALF_UP-on-shortest-decimal exactly.
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


def _topk_order(scores: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Indices of the top-k rows under (score DESC, id ASC) — the
    engine's deterministic tiebreak order."""
    order = np.lexsort((ids, -scores))
    return order[: int(k)]


def _ids(col) -> np.ndarray:
    """An Arrow id column with the dtype ``np.asarray`` gives its
    Python values: int64 for integer ids, ``<U`` for strings — the
    scorers hand ids out through ``.item()``."""
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


def _tag_rows(ids, lens, names, confs) -> list[tuple]:
    """``(image_id, [(tag, confidence), …])`` rows from the flat tag
    layout: one id and one pair count per row, then every row's names
    and confidences back to back."""
    pairs = list(zip(names.tolist(), confs.astype(np.float64).tolist()))
    ends = np.cumsum(lens).tolist()
    return [
        (i, pairs[e - n : e])
        for i, n, e in zip(ids.tolist(), lens.tolist(), ends)
    ]


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
        tag_rows: list[tuple] | None,
        image_col: str = "image_id",
    ):
        self.image_col = image_col
        self.image_ids = image_ids
        self.image_mat = image_mat
        self.dim = int(image_mat.shape[1]) if image_mat is not None else None
        # segment rows sorted by image id → per-image contiguous slices
        # (reduceat group boundaries), the layout every segment-mode
        # aggregation walks
        if seg_mat is not None and len(seg_image_ids):
            order = np.argsort(seg_image_ids, kind="stable")
            self.seg_image_ids = seg_image_ids[order]
            self.seg_mat = seg_mat[order]
            self.seg_groups, self.seg_starts = np.unique(
                self.seg_image_ids, return_index=True
            )
        else:
            self.seg_image_ids = self.seg_mat = None
            self.seg_groups = self.seg_starts = None
        self.tag_rows = tag_rows  # list of (image_id, [(tag, conf), …])

    # -- build ---------------------------------------------------------

    @classmethod
    def from_engine(cls, engine) -> "HotSearchIndex":
        """Collect the serving artifact from an Engine's tables — the
        hot tier's "index build". Each table is projected to its
        serving columns (ids + vectors, or ids + tag structs) and
        collected as Arrow batches; the matrices are read from the
        list columns' flat values, with no Python object per element."""
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
        tag_rows = None
        if engine.segment_tags is not None:
            ids, tags = fetch(engine.segment_tags, "tags")
            tags = tags.combine_chunks()
            pairs = tags.flatten()  # a null tag list holds no pairs
            tag_rows = _tag_rows(
                _ids(ids),
                tags.value_lengths().fill_null(0).to_numpy(),
                *(
                    pairs.field(f).to_numpy(zero_copy_only=False)
                    for f in ("tag", "confidence")
                ),
            )
        return cls(
            img_ids, img_mat, seg_ids, seg_mat, tag_rows,
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
        if self.tag_rows is not None:
            pairs = [pair for _, p in self.tag_rows for pair in p]
            data["tag_row_ids"] = np.asarray([i for i, _ in self.tag_rows])
            data["tag_row_lens"] = np.asarray(
                [len(p) for _, p in self.tag_rows], dtype=np.int64
            )
            names = [t for t, _ in pairs]
            data["tag_names"] = (
                np.asarray(names) if names else np.asarray([], dtype="U1")
            )
            data["tag_confs"] = np.asarray(
                [c for _, c in pairs], dtype=np.float64
            )
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
        tag_rows = None
        if "tag_row_lens" in a:
            tag_rows = _tag_rows(
                a["tag_row_ids"], a["tag_row_lens"], a["tag_names"],
                a["tag_confs"],
            )
        return cls(
            a.get("image_ids"), a.get("image_mat"), a.get("seg_image_ids"),
            a.get("seg_mat"), tag_rows,
            image_col=str(a.get("image_col", "image_id")),
        )

    # -- per-image segment maxima (the W4 argmax kernel) ----------------

    def _segment_maxima(self, cand_mask: np.ndarray, qmat: np.ndarray):
        """For each image whose mask bit is set: per-query max cosine
        over the image's segments. Returns (image_ids, maxima matrix
        n_images × n_queries). Same float64 matmul as the Arrow path
        (vectors.dot_batch), grouped with reduceat over the image-
        sorted layout."""
        rows = np.flatnonzero(cand_mask)
        if not len(rows):
            return np.empty(0, dtype=self.seg_groups.dtype), np.zeros(
                (0, len(qmat))
            )
        sims = self.seg_mat[rows] @ qmat.T  # (n_rows, Q)
        gids = self.seg_image_ids[rows]
        groups, starts = np.unique(gids, return_index=True)
        maxima = np.maximum.reduceat(sims, starts, axis=0)
        return groups, maxima

    def _avg_maxima(self, images: np.ndarray, query_rows: Sequence[tuple]):
        """(image id, avg of the per-query-segment maxima, maxima row)
        for each of ``images`` that has segments; the avg sums left to
        right, matching the Catalyst column sum."""
        qmat = np.asarray(
            [[float(x) for x in v] for _, v in query_rows],
            dtype=self.seg_mat.dtype,
        )
        gids, maxima = self._segment_maxima(
            np.isin(self.seg_image_ids, images), qmat
        )
        out = []
        for g, row in zip(gids.tolist(), maxima):
            total = 0.0 + row[0]
            for j in range(1, len(qmat)):
                total = total + row[j]
            out.append((g, total / float(len(qmat)), row))
        return out

    # -- the four modes --------------------------------------------------

    def _whole_scores(self, query_vec: Sequence[float], allowed: set | None):
        """(ids, calibrated whole scores dot + 1.0) over the images in
        ``allowed``. The query is cast to the MATRIX dtype: a float32
        artifact scores in float32 (mixed-dtype matmul would silently
        materialize a float64 copy of the whole matrix for BLAS)."""
        q = np.asarray([float(x) for x in query_vec], dtype=self.image_mat.dtype)
        scores = self.image_mat @ q + 1.0
        ids = self.image_ids
        if allowed is not None:
            keep = np.asarray(
                [i in allowed for i in ids.tolist()], dtype=bool
            )
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
            {self.image_col: ids[i].item(), "score": float(scores[i])}
            for i in take
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
            keep = np.asarray(
                [g in allowed for g in groups.tolist()], dtype=bool
            )
            groups = groups[keep]
        if candidate_cap is not None:
            groups = groups[: int(candidate_cap)]  # unique() ⇒ sorted asc
        out = [
            (g, avg, float(row.max()))
            for g, avg, row in self._avg_maxima(groups, query_rows)
        ]
        out.sort(key=lambda r: (-round_half_up(r[1], 6), r[0]))
        return [
            {
                self.image_col: g,
                "avg_similarity": float(a),
                "max_segment_similarity": m,
            }
            for g, a, m in out[: int(top_k)]
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
        pool = max(int(top_k) * 20, 100)
        take = _topk_order(scores, ids, pool)
        pool_ids = ids[take]
        whole_by_id = dict(zip(pool_ids.tolist(), scores[take].tolist()))

        seg_by_id: dict = {}
        if self.seg_mat is not None:
            seg_by_id = {
                g: avg for g, avg, _ in self._avg_maxima(pool_ids, query_rows)
            }

        ww, ws = float(whole_weight), float(segment_weight)
        out = []
        for g, w in whole_by_id.items():
            s = seg_by_id.get(g, 0.0)
            out.append((g, w, s, ww * w + ws * s))
        out.sort(key=lambda r: (-round_half_up(r[3], 6), r[0]))
        return [
            {
                self.image_col: g,
                "whole_score": float(w),
                "segment_score": float(s),
                "hybrid_score": float(h),
            }
            for g, w, s, h in out[: int(top_k)]
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
        tagset = {str(t) for t in tags}
        floor = float(min_confidence)
        out = []
        for image_id, pairs in self.tag_rows:
            hits = [(t, c) for t, c in pairs if t in tagset and c >= floor]
            if not hits:
                continue
            n_tags = len({t for t, _ in hits})
            out.append((image_id, n_tags, max(c for _, c in hits)))
        out.sort(key=lambda r: (-r[1], -r[2], r[0]))
        return [
            {
                self.image_col: g,
                "matched_tags": n,
                "max_confidence": float(c),
            }
            for g, n, c in out[: int(top_k)]
        ]

    def tag_allowed(
        self, tag_filter: Sequence[str], min_confidence: float
    ) -> set:
        """Engine._tag_allowed_ids twin: ids with ≥1 tag in the filter
        at or above the confidence floor."""
        tagset = {str(t) for t in tag_filter}
        floor = float(min_confidence)
        return {
            image_id
            for image_id, pairs in self.tag_rows
            if any(t in tagset and c >= floor for t, c in pairs)
        }


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
            tag_rows = None
            if hot.tag_rows is not None:
                tag_rows = [
                    (i, p) for i, p in hot.tag_rows
                    if int(i) % n_shards == s
                ]
            shards.append(
                HotSearchIndex(
                    hot.image_ids[img_keep],
                    hot.image_mat[img_keep],
                    seg_ids,
                    seg_mat,
                    tag_rows,
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
            if s.tag_rows is not None:
                out |= s.tag_allowed(tag_filter, min_confidence)
        return out
