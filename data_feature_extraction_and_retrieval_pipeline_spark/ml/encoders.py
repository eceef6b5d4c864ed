"""Model-backed UDF surface (SURVEY.md §2.8 U1-U6).

The reference's CLIP/SAM stages become Arrow-batched pandas UDFs with
per-executor model singletons. The image/ML libraries are not in this
container, so each operator ships a **deterministic stub** that keeps
the Spark-side plumbing real (schemas, batch shapes, UDF signatures,
partitioning) and gates the real model behind an import-try — exactly
how the engine would swap in CLIP/SAM on a GPU cluster
(``spark.task.resource.gpu.amount`` schedules those stages).

Stub encoders are hash-projection embeddings: feature[i] =
f(xxhash-like mix of (content, i)), L2-normalized — deterministic
across executors and runs, which is what correctness tests need
(SURVEY.md §5: inject stub encoders; the driver's embeddings.parquet
plays the role of pre-extracted CLIP vectors).
"""

from __future__ import annotations

import hashlib
import threading

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T

# Lazily-initialized per-executor model handle (U1's load-once pattern,
# extract_clip_features.py:10-18, minus the reference's per-call reload).
_MODEL_CACHE: dict[str, object] = {}


class _TorchClipAdapter:  # pragma: no cover - exercised only on GPU clusters
    """Wraps (model, preprocess) into the engine's encoder protocol:
    ``encode_image_batch(list[bytes]) -> (n, dim) float array``."""

    def __init__(self, model, preprocess):
        self.model = model
        self.preprocess = preprocess

    def encode_image_batch(self, payloads):
        import io

        import torch
        from PIL import Image

        imgs = torch.stack(
            [self.preprocess(Image.open(io.BytesIO(p))) for p in payloads]
        )
        with torch.no_grad():
            return self.model.encode_image(imgs).cpu().numpy()


def _try_real_clip():
    """Real CLIP if available (never in this container) — returns an
    object satisfying the encoder protocol (``encode_image_batch``),
    or None. Tests exercise the protocol by injecting a fake model
    through ``stub_image_encoder_udf(model_loader=...)`` /
    ``_MODEL_CACHE`` so the real branch is not dead code."""
    if "clip" in _MODEL_CACHE:
        return _MODEL_CACHE["clip"]
    try:  # pragma: no cover - exercised only on GPU clusters
        import torch  # noqa: F401
        import clip  # type: ignore # noqa: F401

        model, preprocess = clip.load("ViT-B/32")
        _MODEL_CACHE["clip"] = _TorchClipAdapter(model, preprocess)
    except Exception:
        _MODEL_CACHE["clip"] = None
    return _MODEL_CACHE["clip"]


def _l2_normalize_rows(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


_PROJECTION_RNG = threading.local()


def _hash_projection(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic pseudo-embedding: sha256-seeded projection,
    L2-normalized (mirrors the reference's normalize-at-extraction,
    extract_clip_features.py:30). Each thread re-seeds one
    ``RandomState``: ``seed(s)`` resets the generator and its cached
    normal exactly as ``RandomState(s)`` does, without building one
    per payload."""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "big") % (2**32)
    rng = getattr(_PROJECTION_RNG, "rng", None)
    if rng is None:
        rng = _PROJECTION_RNG.rng = np.random.RandomState()
    rng.seed(seed)
    v = rng.standard_normal(dim).astype(np.float32)
    n = np.linalg.norm(v)
    return v / n if n > 0 else v


def stub_text_encoder_udf(dim: int = 64):
    """U1-analog for text: string → float[dim] L2-normalized.

    Arrow-batched scalar pandas UDF — ~10-100× over row-at-a-time
    Python UDFs; at scale this is the pattern the real encoder uses
    (batch → GPU → batch)."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def encode(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: _hash_projection((t or "").encode("utf-8"), dim).tolist()
        )

    return encode


_PORT_ENC_P = 1_000_000_007
_PORT_ENC_A = 387_420_489
_PORT_ENC_C = 12_345


def portable_text_encoder_udf(dim: int = 64):
    """Oracle-certifiable stub text encoder:
    ``e[i] = (((h + i)·A + C) mod P)/P − 0.5`` over the portable
    rolling char hash ``h`` (functions/text.py), L2-normalized, all in
    DOUBLE — every intermediate < 2^63, so a BIGINT SQL dialect
    replays the exact values. Same Arrow-batched plumbing as the
    sha256 stub (``stub_text_encoder_udf``); the difference is that
    the DuckDB oracle can certify the UDF's OUTPUT VALUES, not just
    shapes."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def encode(texts: pd.Series) -> pd.Series:
        idx = np.arange(dim, dtype=np.uint64)
        a = np.uint64(_PORT_ENC_A)
        c = np.uint64(_PORT_ENC_C)
        p = np.uint64(_PORT_ENC_P)
        out = []
        for t in texts:
            h = 0
            for ch in t or "":
                h = (h * 31 + ord(ch)) % _PORT_ENC_P
            e = ((np.uint64(h) + idx) * a + c) % p
            e = e.astype(np.float64) / float(_PORT_ENC_P) - 0.5
            n = np.linalg.norm(e)
            out.append((e / n if n > 0 else e).tolist())
        return pd.Series(out)

    return encode


def stub_image_encoder_udf(dim: int = 512, model_loader=None):
    """U1 — CLIP image encoder (extract_clip_features.py:10-35):
    binary content → float[dim] L2-normalized.

    ``model_loader`` is the swap-in seam: a zero-arg callable invoked
    lazily INSIDE the UDF (once per executor Python worker — the
    load-once pattern the reference's per-call reload misses) that
    returns either None (→ deterministic hash-projection stub) or an
    object with ``encode_image_batch(list[bytes]) -> (n, dim)``.
    It defaults to ``_try_real_clip``; tests inject a fake model so
    the real-model branch executes on workers."""
    loader = model_loader if model_loader is not None else _try_real_clip

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def encode(contents: pd.Series) -> pd.Series:
        real = loader()
        if real is not None:
            payloads = [bytes(b or b"") for b in contents]
            if not payloads:
                return pd.Series([], dtype=object)
            mat = np.asarray(
                real.encode_image_batch(payloads), dtype=np.float32
            )
            mat = _l2_normalize_rows(mat)
            return pd.Series([row.tolist() for row in mat])
        return contents.map(
            lambda b: _hash_projection(bytes(b or b""), dim).tolist()
        )

    return encode


def zero_shot_tags(df, vec_col: str, vocab: list[tuple[str, list[float]]], top_k: int = 5):
    """U5 — zero-shot tagger (SAM/sam_segment_clip_pipeline.py:219-257).

    logits = 100 · (img @ textᵀ); softmax over the FULL vocabulary;
    top-k (tag, confidence) structs. The 50-term text-embedding matrix
    is precomputed ONCE and broadcast as a closure constant — fixing
    the reference's recompute-per-segment inefficiency (SURVEY.md §4).
    """
    tags = [t for t, _ in vocab]
    mat = np.asarray([v for _, v in vocab], dtype=np.float64)  # (V, dim)

    out_type = T.ArrayType(
        T.StructType(
            [
                T.StructField("tag", T.StringType()),
                T.StructField("confidence", T.FloatType()),
            ]
        )
    )

    @F.pandas_udf(out_type)
    def tagger(vecs: pd.Series) -> pd.Series:
        def one(v):
            x = np.asarray(v, dtype=np.float64)
            logits = 100.0 * (mat @ x)
            e = np.exp(logits - logits.max())
            probs = e / e.sum()
            # stable sort: tied confidences must break by tag index
            # (the oracle's ORDER BY ex DESC, tid), not quicksort whim
            idx = np.argsort(-probs, kind="stable")[:top_k]
            return [
                {"tag": tags[i], "confidence": float(probs[i])} for i in idx
            ]

        return vecs.map(one)

    return df.withColumn("tags", tagger(F.col(vec_col)))


SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType()),
        T.StructField("segment_id", T.IntegerType()),
        T.StructField("segment_area", T.IntegerType()),
        T.StructField("segment_bbox", T.ArrayType(T.FloatType())),
        T.StructField("stability_score", T.FloatType()),
        T.StructField("crop", T.BinaryType()),
    ]
)


def segment_image(df, content_col: str = "content", filename_col: str = "filename",
                  max_segments: int = 10, min_area: int = 500,
                  columns: tuple[str, ...] | None = None):
    """U2/U3/U4 — SAM mask generation as a mapInPandas UDTF: one image
    row → N segment rows, sorted by area desc and capped at
    ``max_segments`` (SAM/sam_segment_clip_pipeline.py:157-200).

    STUB: segments are derived deterministically from the content hash
    (count, areas, bboxes); the crop is a byte-slice of the source.
    The real path (SAM + white-background crop + ≤800px downscale)
    plugs into the same iterator without touching the plan.

    ``columns`` prunes the UDTF's OUTPUT: Catalyst can't push a
    projection through a Python stage, so a downstream select still
    pays to build and Arrow-transfer every column — callers that only
    need ids/areas pass the subset and the kernel skips the bbox/crop
    work entirely (the UDTF analogue of scan-level column pruning).
    """
    out_fields = [f.name for f in SEGMENT_SCHEMA.fields]
    keep = list(columns) if columns is not None else out_fields
    assert set(keep) <= set(out_fields), keep
    schema = T.StructType([f for f in SEGMENT_SCHEMA.fields if f.name in keep])
    in_cols = [filename_col, content_col]
    want = set(keep)

    def gen(batches):
        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in keep}
            for fname, content in zip(pdf[filename_col], pdf[content_col]):
                payload = bytes(content or b"")
                h = hashlib.sha256(payload).digest()
                n_seg = min((h[0] % max_segments) + 1, max_segments)
                areas = sorted(
                    (min_area + int.from_bytes(h[4 * i:4 * i + 2], "big")
                     for i in range(n_seg)),
                    reverse=True,
                )
                crop = (
                    payload[: min(64, len(payload))] if "crop" in want else None
                )
                for sid, area in enumerate(areas, 1):
                    if "filename" in want:
                        rows["filename"].append(fname)
                    if "segment_id" in want:
                        rows["segment_id"].append(sid)
                    if "segment_area" in want:
                        rows["segment_area"].append(int(area))
                    if "segment_bbox" in want:
                        side = float(int(area) ** 0.5)
                        rows["segment_bbox"].append(
                            [float(sid), float(sid), side, side]
                        )
                    if "stability_score" in want:
                        rows["stability_score"].append(
                            0.95 + (area % 50) / 1000.0
                        )
                    if "crop" in want:
                        rows["crop"].append(crop)
            yield pd.DataFrame(rows)

    return df.select(*in_cols).mapInPandas(gen, schema)


def decode_image_stub(df, content_col: str = "content"):
    """Multimodal decode plumbing: binary → (width, height, n_channels).

    ALWAYS the deterministic fake over the content hash — by contract,
    not by environment probing: the certified queries hash-match these
    values, so the stub must not change behavior when codec libraries
    happen to be installed. The PIL-backed twin with the identical
    output schema is ``operators/multimodal.py::decode_image_meta_real``
    (importorskip-tested in tests/test_real_models.py); callers choose
    explicitly.
    """
    out = T.StructType(
        [
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_channels", T.IntegerType()),
        ]
    )

    @F.pandas_udf(out)
    def decode(contents: pd.Series) -> pd.DataFrame:
        ws, hs, cs = [], [], []
        for b in contents:
            h = hashlib.sha256(bytes(b or b"")).digest()
            ws.append(64 + h[1] % 1024)
            hs.append(64 + h[2] % 1024)
            cs.append(3)
        return pd.DataFrame({"width": ws, "height": hs, "n_channels": cs})

    return df.withColumn("decoded", decode(F.col(content_col)))
