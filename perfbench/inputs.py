"""Seeded inputs for every workload.

One ``--seed`` drives everything a run feeds the program: the serving
corpus, the request pool, the Zipf request sequence, the Poisson
arrival schedule, the batch corpus and the batch pass order. Each
input draws from its own child stream of ``numpy.random.SeedSequence``
(seed, stream id), so the same seed gives byte-identical inputs and a
different seed changes values but never sizes.

Nothing here imports pyspark at module level: the load generator
process imports this module's siblings with the standard library and
numpy only.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

# Serving corpus shape (Foto Atlas layout scaled down; see
# workloads.json for the reason and the full-scale reference numbers).
N_IMAGES = 1000
SEGMENTS_PER_IMAGE = 10
DIM = 512
N_CLUSTERS = 50
TAG_VOCAB = [f"tag{i:02d}" for i in range(50)]
TAGS_PER_IMAGE = (1, 7)  # inclusive

# Request pool: 8x the service's 512-entry response LRU, Zipf popular.
# No observed traffic exists to fit the exponent to; s = 1.0 is the
# textbook Zipf law, an assumption (workloads.json, request_mix).
RESPONSE_LRU = 512
POOL_SIZE = 8 * RESPONSE_LRU
ZIPF_S = 1.0

# Batch corpus (synth.write_synth_sf sizes).
BATCH_DOCS = 1500
BATCH_VECS = 2000
BATCH_EVENTS = 10000
BATCH_CLUSTERS = 16

_STREAMS = {
    "corpus": 1,
    "pool": 2,
    "zipf": 3,
    "arrivals": 4,
    "order": 6,
    "gate": 7,
    "closed": 8,
}


def rng(seed: int, stream: str, *sub: int) -> np.random.Generator:
    """Independent generator for one input stream of one seed."""
    return np.random.default_rng(
        np.random.SeedSequence([int(seed), _STREAMS[stream], *sub])
    )


def _unit_rows(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=1, keepdims=True)


@dataclass
class Corpus:
    image_ids: np.ndarray
    image_mat: np.ndarray  # float32 (n, DIM)
    seg_image_ids: np.ndarray
    seg_vec_ids: np.ndarray
    seg_mat: np.ndarray  # float32 (n * SEGMENTS_PER_IMAGE, DIM)
    tags: list = field(default_factory=list)  # per image [(tag, conf)]


def _images(g: np.random.Generator, ids: np.ndarray,
            centers: np.ndarray) -> Corpus:
    n = len(ids)
    label = g.integers(0, len(centers), n)
    img = _unit_rows(centers[label] + 0.35 * g.normal(size=(n, DIM)))
    seg = _unit_rows(
        np.repeat(img, SEGMENTS_PER_IMAGE, axis=0)
        + 0.35 * g.normal(size=(n * SEGMENTS_PER_IMAGE, DIM))
    )
    counts = g.integers(TAGS_PER_IMAGE[0], TAGS_PER_IMAGE[1] + 1, n)
    tags = []
    for k in counts.tolist():
        picks = g.choice(len(TAG_VOCAB), size=k, replace=False)
        confs = g.uniform(0.05, 1.0, size=k).astype(np.float32)
        tags.append(
            [(TAG_VOCAB[j], float(c)) for j, c in zip(picks.tolist(), confs)]
        )
    seg_ids = np.repeat(ids, SEGMENTS_PER_IMAGE)
    vec_ids = (
        seg_ids * SEGMENTS_PER_IMAGE
        + np.tile(np.arange(SEGMENTS_PER_IMAGE), n)
    ).astype(np.int64)
    return Corpus(
        ids.astype(np.int64), img.astype(np.float32), seg_ids.astype(np.int64),
        vec_ids, seg.astype(np.float32), tags,
    )


def serve_corpus(seed: int) -> Corpus:
    """The resident serving corpus: clustered unit vectors, 10 per-image
    segments near their image, 1-7 tags from a 50-term vocabulary."""
    centers = _unit_rows(rng(seed, "corpus", 0).normal(size=(N_CLUSTERS, DIM)))
    return _images(
        rng(seed, "corpus", 1), np.arange(N_IMAGES, dtype=np.int64), centers
    )


def write_corpus_parquet(c: Corpus, out_dir: str) -> dict[str, str]:
    """Write the corpus as the three serving tables; returns their paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def vecs(m: np.ndarray) -> pa.Array:
        offsets = np.arange(0, m.size + 1, m.shape[1], dtype=np.int32)
        return pa.ListArray.from_arrays(pa.array(offsets), pa.array(m.ravel()))

    tag_type = pa.list_(
        pa.struct([("tag", pa.string()), ("confidence", pa.float32())])
    )
    tables = {
        "images": pa.table(
            {"image_id": pa.array(c.image_ids), "embedding": vecs(c.image_mat)}
        ),
        "segments": pa.table(
            {
                "image_id": pa.array(c.seg_image_ids),
                "vec_id": pa.array(c.seg_vec_ids),
                "clip_features": vecs(c.seg_mat),
            }
        ),
        "segment_tags": pa.table(
            {
                "image_id": pa.array(c.image_ids),
                "tags": pa.array(
                    [
                        [{"tag": t, "confidence": conf} for t, conf in row]
                        for row in c.tags
                    ],
                    type=tag_type,
                ),
            }
        ),
    }
    paths = {}
    for name, table in tables.items():
        paths[name] = f"{out_dir}/{name}.parquet"
        pq.write_table(table, paths[name])
    return paths


# -- HTTP request pool ---------------------------------------------------


@dataclass
class Request:
    path: str
    ctype: str
    body: bytes
    mode: str
    top_k: int
    # what the correctness gate replays on the Spark tier
    payload: bytes | None = None
    filename: str | None = None
    tags: list | None = None
    tag_filter: list | None = None


def _multipart(boundary: str, fields: dict, upload=None) -> tuple[str, bytes]:
    parts = []
    for k, v in fields.items():
        parts.append(
            f'--{boundary}\r\nContent-Disposition: form-data; name="{k}"'
            f"\r\n\r\n{v}\r\n".encode()
        )
    if upload is not None:
        filename, data = upload
        parts.append(
            f'--{boundary}\r\nContent-Disposition: form-data; name="image"; '
            f'filename="{filename}"\r\nContent-Type: image/jpeg\r\n\r\n'.encode()
            + data
            + b"\r\n"
        )
    parts.append(f"--{boundary}--\r\n".encode())
    return f"multipart/form-data; boundary={boundary}", b"".join(parts)


# Request categories with their shares of the pool: (mode, via
# /api/search, top_k, tag_filter on an image mode). No traffic record
# says how archive users split over these, so every choice is split
# evenly: a quarter per mode, half through /api/search, half at each
# top_k, half of the image-mode requests tag-filtered. Counts are exact
# and categories are dealt to Zipf ranks in a fixed interleaved order,
# so every seed offers the same mix at every popularity; the seed draws
# the payloads, tags and filters.
_MIX = [
    (mode, unified, top_k, filt, 0.25 * 0.5 * 0.5 * 0.5)
    for mode in ("whole", "segment", "hybrid")
    for unified in (False, True)
    for top_k in (10, 50)
    for filt in (False, True)
] + [
    ("tags", unified, top_k, False, 0.25 * 0.5 * 0.5)
    for unified in (False, True)
    for top_k in (10, 50)
]


def _categories(n: int) -> list[tuple]:
    """``n`` categories with exact shares (largest remainder), dealt in
    a fixed low-discrepancy order: entry i takes the category whose
    running quota is furthest behind."""
    quota = np.array([c[4] for c in _MIX]) * n
    counts = np.floor(quota).astype(int)
    for j in np.argsort(-(quota - counts))[: n - counts.sum()]:
        counts[j] += 1
    dealt = np.zeros(len(_MIX))
    out = []
    for i in range(n):
        j = int(np.argmax(counts * (i + 1) / n - dealt))
        dealt[j] += 1
        out.append(_MIX[j][:4])
    return out


def _request(g: np.random.Generator, i: int, cat: tuple) -> Request:
    mode, unified, top_k, filt = cat
    boundary = f"pb{i:05d}x{int(g.integers(1 << 30)):08x}"
    if mode == "tags":
        k = int(g.integers(1, 4))
        tags = [TAG_VOCAB[j] for j in g.choice(len(TAG_VOCAB), k, replace=False)]
        if unified:
            ctype, body = _multipart(
                boundary, {"mode": "tags", "tags": ",".join(tags),
                           "top_k": top_k},
            )
            path = "/api/search"
        else:
            ctype = "application/json"
            body = json.dumps({"tags": tags, "top_k": top_k}).encode()
            path = "/search/tags"
        return Request(path, ctype, body, mode, top_k, tags=tags)
    payload = g.bytes(int(g.integers(256, 2048)))
    filename = f"q{i}.jpg"
    fields: dict = {"top_k": top_k}
    tag_filter = None
    if filt:
        k = int(g.integers(1, 3))
        tag_filter = [
            TAG_VOCAB[j] for j in g.choice(len(TAG_VOCAB), k, replace=False)
        ]
        fields["tags"] = ",".join(tag_filter)
    if unified:
        fields["mode"] = mode
        path = "/api/search"
    else:
        path = f"/search/{mode}"
    ctype, body = _multipart(boundary, fields, (filename, payload))
    return Request(path, ctype, body, mode, top_k, payload=payload,
                   filename=filename, tag_filter=tag_filter)


def request_pool(seed: int) -> list[Request]:
    """POOL_SIZE requests; pool index = popularity rank (0 = most
    popular under zipf_sequence)."""
    g = rng(seed, "pool")
    return [_request(g, i, c) for i, c in enumerate(_categories(POOL_SIZE))]


def zipf_sequence(seed: int, n: int, stream: str = "zipf") -> np.ndarray:
    """``n`` pool indices, Zipf(ZIPF_S) over popularity rank. Stratified
    draws (one uniform per 1/n slice of the CDF, then shuffled) keep
    each rank's count within one of its expectation for every seed."""
    g = rng(seed, stream)
    cdf = np.cumsum(1.0 / np.arange(1, POOL_SIZE + 1) ** ZIPF_S)
    u = (np.arange(n) + g.random(n)) / n * cdf[-1]
    return g.permutation(np.minimum(np.searchsorted(cdf, u), POOL_SIZE - 1))


def arrivals(seed: int, rate: float, seconds: float) -> np.ndarray:
    """Poisson arrival offsets (seconds from phase start) at ``rate``/s."""
    g = rng(seed, "arrivals")
    gaps = g.exponential(1.0 / rate, size=int(rate * seconds * 2) + 16)
    t = np.cumsum(gaps)
    return t[t < seconds]


def pass_order(seed: int, names: list[str], n: int) -> list[str]:
    """Batch query order for pass ``n``."""
    return [names[i] for i in rng(seed, "order", n).permutation(len(names))]


def gate_sample(seed: int, pool: list[Request], per_mode: int) -> list[int]:
    """Seeded sample of pool entries for the correctness gate: ``per_mode``
    per mode, plus one tag-filtered image request."""
    g = rng(seed, "gate")
    picks: list[int] = []
    for mode in ("whole", "segment", "hybrid", "tags"):
        idx = [i for i, r in enumerate(pool) if r.mode == mode]
        picks += g.choice(idx, size=per_mode, replace=False).tolist()
    filtered = [i for i, r in enumerate(pool) if r.tag_filter]
    picks.append(int(g.choice(filtered)))
    return picks


# -- batch corpus -----------------------------------------------------------

DUP_SHARE = 0.1  # exact copies of an earlier document
NEAR_DUP_SHARE = 0.1  # copies with a few tokens replaced


def inject_duplicates(seed: int, sf_dir: str) -> None:
    """Turn exact shares of the documents ``synth.write_synth_sf`` wrote
    into exact and near copies of earlier documents, so the dedup
    queries have pairs to find. The seed picks which documents are
    copies, what they copy and which tokens a near copy replaces. The
    table is rewritten as one part file in the same directory."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_feature_extraction_and_retrieval_pipeline_spark.synth import (
        _VOCAB,
    )

    path = f"{sf_dir}/documents.parquet"
    table = pq.read_table(path).sort_by("doc_id")
    texts = table.column("text").to_pylist()
    n = len(texts)
    g = rng(seed, "corpus", 2)
    later = g.permutation(np.arange(1, n))
    n_dup, n_near = int(DUP_SHARE * n), int(NEAR_DUP_SHARE * n)
    kind = np.zeros(n, dtype=int)
    kind[later[:n_dup]] = 1
    kind[later[n_dup:n_dup + n_near]] = 2
    for i in np.flatnonzero(kind).tolist():
        src = texts[int(g.integers(0, i))]
        if kind[i] == 2:
            toks = src.split()
            for j in g.choice(len(toks), size=min(3, len(toks)), replace=False):
                toks[int(j)] = _VOCAB[int(g.integers(0, len(_VOCAB)))]
            src = " ".join(toks)
        texts[i] = src
    cols = {name: table.column(name) for name in table.column_names}
    cols["text"] = pa.array(texts)
    cols["n_chars"] = pa.array([len(t) for t in texts], type=pa.int64())
    out = pa.table(cols, schema=table.schema)
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(out, f"{path}/part-00000.parquet")
