"""Seeded inputs for the four workloads, and the engine-free reference
computations their outputs are checked against.

Everything here uses numpy and pyarrow only: the engine never sees a
seed, only the files written from it, and no reference below calls the
engine. The same seed gives byte-identical files.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Make-up of each workload's input (README "Inputs" restates it).
DEDUP = dict(
    n_docs=200, doc_words=60, vocab=4000, n_clusters=15,
    cluster_sizes=(2, 3, 4), boiler_words=20, boiler_docs=20, n_files=4,
)
ANN = dict(
    n_vectors=800, dim=16, n_clusters=16, sigma=0.35, n_queries=40,
    k=10, n_cells=16, n_probe=4, m=8, bits=4, n_files=4,
)
PIPE = dict(n_files=24, lines_per_file=2500, epochs=2, vocab=500)
INGEST = dict(
    n_batches=2, docs_per_batch=30, doc_words=60, vocab=4000,
    n_clusters=6, cluster_sizes=(2, 3),
)

#: Winnowing parameters of the dedup_batch pass (the engine's defaults,
#: hashed with xxhash64, which ``xxhash64`` below replays exactly).
WINNOW_K, WINNOW_W = 25, 10
#: Recall floors (recall@k against numpy's exact top-k).
IVF_RECALL_FLOOR = 0.85
PQ_RECALL_FLOOR = 0.80
#: First id of the query vectors, apart from the corpus id space.
QUERY_ID_BASE = 1_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase words of 3-9 letters."""
    words: dict[str, None] = {}
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(words) < n:
        size = int(rng.integers(3, 10))
        words["".join(rng.choice(letters, size))] = None
    return np.array(list(words))


def _substitute(rng: np.random.Generator, words: np.ndarray, vocab: int) -> np.ndarray:
    """Copy of ``words`` with one position replaced by a different word."""
    out = words.copy()
    pos = int(rng.integers(len(out)))
    out[pos] = (out[pos] + 1 + int(rng.integers(vocab - 1))) % vocab
    return out


def _write_parts(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)


# ---------------------------------------------------------------- dedup_batch


@dataclass
class DedupCorpus:
    ids: list[int]
    texts: list[str]
    #: Planted near-duplicate clusters, each a sorted list of ids.
    clusters: list[list[int]]
    #: Ids of the documents carrying the shared boilerplate span.
    boiler_ids: list[int]


def dedup_corpus(seed: int, p: dict = DEDUP) -> DedupCorpus:
    """Unrelated random-word documents, planted clusters (member 0 is the
    base document, every other member is the base with one word
    replaced) and one boilerplate span inserted into ``boiler_docs`` of
    the unrelated documents. Ids are a seeded permutation, so clusters
    are not contiguous in the files."""
    rng = _rng(seed, 1)
    vocab = _vocabulary(rng, p["vocab"])
    n, length, v = p["n_docs"], p["doc_words"], p["vocab"]
    ids = (rng.permutation(n) + 1).tolist()
    texts: list[str] = [""] * n
    clusters: list[list[int]] = []
    slot = 0
    for c in range(p["n_clusters"]):
        base = rng.integers(0, v, length)
        members = []
        for m in range(p["cluster_sizes"][c % len(p["cluster_sizes"])]):
            words = base if m == 0 else _substitute(rng, base, v)
            texts[slot] = " ".join(vocab[words])
            members.append(ids[slot])
            slot += 1
        clusters.append(sorted(members))
    boiler = rng.integers(0, v, p["boiler_words"])
    boiler_ids = []
    for j in range(slot, n):
        words = rng.integers(0, v, length)
        if j - slot < p["boiler_docs"]:
            at = int(rng.integers(length + 1))
            words = np.concatenate([words[:at], boiler, words[at:]])
            boiler_ids.append(ids[j])
        texts[j] = " ".join(vocab[words])
    order = np.argsort(ids)
    return DedupCorpus(
        [ids[i] for i in order], [texts[i] for i in order], clusters, sorted(boiler_ids)
    )


def write_dedup(corpus: DedupCorpus, out_dir: str) -> None:
    table = pa.table(
        {"doc_id": pa.array(corpus.ids, pa.int64()), "text": pa.array(corpus.texts)}
    )
    _write_parts(table, out_dir, DEDUP["n_files"])


_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit value: Spark's ``xxhash64``
    of a string column is this over its UTF-8 bytes with seed 42."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64, (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_round(v[j], int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")) for j in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i : i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def winnowing_fingerprints(text: str, k: int = WINNOW_K, w: int = WINNOW_W) -> set[int]:
    """Pure-Python winnowing: the xxhash64 of every k-character window,
    and the minimum of every ``w`` consecutive hashes."""
    if len(text) < k + w - 1:
        return set()
    hashes = [xxhash64(text[i : i + k].encode("utf-8")) for i in range(len(text) - k + 1)]
    return {min(hashes[i : i + w]) for i in range(len(hashes) - w + 1)}


def planted_pairs(clusters: list[list[int]]) -> set[tuple[int, int]]:
    return {(a, b) for c in clusters for i, a in enumerate(c) for b in c[i + 1 :]}


# ------------------------------------------------------------------ ann_topk


@dataclass
class AnnData:
    ids: np.ndarray
    vectors: np.ndarray
    query_ids: np.ndarray
    queries: np.ndarray
    #: numpy's exact top-k per query id (see exact_topk).
    exact: dict | None = None


def ann_data(seed: int, p: dict = ANN) -> AnnData:
    """Gaussian blobs around ``n_clusters`` random centres; the queries
    are fresh draws from the same blobs, with ids apart from the
    corpus."""
    rng = _rng(seed, 2)
    centres = rng.normal(size=(p["n_clusters"], p["dim"]))

    def draw(n: int) -> np.ndarray:
        which = rng.integers(0, p["n_clusters"], n)
        return centres[which] + p["sigma"] * rng.normal(size=(n, p["dim"]))

    vectors = draw(p["n_vectors"])
    queries = draw(p["n_queries"])
    return AnnData(
        np.arange(1, p["n_vectors"] + 1, dtype=np.int64),
        vectors,
        np.arange(QUERY_ID_BASE, QUERY_ID_BASE + p["n_queries"], dtype=np.int64),
        queries,
    )


def _vector_table(ids: np.ndarray, vectors: np.ndarray) -> pa.Table:
    flat = pa.array(vectors.ravel(), pa.float64())
    offsets = pa.array(np.arange(0, vectors.size + 1, vectors.shape[1]), pa.int32())
    return pa.table(
        {"vec_id": pa.array(ids, pa.int64()),
         "embedding": pa.ListArray.from_arrays(offsets, flat)}
    )


def write_ann(data: AnnData, corpus_dir: str, query_dir: str) -> None:
    _write_parts(_vector_table(data.ids, data.vectors), corpus_dir, ANN["n_files"])
    _write_parts(_vector_table(data.query_ids, data.queries), query_dir, 1)


def exact_topk(data: AnnData, k: int = ANN["k"]) -> dict[int, list[tuple[int, float]]]:
    """Cosine top-k per query with numpy, ties broken on the lower id."""
    c = data.vectors / np.linalg.norm(data.vectors, axis=1, keepdims=True)
    q = data.queries / np.linalg.norm(data.queries, axis=1, keepdims=True)
    scores = q @ c.T
    out = {}
    for qi, qid in enumerate(data.query_ids.tolist()):
        order = np.lexsort((data.ids, -scores[qi]))[:k]
        out[qid] = [(int(data.ids[j]), float(scores[qi, j])) for j in order]
    return out


# ------------------------------------------------------------------ pipe_job


@dataclass
class PipeInput:
    files: list[list[str]]

    @property
    def lines(self) -> list[str]:
        return [line for f in self.files for line in f]

    @property
    def total(self) -> int:
        return sum(int(line.split(" ")[1]) for line in self.lines)


#: The child each pipe partition runs: upper-cases the word, doubles the
#: value, and ends with one ``TOTAL`` line per partition.
PIPE_COMMAND = [
    "awk",
    '{ s += $2; print toupper($1) "\\t" ($2 * 2) } END { print "TOTAL\\t" (s + 0) }',
]


def pipe_input(seed: int, p: dict = PIPE) -> PipeInput:
    rng = _rng(seed, 3)
    vocab = _vocabulary(rng, p["vocab"])
    files = []
    for _ in range(p["n_files"]):
        words = vocab[rng.integers(0, p["vocab"], p["lines_per_file"])]
        values = rng.integers(0, 1000, p["lines_per_file"])
        files.append([f"{w} {v}" for w, v in zip(words.tolist(), values.tolist())])
    return PipeInput(files)


def write_pipe(data: PipeInput, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for i, lines in enumerate(data.files):
        with open(os.path.join(out_dir, f"part-{i:05d}.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")


def expected_pipe_records(data: PipeInput, epochs: int = PIPE["epochs"]) -> Counter:
    """Multiset of the transformed (non-TOTAL) records the job must emit."""
    out: Counter = Counter()
    for line in data.lines:
        word, value = line.split(" ")
        out[f"{word.upper()}\t{int(value) * 2}"] += epochs
    return out


# ------------------------------------------------------------- ingest_stream


@dataclass
class IngestBatches:
    #: Per micro-batch, in arrival order: (doc_id, text) rows.
    batches: list[list[tuple[int, str]]]
    clusters: list[list[int]]


def ingest_batches(seed: int, p: dict = INGEST) -> IngestBatches:
    """Random-word documents in ``n_batches`` micro-batches of
    ``docs_per_batch``, with planted near-duplicate clusters whose
    members go to consecutive batches from a random one, so every
    cluster meets an earlier member already in the corpus. Members
    differ from the base by one word each, so two members differ in at
    most 10 of their ``doc_words - 4`` word 5-shingles: at 40 words or
    more every pair stays above neardup_ingest's 0.5 Jaccard threshold,
    which expected_survivors relies on."""
    rng = _rng(seed, 4)
    vocab = _vocabulary(rng, p["vocab"])
    nb, per, length, v = p["n_batches"], p["docs_per_batch"], p["doc_words"], p["vocab"]
    ids = iter((rng.permutation(nb * per) + 1).tolist())
    batches: list[list[tuple[int, np.ndarray]]] = [[] for _ in range(nb)]
    clusters: list[list[int]] = []
    for c in range(p["n_clusters"]):
        base = rng.integers(0, v, length)
        first = int(rng.integers(nb))
        members = []
        for m in range(p["cluster_sizes"][c % len(p["cluster_sizes"])]):
            members.append(next(ids))
            words = base if m == 0 else _substitute(rng, base, v)
            batches[(first + m) % nb].append((members[-1], words))
        clusters.append(sorted(members))
    for b in batches:
        b.extend((next(ids), rng.integers(0, v, length)) for _ in range(per - len(b)))
    return IngestBatches(
        [sorted((d, " ".join(vocab[w])) for d, w in b) for b in batches], clusters
    )


def write_ingest(data: IngestBatches, out_dir: str) -> list[str]:
    """One parquet file per micro-batch. Modification times are set one
    second apart so the file source delivers them in batch order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    t0 = int(os.path.getmtime(out_dir)) - len(data.batches)
    for i, rows in enumerate(data.batches):
        path = os.path.join(out_dir, f"batch-{i:03d}.parquet")
        pq.write_table(
            pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                      "text": pa.array([r[1] for r in rows])}),
            path,
        )
        os.utime(path, (t0 + i, t0 + i))
        paths.append(path)
    return paths


def expected_survivors(data: IngestBatches) -> set[int]:
    """Corpus-precedence verdicts replayed in arrival order: a cluster's
    first batch keeps its lowest-id member there, every later member
    drops; unclustered documents all land."""
    cluster_of = {d: i for i, c in enumerate(data.clusters) for d in c}
    landed: set[int] = set()
    seen: set[int] = set()
    for batch in data.batches:
        first: dict[int, int] = {}
        for doc_id, _ in batch:
            c = cluster_of.get(doc_id)
            if c is None:
                landed.add(doc_id)
            elif c not in seen:
                first[c] = min(first.get(c, doc_id), doc_id)
        landed.update(first.values())
        seen.update(first)
    return landed


def generate(workload: str, seed: int, out_dir: str):
    """Write ``workload``'s inputs under ``out_dir``; return the reference
    data its outputs are checked against."""
    if workload == "dedup_batch":
        ref = dedup_corpus(seed)
        write_dedup(ref, os.path.join(out_dir, "docs"))
    elif workload == "ann_topk":
        ref = ann_data(seed)
        write_ann(ref, os.path.join(out_dir, "vectors"), os.path.join(out_dir, "queries"))
        ref.exact = exact_topk(ref)
    elif workload == "pipe_job":
        ref = pipe_input(seed)
        write_pipe(ref, os.path.join(out_dir, "text"))
    elif workload == "ingest_stream":
        ref = ingest_batches(seed)
        write_ingest(ref, os.path.join(out_dir, "batches"))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return ref
