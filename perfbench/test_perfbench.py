"""Tests of the benchmark's own code: generation, the reference
computations and the output checks. No engine, no Spark:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import math
import os
import subprocess

import pytest

import checks
import gen
import run

TINY_DEDUP = dict(
    n_docs=30, doc_words=40, vocab=500, n_clusters=4, cluster_sizes=(2, 3, 4),
    boiler_words=12, boiler_docs=5, n_files=1,
)
TINY_ANN = dict(gen.ANN, n_vectors=60, dim=8, n_clusters=3, n_queries=4, k=5)
TINY_PIPE = dict(n_files=3, lines_per_file=20, epochs=2, vocab=15)
TINY_INGEST = dict(
    n_batches=3, docs_per_batch=8, doc_words=40, vocab=300, n_clusters=3, cluster_sizes=(2, 3),
)


def _shingles(text: str, n: int = 5) -> set[tuple[str, ...]]:
    words = text.split()
    return {tuple(words[i : i + n]) for i in range(len(words) - n + 1)}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


class _UnionFind:
    def __init__(self):
        self.parent: dict = {}

    def find(self, x):
        self.parent.setdefault(x, x)
        while self.parent[x] != x:
            x = self.parent[x]
        return x

    def union(self, a, b):
        self.parent[self.find(a)] = self.find(b)

    def groups(self) -> set[frozenset]:
        out: dict = {}
        for x in self.parent:
            out.setdefault(self.find(x), set()).add(x)
        return {frozenset(g) for g in out.values()}


# ------------------------------------------------------------- generation


@pytest.mark.parametrize("part", list(run.WORKLOADS["corpus_ops"] + run.WORKLOADS["data_path"]))
def test_generation_is_deterministic_by_seed(tmp_path, part):
    gen.generate(part, 7, str(tmp_path / "a"))
    gen.generate(part, 7, str(tmp_path / "b"))
    gen.generate(part, 8, str(tmp_path / "c"))
    files = sorted(
        os.path.relpath(os.path.join(r, f), tmp_path / "a")
        for r, _, fs in os.walk(tmp_path / "a")
        for f in fs
    )
    assert files
    same = [filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False) for f in files]
    other = [filecmp.cmp(tmp_path / "a" / f, tmp_path / "c" / f, shallow=False) for f in files]
    assert all(same)
    assert not all(other)


def test_ingest_files_arrive_in_batch_order(tmp_path):
    paths = gen.write_ingest(gen.ingest_batches(3, TINY_INGEST), str(tmp_path))
    mtimes = [os.path.getmtime(p) for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


# -------------------------------------------- references against brute force


def test_planted_clusters_are_the_only_near_duplicates():
    corpus = gen.dedup_corpus(5, TINY_DEDUP)
    uf = _UnionFind()
    for i, a in enumerate(corpus.ids):
        for j in range(i + 1, len(corpus.ids)):
            b = corpus.ids[j]
            if _jaccard(corpus.texts[i], corpus.texts[j]) >= 0.7:
                uf.union(a, b)
    assert uf.groups() == {frozenset(c) for c in corpus.clusters}
    assert len(corpus.boiler_ids) == TINY_DEDUP["boiler_docs"]


def test_planted_pairs_share_winnowing_fingerprints():
    corpus = gen.dedup_corpus(5, TINY_DEDUP)
    text_of = dict(zip(corpus.ids, corpus.texts))
    for a, b in gen.planted_pairs(corpus.clusters):
        shared = gen.winnowing_fingerprints(text_of[a]) & gen.winnowing_fingerprints(text_of[b])
        assert len(shared) >= 2


@pytest.mark.parametrize(
    "data, seed, want",
    [(b"", 0, 0xEF46DB3751D8E999), (b"a", 0, 0xD24EC4F1A98C6E5B), (b"abc", 0, 0x44BC2CF5AD770999)],
)
def test_xxhash64_matches_reference_vectors(data, seed, want):
    got = gen.xxhash64(data, seed)
    assert got % (1 << 64) == want
    assert -(1 << 63) <= got < 1 << 63


def test_winnowing_matches_the_definition():
    text, k, w = "the quick brown fox jumps over the lazy dog", 5, 3
    hashes = [gen.xxhash64(text[i : i + k].encode()) for i in range(len(text) - k + 1)]
    want = {min(hashes[i : i + w]) for i in range(len(hashes) - w + 1)}
    assert gen.winnowing_fingerprints(text, k, w) == want
    assert gen.winnowing_fingerprints(text[: k + w - 2], k, w) == set()


def test_numpy_topk_matches_brute_force():
    data = gen.ann_data(4, TINY_ANN)
    got = gen.exact_topk(data, k=5)
    for qi, qid in enumerate(data.query_ids.tolist()):
        q = data.queries[qi].tolist()
        scored = []
        for cid, v in zip(data.ids.tolist(), data.vectors.tolist()):
            dot = sum(x * y for x, y in zip(q, v))
            cos = dot / (math.sqrt(sum(x * x for x in q)) * math.sqrt(sum(y * y for y in v)))
            scored.append((-cos, cid))
        want = [cid for _, cid in sorted(scored)[:5]]
        assert [cid for cid, _ in got[qid]] == want


def test_expected_survivors_match_a_corpus_precedence_replay():
    data = gen.ingest_batches(6, TINY_INGEST)
    corpus: dict[int, str] = {}
    for batch in data.batches:
        rows = dict(batch)
        pool = {**corpus, **rows}
        uf = _UnionFind()
        for d in pool:
            uf.find(d)
        ids = sorted(pool)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if (a in rows or b in rows) and _jaccard(pool[a], pool[b]) >= 0.5:
                    uf.union(a, b)
        for group in uf.groups():
            new = sorted(d for d in group if d in rows)
            if new and not any(d in corpus for d in group):
                corpus[new[0]] = rows[new[0]]
    assert set(corpus) == gen.expected_survivors(data)
    # Every cluster spans batches, so later members drop on corpus precedence.
    batch_of = {d: i for i, b in enumerate(data.batches) for d, _ in b}
    assert all(len({batch_of[d] for d in c}) > 1 for c in data.clusters)
    assert [len(b) for b in data.batches] == [TINY_INGEST["docs_per_batch"]] * len(data.batches)


def test_pipe_expectation_matches_the_child(tmp_path):
    data = gen.pipe_input(2, TINY_PIPE)
    records: list[str] = []
    for _ in range(TINY_PIPE["epochs"]):
        out = subprocess.run(
            gen.PIPE_COMMAND, input="\n".join(data.lines) + "\n",
            capture_output=True, text=True, check=True, timeout=30,
        ).stdout.splitlines()
        records += out
    assert checks.check_pipe(data, True, records, len(records), TINY_PIPE["epochs"]) == []


# ------------------------------------------------ checks reject corruption


def _dedup_result(corpus):
    text_of = dict(zip(corpus.ids, corpus.texts))
    fps = {d: gen.winnowing_fingerprints(t) for d, t in text_of.items()}
    ids = sorted(fps)
    overlap = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            n = len(fps[a] & fps[b])
            if n >= 2:
                overlap[(a, b)] = n
    comps = [(d, min(c)) for c in corpus.clusters for d in c]
    return overlap, comps


def test_dedup_check_rejects_corruption():
    corpus = gen.dedup_corpus(5, TINY_DEDUP)
    overlap, comps = _dedup_result(corpus)
    assert checks.check_dedup(corpus, overlap, comps) == []
    # Merged component: the second cluster relabelled into the first.
    first, second = corpus.clusters[0], corpus.clusters[1]
    merged = [(d, min(first + second)) if c in (min(first), min(second)) else (d, c) for d, c in comps]
    assert checks.check_dedup(corpus, overlap, merged)
    # Missing planted pair.
    dropped = dict(overlap)
    del dropped[(first[0], first[1])]
    assert checks.check_dedup(corpus, dropped, comps)
    # Wrong n_shared on a sampled pair.
    wrong = dict(overlap)
    wrong[min(gen.planted_pairs(corpus.clusters))] += 1
    assert checks.check_dedup(corpus, wrong, comps)


def test_ann_check_rejects_corruption():
    data = gen.ann_data(4, TINY_ANN)
    exact = gen.exact_topk(data, k=5)
    rows = [(q, c, s) for q, top in exact.items() for c, s in top]
    assert checks.check_ann(exact, rows, rows, rows, rows) == []
    # Swapped top-k id: the first two ids of a query trade places.
    swapped = list(rows)
    (q0, c0, s0), (q1, c1, s1) = swapped[0], swapped[1]
    swapped[0], swapped[1] = (q0, c1, s0), (q1, c0, s1)
    assert checks.check_ann(exact, swapped, rows, rows)
    assert checks.check_ann(exact, rows, rows, rows, swapped)
    # An IVF answer whose recall falls below the floor.
    outsider = max(data.ids.tolist()) + 1
    poor = [(q, outsider + i, s) for i, (q, c, s) in enumerate(rows)]
    assert checks.check_ann(exact, rows, poor, rows)
    assert checks.check_ann(exact, rows, rows, poor)


def test_pipe_check_rejects_corruption():
    data = gen.pipe_input(2, TINY_PIPE)
    epochs = TINY_PIPE["epochs"]
    body = [r for r, n in gen.expected_pipe_records(data, epochs).items() for _ in range(n)]
    records = body + [f"TOTAL\t{epochs * data.total}"]
    assert checks.check_pipe(data, True, records, len(records), epochs) == []
    missing = records[1:]
    assert checks.check_pipe(data, True, missing, len(missing), epochs)
    assert checks.check_pipe(data, False, records, len(records), epochs)
    assert checks.check_pipe(data, True, records, len(records) + 1, epochs)
    off = body + [f"TOTAL\t{epochs * data.total + 1}"]
    assert checks.check_pipe(data, True, off, len(off), epochs)


def test_ingest_check_rejects_corruption():
    data = gen.ingest_batches(6, TINY_INGEST)
    text_of = {d: t for b in data.batches for d, t in b}
    landed = [(d, text_of[d]) for d in sorted(gen.expected_survivors(data))]
    assert checks.check_ingest(data, landed, 3, 1) == []
    assert checks.check_ingest(data, landed[1:], 3, 1)  # dropped survivor
    assert checks.check_ingest(data, landed + landed[:1], 3, 1)  # landed twice
    assert checks.check_ingest(data, landed, 3, 3)  # compaction kept every file
    loser = next(d for c in data.clusters for d in c if d not in dict(landed))
    assert checks.check_ingest(data, landed + [(loser, text_of[loser])], 3, 1)


# -------------------------------------------------- the benchmark contract


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_no_engine_means_no_result(tmp_path):
    """Without the engine's source beside it the command fails fast and
    prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(run.HERE):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(run.HERE, f), "rb").read())
    proc = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", "data_path", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
    assert not (bench / "_work").exists()
