"""Output checks. Each loader reads what a pass wrote with pyarrow or the
standard library (never the engine); each ``check_*`` compares plain
Python values against the references in ``gen`` and returns a list of
problems, empty when the output is correct."""

from __future__ import annotations

import glob
import gzip
import os
from collections import Counter

import pyarrow.dataset as ds

from gen import (
    ANN,
    IVF_RECALL_FLOOR,
    PQ_RECALL_FLOOR,
    DedupCorpus,
    IngestBatches,
    PipeInput,
    expected_pipe_records,
    expected_survivors,
    planted_pairs,
    winnowing_fingerprints,
)

#: Cosines closer than this are a tie whose order may differ between
#: Spark's and numpy's summation order.
COSINE_TIE = 1e-9
#: Pairs whose ``n_shared`` is replayed in pure Python per check.
N_SHARED_SAMPLE = 8


def read_rows(path: str) -> list[dict]:
    """Rows of a parquet directory; ``_``/``.`` files are skipped, as
    Hadoop readers skip them."""
    return ds.dataset(path, format="parquet").to_table().to_pylist()


def count_data_files(path: str) -> int:
    return sum(1 for f in os.listdir(path) if not f.startswith(("_", ".")))


# ---------------------------------------------------------------- dedup_batch


def check_dedup(
    corpus: DedupCorpus,
    overlap: dict[tuple[int, int], int],
    components: list[tuple[int, int]],
    fp_cache: dict[int, set[int]] | None = None,
) -> list[str]:
    """``overlap`` maps (id_a, id_b) to n_shared; ``components`` holds
    connected_components' (id, component) rows."""
    errors = []
    groups: dict[int, set[int]] = {}
    for doc_id, comp in components:
        groups.setdefault(comp, set()).add(doc_id)
    got = {frozenset(g) for g in groups.values()}
    want = {frozenset(c) for c in corpus.clusters}
    if got != want:
        errors.append(
            f"components != planted clusters: {len(got - want)} unexpected, "
            f"{len(want - got)} missing"
        )
    if any(comp != min(groups[comp]) for comp in groups):
        errors.append("a component is not labelled with its lowest id")
    planted = planted_pairs(corpus.clusters)
    missing = planted - overlap.keys()
    if missing:
        errors.append(f"{len(missing)} planted pairs missing from fingerprint_overlap_pairs")
    # Fixed sample: the lowest planted pairs and the lowest boilerplate
    # pairs, replayed with a pure-Python winnowing.
    boiler = corpus.boiler_ids
    sample = sorted(planted)[:N_SHARED_SAMPLE] + [
        (a, b) for i, a in enumerate(boiler) for b in boiler[i + 1 :]
    ][:N_SHARED_SAMPLE]
    text_of = dict(zip(corpus.ids, corpus.texts))
    fps = fp_cache if fp_cache is not None else {}
    for a, b in sample:
        for d in (a, b):
            if d not in fps:
                fps[d] = winnowing_fingerprints(text_of[d])
        want_shared = len(fps[a] & fps[b])
        got_shared = overlap.get((a, b), 0)
        if want_shared >= 2 and got_shared != want_shared or want_shared < 2 and got_shared:
            errors.append(f"n_shared{(a, b)} = {got_shared}, pure Python gives {want_shared}")
    return errors


def load_dedup(out_dir: str) -> tuple[dict[tuple[int, int], int], list[tuple[int, int]]]:
    overlap = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in read_rows(os.path.join(out_dir, "overlap"))
    }
    comps = [(r["id"], r["component"]) for r in read_rows(os.path.join(out_dir, "components"))]
    return overlap, comps


# ------------------------------------------------------------------ ann_topk


def _by_query(rows: list[tuple[int, int, float]]) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list[tuple[int, float]]] = {}
    for qid, cid, cos in rows:
        out.setdefault(qid, []).append((cid, cos))
    for v in out.values():
        v.sort(key=lambda t: (-t[1], t[0]))
    return out


def topk_mismatch(
    exact: dict[int, list[tuple[int, float]]], rows: list[tuple[int, int, float]]
) -> str | None:
    """Why ``rows`` is not the exact top-k, or None when it is. Ids must
    match position by position, except inside a run of cosines that tie
    within ``COSINE_TIE``."""
    got = _by_query(rows)
    if got.keys() != exact.keys():
        return f"queries differ: {len(got)} answered, {len(exact)} asked"
    for qid, want in exact.items():
        have = got[qid]
        if len(have) != len(want):
            return f"query {qid}: {len(have)} results, want {len(want)}"
        for (gc, gs), (wc, ws) in zip(have, want):
            if abs(gs - ws) > COSINE_TIE:
                return f"query {qid}: cosine {gs} where numpy gives {ws}"
        if [c for c, _ in have] != [c for c, _ in want]:
            # Same scores position by position: only tied ids may swap,
            # and only with a partner of the same score.
            scores = dict(want)
            if any(abs(scores.get(c, float("inf")) - s) > COSINE_TIE for c, s in have):
                return f"query {qid}: ids {[c for c, _ in have]} != {[c for c, _ in want]}"
    return None


def recall(exact: dict[int, list[tuple[int, float]]], rows: list[tuple[int, int, float]]) -> float:
    got = _by_query(rows)
    hits = sum(len({c for c, _ in got.get(q, [])} & {c for c, _ in w}) for q, w in exact.items())
    return hits / sum(len(w) for w in exact.values())


def check_ann(
    exact: dict[int, list[tuple[int, float]]],
    brute: list[tuple[int, int, float]],
    ivf: list[tuple[int, int, float]],
    pq: list[tuple[int, int, float]],
    ivf_all_cells: list[tuple[int, int, float]] | None = None,
) -> list[str]:
    errors = []
    why = topk_mismatch(exact, brute)
    if why:
        errors.append(f"brute_force_topk != numpy: {why}")
    if ivf_all_cells is not None:
        why = topk_mismatch(exact, ivf_all_cells)
        if why:
            errors.append(f"ivf_probe(n_probe=n_cells) != numpy: {why}")
    for name, rows, floor in (("ivf", ivf, IVF_RECALL_FLOOR), ("pq", pq, PQ_RECALL_FLOOR)):
        r = recall(exact, rows)
        if r < floor:
            errors.append(f"{name} recall@{ANN['k']} {r:.3f} below floor {floor}")
    return errors


# ------------------------------------------------------------------ pipe_job


def load_pipe(out_dir: str) -> tuple[bool, list[str]]:
    """(committed, output records) of a text.gz job output."""
    lines: list[str] = []
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with gzip.open(part, "rt") as fh:
            lines.extend(fh.read().splitlines())
    return os.path.exists(os.path.join(out_dir, "_SUCCESS")), lines


def check_pipe(
    data: PipeInput, committed: bool, records: list[str], n_reported: int, epochs: int
) -> list[str]:
    errors = []
    if not committed:
        errors.append("output has no _SUCCESS marker")
    totals = [r for r in records if r.startswith("TOTAL\t")]
    body = Counter(r for r in records if not r.startswith("TOTAL\t"))
    n_lines = len(data.lines)
    if not totals:
        errors.append("no per-partition TOTAL record")
    if len(records) != epochs * n_lines + len(totals):
        errors.append(
            f"{len(records)} records, want {epochs} x {n_lines} + {len(totals)} totals"
        )
    if n_reported != len(records):
        errors.append(f"submit reported {n_reported} records, output holds {len(records)}")
    if sum(int(t.split("\t")[1]) for t in totals) != epochs * data.total:
        errors.append("child totals do not sum to epochs x the generated total")
    if body != expected_pipe_records(data, epochs):
        errors.append("transformed records differ from the expected multiset")
    return errors


# ------------------------------------------------------------- ingest_stream


def check_ingest(
    data: IngestBatches,
    landed: list[tuple[int, str]],
    files_before: int,
    files_after: int,
) -> list[str]:
    """``landed`` holds the compacted corpus rows; the file counts are
    those before and after ``compact_batch_output``."""
    errors = []
    ids = [d for d, _ in landed]
    if len(ids) != len(set(ids)):
        errors.append("a document landed twice")
    want = expected_survivors(data)
    if set(ids) != want:
        errors.append(
            f"landed ids != expected survivors: {len(set(ids) - want)} extra, "
            f"{len(want - set(ids))} missing"
        )
    text_of = {d: t for b in data.batches for d, t in b}
    if any(text_of.get(d) != t for d, t in landed):
        errors.append("a landed text differs from the generated document")
    if files_after >= files_before:
        errors.append(f"compaction left {files_after} files of {files_before}")
    return errors


def load_corpus(corpus_dir: str) -> list[tuple[int, str]]:
    return [(r["doc_id"], r["text"]) for r in read_rows(corpus_dir)]
