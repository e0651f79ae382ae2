"""The benchmark's workloads, each a sequence of parts. A part is one
group of calls into the engine's public functions, made as a user would
make them, plus a traced form that times every layer on its own.

A pass reads its inputs from a directory of its own (hard links to the
generated files), so nothing a previous pass cached can serve it, and
writes its outputs into that directory too. A pass returns a check: a
function, called after the pass is timed, that reads the outputs and
returns the problems it finds (none when they are correct).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import functions as F

import checks
import gen
import spans
from xlearning_spark import job
from xlearning_spark.operators import dedup, similarity, text
from xlearning_spark.operators.pipe import pipe_lines
from xlearning_spark.operators.sharding import epoch_replay
from xlearning_spark.sources import delivery, sinks
from xlearning_spark.streaming import compact_batch_output, neardup_ingest

Check = Callable[[], list]


def link_tree(src: str, dst: str) -> None:
    """Mirror ``src`` under ``dst`` with hard links: same bytes, new
    paths, so no cache keyed by path can serve the copy."""
    for root, _, files in os.walk(src):
        out = os.path.join(dst, os.path.relpath(root, src))
        os.makedirs(out, exist_ok=True)
        for f in files:
            os.link(os.path.join(root, f), os.path.join(out, f))


def _materialize(df, held: list):
    """Persist and count ``df`` so the next span times its own work."""
    df = df.persist()
    df.count()
    held.append(df)
    return df


def _release(held: list) -> None:
    for df in held:
        df.unpersist()
    held.clear()


class Part:
    name: str
    #: Rows one pass processes (for rows_per_s).
    rows_per_pass: int
    #: Micro-batches one pass drains.
    micro_batches = 0

    def __init__(self, gen_dir: str):
        self.gen_dir = gen_dir

    def first_scan(self, spark) -> None:
        raise NotImplementedError

    def run(self, spark, pass_dir: str, full_check: bool) -> Check:
        """One untraced pass. ``full_check`` adds the checks that cost
        further engine calls (the warm-up pass makes them)."""
        raise NotImplementedError

    def traced(self, spark, pass_dir: str, tracer: spans.Tracer) -> tuple[dict, Check]:
        """One traced pass; returns its per-layer values and its check."""
        raise NotImplementedError


class DedupBatch(Part):
    """Winnowing fingerprints and their overlap pairs, MinHash near
    duplicates and their connected components, both written as parquet."""

    name = "dedup_batch"

    def __init__(self, corpus: gen.DedupCorpus, gen_dir: str):
        super().__init__(gen_dir)
        self.corpus = corpus
        self.rows_per_pass = len(corpus.ids)
        self.fp_cache: dict[int, set[int]] = {}

    def first_scan(self, spark):
        spark.read.parquet(os.path.join(self.gen_dir, "docs")).count()

    def _check(self, out_dir: str) -> Check:
        def check():
            overlap, comps = checks.load_dedup(out_dir)
            return checks.check_dedup(self.corpus, overlap, comps, self.fp_cache)

        return check

    @staticmethod
    def _fingerprints(docs):
        return text.winnowing_fingerprint_rows(docs, "doc_id", "text", k=gen.WINNOW_K, w=gen.WINNOW_W)

    @staticmethod
    def _write(pass_dir, overlap, comps):
        sinks.write_parquet(overlap, os.path.join(pass_dir, "overlap"))
        sinks.write_parquet(comps, os.path.join(pass_dir, "components"))

    def run(self, spark, pass_dir, full_check):
        docs = spark.read.parquet(os.path.join(pass_dir, "docs"))
        overlap = text.fingerprint_overlap_pairs(
            self._fingerprints(docs), "doc_id", "fp", exploded=True
        )
        pairs = dedup.minhash_near_duplicates(docs, "doc_id", "text")
        self._write(pass_dir, overlap, dedup.connected_components(pairs.select("id_a", "id_b")))
        return self._check(pass_dir)

    def traced(self, spark, pass_dir, tracer):
        held: list = []
        docs = _materialize(spark.read.parquet(os.path.join(pass_dir, "docs")), held)
        with tracer.span("text.winnowing_rows_s"):
            fps = _materialize(self._fingerprints(docs), held)
        with tracer.span("text.overlap_pairs_s"):
            overlap = _materialize(
                text.fingerprint_overlap_pairs(fps, "doc_id", "fp", exploded=True), held
            )
        with tracer.span("dedup.minhash_s"):
            pairs = _materialize(dedup.minhash_near_duplicates(docs, "doc_id", "text"), held)
        verified = pairs.count()
        # Outside every span: the candidate count re-runs the LSH banding
        # that minhash_near_duplicates runs inside.
        candidates = dedup.minhash_candidate_pairs(
            dedup.minhash_signatures(docs, "doc_id", "text"), "doc_id"
        ).count()
        with tracer.span("dedup.cc_s"):
            comps = _materialize(dedup.connected_components(pairs.select("id_a", "id_b")), held)
        with tracer.span("sinks.write_parquet_s"):
            self._write(pass_dir, overlap, comps)
        _release(held)
        values = {
            "dedup.lsh_candidates": candidates,
            "dedup.lsh_verified": verified,
            "dedup.lsh_precision": verified / candidates if candidates else 0.0,
            # connected_components counts both directions of every pair.
            "dedup.cc_edges": 2 * verified,
        }
        return values, self._check(pass_dir)


class AnnTopk(Part):
    """IVF and PQ indexes built and probed, and exact top-k, for one
    query batch."""

    name = "ann_topk"

    def __init__(self, data: gen.AnnData, gen_dir: str):
        super().__init__(gen_dir)
        self.exact = data.exact
        self.rows_per_pass = len(data.ids)

    def first_scan(self, spark):
        spark.read.parquet(os.path.join(self.gen_dir, "vectors")).count()
        spark.read.parquet(os.path.join(self.gen_dir, "queries")).count()

    @staticmethod
    def _inputs(spark, pass_dir):
        return (
            spark.read.parquet(os.path.join(pass_dir, "vectors")),
            spark.read.parquet(os.path.join(pass_dir, "queries")),
        )

    @staticmethod
    def _rows(df):
        return [(r["qid"], r["cid"], r["cosine"]) for r in df.collect()]

    def _check(self, brute, ivf, pq, all_cells=None) -> Check:
        return lambda: checks.check_ann(self.exact, brute, ivf, pq, all_cells)

    def run(self, spark, pass_dir, full_check):
        p = gen.ANN
        corpus, queries = self._inputs(spark, pass_dir)
        ivf = similarity.build_ivf_index(corpus, n_cells=p["n_cells"])
        ivf_rows = self._rows(
            similarity.ivf_probe(ivf, queries, k=p["k"], n_probe=p["n_probe"], exclude_self=False)
        )
        all_cells = None
        if full_check:
            all_cells = self._rows(
                similarity.ivf_probe(ivf, queries, k=p["k"], n_probe=p["n_cells"], exclude_self=False)
            )
        pq = similarity.build_pq_index(corpus, m=p["m"], bits=p["bits"])
        pq_rows = self._rows(similarity.pq_topk(pq, queries, k=p["k"], exclude_self=False))
        exact_rows = self._rows(
            similarity.brute_force_topk(corpus, queries, k=p["k"], exclude_self=False)
        )
        ivf.unpersist()
        pq.unpersist()
        return self._check(exact_rows, ivf_rows, pq_rows, all_cells)

    def traced(self, spark, pass_dir, tracer):
        p = gen.ANN
        held: list = []
        corpus, queries = (_materialize(df, held) for df in self._inputs(spark, pass_dir))
        with tracer.span("similarity.ivf_build_s"):
            ivf = similarity.build_ivf_index(corpus, n_cells=p["n_cells"])
            ivf.cells.count()
        with tracer.span("similarity.ivf_probe_s"):
            ivf_rows = self._rows(
                similarity.ivf_probe(ivf, queries, k=p["k"], n_probe=p["n_probe"], exclude_self=False)
            )
        with tracer.span("similarity.pq_build_s"):
            pq = similarity.build_pq_index(corpus, m=p["m"], bits=p["bits"])
            pq.codes.count()
        with tracer.span("similarity.pq_probe_s"):
            pq_rows = self._rows(similarity.pq_topk(pq, queries, k=p["k"], exclude_self=False))
        with tracer.span("similarity.exact_topk_s"):
            exact_rows = self._rows(
                similarity.brute_force_topk(corpus, queries, k=p["k"], exclude_self=False)
            )
        ivf.unpersist()
        pq.unpersist()
        _release(held)
        values = {
            "similarity.ivf_recall": checks.recall(self.exact, ivf_rows),
            "similarity.pq_recall": checks.recall(self.exact, pq_rows),
        }
        return values, self._check(exact_rows, ivf_rows, pq_rows)


class PipeJob(Part):
    """One STREAM job.submit with epoch replay through an awk child,
    committing text.gz output."""

    name = "pipe_job"

    def __init__(self, data: gen.PipeInput, gen_dir: str):
        super().__init__(gen_dir)
        self.data = data
        self.epochs = gen.PIPE["epochs"]
        self.rows_per_pass = self.epochs * len(data.lines)

    def first_scan(self, spark):
        delivery.read_records(spark, os.path.join(self.gen_dir, "text")).count()

    def _submit(self, spark, pass_dir):
        spec = job.JobSpec(
            inputs={"text": os.path.join(pass_dir, "text")},
            command=gen.PIPE_COMMAND,
            input_strategy="STREAM",
            output=os.path.join(pass_dir, "job"),
            output_format="text.gz",
            epochs=self.epochs,
        )
        return job.submit(spark, spec)

    def _check(self, out_dir: str, n_reported: int | None) -> Check:
        """``n_reported`` is submit's record count (None: nothing reported)."""

        def check():
            committed, records = checks.load_pipe(out_dir)
            n = len(records) if n_reported is None else n_reported
            return checks.check_pipe(self.data, committed, records, n, self.epochs)

        return check

    def run(self, spark, pass_dir, full_check):
        res = self._submit(spark, pass_dir)
        return self._check(res.output_path, res.n_records_out)

    def traced(self, spark, pass_dir, tracer):
        held: list = []
        with tracer.span("job.submit_s", counted=False):
            res = self._submit(spark, pass_dir)
        # The same pipeline composed from its layers, over its own links.
        link_tree(os.path.join(pass_dir, "text"), os.path.join(pass_dir, "text2"))
        with tracer.span("delivery.read_records_s"):
            rows = _materialize(
                delivery.read_records(spark, os.path.join(pass_dir, "text2")).withColumnRenamed(
                    "value", "line"
                ),
                held,
            )
        with tracer.span("sharding.epoch_replay_s"):
            replayed = _materialize(epoch_replay(rows, self.epochs).drop("epoch"), held)
        with tracer.span("pipe.pipe_lines_s"):
            piped = _materialize(pipe_lines(replayed, gen.PIPE_COMMAND, out_col="line"), held)
        out = os.path.join(pass_dir, "composed")
        with tracer.span("sinks.write_gzip_text_s"):
            sinks.write_gzip_text(piped.select(F.col("line").cast("string")), out)
        _release(held)
        layers = ("delivery.read_records_s", "sharding.epoch_replay_s",
                  "pipe.pipe_lines_s", "sinks.write_gzip_text_s")
        values = {
            # pipe_lines starts one child per partition of its input.
            "pipe.children": replayed.rdd.getNumPartitions(),
            "job.overhead_s": tracer.seconds("job.submit_s")[-1]
            - sum(tracer.seconds(n)[-1] for n in layers),
        }
        submitted = self._check(res.output_path, res.n_records_out)
        composed = self._check(out, None)
        return values, lambda: submitted() + composed()


class IngestStream(Part):
    """neardup_ingest drains one file per micro-batch into an empty
    corpus, then compact_batch_output folds the landed files."""

    name = "ingest_stream"

    def __init__(self, data: gen.IngestBatches, gen_dir: str):
        super().__init__(gen_dir)
        self.data = data
        self.micro_batches = len(data.batches)
        self.rows_per_pass = sum(len(b) for b in data.batches)
        self.progress: spans.BatchProgress | None = None

    def first_scan(self, spark):
        spark.read.parquet(os.path.join(self.gen_dir, "batches")).count()

    @staticmethod
    def _drain(spark, pass_dir):
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(pass_dir, "batches"))
        )
        return neardup_ingest(
            stream, os.path.join(pass_dir, "corpus"), os.path.join(pass_dir, "checkpoint")
        )

    @staticmethod
    def _compact(spark, pass_dir, written) -> int:
        """Fold every landed batch (the stream is drained); returns the
        file count before the fold."""
        corpus = os.path.join(pass_dir, "corpus")
        before = checks.count_data_files(corpus)
        compact_batch_output(spark, corpus, upto_batch=max(written))
        return before

    def _check(self, pass_dir, before, written, again=()) -> Check:
        def check():
            corpus = os.path.join(pass_dir, "corpus")
            problems = checks.check_ingest(
                self.data, checks.load_corpus(corpus), before, checks.count_data_files(corpus)
            )
            # Every batch holds unclustered documents, so every batch lands.
            if written != list(range(self.micro_batches)):
                problems.append(f"batches {written} appended, want all {self.micro_batches}")
            if again:
                problems.append(f"a second drain on the same checkpoint appended {again}")
            return problems

        return check

    def run(self, spark, pass_dir, full_check):
        written = self._drain(spark, pass_dir)
        before = self._compact(spark, pass_dir, written)
        again = self._drain(spark, pass_dir) if full_check else []
        return self._check(pass_dir, before, written, again)

    def traced(self, spark, pass_dir, tracer):
        if self.progress is None:
            self.progress = spans.BatchProgress(spark)
        with tracer.span("streaming.drain_s"):
            written = self._drain(spark, pass_dir)
        batches = self.progress.take(self.micro_batches)
        with tracer.span("streaming.compact_s"):
            before = self._compact(spark, pass_dir, written)
        values = {"streaming.batches": len(batches), **spans.batch_medians(batches)}
        return values, self._check(pass_dir, before, written)


PARTS = {p.name: p for p in (DedupBatch, AnnTopk, PipeJob, IngestStream)}


class Workload:
    """Parts run one after the other; each works in its own subdirectory
    of the generated inputs and of every pass directory."""

    def __init__(self, parts: list[Part]):
        self.parts = parts
        self.rows_per_pass = sum(p.rows_per_pass for p in parts)
        self.micro_batches = sum(p.micro_batches for p in parts)

    def first_scan(self, spark) -> None:
        for p in self.parts:
            p.first_scan(spark)

    def _joined(self, found: list[Check]) -> Check:
        return lambda: [
            f"{p.name}: {problem}" for p, check in zip(self.parts, found) for problem in check()
        ]

    def run(self, spark, pass_dir: str, full_check: bool) -> Check:
        return self._joined(
            [p.run(spark, os.path.join(pass_dir, p.name), full_check) for p in self.parts]
        )

    def traced(self, spark, pass_dir: str, tracer: spans.Tracer) -> tuple[dict, Check]:
        values: dict = {}
        found = []
        for p in self.parts:
            v, check = p.traced(spark, os.path.join(pass_dir, p.name), tracer)
            values.update(v)
            found.append(check)
        return values, self._joined(found)
