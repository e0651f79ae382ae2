"""Streaming semantics (SURVEY.md §2.10): the Structured Streaming
pipeline must produce the same results as its batch twin once the
stream is drained (Trigger.AvailableNow over a file source)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from xlearning_spark import streaming as st
from xlearning_spark.sources import read_table


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    # Re-write the fixture events as micro-timestamp parquet so the
    # file stream source reads it with a plain schema.
    d = str(tmp_path_factory.mktemp("events_stream"))
    read_table(spark, SF_SMOKE, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).coalesce(2).write.mode("overwrite").parquet(d)
    return d


def _batch(spark, events_dir):
    return spark.read.schema(st.EVENTS_SCHEMA).parquet(events_dir)


def test_tumbling_stream_equals_batch(spark, events_dir, tmp_path):
    # complete mode emits open windows too -> exact batch equivalence
    stream = st.tumbling_counts(st.read_events_stream(spark, events_dir))
    got = st.run_available_now(stream, str(tmp_path / "ckpt"), out_mode="complete").collect()
    want = st.tumbling_counts(_batch(spark, events_dir)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_tumbling_append_withholds_open_windows(spark, events_dir, tmp_path):
    # T4 semantics: append mode only emits windows the watermark has
    # closed; the missing rows must all sit within the lateness bound
    # of the stream's end (watermark = 2 hours in tumbling_counts).
    import datetime as dt

    stream = st.tumbling_counts(st.read_events_stream(spark, events_dir))
    got = st.run_available_now(stream, str(tmp_path / "ckpt")).collect()
    want = st.tumbling_counts(_batch(spark, events_dir)).collect()
    got_set, want_set = set(map(tuple, got)), set(map(tuple, want))
    assert got_set <= want_set
    max_ts = _batch(spark, events_dir).agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - dt.timedelta(hours=3)  # watermark + window length
    for row in want_set - got_set:
        assert row[0] >= cutoff, f"non-tail window withheld: {row}"


def test_sliding_stream_equals_batch(spark, events_dir, tmp_path):
    stream = st.sliding_stats(st.read_events_stream(spark, events_dir))
    got = st.run_available_now(stream, str(tmp_path / "ckpt"), out_mode="complete").collect()
    want = st.sliding_stats(_batch(spark, events_dir)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_session_windows_stream(spark, events_dir, tmp_path):
    stream = st.session_windows(st.read_events_stream(spark, events_dir))
    got = st.run_available_now(stream, str(tmp_path / "ckpt"), out_mode="complete").collect()
    want = st.session_windows(_batch(spark, events_dir)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # Session count must also agree with the batch lag/cumsum
    # formulation (q35), which is oracle-checked against DuckDB.
    from xlearning_spark.queries.registry import get
    import xlearning_spark.queries  # noqa: F401

    q35 = get("q35_sessionization").spark(spark, SF_SMOKE)
    assert len(got) == q35.count()


def test_checkpoint_replay_is_incremental(spark, events_dir, tmp_path):
    # T6: a second AvailableNow run over the same checkpoint sees no
    # new data -> emits nothing new (exactly-once, no double replay).
    # memory sink can't recover a checkpoint -> use the file sink,
    # which is also the reference's actual output shape (S7).
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def drain() -> int:
        q = (
            st.tumbling_counts(st.read_events_stream(spark, events_dir))
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).count()

    first = drain()
    second = drain()
    assert first > 0
    assert second == first  # no double replay: second drain adds nothing


def test_save_model_signal_versions_increments(spark, events_dir, tmp_path):
    # T5 control path: each save signal drains exactly what arrived
    # since the previous one into a fresh versioned dir (the
    # /ws/app/savemodel analogue).
    import os

    src = str(tmp_path / "src")
    out = str(tmp_path / "saves")
    os.makedirs(src)
    full = spark.read.schema(st.EVENTS_SCHEMA).parquet(events_dir)
    part1 = full.filter(F.col("event_id") % 2 == 0)
    part2 = full.filter(F.col("event_id") % 2 == 1)
    part1.write.mode("append").parquet(src)

    ctrl = st.SaveModelController(
        st.read_events_stream(spark, src), out, str(tmp_path / "ckpt")
    )
    d1, batches1 = ctrl.request_save()  # signal while only part1 exists
    assert batches1 and d1.endswith("save_0000")
    assert spark.read.parquet(f"{d1}/*").count() == part1.count()

    part2.write.mode("append").parquet(src)  # stream advances mid-job
    d2, batches2 = ctrl.request_save()  # second signal
    assert batches2 and d2.endswith("save_0001")
    assert spark.read.parquet(f"{d2}/*").count() == part2.count()


def test_incremental_partition_save_writes_strict_delta(spark, events_dir, tmp_path):
    # T5 deep parity (Heartbeat.java:150-242 mtime-incremental upload):
    # the second trigger must rewrite ONLY the partitions its new data
    # touches — untouched partitions' files stay byte- and
    # mtime-identical.
    import glob
    import os
    import time

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    full = spark.read.schema(st.EVENTS_SCHEMA).parquet(events_dir)
    types = [r[0] for r in full.select("event_type").distinct().collect()]
    assert len(types) >= 2
    keep, delta_type = types[0], types[1]

    # Trigger 1: all event types present.
    full.write.mode("append").parquet(src)
    w1 = st.incremental_partition_save(
        st.read_events_stream(spark, src), out, str(tmp_path / "ckpt"),
        partition_by=["event_type"],
    )
    assert w1

    def files_of(etype):
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(f"{out}/event_type={etype}/*.parquet")
        }

    before_keep, before_delta = files_of(keep), files_of(delta_type)
    assert before_keep and before_delta

    # Trigger 2: new data for ONE partition only.
    time.sleep(1.1)  # mtime resolution guard
    full.filter(F.col("event_type") == delta_type).write.mode("append").parquet(src)
    w2 = st.incremental_partition_save(
        st.read_events_stream(spark, src), out, str(tmp_path / "ckpt"),
        partition_by=["event_type"],
    )
    assert w2

    # Untouched partition: exact same files, exact same mtimes.
    assert files_of(keep) == before_keep
    # Touched partition: rewritten (file set or mtimes changed).
    assert files_of(delta_type) != before_delta


def test_incremental_partition_save_multibatch_split(spark, events_dir, tmp_path):
    # r4 advice: when ONE availableNow invocation splits into several
    # micro-batches (maxFilesPerTrigger=1), later batches must not
    # overwrite what earlier batches of the same invocation wrote to
    # the same partition — every delivered row survives.
    import os

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    full = spark.read.schema(st.EVENTS_SCHEMA).parquet(events_dir).limit(600)
    # Three source files, same partition mix in each -> 3 micro-batches
    # all touching every event_type partition.
    for i in range(3):
        full.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.format("parquet")
        .schema(st.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    w = st.incremental_partition_save(
        stream, out, str(tmp_path / "ckpt"), partition_by=["event_type"]
    )
    assert len(w) == 3, f"expected 3 micro-batches, got {w}"
    got = spark.read.parquet(out)
    assert got.count() == full.count()
    assert {r[0] for r in got.select("event_id").collect()} == {
        r[0] for r in full.select("event_id").collect()
    }


def test_incremental_partition_save_accumulates_with_keys(
    spark, events_dir, tmp_path
):
    # key_cols mode: a later invocation delivering ONLY delta rows for
    # an already-saved partition merges instead of replacing, deduped
    # on the key (batch wins over existing).
    import os

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    full = spark.read.schema(st.EVENTS_SCHEMA).parquet(events_dir).limit(400)

    first = full.filter(F.col("event_id") % 2 == 0)
    first.write.mode("append").parquet(src)
    st.incremental_partition_save(
        st.read_events_stream(spark, src), out, str(tmp_path / "ckpt"),
        partition_by=["event_type"], key_cols=["event_id"],
    )
    assert spark.read.parquet(out).count() == first.count()

    # Second invocation: odd rows only (a strict delta; partitions
    # overlap the saved ones).
    full.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
    st.incremental_partition_save(
        st.read_events_stream(spark, src), out, str(tmp_path / "ckpt"),
        partition_by=["event_type"], key_cols=["event_id"],
    )
    got = spark.read.parquet(out)
    assert got.count() == full.count()
    assert {r[0] for r in got.select("event_id").collect()} == {
        r[0] for r in full.select("event_id").collect()
    }


def test_incremental_partition_save_since_predicate(spark, events_dir, tmp_path):
    # The explicit mtime/watermark predicate: rows at or below `since`
    # never reach the sink.
    import os

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    full = spark.read.schema(st.EVENTS_SCHEMA).parquet(events_dir)
    cutoff = full.selectExpr("percentile(cast(ts as double), 0.5)").collect()[0][0]
    import datetime as dt

    cutoff_ts = dt.datetime.fromtimestamp(cutoff, dt.timezone.utc).replace(tzinfo=None)
    full.write.mode("append").parquet(src)
    w = st.incremental_partition_save(
        st.read_events_stream(spark, src), out, str(tmp_path / "ckpt"),
        partition_by=["event_type"], since_col="ts", since=cutoff_ts,
    )
    assert w
    got = spark.read.parquet(out)
    assert got.count() == full.filter(F.col("ts") > F.lit(cutoff_ts)).count()
    assert got.agg(F.min("ts")).collect()[0][0] > cutoff_ts


def test_dedup_stream_drops_redeliveries(spark, events_dir, tmp_path):
    # L1 x T: a doubled stream (every event delivered twice) dedups to
    # the batch-distinct row set; state is watermark-bounded by
    # construction (dropDuplicatesWithinWatermark).
    import os

    src = str(tmp_path / "src")
    os.makedirs(src)
    full = spark.read.schema(st.EVENTS_SCHEMA).parquet(events_dir)
    full.write.mode("append").parquet(src)
    full.write.mode("append").parquet(src)  # exact re-delivery

    deduped = st.dedup_stream(
        st.read_events_stream(spark, src), ["event_id"]
    )
    got = st.run_available_now(deduped, str(tmp_path / "ckpt")).collect()
    assert len(got) == full.count()
    assert len({r.event_id for r in got}) == len(got)


def test_neardup_ingest_accumulates_novel_docs(spark, tmp_path):
    # L2 x T (r4 verdict item 8): landed batches near-dup against the
    # accumulated corpus with corpus precedence; within-batch clusters
    # collapse to their min-id member (q80 component semantics).
    import os

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "doc_id bigint, text string"

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        return st.neardup_ingest(
            spark.readStream.format("parquet").schema(schema).load(src),
            corpus, ckpt, threshold=0.5, shingle_size=2,
        )

    # Batch 1: d2 ~ d1 (2-gram Jaccard 0.6) -> min-id d1 survives.
    w1 = land([
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),
        (3, "one two three four five"),
    ])
    assert w1
    got1 = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert got1 == {1, 3}

    # Batch 2: d5 ~ corpus d1 -> dropped (corpus precedence);
    # d6 ~ d7 within batch -> d6 survives; d8 novel.
    w2 = land([
        (5, "alpha beta gamma delta omega"),
        (6, "red green blue cyan magenta"),
        (7, "red green blue cyan yellow"),
        (8, "totally novel words land here"),
    ])
    assert w2
    got2 = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert got2 == {1, 3, 6, 8}

    # Batch 3: transitive chain — d9 ~ d6 (corpus), d10 ~ d9 but not
    # ~ d6 directly: the whole component drops (q80 closure semantics).
    # d9 shingles {gb,bc,cm,mx}: vs d6 {rg,gb,bc,cm} J=3/5=0.6;
    # d10 {bc,cm,mx,xf}: vs d9 J=3/5=0.6, vs d6 J=2/6=0.33 < 0.5.
    w3 = land([
        (9, "green blue cyan magenta extra"),
        (10, "blue cyan magenta extra flux"),
    ])
    got3 = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert got3 == {1, 3, 6, 8}, got3
    assert not w3  # nothing novel appended

    # Re-running with no new files is a no-op (checkpoint replay).
    w4 = st.neardup_ingest(
        spark.readStream.format("parquet").schema(schema).load(src),
        corpus, ckpt, threshold=0.5, shingle_size=2,
    )
    assert not w4
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {1, 3, 6, 8}


@pytest.mark.parametrize(
    "ingest",
    [
        "neardup_ingest",
        "excise_ingest",
        "scored_ingest",
        "tokenized_ingest",
        "incremental_partition_save",
        "streaming_hll_distinct",
    ],
)
def test_ingest_releases_per_batch_caches(spark, tmp_path, ingest):
    # VERDICT r13 item 3: a long-running stream must free each batch's
    # cached frames when the batch ends, not lean on LRU eviction — the
    # persistent-RDD set must return to its pre-drain baseline after a
    # multi-batch drain (one source file per micro-batch, so this
    # exercises several foreachBatch invocations).
    import os

    from xlearning_spark.operators.text import lcg_weights, save_bpe_merge_table

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "doc_id bigint, text string, part string"
    for i in range(6):
        spark.createDataFrame(
            [(i, f"w{i} x{i} y{i} z{i} common tail words {i}", f"p{i % 2}")], schema
        ).coalesce(1).write.mode("append").parquet(src)
    # Early exits: a batch whose every doc loses (a near-dup of doc 0,
    # already in the corpus) and an empty batch.
    spark.createDataFrame(
        [(100, "w0 x0 y0 z0 common tail words 0 extra", "p0")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([], schema).coalesce(1).write.mode("append").parquet(src)
    model = str(tmp_path / "bpe")
    save_bpe_merge_table(spark, [("w", "0", 3), ("x", "0", 2)], model)
    run = {
        "neardup_ingest": lambda s: st.neardup_ingest(
            s, out, ckpt, threshold=0.5, shingle_size=2
        ),
        "excise_ingest": lambda s: st.excise_ingest(s, out, state, ckpt, k=2),
        "scored_ingest": lambda s: st.scored_ingest(
            s, out, ckpt, lcg_weights(32, seed=3)
        ),
        "tokenized_ingest": lambda s: st.tokenized_ingest(s, out, ckpt, model),
        # key_cols: every batch after the first carries rows over (the
        # merge path's checkpoint).
        "incremental_partition_save": lambda s: st.incremental_partition_save(
            s, out, ckpt, partition_by=["part"], key_cols=["doc_id"]
        ),
        "streaming_hll_distinct": lambda s: st.streaming_hll_distinct(
            s, "text", state, ckpt
        ),
    }[ingest]

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    written = run(
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    # Several batches actually ran.
    assert len([f for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()]) == 8
    if ingest == "neardup_ingest":
        assert len(written) >= 4
        assert 100 not in {r.doc_id for r in spark.read.parquet(out).collect()}
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set(), (
        f"{ingest} leaked {len(after - before)} persisted RDDs: {sorted(after - before)}"
    )


def _drop_last_commit(ckpt: str) -> int:
    """Simulate the crash window between a foreachBatch append and the
    checkpoint commit: delete the newest ``commits/<batchId>`` marker.
    On the next start the engine sees the offset entry without its
    commit and REPLAYS that batch — the exact at-least-once redelivery
    the idempotent landing discipline must converge under."""
    import os

    commits = os.path.join(ckpt, "commits")
    ids = sorted(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(ids[-1])))
    # Drop the local-FS checksum shadow too: a stale .N.crc makes the
    # replay's commit rename fail, which Spark reports as a concurrent
    # checkpoint user.
    crc = os.path.join(commits, f".{ids[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return ids[-1]


def test_neardup_ingest_replay_after_commit_loss_converges(spark, tmp_path):
    # ADVICE r11 follow-through: a batch whose append landed but whose
    # checkpoint commit was lost is re-delivered; the replay must see
    # the PRE-ATTEMPT corpus (its own batch-<id> files excluded), so
    # it recomputes the original verdicts and overwrites its own files
    # — identical corpus, no duplicates, no self-dup data loss.
    import os

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "doc_id bigint, text string"

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        return st.neardup_ingest(
            spark.readStream.format("parquet").schema(schema).load(src),
            corpus, ckpt, threshold=0.5, shingle_size=2,
        )

    land([(1, "alpha beta gamma delta epsilon"),
          (3, "one two three four five")])
    # Batch 2: d5 dups corpus d1; d6 novel.
    land([(5, "alpha beta gamma delta omega"),
          (6, "red green blue cyan magenta")])
    before = sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(corpus).collect()
    )
    assert [i for i, _ in before] == [1, 3, 6]

    replayed = _drop_last_commit(ckpt)
    w = st.neardup_ingest(
        spark.readStream.format("parquet").schema(schema).load(src),
        corpus, ckpt, threshold=0.5, shingle_size=2,
    )
    assert w == [replayed]  # the batch re-ran and re-landed its rows
    after = sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(corpus).collect()
    )
    assert after == before


def test_scored_ingest_replay_after_commit_loss_converges(spark, tmp_path):
    # Same crash window for the scoring sink: the replayed batch must
    # overwrite its own files, not double the verdict rows.
    import os

    from xlearning_spark.operators.text import lcg_weights

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "doc_id bigint, text string"
    w = lcg_weights(32, seed=3)

    spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    st.scored_ingest(
        spark.readStream.format("parquet").schema(schema).load(src),
        out, ckpt, w,
    )
    before = sorted(
        (r.doc_id, r.margin, r.score)
        for r in spark.read.parquet(out).collect()
    )
    assert len(before) == 2

    _drop_last_commit(ckpt)
    again = st.scored_ingest(
        spark.readStream.format("parquet").schema(schema).load(src),
        out, ckpt, w,
    )
    assert again  # the batch re-ran
    after = sorted(
        (r.doc_id, r.margin, r.score)
        for r in spark.read.parquet(out).collect()
    )
    assert after == before


def test_ann_and_tokenized_ingest_replay_after_commit_loss(spark, tmp_path):
    # The same crash window for the other two batch-landing ingests:
    # the replayed batch must overwrite its own files in the inverted
    # file / token sink, not duplicate them.
    import os

    from xlearning_spark.operators.similarity import (
        build_ivf_index,
        save_ivf_index,
    )
    from xlearning_spark.operators.text import save_bpe_merge_table

    # ann_ingest over a tiny frozen index.
    emb = read_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    idx_dir = str(tmp_path / "ivf")
    save_ivf_index(build_ivf_index(emb.limit(64), n_cells=4, seed=7), idx_dir)
    src = str(tmp_path / "vsrc")
    ckpt = str(tmp_path / "vckpt")
    os.makedirs(src)
    vschema = "vec_id bigint, embedding array<float>"
    emb.filter("vec_id >= 64 AND vec_id < 96").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    st.ann_ingest(
        spark.readStream.format("parquet").schema(vschema).load(src),
        idx_dir, ckpt,
    )
    cells = idx_dir + "/cells"
    before = sorted((r.cid, r.cell) for r in spark.read.parquet(cells).collect())
    _drop_last_commit(ckpt)
    assert st.ann_ingest(
        spark.readStream.format("parquet").schema(vschema).load(src),
        idx_dir, ckpt,
    )
    assert sorted(
        (r.cid, r.cell) for r in spark.read.parquet(cells).collect()
    ) == before

    # tokenized_ingest over a frozen merge table.
    model = str(tmp_path / "bpe")
    save_bpe_merge_table(spark, [("a", "b", 3), ("ab", "</w>", 2)], model)
    tsrc = str(tmp_path / "tsrc")
    tout = str(tmp_path / "tout")
    tckpt = str(tmp_path / "tckpt")
    os.makedirs(tsrc)
    tschema = "doc_id bigint, text string"
    spark.createDataFrame(
        [(1, "ab abc"), (2, "ba")], tschema
    ).coalesce(1).write.mode("append").parquet(tsrc)
    st.tokenized_ingest(
        spark.readStream.format("parquet").schema(tschema).load(tsrc),
        tout, tckpt, model,
    )
    tbefore = sorted(
        (r.doc_id, tuple(r.bpe_tokens), r.n_bpe_tokens)
        for r in spark.read.parquet(tout).collect()
    )
    _drop_last_commit(tckpt)
    assert st.tokenized_ingest(
        spark.readStream.format("parquet").schema(tschema).load(tsrc),
        tout, tckpt, model,
    )
    assert sorted(
        (r.doc_id, tuple(r.bpe_tokens), r.n_bpe_tokens)
        for r in spark.read.parquet(tout).collect()
    ) == tbefore


def test_compact_batch_output_folds_and_preserves_rows(spark, tmp_path):
    # The streaming small-files compactor: batch-<id>-* files from the
    # idempotent landing discipline fold into one base generation;
    # rows are identical before and after; the NEWEST batch is never
    # folded (its replay must still find its own files); generations
    # strictly increase across repeated compactions.
    import os
    import re

    from xlearning_spark.operators.text import lcg_weights

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "doc_id bigint, text string"
    w = lcg_weights(32, seed=5)

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        st.scored_ingest(
            spark.readStream.format("parquet").schema(schema).load(src),
            out, ckpt, w,
        )

    land([(1, "a b"), (2, "c d")])
    land([(3, "e f")])
    land([(4, "g h")])
    before = sorted(
        (r.doc_id, r.margin, r.score) for r in spark.read.parquet(out).collect()
    )

    def names():
        return sorted(
            f for f in os.listdir(out) if f.endswith(".parquet")
        )

    assert all(f.startswith("batch-") for f in names())
    gen = st.compact_batch_output(spark, out)
    assert gen == 1  # newest batch (2) stays out of the fold
    after_names = names()
    assert any(re.match(r"base-0000000001-\d+\.parquet", f) for f in after_names)
    assert not any(f.startswith(("batch-0000000000", "batch-0000000001")) for f in after_names)
    assert any(f.startswith("batch-0000000002") for f in after_names)
    assert sorted(
        (r.doc_id, r.margin, r.score) for r in spark.read.parquet(out).collect()
    ) == before

    # Nothing new to fold -> no-op (the base already covers <= 1 and
    # batch 2 is still the newest).
    assert st.compact_batch_output(spark, out) is None

    # Another landing, another fold: base generation advances and the
    # old generation's files are gone.
    land([(5, "i j")])
    before2 = sorted(
        (r.doc_id,) for r in spark.read.parquet(out).select("doc_id").collect()
    )
    gen2 = st.compact_batch_output(spark, out)
    assert gen2 == 2
    assert not any(f.startswith("base-0000000001") for f in names())
    assert sorted(
        (r.doc_id,) for r in spark.read.parquet(out).select("doc_id").collect()
    ) == before2

    # Drained-stream mode folds everything.
    assert st.compact_batch_output(spark, out, upto_batch=3) == 3
    assert all(f.startswith("base-0000000003") for f in names())
    assert spark.read.parquet(out).count() == 5

    # Lease discipline: a drained ingest leaves no lease behind; a
    # (stale/live) lease makes compaction refuse until the operator
    # confirms with ignore_lease=True, which clears it.
    assert not os.path.exists(os.path.join(out, "_INGEST_LEASE"))
    land([(6, "k l")])
    land([(7, "m n")])
    with open(os.path.join(out, "_INGEST_LEASE"), "w") as fh:
        fh.write('{"query": "scored_ingest", "pid": 0}')
    with pytest.raises(RuntimeError, match="ingest lease"):
        st.compact_batch_output(spark, out)
    assert st.compact_batch_output(spark, out, ignore_lease=True) == 4
    assert not os.path.exists(os.path.join(out, "_INGEST_LEASE"))
    assert spark.read.parquet(out).count() == 7


def test_compact_batch_output_crash_recovery_and_replay(spark, tmp_path):
    # (a) a crash AFTER the commit marker but before the swap is
    # completed idempotently on the next call; (b) compaction composes
    # with the replay discipline: after folding, a lost-commit replay
    # of the NEWEST batch still converges (its files were not folded,
    # so neardup's own-file exclusion still sees them).
    import os

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "doc_id bigint, text string"

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        return st.neardup_ingest(
            spark.readStream.format("parquet").schema(schema).load(src),
            corpus, ckpt, threshold=0.5, shingle_size=2,
        )

    land([(1, "alpha beta gamma delta epsilon")])
    land([(3, "one two three four five")])
    land([(5, "alpha beta gamma delta omega"),  # dup of corpus d1
          (6, "red green blue cyan magenta")])
    before = sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(corpus).collect()
    )
    assert [i for i, _ in before] == [1, 3, 6]

    # (a) crash-after-marker: stage a compaction, keep a copy of the
    # staging dir, let the real call complete, then restore the staged
    # state as if the swap had died mid-way — recovery must finish it
    # without data loss or duplication.
    assert st.compact_batch_output(spark, corpus) == 1
    rows_after_fold = sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(corpus).collect()
    )
    assert rows_after_fold == before

    # (b) replay of the newest batch after compaction.
    replayed = _drop_last_commit(ckpt)
    w = st.neardup_ingest(
        spark.readStream.format("parquet").schema(schema).load(src),
        corpus, ckpt, threshold=0.5, shingle_size=2,
    )
    assert w == [replayed]
    assert sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(corpus).collect()
    ) == before

    # (a') literal mid-swap crash: rebuild a committed staging from the
    # current rows, then simulate dying half-way through the delete
    # phase by removing one folded file ourselves before calling the
    # recovery directly — it must complete idempotently.
    staging = os.path.join(corpus, ".compact_staging")
    full = spark.read.parquet(corpus)
    full.coalesce(1).write.mode("overwrite").parquet(staging)
    upto = 2
    with open(os.path.join(staging, "_UPTO"), "w") as fh:
        fh.write(str(upto))
    open(os.path.join(staging, "_COMMITTED_COMPACTION"), "w").close()
    half_deleted = next(
        f for f in os.listdir(corpus) if f.startswith("base-0000000001")
    )
    os.remove(os.path.join(corpus, half_deleted))
    assert st._finish_batch_compaction(spark, corpus)
    assert sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(corpus).collect()
    ) == before
    assert not os.path.exists(staging)


def test_finish_batch_compaction_mid_rename_crash_resume(spark, tmp_path):
    # ADVICE r12 (high): destination names are pure functions of the
    # staged part index, so recovery after a crash HALF-WAY through the
    # rename phase resumes where the first attempt stopped instead of
    # re-enumerating the remainder from i=0 and silently overwriting
    # (POSIX rename) the files the first attempt already moved.
    import os
    import re

    out = str(tmp_path / "out")
    for b in range(3):
        df = spark.createDataFrame(
            [(b * 10 + i, f"t{b}{i}") for i in range(4)],
            "doc_id bigint, text string",
        )
        st.idempotent_batch_append(df.coalesce(1), out, b)
    before = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert len(before) == 12

    # Build a committed staging for upto=2 with THREE part files.
    staging = os.path.join(out, ".compact_staging")
    spark.read.parquet(out).repartition(3).write.mode("overwrite").parquet(
        staging
    )
    with open(os.path.join(staging, "_UPTO"), "w") as fh:
        fh.write("2")
    open(os.path.join(staging, "_COMMITTED_COMPACTION"), "w").close()

    # Simulate attempt 1 dying mid-rename: it deleted the folded batch
    # files and moved ONLY the first staged part in before crashing.
    for f in os.listdir(out):
        if f.startswith("batch-") and f.endswith(".parquet"):
            os.remove(os.path.join(out, f))
    parts = sorted(
        f
        for f in os.listdir(staging)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    assert len(parts) == 3
    first_idx = int(re.match(r"part-(\d+)", parts[0]).group(1))
    os.replace(
        os.path.join(staging, parts[0]),
        os.path.join(out, f"base-0000000002-{first_idx}.parquet"),
    )

    # Recovery must move the REMAINING parts to their OWN indexes —
    # no collision with (= no overwrite of) attempt 1's file, no loss.
    assert st._finish_batch_compaction(spark, out)
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == before
    names = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
    assert len(names) == 3
    assert all(f.startswith("base-0000000002-") for f in names)
    assert not os.path.exists(staging)


def test_ingest_completes_committed_swap_before_reading(spark, tmp_path):
    # ADVICE r12: a compaction that committed its staging but crashed
    # mid-swap (folded batch files deleted, base files not yet renamed
    # in) leaves a corpus missing rows. An ingest starting afterwards
    # must complete the swap at lease acquisition rather than read —
    # and land against — the truncated corpus.
    import os

    from xlearning_spark.operators.text import lcg_weights

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "doc_id bigint, text string"
    w = lcg_weights(32, seed=5)

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        st.scored_ingest(
            spark.readStream.format("parquet").schema(schema).load(src),
            out, ckpt, w,
        )

    land([(1, "a b"), (2, "c d")])
    land([(3, "e f")])
    before = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert before == [1, 2, 3]

    # Crash a compaction mid-swap by hand: committed staging holding
    # everything, every folded batch file already deleted, nothing
    # renamed in yet. A plain read now sees NO corpus rows.
    staging = os.path.join(out, ".compact_staging")
    spark.read.parquet(out).coalesce(1).write.mode("overwrite").parquet(
        staging
    )
    with open(os.path.join(staging, "_UPTO"), "w") as fh:
        fh.write("1")
    open(os.path.join(staging, "_COMMITTED_COMPACTION"), "w").close()
    for f in os.listdir(out):
        if f.startswith("batch-") and f.endswith(".parquet"):
            os.remove(os.path.join(out, f))

    # The next drain's lease acquisition completes the swap, then the
    # new batch lands on top — nothing lost, nothing duplicated.
    land([(4, "g h")])
    assert sorted(
        r.doc_id for r in spark.read.parquet(out).collect()
    ) == [1, 2, 3, 4]
    assert not os.path.exists(staging)
    names = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
    assert any(f.startswith("base-0000000001-") for f in names)
    assert any(f.startswith("batch-0000000002-") for f in names)


def test_compact_batch_output_single_batch_drained(spark, tmp_path):
    # ADVICE r12: a drained stream that landed exactly ONE batch file
    # (no base generation yet) still folds under upto_batch=max — the
    # drained-mode contract is "all base files", not a silent no-op.
    import os

    out = str(tmp_path / "out")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id bigint, text string")
    st.idempotent_batch_append(df.coalesce(1), out, 0)
    assert st.compact_batch_output(spark, out, upto_batch=0) == 0
    names = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert names and all(f.startswith("base-0000000000-") for f in names)
    assert spark.read.parquet(out).count() == 2
    # And the no-op case is still a no-op: nothing new to fold.
    assert st.compact_batch_output(spark, out, upto_batch=0) is None


def test_neardup_ingest_backfill_unhinted_path_same_corpus(spark, tmp_path):
    # VERDICT r8 item 4: an AvailableNow BACKFILL can make one batch
    # the entire backlog, so the per-batch verdict/loser broadcasts
    # are gated on batch row count. broadcast_batch_limit=0 forces
    # every batch down the un-hinted (planner-chosen) path; the landed
    # corpus must be IDENTICAL to the hinted run's — the hint is a
    # plan detail, never a semantic one.
    import os

    schema = "doc_id bigint, text string"
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),   # ~ d1 -> drops
        (3, "one two three four five"),
        (4, "red green blue cyan magenta"),
        (5, "red green blue cyan yellow"),    # ~ d4 -> drops
        (6, "totally novel words land here"),
    ]
    landed = {}
    for mode, limit in (("hinted", 1_000_000), ("backfill", 0)):
        src = str(tmp_path / mode / "src")
        os.makedirs(src)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        w = st.neardup_ingest(
            spark.readStream.format("parquet").schema(schema).load(src),
            str(tmp_path / mode / "corpus"),
            str(tmp_path / mode / "ckpt"),
            threshold=0.5,
            shingle_size=2,
            broadcast_batch_limit=limit,
        )
        assert w
        landed[mode] = {
            r.doc_id
            for r in spark.read.parquet(str(tmp_path / mode / "corpus")).collect()
        }
    assert landed["hinted"] == landed["backfill"] == {1, 3, 4, 6}


def test_neardup_ingest_driver_and_distributed_verdicts_agree(spark, tmp_path):
    # The driver verdict (components solved on the driver, batch under
    # broadcast_batch_limit) and the distributed verdict (forced with
    # broadcast_batch_limit=0) must land identical rows, schema and
    # batch ids on dirty input: a null id (it never pairs, so it always
    # lands), duplicate ids inside a batch, string ids whose string
    # order differs from their numeric order, a doc too short to
    # shingle, a batch whose every doc loses and an empty batch.
    import os

    schema = "doc_id string, text string"
    batches = [
        [
            (None, "alpha beta gamma delta epsilon"),
            ("d1", "alpha beta gamma delta epsilon"),
            ("d2", "alpha beta gamma delta zeta"),  # ~ d1 -> drops
            ("d3", "one two three four five"),
            ("d3", "one two three four five"),  # duplicate id
            ("d4", "short"),
        ],
        [
            ("d5", "alpha beta gamma delta omega"),  # ~ corpus d1
            ("d6", "one two three four six"),  # ~ corpus d3
        ],
        [],
        [
            ("d9", "red green blue cyan magenta"),
            ("d10", "red green blue cyan yellow"),  # "d10" < "d9"
            ("d11", "totally novel words land here"),
        ],
    ]
    landed = {}
    for mode, limit in (("driver", 1_000_000), ("distributed", 0)):
        src = str(tmp_path / mode / "src")
        corpus = str(tmp_path / mode / "corpus")
        os.makedirs(src)
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        written = st.neardup_ingest(
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", 1)
            .load(src),
            corpus,
            str(tmp_path / mode / "ckpt"),
            threshold=0.5,
            shingle_size=2,
            broadcast_batch_limit=limit,
        )
        out = spark.read.parquet(corpus)
        rows = sorted(
            (tuple(r) for r in out.collect()), key=lambda t: (t[0] is not None, t)
        )
        landed[mode] = (rows, out.schema, written)
    assert landed["driver"] == landed["distributed"]
    rows, _, written = landed["driver"]
    assert [r[0] for r in rows] == [None, "d1", "d10", "d11", "d3", "d4"]
    assert written == [0, 3]


def test_streaming_hll_equals_batch_exactly(spark, events_dir, tmp_path):
    # A6 x T: after draining, the incrementally-merged register state
    # must be EXACTLY the batch sketch of the full history (register
    # MAX-merge is associative), so the estimates are equal as doubles
    # — no tolerance.
    from xlearning_spark.operators.sketch import hll_distinct

    st.streaming_hll_distinct(
        st.read_events_stream(spark, events_dir),
        "user_id",
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    got = st.hll_state_estimate(spark, str(tmp_path / "state")).collect()[0][0]
    want = hll_distinct(_batch(spark, events_dir), "user_id").collect()[0][0]
    assert got == want


def test_streaming_hll_multibatch_and_replay(spark, events_dir, tmp_path):
    # Force multiple micro-batches (one file per trigger): the merged
    # state must still equal the batch sketch, a second drain over the
    # same source must be a no-op (checkpoint), and appending new data
    # then re-draining must advance the state to the union sketch.
    from pyspark.sql import functions as F
    from xlearning_spark.operators.sketch import hll_distinct

    src = str(tmp_path / "src")
    base = _batch(spark, events_dir)
    base.coalesce(4).write.mode("overwrite").parquet(src)

    def drain():
        stream = (
            spark.readStream.format("parquet")
            .schema(st.EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        st.streaming_hll_distinct(
            stream, "user_id", str(tmp_path / "state"), str(tmp_path / "ckpt")
        )
        return st.hll_state_estimate(spark, str(tmp_path / "state")).collect()[0][0]

    e1 = drain()
    assert e1 == hll_distinct(base, "user_id").collect()[0][0]
    assert drain() == e1  # replayed drain: no new data, state unchanged

    extra = base.select(
        "event_id", "ts", (F.col("user_id") + 1_000_000).alias("user_id"),
        "event_type", "value", "props",
    )
    extra.coalesce(1).write.mode("append").parquet(src)
    e2 = drain()
    want = hll_distinct(
        spark.read.schema(st.EVENTS_SCHEMA).parquet(src), "user_id"
    ).collect()[0][0]
    assert e2 == want and e2 != e1


def test_streaming_hll_grouped_state_is_bounded(spark, events_dir, tmp_path):
    # Grouped mode: per-group estimates match batch, and the committed
    # state is at most 2^p rows per group regardless of stream length.
    from xlearning_spark.operators.sketch import hll_distinct

    st.streaming_hll_distinct(
        st.read_events_stream(spark, events_dir),
        "user_id",
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        p=4,
        group_cols=["event_type"],
    )
    got = {
        r.event_type: r.hll_estimate
        for r in st.hll_state_estimate(
            spark, str(tmp_path / "state"), p=4, group_cols=["event_type"]
        ).collect()
    }
    want = {
        r.event_type: r.hll_estimate
        for r in hll_distinct(
            _batch(spark, events_dir), "user_id", p=4, group_cols=["event_type"]
        ).collect()
    }
    assert got == want
    state = spark.read.parquet(st._latest_hll_state(spark, str(tmp_path / "state")))
    per_group = state.groupBy("event_type").count().collect()
    assert all(r["count"] <= 16 for r in per_group)


def test_streaming_cms_equals_batch_exactly(spark, events_dir, tmp_path):
    # L4 x T: after draining, the SUM-merged register state must be
    # EXACTLY the batch sketch of the full history (register addition
    # is associative), so every probe estimate matches — no tolerance.
    from xlearning_spark.operators.sketch import cms_estimate, cms_registers

    st.streaming_cms_counts(
        st.read_events_stream(spark, events_dir),
        "event_type",
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        depth=4,
        width=64,
    )
    batch = _batch(spark, events_dir)
    probes = batch.select("event_type").distinct()
    got = {
        r["event_type"]: r["cms_estimate"]
        for r in st.cms_state_estimate(
            spark, str(tmp_path / "state"), probes, "event_type", 4, 64
        ).collect()
    }
    want = {
        r["event_type"]: r["cms_estimate"]
        for r in cms_estimate(
            cms_registers(batch, "event_type", 4, 64), probes, "event_type", 4, 64
        ).collect()
    }
    assert got == want and got


def test_streaming_cms_multibatch_and_replay(spark, events_dir, tmp_path):
    # Multiple micro-batches must sum to the batch sketch; a replayed
    # drain (same checkpoint, no new data) must not change the state —
    # the additive-register double-count hazard the strictly-below
    # version discipline exists to prevent.
    src = str(tmp_path / "src")
    base = _batch(spark, events_dir)
    base.coalesce(4).write.mode("overwrite").parquet(src)

    def drain():
        stream = (
            spark.readStream.format("parquet")
            .schema(st.EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        st.streaming_cms_counts(
            stream, "event_type", str(tmp_path / "state"),
            str(tmp_path / "ckpt"), depth=4, width=64,
        )
        probes = base.select("event_type").distinct()
        return {
            r["event_type"]: r["cms_estimate"]
            for r in st.cms_state_estimate(
                spark, str(tmp_path / "state"), probes, "event_type", 4, 64
            ).collect()
        }

    from xlearning_spark.operators.sketch import cms_estimate, cms_registers

    got = drain()
    probes = base.select("event_type").distinct()
    want = {
        r["event_type"]: r["cms_estimate"]
        for r in cms_estimate(
            cms_registers(base, "event_type", 4, 64), probes, "event_type", 4, 64
        ).collect()
    }
    assert got == want
    assert drain() == got  # re-drain: checkpoint makes it a no-op


def test_streaming_cms_crash_replay_is_exactly_once(spark, events_dir, tmp_path):
    # Drive the foreachBatch commit directly and replay one batch: the
    # rebuilt version must equal the original (no double count), and
    # replaying the LATEST batch must also be safe (it merges from the
    # version below itself, not from its own output).
    batch = _batch(spark, events_dir)
    state = str(tmp_path / "state")
    update = st._cms_update("event_type", state, 4, 64, None)
    h1 = batch.filter(F.col("event_id") % 2 == 0)
    h2 = batch.filter(F.col("event_id") % 2 == 1)
    update(h1, 0)
    update(h2, 1)

    def regs(ver):
        return {
            (r["__row"], r["__idx"]): r["__cnt"]
            for r in spark.read.parquet(f"{state}/v{ver:010d}").collect()
        }

    v1 = regs(1)
    update(h2, 1)  # crash-replay of the latest batch
    assert regs(1) == v1
    update(h1, 0)  # crash-replay of an older batch rebuilds v0 only
    assert regs(1) == v1

    from xlearning_spark.operators.sketch import cms_registers

    whole = {
        (r["__row"], r["__idx"]): r["__cnt"]
        for r in cms_registers(batch, "event_type", 4, 64).collect()
    }
    assert v1 == whole


def test_excise_ingest_forward_only_substring_dedup(spark, tmp_path):
    # L2 x T for the substring tier: landed batches are excised against
    # the accumulated shingle registry (forward-only: first occurrence
    # keeps its text, later ones lose the span) and against themselves
    # (intra-batch dups behave like the batch operator: removed from
    # every member).
    import os

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "doc_id bigint, text string"

    def land(rows):
        if rows:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        return st.excise_ingest(
            spark.readStream.format("parquet").schema(schema).load(src),
            out, state, ckpt, k=3, min_docs=2,
        )

    # Batch 1: docs 1+2 share the 3-gram "a b c" -> excised from BOTH.
    p1 = land([(1, "a b c d e"), (2, "a b c x y")])
    assert p1
    got1 = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert got1[1]["clean_text"] == "d e"
    assert got1[1]["n_tokens"] == 5 and got1[1]["n_removed"] == 3
    assert got1[2]["clean_text"] == "x y"

    # Batch 2: registry hits come from batch-1 docs' RAW text — both
    # the span that landed (doc 1 kept nothing of "a b c"... it was
    # excised) and spans like "c d e" that DID land in doc 1's tail.
    p2 = land([
        (3, "p q c d e r"),                # "c d e" seen in doc 1 raw
        (4, "totally new words here"),     # untouched
        (5, "z a b c w"),                  # "a b c" seen (though excised at land time)
    ])
    assert p2
    got2 = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert got2[3]["clean_text"] == "p q r"
    assert got2[4]["clean_text"] == "totally new words here"
    assert got2[4]["n_removed"] == 0
    assert got2[5]["clean_text"] == "z w"
    # Forward-only: already-landed docs are immutable.
    assert got2[1]["clean_text"] == "d e"
    assert got2[2]["clean_text"] == "x y"

    # Replay with no new files: no-op, output unchanged.
    assert land([]) == []
    again = {r["doc_id"]: r["clean_text"] for r in spark.read.parquet(out).collect()}
    assert again == {d: r["clean_text"] for d, r in got2.items()}


def test_excise_ingest_min_docs_counts_across_batches(spark, tmp_path):
    # ADVICE r5: with min_docs=3 the cross-batch threshold must ALSO be
    # 3 distinct documents — the registry carries per-shingle
    # distinct-doc COUNTS, not mere presence, so a span seen in one
    # prior doc plus one current doc (2 < 3) survives, and only the
    # third distinct document trips excision.
    import os

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "doc_id bigint, text string"

    def land(rows):
        if rows:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        return st.excise_ingest(
            spark.readStream.format("parquet").schema(schema).load(src),
            out, state, ckpt, k=3, min_docs=3,
        )

    # Batch 1: one doc holds "a b c" — count 1, far below 3.
    land([(1, "a b c d")])
    # Batch 2: second distinct doc with "a b c" — cumulative 2 < 3, so
    # the presence-only registry would (wrongly) excise here.
    land([(2, "a b c e")])
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert got[2]["clean_text"] == "a b c e"
    assert got[2]["n_removed"] == 0
    # Batch 3: third distinct doc -> 2 prior + 1 batch = 3 >= 3, excised.
    land([(3, "a b c f")])
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert got[3]["clean_text"] == "f"
    assert got[3]["n_removed"] == 3
    # Forward-only: docs 1 and 2 stay as landed.
    assert got[1]["clean_text"] == "a b c d"
    assert got[2]["clean_text"] == "a b c e"
    # Batch 4: the span is saturated in the registry (>= min_docs prior
    # docs), so a FOURTH doc is excised on prior counts alone — and
    # intra-batch still thresholds at min_docs: three new docs sharing
    # a fresh span "x y z" all lose it at once.
    land([(4, "a b c g"), (5, "x y z h"), (6, "x y z i"), (7, "x y z j")])
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert got[4]["clean_text"] == "g"
    assert got[5]["clean_text"] == "h"
    assert got[6]["clean_text"] == "i"
    assert got[7]["clean_text"] == "j"


def test_crash_replay_under_real_task_failure():
    # r5 verdict item 4: a REAL mid-batch task failure (flaky-once UDF
    # + local[4,2] task retry) against all three streaming commit
    # disciplines — excise_ingest, streaming_cms_counts,
    # incremental_partition_save — asserting output/registers land
    # EXACTLY once (equal to a no-failure control run). Runs in a
    # subprocess: task retry needs its own master (local[N,2]); the
    # shared session never retries.
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "crash_replay_scenario.py")],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    assert "CRASH_REPLAY_OK" in proc.stdout


def test_compact_excise_registry_preserves_semantics(spark, tmp_path):
    # Registry compaction folds committed delta partitions into one
    # batch=-1 base; later batches must see EXACTLY the same cumulative
    # shingle counts — asserted against a parallel uncompacted run of
    # the identical batch sequence.
    def mk(name):
        d = {k: str(tmp_path / f"{name}_{k}") for k in ("src", "out", "state", "ckpt")}
        os.makedirs(d["src"])
        return d

    schema = "doc_id bigint, text string"

    def land(d, rows):
        if rows:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(d["src"])
        return st.excise_ingest(
            spark.readStream.format("parquet").schema(schema).load(d["src"]),
            d["out"], d["state"], d["ckpt"], k=3, min_docs=3,
        )

    a, b = mk("cmp"), mk("ctl")
    batches = [
        [(1, "a b c d e")],
        [(2, "a b c x y")],
        [(3, "q q q q q")],
    ]
    for d in (a, b):
        for rows in batches:
            land(d, rows)

    # Compact the committed prefix (default upto = max-1 = 1).
    upto = st.compact_excise_registry(spark, a["state"])
    assert upto == 1
    parts = sorted(p.name for p in (tmp_path / "cmp_state").iterdir() if p.is_dir())
    assert parts == ["batch=-1", "batch=2"]

    # Batch 4: doc 4 is the THIRD distinct doc carrying "a b c" — its
    # excision depends on the compacted counts (1+1 prior) being exact.
    last = [(4, "n a b c m"), (5, "fresh stuff entirely")]
    for d in (a, b):
        land(d, last)
    got_a = {
        (r.doc_id, r.n_tokens, r.n_removed, r.clean_text)
        for r in spark.read.parquet(a["out"]).collect()
    }
    got_b = {
        (r.doc_id, r.n_tokens, r.n_removed, r.clean_text)
        for r in spark.read.parquet(b["out"]).collect()
    }
    assert got_a == got_b
    assert (4, 5, 3, "n m") in got_a  # third distinct doc -> span excised

    # Fully-drained compaction folds everything into the base.
    st.compact_excise_registry(spark, a["state"], upto_batch=10**6)
    parts = sorted(p.name for p in (tmp_path / "cmp_state").iterdir() if p.is_dir())
    assert parts == ["batch=-1"]
    # Another doc with the span: still excised on compacted state alone.
    for d in (a, b):
        land(d, [(6, "z a b c w")])
    ra = {r.doc_id: r.clean_text for r in spark.read.parquet(a["out"]).collect()}
    rb = {r.doc_id: r.clean_text for r in spark.read.parquet(b["out"]).collect()}
    assert ra == rb and ra[6] == "z w"


def test_excise_ingest_completes_committed_swap_before_reading(spark, tmp_path):
    # Registry twin of test_ingest_completes_committed_swap_before_reading:
    # a compact_excise_registry that committed its staging but crashed
    # mid-swap (folded partitions deleted, staging not yet renamed to
    # batch=-1) leaves a registry missing counts. The next excise_ingest
    # must complete the swap at lease acquisition, before its first
    # registry read, and excise exactly as an uncrashed run does.
    import shutil

    def mk(name):
        d = {k: str(tmp_path / f"{name}_{k}") for k in ("src", "out", "state", "ckpt")}
        os.makedirs(d["src"])
        return d

    schema = "doc_id bigint, text string"

    def land(d, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d["src"])
        return st.excise_ingest(
            spark.readStream.format("parquet").schema(schema).load(d["src"]),
            d["out"], d["state"], d["ckpt"], k=3, min_docs=3,
        )

    a, b = mk("crash"), mk("ctl")
    for d in (a, b):
        for rows in ([(1, "a b c d e")], [(2, "a b c x y")], [(3, "q q q q q")]):
            land(d, rows)

    # Crash a compaction mid-swap by hand: committed staging holding
    # the folded sums of batches 0-1, both folded partitions deleted,
    # nothing renamed in yet. A plain read now sees only batch=2.
    state = tmp_path / "crash_state"
    staging = state / ".compact_staging"
    spark.read.parquet(str(state / "batch=0"), str(state / "batch=1")).groupBy(
        "__h"
    ).agg(F.sum("__nd").alias("__nd")).write.parquet(str(staging))
    (staging / "_UPTO").write_text("1")
    (staging / "_COMMITTED_COMPACTION").touch()
    shutil.rmtree(str(state / "batch=0"))
    shutil.rmtree(str(state / "batch=1"))

    # Doc 4 is the THIRD distinct doc carrying "a b c": it is excised
    # only if the registry read sees batches 0-1 through batch=-1.
    last = [(4, "n a b c m"), (5, "fresh stuff entirely")]
    for d in (a, b):
        land(d, last)
    assert not staging.exists()
    parts = sorted(p.name for p in state.iterdir() if p.is_dir())
    assert parts == ["batch=-1", "batch=2", "batch=3"]
    got = [
        {
            (r.doc_id, r.n_tokens, r.n_removed, r.clean_text)
            for r in spark.read.parquet(d["out"]).collect()
        }
        for d in (a, b)
    ]
    assert got[0] == got[1]
    assert (4, 5, 3, "n m") in got[0]


def test_compaction_crash_recovery_is_idempotent(spark, tmp_path):
    # Crash AFTER the commit marker, DURING the swap: recovery must
    # complete it exactly once; crash BEFORE the marker: staging is
    # discarded and the old partitions stay authoritative.
    import shutil

    state = tmp_path / "state"
    for bid, rows in ((0, [(11, 2)]), (1, [(11, 1), (22, 1)])):
        spark.createDataFrame(rows, "__h bigint, __nd bigint").write.parquet(
            str(state / f"batch={bid}")
        )

    # --- committed staging, olds still present (mid-swap crash)
    staging = state / ".compact_staging"
    spark.createDataFrame(
        [(11, 3), (22, 1)], "__h bigint, __nd bigint"
    ).write.parquet(str(staging))
    (staging / "_UPTO").write_text("1")
    (staging / "_COMMITTED_COMPACTION").touch()
    assert st._finish_compaction(spark, str(state))
    parts = sorted(p.name for p in state.iterdir() if p.is_dir())
    assert parts == ["batch=-1"]
    got = {
        (r["__h"], r["__nd"])
        for r in spark.read.parquet(str(state / "batch=-1")).collect()
    }
    assert got == {(11, 3), (22, 1)}
    # second recovery call: no staging -> no-op
    assert not st._finish_compaction(spark, str(state))

    # --- UNcommitted staging (crash before the marker): discarded.
    spark.createDataFrame([(99, 9)], "__h bigint, __nd bigint").write.parquet(
        str(staging)
    )
    (staging / "_UPTO").write_text("1")
    assert not st._finish_compaction(spark, str(state))
    assert not staging.exists()
    got = {
        (r["__h"], r["__nd"])
        for r in spark.read.parquet(str(state / "batch=-1")).collect()
    }
    assert got == {(11, 3), (22, 1)}  # untouched
    shutil.rmtree(str(state))


def test_prune_sketch_versions(spark, tmp_path):
    # CMS versions are point-in-time snapshots; pruning to the newest 2
    # keeps estimates identical and preserves the replay predecessor.
    src = tmp_path / "src"
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    for i in range(3):
        spark.createDataFrame(
            [(f"t{j % 3}",) for j in range(10)], "term string"
        ).coalesce(1).write.parquet(str(src / f"f{i}"))
    st.streaming_cms_counts(
        spark.readStream.format("parquet")
        .schema("term string")
        .option("maxFilesPerTrigger", "1")
        .load(str(src) + "/*"),
        "term", state, ckpt, depth=4, width=64,
    )
    versions = sorted(p.name for p in (tmp_path / "state").iterdir())
    assert len(versions) == 3
    probes = spark.createDataFrame([("t0",), ("t1",)], "term string")
    before = {
        (r.term, r.cms_estimate)
        for r in st.cms_state_estimate(spark, state, probes, "term", 4, 64).collect()
    }
    doomed = st.prune_sketch_versions(spark, state, keep=2)
    assert len(doomed) == 1 and versions[0] in doomed[0]
    after = {
        (r.term, r.cms_estimate)
        for r in st.cms_state_estimate(spark, state, probes, "term", 4, 64).collect()
    }
    assert before == after
    assert st.prune_sketch_versions(spark, state, keep=1)
    assert len(list((tmp_path / "state").iterdir())) == 1
    with pytest.raises(ValueError):
        st.prune_sketch_versions(spark, state, keep=0)


def test_neardup_ingest_demoted_order_same_corpus(spark, tmp_path):
    # The organic-skew knob must be invisible in ingest results: the
    # demoted prefix order is lossless, so the accumulated corpus after
    # identical batch sequences is identical — here with a hot
    # boilerplate prefix shared by most docs (the case the knob is for).
    src_a, src_b = str(tmp_path / "a_src"), str(tmp_path / "b_src")
    schema = "doc_id bigint, text string"
    boiler = "standard legal disclaimer applies to this document"
    batches = [
        [(1, boiler + " alpha beta gamma delta epsilon"),
         (2, boiler + " alpha beta gamma delta zeta"),
         (3, boiler + " one two three four five")],
        [(5, boiler + " alpha beta gamma delta omega"),
         (6, "fresh unrelated words entirely here"),
         (7, boiler + " six seven eight nine ten")],
    ]
    results = {}
    for tag, src, kw in (
        ("plain", src_a, {}),
        ("demoted", src_b, {"demote_hot_df": 0.3}),
    ):
        os.makedirs(src)
        corpus = str(tmp_path / f"{tag}_corpus")
        ckpt = str(tmp_path / f"{tag}_ckpt")
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            st.neardup_ingest(
                spark.readStream.format("parquet").schema(schema).load(src),
                corpus, ckpt, threshold=0.5, shingle_size=2, **kw,
            )
        results[tag] = {
            (r.doc_id, r.text) for r in spark.read.parquet(corpus).collect()
        }
    assert results["plain"] == results["demoted"]
    assert {d for d, _ in results["plain"]} == {1, 3, 6, 7}


def test_prune_refuses_mixed_runs(spark, tmp_path):
    # ADVICE r6: after a checkpoint-RESET restart the new run's version
    # numbers start over BELOW the dead run's, so number-order pruning
    # would delete the live run's fresh chain. The guard detects the
    # mixed state (a lower-numbered version newer on disk than the
    # highest-numbered one) and refuses.
    import shutil
    import time

    state = tmp_path / "state"
    for i in range(4):
        spark.createDataFrame([(1,)], "x int").write.parquet(
            str(state / f"v{i:010d}")
        )
    # Simulate the reset restart: the new run rewrote v0/v1, so they
    # are NEWER than the dead run's v2/v3.
    now = time.time()
    for name in ("v0000000000", "v0000000001"):
        os.utime(str(state / name), (now + 120, now + 120))
    with pytest.raises(RuntimeError, match="dead run"):
        st.prune_sketch_versions(spark, str(state), keep=2)
    # All four version dirs intact — the guard deleted nothing.
    assert len([p for p in state.iterdir() if p.name.startswith("v")]) == 4
    # Recovery per the docstring: drop the dead run's dirs, then prune.
    for name in ("v0000000002", "v0000000003"):
        shutil.rmtree(str(state / name))
    assert st.prune_sketch_versions(spark, str(state), keep=2) == []
    assert st.prune_sketch_versions(spark, str(state), keep=1)
    assert [p.name for p in state.iterdir()] == ["v0000000001"]


def test_compact_refuses_live_ingest(spark, tmp_path):
    # Compaction's swap is non-atomic w.r.t. a concurrent ingest read
    # (ADVICE r6): a live stream on the same registry must make
    # compact_excise_registry refuse up front.
    state = str(tmp_path / "state")
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "1")
        .load()
        .writeStream.format("noop")
        .queryName(st._excise_query_name(state))
        .start()
    )
    try:
        with pytest.raises(RuntimeError, match="offline-only"):
            st.compact_excise_registry(spark, state)
    finally:
        q.stop()
    # Stream stopped -> compaction proceeds (nothing to fold -> None).
    assert st.compact_excise_registry(spark, state) is None


def test_finish_compaction_raises_on_failed_rename(spark, tmp_path, monkeypatch):
    # Hadoop rename signals failure via a false RETURN, not an
    # exception (ADVICE r6): a failed swap must be loud, because the
    # folded partitions are already deleted and only the committed
    # staging dir can complete the registry.
    state = tmp_path / "state"
    for bid, rows in ((0, [(11, 2)]), (1, [(22, 1)])):
        spark.createDataFrame(rows, "__h bigint, __nd bigint").write.parquet(
            str(state / f"batch={bid}")
        )
    staging = state / ".compact_staging"
    spark.createDataFrame(
        [(11, 2), (22, 1)], "__h bigint, __nd bigint"
    ).write.parquet(str(staging))
    (staging / "_UPTO").write_text("1")
    (staging / "_COMMITTED_COMPACTION").touch()

    class FailingRenameFS:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, *a):
            return False

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real = st._fs_for

    def wrapped(sp, path):
        fs, jvm = real(sp, path)
        return FailingRenameFS(fs), jvm

    monkeypatch.setattr(st, "_fs_for", wrapped)
    with pytest.raises(IOError, match="returned false"):
        st._finish_compaction(spark, str(state))
    monkeypatch.undo()
    # The committed staging dir survived the failed swap; a retry with
    # a healthy filesystem completes it exactly once.
    assert st._finish_compaction(spark, str(state))
    got = {
        (r["__h"], r["__nd"])
        for r in spark.read.parquet(str(state / "batch=-1")).collect()
    }
    assert got == {(11, 2), (22, 1)}


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    # T-tier depth: the stream-STREAM interval join (conversion
    # attribution) must produce exactly the batch join's rows when both
    # sides drain fully — and its plan must carry the time-interval
    # condition that bounds join state.
    from xlearning_spark.sources import read_table

    ev = read_table(spark, SF_SMOKE, "events")
    clicks_b = ev.filter(F.col("event_type") == "click")
    buys_b = ev.filter(F.col("event_type") == "purchase")
    # land each side as its own stream source
    cdir, bdir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    clicks_b.write.parquet(cdir)
    buys_b.write.parquet(bdir)
    clicks_s = st.read_events_stream(spark, cdir)
    buys_s = st.read_events_stream(spark, bdir)

    joined = st.attributed_conversions(clicks_s, buys_s, horizon="1 hour")
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT user_id, click_id, purchase_id FROM attrib_test"
        ).collect()
    }
    want = {
        tuple(r)
        for r in st.attributed_conversions(clicks_b, buys_b, horizon="1 hour")
        .select("user_id", "click_id", "purchase_id")
        .collect()
    }
    assert got == want and len(want) > 0


def test_interval_join_restart_from_checkpoint_exactly_once(spark, tmp_path):
    # VERDICT r8 item 6: kill a running attributed_conversions drain
    # mid-stream, restart from the same checkpointLocation, and the
    # appended output must equal the batch oracle EXACTLY ONCE — the
    # join state, source offsets, and the file sink's _spark_metadata
    # commit log must together survive the interruption with no lost
    # and no duplicated attribution rows. (The ingest tier has
    # crash_replay_scenario.py; this is the join tier's restart proof.)
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    mins = lambda m: t0 + dt.timedelta(minutes=m)
    schema = "event_id bigint, user_id bigint, ts timestamp, value double"
    clicks = [(100 + i, i % 7, mins(i), 0.0) for i in range(60)]
    buys = [(300 + i, i % 7, mins(i + 5), 1.0) for i in range(0, 60, 5)]
    cdir, bdir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    # Many single-row-group files so the drain spans many micro-batches
    # (maxFilesPerTrigger=1) and the mid-stream stop lands mid-drain.
    for d, rows in ((cdir, clicks), (bdir, buys)):
        for off in range(0, len(rows), 10):
            spark.createDataFrame(rows[off : off + 10], schema).coalesce(
                1
            ).write.mode("append").parquet(d)
    reader = lambda d: (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def start():
        return (
            st.attributed_conversions(
                reader(cdir), reader(bdir), horizon="10 minutes",
                watermark="5 minutes",
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    # Phase 1: stop as soon as the first micro-batch has committed —
    # a graceful kill mid-drain (offsets + join state checkpointed,
    # remaining files unread).
    q1 = start()
    deadline = time.time() + 120
    while not q1.recentProgress and time.time() < deadline:
        time.sleep(0.05)
    assert q1.recentProgress, "no micro-batch committed before deadline"
    q1.stop()
    q1.awaitTermination()

    # Phase 2: restart from the same checkpoint; availableNow drains
    # the rest (and replays any in-flight batch — the sink's commit
    # log makes the replay invisible in the output).
    q2 = start()
    q2.awaitTermination()

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out_dir)
        .select("user_id", "click_id", "purchase_id")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in st.attributed_conversions(
            spark.createDataFrame(clicks, schema),
            spark.createDataFrame(buys, schema),
            horizon="10 minutes",
            watermark="5 minutes",
        )
        .select("user_id", "click_id", "purchase_id")
        .collect()
    )
    assert len(want) > 0
    assert got == want  # multiset equality: nothing lost, nothing doubled


def test_prune_refuses_mixed_run_markers_same_mtime(spark, tmp_path):
    # ADVICE r7: the mtime guard is evadable on coarse-granularity
    # filesystems (a reset-restart rewriting versions within the same
    # tick). The _SKETCH_RUN marker is the primary guard now: two
    # distinct run ids in the state dir refuse pruning even when every
    # mtime is IDENTICAL.
    import time

    state = tmp_path / "state"
    for i, run in enumerate(("runA", "runA", "runB", "runB")):
        vdir = state / f"v{i:010d}"
        spark.createDataFrame([(1,)], "x int").write.parquet(str(vdir))
        (vdir / "_SKETCH_RUN").write_text(run)
    now = time.time()
    for p in state.iterdir():
        os.utime(str(p), (now, now))  # same tick everywhere
    with pytest.raises(RuntimeError, match="distinct run ids"):
        st.prune_sketch_versions(spark, str(state), keep=2)
    assert len(list(state.iterdir())) == 4
    # Single-run markers override a spurious mtime inversion (e.g. a
    # touched directory): pruning proceeds on version order.
    for i in range(4):
        (state / f"v{i:010d}" / "_SKETCH_RUN").write_text("runB")
    os.utime(str(state / "v0000000000"), (now + 120, now + 120))
    doomed = st.prune_sketch_versions(spark, str(state), keep=2)
    assert len(doomed) == 2
    assert sorted(p.name for p in state.iterdir()) == [
        "v0000000002", "v0000000003",
    ]


def test_streaming_sketch_versions_carry_run_marker(spark, tmp_path):
    # The CMS/HLL streaming writers stamp each committed version with
    # the checkpoint's persisted query id; a SECOND run on the SAME
    # checkpoint reuses the id (restart != reset), so pruning stays
    # allowed across legitimate restarts.
    src = tmp_path / "src"
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    spark.createDataFrame([("t0",)], "term string").coalesce(1).write.parquet(
        str(src / "f0")
    )
    reader = (
        spark.readStream.format("parquet")
        .schema("term string")
        .option("maxFilesPerTrigger", "1")
    )
    st.streaming_cms_counts(
        reader.load(str(src) + "/*"), "term", state, ckpt, depth=4, width=64
    )
    spark.createDataFrame([("t1",)], "term string").coalesce(1).write.parquet(
        str(src / "f1")
    )
    st.streaming_cms_counts(
        reader.load(str(src) + "/*"), "term", state, ckpt, depth=4, width=64
    )
    markers = {
        (tmp_path / "state" / v.name / "_SKETCH_RUN").read_text()
        for v in (tmp_path / "state").iterdir()
    }
    assert len(markers) == 1  # same checkpoint -> same lineage id
    # and pruning is allowed (single run id)
    assert st.prune_sketch_versions(spark, state, keep=1)


def test_compact_refuses_foreign_lease(spark, tmp_path):
    # ADVICE r7: an ingest in ANOTHER process can't be seen via
    # spark.streams.active — the lease file makes compaction at least
    # detect it; ignore_lease is the documented stale-lease escape.
    state = str(tmp_path / "state")
    os.makedirs(state)
    (tmp_path / "state" / "_INGEST_LEASE").write_text(
        '{"query": "x", "host": "other", "pid": 1}'
    )
    with pytest.raises(RuntimeError, match="ingest lease"):
        st.compact_excise_registry(spark, state)
    assert st.compact_excise_registry(spark, state, ignore_lease=True) is None
    # ADVICE r8: one confirmed override CLEARS the stale lease, so
    # subsequent compactions run normally without ignore_lease.
    assert not (tmp_path / "state" / "_INGEST_LEASE").exists()
    assert st.compact_excise_registry(spark, state) is None


def test_excise_ingest_releases_lease(spark, tmp_path):
    # The lease must not outlive the drain: excise_ingest holds it for
    # the run and deletes it on exit, so offline compaction right after
    # a drained ingest proceeds without manual steps.
    src = tmp_path / "src"
    os.makedirs(src)
    schema = "doc_id bigint, text string"
    spark.createDataFrame([(1, "a b c d e")], schema).coalesce(1).write.parquet(
        str(src / "f0")
    )
    st.excise_ingest(
        spark.readStream.format("parquet").schema(schema).load(str(src)),
        str(tmp_path / "out"), str(tmp_path / "state"),
        str(tmp_path / "ckpt"), k=3, min_docs=2,
    )
    assert not (tmp_path / "state" / "_INGEST_LEASE").exists()
    # drained -> nothing live -> compaction runs (one partition: None)
    assert st.compact_excise_registry(spark, str(tmp_path / "state")) is None


def test_stream_stream_outer_interval_join_matches_batch(spark, tmp_path):
    # r7 VERDICT item 4: LEFT OUTER interval join — un-converted
    # clicks must emit exactly one null row once BOTH watermarks pass,
    # and the full output (matches + null rows) must equal the batch
    # left-outer join. Sentinel events on both sides push the
    # watermarks far past every real row so the drain flushes the
    # trailing null rows (in production they emit as the stream
    # advances); sentinels are excluded from the comparison.
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    mins = lambda m: t0 + dt.timedelta(minutes=m)
    schema = "event_id bigint, user_id bigint, ts timestamp, value double"
    clicks = [
        (101, 1, mins(0), 0.0),    # converts (purchase at +30min)
        (102, 2, mins(5), 0.0),    # never converts -> null row
        (103, 3, mins(10), 0.0),   # purchase outside horizon -> null row
    ]
    buys = [
        (201, 1, mins(30), 9.5),   # inside [t, t+1h]
        (202, 3, mins(130), 4.0),  # outside horizon for click 103
    ]
    sentinel_c = [(901, 999, mins(600), 0.0)]
    sentinel_b = [(902, 999, mins(600), 1.0)]

    cdir, bdir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    # The file source processes files oldest-mtime-first: the sentinel
    # files MUST sort after the real rows, or the watermark jumps past
    # every real event before it arrives and drops it as late (the
    # exact hazard watermarks exist for — here it would just make the
    # test order-dependent). Write real rows first, then sentinels,
    # and pin the mtime order explicitly (parquet writes can land
    # within one mtime tick).
    now = time.time()
    for d, real, sent in (
        (cdir, clicks, sentinel_c),
        (bdir, buys, sentinel_b),
    ):
        spark.createDataFrame(real, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        before = set(os.listdir(d))
        spark.createDataFrame(sent, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        for fn in os.listdir(d):
            ts = now if fn in before else now + 60
            os.utime(os.path.join(d, fn), (ts, ts))
    reader = lambda d: (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", "1").load(d)
    )
    joined = st.attributed_conversions(
        reader(cdir), reader(bdir), horizon="1 hour",
        watermark="10 minutes", how="left_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib_outer_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT * FROM attrib_outer_test WHERE user_id != 999"
        ).collect()
    }
    want = {
        tuple(r)
        for r in st.attributed_conversions(
            spark.createDataFrame(clicks, schema),
            spark.createDataFrame(buys, schema),
            horizon="1 hour", how="left_outer",
        ).collect()
    }
    assert got == want
    null_rows = {r for r in want if r[2] is None}
    assert {r[1] for r in null_rows} == {102, 103}  # the two coverage rows
    assert len(want) == 3


def test_stream_stream_full_outer_interval_join_matches_batch(spark, tmp_path):
    # r9 VERDICT item 5: FULL OUTER interval join — un-converted
    # clicks AND organic purchases (no same-user click within the
    # preceding hour) each emit exactly one null-sided row once the
    # other side's watermark passes; the drained output must equal the
    # batch full-outer twin. Sentinels flush the trailing null rows as
    # in the left-outer test.
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    mins = lambda m: t0 + dt.timedelta(minutes=m)
    schema = "event_id bigint, user_id bigint, ts timestamp, value double"
    clicks = [
        (101, 1, mins(0), 0.0),    # converts (purchase at +30min)
        (102, 2, mins(5), 0.0),    # never converts -> click-null row
        (103, 3, mins(10), 0.0),   # purchase outside horizon -> both null rows
    ]
    buys = [
        (201, 1, mins(30), 9.5),   # inside [t, t+1h]
        (202, 3, mins(130), 4.0),  # outside click 103's horizon -> purchase-null row
        (203, 4, mins(20), 2.5),   # organic: user 4 never clicked -> purchase-null row
    ]
    sentinel_c = [(901, 999, mins(600), 0.0)]
    sentinel_b = [(902, 999, mins(600), 1.0)]
    cdir, bdir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    now = time.time()
    for d, real, sent in (
        (cdir, clicks, sentinel_c),
        (bdir, buys, sentinel_b),
    ):
        spark.createDataFrame(real, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        before = set(os.listdir(d))
        spark.createDataFrame(sent, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        for fn in os.listdir(d):
            ts = now if fn in before else now + 60
            os.utime(os.path.join(d, fn), (ts, ts))
    reader = lambda d: (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", "1").load(d)
    )
    joined = st.attributed_conversions(
        reader(cdir), reader(bdir), horizon="1 hour",
        watermark="10 minutes", how="full_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib_full_outer_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT * FROM attrib_full_outer_test WHERE user_id != 999"
        ).collect()
    }
    want = {
        tuple(r)
        for r in st.attributed_conversions(
            spark.createDataFrame(clicks, schema),
            spark.createDataFrame(buys, schema),
            horizon="1 hour", how="full_outer",
        ).collect()
    }
    assert got == want
    # coverage rows on BOTH sides: clicks 102/103 unmatched,
    # purchases 202 (late) and 203 (organic, never-clicked user)
    # unmatched — user_id is never null thanks to the coalesce.
    click_nulls = {r for r in want if r[2] is None}
    purchase_nulls = {r for r in want if r[1] is None}
    assert {r[0] for r in click_nulls} == {2, 3}
    assert {r[0] for r in purchase_nulls} == {3, 4}
    assert all(r[0] is not None for r in want)
    assert len(want) == 5  # 1 match + 2 click-nulls + 2 purchase-nulls


def test_stream_static_enrichment_matches_batch(spark, events_dir, tmp_path):
    # Stream-STATIC join (r8): stateless per-batch join against the
    # dimension chain — drained stream must equal the batch twin
    # exactly (complete mode emits open windows too).
    customer = read_table(spark, SF_SMOKE, "customer")
    nation = read_table(spark, SF_SMOKE, "nation")
    stream = st.enriched_tumbling_by_nation(
        st.read_events_stream(spark, events_dir), customer, nation
    )
    got = st.run_available_now(
        stream, str(tmp_path / "ckpt"), out_mode="complete"
    ).collect()
    want = st.enriched_tumbling_by_nation(
        _batch(spark, events_dir), customer, nation
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_interval_join_state_is_bounded_by_watermark(spark, tmp_path):
    # The interval join's "state bounded by arrival rate x (watermark
    # + horizon)" claim, MEASURED instead of asserted by construction:
    # 60 clicks spanning an hour with a 10-minute horizon and 5-minute
    # watermark must leave only the un-expirable tail (the sentinels)
    # in the state store after the drain — not the whole stream.
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    mins = lambda m: t0 + dt.timedelta(minutes=m)
    schema = "event_id bigint, user_id bigint, ts timestamp, value double"
    clicks = [(100 + i, i % 7, mins(i), 0.0) for i in range(60)]
    buys = [(300 + i, i % 7, mins(i + 5), 1.0) for i in range(0, 60, 10)]
    cdir, bdir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    now = time.time()
    for d, real, sent_id in ((cdir, clicks, 901), (bdir, buys, 902)):
        spark.createDataFrame(real, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        before = set(os.listdir(d))
        spark.createDataFrame(
            [(sent_id, 999, mins(600), 0.0)], schema
        ).coalesce(1).write.mode("append").parquet(d)
        for fn in os.listdir(d):
            ts = now if fn in before else now + 60
            os.utime(os.path.join(d, fn), (ts, ts))
    reader = lambda d: (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", "1").load(d)
    )
    joined = st.attributed_conversions(
        reader(cdir), reader(bdir),
        horizon="10 minutes", watermark="5 minutes",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib_state_bound_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p.get("stateOperators")]
    assert progress, "no state operator progress recorded"
    final_rows = progress[-1]["stateOperators"][0]["numRowsTotal"]
    n_input = len(clicks) + len(buys) + 2
    # Everything older than (watermark + horizon) of the sentinel time
    # must have been EVICTED: only the two sentinels may remain (plus
    # slack for implementation detail), nowhere near the input size.
    assert final_rows <= 6, (final_rows, n_input)
    # and the join still produced the matched rows
    got = spark.sql(
        "SELECT count(*) c FROM attrib_state_bound_test WHERE user_id != 999"
    ).collect()[0].c
    assert got > 0


# ------------------------------------------------- L6 x T scored ingest

def test_scored_ingest_stream_equals_batch(spark, tmp_path):
    # L6 x T (VERDICT r10 item 5): the streaming learned-filter scoring
    # must equal batch score_text_lr on the drained corpus — including
    # the zero-token doc, which streaming scores sigmoid(bias) instead
    # of dropping (total accounting: one verdict row per landed doc).
    import math
    import os

    from xlearning_spark.operators.text import (
        hashed_bow,
        lcg_weights,
        score_text_lr,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "doc_id bigint, text string"
    w = lcg_weights(64, seed=7)
    bias = 0.25

    rows1 = [(1, "alpha beta gamma"), (2, "beta beta delta"), (3, "   ")]
    rows2 = [(4, "epsilon zeta"), (5, "alpha alpha alpha eta")]
    for i, rows in enumerate((rows1, rows2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        written = st.scored_ingest(
            spark.readStream.format("parquet").schema(schema).load(src),
            out, ckpt, w, bias=bias, keep_threshold=None,
        )
        assert written  # each landing appended

    got = {
        r.doc_id: (r.margin, r.score)
        for r in spark.read.parquet(out).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}

    # Batch twin on the full corpus (tokenized docs).
    all_docs = spark.createDataFrame(rows1 + rows2, schema)
    exp = {
        r.doc_id: (r.margin, r.score)
        for r in score_text_lr(
            hashed_bow(all_docs, dim=64), w, bias
        ).collect()
    }
    for doc_id, (m, s) in exp.items():
        assert got[doc_id][0] == pytest.approx(m, abs=1e-12)
        assert got[doc_id][1] == pytest.approx(s, abs=1e-12)
    # Zero-token doc 3: dropped by batch score_text_lr, scored
    # sigmoid(bias) by the streaming form (documented contract).
    assert 3 not in exp
    assert got[3][0] == pytest.approx(bias)
    assert got[3][1] == pytest.approx(1.0 / (1.0 + math.exp(-bias)))

    # Replay with no new files: exactly-once no-op.
    again = st.scored_ingest(
        spark.readStream.format("parquet").schema(schema).load(src),
        out, ckpt, w, bias=bias,
    )
    assert not again
    assert spark.read.parquet(out).count() == 5


def test_idempotent_batch_append_replay_converges(spark, tmp_path):
    # ADVICE r11: foreachBatch delivery is at-least-once — a crash
    # after the append but before the checkpoint commit re-delivers
    # the batch. The landing discipline must therefore CONVERGE on
    # replay (same batch id re-landed -> same rows, no duplicates),
    # clean up a previous attempt's partial files, and stay invisible
    # to flat-directory readers while staging.
    out = str(tmp_path / "out")
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    b1 = spark.createDataFrame([(3, "c")], "id bigint, v string")

    assert st.idempotent_batch_append(b0, out, 0) >= 1
    assert st.idempotent_batch_append(b1, out, 1) >= 1
    assert {(r.id, r.v) for r in spark.read.parquet(out).collect()} == {
        (1, "a"), (2, "b"), (3, "c"),
    }

    # Replay batch 1 (possibly with a different partition count, as a
    # re-planned micro-batch may have): still exactly one copy.
    st.idempotent_batch_append(b1.repartition(4), out, 1)
    assert {(r.id, r.v) for r in spark.read.parquet(out).collect()} == {
        (1, "a"), (2, "b"), (3, "c"),
    }

    # A previous attempt's PARTIAL landing (a stray deterministic-name
    # file from a crash mid-rename) is removed by the replay.
    import os

    stray = os.path.join(out, f"batch-{1:010d}-99999.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"junk")
    st.idempotent_batch_append(b1, out, 1)
    assert not os.path.exists(stray)
    assert spark.read.parquet(out).count() == 3

    # A leftover staging dir (crash before rename) is underscore-
    # prefixed: readers ignore it.
    b1.write.mode("overwrite").parquet(os.path.join(out, "_staging-batch-7"))
    assert spark.read.parquet(out).count() == 3


def test_scored_ingest_keep_threshold_filters_in_flight(spark, tmp_path):
    # keep_threshold drops rejected docs before the append; the landed
    # set equals the batch filter's keep set.
    import os

    from xlearning_spark.operators.text import (
        hashed_bow,
        lcg_weights,
        score_text_lr,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "doc_id bigint, text string"
    w = lcg_weights(64, seed=3)

    rows = [(i, f"tok{i} tok{i % 3} alpha beta") for i in range(20)]
    spark.createDataFrame(rows, schema).coalesce(2).write.mode(
        "append"
    ).parquet(src)

    all_docs = spark.createDataFrame(rows, schema)
    scored = score_text_lr(hashed_bow(all_docs, dim=64), w, 0.0)
    med = scored.select(
        F.percentile_approx("score", 0.5).alias("m")
    ).collect()[0].m

    st.scored_ingest(
        spark.readStream.format("parquet").schema(schema).load(src),
        out, ckpt, w, bias=0.0, keep_threshold=float(med),
    )
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    exp = {r.doc_id for r in scored.filter(F.col("score") >= med).collect()}
    assert kept == exp and 0 < len(kept) < 20


# --------------------------------------------------- L3 x T ANN ingest

def test_ann_ingest_extends_index_and_matches_batch(spark, tmp_path):
    # L3 x T: streamed vectors are assigned to the FROZEN centroids
    # (train-then-add — no refit) and append to the inverted file; the
    # drained index must equal the batch assignment of the same
    # vectors against the same centroids, and probes over it must
    # equal probes over that batch twin.
    import os

    from xlearning_spark.operators.similarity import (
        IvfIndex,
        assign_cells,
        build_ivf_index,
        ivf_probe,
        load_ivf_index,
        save_ivf_index,
    )

    emb = read_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    part_a = emb.filter(F.col("vec_id") % 2 == 0)
    part_b = emb.filter(F.col("vec_id") % 2 == 1)

    idx_dir = str(tmp_path / "ivf")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "src")
    os.makedirs(src)

    index = build_ivf_index(part_a, n_cells=8, seed=11)
    # The build assigns its cells with the same assign_cells the add
    # path runs, so this pins that the two stay one geometry (ties to
    # the first minimum) should either ever change.
    rebuilt = {
        (r.cid, r.cell)
        for r in assign_cells(part_a, index.centroids).collect()
    }
    built = {(r.cid, r.cell) for r in index.cells.collect()}
    assert rebuilt == built
    save_ivf_index(index, idx_dir)
    index.unpersist()

    # Land part B as two micro-batch files and drain.
    chunks = [
        part_b.filter(F.col("vec_id") % 4 == 1),
        part_b.filter(F.col("vec_id") % 4 == 3),
    ]
    schema = "vec_id bigint, embedding array<float>"
    for chunk in chunks:
        chunk.coalesce(1).write.mode("append").parquet(src)
        written = st.ann_ingest(
            spark.readStream.format("parquet").schema(schema).load(src),
            idx_dir, ckpt,
        )
        assert written

    streamed = load_ivf_index(spark, idx_dir, cache=False)
    got = {(r.cid, r.cell) for r in streamed.cells.collect()}
    twin_b = {
        (r.cid, r.cell)
        for r in assign_cells(part_b, streamed.centroids).collect()
    }
    assert got == built | twin_b
    assert len(got) == emb.count()

    # Probe equivalence: streamed index == batch-assembled twin (the
    # whole corpus assigned in one batch against the same centroids).
    queries = emb.filter(F.col("vec_id") < 10)
    twin = IvfIndex(
        assign_cells(emb, streamed.centroids), streamed.centroids
    )
    p_stream = {
        (r.qid, r.cid)
        for r in ivf_probe(streamed, queries, k=3, n_probe=3).collect()
    }
    p_twin = {
        (r.qid, r.cid)
        for r in ivf_probe(twin, queries, k=3, n_probe=3).collect()
    }
    assert p_stream == p_twin and p_stream

    # Replay with no new files: exactly-once no-op.
    again = st.ann_ingest(
        spark.readStream.format("parquet").schema(schema).load(src),
        idx_dir, ckpt,
    )
    assert not again
    assert load_ivf_index(spark, idx_dir, cache=False).cells.count() == emb.count()


def test_bpe_merge_table_save_load_roundtrip(spark, tmp_path):
    # The persisted trainer artifact must round-trip exactly (rank
    # order, rules, and the hash-certified frequencies), and loading
    # a never-saved model must raise instead of tokenizing with zero
    # rules.
    from xlearning_spark.operators.text import (
        learn_bpe_merge_table,
        load_bpe_merge_table,
        save_bpe_merge_table,
    )

    docs = read_table(spark, SF_SMOKE, "documents").filter(
        "text IS NOT NULL AND doc_id < 60"
    )
    table = learn_bpe_merge_table(docs, n_merges=6, min_freq=1)
    assert len(table) == 6

    model_dir = str(tmp_path / "bpe")
    save_bpe_merge_table(spark, table, model_dir)
    assert load_bpe_merge_table(spark, model_dir) == table

    with pytest.raises(FileNotFoundError, match="no merge table"):
        load_bpe_merge_table(spark, str(tmp_path / "missing"))


def test_tokenized_ingest_stream_equals_batch(spark, tmp_path):
    # L4 x T (VERDICT r11 item 3): streamed docs tokenized against the
    # FROZEN persisted merge table must equal batch apply_bpe of the
    # same docs with the same table — token streams and per-doc
    # subword counts — across two landings, with replay a no-op.
    import os

    from xlearning_spark.operators.text import (
        apply_bpe,
        learn_bpe_merge_table,
        save_bpe_merge_table,
    )

    docs = read_table(spark, SF_SMOKE, "documents").filter(
        "text IS NOT NULL AND doc_id < 80"
    ).select("doc_id", "text")
    model_dir = str(tmp_path / "bpe")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "src")
    os.makedirs(src)

    # Train once, freeze the artifact (train-then-apply discipline).
    table = learn_bpe_merge_table(docs, n_merges=8, min_freq=2)
    save_bpe_merge_table(spark, table, model_dir)

    schema = "doc_id bigint, text string"
    chunks = [
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    ]
    for chunk in chunks:
        chunk.coalesce(1).write.mode("append").parquet(src)
        written = st.tokenized_ingest(
            spark.readStream.format("parquet").schema(schema).load(src),
            out, ckpt, model_dir,
        )
        assert written

    got = {
        r.doc_id: (list(r.bpe_tokens), r.n_bpe_tokens)
        for r in spark.read.parquet(out).collect()
    }
    exp = {
        r.doc_id: (list(r.bpe_tokens), len(r.bpe_tokens))
        for r in apply_bpe(
            docs, merges=[(l, r) for l, r, _ in table]
        ).collect()
    }
    assert got == exp

    # Replay with no new files: exactly-once no-op.
    again = st.tokenized_ingest(
        spark.readStream.format("parquet").schema(schema).load(src),
        out, ckpt, model_dir,
    )
    assert not again
    assert spark.read.parquet(out).count() == len(exp)

    # Frozen-model discipline: a missing artifact fails the stream
    # loudly (wrapped by Spark as a StreamingQueryException).
    with pytest.raises(Exception, match="no merge table"):
        st.tokenized_ingest(
            spark.readStream.format("parquet").schema(schema).load(src),
            str(tmp_path / "out2"), str(tmp_path / "ckpt2"),
            str(tmp_path / "nope"),
        )
