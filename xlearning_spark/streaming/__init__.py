"""Structured Streaming pipeline (SURVEY.md §2.10 T1-T7).

The reference's live pipeline: containers report metric samples every
1-3 s (reference: ContainerReporter.java:196-295), the AM maintains
bounded sliding windows and running stats per metric
(ApplicationContainerListener.java:597-745, 1090-1122), and a timeout
monitor fails containers whose heartbeat gap exceeds a threshold
(Listener:988-1023). Here the same behaviors are declared as
Structured Streaming queries over an events-shaped stream:

  T1 micro-batched source  -> readStream (file source; rate in tests)
  T2 sliding windows       -> window(ts, length, slide) + watermark
  T3 session/timeout       -> session_window(ts, gap)
  T4 late data             -> withWatermark (explicit, unlike the
                              reference's implicit arrival-order trust)
  T5 incremental sink      -> foreachBatch / checkpointLocation
  T6 epoch replay          -> Trigger.AvailableNow re-run
  T7 tumbling windows      -> window(ts, length)

Every transformation here is also runnable on a batch DataFrame (same
column expressions), which is how tests/test_streaming.py proves the
streaming results equal the batch oracle-checked ones.
"""

from __future__ import annotations

import contextlib
import math
import os
import re
from typing import Any, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from xlearning_spark.engine import intermediates, scope

#: Schema of the events stream (fixture parity; ts as micro timestamp).
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark, path: str, fmt: str = "parquet") -> DataFrame:
    """T1: micro-batched file source over an events-shaped directory."""
    return spark.readStream.format(fmt).schema(EVENTS_SCHEMA).load(path)


def _read_state_parquet(spark, path: str) -> DataFrame | None:
    """Parquet frame at ``path``, or None before the first commit.

    First-batch bootstrap for every stateful foreachBatch sink here.
    Existence is probed through the Hadoop FileSystem API — NOT by
    matching AnalysisException text, which differs across Spark
    versions ("PATH_NOT_FOUND" vs "Path does not exist"; ADVICE r5).
    A directory that exists but holds no parquet footprint yet (crash
    before the very first job commit left only ``_temporary``) also
    reads as None; any other read failure is re-raised loudly —
    corrupt state must never be silently treated as empty.
    """
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    if not fs.exists(p):
        return None
    try:
        return spark.read.parquet(path)
    except Exception as e:
        cond = None
        for attr in ("getCondition", "getErrorClass"):
            fn = getattr(e, attr, None)
            if fn is not None:
                try:
                    cond = fn()
                except Exception:
                    cond = None
                if cond:
                    break
        if cond == "UNABLE_TO_INFER_SCHEMA":
            return None
        raise


def attributed_conversions(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-STREAM interval join (T-tier depth beyond the reference,
    which has no streaming joins at all): attribute each purchase to
    the clicks by the same user within ``horizon`` BEFORE it — the
    classic conversion-attribution shape, and the one Structured
    Streaming operator whose state story is worth spelling out:

    Both sides carry watermarks and the join condition bounds
    ``purchase_ts`` to ``[click_ts, click_ts + horizon]``, so the
    engine can prove when a buffered click can never match a future
    purchase (and vice versa) and EVICT it — state is bounded by
    arrival rate x (watermark + horizon), never by stream length.
    Without the time-interval condition a stream-stream inner join
    buffers both sides forever; that shape is refused by design here.

    ``how="left_outer"`` is the attribution-COVERAGE form (r7 VERDICT
    item 4): every click emits exactly once — matched rows as in the
    inner join, un-converted clicks with null purchase columns once
    BOTH watermarks pass (the engine emits a buffered click's null row
    only when the purchase-side watermark proves no future purchase
    can still land inside its horizon). Same eviction proof, same
    state bound; the null rows are the report real pipelines need to
    measure conversion rate.

    ``how="full_outer"`` (r9 VERDICT item 5) completes the audit form:
    un-converted clicks AND unattributed purchases (organic buys with
    no preceding click in-horizon) each emit exactly once with nulls
    on the missing side. Structured Streaming supports full-outer
    interval joins under the same two conditions already satisfied
    here — watermarks on BOTH sides and a time-interval join
    condition — and the eviction proof is symmetric: a buffered row on
    either side emits its null form once the OTHER side's watermark
    passes its horizon. State bound unchanged.

    Works identically on batch frames (the parity test's and q116's
    oracle): the watermark is a no-op in batch, the interval condition
    is just a range predicate, and batch LEFT OUTER emits the same
    null rows without the watermark wait.

    100 TB: one keyed shuffle per side (user_id), state bounded as
    above; the output is append-mode (rows emit once both sides'
    watermarks pass).
    """
    if how not in ("inner", "left_outer", "full_outer"):
        raise ValueError(
            f"how must be 'inner', 'left_outer' or 'full_outer', got {how!r}"
        )
    l = clicks.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    r = purchases.select(
        F.col("user_id").alias("__buyer"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("__buyer"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    # full_outer: purchase-only rows carry the id on the buyer side;
    # coalesce is a no-op for inner/left_outer (click side present).
    return l.join(r, cond, how).select(
        F.coalesce("user_id", "__buyer").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "value",
    )


def enriched_tumbling_by_nation(
    events: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    window_len: str = "1 hour",
) -> DataFrame:
    """Stream-STATIC dimension enrichment + windowed rollup (the other
    production streaming-join shape beside the stream-stream interval
    join): events join the customer->nation dimension chain, then
    tumble into per-nation windows.

    Stream-static joins are STATELESS in Structured Streaming — each
    micro-batch joins against the static side with no join state kept,
    so there is no watermark requirement and no eviction story: the
    state bound is the aggregation's open windows only.

    Broadcast discipline (VERDICT r8 item 1): only ``nation`` is
    hinted — it is bounded by construction (25 rows at every SF, same
    rationale as q05). ``customer`` is SF-PROPORTIONAL (billions of
    rows at the 100 TB target), so the events⋈dims join carries NO
    hint: the planner picks broadcast from the dims' size estimate at
    small SF and falls back to a shuffled hash/sort-merge join when
    the dimension outgrows ``autoBroadcastJoinThreshold``. A forced
    ``F.broadcast(dims)`` here would OOM every executor at target
    scale. (Reference analogue: broadcast-vs-split is the AM's runtime
    decision, AM/ApplicationMaster.java:1043-1076.)

    Works identically on batch frames (q118's oracle path). 100 TB:
    planner-chosen dim join per batch + one keyed shuffle into the
    window aggregate.
    """
    dims = customer.join(
        F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"]
    ).select(F.col("c_custkey").alias("__ck"), "n_name")
    e = events.join(dims, events["user_id"] == F.col("__ck"), "inner")
    return (
        e.groupBy(F.window("ts", window_len).alias("w"), "n_name")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_name",
            "n_events",
            "total_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    watermark_col: str = "ts",
    delay: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup (L1 x T): emit each key's first arrival,
    drop re-deliveries within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keys the state store on
    ``key_cols`` and EVICTS a key's state once the watermark passes
    ``delay`` — so state is bounded by (arrival rate x delay), never by
    stream length: the only dedup shape that survives an unbounded
    100 TB ingest stream. (Plain ``dropDuplicates`` on a stream keeps
    every key forever.) The trade, stated honestly: a duplicate
    arriving more than ``delay`` after its original is re-emitted —
    cross-horizon dedup belongs to the batch operators
    (operators/dedup.py) over the landed corpus.

    The batch twin for tests is ``df.dropDuplicates(key_cols)``
    restricted to duplicates within the horizon.
    """
    return events.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        key_cols
    )


def tumbling_counts(
    events: DataFrame, window_len: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """T7 (+T4): tumbling per-type counts with explicit lateness bound.

    The watermark bounds state exactly like the reference's bounded
    deques (Listener:614-619) — windows older than the watermark are
    finalized and evicted.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sliding_stats(
    events: DataFrame,
    window_len: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "4 hours",
) -> DataFrame:
    """T2/A1: sliding per-key avg/max — the streaming form of the AM's
    running metric statistics (Listener:1090-1122)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len, slide).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.max("value").alias("max_value"),
            (
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double") / F.count("*")
            ).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
            "max_value",
            "avg_value",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """T3: gap-based sessions per key — the timeout monitor's semantics
    (Listener:988-1023) as a first-class streaming window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def _drain(
    stream_df: DataFrame, fn, checkpoint_dir: str, query_name: str | None = None
) -> None:
    """T5/T6: run ``fn(batch_df, batch_id)`` over every micro-batch
    currently available (foreachBatch, append mode, availableNow) and
    wait for the drain to finish. Each call is one
    :func:`~xlearning_spark.engine.intermediates` scope, so the frames a
    batch caches die with the batch: a long stream never accumulates
    one dead block set per batch. ``query_name`` names the query so
    other code can find it in ``spark.streams.active``."""

    def scoped(batch_df: DataFrame, batch_id: int) -> None:
        with intermediates():
            fn(batch_df, batch_id)

    w = (
        stream_df.writeStream.foreachBatch(scoped)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    if query_name is not None:
        w = w.queryName(query_name)
    w.start().awaitTermination()


def incremental_save(stream_df: DataFrame, out_dir: str, checkpoint_dir: str):
    """T5: the save-model path — drain currently-available data into a
    versioned subdirectory per micro-batch via foreachBatch, mirroring
    the reference's ``interResult_<timestamp>/<container>`` incremental
    uploads (Heartbeat.java:150-242): each invocation persists only
    what arrived since the last checkpointed batch.

    Returns the list of batch ids written this invocation.
    """
    written: list[int] = []

    def save_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_{batch_id:08d}")
        written.append(batch_id)

    _drain(stream_df, save_batch, checkpoint_dir)
    return written


def incremental_partition_save(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_by: list[str],
    since_col: str | None = None,
    since=None,
    key_cols: list[str] | None = None,
):
    """T5 (deep parity): per micro-batch, dynamically overwrite ONLY
    the output partitions present in the batch — every other
    partition's files are left byte-untouched. This is the Spark form
    of the reference's mtime-incremental model upload
    (Heartbeat.java:150-242: re-upload only files whose mtime advanced
    since the last heartbeat save): the changed-partition set plays
    the changed-file set, and ``partitionOverwriteMode=dynamic``
    guarantees the untouched partitions are never rewritten (asserted
    by file mtimes in tests/test_streaming.py).

    Semantics per touched partition:

    - default (``key_cols=None``): **snapshot per invocation** — one
      ``incremental_partition_save`` call replaces each touched
      partition with ALL rows this invocation delivered for it. When
      the availableNow run splits into several micro-batches (e.g.
      ``maxFilesPerTrigger``), later batches UNION the rows earlier
      batches of the same invocation already wrote, so an
      intra-invocation split can never drop rows (r4 advice fix). A
      LATER invocation that touches the partition still replaces it —
      callers resend the partition's full row set, exactly like the
      reference re-uploads the whole changed file.
    - ``key_cols=[...]``: **accumulate across invocations** — touched
      partitions are merged with their existing on-disk rows, deduped
      on the key (batch wins), so delta-only redelivery is safe and a
      replayed batch is idempotent.

    ``since_col``/``since`` add the explicit mtime predicate on top:
    rows at or below the watermark are dropped before the write, so a
    replayed batch can't resurrect already-saved state.

    The per-batch distinct partition-value collect is bounded by the
    number of partitions touched per batch (model-save cardinality,
    not row cardinality).

    Returns the list of batch ids that wrote data this invocation.
    """
    written: list[int] = []
    touched: set[tuple] = set()  # partitions written by THIS invocation

    def save_batch(batch_df: DataFrame, batch_id: int) -> None:
        if since_col is not None and since is not None:
            batch_df = batch_df.filter(F.col(since_col) > F.lit(since))
        if batch_df.isEmpty():
            return
        parts = {
            tuple(r) for r in batch_df.select(*partition_by).distinct().collect()
        }
        # Partitions whose on-disk rows must be carried over: every
        # touched one in accumulate mode, only intra-invocation repeats
        # in snapshot mode.
        merge = parts if key_cols is not None else parts & touched
        out = batch_df
        if merge:
            existing = _read_state_parquet(batch_df.sparkSession, out_dir)
            if existing is not None:
                # Partition columns read back with inferred types; cast
                # to the batch schema so the union is exact.
                existing = existing.select(
                    *[
                        F.col(c).cast(batch_df.schema[c].dataType).alias(c)
                        for c in batch_df.columns
                    ]
                )
                hit = F.lit(False)
                for p in merge:
                    eq = F.lit(True)
                    for col, val in zip(partition_by, p):
                        eq = eq & (
                            F.col(col).eqNullSafe(F.lit(val))
                            if val is not None
                            else F.col(col).isNull()
                        )
                    hit = hit | eq
                old = existing.filter(hit)
                if key_cols is not None:
                    old = old.join(
                        batch_df.select(*key_cols).distinct(), key_cols, "left_anti"
                    )
                # Materialize the carried-over rows BEFORE the write:
                # the sink overwrites the very files they come from, and
                # Spark (rightly) refuses a lazy self-overwrite plan.
                out = batch_df.unionByName(scope().checkpoint(old, eager=True))
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(out_dir)
        )
        touched.update(parts)
        written.append(batch_id)

    _drain(stream_df, save_batch, checkpoint_dir)
    return written


class SaveModelController:
    """T5 (control path): signal-driven mid-job save — the analogue of
    the reference's ``/ws/app/savemodel`` REST trigger
    (AMWebServices.java:96-106), which flips a flag the containers see
    on their next heartbeat and answer with an ``interResult_<ts>``
    incremental upload (Heartbeat.java:150-242).

    The controller owns a streaming source and one checkpoint lineage.
    Each ``request_save()`` call is the external signal: it drains
    exactly what arrived since the previous save into a fresh versioned
    directory (``save_NNNN/``). Because every drain shares the same
    ``checkpointLocation``, successive signals produce disjoint,
    gap-free increments — re-signaling with no new data writes nothing.
    """

    def __init__(self, stream_df: DataFrame, out_dir: str, checkpoint_dir: str):
        import threading

        self._stream_df = stream_df
        self._out_dir = out_dir
        self._checkpoint_dir = checkpoint_dir
        self._version = 0
        self._lock = threading.Lock()  # signals may race; saves serialize

    def request_save(self) -> tuple[str, list[int]]:
        """Handle one save signal; returns (version_dir, batch_ids).

        ``batch_ids == []`` means no data arrived since the last save
        (the version counter does not advance).
        """
        with self._lock:
            version_dir = f"{self._out_dir}/save_{self._version:04d}"
            written = incremental_save(
                self._stream_df, version_dir, self._checkpoint_dir
            )
            if written:
                self._version += 1
            return version_dir, written


def neardup_ingest(
    stream_df: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_size: int = 5,
    demote_hot_df: float | None = None,
    broadcast_batch_limit: int = 1_000_000,
) -> list[int]:
    """Streaming near-dup ingest (L2 x T, the last batch-only gap in
    the LLM tier): every landed micro-batch is near-dup checked against
    the ACCUMULATED corpus and against itself, and only novel docs are
    appended — the streaming composition of the q80/q83 sweep.

    Per batch (foreachBatch, availableNow):

    1. exact-dedup the batch on ``id_col`` (first arrival wins; for
       redelivery ACROSS batches put :func:`dedup_stream` upstream) and
       checkpoint it eagerly — AQE sizes the checkpoint by its real
       bytes, so a small batch is one partition and every later branch
       runs one task over it; the batch's ids are collected from it;
    2. n-gram Jaccard pairs over corpus ∪ batch via the sub-quadratic
       prefix-filtered generator (operators/dedup.ngram_jaccard_pairs
       — q83's scale path, never all-pairs);
    3. connected components over the pairs, then CORPUS-PRECEDENCE
       survivor selection: a batch doc is dropped if its component
       contains any corpus doc (the corpus member landed first), else
       the component's min-id batch doc survives. These are q80's
       component-level semantics — the whole transitive near-dup
       closure collapses to one survivor (a doc chained to the corpus
       only through another batch doc still drops), deterministic
       regardless of row order within the batch. When the components
       are solved on the driver (``solve_components`` under its
       ``driver_edge_limit``) and the batch is within
       ``broadcast_batch_limit``, the verdict is computed from the
       driver's component arrays: a node that is not a batch id is a
       corpus member. Otherwise it runs as distributed groupBy/joins
       over the (id, component) frame;
    4. survivors land in ``corpus_dir`` idempotently by batch id
       (:func:`idempotent_batch_append`), and the corpus read excludes
       this batch's own ``batch-<id>-*`` files — so a replay after a
       crash between append and checkpoint commit recomputes the
       original verdicts against the pre-attempt corpus and overwrites
       its own files: at-least-once delivery composes to exactly-once
       corpus state. On the driver verdict the survivors are the batch
       checkpoint minus the losers, a plan that never reads
       ``corpus_dir`` and so is written directly; the distributed
       verdict reads the corpus and is checkpointed before the write.

    Ids are assumed unique across corpus and batch: on the driver
    verdict a batch id that is also in the corpus counts as a batch
    doc only.

    Scale notes, stated honestly: the corpus side's shingle prefixes
    are recomputed per batch (read + one map pass — at 100 TB persist
    the shingle-prefix frame alongside the corpus and join batch
    prefixes against it instead); pair generation runs in the
    generator's INCREMENTAL mode (``delta_ids`` = the batch), so every
    candidate pair touches a batch doc and the deduped corpus is never
    re-paired against itself — pair volume is ~|batch| * shared-key
    frequency, independent of corpus pair structure. The driver
    verdict holds at most ``broadcast_batch_limit`` batch ids and the
    component arrays of at most ``driver_edge_limit`` edges on the
    driver; a batch over either cap keeps the distributed verdict.

    Broadcast discipline (VERDICT r8 item 4): a ``Trigger.AvailableNow``
    backfill makes one "batch" the entire backlog, at which point a
    forced broadcast of batch-bounded frames is the corpus-scaled hint
    r7 vetoed. ``broadcast_batch_limit`` therefore gates every
    batch-sized thing the ingest moves through the driver or a
    broadcast: the id collect and the driver verdict, the broadcast
    loser frame of the direct write, and the verdict/loser hints of the
    distributed verdict. Over the limit the distributed joins run
    un-hinted and the planner/AQE picks the strategy from actual sizes.

    Returns the batch ids that appended at least one document.
    """
    from xlearning_spark.operators.dedup import (
        DriverComponents,
        ngram_jaccard_pairs,
        solve_components,
    )

    def land(batch_df: DataFrame, batch_id: int) -> bool:
        spark = batch_df.sparkSession
        # One eager checkpoint of the deduped batch: AQE sizes it by its
        # real bytes (one partition for a small batch, many for a
        # backfill), and every branch below reads it in place.
        batch = scope().checkpoint(
            batch_df.select(id_col, text_col).dropDuplicates([id_col]), eager=True
        )
        # Bounded id collect: a batch over broadcast_batch_limit is
        # a backfill whose ids stay distributed (Spark's limit is an
        # int32).
        ids = [
            r[0]
            for r in batch.select(id_col)
            .limit(min(broadcast_batch_limit, 2**31 - 2) + 1)
            .collect()
        ]
        if not ids:
            return False
        small = len(ids) <= broadcast_batch_limit
        pool = _neardup_pool(spark, corpus_dir, batch, batch_id, id_col, text_col)
        # Incremental pair generation: every candidate pair must
        # touch the landed batch — the already-deduped corpus is
        # never re-paired against itself (semantics-preserving for
        # the corpus-precedence verdicts; see ngram_jaccard_pairs).
        pairs = ngram_jaccard_pairs(
            pool,
            id_col,
            text_col,
            threshold=threshold,
            shingle_size=shingle_size,
            delta_ids=batch.select(id_col),
            # Organic-skew knob passed through: boilerplate-heavy
            # corpora demote hot shingles out of prefixes (lossless
            # — see ngram_jaccard_pairs / SCALE.md organic-skew probe).
            demote_hot_df=demote_hot_df,
        ).select("id_a", "id_b")
        sol = solve_components(pairs)
        if small and isinstance(sol, DriverComponents):
            losers = _driver_losers(sol, ids)
            if len(losers) == len(ids):
                return False
            # The write reads only the batch checkpoint, never
            # corpus_dir, so it needs no materialization of its own.
            survivors = batch
            if losers:
                lost = spark.createDataFrame(
                    spark.sparkContext.parallelize([(x,) for x in losers], 1),
                    StructType([StructField("__loser", batch.schema[id_col].dataType)]),
                )
                # left_anti keeps a null id, which no loser matches.
                survivors = batch.join(
                    F.broadcast(lost), batch[id_col] == lost["__loser"], "left_anti"
                )
        else:
            comps = sol.frame(spark) if isinstance(sol, DriverComponents) else sol
            survivors = _distributed_survivors(
                batch, pool, comps, id_col, F.broadcast if small else (lambda d: d)
            )
            # Materialize before writing: the verdict reads corpus_dir,
            # which the write appends to, and a lazy plan would
            # self-overlap.
            survivors = scope().checkpoint(survivors, eager=True)
            if survivors.isEmpty():
                return False
        idempotent_batch_append(survivors, corpus_dir, batch_id)
        return True

    return _landing_ingest(
        stream_df, corpus_dir, checkpoint_dir, "neardup_ingest", land
    )


def _neardup_pool(
    spark, corpus_dir: str, batch: DataFrame, batch_id: int, id_col: str, text_col: str
) -> DataFrame:
    """Corpus ∪ batch with a ``__corpus`` flag, the corpus read
    without this batch's own ``batch-<id>-*`` files.

    Replay convergence (ADVICE r11 follow-through): a replayed batch
    must not see its OWN previous attempt's survivors in the corpus —
    with them present, every replayed doc shares a component with its
    earlier self (same near-dup closure), so the corpus-precedence
    verdict would drop it and the batch would converge to an EMPTY
    append, leaving the survivor set dependent on which attempt
    crashed. The previous attempt's rows sit under this batch's
    deterministic file names (idempotent_batch_append), so excluding
    exactly those files restores the pre-attempt corpus and the replay
    recomputes the original verdicts."""
    flagged = batch.withColumn("__corpus", F.lit(False))
    corpus = _read_state_parquet(spark, corpus_dir)
    if corpus is None:
        return flagged
    own = f"/batch-{batch_id:010d}-"
    corpus = (
        corpus.withColumn("__file", F.input_file_name())
        .filter(~F.col("__file").contains(own))
        .select(id_col, text_col)
    )
    return corpus.withColumn("__corpus", F.lit(True)).unionByName(flagged)


def _driver_losers(sol, batch_ids: list) -> list:
    """Corpus-precedence losers from driver-solved components: a batch
    doc loses if its component holds a corpus member (a node that is
    not a batch id); otherwise every batch doc but the component's
    minimum id loses. Nodes are sorted, so ``comp`` points at each
    component's minimum."""
    import numpy as np

    nodes, comp = sol.nodes, sol.comp
    in_batch = set(batch_ids)
    is_batch = np.fromiter((n in in_batch for n in nodes.tolist()), bool, len(nodes))
    has_corpus = np.zeros(len(nodes), bool)
    has_corpus[comp[~is_batch]] = True
    lose = is_batch & (has_corpus[comp] | (comp != np.arange(len(nodes))))
    return nodes[lose].tolist()


def _distributed_survivors(
    batch: DataFrame, pool: DataFrame, comps: DataFrame, id_col: str, hint
) -> DataFrame:
    """Batch rows that survive the corpus-precedence verdict, computed
    as joins over the (id, component) frame. Verdict and loser frames
    are bounded by the batch's dup residue; ``hint`` broadcasts them
    only while the batch is under ``broadcast_batch_limit`` (backfill
    batches go un-hinted; the planner decides)."""
    rank = pool.select(F.col(id_col).alias("id"), "__corpus")
    labeled = comps.join(rank, "id")
    verdict = labeled.groupBy("component").agg(
        F.max(F.col("__corpus").cast("int")).alias("__has_corpus"),
        F.min(F.when(~F.col("__corpus"), F.col("id"))).alias("__min_batch"),
    )
    losers = (
        labeled.filter(~F.col("__corpus"))
        .join(hint(verdict), "component")
        .filter((F.col("__has_corpus") == 1) | (F.col("id") != F.col("__min_batch")))
        .select("id")
    )
    return batch.join(hint(losers), batch[id_col] == losers.id, "left_anti")


def idempotent_batch_append(df: DataFrame, out_dir: str, batch_id: int) -> int:
    """Land a foreachBatch micro-batch in ``out_dir`` so that a REPLAY
    of the same batch CONVERGES instead of duplicating (ADVICE r11):
    foreachBatch delivery is at-least-once — a failure after a plain
    ``mode("append")`` write but before the checkpoint commit
    re-delivers the batch and would double its rows. Discipline:

    1. stage the batch under an underscore-prefixed scratch dir
       (``_staging-batch-<id>`` — invisible to readers, exactly like
       Spark's own ``_temporary``);
    2. delete whatever files a PREVIOUS attempt of this batch landed
       (``batch-<id>-*``);
    3. rename the staged part files into ``out_dir`` under
       deterministic ``batch-<id>-<i>.parquet`` names.

    A replay repeats 1-3 and lands equivalent state; a crash at any
    point leaves either ignorable staging files or a partial batch
    that the replay's step 2 removes — so at-least-once delivery
    composes to exactly-once OUTPUT. Readers keep seeing one flat
    parquet directory (no ``batch=`` partition column appears, unlike
    a dynamic-partition-overwrite layout). Renames are per-file
    metadata ops — O(files in the batch), not data volume; an object
    store without atomic rename pays a server-side copy, the same
    caveat as any Hadoop rename-based committer. Returns the number
    of files landed.
    """
    base = out_dir.rstrip("/")
    fs, jvm = _fs_for(df.sparkSession, base)
    hpath = jvm.org.apache.hadoop.fs.Path
    staging = f"{base}/_staging-batch-{batch_id}"
    df.write.mode("overwrite").parquet(staging)
    staged = sorted(
        (st.getPath() for st in fs.globStatus(hpath(staging + "/part-*")) or []),
        key=lambda p: p.getName(),
    )
    for st in fs.globStatus(hpath(f"{base}/batch-{batch_id:010d}-*")) or []:
        fs.delete(st.getPath(), False)
    n = 0
    for i, src in enumerate(staged):
        dst = hpath(f"{base}/batch-{batch_id:010d}-{i:05d}.parquet")
        if not fs.rename(src, dst):
            raise IOError(
                f"idempotent_batch_append: rename {src} -> {dst} failed"
            )
        n += 1
    fs.delete(hpath(staging), True)
    return n


@contextlib.contextmanager
def _ingest_lease(spark, lease_dir: str, query: str, finish_swap):
    """Best-effort cross-process lease every state-landing ingest holds
    in ``lease_dir`` for the duration of a drain (ADVICE r7): the
    batch-landing ingests in their output dir, :func:`excise_ingest`
    in its registry. An offline :func:`compact_batch_output` /
    :func:`compact_excise_registry` in ANOTHER process/session refuses
    while the lease file exists. Released on exit. A crash leaves it
    behind — the next drain of the same ingest rewrites and then clears
    it (self-healing), or the operator passes ``ignore_lease=True`` to
    compaction after confirming nothing is live. Underscore-prefixed:
    invisible to parquet readers.

    Close the lease loop in BOTH directions (ADVICE r12): compaction
    refuses while an ingest lease exists, and an ingest starting while
    a crashed compaction left a COMMITTED staging mid-swap (folded
    files deleted, base not yet moved in) would read state missing
    rows. So ``finish_swap(spark, lease_dir)`` — the compactor's
    recovery half, :func:`_finish_batch_compaction` or
    :func:`_finish_compaction` — runs first. Completing the swap is
    idempotent and safe even if the compactor is still alive at this
    exact point: both sides converge on the same final state."""
    import json
    import socket

    finish_swap(spark, lease_dir)
    path = os.path.join(lease_dir, _INGEST_LEASE)
    _write_small_file(
        spark,
        path,
        json.dumps(
            {"query": query, "host": socket.gethostname(), "pid": os.getpid()}
        ),
    )
    try:
        yield
    finally:
        fs, jvm = _fs_for(spark, lease_dir)
        fs.delete(jvm.org.apache.hadoop.fs.Path(path), False)


def _landing_ingest(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str, query: str, land
) -> list[int]:
    """Skeleton of the ingests that land each micro-batch in ``out_dir``
    with :func:`idempotent_batch_append`: hold the ingest lease on
    ``out_dir`` (named ``query``), drain the stream through
    ``land(batch_df, batch_id)``, and return the batch ids for which
    ``land`` reported that rows landed."""
    written: list[int] = []

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if land(batch_df, batch_id):
            written.append(batch_id)

    with _ingest_lease(
        stream_df.sparkSession, out_dir, query, _finish_batch_compaction
    ):
        _drain(stream_df, step, checkpoint_dir)
    return written


def _append_frame(batch_frame, out_dir: str):
    """``land`` for :func:`_landing_ingest` when a batch's output is one
    frame, ``batch_frame(batch_df)``: checkpoint it eagerly (one
    execution feeds both the emptiness probe and the write), skip an
    empty batch and append the rest idempotently by batch id. The
    batch's scope (see :func:`_drain`) frees the checkpoint."""

    def land(batch_df: DataFrame, batch_id: int) -> bool:
        out = scope().checkpoint(batch_frame(batch_df), eager=True)
        if out.isEmpty():
            return False
        idempotent_batch_append(out, out_dir, batch_id)
        return True

    return land


def scored_ingest(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    weights: list[float],
    bias: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_threshold: float | None = None,
    portable: bool = False,
) -> list[int]:
    """Streaming learned-quality scoring (L6 x T, VERDICT r10 item 5 —
    the last L-family without a streaming form): every landed
    micro-batch is scored by the trained hashing-trick logistic
    regression (operators/text.score_text_lr, q120's certified scoring
    stage) and appended to ``out_dir`` as
    ``(id_col, margin, score[, kept])`` — the streaming composition of
    the batch train-then-score pipeline (examples/run_learned_filter).

    Per batch (foreachBatch, availableNow): hashed-BOW features (one
    hash-aggregate shuffle, JVM-side), a broadcast join against the
    ``len(weights)``-row weight table — bounded by the hashing trick
    at ANY corpus size, so the per-batch broadcast hint is safe by
    construction, unlike the batch-gated hints in
    :func:`neardup_ingest` — then one doc-key aggregation shuffle.
    Zero-token docs are NOT dropped here (unlike raw
    ``score_text_lr`` — see its docstring): they left-join back in
    scored ``sigmoid(bias)``, so every landed doc gets exactly one
    verdict row and the filter's accept/reject accounting is total.

    ``keep_threshold`` set -> only docs with ``score >= threshold``
    land (the filter applied in-flight; rejected docs simply don't
    append); ``keep_threshold=None`` -> every doc lands with its score
    (audit mode). Exactly-once OUTPUT: the checkpoint dedupes source
    files across restarts, and the append itself is idempotent by
    batch id (:func:`idempotent_batch_append` — a replayed batch
    overwrites its own ``batch-<id>-*`` files instead of duplicating
    them; ADVICE r11). Re-running with no new files is a no-op.
    Returns batch ids that appended >= 1 row.
    """
    from xlearning_spark.operators.text import hashed_bow, score_text_lr

    dim = len(weights)

    def score_batch(batch_df: DataFrame) -> DataFrame:
        batch = batch_df.select(id_col, text_col).dropDuplicates([id_col])
        feats = hashed_bow(batch, id_col, text_col, dim, portable)
        scored = score_text_lr(feats, weights, bias, id_col)
        sig_b = 1.0 / (1.0 + math.exp(-bias))
        full = (
            batch.select(id_col)
            .join(scored, id_col, "left")
            .select(
                id_col,
                F.coalesce("margin", F.lit(float(bias))).alias("margin"),
                F.coalesce("score", F.lit(sig_b)).alias("score"),
            )
        )
        if keep_threshold is not None:
            full = full.filter(F.col("score") >= keep_threshold)
        return full

    return _landing_ingest(
        stream_df, out_dir, checkpoint_dir, "scored_ingest",
        _append_frame(score_batch, out_dir),
    )


def ann_ingest(
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """Streaming ANN index maintenance (L3 x T — the last L-family
    without a streaming form): every landed micro-batch of embeddings
    is assigned to the persisted IVF index's FROZEN centroids
    (operators/similarity.assign_cells — the classic train-then-add
    discipline: the centroids were trained once, on a bounded sample,
    by ``build_ivf_index``; adds never retrain) and appended to the
    index's inverted file, so the next ``load_ivf_index`` +
    ``ivf_probe`` sees the new vectors at marginal cost.

    Per batch (foreachBatch, availableNow): read the bounded
    ``n_cells``-row centroid table from ``index_dir`` (the only index
    state a batch touches) and run one SHUFFLE-FREE map pass — the
    centroids ride the plan as literals and the argmin is an
    array_min over (d2, cell) structs (see ``assign_cells``) — so
    batch cost is O(|batch| * n_cells) regardless of how large the
    accumulated inverted file has grown. Exactly-once OUTPUT: the
    checkpoint dedupes source files across restarts and the append is
    idempotent by batch id (:func:`idempotent_batch_append` — a
    replayed batch overwrites its own ``batch-<id>-*`` files in the
    inverted file instead of duplicating them; ADVICE r11); duplicate
    ids WITHIN a batch are dropped (first arrival wins — for
    redelivery across batches put :func:`dedup_stream` upstream, same
    contract as :func:`neardup_ingest`).

    The probe-side semantics are unchanged by streaming: a drained
    ingest's inverted file equals the batch assignment of the same
    vectors against the same frozen centroids (parity-tested), so
    recall characteristics are those of the centroids' training
    sample — re-train + rebuild when the vector distribution drifts,
    exactly as with any IVF index. Returns batch ids that appended
    >= 1 row.
    """
    from xlearning_spark.operators.similarity import assign_cells

    cells = index_dir + "/cells"

    def assign_batch(batch_df: DataFrame) -> DataFrame:
        spark = batch_df.sparkSession
        cent = (
            spark.read.parquet(index_dir + "/centroids")
            .orderBy("cell")
            .collect()
        )
        if not cent:
            raise FileNotFoundError(
                f"ann_ingest: no centroid table under {index_dir!r} — "
                "build_ivf_index + save_ivf_index must run first"
            )
        centroids = [list(r["centroid"]) for r in cent]
        batch = batch_df.select(id_col, vec_col).dropDuplicates([id_col])
        return assign_cells(batch, centroids, id_col, vec_col)

    return _landing_ingest(
        stream_df, cells, checkpoint_dir, "ann_ingest",
        _append_frame(assign_batch, cells),
    )


def tokenized_ingest(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    model_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list[int]:
    """Streaming BPE application (L4 x T, VERDICT r11 item 3 — the
    tokenization gap in L4's streaming story): every landed
    micro-batch of documents is tokenized with a FROZEN merge table
    read from a persisted trainer artifact
    (``operators/text.save_bpe_merge_table`` — the ``ann_ingest``
    frozen-centroid discipline: the expensive distributed trainer ran
    once; ingests never retrain) and appended to ``out_dir`` as
    ``(id_col, bpe_tokens, n_bpe_tokens)`` rows.

    Per batch (foreachBatch, availableNow): read the bounded
    ``n_merges``-row table from ``model_dir`` (the only model state a
    batch touches; raises if the artifact is missing — a tokenizer
    with zero rules is a bug, not a degenerate mode), drop duplicate
    ids within the batch (first arrival wins, same contract as
    :func:`ann_ingest`), then one map-only Arrow-batched pass
    (``apply_bpe``: per-word greedy fold, memoized per distinct word
    per batch, rules ride the closure — broadcast-sized like a vocab
    file). Docs with NULL text are dropped (they carry no tokens —
    match them upstream if absence matters). Batch cost is
    O(|batch| * rules), independent of how much output has
    accumulated. Exactly-once OUTPUT: the checkpoint dedupes source
    files and the append is idempotent by batch id
    (:func:`idempotent_batch_append`). A drained ingest's output
    equals the batch ``apply_bpe`` of the same docs against the same
    frozen table (parity-tested). Returns batch ids that appended
    >= 1 row.

    Reference anchor: the STREAM input/output loop the pipe tier maps
    (HboxContainer.java:1142-1257) — records in, tokenized records
    out, model state read-only.
    """
    from xlearning_spark.operators.text import (
        apply_bpe,
        load_bpe_merge_table,
    )

    def tokenize_batch(batch_df: DataFrame) -> DataFrame:
        table = load_bpe_merge_table(batch_df.sparkSession, model_dir)
        merges = [(l, r) for l, r, _ in table]
        batch = (
            batch_df.select(id_col, text_col)
            .filter(F.col(text_col).isNotNull())
            .dropDuplicates([id_col])
        )
        return apply_bpe(batch, text_col=text_col, merges=merges).select(
            id_col,
            F.col("bpe_tokens"),
            F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )

    return _landing_ingest(
        stream_df, out_dir, checkpoint_dir, "tokenized_ingest",
        _append_frame(tokenize_batch, out_dir),
    )


def _sketch_versions(spark, state_dir: str) -> list:
    """``(version number, FileStatus)`` of every ``v<N>`` version
    directory of the CMS/HLL sketch state under ``state_dir``, in
    numeric version order (Hadoop FS API, so any scheme works); empty
    before the first commit. Names that are not ``v`` + an integer are
    not versions and are skipped."""
    fs, jvm = _fs_for(spark, state_dir)
    vers = []
    glob = jvm.org.apache.hadoop.fs.Path(state_dir + "/v*")
    for st in fs.globStatus(glob) or []:
        if not st.isDirectory():
            continue
        try:
            vers.append((int(st.getPath().getName()[1:]), st))
        except ValueError:
            continue
    return sorted(vers, key=lambda v: v[0])


def _latest_hll_state(spark, state_dir: str) -> str | None:
    """Newest version directory under ``state_dir``, or None before the
    first commit."""
    vers = _sketch_versions(spark, state_dir)
    return vers[-1][1].getPath().toString() if vers else None


def _latest_state_below(spark, state_dir: str, batch_id: int) -> str | None:
    """Newest version directory with version NUMBER strictly below
    ``batch_id`` — the exactly-once read point for ADDITIVE sketch
    state (see :func:`streaming_cms_counts`): a replayed batch must
    rebuild its own version from its predecessor, never merge itself
    into a state that already includes it."""
    below = [st for v, st in _sketch_versions(spark, state_dir) if v < batch_id]
    return below[-1].getPath().toString() if below else None


def _sketch_update(state_dir: str, checkpoint_dir: str | None, sketch, merge, prev):
    """The per-micro-batch commit of the versioned sketch state: sketch
    the batch (``sketch(batch_df)``), merge it with the predecessor
    version ``prev(spark, batch_id)`` names (``merge(prev_df, regs)``),
    and write the result as the batch's own version directory
    ``state_dir/v{batch_id}``, stamped with its run lineage when
    ``checkpoint_dir`` is given (else the pruner falls back to its
    mtime guard for the unmarked version)."""

    def update(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        regs = sketch(batch_df)
        before = prev(spark, batch_id)
        if before is not None:
            regs = merge(spark.read.parquet(before), regs)
        # Materialize before writing: the merged plan reads the previous
        # version; eager checkpoint severs that scan from the write.
        vdir = f"{state_dir}/v{batch_id:010d}"
        scope().checkpoint(regs, eager=True).write.mode("overwrite").parquet(vdir)
        if checkpoint_dir is not None:
            _mark_sketch_version(spark, vdir, checkpoint_dir)

    return update


def streaming_hll_distinct(
    stream_df: DataFrame,
    col: str,
    state_dir: str,
    checkpoint_dir: str,
    p: int = 9,
    group_cols: list[str] | None = None,
) -> None:
    """Streaming cardinality (A6 x T): maintain the portable-HLL
    register table (operators/sketch.py) incrementally over an
    unbounded stream — the streaming member of the portable-sketch
    tier, and the only distinct-count shape that survives a 100 TB
    ingest stream (exact streaming countDistinct keys state on every
    value seen; this keys it on at most ``2^p`` registers per group,
    independent of stream length).

    Per micro-batch (foreachBatch, availableNow): sketch the batch
    (``hll_registers``), register-wise MAX-merge with the accumulated
    state, commit the merged table as a NEW version directory
    ``state_dir/v{batch_id}``. Readers always see a complete committed
    version (never a half-written overwrite), and crash-replay of a
    micro-batch is harmless twice over: the rewrite targets its own
    version dir, and register MAX-merge is idempotent — merging a
    batch into state that already includes it changes nothing. Old
    versions are register tables too, so they double as point-in-time
    snapshots; prune them freely.

    Because register MAX is associative/commutative/idempotent, the
    final state is EXACTLY the batch sketch of the full history — the
    stream==batch equality asserted in tests is exact, not tolerant.

    Pair ``state_dir`` with its ``checkpoint_dir`` for the stream's
    lifetime: a fresh checkpoint restarts batch numbering at 0, whose
    version dirs then sort below the old run's. Even then every
    committed version is a VALID sketch (merges are monotone and the
    replayed history re-merges the old state), but readers see the old
    run's last version until the new numbering passes it — start a new
    state_dir alongside a new checkpoint to avoid the stale window.

    Read the current estimate with :func:`hll_state_estimate`.
    """
    from xlearning_spark.operators.sketch import hll_registers, merge_hll_registers

    group_cols = group_cols or []
    update = _sketch_update(
        state_dir,
        checkpoint_dir,
        lambda batch_df: hll_registers(batch_df, col, p, group_cols),
        lambda prev, regs: merge_hll_registers(prev, regs, group_cols),
        # The newest version, even one at or above this batch: MAX-merge
        # is idempotent (see the checkpoint-reset note above).
        lambda spark, batch_id: _latest_hll_state(spark, state_dir),
    )
    _drain(stream_df, update, checkpoint_dir)


def hll_state_estimate(
    spark,
    state_dir: str,
    p: int = 9,
    group_cols: list[str] | None = None,
    out_col: str = "hll_estimate",
    linear_counting: bool = False,
) -> DataFrame | None:
    """Fold the newest committed register state into the estimate —
    one row (or one per group); None before the first commit.
    ``linear_counting`` opts into the small-range correction (see
    operators/sketch.hll_estimate_from_registers)."""
    from xlearning_spark.operators.sketch import hll_estimate_from_registers

    latest = _latest_hll_state(spark, state_dir)
    if latest is None:
        return None
    return hll_estimate_from_registers(
        spark.read.parquet(latest), p, out_col, group_cols, linear_counting
    )


def run_available_now(stream_df: DataFrame, checkpoint_dir: str, out_mode: str = "append"):
    """T5/T6: drain everything currently available into an in-memory
    sink and return the collected rows. ``Trigger.AvailableNow`` is the
    replay primitive: re-running against the same source re-delivers
    from the checkpoint forward (epoch semantics without re-reads).
    """
    import uuid

    name = f"q_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(out_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def _cms_update(
    col: str,
    state_dir: str,
    depth: int,
    width: int,
    group_cols: list[str] | None,
    checkpoint_dir: str | None = None,
):
    """The per-micro-batch commit for :func:`streaming_cms_counts`,
    factored out so tests can drive a crash-replay directly (then with
    no ``checkpoint_dir``, so no run marker — the pruner falls back to
    its mtime guard for unmarked versions)."""
    from xlearning_spark.operators.sketch import cms_registers, merge_cms_registers

    return _sketch_update(
        state_dir,
        checkpoint_dir,
        lambda batch_df: cms_registers(batch_df, col, depth, width, group_cols),
        lambda prev, regs: merge_cms_registers(prev, regs, group_cols),
        lambda spark, batch_id: _latest_state_below(spark, state_dir, batch_id),
    )


def streaming_cms_counts(
    stream_df: DataFrame,
    col: str,
    state_dir: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 512,
    group_cols: list[str] | None = None,
) -> None:
    """Streaming frequency estimation (L4 x T): maintain the portable
    Count-Min register table (operators/sketch.py) incrementally over
    an unbounded stream — bounded state (``depth * width`` rows per
    group forever) where exact streaming term counts would key state
    on every distinct term seen.

    CMS registers are SUMS, not the HLL's idempotent MAX — so the
    commit discipline here is stricter than
    :func:`streaming_hll_distinct`'s: each micro-batch merges the
    newest version STRICTLY BELOW its own batch id and overwrites its
    own version directory. A crash-replayed batch therefore rebuilds
    ``v{N}`` from ``v{N-1}`` + its rows and lands on the identical
    table instead of double-counting itself — exactly-once by
    construction, without any engine-level transaction. (Versions
    remain point-in-time snapshots; prune freely below the newest.)

    Pair ``state_dir`` with its ``checkpoint_dir`` for the stream's
    lifetime, as with the HLL form. Read estimates with
    :func:`cms_state_estimate`.
    """
    _drain(
        stream_df,
        _cms_update(col, state_dir, depth, width, group_cols, checkpoint_dir),
        checkpoint_dir,
    )


def cms_state_estimate(
    spark,
    state_dir: str,
    probes: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 512,
    out_col: str = "cms_estimate",
) -> DataFrame | None:
    """Point-frequency estimates for ``probes`` against the newest
    committed register state; None before the first commit."""
    from xlearning_spark.operators.sketch import cms_estimate

    latest = _latest_hll_state(spark, state_dir)
    if latest is None:
        return None
    return cms_estimate(
        spark.read.parquet(latest), probes, col, depth, width, out_col
    )


def excise_ingest(
    stream_df: DataFrame,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> list[int]:
    """Streaming exact substring-dedup EXCISION (L2 x T): each landed
    micro-batch is rewritten with duplicated k-token spans removed —
    a span is excised when the number of distinct documents containing
    it, counted across ALL previously-landed batches (via the
    accumulated shingle-count registry) plus this batch, reaches
    ``min_docs`` — then appended to ``out_dir``. The streaming
    composition of :func:`~xlearning_spark.operators.dedup.
    excise_duplicate_spans`. The intra-batch and cross-batch thresholds
    are the SAME ``min_docs`` (ADVICE r5: the earlier presence-only
    registry silently degraded the cross-batch threshold to 2).

    Forward-only semantics, stated honestly: already-landed text is
    immutable, so the FIRST occurrence of a span keeps it while every
    later occurrence is excised — whereas the batch twin, seeing the
    whole corpus at once, removes a shared span from every doc
    including the first. (Intra-batch dups behave exactly like the
    batch operator.)

    Exactly-once by construction, no engine transaction needed:

    - registry state is DELTA-partitioned — batch N overwrites
      ``state_dir/batch=N`` with ``(__h, __nd)`` rows: the number of
      distinct docs in batch N containing each shingle, written ONLY
      for shingles whose prior cumulative count is still below
      ``min_docs`` (saturation cap: once a shingle's accumulated sum
      reaches the threshold, later batches add no rows for it, so
      registry growth per shingle is bounded by ``min_docs`` rows
      regardless of how hot it is). Reads take strictly-below
      partitions (``batch < N``) and SUM the deltas; a replayed batch
      sees the identical prior registry and rewrites its own partition
      idempotently (the additive-state discipline of
      :func:`streaming_cms_counts`, in delta form);
    - cleaned docs land in ``out_dir/batch=N`` with overwrite, so
      replays cannot double-append.

    100 TB shape: per batch, one posexplode + doc-key window over the
    BATCH only; one hash-keyed aggregate of the registry deltas plus a
    left join against batch shingle counts (at scale bucket-sort the
    registry on ``__h`` so the probe co-locates); registry growth is
    bounded by min_docs x distinct-shingle count, never rewritten —
    only delta-appended.

    Returns the batch ids that landed at least one document.
    """
    from xlearning_spark.operators.dedup import (
        _span_position_rows,
        excise_from_flags,
    )

    processed: list[int] = []

    def step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, text_col).dropDuplicates([id_col])
        if batch.isEmpty():
            return
        rows = scope().persist(_span_position_rows(batch, id_col, text_col, k))
        starts = rows.filter(F.col("__h").isNotNull())
        batch_counts = starts.groupBy("__h").agg(
            F.countDistinct(id_col).alias("__nd")
        )
        reg = _read_state_parquet(spark, state_dir)
        if reg is not None:
            prior = (
                reg.filter(F.col("batch") < batch_id)
                .groupBy("__h")
                .agg(F.sum("__nd").alias("__prior"))
            )
            scored = batch_counts.join(prior, "__h", "left").withColumn(
                "__prior", F.coalesce("__prior", F.lit(0))
            )
        else:
            scored = batch_counts.withColumn("__prior", F.lit(0))
        # Used twice (dup verdicts + registry delta): one pass, cached.
        scored = scope().persist(scored)
        dup = scored.filter(
            F.col("__nd") + F.col("__prior") >= min_docs
        ).select("__h")
        # Semi join: never multiplies rows even if `dup` had overlaps.
        dup_pos = starts.join(dup, "__h", "left_semi").select(
            id_col, "pos", F.lit(1).alias("__dup")
        )
        flagged = rows.join(dup_pos, [id_col, "pos"], "left").select(
            id_col, "pos", "tok", F.coalesce("__dup", F.lit(0)).alias("__dup")
        )
        cleaned = scope().checkpoint(
            excise_from_flags(flagged, batch.select(F.col(id_col)), id_col, k),
            eager=True,
        )
        # Registry delta: this batch's per-shingle distinct-doc counts,
        # dropped once the prior sum has saturated at min_docs.
        delta = scored.filter(F.col("__prior") < F.lit(min_docs)).select(
            "__h", "__nd"
        )
        delta = scope().checkpoint(delta, eager=True)
        cleaned.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )
        delta.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"batch={batch_id}")
        )
        processed.append(batch_id)

    # The lease completes any compaction swap a crash interrupted
    # (idempotent, no-op in the common case) before the first registry
    # read. The same-session guard in compact_excise_registry is the
    # query name; the lease lets another process at least DETECT the
    # live ingest.
    query = _excise_query_name(state_dir)
    with _ingest_lease(stream_df.sparkSession, state_dir, query, _finish_compaction):
        _drain(stream_df, step, checkpoint_dir, query)
    return processed


# ---------------------------------------------------------------- state
# maintenance: registry compaction + sketch-version pruning.  The
# streaming commit disciplines above keep state exactly-once but let it
# GROW — one delta partition per micro-batch (excise_ingest), one
# version directory per batch (CMS/HLL).  At 100 TB-pipeline lifetimes
# that is thousands of partitions whose per-batch read cost creeps up
# linearly; these two offline maintenance ops bound it again without
# weakening the replay guarantees (reference analogue: the staging-dir
# cleanup half of the commit protocol, ApplicationMaster.java:3106-3172).


def _fs_for(spark, path: str):
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jvm


def _excise_query_name(state_dir: str) -> str:
    """Stream name :func:`excise_ingest` registers for a registry dir —
    the handle :func:`compact_excise_registry` uses to refuse running
    concurrently with a live ingest on the same state."""
    return f"excise_ingest:{state_dir.rstrip('/')}"


#: Lease file every live landing ingest holds (:func:`_ingest_lease`):
#: :func:`excise_ingest` in its ``state_dir``, the batch-landing ingests
#: in their output dir. Offline compaction in ANOTHER process/session
#: can at least detect the concurrency (ADVICE r7) — the same-session
#: query-name check cannot see it.
_INGEST_LEASE = "_INGEST_LEASE"

#: Staging dir and commit marker of the compactors' staged swap
#: (:func:`_committed_staging`). Dot-prefixed: invisible to readers.
_COMPACT_STAGING = ".compact_staging"
_COMPACT_MARKER = "_COMMITTED_COMPACTION"

#: Per-version run marker for the CMS/HLL sketch state (ADVICE r7):
#: carries the streaming query id persisted in the checkpoint metadata,
#: which is stable across restarts of the SAME checkpoint but fresh
#: after a checkpoint reset — exactly the lineage a version belongs to.
#: Leading underscore: invisible to Spark's parquet reader.
_SKETCH_RUN = "_SKETCH_RUN"


def _write_small_file(spark, path: str, text: str) -> None:
    fs, jvm = _fs_for(spark, path)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path), True)
    try:
        out.write(text.encode())
    finally:
        out.close()


def _read_small_file(spark, path: str) -> str | None:
    fs, jvm = _fs_for(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes()).decode()
    finally:
        stream.close()


def _mark_sketch_version(spark, version_dir: str, checkpoint_dir: str) -> None:
    """Stamp a committed sketch version with its run lineage (see
    :data:`_SKETCH_RUN`); silently skipped when the checkpoint metadata
    is not readable — the pruner's mtime guard covers unmarked dirs."""
    run = _checkpoint_lineage_id(spark, checkpoint_dir)
    if run:
        _write_small_file(
            spark, os.path.join(version_dir, _SKETCH_RUN), run
        )


def _checkpoint_lineage_id(spark, checkpoint_dir: str) -> str | None:
    """The query id Structured Streaming persists in
    ``checkpoint_dir/metadata`` at stream start — the run lineage for
    :data:`_SKETCH_RUN` markers. None if unreadable (e.g. tests driving
    the update function directly, with no checkpoint)."""
    import json

    try:
        raw = _read_small_file(spark, os.path.join(checkpoint_dir, "metadata"))
        return json.loads(raw).get("id") if raw else None
    except Exception:
        return None


def _refuse_or_clear_lease(spark, out_dir: str, caller: str, ignore_lease: bool) -> None:
    """The compactors' cross-process guard: refuse while ``out_dir``
    holds an :data:`_INGEST_LEASE` unless the operator passed
    ``ignore_lease``, and then clear it — so ONE confirmed override
    restores normal operation instead of every later compaction
    needing ``ignore_lease`` forever (ADVICE r8)."""
    path = os.path.join(out_dir, _INGEST_LEASE)
    lease = _read_small_file(spark, path)
    if lease is None:
        return
    if not ignore_lease:
        raise RuntimeError(
            f"{caller}({out_dir!r}) refused: it holds an ingest lease "
            f"({lease}) — an ingest in another process/session may be live, "
            "and compaction is offline-only. If that ingest crashed (stale "
            "lease), re-run it or pass ignore_lease=True."
        )
    fs, jvm = _fs_for(spark, out_dir)
    fs.delete(jvm.org.apache.hadoop.fs.Path(path), False)


class _Staging(NamedTuple):
    """A committed compaction staging dir: the filesystem it lives on
    (from :func:`_fs_for` at call time), the Hadoop ``Path`` class, the
    staging path and the folded-through batch id from ``_UPTO``."""

    fs: Any
    hpath: Any
    path: str
    upto: int


def _committed_staging(spark, out_dir: str) -> _Staging | None:
    """Recovery half of the compactors' staged swap (the Hbox
    ``_temporary`` → rename → ``_SUCCESS`` protocol,
    ApplicationMaster.java:3106-3172), independent of layout: the
    committed staging dir of ``out_dir``, or None when there is none.
    An UNcommitted leftover (crash before the marker) is dropped here:
    the unfolded state is intact and authoritative. The caller then
    runs its own layout's delete-and-move step."""
    fs, jvm = _fs_for(spark, out_dir)
    hpath = jvm.org.apache.hadoop.fs.Path
    staging = os.path.join(out_dir, _COMPACT_STAGING)
    if not fs.exists(hpath(os.path.join(staging, _COMPACT_MARKER))):
        if fs.exists(hpath(staging)):
            fs.delete(hpath(staging), True)
        return None
    upto = int(_read_small_file(spark, os.path.join(staging, "_UPTO")))
    return _Staging(fs, hpath, staging, upto)


def _commit_staging(spark, out_dir: str, folded: DataFrame, upto: int) -> None:
    """Commit half of the staged swap: write ``folded`` to the staging
    dir, then ``_UPTO``, then the commit marker. A crash before the
    marker leaves the old state authoritative; after it the swap is
    completed by the layout's finisher, which the caller runs next."""
    staging = os.path.join(out_dir, _COMPACT_STAGING)
    folded.write.mode("overwrite").parquet(staging)
    _write_small_file(spark, os.path.join(staging, "_UPTO"), str(upto))
    _write_small_file(spark, os.path.join(staging, _COMPACT_MARKER), "")


def _registry_partitions(fs, hpath, state_dir: str) -> list:
    """``(batch id, Path)`` of every ``batch=<id>`` partition that
    exists under ``state_dir`` (globbed — never an id range)."""
    parts = []
    for st in fs.globStatus(hpath(os.path.join(state_dir, "batch=*"))) or []:
        try:
            parts.append((int(st.getPath().getName().split("=", 1)[1]), st.getPath()))
        except ValueError:
            continue
    return parts


def _finish_compaction(spark, state_dir: str) -> bool:
    """Idempotent recovery of :func:`compact_excise_registry`'s swap:
    if a committed staging dir exists (crash AFTER the marker, DURING
    the swap), complete the swap — delete every folded partition and
    rename staging into place as ``batch=-1``. Returns True if a swap
    was completed."""
    stg = _committed_staging(spark, state_dir)
    if stg is None:
        return False
    for bid, path in _registry_partitions(stg.fs, stg.hpath, state_dir):
        if bid <= stg.upto:
            stg.fs.delete(path, True)
    # Hadoop FileSystem.rename reports failure by returning FALSE, not
    # by raising — an unchecked failed swap here would leave the folded
    # partitions deleted and the merged base invisible inside
    # .compact_staging, a silent under-count window until some later
    # recovery call happened to succeed (ADVICE r6). Raise loudly; the
    # committed staging dir survives, so retrying this function (or the
    # next excise_ingest start) completes the swap.
    base = os.path.join(state_dir, "batch=-1")
    if not stg.fs.rename(stg.hpath(stg.path), stg.hpath(base)):
        raise IOError(
            f"compaction swap failed: rename({stg.path!r} -> {base!r}) "
            "returned false; the committed staging dir is intact — re-run "
            "compact_excise_registry (or restart the ingest stream) to "
            "complete the swap"
        )
    return True


def compact_excise_registry(
    spark,
    state_dir: str,
    upto_batch: int | None = None,
    ignore_lease: bool = False,
) -> int | None:
    """Fold :func:`excise_ingest`'s per-batch registry delta partitions
    into ONE base partition ``batch=-1`` — bounded registry read cost
    for long-lived streams, with the replay guarantee intact.

    Why ``batch=-1`` works unchanged: the ingest read path takes
    ``batch < N`` and sums ``__nd`` — the base partition (-1) is below
    every real batch id, so post-compaction reads see exactly the same
    cumulative sums through one partition instead of thousands.

    Why the default ``upto_batch = max - 1`` is always replay-safe:
    Structured Streaming commits batch N's checkpoint before starting
    N+1, so every state partition EXCEPT possibly the newest belongs
    to a committed batch and can never be replayed. The newest may be
    a crash orphan whose replay must still see ``batch < N`` WITHOUT
    its own delta — so it is never folded by default. Pass
    ``upto_batch=max`` only for a fully-drained stream.

    Crash discipline: the staged swap both compactors share
    (:func:`_commit_staging` / :func:`_committed_staging`). Merged sums
    are committed to a dot-prefixed staging dir (invisible to
    partitioned reads); this layout's swap deletes the folded
    partitions and renames staging to ``batch=-1``. A crash before the
    marker leaves the old partitions authoritative (staging discarded
    on recovery); a crash after it is completed idempotently by
    :func:`_finish_compaction`, which both this function and
    :func:`excise_ingest` (at lease acquisition) run first.

    OFFLINE-ONLY: must not run while an :func:`excise_ingest` stream on
    this ``state_dir`` is live — a micro-batch that reads the registry
    between the swap's deletes and its rename would sum an incomplete
    registry and under-excise. The crash path is safe (marker +
    :func:`_finish_compaction`); the concurrency path is not. Guarded
    twice: this function raises if the session has an active streaming
    query named for this registry (the name :func:`excise_ingest`
    registers), and — for ingests in a DIFFERENT SparkSession or
    process — if the registry holds a live :data:`_INGEST_LEASE` file
    (best-effort, ADVICE r7: detection, not a real lock — an ingest
    starting mid-compaction still races). A crashed ingest leaves its
    lease behind; pass ``ignore_lease=True`` after confirming nothing
    is live (or just re-run the ingest, which releases it on exit).

    Returns the folded-through batch id, or None if there was nothing
    to compact.
    """
    want = _excise_query_name(state_dir)
    for aq in spark.streams.active:
        if aq.name == want:
            raise RuntimeError(
                f"compact_excise_registry({state_dir!r}) refused: "
                f"streaming query {want!r} is active on this registry — "
                "compaction is offline-only (stop or drain the ingest "
                "first)"
            )
    _refuse_or_clear_lease(spark, state_dir, "compact_excise_registry", ignore_lease)
    _finish_compaction(spark, state_dir)
    fs, jvm = _fs_for(spark, state_dir)
    hpath = jvm.org.apache.hadoop.fs.Path
    ids = [i for i, _ in _registry_partitions(fs, hpath, state_dir)]
    real = [i for i in ids if i >= 0]
    if not real:
        return None
    upto = max(real) - 1 if upto_batch is None else min(upto_batch, max(real))
    fold = [i for i in ids if i <= upto]  # includes batch=-1 if present
    if len(fold) < 2:
        return None
    dirs = [os.path.join(state_dir, f"batch={i}") for i in fold]
    merged = (
        spark.read.parquet(*dirs)
        .groupBy("__h")
        .agg(F.sum("__nd").alias("__nd"))
    )
    _commit_staging(spark, state_dir, merged, upto)
    _finish_compaction(spark, state_dir)
    return upto


_BATCH_FILE_RE = r"^batch-(\d{10})-\d{5}\.parquet$"
_BASE_FILE_RE = r"^base-(\d{10})-\d+\.parquet$"


def _finish_batch_compaction(spark, out_dir: str) -> bool:
    """Idempotent recovery of :func:`compact_batch_output`'s swap (the
    :func:`_finish_compaction` discipline on flat batch files): if a
    committed staging dir exists, complete the swap — delete every
    folded ``batch-<id<=upto>-*`` / ``base-<gen<upto>-*`` file, move
    the staged part files in as ``base-<upto>-<i>.parquet``, drop the
    staging dir. Returns True if a swap was completed."""
    stg = _committed_staging(spark, out_dir)
    if stg is None:
        return False
    fs, hpath, upto = stg.fs, stg.hpath, stg.upto
    for st in fs.globStatus(hpath(os.path.join(out_dir, "*.parquet"))) or []:
        name = st.getPath().getName()
        mb = re.match(_BATCH_FILE_RE, name)
        mg = re.match(_BASE_FILE_RE, name)
        if (mb and int(mb.group(1)) <= upto) or (mg and int(mg.group(1)) < upto):
            fs.delete(st.getPath(), False)
    staged = sorted(
        (st.getPath() for st in fs.globStatus(hpath(stg.path + "/part-*")) or []),
        key=lambda p: p.getName(),
    )
    for src in staged:
        # Destination name is a PURE FUNCTION of the staged source
        # (its Spark part index), never of the enumeration order
        # (ADVICE r12): a crash mid-rename leaves some indexes already
        # moved, and a recovery that re-enumerated only the REMAINDER
        # starting at i=0 would collide with — and on POSIX rename
        # silently overwrite — the first attempt's files. The delete
        # phase above keeps base-<upto> files (strictly ``< upto``),
        # so recovery resumes exactly where the crash stopped.
        m = re.match(r"^part-(\d+)", src.getName())
        if m is None:
            raise IOError(
                f"batch compaction swap: unexpected staged file "
                f"{src.getName()!r} (not a Spark part file); staging is "
                "intact — inspect before re-running compact_batch_output"
            )
        dst = hpath(
            os.path.join(out_dir, f"base-{upto:010d}-{int(m.group(1))}.parquet")
        )
        if fs.exists(dst):
            # A prior attempt already moved this index (possible only
            # on a filesystem whose rename is copy+delete and died
            # between the two): the destination is authoritative —
            # drop the leftover source and keep going.
            fs.delete(src, False)
            continue
        # Hadoop rename reports failure by returning false — raise
        # loudly; the committed staging survives, so re-running this
        # function (or the next compact call) completes the swap.
        if not fs.rename(src, dst):
            raise IOError(
                f"batch compaction swap failed: rename({src} -> {dst}) "
                "returned false; staging is intact — re-run "
                "compact_batch_output to complete the swap"
            )
    fs.delete(hpath(stg.path), True)
    return True


def compact_batch_output(
    spark,
    out_dir: str,
    upto_batch: int | None = None,
    ignore_lease: bool = False,
) -> int | None:
    """Fold the per-batch files an :func:`idempotent_batch_append`-
    based ingest accumulates (``scored_ingest``, ``ann_ingest``,
    ``tokenized_ingest``, ``neardup_ingest``) into one generation of
    right-sized ``base-<gen>-*`` files — the offline answer to the
    streaming small-files problem: a long-lived ingest lands >= 1 file
    per micro-batch, and at 100 TB-pipeline lifetimes that is
    thousands of files whose per-read open/footer cost creeps up
    linearly. Row content is byte-identical; only the file layout
    changes (readers do a flat ``spark.read.parquet(out_dir)`` before
    and after).

    Replay safety (the :func:`compact_excise_registry` argument):
    Structured Streaming commits batch N's checkpoint before starting
    N+1, so every batch file except possibly the NEWEST belongs to a
    committed batch and can never be re-delivered. The newest may be a
    crash orphan whose replay must still find its own ``batch-<id>-*``
    files to overwrite (and, for ``neardup_ingest``, to EXCLUDE from
    the corpus read) — so the default ``upto_batch = max - 1`` never
    folds it. Pass ``upto_batch=max`` only for a fully-drained stream.

    Crash discipline: the staged swap both compactors share
    (:func:`_commit_staging` / :func:`_committed_staging`), sized by
    bytes. Folded rows, coalesced to ~``maxPartitionBytes``-sized files
    without a shuffle, are committed to a dot-prefixed staging dir
    (invisible to parquet readers); this layout's swap deletes the
    folded files and moves the staged files in as the new generation.
    A crash before the marker leaves the original files authoritative;
    after it, :func:`_finish_batch_compaction` completes idempotently
    on the next call or at the next ingest's lease acquisition.
    Generations are strictly increasing (a fold with nothing new to add
    returns None), so recovery can distinguish old from new base files
    by name alone — no manifest needed.

    OFFLINE-ONLY: stop or drain the ingest first. Every batch-landing
    ingest holds an ``_INGEST_LEASE`` in its output dir for the drain
    (:func:`_ingest_lease`), and compaction refuses while one
    exists — the cross-process guard of :func:`compact_excise_
    registry`. A crashed drain leaves a stale lease; re-run the ingest
    (it rewrites then clears the lease) or pass ``ignore_lease=True``
    after confirming nothing is live — one confirmed override clears
    it. Returns the new generation id, or None if there was nothing to
    fold."""
    _refuse_or_clear_lease(spark, out_dir, "compact_batch_output", ignore_lease)
    _finish_batch_compaction(spark, out_dir)
    fs, jvm = _fs_for(spark, out_dir)
    hpath = jvm.org.apache.hadoop.fs.Path
    listing = []  # (name, uri, bytes) for every batch-/base- file
    for st in fs.globStatus(hpath(os.path.join(out_dir, "*.parquet"))) or []:
        listing.append(
            (st.getPath().getName(), st.getPath().toString(), st.getLen())
        )
    batch_ids = [
        int(m.group(1))
        for name, _, _ in listing
        if (m := re.match(_BATCH_FILE_RE, name))
    ]
    base_gens = [
        int(m.group(1))
        for name, _, _ in listing
        if (m := re.match(_BASE_FILE_RE, name))
    ]
    if not batch_ids:
        return None
    newest = max(batch_ids)
    upto = newest - 1 if upto_batch is None else min(upto_batch, newest)
    if base_gens and max(base_gens) > upto:
        # The existing base already folds batches beyond upto — there
        # is no generation boundary at upto to fold to.
        return None
    fold = [
        (uri, size)
        for name, uri, size in listing
        if (
            (m := re.match(_BATCH_FILE_RE, name)) and int(m.group(1)) <= upto
        )
        or re.match(_BASE_FILE_RE, name)
    ]
    n_batch_folded = sum(
        1
        for name, _, _ in listing
        if (m := re.match(_BATCH_FILE_RE, name)) and int(m.group(1)) <= upto
    )
    if n_batch_folded == 0:
        return None  # nothing new to add to the base
    # NOTE no minimum on len(fold) (ADVICE r12): a drained stream that
    # landed exactly one batch file still folds — upto_batch=max on a
    # single-batch stream must produce a base generation, not a no-op,
    # or the drained-mode contract ("all base files") breaks.
    total = sum(size for _, size in fold)
    max_bytes = int(
        jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
        )
    )
    n_out = max(1, math.ceil(total / max_bytes))
    folded = spark.read.parquet(*[uri for uri, _ in fold]).coalesce(n_out)
    _commit_staging(spark, out_dir, folded, upto)
    _finish_batch_compaction(spark, out_dir)
    return upto


def prune_sketch_versions(spark, state_dir: str, keep: int = 2) -> list[str]:
    """Delete all but the newest ``keep`` version directories of the
    CMS/HLL versioned sketch state (:func:`streaming_cms_counts`,
    :func:`streaming_hll_distinct`) — each ``v{N}`` is a point-in-time
    SNAPSHOT, so only the newest is ever needed for estimates.

    ``keep=2`` is the replay-safe floor for a stream that may still be
    running: the newest version can be a crash orphan whose batch was
    never checkpoint-committed, and its replay rebuilds FROM the
    version strictly below it (:func:`_latest_state_below`) — pruning that
    predecessor would strand the replay. ``keep=1`` is valid only for
    a fully-drained stream. Returns the deleted paths.

    RESTART CAVEAT (ADVICE r6): after a checkpoint-RESET restart (the
    stale-window case the CMS/HLL docstrings describe) the new run's
    batch ids — and therefore its ``v{N}`` numbers — start over below
    the old run's, so "newest N by version number" would keep the DEAD
    run's versions and delete the live run's entire fresh chain,
    including the predecessor a crash-replayed batch rebuilds from.
    Guarded twice (ADVICE r7 hardened the first guard):

    - PRIMARY: each version written by the streaming forms carries a
      ``_SKETCH_RUN`` marker with the checkpoint's persisted query id
      (stable across restarts of the same checkpoint, fresh after a
      reset). More than one distinct run id in the state dir → refuse
      — immune to mtime granularity.
    - FALLBACK (marker-less versions only, e.g. state written before
      the marker existed): versions written by one run are modified in
      version order, so a lower-numbered directory that is NEWER on
      disk than the highest-numbered one means two runs share the
      state dir → refuse. Coarse-mtime filesystems can evade this one
      (same-tick rewrites), which is why the marker is primary.

    Recover by deleting the dead run's ``v*`` directories manually
    (they are point-in-time snapshots; the live run never reads them),
    then prune.
    """

    if keep < 1:
        raise ValueError("keep must be >= 1")
    vers = []  # (version number, mtime, path string, run id | None)
    for n, st in _sketch_versions(spark, state_dir):
        p = st.getPath().toString()
        run = _read_small_file(spark, os.path.join(p, _SKETCH_RUN))
        vers.append((n, st.getModificationTime(), p, run))
    if not vers:
        return []
    run_ids = {run for _, _, _, run in vers if run is not None}
    if len(run_ids) > 1:
        by_run = {
            run: [n for n, _, _, r in vers if r == run] for run in run_ids
        }
        raise RuntimeError(
            f"prune_sketch_versions({state_dir!r}) refused: versions "
            f"carry {len(run_ids)} distinct run ids ({by_run}) — the "
            "state dir mixes a dead run with a restarted "
            "(checkpoint-reset) run, and number-order pruning would "
            "delete the live run's chain. Delete the dead run's v* "
            "directories manually, then prune."
        )
    unmarked = [n for n, _, _, run in vers if run is None]
    top_mtime = vers[-1][1]
    stale = [n for n, mt, _, _ in vers[:-1] if mt > top_mtime]
    if unmarked and stale:
        raise RuntimeError(
            f"prune_sketch_versions({state_dir!r}) refused: versions "
            f"{stale} are newer on disk than the highest-numbered "
            f"version v{vers[-1][0]} (and versions {unmarked} carry no "
            "run marker to disambiguate) — the state dir may mix a "
            "dead run with a restarted (checkpoint-reset) run, and "
            "number-order pruning would delete the live run's chain. "
            "Delete the dead run's v* directories manually, then prune."
        )
    doomed = [p for _, _, p, _ in vers[:-keep]] if keep < len(vers) else []
    fs, jvm = _fs_for(spark, state_dir)
    for d in doomed:
        fs.delete(jvm.org.apache.hadoop.fs.Path(d), True)
    return doomed
