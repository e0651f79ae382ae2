"""Dataset sharding / distribution modes (SURVEY.md §2.2 P1-P6).

The reference's core "physical operators" assign whole files or
InputSplits to workers. Spark equivalents, as explicit APIs so the
capability is auditable:

  P1 round-robin       -> round_robin_assignment / repartition(n)
  P2 chief carve-out   -> chief_minimum_assignment
  P3 broadcast-to-all  -> broadcast_all (every "worker" sees all paths)
  P5 shuffled vs contiguous split -> contiguous_assignment
  P6 epoch replay + cache -> epoch_replay

Where the reference moves files, the engine moves *partitions*; the
assignment math is kept identical (cited per function) so behavior is
checkable row-for-row in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from xlearning_spark.engine import scope


def list_input_files(df: DataFrame) -> DataFrame:
    """Distinct source files of a scan (S1/S5): alias-level file set."""
    return df.select(F.input_file_name().alias("path")).distinct()


#: Logical-plan node names that keep a frame NARROW (scan + per-row
#: work only — no exchange, no barrier). A plan containing ONLY these
#: can be partition-probed without executing anything, and spreading
#: it recovers parallelism a single-file scan lacks. Anything NOT in
#: this allowlist (Join, Aggregate, Window, Sort, Repartition,
#: Deduplicate, GlobalLimit, FlatMapGroupsInPandas, set ops, ...)
#: disqualifies the frame: it is at least session-parallel downstream
#: of its own exchange, and under AQE an ``.rdd`` probe on such a plan
#: would eagerly execute its shuffle stages. Unknown node names
#: therefore fail CLOSED (no probe, no spread) — a misfire is a no-op,
#: never a wrong result. (r14, ADVICE r13: the previous implementation
#: substring-matched the whole plan string, so a field or relation
#: name containing "Sort"/"Join" silently disabled the spread, and
#: wide nodes missing from its denylist fell through to the probe.)
_NARROW_NODES = frozenset(
    {
        "Relation",
        "LogicalRelation",
        "LocalRelation",
        "Project",
        "Filter",
        "Union",
        "Generate",
        "SubqueryAlias",
        "View",
        "Sample",
        "LocalLimit",
        "MapInPandas",
        "PythonMapInArrow",
        "MapInArrow",
    }
)

_NODE_NAME_RE = None  # compiled lazily (module import stays light)


def _plan_node_names(df: DataFrame) -> list[str] | None:
    """Node names of the analyzed logical plan, one per tree line.

    Parsed from the plan's tree rendering with a line-anchored match:
    every node prints as ``[indent glyphs]NodeName args...``, so the
    first identifier after the ``+- : |`` tree prefix IS the node's
    class-derived name — argument text (aliases, relation names) can
    no longer fake or mask a node. Returns None when the plan string
    cannot be obtained (caller decides the conservative action).
    """
    global _NODE_NAME_RE
    if _NODE_NAME_RE is None:
        import re

        _NODE_NAME_RE = re.compile(r"^[\s+:\-|]*'?([A-Za-z][A-Za-z0-9_]*)")
    try:
        tree = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    names = []
    for line in tree.splitlines():
        if not line.strip():
            continue
        m = _NODE_NAME_RE.match(line)
        if m:
            names.append(m.group(1))
    return names


def probe_small_scan(df: DataFrame, min_partitions: int) -> bool | None:
    """True = the frame is a NARROW plan whose planned parallelism is
    below ``min_partitions`` (the local single-file-fixture case —
    spreading it is cheap and wins); False = already wide enough, or
    contains a wide operator (the 100 TB case — leave the plan alone);
    None = the partition probe itself failed (caller chooses the
    conservative action)."""
    names = _plan_node_names(df)
    if names is None or any(n not in _NARROW_NODES for n in names):
        return False
    try:
        return df.rdd.getNumPartitions() < min_partitions
    except Exception:
        return None


def spread_small_scan(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a scan-stage frame ONLY when its planned
    parallelism is below the session's shuffle parallelism.

    The r13 optimization pass found the local-fixture pathology this
    guards against: a single parquet file scans as ONE partition, so a
    map-heavy chain (shingle hashing, pair verification, signature
    computation) downstream of it runs on one core of a 32-core session
    — q42's pair loop measured 4.3 s single-partition vs 0.7 s spread.
    The naive fix (unconditional ``repartition(n)``) is scale-hostile
    the other way round: a 100 TB scan already carries ~1e5-1e6 splits,
    and repartitioning it to the session's shuffle parallelism is a
    full-corpus shuffle that COALESCES into huge partitions. Probing
    the planned partition count makes the spread adaptive: shuffle only
    the under-parallel case, pass the already-parallel frame through
    untouched (plan-identical).

    Meant for frames whose plan is exchange-free (a scan plus
    projections/filters/unions/generates): there
    ``df.rdd.getNumPartitions()`` is pure planning, no job. Wide-
    operator frames are returned untouched WITHOUT probing, decided by
    a line-anchored walk of the analyzed plan's node names against a
    narrow-node allowlist (see ``_NARROW_NODES``); if only the
    partition probe fails the frame is repartitioned unconditionally
    (always safe for correctness).
    """
    spark = df.sparkSession
    if min_partitions is None:
        min_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "200")
        )
    # A failed probe (None) also spreads: always safe for correctness.
    if probe_small_scan(df, min_partitions) is False:
        return df
    return df.repartition(min_partitions)


def round_robin_assignment(files: list[str], n_workers: int) -> dict[int, list[str]]:
    """P1: ``i % n`` over the sorted file list — the exact allocation of
    ApplicationMaster.java:971-1041 (mod at :1010-1011)."""
    out: dict[int, list[str]] = {i: [] for i in range(n_workers)}
    for i, f in enumerate(sorted(files)):
        out[i % n_workers].append(f)
    return out


def contiguous_assignment(files: list[str], n_workers: int) -> dict[int, list[str]]:
    """P5 (shuffle=false): contiguous blocks of len/n, remainder spread
    one-per-worker from the front (ApplicationMaster.java:1142-1158)."""
    fs = sorted(files)
    n = len(fs)
    base, rem = divmod(n, n_workers)
    out: dict[int, list[str]] = {}
    pos = 0
    for w in range(n_workers):
        take = base + (1 if w < rem else 0)
        out[w] = fs[pos : pos + take]
        pos += take
    return out


def chief_minimum_assignment(
    files: list[str], n_workers: int, chief_min: int = 1
) -> dict[int, list[str]]:
    """P2: first ``chief_min`` files pinned to worker 0, the rest
    round-robin over workers 1..n-1 (ApplicationMaster.java:987-1008,
    ``hbox.chief.worker.minimum.data``) — the reference's manual skew
    carve-out. (Query-side skew is AQE's job; this exists for file-feed
    parity.)"""
    fs = sorted(files)
    out: dict[int, list[str]] = {i: [] for i in range(n_workers)}
    out[0] = fs[:chief_min]
    rest = fs[chief_min:]
    if n_workers == 1:
        out[0].extend(rest)
        return out
    for i, f in enumerate(rest):
        out[1 + (i % (n_workers - 1))].append(f)
    return out


def broadcast_all(files: list[str], n_workers: int) -> dict[int, list[str]]:
    """P3: every worker receives the full list
    (allocateWholeInput, ApplicationMaster.java:1043-1076)."""
    fs = sorted(files)
    return {i: list(fs) for i in range(n_workers)}


def repartition_mode(df: DataFrame, n: int, mode: str = "shuffle") -> DataFrame:
    """Partition-level analogue of P5: 'shuffle' -> hash round-robin
    (``repartition``), 'contiguous' -> merge adjacent (``coalesce``)."""
    if mode == "shuffle":
        return df.repartition(n)
    if mode == "contiguous":
        return df.coalesce(n)
    raise ValueError(f"unknown mode: {mode}")


def epoch_replay(
    df: DataFrame,
    epochs: int,
    cache: bool = True,
    shuffle: bool = False,
    seed: int = 0,
) -> DataFrame:
    """P6: re-deliver the dataset ``epochs`` times with an ``epoch``
    column; first pass materializes a cache so later epochs never
    re-read the source — the Spark translation of the reference's
    epoch-0 gzip tee (HboxContainer.java:1158-1199,
    ``inputformatCache.gz``). The cache is registered with the open
    :func:`~xlearning_spark.engine.intermediates` scope (``job.submit``
    opens one per submit, so the tee dies with the job, as the
    reference's dies with its container); with no scope open the
    caller owns it.

    ``shuffle=True`` re-orders records independently per epoch — the
    reference's optional between-epoch stream shuffle
    (``hbox.input.stream.shuffle``, HboxContainer.java:1158-1199 path).
    Rows are redistributed and ordered by an epoch-seeded ``xxhash64``
    over the full row: each epoch sees a different but deterministic
    order with an identical multiset, and the reorder is one shuffle
    per epoch with no driver involvement.
    """
    if epochs < 1:
        raise ValueError("epochs must be >= 1")
    base = scope().persist(df, StorageLevel.DISK_ONLY) if cache else df
    out = None
    for e in range(epochs):
        tagged = base.withColumn("epoch", F.lit(e))
        if shuffle:
            key = F.xxhash64(F.lit(seed + e), *[F.col(c) for c in base.columns])
            tagged = (
                tagged.withColumn("__shuffle_key", key)
                .repartition("__shuffle_key")
                .sortWithinPartitions("__shuffle_key")
                .drop("__shuffle_key")
            )
        out = tagged if out is None else out.unionByName(tagged)
    return out
