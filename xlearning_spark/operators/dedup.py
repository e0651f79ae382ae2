"""Deduplication operators (SURVEY.md §2.12 L1/L2).

Exact dedup is a hash groupBy (one shuffle). Near-dup is staged
MinHash + banded LSH — the standard 100 TB-safe shape:

  shingle -> 64 minhashes (map-side, no shuffle)
        -> B band keys per doc (map-side)
        -> explode + groupBy(band_key)  [shuffle 1, data = docs×B keys]
        -> candidate pairs within buckets (bounded by bucket size cap)
        -> exact-similarity verify on the candidates only [shuffle 2]

All hash seeds are fixed so results are deterministic run-to-run.
Reference parity note: the reference has no dedup; this is part of the
mandated LLM-pipeline extension surface.
"""

from __future__ import annotations

from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from xlearning_spark.engine import intermediates, scope
from xlearning_spark.functions import tokens, with_shingle_hashes

# Mersenne prime for the universal-hash family h_i(x) = (a_i*x + b_i) mod p.
# p = 2^31 - 1 keeps a*x + b < 2^62: no bigint overflow under ANSI mode
# (Spark 4 default), and the multiply-mod stays a plain JVM expression.
_P = (1 << 31) - 1


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per duplicate group of ``cols``.

    One shuffle (hash aggregate); deterministic keeper choice, unlike
    ``dropDuplicates`` whose survivor is partition-order dependent.
    """
    return df.groupBy(*cols).agg(F.min(id_col).alias(id_col))


def _hash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs via a tiny LCG (no RNG dependency)."""
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (_P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _P
        params.append((a, b))
    return params


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_size: int = 5,
) -> DataFrame:
    """(id, minhash array<bigint>) — map-side only, zero shuffles.

    Shingle hashes are integer-combined per-token xxhash64 values
    (functions.shingle_hashes — no per-shingle string is built), then
    the universal-hash family is applied with ``aggregate`` over the
    hash array — all per-row expressions, so the signature compute
    parallelizes embarrassingly at any scale.
    """
    params = _hash_params(num_hashes)
    # Pre-filter on token count (cheap, pushdown-friendly) instead of
    # post-filtering on the hash array: a filter on the computed column
    # gets its defining expression inlined into the pushed-down
    # predicate and re-evaluated per row (measured 40x slower).
    eligible = df.filter(F.size(tokens(text_col)) >= shingle_size)
    sh = with_shingle_hashes(eligible, text_col, "__h", shingle_size, _P).select(
        F.col(id_col), F.col("__h")
    )
    mh = sh.select(
        F.col(id_col),
        F.array(
            *[
                F.expr(
                    f"array_min(transform(__h, x -> pmod({a}L * x + {b}L,"
                    f" {_P}L)))"
                )
                for (a, b) in params
            ]
        ).alias("minhash"),
    )
    return mh


def bucket_pairs(
    banded: DataFrame,
    id_col: str,
    key_cols: list[str],
    max_bucket: int | None,
) -> DataFrame:
    """Distinct (id_a, id_b) pairs, id_a < id_b, of the ids that share a
    bucket ``key_cols`` — from posting lists, not a bucket self-join:
    one groupBy collects each bucket's ids, sorted ascending, and the
    pairs within each list are emitted in place. The pair generation
    reads each banded row once, so nothing upstream needs a cache.

    ``max_bucket`` (None: no cap) keeps only the lowest ids of a
    degenerate bucket (a null id sorts first and takes a slot). Ids are
    collected as structs so that a null id keeps its slot and the pair
    columns keep the id column's type and nullability.
    """
    ids = F.sort_array(F.collect_list(F.struct(F.col(id_col).alias("id"))))
    if max_bucket is not None:
        ids = F.slice(ids, 1, max_bucket)
    lists = banded.groupBy(*key_cols).agg(ids.alias("__ids"))
    # Each member pairs with the members after it; two explodes stream
    # the pairs instead of building one array of them per list.
    heads = lists.select("__ids", F.posexplode("__ids").alias("__i", "__a"))
    tail = F.slice("__ids", F.col("__i") + 2, F.size("__ids") - F.col("__i") - 1)
    return (
        heads.select(F.col("__a.id").alias("id_a"), F.explode(tail).alias("__b"))
        .select("id_a", F.col("__b.id").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def minhash_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH banding: docs agreeing on any full band become a candidate pair.

    Scale controls: ``max_bucket`` caps degenerate buckets (e.g. the
    empty-document signature) so no bucket explodes into O(n²); the
    pairs come from per-bucket posting lists (:func:`bucket_pairs`).
    """
    rows_per_band = num_hashes // bands
    banded = signatures.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("minhash", b * rows_per_band + i + 1)
                                for i in range(rows_per_band)
                            ],
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_key"),
    )
    return bucket_pairs(banded, id_col, ["band", "band_key"], max_bucket)


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
) -> DataFrame:
    """Full near-dup pipeline: candidates verified by exact Jaccard.

    Returns (id_a, id_b, jaccard) pairs with jaccard >= threshold.
    Verification joins shingle sets only for candidate pairs, so the
    expensive exact computation is proportional to candidate volume,
    not corpus size squared.
    """
    from xlearning_spark.operators.sharding import spread_small_scan

    params = _hash_params(num_hashes)
    # r13 (guide §2.3/§2.5): one shared shingle-hash frame feeds BOTH
    # the signature branch and the exact-Jaccard verify sides —
    # previously each branch re-ran tokenize + shingle-hash from the
    # scan (and a single-file fixture scan ran it all on one core;
    # spread_small_scan is a no-op on an already-wide scan).
    # min over duplicates == min over distinct, so signatures off the
    # raw hash array are unchanged; verify distincts per row as before.
    # r14: the frame is NOT persisted (measured under the cold-cache
    # bench protocol, paired variants in one session): writing the
    # wide array<bigint> rows to storage inside the timed run costs
    # more than re-running the codegen tokenize+hash per branch —
    # persist+buckets 3.1 s vs buckets-only 2.1 s median. At corpus
    # scale a pinned copy would risk executor disks anyway (ADVICE
    # r13). The posting-list banding reads the signatures once, so
    # the plan is lazy end to end.
    hashed = with_shingle_hashes(
        spread_small_scan(df).filter(F.size(tokens(text_col)) >= shingle_size),
        text_col,
        "__sh0",
        shingle_size,
        _P,
    ).select(F.col(id_col), F.col("__sh0"))
    sigs = hashed.select(
        F.col(id_col),
        F.array(
            *[
                F.expr(
                    f"array_min(transform(__sh0, x -> pmod({a}L * x + {b}L,"
                    f" {_P}L)))"
                )
                for (a, b) in params
            ]
        ).alias("minhash"),
    )
    pairs = minhash_candidate_pairs(sigs, id_col, num_hashes, bands)

    # Exact Jaccard over distinct shingle-hash sets (identical to the
    # string-shingle Jaccard modulo 2^-31 collision probability).
    sh = hashed.select(F.col(id_col), F.array_distinct("__sh0").alias("__sh"))
    pa = pairs.join(sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a")), "id_a")
    pab = pa.join(sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b")), "id_b")
    jac = pab.select(
        "id_a",
        "id_b",
        (
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b"))
        ).alias("jaccard"),
    )
    return jac.filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_size: int = 5,
    delta_ids: DataFrame | None = None,
    demote_hot_df: float | None = None,
    max_hot: int = 256,
) -> DataFrame:
    """Exact n-gram (word-shingle) Jaccard near-dup pairs via prefix
    filtering -> (id_a, id_b, jaccard), jaccard >= threshold.

    ``delta_ids`` (a one-column frame of ids) switches to INCREMENTAL
    mode — the production shape for a continuously-growing corpus:
    candidate pairs are restricted at the generator to those with at
    least one side in the delta, so already-deduped corpus docs are
    never re-paired against each other. The restriction is
    semantics-preserving for ingest sweeps (corpus-precedence dropping
    only asks whether a NEW doc's component touches the corpus, and
    corpus-corpus edges can merge corpus docs into a component but
    never change that predicate). Prefix keys still explode for both
    sides ONCE; only the delta's keys drive the equi join's build
    side, so the join output is ~|delta| * shared-key frequency
    instead of the full corpus pair volume.

    The AllPairs/PPJoin prefix lemma (Bayardo et al., WWW'07 — public
    set-similarity-join literature): under any global total order of
    set elements, two sets with J >= t must share at least one element
    among their first ``m - ceil(t*m) + 1`` elements. Shingles are
    hashed to int64 and sorted, each document explodes only that
    prefix (~(1-t)*m keys), and a key equi join yields the candidate
    pairs — no all-pairs product, no lossy approximation. The exact
    intersect/inclusion-exclusion verify then runs on candidates only
    (the same candidates->verify shape as the MinHash pipeline), with
    a sizes-compatible guard (t*max <= min) pruning before any array
    intersect. Candidate volume is driven by shared-rare-shingle
    frequency; a corpus dominated by one hot shingle degrades toward
    the within-key square under the default (hash) order.

    ``demote_hot_df`` is the LOSSLESS organic-skew mitigation — the
    canonical AllPairs frequency ordering (Bayardo et al. §3.1: order
    elements by ascending document frequency so prefixes hold the
    RAREST elements). The prefix lemma holds for ANY global total
    order, so the output is bit-identical; what changes is which
    shingles land in prefixes. One extra linear pass computes shingle
    document frequencies; shingles in more than ``demote_hot_df`` of
    docs (top ``max_hot`` by df — a bounded, broadcastable set) are
    demoted to the END of the order, so a boilerplate 8-gram shared by
    30 % of the corpus almost never enters anyone's prefix and its
    would-be quadratic key join vanishes. Measured (tools/skew_probe.py,
    SCALE.md organic-skew section): with a hot boilerplate in 10-50 %
    of docs the demoted order removes the hot-key term entirely while
    plain hash order degrades toward the block square. For fully
    adversarial distributions (hot shingles beyond ``max_hot``)
    compose with MinHash LSH (minhash_near_duplicates), which bounds
    bucket width by construction.

    Jaccard is computed over distinct shingle *hashes* (identical to
    string-shingle Jaccard modulo ~2^-64 collisions — the same hashing
    assumption the MinHash path stands on).

    The shingle frame is persisted MEMORY_AND_DISK through the open
    :func:`~xlearning_spark.engine.intermediates` scope: it feeds three
    plan branches (prefix keys twice, verify sides) plus the
    ``demote_hot_df`` document-frequency pass, and without a
    materialization point Catalyst collapses the token projection back
    into the shingle lambda per branch — re-tokenizing every document
    ``shingle_size`` times per shingle — and a single-file scan runs it
    all on one core (measured 13.7s -> 4.1s on the sf0.1 documents
    fixture, local[32]).

    The reference has no similarity operators at all; this tier is the
    engine's LLM-data extension (SURVEY.md §2.12 L2).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    from xlearning_spark.operators.sharding import spread_small_scan

    # Tokenize in a separate projection from the shingle lambda: the
    # lambda references the array shingle_size times per element and
    # inlining split() there re-tokenizes the doc O(5m) times.
    # Spread a few-file scan across the session's shuffle parallelism so
    # the per-doc shingle work isn't serialized onto the scan's input
    # splits (a single parquet file scans as one partition). r13: the
    # spread is now CONDITIONAL — an already-wide 100 TB scan passes
    # through untouched instead of paying a full-corpus shuffle that
    # coalesces ~1e5 splits into session-parallelism partitions
    # (see spread_small_scan).
    tokd = spread_small_scan(df).select(
        F.col(id_col).alias("__id"), tokens(text_col).alias("__toks")
    )
    toks = F.col("__toks")
    base = (
        tokd.filter(F.size(toks) >= shingle_size)
        .select(
            "__id",
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size(toks) - (shingle_size - 1)),
                        lambda i: F.xxhash64(
                            F.concat_ws(
                                " ",
                                *[
                                    F.element_at(toks, i + j)
                                    for j in range(shingle_size)
                                ],
                            )
                        ),
                    )
                )
            ).alias("__sh"),
        )
        .withColumn("__m", F.size("__sh"))
    )
    base = scope().persist(base)
    prefix_len = (
        F.col("__m") - F.ceil(F.col("__m") * F.lit(threshold)) + 1
    ).cast("int")
    order_col = "__sh"
    if demote_hot_df is not None:
        if not (0.0 < demote_hot_df <= 1.0):
            raise ValueError("demote_hot_df must be in (0, 1]")
        n_docs = base.count()
        # Shingle document frequency (arrays are distinct per doc, so
        # count == df). Bounded collect: top max_hot hot shingles only.
        hot = [
            r["__k"]
            for r in (
                base.select(F.explode("__sh").alias("__k"))
                .groupBy("__k")
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") >= F.lit(demote_hot_df * n_docs))
                .orderBy(F.desc("__df"), "__k")
                .limit(max_hot)
                .collect()
            )
        ]
        if hot:
            hot_arr = F.array(*[F.lit(int(h)) for h in sorted(hot)])
            # Re-rank: (is_hot, hash) struct order puts every hot
            # shingle AFTER every rare one; verify still runs on __sh.
            base = base.withColumn(
                "__ord",
                F.array_sort(
                    F.transform(
                        "__sh",
                        lambda h: F.struct(
                            F.array_contains(hot_arr, h)
                            .cast("int")
                            .alias("hot"),
                            h.alias("h"),
                        ),
                    )
                ),
            )
            order_col = "__ord"
    keys = base.select(
        "__id", F.explode(F.slice(order_col, F.lit(1), prefix_len)).alias("__e")
    )
    keys = keys.select(
        "__id",
        (F.col("__e.h") if order_col == "__ord" else F.col("__e")).alias("__k"),
    )
    if delta_ids is not None:
        dids = delta_ids.select(
            F.col(delta_ids.columns[0]).alias("__id")
        ).distinct()
        dkeys = keys.join(dids, "__id", "semi")
        pairs = (
            dkeys.select("__k", F.col("__id").alias("__x"))
            .join(keys.select("__k", F.col("__id").alias("__y")), "__k")
            .filter(F.col("__x") != F.col("__y"))
            .select(
                F.least("__x", "__y").alias("id_a"),
                F.greatest("__x", "__y").alias("id_b"),
            )
            .distinct()
        )
    else:
        pairs = (
            keys.select("__k", F.col("__id").alias("id_a"))
            .join(keys.select("__k", F.col("__id").alias("id_b")), "__k")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    sa = base.select(
        F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"), F.col("__m").alias("na")
    )
    sb = base.select(
        F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"), F.col("__m").alias("nb")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        # Size-compatibility prune (J >= t implies t*max <= min): only
        # na/nb touched, so Catalyst pushes it below the array work.
        .filter(
            F.least("na", "nb") >= F.lit(threshold) * F.greatest("na", "nb")
        )
        # Inclusion-exclusion union size: one array op per pair.
        .select(
            "id_a",
            "id_b",
            (inter / (F.col("na") + F.col("nb") - inter)).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold)


def _cc_local(nodes, src_idx, dst_idx):
    """Vectorized min-label + pointer-doubling over index arrays.

    ``nodes`` is SORTED ascending, so min over indices == min over
    ids, and the converged fixpoint — every node labeled with the
    smallest id reachable from it — is the same unique answer the
    distributed loop converges to (component = min member id),
    independent of iteration schedule. Runs in O(E) numpy work per
    round, ~log2(diameter) rounds.
    """
    import numpy as np

    comp = np.arange(len(nodes))
    for _ in range(10_000):  # safety bound; depth halves per round
        nxt = comp.copy()
        np.minimum.at(nxt, src_idx, comp[dst_idx])
        nxt = np.minimum(nxt, nxt[nxt])  # pointer doubling
        if np.array_equal(nxt, comp):
            return comp
        comp = nxt
    raise RuntimeError("local connected_components did not converge")


class DriverComponents(NamedTuple):
    """Components solved on the driver (:func:`solve_components`):
    ``nodes`` holds the distinct ids in ascending order and
    ``comp[i]`` the index in ``nodes`` of node i's component, which is
    its minimum member (so ``nodes[comp]`` are the component ids).
    ``id_field`` is the edge list's ``src`` field: its type and
    nullability are those of the distributed path's columns."""

    nodes: Any  # numpy array of ids
    comp: Any  # numpy array of indices into nodes
    id_field: StructField

    def frame(self, spark: SparkSession) -> DataFrame:
        """The (id, component) frame :func:`connected_components` returns,
        with the distributed path's schema."""
        import pandas as pd

        t, nullable = self.id_field.dataType, self.id_field.nullable
        schema = StructType(
            [StructField("id", t, nullable), StructField("component", t, nullable)]
        )
        if len(self.nodes) == 0:
            return spark.createDataFrame([], schema)
        out = pd.DataFrame({"id": self.nodes, "component": self.nodes[self.comp]})
        return spark.createDataFrame(out, schema=schema)


def connected_components(
    pairs: DataFrame,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    driver_edge_limit: int = 2_000_000,
) -> DataFrame:
    """Min-label propagation over dup pairs -> (id, component) groups.

    :func:`solve_components` does the work; a graph it solves on the
    driver comes back as a local frame of its arrays.
    """
    sol = solve_components(pairs, max_iter, checkpoint_dir, driver_edge_limit)
    if isinstance(sol, DriverComponents):
        return sol.frame(pairs.sparkSession)
    return sol


def solve_components(
    pairs: DataFrame,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    driver_edge_limit: int = 2_000_000,
) -> DataFrame | DriverComponents:
    """Connected components of the dup pairs: the driver's arrays
    (:class:`DriverComponents`) when the edge list fits
    ``driver_edge_limit``, else the distributed (id, component) frame.
    Both answers label every node with its component's minimum id.

    Over the cap, or whenever ``checkpoint_dir`` is set, labels
    propagate in distributed rounds. Each round takes the min label
    over the 1-hop neighborhood, then compresses paths by jumping
    every label to its label's label (pointer doubling). Label depth
    halves per round, so convergence is ~log2(diameter) rounds, not
    diameter rounds — a 1M-hop chain converges within the default
    ``max_iter``. A graph that still hasn't converged raises instead
    of returning wrong groups.

    The convergence probe is a FILTER on the checkpointed frame (the
    pre-round label rides along as a ``__old`` column), not a
    new-vs-old join — each round runs exactly its label joins and one
    probe scan, nothing else.

    Fault tolerance: by default each round materializes via
    ``localCheckpoint`` — fast (executor-local blocks), but an executor
    loss mid-run is unrecoverable because the truncated lineage has no
    replica. That's the right trade on local[n] and short jobs. On a
    real cluster pass ``checkpoint_dir`` (an HDFS/S3 path): rounds then
    use reliable ``checkpoint()`` snapshots that survive executor loss
    — the right default for a 100 TB corpus where a multi-hour rerun
    costs more than checkpoint I/O.

    The call is one :func:`~xlearning_spark.engine.intermediates`
    scope: the edge list and every round are freed when it returns,
    each superseded round as soon as the next one is materialized. The
    distributed answer reads the final round's checkpoint, which is
    kept for the enclosing scope (with none open it is left to the
    ContextCleaner).
    """
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    reliable = checkpoint_dir is not None

    def _materialize(df: DataFrame) -> DataFrame:
        # Reliable mode checkpoints eagerly. r13 (guide §1.2 — fewer
        # passes/barriers): local mode checkpoints LAZILY. The
        # convergence probe that always follows is the materializing
        # action, so each round runs ONE job (label joins + block
        # caching + probe count fused) instead of two (eager
        # materialize, then a separate probe scan). Lineage truncation
        # and block caching are identical — only the job barrier goes.
        return scope().checkpoint(df, eager=reliable, reliable=reliable)

    with intermediates():
        edges = _materialize(
            # Both edge directions via ONE explode instead of
            # pairs ∪ pairs.swapped (r14, guide §1.2 don't-compute-twice):
            # union evaluates the ``pairs`` subtree once PER BRANCH, so an
            # expensive upstream pair generator (q53: the exact-Jaccard
            # self-join, ~580k verified pairs at sf0.1) ran twice inside
            # the single edges-build job. The explode reads each pair row
            # once and emits both directions from it — same rows, half the
            # pair-generator work (measured: the edges job drops ~1.9x).
            pairs.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                        ),
                        F.struct(
                            F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                        ),
                    )
                ).alias("__e")
            )
            .select("__e.src", "__e.dst")
            # A pair with a null endpoint is no edge: both of its rows go,
            # so the driver solve never sees a null id and both paths agree.
            # Filtered on the generated columns, so the predicate stays
            # here and the upstream pair plan is unchanged.
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            # r13 (guide §2.4): hash-partition the static edge list by the
            # per-round join key BEFORE checkpointing — checkpoint preserves
            # outputPartitioning, so every round's edges⋈labels join reads
            # the edge blocks in place instead of re-shuffling the (corpus-
            # scale) edge list once per round; only the small labels side
            # exchanges. r14 (guide §2.4 share-one-exchange): dedup runs
            # AFTER the dst repartition — hash(dst) clusters every
            # duplicate (src, dst) row into one partition and satisfies
            # the aggregate's ClusteredDistribution({src, dst}), so the
            # distinct's own (src, dst) exchange is planned away: ONE
            # edge-list shuffle at build instead of two (verified in
            # plans/r14/q53_*).
            .repartition("dst")
            .dropDuplicates(["src", "dst"])
            # Materialize once: the edge list is re-joined every iteration
            # (plus the convergence probe), and an expensive upstream plan
            # (e.g. a similarity join) would otherwise re-execute per round.
        )
        # Size-gated driver solve (r14, guide §1.2 the-distributed-
        # algorithm; same device as learn_bpe_merge_table's in-cap driver
        # trainer): the deduped edge list is usually orders of magnitude
        # smaller than the corpus that produced it — near-dup graphs are
        # sparse by construction. When it fits ``driver_edge_limit`` rows
        # (~32 MB at the 2M default: two bigints/row), collect the slim
        # (src, dst) pairs ONCE off the just-materialized checkpoint and
        # run the same min-label + pointer-doubling fixpoint vectorized on
        # the driver (:func:`_cc_local`): the whole iterate-until-stable
        # tail — 3+ multi-stage Spark jobs of pure scheduling latency at
        # fixture scale, each re-scanning the edge blocks — collapses into
        # milliseconds of numpy. The fixpoint (every node -> min reachable
        # id) is unique, so the answer is bit-identical to the distributed
        # loop's (q53's recursive-CTE oracle certifies it). Graphs over
        # the cap take the distributed rounds below, unchanged — the count
        # that decides is the same action that materializes the checkpoint
        # the rounds need anyway. Everything is computed from the inputs
        # within this call: nothing persists across runs. Reliable-
        # checkpoint callers (checkpoint_dir set — the real-cluster,
        # fault-tolerant configuration) keep the distributed rounds
        # regardless of size: they asked for executor-loss-surviving
        # lineage, and a driver collect is the opposite trade.
        n_edges = None if reliable else edges.count()
        if n_edges is not None and n_edges <= driver_edge_limit:
            import numpy as np

            id_field = edges.schema["src"]
            if n_edges == 0:
                empty = np.array([], dtype=np.int64)
                return DriverComponents(empty, empty, id_field)
            pdf = edges.toPandas()
            src = pdf["src"].to_numpy()
            dst = pdf["dst"].to_numpy()
            # Edges carry both directions, so every endpoint appears in
            # src; np.unique sorts ascending (numeric order / code-point
            # string order — the same total order Spark's min uses).
            nodes, src_idx = np.unique(src, return_inverse=True)
            dst_idx = np.searchsorted(nodes, dst)
            comp = _cc_local(nodes, src_idx, dst_idx)
            return DriverComponents(nodes, comp, id_field)

        labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
            "component", F.col("id")
        )
        prev_ck: DataFrame | None = None
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("component").alias("nbr_min"))
            )
            new_labels = (
                labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
                .select(
                    "id",
                    F.col("component").alias("__old"),
                    F.least(
                        F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                    ).alias("component"),
                )
            )
            # Pointer doubling: component labels are themselves node ids, so
            # jumping to the label's own label halves every label chain.
            # Explicit l/r aliases scope every column reference: the
            # self-join shares attribute ids on both sides and otherwise
            # mis-resolves the join condition and silently joins wrong —
            # caught by the union-find property test.
            lookup = new_labels.select(
                F.col("id").alias("__cid"), F.col("component").alias("__cc")
            )
            new_labels = (
                new_labels.alias("l")
                .join(
                    lookup.alias("r"),
                    F.col("l.component") == F.col("r.__cid"),
                    "left",
                )
                .select(
                    F.col("l.id").alias("id"),
                    F.col("l.__old").alias("__old"),
                    F.least(
                        F.col("l.component"),
                        F.coalesce(F.col("r.__cc"), F.col("l.component")),
                    ).alias("component"),
                )
            )
            # Checkpoint BEFORE the convergence probe: the probe executes
            # the label joins, and an eager checkpoint afterwards would
            # execute them a second time — probing the checkpointed frame
            # makes each iteration run its joins exactly once, and because
            # the pre-round label rides along as __old the probe is a pure
            # filter scan, not a join against the previous frame.
            new_ck = _materialize(new_labels)
            probe = new_ck.filter(F.col("component") != F.col("__old"))
            if reliable:
                # Reliable mode: blocks are already materialized (eager),
                # so the cheapest probe short-circuits at the first
                # changed row.
                changed = probe.limit(1).count()
            else:
                # Lazy-local mode (r13): the probe IS the materializing
                # job — a full count guarantees every partition is
                # computed and cached in this one job (a limit(1) would
                # short-circuit, leaving partitions for a separate
                # completion job and re-adding the barrier just removed).
                changed = probe.count()
            # The previous round's blocks are dead the moment new_ck is
            # materialized — release them now, round by round.
            if prev_ck is not None:
                scope().release(prev_ck)
            prev_ck = new_ck
            if not changed:
                # The result rides the final round's checkpoint blocks.
                return scope().keep(new_ck).select("id", "component")
            labels = new_ck.select("id", "component")
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} iterations "
            "(astronomically deep label chains); raise max_iter"
        )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash over whitespace tokens -> (id, simhash bigint).

    Classic Charikar sketch: per bit, sum +1/-1 over token hashes and
    take the sign. Implemented as explode + partial/final hash
    aggregation (whole-stage codegen) rather than 64 per-row
    higher-order aggregates — measured ~2.5x faster; the shuffle
    carries only the map-side-combined (id, 65 counters) rows, so the
    shape holds at any corpus size. Bit i set iff 2*ones_i > n, which
    equals the +1/-1 sign rule (ties -> 0).
    """
    from xlearning_spark.operators.sharding import spread_small_scan

    # r13 (guide §2.5): the token explode + 65-counter partial
    # aggregation is the heavy stage and runs INSIDE the scan stage —
    # a single-file fixture scan serialized it onto one core. No-op on
    # an already-wide scan (see spread_small_scan).
    # r14 (guide §2.4 remove-shuffles): explode_OUTER keeps one
    # null-hash row for every null/empty token array, so every
    # document reaches the aggregate and the re-anchor join the
    # previous form needed (id-set distinct + left join + coalesce —
    # a second corpus scan plus two exchanges) is gone. The null row
    # yields n=1 with all-null bit sums, and the sign rule
    # when(null*2 > 1) is false for every bit -> the same all-zero
    # sketch the join path produced (verified value-identical on the
    # sf0.1 corpus; empty-doc tests cover it).
    th = spread_small_scan(df).select(
        F.col(id_col),
        F.explode_outer(
            F.transform(tokens(text_col), lambda x: F.xxhash64(x))
        ).alias("__h"),
    )
    agg = th.groupBy(id_col).agg(
        F.count("*").alias("__n"),
        *[
            F.sum(F.shiftright("__h", i).bitwiseAND(F.lit(1))).alias(f"__b{i}")
            for i in range(bits)
        ],
    )
    bit = [
        F.when(F.col(f"__b{i}") * 2 > F.col("__n"), F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        for i in range(bits)
    ]
    # Bits 0..bits-2 weight 2^i. At bits=64 the top bit is encoded as
    # -2^63 (two's complement) to avoid bigint overflow; narrower
    # sketches fit in bigint directly.
    terms = [bit[i] * F.lit(1 << i).cast("bigint") for i in range(bits - 1)]
    top = -(1 << 63) if bits == 64 else (1 << (bits - 1))
    terms.append(bit[bits - 1] * F.lit(top).cast("bigint"))
    return agg.select(
        F.col(id_col), sum(terms, F.lit(0).cast("bigint")).alias("simhash")
    )


def simhash_candidates(
    sig: DataFrame,
    id_col: str,
    bands: int = 4,
    bits: int = 64,
    max_bucket: int = 1000,
) -> DataFrame:
    """Band the ``bits``-bit simhash into ``bits/bands``-bit chunks;
    same-chunk docs are candidates (Hamming distance <= bands-1
    guaranteed found).

    ``bits`` MUST match the value the signatures were built with: a
    64-band layout over 16-bit sketches would read the always-zero
    high bands and degenerate into an all-pairs join.

    ``max_bucket`` caps degenerate buckets the same way
    ``minhash_candidate_pairs`` does: every null/empty document carries
    the all-zero sketch and would otherwise co-bucket in EVERY band,
    turning m empty docs into O(m²) candidate pairs at corpus scale.
    """
    if bits % bands != 0:
        raise ValueError(f"bands ({bands}) must divide bits ({bits})")
    width = bits // bands
    mask = (1 << width) - 1
    banded = sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", b * width).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band", "chunk"),
    )
    return bucket_pairs(banded, id_col, ["band", "chunk"], max_bucket)


#: 60-bit engine-portable shingle hash (md5 prefix), reduced mod the
#: 58-bit prime shared with the codegen shingle streams. Identical on
#: Spark (conv/substring) and DuckDB ('0x'||substr)::UBIGINT — the same
#: replayable-hash device the portable sketch tier (operators/sketch)
#: certifies; at ~6M distinct shingles the birthday bound under 2^58 is
#: ~6e-5 colliding pairs, and any collision affects both engines
#: identically, so hash-certification is exact.
_SPAN_MOD = 288230376151711717  # SHINGLE_MOD_58

_SPARK_SPAN_HASH = (
    "CAST(conv(substring(md5({sh}), 1, 15), 16, 10) AS BIGINT) % {P}L"
)
_DUCK_SPAN_HASH = "(('0x' || substr(md5({sh}), 1, 15))::UBIGINT % {P})::BIGINT"


def _span_position_rows(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """``(id, pos, tok, __h)`` rows: one row per token position, with
    ``__h`` the portable hash of the k-token shingle STARTING at pos
    (NULL for the last k-1 positions, where no full shingle starts).

    Codegen row-stream shape (cf. functions.shingle_hash_rows): one
    posexplode + k-1 ``lead()`` steps over the doc-key window — a
    single linear (id)-partitioned shuffle of slim rows; no computed
    array column is ever exploded (the Catalyst lambda-inlining trap
    documented on shingle_hash_rows).
    """
    w = Window.partitionBy(id_col).orderBy("pos")
    rows = df.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
    # concat_ws skips NULLs, so guard explicitly: a shingle only exists
    # where the (k-1)-th lookahead token does. Materialize the shingle
    # string in its own projection, then hash it in the next one — the
    # leads are evaluated once.
    with_sh = rows.withColumn(
        "__sh",
        F.when(F.lead("tok", k - 1).over(w).isNotNull(), F.concat_ws(" ", *parts)),
    )
    return with_sh.withColumn(
        "__h", F.expr(_SPARK_SPAN_HASH.format(sh="__sh", P=_SPAN_MOD))
    ).drop("__sh")


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Maximal cross-document duplicated token spans — the EXACT
    substring-dedup primitive of Lee et al., "Deduplicating Training
    Data Makes Language Models Better" (ACL 2022), at token
    granularity: every maximal run of positions whose k-token shingle
    occurs in >= ``min_docs`` distinct documents.

    Returns ``(id, span_start, span_end, span_tokens)`` — token
    positions are 0-based and inclusive; a span starting at p and
    built from dup shingles at p..q covers tokens p..q+k-1.

    100 TB shape — every stage linear, every shuffle keyed:
      1. posexplode + doc-key window (shingle hashes)   [shuffle: id]
      2. hash-agg ``approx count`` -> dup-shingle set   [shuffle: __h]
         (countDistinct(id) >= min_docs; group cardinality = distinct
         shingles, no row multiplication)
      3. left-semi join positions against dup set       [shuffle: __h]
      4. islands-and-gaps window per doc                [shuffle: id]
    Boilerplate-heavy (hot) shingles cost one group row and a semi-join
    probe each — never a pair blowup, unlike pairwise dedup: this
    operator's output is per-DOCUMENT spans, so its size is bounded by
    corpus token count regardless of how many docs share a span.

    The slim (id, pos, hash) row frame is persisted through the open
    :func:`~xlearning_spark.engine.intermediates` scope so the dup-set
    aggregate and the probe side share ONE scan+explode+window instead
    of re-deriving the subtree twice (the plan otherwise duplicates
    stages 1-7 under the aggregate — plan reuse does not fire across
    the aggregate boundary).

    Reference parity note: the reference (a YARN scheduler) has no
    dedup; this extends the mandated LLM-pipeline tier (SURVEY §2.12
    L2) beyond doc-level dedup to sub-document span dedup.
    """
    rows = scope().persist(_span_position_rows(df, id_col, text_col, k))
    starts = rows.filter(F.col("__h").isNotNull())
    dup = (
        starts.groupBy("__h")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__h")
    )
    dup_pos = starts.join(dup, "__h", "left_semi").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    grouped = dup_pos.withColumn(
        "__grp", F.col("pos") - F.row_number().over(w)
    )
    return (
        grouped.groupBy(id_col, "__grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            (F.max("pos") - F.min("pos") + F.lit(k)).alias("span_tokens"),
        )
        .drop("__grp")
    )


def excise_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Rewrite each document with its cross-corpus duplicated spans
    (see :func:`duplicate_spans`) REMOVED — the corpus-cleaning form
    of exact substring dedup: boilerplate, licenses, and templated
    passages shared by >= ``min_docs`` docs vanish from every doc
    while unique prose survives.

    Returns one row per input document:
    ``(id, n_tokens, n_removed, clean_text)`` — ``clean_text`` is the
    kept tokens re-joined with single spaces ('' when everything was
    removed; token-less docs pass through with n_tokens=0).

    Coverage is computed with ONE extra doc-key window (no per-span
    join): a token at position t is covered iff some dup shingle
    starts in [t-k+1, t], i.e. ``max(dup_flag) over rows (k-1)
    preceding..current`` — positions are dense, so the row frame IS
    the position range. Rebuild is a per-doc sort-agg on the same key.
    Same linear/keyed stage list as duplicate_spans plus zero
    additional shuffles (the flag join reuses the __h shuffle; the
    window and rebuild reuse the id key). The row frame is persisted as
    in :func:`duplicate_spans`; here too it is read twice (dup-set
    aggregate + the flagged probe side).
    """
    rows = scope().persist(_span_position_rows(df, id_col, text_col, k))
    starts = rows.filter(F.col("__h").isNotNull())
    dup = (
        starts.groupBy("__h")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__h", F.lit(1).alias("__dup"))
    )
    flagged = rows.join(dup, "__h", "left").select(
        id_col, "pos", "tok", F.coalesce("__dup", F.lit(0)).alias("__dup")
    )
    return excise_from_flags(flagged, df.select(F.col(id_col)), id_col, k)


def excise_from_flags(
    flagged: DataFrame, ids: DataFrame, id_col: str, k: int
) -> DataFrame:
    """Coverage + rebuild shared by :func:`excise_duplicate_spans` and
    the streaming ingest twin: ``flagged`` is dense (id, pos, tok,
    __dup) position rows (``__dup`` = 1 where a duplicated k-shingle
    STARTS); a token is covered iff a dup shingle starts within the
    preceding k-1 positions (row frame == position range on dense
    rows). ``ids`` is the full id list, so token-less docs still get a
    (0, 0, '') row."""
    wcov = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(k - 1), Window.currentRow)
    )
    covered = flagged.withColumn("__cov", F.max("__dup").over(wcov))
    rebuilt = covered.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("__cov").alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__cov") == 0,
                            F.struct(F.col("pos"), F.col("tok")),
                        )
                    )
                ),
                lambda s: s.getField("tok"),
            ),
        ).alias("clean_text"),
    )
    return (
        ids.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )
