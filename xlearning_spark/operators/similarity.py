"""Similarity search over embedding columns (SURVEY.md §2.12 L3).

Six tiers:
  - ``brute_force_topk``: exact cosine top-k via broadcast of the query
    set. Scales linearly in corpus size (the 100 TB-safe exact path
    when |queries| is small — the corpus is scanned once, no shuffle
    until the final per-query top-k, which is a tiny aggregation).
  - ``lsh_topk``: random-hyperplane LSH — signature map-side, bucket
    join on band keys, exact re-rank inside buckets. Sublinear
    candidate volume; recall tested against brute force in tests/.
  - IVF (``build_ivf_index`` / ``ivf_probe``, one-shot ``ivf_topk``):
    coarse cells; a query scans only its ``n_probe`` nearest cells.
  - PQ (``build_pq_index`` / ``pq_topk``, one-shot ``pq_topk_oneshot``):
    per-subspace codes scored by asymmetric distance, exact re-rank of
    the ADC shortlist.
  - SQ8 (``build_sq8_index`` / ``sq8_topk``): int8 per-dimension codes
    scored by dequantized cosine, exact re-rank of the shortlist.
  - IVF x PQ and IVF x SQ8 (``ivf_pq_topk`` / ``ivf_sq8_topk``): the
    IVF probe bounds which codes the PQ or SQ8 scan scores.

Every index TRAINS the same way: one bounded, hash-ordered corpus
sample (:func:`_train_sample`) fit by the in-memory Lloyd's
(:func:`_lloyd`) — IVF centroids and PQ codebooks alike (SQ8 needs
only per-dimension bounds). Every tier RANKS the same way: its own
candidate frame and approximate score, then the shared stages — the
centroid probe (:func:`_probe_cells`), the approximate-score
shortlist (:func:`_shortlist`) and the exact-cosine top-k
(:func:`_top_k`).

Dot products run as JVM higher-order functions (zip_with + aggregate)
in whole-stage codegen — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xlearning_spark.operators.dedup import bucket_pairs
from xlearning_spark.operators.sharding import spread_small_scan

# r13 (guide §2.5): every corpus-side entry point below spreads a
# narrow scan across the session's cores before its map-heavy stage
# (signatures, encodes, cell assignment, per-pair dot products) —
# a single parquet file otherwise scans as ONE partition and the whole
# compute chain serializes onto one core. spread_small_scan is a
# plan-level no-op when the scan is already at least session-parallel
# (the 100 TB case), so no extra exchange is paid at scale. Query-side
# frames stay untouched (bounded by contract, usually broadcast).

#: Bound on the corpus sample an IVF or PQ index trains on — the one
#: driver-side collect of a build, so the build stays 100 TB-safe.
TRAIN_SAMPLE = 16384


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def _sqdist(a, b):
    """Squared euclidean distance, folded in index order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cosine(a: str, b: str):
    return _dot(F.col(a), F.col(b)) / (_norm(F.col(a)) * _norm(F.col(b)))


def with_cosine(df: DataFrame, a: str, b: str, out: str = "cosine") -> DataFrame:
    """Adds cosine similarity between two array<double> columns."""
    return df.withColumn(out, _cosine(a, b))


def _vectors(
    df: DataFrame, id_col: str, vec_col: str, ids: str = "cid", vecs: str = "cv"
) -> DataFrame:
    """``(ids, vecs)`` rows: the id and the vector as array<double>."""
    return df.select(
        F.col(id_col).alias(ids),
        F.col(vec_col).cast("array<double>").alias(vecs),
    )


# ------------------------------------------------------------ ranking
# The shared tail of every tier. Candidate frames carry ``qid`` and
# ``cid``; ranks tie-break on ``cid``, so every result is deterministic.


def _centroid_table(spark, centroids: list[list[float]]) -> DataFrame:
    """The ``(cell, centroid)`` rows :func:`_probe_cells` ranks."""
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], ["cell", "centroid"]
    )


def _probe_cells(q: DataFrame, cent_df: DataFrame, n_probe: int) -> DataFrame:
    """The ``n_probe`` cells nearest each query: one row per
    ``(query, probed cell)`` — ``q``'s columns plus ``cell``. Queries
    rank the broadcast :func:`_centroid_table` by squared distance,
    ties to the lower cell id. Callers build that table before ``q``,
    which keeps the attribute numbering of the recorded plans."""
    wq = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("cell"))
    return (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("d2", _sqdist("qv", "centroid"))
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= n_probe)
        .select(*q.columns, "cell")
    )


def _shortlist(cand: DataFrame, order, n: int) -> DataFrame:
    """Each query's ``n`` best candidates by the approximate-score
    ordering ``order`` — the cut an exact re-rank then covers."""
    w = Window.partitionBy("qid").orderBy(order, F.col("cid"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .drop("rn")
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The exact-cosine tail: each query's ``k`` best rows by
    ``cosine`` desc, as ``(qid, cid, cosine)``."""
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", "cosine")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: (qid, cid, cosine), k rows per query.

    The query side is broadcast (small by contract); ranking ties break
    on candidate id so results are fully deterministic.

    ``exclude_self`` drops candidates whose id equals the query id —
    only meaningful when queries and corpus share an id space (as when
    querying a corpus against itself); set False for unrelated id
    spaces, where an accidental id collision must not drop a match.
    """
    q = _vectors(queries, id_col, vec_col, "qid", "qv")
    c = _vectors(spread_small_scan(corpus), id_col, vec_col)
    cond = F.col("qid") != F.col("cid") if exclude_self else F.lit(True)
    return _top_k(with_cosine(c.join(F.broadcast(q), cond), "qv", "cv"), k)


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.35,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocks (L2 variant).

    Emits ``(id_a, id_b, cosine)`` with ``id_a < id_b`` and
    ``cosine >= threshold``, pairing only rows that share ``block_col``
    — the same group-local blocking discipline as the exact Jaccard
    pair query, so the pair space never goes all-pairs. Norms are
    computed once per row *before* the self-join (O(n) norm work, not
    O(pairs)); only the dot product runs per pair, as a JVM
    higher-order function inside codegen.

    At production near-dup thresholds (>= 0.9) the blocking column is
    replaced by hyperplane-LSH band buckets (``hyperplane_signature``)
    + exact verify — the fixture embeddings top out near cosine 0.5,
    so the oracle-checked form exercises the operator with a
    deterministic attribute block instead.
    """
    e = (
        spread_small_scan(df).select(
            F.col(id_col).alias("id"),
            F.col(block_col).alias("blk"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("nrm", _norm(F.col("v")))
    )
    a = e.select(
        F.col("id").alias("id_a"), "blk", F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col("id").alias("id_b"), "blk", F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _hyperplane_bands(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    ids: str,
    dim: int,
    num_planes: int,
    bands: int,
) -> DataFrame:
    """``(ids, band, chunk)`` rows: each vector's hyperplane signature
    cut into ``bands`` chunks of ``num_planes / bands`` bits — the
    bucket keys of both hyperplane-LSH operators. IDs and keys only:
    the vectors do not ride the bucket stage."""
    width = num_planes // bands
    mask = (1 << width) - 1
    s = hyperplane_signature(df, vec_col, dim, num_planes)
    return s.select(
        F.col(id_col).alias(ids),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("sig", b * width).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band", "chunk"),
    )


def cosine_neardup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.9,
    num_planes: int = 16,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """L2 scale path: embedding near-dup pairs with NO attribute block —
    the production form promised by :func:`cosine_neardup_pairs`.

    Pipeline (same 100 TB discipline as the MinHash dedup):
      1. hyperplane signature map-side (deterministic planes, no
         shuffle);
      2. band explode + per-bucket posting lists
         (:func:`~xlearning_spark.operators.dedup.bucket_pairs`) —
         candidates are bucket-local, never all-pairs; ``max_bucket``
         keeps only the lowest ids of a degenerate bucket (e.g. many
         zero vectors share a signature);
      3. exact cosine verify on the candidate pairs only, with norms
         computed once per row before the pair join.

    Recall follows the hyperplane collision bound: a pair at cosine s
    shares a w-bit band with prob (1 - acos(s)/pi)^w — high thresholds
    (the dedup regime, s >= 0.9) are caught near-certainly; this is NOT
    a low-threshold similarity join (use brute_force_topk or ivf_topk
    there). Returns (id_a, id_b, cosine) with id_a < id_b and
    cosine >= threshold.
    """
    src = spread_small_scan(df)
    banded = _hyperplane_bands(src, id_col, vec_col, "id", dim, num_planes, bands)
    cand = bucket_pairs(banded, "id", ["band", "chunk"], max_bucket)
    # Verify stage: join vectors+norms back onto the (small) candidate
    # set — norm work stays O(n), dot products O(candidates).
    en = _vectors(src, id_col, vec_col, "id", "v").withColumn("nrm", _norm(F.col("v")))
    pa = cand.join(
        en.select(
            F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
        ),
        "id_a",
    )
    pab = pa.join(
        en.select(
            F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
        ),
        "id_b",
    )
    return (
        pab.withColumn(
            "cosine", _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def hyperplane_planes(dim: int, num_planes: int = 16, seed: int = 7) -> list[list[float]]:
    """The deterministic LCG hyperplane draw — exposed so an external
    oracle (DuckDB SQL) can reproduce signatures bit-for-bit."""
    state = seed

    def nxt() -> float:
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        # Box-Muller-free uniform in [-1, 1): adequate for LSH planes.
        return (state / float(1 << 63)) * 2.0 - 1.0

    return [[nxt() for _ in range(dim)] for _ in range(num_planes)]


def hyperplane_signature(
    df: DataFrame,
    vec_col: str,
    dim: int,
    num_planes: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Random-hyperplane signature: ``num_planes`` sign bits packed into
    one bigint column ``sig``. Hyperplanes are a deterministic LCG draw
    so signatures are reproducible across runs/executors.

    ``dim`` must match the actual vector length: a mismatch would make
    every plane dot product null (zip_with pads with nulls), every sign
    bit 0, and the LSH bucket join a silent all-pairs cross product —
    so it raises at execution instead.
    """
    planes = hyperplane_planes(dim, num_planes, seed)
    # One nested higher-order expression over an array-of-arrays plane
    # literal instead of num_planes separate aggregates: same math,
    # same fold order, bit-identical signatures — but one codegen unit,
    # measured 1.6x faster end-to-end at 24 planes.
    planes_lit = F.array(*[F.array(*[F.lit(x) for x in p]) for p in planes])
    bits_lit = F.array(
        *[F.lit(1 << p).cast("bigint") for p in range(num_planes)]
    )

    def _plane_dot(p):
        return F.aggregate(
            F.zip_with(F.col(vec_col).cast("array<double>"), p, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    # Sign test on the 12-decimal rounding: bit-identical today, and
    # robust to summation-order drift (~1e-16 relative) should either
    # engine's dot-product evaluation order ever change — without
    # this, one flipped sign bit near 0.0 would desync the oracle's
    # band buckets entirely.
    sig = F.aggregate(
        F.zip_with(
            planes_lit,
            bits_lit,
            lambda p, bit: F.when(F.round(_plane_dot(p), 12) > 0, bit).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    guarded = F.when(F.size(F.col(vec_col)) == dim, sig).otherwise(
        F.raise_error(
            F.format_string(
                f"hyperplane_signature: dim={dim} but vector has %s elements",
                F.size(F.col(vec_col)).cast("string"),
            )
        )
    )
    return df.withColumn("sig", guarded)


# ------------------------------------------------------------ training


def _train_sample(vectors: DataFrame) -> list:
    """The training sample of a ``(cid, cv)`` frame: up to
    :data:`TRAIN_SAMPLE` vectors in ``xxhash64(cid)`` order — one
    deterministic collect, the same rows under any partitioning."""
    sample = [
        r["cv"]
        for r in vectors.select("cv", F.xxhash64(F.col("cid").cast("string")).alias("__o"))
        .orderBy("__o")
        .limit(TRAIN_SAMPLE)
        .collect()
    ]
    if not sample:
        raise ValueError("cannot train an index on an empty corpus")
    return sample


def _lloyd(points, k: int, seed: int, iters: int = 10):
    """Deterministic in-memory Lloyd's k-means over an (n, d) array —
    the IVF centroid and PQ codebook trainer. Seeded init (distinct
    sample points); empty clusters keep their previous centroid. numpy,
    milliseconds at sample sizes; returns a (k, d) centroid array. The
    distance table is built in row blocks of about 4M elements, so the
    transient stays bounded at any n * k * d."""
    import numpy as np

    pts = np.asarray(points, dtype=np.float64)
    rng = np.random.default_rng(seed)
    init = rng.choice(len(pts), size=min(k, len(pts)), replace=False)
    cent = pts[init]
    if len(cent) < k:  # fewer points than centroids: pad with repeats
        cent = np.vstack([cent, pts[rng.choice(len(pts), k - len(cent))]])
    step = max(1, (1 << 22) // (k * pts.shape[1]))
    for _ in range(iters):
        assign = np.concatenate([
            ((pts[s : s + step, None, :] - cent[None, :, :]) ** 2)
            .sum(axis=2)
            .argmin(axis=1)
            for s in range(0, len(pts), step)
        ])
        for c in range(k):
            sel = pts[assign == c]
            if len(sel):
                cent[c] = sel.mean(axis=0)
    return cent


# ------------------------------------------------------------ IVF


class IvfIndex:
    """A built IVF index: cell-assigned corpus + centroid table.

    ``cells`` is the inverted file — ``(cid, cv, cell)`` rows, cached
    (or persisted anywhere) and reused by every :func:`ivf_probe` call;
    ``centroids`` is the bounded ``n_cells``-row probe table. At 100 TB
    the build is one bounded sample collect plus one map-side cell
    assignment; probes are marginal-cost — they never retrain and never
    rescan un-probed cells.
    """

    def __init__(self, cells: DataFrame, centroids: list[list[float]]):
        self.cells = cells
        self.centroids = centroids

    def unpersist(self) -> None:
        self.cells.unpersist()


def build_ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    cache: bool = True,
) -> IvfIndex:
    """Index-build half of the IVF split: Lloyd's learns ``n_cells``
    centroids on the bounded training sample (:func:`_train_sample`,
    the one PQ trains on), every corpus vector is assigned to its
    nearest cell once (:func:`assign_cells`, map-side against the
    centroid literals), and the resulting inverted file is cached for
    reuse across probe batches — build once, probe many (r4 verdict
    item: the reuse must be API-visible, not refit per query batch).
    The sample is hash-ordered and the assignment a pure map, so the
    index is the same under any partitioning of the corpus.
    """
    sample = _train_sample(_vectors(corpus, id_col, vec_col))
    centroids = [list(map(float, c)) for c in _lloyd(sample, n_cells, seed)]
    cells = assign_cells(spread_small_scan(corpus), centroids, id_col, vec_col)
    if cache:
        cells = cells.persist()
    return IvfIndex(cells, centroids)


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign vectors to their nearest FROZEN centroid — the "add"
    half of the classic IVF train-then-add discipline (an index is
    trained once on a sample; later vectors are assigned to the fixed
    centroids without refit). Returns ``(cid, cv, cell)`` rows, the
    :class:`IvfIndex.cells` schema, so assigned frames union straight
    into an inverted file.

    STRICTLY map-side — zero shuffle: the bounded centroid list is
    baked into the plan as literals (the PQ tier's literal-score-table
    device, q100), each vector computes its n_cells squared distances
    with codegen'd zip_with/aggregate folds, and the argmin is
    ``array_min`` over ``struct(d2, cell)`` — struct ordering compares
    d2 first, then cell, so ties break to the lowest cell id (the
    first minimum). One pass over the new vectors regardless of corpus
    size; nothing is joined, nothing is exchanged (a window/crossJoin
    formulation was measured and rejected: it shuffles the batch x
    n_cells expansion on the vector id for no semantic gain).

    A vector whose length differs from the centroid dimension raises
    (``raise_error`` guard) instead of being silently assigned: with
    mismatched lengths ``zip_with`` pads with nulls, every d2 becomes
    NULL, and the struct argmin would quietly pick cell 0 (ADVICE r11).

    Deliberately NO internal ``spread_small_scan``: zero-shuffle is
    this operator's contract (plan-asserted in tests/test_plans.py) —
    streaming ``ann_ingest`` calls it per micro-batch and must stay a
    pure map pass. A batch caller with a narrow single-file scan
    spreads its OWN input upstream (q123 does).
    """
    dim = len(centroids[0])
    out = _vectors(df, id_col, vec_col).withColumn(
        "cv",
        F.when(F.size("cv") == dim, F.col("cv")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "assign_cells: vector length != centroid "
                        f"dimension {dim} for id "
                    ),
                    F.col("cid").cast("string"),
                )
            )
        ),
    )
    d2s = []
    for i, c in enumerate(centroids):
        cent = F.array(*[F.lit(float(x)) for x in c])
        d2s.append(F.struct(_sqdist("cv", cent).alias("d2"), F.lit(i).alias("cell")))
    return out.withColumn(
        "cell", F.array_min(F.array(*d2s))["cell"]
    ).select("cid", "cv", "cell")


def ivf_probe(
    index: IvfIndex,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Probe half of the IVF split: each query ranks the index's
    centroids, scans only its ``n_probe`` nearest cells, and re-ranks
    candidates by exact cosine — candidate volume is
    ~corpus * n_probe / n_cells instead of the full corpus. Touches
    nothing but the prebuilt (cached) inverted file; no retraining.
    """
    cent_df = _centroid_table(queries.sparkSession, index.centroids)
    q = _vectors(queries, id_col, vec_col, "qid", "qv")
    cand = index.cells.join(F.broadcast(_probe_cells(q, cent_df, n_probe)), "cell")
    if exclude_self:
        cand = cand.filter(F.col("qid") != F.col("cid"))
    return _top_k(with_cosine(cand, "qv", "cv"), k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """ANN top-k via IVF (inverted file) coarse quantization — the
    one-shot composition of :func:`build_ivf_index` + :func:`ivf_probe`
    (no caching: a single probe never rereads the inverted file).
    Production callers with repeated query batches should hold the
    index and call :func:`ivf_probe` per batch.
    """
    index = build_ivf_index(
        corpus, id_col, vec_col, n_cells=n_cells, seed=seed, cache=False
    )
    return ivf_probe(
        index,
        queries,
        id_col,
        vec_col,
        k=k,
        n_probe=n_probe,
        exclude_self=exclude_self,
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    num_planes: int = 16,
    bands: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """ANN top-k: hyperplane-LSH bucket join, exact cosine re-rank.

    Bands of ``num_planes/bands`` bits each form bucket keys; a query
    meets a candidate iff they share any band — candidate volume is
    bucket-local, so the join stays sparse at corpus scale.
    ``exclude_self`` as in :func:`brute_force_topk`.
    """
    # IDs + band keys only: the vectors do NOT ride the bucket join
    # (r14, guide §2.3 shuffle-keys-not-payloads — the previous form
    # carried both 64-dim arrays through the candidate dedup as
    # grouping KEYS: Exchange hashpartitioning(qid, qv, cid, cv) in
    # q50's before-plan).
    qb = _hyperplane_bands(queries, id_col, vec_col, "qid", dim, num_planes, bands)
    cb = _hyperplane_bands(
        spread_small_scan(corpus), id_col, vec_col, "cid", dim, num_planes, bands
    )
    cand = cb.join(F.broadcast(qb), ["band", "chunk"])
    if exclude_self:
        cand = cand.filter(F.col("qid") != F.col("cid"))
    # Multi-band collisions dedup on the bare id pair (two bigint
    # keys, plain HashAggregate); the vectors are re-attached AFTER —
    # queries by broadcast (bounded by contract), corpus by the same
    # verify-stage equi join cosine_neardup_pairs_lsh uses. Same rows,
    # same cosines (q50's oracle hash certifies it).
    cand = cand.select("qid", "cid").distinct()
    qvec = _vectors(queries, id_col, vec_col, "qid", "qv")
    cvec = _vectors(corpus, id_col, vec_col)
    scored = cand.join(F.broadcast(qvec), "qid").join(cvec, "cid")
    return _top_k(with_cosine(scored, "qv", "cv"), k)


# ------------------------------------------------------------ PQ


class PqIndex:
    """A built product-quantization index: compact per-vector codes +
    per-subspace codebooks.

    ``codes`` is the encoded corpus — ``(cid, cv, codes)`` rows, where
    ``codes`` is an array of m small ints (one per subspace; 2^bits
    values each). m * bits bits replace d floats for the scan phase —
    at 64d/float32 with m=8, bits=4 that is a 64x memory reduction —
    which is what makes exhaustive candidate scoring affordable at
    scale. ``codebooks[j][c]`` is subspace j's c-th centroid (a
    d/m-dim list); the whole codebook set is m * 2^bits * d/m floats —
    broadcastable by construction.
    """

    def __init__(
        self,
        codes: DataFrame,
        codebooks: list[list[list[float]]],
        base: DataFrame | None = None,
    ):
        self.codes = codes
        self.codebooks = codebooks
        # The persisted (cid, cv) source frame from build_pq_index
        # (cache=True), kept ONLY so unpersist() can release it —
        # dropping the reference would pin a full corpus copy in
        # executor storage for the session (ADVICE r5).
        self._base = base

    @property
    def m(self) -> int:
        return len(self.codebooks)

    @property
    def dsub(self) -> int:
        return len(self.codebooks[0][0])

    def unpersist(self) -> None:
        self.codes.unpersist()
        if self._base is not None:
            self._base.unpersist()
            self._base = None


def _pq_codebook_sql(codebook: list[list[float]]) -> str:
    """One subspace's codebook as a single FOLDABLE array literal:
    ``array(named_struct('c2', ||c||^2, 'm2v', array(-2*c_0, ...)),
    ...)`` — every leaf is a ``CAST('<repr>' AS DOUBLE)`` literal, so
    Catalyst constant-folds the whole table into ONE array literal at
    optimization time and the per-row scoring runs as compact
    higher-order expressions over it.

    r14 (guide §1.2 per-task work / §7.2): the previous device spelled
    the score out as an m x 2^bits x dsub literal multiply-add CHAIN
    (~1k scalar nodes per encode): whole-stage codegen of that plan
    blows janino's 64 KB method limit — every run paid the full
    (failing) compile plus interpreted fallback, and parsing/analyzing
    the giant tree cost ~1 s of driver time per run (measured: q100
    cold 5.5-7.0 s, of which sample+train is only 0.6 s). The folded-
    literal + zip_with/aggregate form computes the SAME floating-point
    values in the SAME order — ``(-2x)`` literals are pre-scaled
    exactly (power-of-two), products and the left-to-right sum seeded
    with ``||c||^2`` are unchanged — in ~50 expression nodes.

    The dropped ``||v||^2`` term is constant per vector, so argmin
    over candidates is the exact squared-distance argmin; for the
    query-side ADC tables the per-query constant shifts every
    candidate equally, so shortlist RANKING is unchanged (Jégou et
    al.'s ADC identity, as before)."""
    structs = []
    for c in codebook:
        c2 = repr(float(sum(x * x for x in c)))
        m2 = ", ".join(
            f"CAST('{repr(-2.0 * float(x))}' AS DOUBLE)" for x in c
        )
        structs.append(
            f"named_struct('c2', CAST('{c2}' AS DOUBLE), 'm2v', array({m2}))"
        )
    return "array(" + ", ".join(structs) + ")"


def _pq_tabs_sql(codebooks: list[list[list[float]]], vec: str, dsub: int) -> str:
    """Per-query ADC distance table — ``array<array<double>>`` of
    ``-2 q_j . c + ||c||^2`` per (subspace, code) — as one compact
    higher-order expression over the folded codebook literals (see
    :func:`_pq_codebook_sql`; same values, same order as the old
    literal-chain form)."""
    cbs = "array(" + ", ".join(
        _pq_codebook_sql(cb) for cb in codebooks
    ) + ")"
    return (
        f"transform({cbs}, (cbj, j) -> transform(cbj, cb -> "
        f"aggregate(zip_with(cb.m2v, slice({vec}, j * {dsub} + 1, {dsub}),"
        f" (a, b) -> a * b), cb.c2, (acc, x) -> acc + x)))"
    )


def build_pq_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    bits: int = 4,
    seed: int = 42,
    cache: bool = True,
) -> PqIndex:
    """Build half of the product-quantization ANN split (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
    split each d-dim vector into m subvectors, learn a 2^bits-centroid
    codebook PER SUBSPACE, then encode every corpus vector map-side as
    m nearest-centroid ids — ``array_min`` over (distance, id)
    structs, deterministic tie-break on id, all codegen.

    Codebook training follows the standard PQ practice (FAISS trains
    on a bounded sample): ONE deterministic hash-ordered sample
    (:func:`_train_sample`, the one IVF trains on) is collected and
    all m codebooks are fit in-memory with seeded Lloyd's —
    milliseconds, versus one distributed KMeans JOB per subspace whose
    per-fit scheduling overhead dominated at any size (measured 8 x
    ~2 s for 2000 vectors). The sample bound makes the collect
    100 TB-safe; encode and scan stay fully distributed.

    Build once, probe many (the IVF discipline): the sample+train is
    the only driver-side pass; :func:`pq_topk` touches nothing but the
    cached codes and the broadcast codebooks. At 100 TB, compose with
    IVF cells (coarse quantizer) so the PQ scan covers only probed
    cells — this operator is the scan-cost/memory half of that stack.
    """
    ksub = 1 << bits

    # NOT spread (r13, measured): PQ's corpus-side work is a bounded
    # sample collect + an m*2^bits-expression encode whose cost is
    # plan-construction/codegen, not data volume — the spread's extra
    # exchange read as a ~5% regression on the fixture with no
    # scale-side benefit (the scan is already wide at scale).
    base = _vectors(corpus, id_col, vec_col)
    if cache:
        # The sample and the encode both read this frame.
        base = base.persist()
    sample = _train_sample(base)
    # Dimension read off the sample just collected — the separate
    # corpus.first() probe was a whole extra Spark job per build (r13).
    d = len(sample[0])
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    dsub = d // m
    codebooks: list[list[list[float]]] = []
    for j in range(m):
        sub_pts = [v[j * dsub : (j + 1) * dsub] for v in sample]
        codebooks.append(
            [list(map(float, c)) for c in _lloyd(sub_pts, ksub, seed + j)]
        )

    def nearest_sql(j: int) -> str:
        # argmin over the folded codebook literal: d2 = -2 v_j . c +
        # ||c||^2 (same float ops/order as the pre-r14 literal chain —
        # see _pq_codebook_sql), tie-break on code id via struct order.
        return (
            f"array_min(transform({_pq_codebook_sql(codebooks[j])},"
            f" (cb, i) -> named_struct('d2',"
            f" aggregate(zip_with(cb.m2v, slice(cv, {j * dsub + 1}, {dsub}),"
            f" (a, b) -> a * b), cb.c2, (acc, x) -> acc + x), 'i', i))).i"
        )

    codes = base.select(
        "cid",
        "cv",
        F.expr(
            "array(" + ", ".join(nearest_sql(j) for j in range(m)) + ")"
        ).alias("codes"),
    )
    if cache:
        codes = codes.persist()
    return PqIndex(codes, codebooks, base=base if cache else None)


def _pq_queries(
    index: PqIndex, queries: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """``(qid, qv, tabs)``: each query with its ADC distance tables."""
    q = _vectors(queries, id_col, vec_col, "qid", "qv")
    return q.withColumn("tabs", F.expr(_pq_tabs_sql(index.codebooks, "qv", index.dsub)))


def _pq_rank(cand: DataFrame, m: int, k: int, shortlist: int) -> DataFrame:
    """PQ scoring of a ``(qid, qv, tabs, cid, cv, codes)`` candidate frame:
    the ADC distance is m table lookups, the ``shortlist`` smallest per
    query are re-ranked by exact cosine."""
    adc = F.expr(
        " + ".join(
            f"element_at(element_at(tabs, {j + 1}),"
            f" element_at(codes, {j + 1}) + 1)"
            for j in range(m)
        )
    )
    short = _shortlist(cand.withColumn("adc", adc), F.col("adc"), shortlist)
    return _top_k(with_cosine(short, "qv", "cv"), k)


def pq_topk(
    index: PqIndex,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 50,
    exclude_self: bool = True,
) -> DataFrame:
    """Probe half of the PQ split: asymmetric-distance (ADC) scoring
    against the compact codes, exact cosine re-rank of the shortlist.

    Each query precomputes its distance TABLE — m x 2^bits reduced
    partial distances (``-2 q_j . c + ||c||^2``; the dropped
    ``||q_j||^2`` terms shift every candidate by the same per-query
    constant, so ranking is exact ADC) from its subvectors to every
    codebook centroid — then every corpus vector's approximate
    distance is m table lookups, never d multiplies. The query side
    (bounded) is broadcast with its tables; the scan is map-only over
    the codes; one window takes the ``shortlist`` best per query by
    ADC; exact cosine re-ranks only those. Returns (qid, cid, cosine)
    top-k, deterministic tie-breaks. The per-candidate ADC itself is
    scalar (m element_at lookups); the per-QUERY tables are built once
    per query row from the folded codebook literals
    (:func:`_pq_codebook_sql` — same values as the pre-r14 scalar
    chains, ~20x smaller expression tree, no 64 KB codegen blowup).
    """
    qt = _pq_queries(index, queries, id_col, vec_col)
    cand = index.codes.crossJoin(F.broadcast(qt))
    if exclude_self:
        cand = cand.filter(F.col("qid") != F.col("cid"))
    return _pq_rank(cand, index.m, k, shortlist)


def pq_topk_oneshot(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    bits: int = 4,
    shortlist: int = 50,
    seed: int = 42,
) -> DataFrame:
    """Convenience fit+probe in one call (the registry-query shape);
    production reuses :func:`build_pq_index` across probe batches.
    Nothing is cached: the returned frame holds the only reference to
    the index, so a cached one could never be released."""
    index = build_pq_index(
        corpus, id_col, vec_col, m=m, bits=bits, seed=seed, cache=False
    )
    return pq_topk(
        index, queries, id_col, vec_col, k=k, shortlist=shortlist
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    bits: int = 4,
    shortlist: int = 50,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """The composed 100 TB ANN stack (FAISS's IVFPQ): IVF coarse cells
    bound WHICH vectors each query scans (~corpus * n_probe / n_cells
    candidates), PQ codes bound WHAT the scan costs per candidate
    (m table lookups on m*bits-bit codes instead of d-float cosines),
    and exact cosine re-ranks only the ADC shortlist.

    Plan shape: both indexes build once over the corpus (sample-trained
    centroids and codebooks), the code table joins the cell
    assignment on the id key, probes broadcast (bounded query set x
    n_probe cells, with the per-query ADC tables attached), and the
    candidate join is cell-local. Every stage is the already-certified
    IVF or PQ stage; this operator is their join.
    """
    ivf = build_ivf_index(
        corpus, id_col, vec_col, n_cells=n_cells, seed=seed, cache=False
    )
    pq = build_pq_index(
        corpus, id_col, vec_col, m=m, bits=bits, seed=seed, cache=False
    )
    codes_cells = pq.codes.join(ivf.cells.select("cid", "cell"), "cid")
    cent_df = _centroid_table(queries.sparkSession, ivf.centroids)
    probes = _probe_cells(_pq_queries(pq, queries, id_col, vec_col), cent_df, n_probe)
    cand = codes_cells.join(F.broadcast(probes), "cell")
    if exclude_self:
        cand = cand.filter(F.col("qid") != F.col("cid"))
    return _pq_rank(cand, pq.m, k, shortlist)


def save_pq_index(index: PqIndex, path: str) -> None:
    """Persist a built PQ index: codes as parquet (``<path>/codes``),
    codebooks as a one-row JSON parquet (``<path>/codebooks``) — both
    through the Spark writers, so the index lands wherever the session
    can write (local, HDFS, object store) and a later JOB can
    :func:`load_pq_index` without retraining. The codebook table is
    m * 2^bits rows of (subspace, code, centroid) — bounded and
    schema'd, not a pickled blob.
    """
    spark = index.codes.sparkSession
    index.codes.write.mode("overwrite").parquet(path + "/codes")
    rows = [
        (j, i, c)
        for j, cb in enumerate(index.codebooks)
        for i, c in enumerate(cb)
    ]
    spark.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path + "/codebooks")


def load_pq_index(spark, path: str, cache: bool = True) -> PqIndex:
    """Load a :func:`save_pq_index` index — no sample, no retraining:
    the build cost is paid exactly once per corpus version, across
    sessions and jobs."""
    cb_rows = (
        spark.read.parquet(path + "/codebooks")
        .orderBy("subspace", "code")
        .collect()
    )
    m = max(r["subspace"] for r in cb_rows) + 1
    codebooks: list[list[list[float]]] = [[] for _ in range(m)]
    for r in cb_rows:
        codebooks[r["subspace"]].append(list(r["centroid"]))
    codes = spark.read.parquet(path + "/codes")
    if cache:
        codes = codes.persist()
    return PqIndex(codes, codebooks)


def save_ivf_index(index: IvfIndex, path: str) -> None:
    """Persist a built IVF index (persistence parity with
    :func:`save_pq_index`): the inverted file as parquet
    (``<path>/cells``), the bounded centroid table as
    ``(cell, centroid)`` rows (``<path>/centroids``) — schema'd
    parquet through the Spark writers, so a later job can
    :func:`load_ivf_index` and probe without retraining."""
    spark = index.cells.sparkSession
    index.cells.write.mode("overwrite").parquet(path + "/cells")
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(index.centroids)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/centroids")


def load_ivf_index(spark, path: str, cache: bool = True) -> IvfIndex:
    """Load a :func:`save_ivf_index` index — no retraining; the build
    cost is paid once per corpus version, across sessions and jobs."""
    cent = spark.read.parquet(path + "/centroids").orderBy("cell").collect()
    centroids = [list(r["centroid"]) for r in cent]
    cells = spark.read.parquet(path + "/cells")
    if cache:
        cells = cells.persist()
    return IvfIndex(cells, centroids)


# ------------------------------------------------------------ scalar
# quantization (SQ8): the remaining standard ANN compression rung
# between raw floats (brute force) and product quantization — one
# int8 code per DIMENSION (8x smaller than float64), dequantized
# per-dimension for approximate scoring, exact rescore on the
# shortlist. Unlike PQ there is nothing learned beyond per-dimension
# min/max, so the whole pipeline is closed-form and DETERMINISTIC —
# which makes SQ8 the one ANN family whose approximate scores can be
# hash-certified against an independent engine (q114): both engines
# floor the same affine map and sum the same dequantized products in
# index order.


class Sq8Index:
    """A built SQ8 index: the coded corpus + per-dimension ranges.

    ``codes`` is ``(cid, codes array<int>)`` — the persistable 8x-
    compressed artifact an ANN service would keep hot; ``mns``/``mxs``
    are the ``dim`` per-dimension bounds (bounded driver state, like
    the PQ codebooks). At 100 TB the build is one min/max aggregate
    pass + one map-side encode; approximate scoring scans codes only,
    and raw vectors are fetched just for the shortlist rescore.
    """

    def __init__(self, codes: DataFrame, mns: list[float], mxs: list[float]):
        self.codes = codes
        self.mns = mns
        self.mxs = mxs

    def unpersist(self) -> None:
        self.codes.unpersist()


def _sq8_bounds(mns: list[float], mxs: list[float]):
    """The per-dimension bounds as two array literals."""
    return F.array(*[F.lit(v) for v in mns]), F.array(*[F.lit(v) for v in mxs])


def _sq8_decode(codes: DataFrame, index: Sq8Index) -> DataFrame:
    """``codes`` plus ``dv``, the dequantized array<double>:
    mn + code * (mx - mn) / 255."""
    mn_arr, mx_arr = _sq8_bounds(index.mns, index.mxs)
    return codes.withColumn(
        "dv",
        F.transform(
            F.col("codes"),
            lambda c, i: F.element_at(mn_arr, i + 1)
            + c.cast("double")
            * (F.element_at(mx_arr, i + 1) - F.element_at(mn_arr, i + 1))
            / F.lit(255.0),
        ),
    )


def build_sq8_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache: bool = True,
) -> Sq8Index:
    """Train (per-dimension min/max) + encode in two distributed
    passes. The min/max table is ``dim`` rows — a bounded collect
    (same discipline as the PQ codebook sample); the encode is
    map-side against the broadcast-literal bounds:
    ``code_d = floor((x_d - mn_d) / (mx_d - mn_d) * 255 + 0.5)``
    (constant dimensions encode as 0). Codes are exact integers, so
    the index is partition- and replay-invariant by construction.
    """
    c = _vectors(spread_small_scan(corpus), id_col, vec_col)
    stats = (
        c.select(F.posexplode("cv").alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("d")
        .collect()
    )
    mns = [r.mn for r in stats]
    mxs = [r.mx for r in stats]
    mn_arr, mx_arr = _sq8_bounds(mns, mxs)
    enc = F.transform(
        "cv",
        lambda x, i: F.when(
            F.element_at(mx_arr, i + 1) == F.element_at(mn_arr, i + 1),
            F.lit(0).cast("int"),
        ).otherwise(
            F.floor(
                (x - F.element_at(mn_arr, i + 1))
                / (F.element_at(mx_arr, i + 1) - F.element_at(mn_arr, i + 1))
                * F.lit(255.0)
                + F.lit(0.5)
            ).cast("int")
        ),
    )
    codes = c.select("cid", enc.alias("codes"))
    if cache:
        codes = codes.persist()
    return Sq8Index(codes, mns, mxs)


def _sq8_rank(
    cand: DataFrame,
    q: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    shortlist: int,
) -> DataFrame:
    """SQ8 scoring of a ``(qid, qv, cid, dv)`` candidate frame: the
    ``shortlist`` best per query by dequantized cosine, then exact
    cosine against the raw vectors. The raw corpus vectors enter only
    here, by a shortlist-sized equi join (<= |q| * shortlist rows),
    never through the candidate scan (ADVICE r7)."""
    approx = cand.select("qid", "cid", _cosine("dv", "qv").alias("approx"))
    short = _shortlist(approx, F.desc("approx"), shortlist).select("qid", "cid")
    exact = (
        short.join(_vectors(corpus, id_col, vec_col), "cid")
        .join(F.broadcast(q), "qid")
        .select("qid", "cid", _cosine("cv", "qv").alias("cosine"))
    )
    return _top_k(exact, k)


def sq8_topk(
    index: Sq8Index,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 32,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: ADC over dequantized codes -> per-query
    ``shortlist`` by approximate cosine -> EXACT cosine rescore of the
    shortlist only -> top ``k``. Output ``(qid, cid, cosine)`` with
    exact cosines.

    Shape: queries broadcast against the codes frame (the corpus's raw
    vectors are touched only by the shortlist-sized rescore join);
    both rankings tie-break on cid, so results are deterministic.
    """
    q = _vectors(queries, id_col, vec_col, "qid", "qv")
    cand = _sq8_decode(index.codes, index).crossJoin(F.broadcast(q))
    if exclude_self:
        cand = cand.filter(F.col("qid") != F.col("cid"))
    return _sq8_rank(cand, q, corpus, id_col, vec_col, k, shortlist)


def save_sq8_index(index: Sq8Index, path: str) -> None:
    """Persist a built SQ8 index (persistence parity with
    :func:`save_pq_index` / :func:`save_ivf_index`): the codes as
    parquet (``<path>/codes``), the per-dimension bounds as ``(d, mn,
    mx)`` rows (``<path>/bounds``) — schema'd parquet through the
    Spark writers, so a later job can :func:`load_sq8_index` and probe
    without re-running the min/max training pass."""
    spark = index.codes.sparkSession
    index.codes.write.mode("overwrite").parquet(path + "/codes")
    spark.createDataFrame(
        [(d, mn, mx) for d, (mn, mx) in enumerate(zip(index.mns, index.mxs))],
        "d int, mn double, mx double",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/bounds")


def load_sq8_index(spark, path: str, cache: bool = True) -> Sq8Index:
    """Load a :func:`save_sq8_index` index — no training pass; bounds
    round-trip as exact doubles, so probes against the loaded index
    are bit-identical to probes against the built one."""
    rows = spark.read.parquet(path + "/bounds").orderBy("d").collect()
    codes = spark.read.parquet(path + "/codes")
    if cache:
        codes = codes.persist()
    return Sq8Index(codes, [r.mn for r in rows], [r.mx for r in rows])


def ivf_sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    shortlist: int = 50,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF x SQ8 (FAISS's IVFFlat-with-SQ8 rung, completing the
    composed-ANN ladder beside :func:`ivf_pq_topk`): IVF cells bound
    WHICH vectors each query scans, SQ8 codes bound the candidate
    frame's FOOTPRINT (int8 per dimension — 8x smaller than float64,
    so the hot scan set fits in memory at 8x the corpus), and exact
    cosine re-ranks only the shortlist against the raw vectors.

    Versus PQ: per-candidate cost stays O(d) (dequantized dot) rather
    than m table lookups, but accuracy is near-exact — SQ8 is the
    right rung when memory, not FLOPs, is the binding constraint.
    Every stage is an already-certified IVF or SQ8 stage (q52/q114);
    this operator is their join.
    """
    ivf = build_ivf_index(
        corpus, id_col, vec_col, n_cells=n_cells, seed=seed, cache=False
    )
    sq = build_sq8_index(corpus, id_col, vec_col, cache=False)
    # The code table joins the cell assignment as (cid, cell, codes)
    # only, and dequantizes after that shuffle: the float64 vectors
    # (raw or dequantized) never cross an exchange.
    codes_cells = _sq8_decode(sq.codes.join(ivf.cells.select("cid", "cell"), "cid"), sq)
    cent_df = _centroid_table(queries.sparkSession, ivf.centroids)
    q = _vectors(queries, id_col, vec_col, "qid", "qv")
    cand = codes_cells.join(F.broadcast(_probe_cells(q, cent_df, n_probe)), "cell")
    if exclude_self:
        cand = cand.filter(F.col("qid") != F.col("cid"))
    return _sq8_rank(cand, q, corpus, id_col, vec_col, k, shortlist)
