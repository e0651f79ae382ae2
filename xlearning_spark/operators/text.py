"""Text analysis operators (SURVEY.md §2.12 L4/L6): language ID,
quality scoring, token stats, fingerprinting.

All pure column expressions (JVM codegen, no UDFs) so they run at scan
throughput — on 100 TB these are map-only passes with full predicate
pushdown preserved.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from xlearning_spark.engine import intermediates, scope
from xlearning_spark.functions import (
    fingerprint,
    punct_count,
    stopword_count,
    token_count,
    tokens,
)

# Tiny per-language marker lexicons for heuristic n-gram-free language
# ID (the real signal at scale would be char-ngram profiles; markers
# keep this a pure JVM expression).
_LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "de", "que"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "les"),
    "zh": ("的", "是", "了", "在"),
}


def lang_score_columns(text_col: str) -> list[Column]:
    """One marker-hit-count column per language: ``score_<lang>``."""
    t = tokens(text_col)
    cols = []
    for lang, markers in _LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        cols.append(
            F.size(F.filter(t, lambda x: F.array_contains(arr, x))).alias(
                f"score_{lang}"
            )
        )
    return cols


def guess_lang(text_col: str) -> Column:
    """argmax over marker scores; 'und' when nothing matches."""
    t = tokens(text_col)
    scored = []
    for lang, markers in _LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.filter(t, lambda x: F.array_contains(arr, x)))
        scored.append(F.struct(score.alias("s"), F.lit(lang).alias("l")))
    best = F.array_max(F.array(*scored))
    return F.when(best.getField("s") > 0, best.getField("l")).otherwise(F.lit("und"))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_tokens / n_punct / n_stopwords / avg_token_len / fp."""
    t = tokens(text_col)
    return (
        df.withColumn("n_tokens", token_count(text_col))
        .withColumn("n_punct", punct_count(text_col))
        .withColumn("n_stopwords", stopword_count(text_col))
        .withColumn(
            "avg_token_len",
            F.aggregate(t, F.lit(0), lambda a, x: a + F.length(x)).cast("double")
            / F.size(t),
        )
        .withColumn("fp", fingerprint(text_col))
    )


def quality_score(text_col: str = "text") -> Column:
    """Heuristic quality in [0,1]: penalize extreme length, high symbol
    ratio, high repetition (distinct-token ratio), like Gopher/C4-style
    filters. Deterministic, expression-only."""
    t = tokens(text_col)
    n = F.size(t).cast("double")
    distinct_ratio = F.size(F.array_distinct(t)).cast("double") / F.greatest(
        n, F.lit(1.0)
    )
    symbol_ratio = punct_count(text_col).cast("double") / F.greatest(
        F.length(text_col).cast("double"), F.lit(1.0)
    )
    length_ok = (n >= 5) & (n <= 10000)
    score = (
        F.when(length_ok, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.lit(0.3) * distinct_ratio
        + F.lit(0.3) * (F.lit(1.0) - F.least(symbol_ratio * 10, F.lit(1.0)))
    )
    return F.round(score, 6)


def lm_bigram_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
    train_df: DataFrame | None = None,
    max_contexts: int | None = None,
    min_count: int = 1,
) -> DataFrame:
    """Statistical-LM quality scoring (L4/L6): per-document mean bigram
    log-probability under an add-k-smoothed bigram language model — the
    CCNet/Gopher-style "perplexity filter" (Wenzek et al., "CCNet",
    LREC 2020 — public paper; docs whose token stream the corpus LM
    finds improbable are boilerplate/garbage candidates; very probable
    ones are templated repetition). Everything is count arithmetic +
    one ln per bigram, so the score is engine-replayable (q89 oracle).

    Model: p(tok|prev) = (c(prev,tok) + k) / (c(prev) + k*V), trained
    on ``train_df`` (default: the scored corpus itself) with V = the
    TRAINING vocabulary size; unseen bigrams/contexts fall back to the
    smoothing mass, so scoring out-of-corpus docs is well-defined.

    100 TB shape: one keyed-window shuffle builds each side's bigram
    stream; the LM is two hash-aggs whose result is bounded by the
    corpus's DISTINCT bigram count (vocab-shaped, not corpus-shaped);
    scoring is a join on (prev, tok) + one per-doc agg. No UDFs.

    Model-size pruning (the production-LM knobs, VERDICT r5 item 3):

    - ``max_contexts``: keep only the N highest-total-count contexts
      (``prev`` tokens; ties broken on the token for determinism).
      Docs' bigrams under a pruned context score the full smoothing
      fallback ``(0+k)/(0+k*V) = 1/V`` — the standard unseen-context
      path, already exercised by out-of-corpus scoring. The kept
      context list is <= N rows, broadcastable by construction, so the
      LM join side is bounded by the knob rather than by the corpus's
      context vocabulary.
    - ``min_count``: drop bigram entries with count < min_count from
      the model (context totals keep the full counts, as in a pruned
      count table); pruned bigrams take the unseen-bigram path
      ``(0+k)/(c(prev)+k*V)``.

    Defaults (``None``/1) change nothing: the q89 oracle replays the
    unpruned model bit-for-bit.

    Returns (id_col, n_bigrams, lm_logp): docs with < 2 tokens drop
    out (no bigram evidence — filter them with the length-based
    quality_score instead).
    """

    def bigrams(src: DataFrame, with_id: bool) -> DataFrame:
        t = src.select(
            F.col(id_col).alias("__id"),
            F.posexplode(tokens(text_col)).alias("__pos", "prev"),
        )
        w = Window.partitionBy("__id").orderBy("__pos")
        out = t.withColumn("tok", F.lead("prev").over(w)).filter(
            F.col("tok").isNotNull()
        )
        return out.select("__id", "prev", "tok") if with_id else out.select(
            "prev", "tok"
        )

    train = train_df if train_df is not None else df
    train_bi = bigrams(train, with_id=False)
    c2 = train_bi.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("__n2"))
    c1 = c2.groupBy("prev").agg(F.sum("__n2").alias("__n1"))
    if max_contexts is not None:
        # Deterministic top-N (TakeOrdered, never a full sort at scale);
        # <= max_contexts rows, so the semi-join side broadcasts.
        kept = (
            c1.orderBy(F.desc("__n1"), "prev")
            .limit(max_contexts)
            .select("prev")
        )
        c1 = c1.join(F.broadcast(kept), "prev", "left_semi")
        c2 = c2.join(F.broadcast(kept), "prev", "left_semi")
    if min_count > 1:
        c2 = c2.filter(F.col("__n2") >= min_count)
    vocab = (
        train.select(F.explode(tokens(text_col)).alias("__t"))
        .agg(F.countDistinct("__t").alias("__v"))
    )

    scored = (
        bigrams(df, with_id=True)
        .join(c2, ["prev", "tok"], "left")
        .join(c1, "prev", "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "__lp",
            F.log(
                (F.coalesce(F.col("__n2"), F.lit(0)) + F.lit(k))
                / (F.coalesce(F.col("__n1"), F.lit(0)) + F.lit(k) * F.col("__v"))
            ),
        )
    )
    return (
        scored.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("__lp"), 4).alias("lm_logp"),
        )
        .withColumnRenamed("__id", id_col)
    )


# --------------------------------------------------------------------
# L4: document fingerprinting — winnowing over a rolling k-gram hash
# (Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for Document
# Fingerprinting", SIGMOD 2003 — public paper). Complements the
# whole-document `fingerprint` key (functions/__init__.py): winnowing
# selects a position-robust SUBSET of k-gram hashes, so two documents
# sharing any run of >= k + w - 1 characters are guaranteed to share at
# least one fingerprint — the local-match property exact/whole-doc
# fingerprints lack.
# --------------------------------------------------------------------

#: Rabin-Karp polynomial modulus/base for the oracle-reproducible path.
WINNOW_PRIME = 1_000_000_007
WINNOW_BASE = 31


def kgram_hashes(
    text_col: str | Column, k: int, *, polynomial: bool = False
) -> Column:
    """``array<long>`` of hashes of every k-character window of the text
    — the SPEC form of the winnowing k-gram hash, used by tests to pin
    the hash definition (tests/test_winnowing.py checks it against a
    Python Horner reference, the same arithmetic the q78 DuckDB oracle
    replays, and against the row-stream implementation below).

    Default is one ``xxhash64(substring(text, i, k))`` per position.
    With ``polynomial=True`` each window gets the Rabin-Karp polynomial
    hash (Horner, base 31, mod 1e9+7) — plain arithmetic any SQL engine
    can replay.

    Unicode: all three computations of this hash — this spec form, the
    char-stream row form, and the DuckDB oracle's ``ord(text[i])``
    replay — operate on CODEPOINTS, verified beyond the BMP (Spark's
    ``split``/``substring``/``ascii``/``length`` are codepoint-aware on
    UTF8String, they do not split surrogate pairs;
    tests/test_winnowing.py::test_unicode_codepoint_parity pins this
    against a Python ``ord()`` reference on BMP and astral text).

    NOT the production path: :func:`winnowing_fingerprint_rows`
    computes the identical values as a posexplode'd char/position
    stream with lead() windows, because an array-expression pipeline
    gets its interpreted lambdas re-inlined by downstream pushed
    predicates (see there). Keep this form for specification and
    verification only.
    """
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    positions = F.sequence(F.lit(1), F.length(t) - k + 1)
    if not polynomial:
        return F.transform(positions, lambda i: F.xxhash64(F.substring(t, i, k)))

    def horner(i: Column) -> Column:
        h = F.lit(0).cast("long")
        for j in range(k):
            h = (h * WINNOW_BASE + F.ascii(F.substring(t, i + F.lit(j), 1))) % WINNOW_PRIME
        return h

    return F.transform(positions, horner)


def winnowing_fingerprint_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 25,
    w: int = 10,
    *,
    polynomial: bool = False,
) -> DataFrame:
    """Winnowing fingerprints, one row per distinct minimum:
    ``(id, n_kgrams, fp)``.

    Shape: posexplode the k-gram hash array to ``(id, pos, h)`` rows,
    then one keyed WINDOW pass — ``min(h)`` over the w-row following
    frame is each window's minimum and a distinct-agg collapses repeats.
    Everything after the k-gram projection is whole-stage-codegen'd
    window/agg machinery; one shuffle on the doc key.

    Why not a pure array expression (slice+array_min per window, no
    shuffle)? Nested higher-order functions are interpreted, and worse,
    any downstream explode infers a ``size(...) > 0`` predicate that
    Catalyst pushes below the projection, inlining the k-gram transform
    INSIDE the per-window lambda — O(len^2 * k) per document, measured
    ~100x slower than this formulation at fixture scale. The keyed
    shuffle of the k-gram stream is linear in corpus size and
    partition-pruned by the doc key, the shape that survives 100 TB.
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    from xlearning_spark.operators.sharding import spread_small_scan

    # r13 (guide §2.5): the k-gram/char explode below multiplies each
    # document into hundreds of rows INSIDE the scan stage — spread a
    # narrow fixture scan first so that generation parallelizes (no-op
    # on an already-wide scan).
    base = spread_small_scan(df).filter(
        F.col(text_col).isNotNull() & (F.length(text_col) >= k + w - 1)
    )
    order = Window.partitionBy(id_col).orderBy("__pos")
    if polynomial:
        # Character stream + lead() Horner: posexplode the text into
        # (id, pos, char) rows and fold the k codepoints with window
        # leads — pure arithmetic, zero substring calls (substring(t,
        # i, 1) re-scans the string's byte prefix per call, O(len^2)
        # per doc across positions), zero higher-order functions.
        chars = base.select(
            F.col(id_col),
            F.posexplode_outer(F.split(F.col(text_col), "")).alias(
                "__pos", "__c"
            ),
        )
        code = F.ascii("__c").cast("long")
        h = code
        for j in range(1, k):
            h = (h * WINNOW_BASE + F.lead(code, j).over(order)) % WINNOW_PRIME
        kh = chars.select(
            F.col(id_col), F.col("__pos"), h.alias("__h")
        ).filter(F.col("__h").isNotNull())
    else:
        # One xxhash64(substring) per k-gram, computed in a codegen'd
        # projection after the position explode (never inside a lambda).
        pos = base.select(
            F.col(id_col),
            F.col(text_col),
            F.posexplode_outer(
                F.sequence(F.lit(1), F.length(text_col) - k + 1)
            ).alias("__pos", "__i"),
        )
        kh = pos.select(
            F.col(id_col),
            F.col("__pos"),
            F.xxhash64(F.expr(f"substring({text_col}, __i, {k})")).alias("__h"),
        )
    frame = order.rowsBetween(Window.currentRow, w - 1)
    per_doc = Window.partitionBy(id_col)
    wm = kh.select(
        F.col(id_col),
        F.col("__pos"),
        F.count("*").over(per_doc).alias("n_kgrams"),
        F.min("__h").over(frame).alias("fp"),
    )
    # __pos is the 0-based k-gram index: valid windows start at
    # 0 .. n_kgrams - w.
    return (
        wm.filter(F.col("__pos") <= F.col("n_kgrams") - w)
        .select(id_col, "n_kgrams", "fp")
        .distinct()
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 25,
    w: int = 10,
    *,
    polynomial: bool = False,
) -> DataFrame:
    """Winnowing fingerprint set per document: ``(id, n_kgrams,
    fingerprints array<long>)``.

    Each window of ``w`` consecutive k-gram hashes contributes its
    minimum; the distinct minima are the fingerprints (sorted, for a
    deterministic array). Guarantee (SIGMOD'03): any substring of
    length >= k + w - 1 shared by two documents yields at least one
    shared fingerprint; density is ~2/(w+1) of all k-grams.

    Aggregated form of :func:`winnowing_fingerprint_rows` (see there
    for the plan-shape rationale).
    """
    rows = winnowing_fingerprint_rows(
        df, id_col, text_col, k, w, polynomial=polynomial
    )
    return rows.groupBy(id_col, "n_kgrams").agg(
        F.array_sort(F.collect_set("fp")).alias("fingerprints")
    )


def fingerprint_overlap_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fingerprints",
    min_shared: int = 2,
    max_df: int | None = None,
    *,
    exploded: bool = False,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints:
    ``(id_a, id_b, n_shared)`` — the plagiarism/near-dup report of the
    winnowing paper.

    Join shape: explode to (fingerprint, id) and equi-join on the
    fingerprint value — fingerprint-key-local, never all-pairs, same
    family as the MinHash band join. A fingerprint shared by m docs
    still contributes m^2 candidate pairs, so at corpus scale pass
    ``max_df`` to drop fingerprints with doc-frequency > max_df (the
    standard stop-fingerprint cap: boilerplate shared by thousands of
    docs carries no near-dup signal anyway).

    ``exploded=True`` (r13): ``fps`` is already one row per
    (id, fingerprint) — :func:`winnowing_fingerprint_rows` output with
    ``fp_col="fp"`` — skipping the collect_set aggregation a caller
    would otherwise run only for this function to re-explode it (one
    whole Exchange plus the array build, per plans/r13/q79_*). The
    per-(id, fingerprint) distinctness the pair counts rest on is
    ENFORCED with a ``dropDuplicates`` rather than assumed (ADVICE
    r13: a caller passing raw non-distinct k-gram rows would silently
    overcount n_shared) — on already-distinct input such as the
    winnowing rows it is a plan-level duplicate of the upstream
    Deduplicate that the optimizer removes (verified in
    plans/r14/q79_*: same Exchange count with and without it).

    The plan is lazy: the exploded (id, fingerprint) frame feeds the
    df-cap filter and both self-join sides, so Catalyst runs the
    upstream fingerprint computation once per branch. A caller whose
    fingerprint frame is small enough to cache persists ``fps`` itself;
    at 100 TB the lazy plan avoids pinning a corpus-scale frame in
    executor storage. No caller persists today: q79 measured faster
    lazy under the cold-cache protocol (r14).
    """
    if exploded:
        fp = fps.select(
            F.col(id_col).alias("__id"), F.col(fp_col).alias("__fp")
        ).dropDuplicates(["__id", "__fp"])
    else:
        fp = fps.select(
            F.col(id_col).alias("__id"), F.explode(fp_col).alias("__fp")
        )
    if max_df is not None:
        rare = (
            fp.groupBy("__fp")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("__fp")
        )
        fp = fp.join(rare, "__fp", "semi")
    a = fp.select(F.col("__fp"), F.col("__id").alias("id_a"))
    b = fp.select(F.col("__fp"), F.col("__id").alias("id_b"))
    return (
        a.join(b, "__fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --------------------------------------------------------------------
# BPE tokenizer training (Sennrich/Haddow/Birch, ACL 2016 "Neural
# Machine Translation of Rare Words with Subword Units") — the
# tokenizer-training operator of the LLM-corpus tier. The reference
# platform only ships data to external trainers (HboxContainer.java
# pipe pump); training the subword vocabulary inside the engine is
# engine value-add on the same corpus surface as q51's token counts.
# --------------------------------------------------------------------

def learn_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_freq: int = 2,
    end_of_word: str = "</w>",
    checkpoint_every: int = 1,
    driver_vocab_limit: int = 1_000_000,
) -> list[tuple[str, str]]:
    """Learn BPE merge rules distributed; returns merges in rank order.

    100 TB shape: ONE corpus-wide shuffle builds the (word, count)
    vocabulary — every later iteration touches only that vocab table
    (bounded by distinct-word count, not corpus size), exactly how
    industrial BPE trainers scale. Per iteration: adjacent symbol-pair
    counts via arrays_zip+explode (JVM), a deterministic argmax
    (count desc, then lexicographic pair — ties never depend on
    partitioning), and a greedy left-to-right merge folded JVM-side
    with ``F.aggregate`` (the pair literals are baked into codegen, no
    Python in the loop). The only driver traffic is one argmax row per
    merge. Lineage is localCheckpoint-truncated every
    ``checkpoint_every`` rounds (same discipline as
    dedup.connected_components); the default of 1 materializes the
    small vocab table each round, because re-executing stacked
    ``F.aggregate`` fold layers between sparser checkpoints costs far
    more than the materialization (measured 49.5 s -> 8.1 s for 16
    merges on the sf0.1 corpus, identical output).

    Stops early when the best pair's frequency drops below
    ``min_freq``; returns possibly fewer than ``n_merges`` rules.
    """
    return [
        (left, right)
        for left, right, _ in learn_bpe_merge_table(
            df,
            text_col,
            n_merges,
            min_freq,
            end_of_word,
            checkpoint_every,
            driver_vocab_limit,
        )
    ]


def _bpe_merge_loop_local(
    vocab_rows: list[tuple[str, int]],
    n_merges: int,
    min_freq: int,
    end_of_word: str,
) -> list[tuple[str, str, int]]:
    """In-memory greedy BPE merge loop over a collected (word, count)
    vocabulary — the indexed Sennrich et al. (ACL 2016) trainer: pair
    counts are maintained INCREMENTALLY (each merge rewrites only the
    words that contain the merged pair), so a merge costs O(affected
    words), not O(vocabulary).

    Bit-compatible with the distributed loop it replaces on the
    in-cap path (and with q121/q122's DuckDB oracle replay):
      - symbols: the word's characters + ``end_of_word`` (Python
        iterates code points, exactly like Spark's ``split(w, '')``);
      - pair counts: every adjacent occurrence, weighted by word count;
      - argmax tie-break: highest count, then lexicographically
        smallest (left, right) — Python's code-point string order
        equals Spark's UTF8String byte order because UTF-8 is
        order-preserving;
      - rewrite: greedy left-to-right fold where the just-fused token
        re-fuses only as the LEFT of a later occurrence (identical to
        the ``F.aggregate`` fold and to ``apply_bpe``'s per-rule scan);
      - stop when the best pair's count drops below ``min_freq``.
    """
    from collections import Counter, defaultdict

    vocab: list[tuple[list[str], int]] = [
        (list(w) + [end_of_word], cnt) for w, cnt in vocab_rows
    ]
    pair_counts: Counter = Counter()
    pair_words: dict[tuple[str, str], set[int]] = defaultdict(set)
    for idx, (syms, cnt) in enumerate(vocab):
        for p in zip(syms, syms[1:]):
            pair_counts[p] += cnt
            pair_words[p].add(idx)

    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best: tuple[str, str] | None = None
        best_n = 0
        for p, n in pair_counts.items():
            if n > best_n or (n == best_n and best is not None and p < best):
                best, best_n = p, n
        if best is None or best_n < min_freq:
            break
        left, right = best
        merges.append((left, right, int(best_n)))
        joined = left + right
        # Rewrite ONLY the words indexed under the merged pair. Stale
        # index entries (the word was rewritten since and no longer
        # holds the pair) are harmless: subtract-then-re-add of its
        # pairs is a net no-op and the fold leaves it unchanged.
        for idx in sorted(pair_words.pop(best, ())):
            syms, cnt = vocab[idx]
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = joined
                else:
                    out.append(s)
            if out == syms:
                continue
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= cnt
            vocab[idx] = (out, cnt)
            for p in zip(out, out[1:]):
                pair_counts[p] += cnt
                pair_words[p].add(idx)
        # The merged pair's count is now spent; drop zero/negative
        # residue so the argmax scan stays clean.
        pair_counts.pop(best, None)
    return merges


def learn_bpe_merge_table(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_freq: int = 2,
    end_of_word: str = "</w>",
    checkpoint_every: int = 1,
    driver_vocab_limit: int = 1_000_000,
) -> list[tuple[str, str, int]]:
    """:func:`learn_bpe_merges` with the argmax frequency kept per rule:
    ``[(left, right, corpus_pair_count), ...]`` in rank order. The
    counts are what q121's hash-certified oracle replays (a DuckDB
    query re-runs the same argmax-merge loop on a delimiter-wrapped
    string encoding of the vocab), so the TRAINER itself — not just
    the applied tokenization — is externally certified.

    r14 (guide §1.2/§5 — the distributed algorithm, then the driver):
    ONE corpus-wide shuffle still builds the (word, count) vocabulary;
    the merge loop itself now runs ON THE DRIVER whenever the distinct-
    word vocabulary fits ``driver_vocab_limit`` (the architecture every
    industrial BPE trainer uses — the corpus-scale pass is the word
    count, the merge loop is vocabulary-scale): a bounded
    ``limit(cap+1)`` collect, then the indexed in-memory Sennrich loop
    (:func:`_bpe_merge_loop_local`, bit-compatible — verified against
    the distributed loop's output). The distributed per-round
    argmax/rewrite loop remains as the over-cap fallback — a
    heaps-law-unbounded 100 TB vocabulary (URLs, typos, numbers)
    overflows any driver, so the cap degrades to the old plan instead
    of an OOM; pass ``driver_vocab_limit=0`` to skip the probe and
    force the distributed loop. Measured (sf0.1, 16 merges): each
    distributed round cost 0.3-1.0 s of job overhead on a vocabulary
    of 31 rows — 8-10 s of the q93 total — versus microseconds
    in-memory."""
    from xlearning_spark.operators.sharding import spread_small_scan

    words = (
        # r13 (guide §2.5): the one corpus-wide pass (token explode +
        # map-side partial count) otherwise runs inside a narrow scan
        # stage; no-op on an already-wide scan.
        spread_small_scan(df)
        .select(F.explode(F.split(F.col(text_col), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    if driver_vocab_limit and driver_vocab_limit > 0:
        head = words.limit(driver_vocab_limit + 1).collect()
        if len(head) <= driver_vocab_limit:
            return _bpe_merge_loop_local(
                [(r["w"], int(r["cnt"])) for r in head],
                n_merges,
                min_freq,
                end_of_word,
            )
        # Vocabulary over the driver cap: fall through to the
        # distributed loop (words is recomputed — the probe cost one
        # aggregate job; callers on unbounded corpora pass 0 to skip).
    # r13 (guide §1.2 — fewer barriers): every checkpoint in this loop
    # is LAZY (eager=False). The per-round argmax below is a
    # TakeOrdered over every partition, so it doubles as the
    # materializing job for the round's vocab — one job per merge
    # instead of two (eager materialize + argmax). Because a lazy
    # checkpoint still READS its predecessor's blocks while
    # materializing, the superseded round's release is deferred until
    # the argmax that consumed it has run (``pending_release``). Only
    # the merges list leaves the scope, so it frees the last rounds.
    with intermediates():
        vocab = words.select(
            F.concat(
                F.filter(F.split("w", ""), lambda c: c != ""),
                F.array(F.lit(end_of_word)),
            ).alias("syms"),
            "cnt",
        )
        vocab = scope().checkpoint(vocab, eager=False)
        live_ck = vocab
        pending_release = None

        merges: list[tuple[str, str, int]] = []
        for i in range(n_merges):
            pairs = (
                vocab.filter(F.size("syms") >= 2)
                .select(
                    F.slice("syms", 1, F.size("syms") - 1).alias("la"),
                    F.slice("syms", 2, F.size("syms") - 1).alias("ra"),
                    "cnt",
                )
                .select(F.explode(F.arrays_zip("la", "ra")).alias("p"), "cnt")
                .groupBy(
                    F.col("p.la").alias("left"), F.col("p.ra").alias("right")
                )
                .agg(F.sum("cnt").alias("n"))
            )
            best = pairs.orderBy(F.desc("n"), "left", "right").limit(1).collect()
            # The argmax just materialized the current vocab checkpoint —
            # its predecessor's blocks are dead now (not one job earlier).
            if pending_release is not None:
                scope().release(pending_release)
                pending_release = None
            if not best or best[0]["n"] < min_freq:
                break
            left, right = best[0]["left"], best[0]["right"]
            merges.append((left, right, int(best[0]["n"])))
            joined = left + right
            # Greedy left-to-right fold: append each symbol, or fuse it
            # with the accumulator tail when (tail, symbol) == the pair.
            # The just-fused token can itself fuse again only as the LEFT
            # of a later occurrence — matching the classic re-scan
            # semantics ("aaaa" + (a,a) -> [aa, aa]).
            vocab = vocab.select(
                F.aggregate(
                    F.slice("syms", 2, F.greatest(F.size("syms") - 1, F.lit(0))),
                    F.slice("syms", 1, F.least(F.size("syms"), F.lit(1))),
                    lambda acc, x: F.when(
                        (F.element_at(acc, -1) == F.lit(left)) & (x == F.lit(right)),
                        F.concat(
                            F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(joined))
                        ),
                    ).otherwise(F.concat(acc, F.array(x))),
                ).alias("syms"),
                "cnt",
            )
            if (i + 1) % checkpoint_every == 0:
                vocab = scope().checkpoint(vocab, eager=False)
                # The superseded round's vocab blocks die once the NEW
                # checkpoint materializes — which happens inside the next
                # round's argmax, so the release is deferred to just after
                # that collect (same cleaner-lag discipline as
                # connected_components, shifted one job later for the lazy
                # checkpoint).
                pending_release = live_ck
                live_ck = vocab
        return merges


def apply_bpe(
    df: DataFrame,
    text_col: str = "text",
    merges: list[tuple[str, str]] | None = None,
    out_col: str = "bpe_tokens",
    end_of_word: str = "</w>",
) -> DataFrame:
    """Apply learned BPE merges to a text column -> array of subword
    tokens (sanctioned Arrow-batched Python path: the merge loop is
    per-WORD, memoized per distinct word within each batch, and the
    rule list rides the closure — broadcast-sized, like a vocab file).
    Map-only; scales with executor count."""
    from xlearning_spark.operators.sharding import spread_small_scan

    rules = list(merges or [])
    # r13 (guide §4): one scan partition = ONE Python worker running
    # the whole Arrow-batched merge loop; spread a narrow scan across
    # the session cores first (no-op on an already-wide scan).
    df = spread_small_scan(df)

    @F.pandas_udf("array<string>")
    def bpe(texts):
        import pandas as pd

        cache: dict[str, list[str]] = {}

        def encode_word(w: str) -> list[str]:
            got = cache.get(w)
            if got is not None:
                return got
            syms = list(w) + [end_of_word]
            for left, right in rules:
                out: list[str] = []
                for s in syms:
                    if out and out[-1] == left and s == right:
                        out[-1] = left + right
                    else:
                        out.append(s)
                syms = out
            cache[w] = syms
            return syms

        res = []
        for t in texts:
            if t is None:
                res.append(None)
                continue
            toks: list[str] = []
            for w in t.split():
                toks.extend(encode_word(w))
            res.append(toks)
        return pd.Series(res)

    return df.withColumn(out_col, bpe(F.col(text_col)))


def save_bpe_merge_table(
    spark, table: list[tuple[str, str, int]], path: str
) -> None:
    """Persist a trained BPE merge table (persistence parity with
    ``similarity.save_ivf_index``): rank-ordered ``(merge_rank, lft,
    rgt, freq)`` rows as schema'd parquet under ``<path>/merges``, so
    a later job — or a streaming ingest — can :func:`load_bpe_merge_
    table` and tokenize WITHOUT retraining (the frozen-artifact half
    of the train-then-apply discipline). The table is bounded by
    ``n_merges`` (vocab-sized, never corpus-sized), so ``coalesce(1)``
    is safe by construction."""
    spark.createDataFrame(
        [(i + 1, l, r, int(n)) for i, (l, r, n) in enumerate(table)],
        "merge_rank int, lft string, rgt string, freq bigint",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/merges")


def load_bpe_merge_table(spark, path: str) -> list[tuple[str, str, int]]:
    """Load a :func:`save_bpe_merge_table` artifact — no trainer run;
    returns the rank-ordered ``[(left, right, freq), ...]`` list
    (``[(l, r) for l, r, _ in ...]`` is :func:`apply_bpe`'s input).
    Raises ``FileNotFoundError`` when no table was saved, so a
    consumer can't silently tokenize with zero rules."""
    try:
        rows = spark.read.parquet(path + "/merges").orderBy("merge_rank").collect()
    except Exception as e:  # AnalysisException: PATH_NOT_FOUND
        raise FileNotFoundError(
            f"load_bpe_merge_table: no merge table under {path!r} — "
            "learn_bpe_merge_table + save_bpe_merge_table must run first"
        ) from e
    return [(r["lft"], r["rgt"], int(r["freq"])) for r in rows]


# --------------------------------------------------------------------
# Gopher-style rule-by-rule quality audit (Rae et al., "Scaling
# Language Models: ... Gopher", arXiv:2112.11446 §A1.1) — unlike
# quality_score's single blended number, this keeps one boolean per
# rule so curation reports the per-rule removal rate, the form the
# paper (and every production corpus pipeline) actually publishes.
# --------------------------------------------------------------------

#: The stopword-presence rule's lexicon (Gopher uses a similar tiny
#: English function-word set).
GOPHER_STOPWORDS = ("the", "a", "and", "of", "to", "in")


def gopher_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 80,
    min_mean_word_len: float = 4.0,
    max_mean_word_len: float = 5.0,
    min_stopword_frac: float = 0.03,
    max_top_word_frac: float = 0.15,
    min_distinct_frac: float = 0.35,
    stopwords: tuple[str, ...] = GOPHER_STOPWORDS,
) -> DataFrame:
    """Per-document Gopher rule metrics + one boolean flag per rule.

    Adds ``n_words``, ``mean_word_len``, ``stopword_frac``,
    ``top_word_frac``, ``distinct_frac`` and ``pass_len`` /
    ``pass_mean_len`` / ``pass_stopword`` / ``pass_top_word`` /
    ``pass_distinct`` / ``keep`` (AND of all rules) to ``df``.

    Engine-portable by construction: every metric is an exact integer
    (token counts, summed codepoint lengths) divided ONCE into a
    double — IEEE-754 division is correctly rounded in both Spark and
    DuckDB, so the threshold comparisons agree bit-for-bit.

    100 TB shape: the length/stopword/distinct metrics are pure
    codegen column expressions (scan throughput); the top-word count
    is one explode + two map-side-combining hash aggs keyed on
    (id, token) then (id), joined back on the id — the same profile as
    any per-document aggregate, no collect, no UDF. (A list-comprehension
    form à la the DuckDB oracle would be O(distinct × n) per row —
    fine for an oracle, wrong for the hot path.)
    """
    n = F.size("__w").cast("long")
    sum_len = F.aggregate(
        F.transform("__w", lambda x: F.length(x)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    stop_n = F.size(F.filter("__w", lambda x: x.isin(*stopwords))).cast("long")
    distinct_n = F.size(F.array_distinct("__w")).cast("long")

    base = (
        df.withColumn("__w", tokens(text_col))
        .withColumn("n_words", n)
        .withColumn(
            "mean_word_len", sum_len.cast("double") / F.col("n_words")
        )
        .withColumn(
            "stopword_frac", stop_n.cast("double") / F.col("n_words")
        )
        .withColumn(
            "distinct_frac", distinct_n.cast("double") / F.col("n_words")
        )
    )
    top = (
        base.select(id_col, F.explode("__w").alias("__tok"))
        .groupBy(id_col, "__tok")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col)
        .agg(F.max("__c").alias("__top_n"))
    )
    # LEFT join (ADVICE r5): a NULL/empty-text doc explodes to no rows,
    # so an inner join would drop it from the output entirely; it must
    # surface with NULL metrics instead (one output row per input doc —
    # the q94 oracle's CASE WHEN then counts it in n_docs and in no
    # fail_* column, and sum-over-NULL on the Spark side agrees).
    return (
        base.join(top, id_col, "left")
        .withColumn(
            "top_word_frac", F.col("__top_n").cast("double") / F.col("n_words")
        )
        .withColumn(
            "pass_len",
            (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words),
        )
        .withColumn(
            "pass_mean_len",
            (F.col("mean_word_len") >= min_mean_word_len)
            & (F.col("mean_word_len") <= max_mean_word_len),
        )
        .withColumn("pass_stopword", F.col("stopword_frac") >= min_stopword_frac)
        .withColumn("pass_top_word", F.col("top_word_frac") <= max_top_word_frac)
        .withColumn("pass_distinct", F.col("distinct_frac") >= min_distinct_frac)
        .withColumn(
            "keep",
            F.col("pass_len")
            & F.col("pass_mean_len")
            & F.col("pass_stopword")
            & F.col("pass_top_word")
            & F.col("pass_distinct"),
        )
        .drop("__w", "__top_n")
    )


# --------------------------------------------------------------------
# L6 (learned): hashed-bag-of-words logistic-regression quality filter
# --------------------------------------------------------------------

#: Prime used by the portable (md5) token hash — same device as the
#: portable sketch family (operators/sketch.py), so a DuckDB oracle
#: can replay feature indexes bit-for-bit.
_LR_P = (1 << 60) - 1


def hashed_bow(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 256,
    portable: bool = False,
) -> DataFrame:
    """Hashed bag-of-words features: ``(id, idx, cnt)`` with
    ``idx = hash(token) % dim`` — the fastText/Vowpal hashing trick,
    which is what makes a learned text filter 100 TB-safe: the feature
    space is a FIXED ``dim`` regardless of vocabulary, so the weight
    vector is broadcastable by construction and no vocabulary shuffle
    ever happens. One hash-aggregate shuffle, fully JVM-side.

    ``portable=True`` swaps xxhash64 for the md5-low-60-bit device the
    portable sketches use, so an external oracle (DuckDB) reproduces
    the same indexes.
    """
    tok = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("__tok"),
    ).filter(F.col("__tok") != "")
    if portable:
        h = F.conv(F.substring(F.md5("__tok"), 1, 15), 16, 10).cast("bigint")
    else:
        h = F.xxhash64("__tok")
    return (
        tok.select(id_col, F.pmod(h, F.lit(dim)).cast("int").alias("idx"))
        .groupBy(id_col, "idx")
        .agg(F.count("*").alias("cnt"))
    )


def lcg_weights(dim: int, seed: int = 11) -> list[float]:
    """Deterministic LCG weight draw in [-1, 1) — same generator
    discipline as similarity.hyperplane_planes, exposed so an external
    oracle can embed the identical literals."""
    state = seed
    out = []
    for _ in range(dim):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        out.append((state / float(1 << 63)) * 2.0 - 1.0)
    return out


def score_text_lr(
    feats: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Score ``hashed_bow`` features with a fixed weight vector:
    ``(id, margin, score)`` with ``score = sigmoid(bias + Σ cnt·w)``.

    The weight table is ``dim`` rows — bounded by construction (the
    hashing trick), so the join is broadcast the way ``nation`` is:
    hinting it is safe at ANY corpus size, unlike a corpus-scaled
    side. One aggregation shuffle on the doc key.

    Documents whose text tokenizes to NOTHING (empty/whitespace-only)
    produce no ``hashed_bow`` rows and therefore get NO output row
    here — they are dropped, not scored ``sigmoid(bias)`` (ADVICE
    r10; the q120 oracle replays the same drop, so parity holds).
    Callers that need every doc scored should left-join this result
    back to the id column and coalesce to ``sigmoid(bias)``.
    """
    spark = feats.sparkSession
    wdf = spark.createDataFrame(
        list(enumerate(weights)), "idx int, wt double"
    )
    return (
        feats.join(F.broadcast(wdf), "idx")
        .groupBy(id_col)
        .agg((F.lit(bias) + F.sum(F.col("cnt") * F.col("wt"))).alias("margin"))
        .select(
            id_col,
            "margin",
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))).alias("score"),
        )
    )


def train_text_lr(
    df: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 256,
    iters: int = 30,
    lr: float = 0.5,
    portable: bool = False,
) -> tuple[list[float], float]:
    """Train the quality filter: full-batch logistic regression by
    gradient descent over ``hashed_bow`` features. Returns
    ``(weights, bias)`` for :func:`score_text_lr`.

    100 TB shape (the reference-free part of the LLM tier): the
    feature frame is built once, hash-partitioned by doc and
    persisted; each iteration then re-shuffles NOTHING corpus-scaled —
    the per-doc margin is a window sum over the doc partition (the
    cached frame's partitioning already satisfies the window's
    distribution, so the round pays a local per-partition sort, zero
    Exchanges), and the only shuffle per round is the gradient
    aggregation by feature index, whose map-side partial agg bounds
    the exchange at ``dim`` rows per partition. Driver traffic is
    ``dim`` rows per iteration (each carrying the weight gradient and
    the doc-attributed bias-gradient share); the weight table
    re-broadcast each round is ``dim`` rows. This is the classic
    parameter-averaging full-batch layout (one "parameter server"
    round-trip per iteration, with the driver as the PS — bounded
    because the hashing trick fixes dim). r11: replaced the earlier
    per-iteration resid-join form (a doc-key join of two
    corpus-scaled frames every round — 3 corpus-scaled Exchanges per
    iteration at scale, where AQE's small-scale broadcast rescue is
    unavailable) with this window form; tools/scale_probe.py asserts
    the per-iteration plan shape (exactly one shuffle Exchange, on
    idx) at 16x volume.

    Zero-token documents (empty/whitespace-only text) emit no
    ``hashed_bow`` rows, so they are EXCLUDED from training — they
    contribute to neither the weight nor the bias gradient, and
    ``n_docs`` counts only docs with tokens (ADVICE r10).
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    win = Window.partitionBy(id_col).orderBy("idx")
    full = win.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w = [0.0] * dim
    b = 0.0
    with intermediates():
        feats = scope().persist(
            hashed_bow(df, id_col, text_col, dim, portable)
            .join(
                df.select(id_col, F.col(label_col).cast("double").alias("__y")),
                id_col,
            )
            .repartition(id_col)
        )
        n_docs = feats.select(id_col).distinct().count()
        if n_docs == 0:
            raise ValueError("train_text_lr: no documents with tokens")
        for _ in range(iters):
            wdf = spark.createDataFrame(
                list(enumerate(w)), "idx int, wt double"
            )
            rows = (
                feats.join(F.broadcast(wdf), "idx")
                .withColumn("__m", F.sum(F.col("cnt") * F.col("wt")).over(full))
                .withColumn(
                    "__r",
                    F.lit(1.0)
                    / (F.lit(1.0) + F.exp(-(F.lit(b) + F.col("__m"))))
                    - F.col("__y"),
                )
                .withColumn("__rn", F.row_number().over(win))
            )
            # One aggregation carries BOTH gradients: per-idx weight
            # gradient, plus the doc's bias-gradient share attributed
            # to its first feature row (summed driver-side) — ``dim``
            # rows to the driver, the documented PS bound.
            grad_rows = (
                rows.groupBy("idx")
                .agg(
                    F.sum(F.col("cnt") * F.col("__r")).alias("g"),
                    F.sum(
                        F.when(F.col("__rn") == 1, F.col("__r"))
                    ).alias("gb"),
                )
                .collect()
            )
            for row in grad_rows:
                w[row["idx"]] -= lr * row["g"] / n_docs
            gb = sum(r["gb"] for r in grad_rows if r["gb"] is not None)
            b -= lr * gb / n_docs
    return w, b
