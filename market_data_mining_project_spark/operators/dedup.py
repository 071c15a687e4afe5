"""Deduplication operators for training-data pipelines.

Exact, MinHash-LSH, SimHash and n-gram-Jaccard near-dup — each designed so
the expensive pairwise comparison only ever happens *within* a small
candidate bucket, never all-pairs across the corpus:

- exact:      one hash-groupBy shuffle on md5(text). O(n).
- minhash:    shingles → k minhashes → band buckets → join within bucket.
              Shuffle keys on (band, signature-slice); candidate pairs are
              verified with true Jaccard. O(n·k) + tiny bucket joins.
- simhash:    64-bit weighted-bit signature; near-dups share signature or
              differ in few bits — bucketed by 16-bit chunks (Hamming ≤ 3
              guarantees an exact chunk match by pigeonhole).
- ngram_jaccard: token-shingle inverted index (explode → join on shingle)
              with per-pair intersection counts — exact Jaccard, used both
              standalone and as the verifier for LSH candidates.

All hashing uses crc32/md5/xxhash64 built-ins — deterministic across
executors and runs (no Python ``hash()``, which is salted per-process).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import truncate_lineage


def ensure_parallelism(
    df: DataFrame,
    min_partitions: int | None = None,
    by: tuple[str, ...] | None = None,
) -> DataFrame:
    """Round-robin repartition when the scan is under-split.

    ``by``: hash-repartition on those columns instead of round-robin —
    the right spread when a downstream aggregation groups by (a superset
    of) them: round-robin scatters one group's rows across every task, so
    the map-side partial aggregate re-emits the same group once PER TASK
    (measured on the cf serving entry: the pair-dots shuffle grew 67 → 259
    MB round-robin — ~4× duplicated partials — while keyed repartition
    keeps each group's partials in one task and the shuffle at its exact
    group count). Round-robin also pays a sort-before-repartition pass
    (SPARK-23207) that keyed repartition skips.

    Small single-row-group files arrive as ONE partition, serializing the
    CPU-heavy shingle/hash stages onto one core (AQE can't split a scan).
    The extra shuffle of raw text is cheap relative to per-row hashing work;
    at 100 TB inputs are many-file and this is a no-op.

    The under-split probe is Catalyst/filesystem-side (``inputFiles`` +
    sizes), not ``df.rdd.getNumPartitions()`` — the RDD probe forces the
    plan through the Python RDD conversion path on every call. Spark's own
    file-split math (``FilePartition.maxSplitBytes``) yields ≥ parallelism
    partitions whenever total bytes ≥ openCostInBytes × parallelism, so a
    scan is only ever under-split when the input is BOTH few-file and small
    — exactly what file count + byte size detect without touching the RDD
    API. Frames with NO file lineage (createDataFrame fixtures, post-shuffle
    plans) pass through unchanged — their partitioning was already chosen by
    Spark, not by a file layout; callers holding a known-single-partition
    in-memory frame should ``repartition`` explicitly. Unreadable (remote)
    file sizes conservatively repartition on the few-file signal alone.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files or len(files) >= target:
        return df
    # few files: under-split only if too small for maxSplitBytes range-splitting
    open_cost = 4 * 1024 * 1024  # spark.sql.files.openCostInBytes default
    try:
        local = [f[len("file:"):] if f.startswith("file:") else f for f in files]
        total = sum(os.path.getsize(f) for f in local)
        if total >= open_cost * target:
            return df  # big files: the scan already range-splits to >= target
    except OSError:
        pass  # non-local fs: fall through on the few-file signal alone
    if by:
        return df.repartition(target, *[F.col(c) for c in by])
    return df.repartition(target)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id representative per exact text hash (md5).

    Single shuffle on the 128-bit digest — uniform keys, no skew. At 100 TB
    hash first, never groupBy the raw text (shuffle payload shrinks to 32
    bytes/row + id).
    """
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _let_tokens(text: Column, build) -> Column:
    """Let-bind the tokenized array: ``build`` receives the token array as
    a HOF lambda VARIABLE, so references to it inside per-element lambdas
    are slot lookups instead of re-evaluations of the whole split/filter
    chain. (Catalyst re-evaluates outer expression references per element
    inside lambda bodies — no CSE crosses a lambda boundary; binding via a
    singleton ``transform`` measured ~15× faster gram construction on the
    sf0.1 corpus than referencing the chain from the lambda.)"""
    toks = F.filter(F.split(F.trim(text), "\\s+"), lambda t: t != "")
    return F.get(F.transform(F.array(toks), build), 0)


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document.

    Empty/whitespace-only docs yield an EMPTY array, not a [''] singleton
    (the index sequence always emits position 0, which would join to an
    empty-string gram that every empty doc shares — making all empty docs
    mutual near-dups/contaminators). The '' filter removes exactly that
    artifact; short non-empty docs keep their partial (< n token) gram.

    Grams are built over the let-bound token array (see ``_let_tokens``)
    by unrolled ``concat_ws(get(ts, i+j))`` (``n`` is a Python int) — O(1)
    slot lookups per position, no sub-array allocation per gram, no
    re-evaluation of the tokenizer; out-of-range ``get`` returns null and
    ``concat_ws`` skips it, which reproduces slice's tail-clamp."""

    def build(ts):
        idx = F.sequence(F.lit(0), F.greatest(F.size(ts) - n, F.lit(0)))
        grams = F.transform(
            idx, lambda i: F.concat_ws(" ", *[F.get(ts, i + j) for j in range(n)])
        )
        return F.filter(F.array_distinct(grams), lambda g: g != "")

    return _let_tokens(text, build)


def span_grams(text: Column, n: int = 5) -> Column:
    """POSITIONAL word n-grams of a document — one gram per start position,
    duplicates preserved (unlike ``shingles``, which is the distinct set).
    A doc shorter than ``n`` tokens yields its single partial gram; an
    empty doc yields an empty array. Same let-bound unrolled-``get``
    construction as :func:`shingles` (positional, so no distinct)."""

    def build(ts):
        idx = F.sequence(F.lit(0), F.greatest(F.size(ts) - n, F.lit(0)))
        grams = F.transform(
            idx, lambda i: F.concat_ws(" ", *[F.get(ts, i + j) for j in range(n)])
        )
        return F.filter(grams, lambda g: g != "")

    return _let_tokens(text, build)


def dup_span_coverage(
    df: DataFrame, text_col: str, id_col: str, n: int = 5, min_docs: int = 2
) -> DataFrame:
    """Duplicated-span coverage per document: the fraction of a doc's word
    n-gram start positions whose gram also appears in ≥ ``min_docs`` - 1
    OTHER documents — the span-level dedup signal of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better"), at word
    n-gram grain instead of suffix-array byte spans. Docs dominated by
    corpus-duplicated spans (boilerplate, mirrored pages, templated text)
    are the removal candidates that document-level near-dup misses.

    Shape at 100 TB: explode → groupBy(id, gram) with map-side combine
    (bounding any later fan-out by per-doc gram multiplicity), then ONE
    groupBy(gram) over the already-deduped (id, gram) frame for the
    document-frequency table, a 1:1 shuffle join back on gram (the df side
    carries one row per gram — a hot gram cannot fan out), and a final
    groupBy(id). No all-pairs stage. If gram strings ever dominate the
    shuffle, substitute xxhash64(gram) as the join key (counts survive;
    collisions at 64 bits are negligible at corpus scale).

    Returns (id_col, n_spans, dup_spans); docs with zero grams are omitted
    (mirrors the SQL oracle's ``len(ts) > 0`` guard).
    """
    per_doc_gram = (
        df.select(F.col(id_col), F.explode(span_grams(F.col(text_col), n)).alias("__gram"))
        .groupBy(id_col, "__gram")
        .agg(F.count(F.lit(1)).alias("__n_pos"))
    )
    shared = (
        per_doc_gram.groupBy("__gram")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("__gram")
        .withColumn("__shared", F.lit(1))
    )
    return (
        per_doc_gram.join(shared, "__gram", "left")
        .groupBy(id_col)
        .agg(
            F.sum("__n_pos").alias("n_spans"),
            F.sum(F.when(F.col("__shared").isNotNull(), F.col("__n_pos")).otherwise(F.lit(0))).alias(
                "dup_spans"
            ),
        )
    )


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination check: training docs sharing ≥ min_overlap
    distinct word n-grams with ANY eval/benchmark doc (the GPT-3-style
    13-gram overlap test, scaled down to this corpus's short docs).

    Shape at 100 TB: the eval side is a benchmark suite — thousands of docs,
    not billions — so its distinct gram set is broadcast-sized; the train
    side is one scan + explode + (broadcast) semi-join + groupBy id. No
    all-pairs comparison ever happens, and the overlap counts arrive from
    the same shuffle that groups by document. Grams travel as strings (not
    hashes) so the result is exactly recountable; hash them (xxhash64)
    if gram payload ever dominates the shuffle.

    Returns (id_col, overlap_grams) for contaminated train docs only.
    """
    eval_grams = (
        eval_df.select(F.explode(shingles(F.col(text_col), n)).alias("__gram"))
        .distinct()
    )
    train_grams = train.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("__gram")
    )
    # no explicit broadcast hint: benchmark-sized eval sets auto-broadcast,
    # and a genuinely huge eval side degrades to a shuffle join instead of
    # an executor OOM
    return (
        train_grams.join(eval_grams, "__gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("overlap_grams"))
        .filter(F.col("overlap_grams") >= min_overlap)
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Drop contaminated docs from the training side (anti-join against
    :func:`ngram_contamination` — J10 shape, broadcast-able flag set)."""
    flagged = ngram_contamination(train, eval_df, text_col, id_col, n, min_overlap)
    return train.join(flagged.select(id_col), id_col, "left_anti")


def minhash_signature(shingle_col: Column, num_hashes: int = 32) -> Column:
    """MinHash signature: per hash function i, min over shingles of
    xxhash64(shingle, seed=i). Returns array<bigint> of length num_hashes."""
    def hash_i(i: int):
        # arity-1 lambda factory (a second lambda param would be interpreted
        # by F.transform as the element index)
        return lambda s: F.xxhash64(s, F.lit(i))

    return F.array(
        *[F.array_min(F.transform(shingle_col, hash_i(i))) for i in range(num_hashes)]
    )


#: single-slot cache registry, one slot per operator: the self-join caches
#: below pin an intermediate frame in executor storage, and Spark's
#: ContextCleaner does NOT unpersist on Python GC — without a lifecycle,
#: every call leaks one cached frame for the session lifetime. A new call
#: unpersists the PREVIOUS call's frame (correct either way — a still-lazy
#: earlier result just recomputes), so a long-lived session pins at most
#: one frame per operator. Mirrors the ``_CENTROID_BC`` broadcast slot in
#: :mod:`..operators.similarity`. Slot swaps are guarded by a lock: two
#: threads (or two sessions sharing one JVM) racing the same slot could
#: otherwise interleave pop/cache — still CORRECT (an unpersisted frame
#: silently recomputes) but it thrashes the slot and can unpersist a frame
#: another in-flight job is consuming.
_PINNED_CACHES: dict = {}
_PINNED_CACHES_LOCK = threading.Lock()


def _cache_single_slot(df: DataFrame, slot: str) -> DataFrame:
    with _PINNED_CACHES_LOCK:
        prev = _PINNED_CACHES.pop(slot, None)
        df = df.cache()
        _PINNED_CACHES[slot] = df
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass  # a torn-down SparkContext must not block the new cache
    return df


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    rows = bands × rows_per_band; docs sharing ANY band's full slice collide.
    The band bucket join shuffles on (band_id, slice-hash) — bucket sizes are
    tiny for non-duplicate corpora, so the join is near-linear.

    Docs with an EMPTY shingle set are excluded before banding: their
    signature is all-null (``array_min`` of nothing), every band slice
    would serialize to the same constant bucket, and m empty docs would
    emit m(m−1)/2 zero-Jaccard candidate pairs — the quadratic bucket bomb
    this operator exists to avoid (web crawls carry millions of
    empty/whitespace docs).
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must divide into bands={bands}: the "
            "trailing hash functions would be computed but never banded, "
            "silently changing the (rows, bands) S-curve the caller tuned"
        )
    rows_per_band = num_hashes // bands
    df = ensure_parallelism(df)
    # materialize the shingle array ONCE before fanning out to 32 hash
    # functions — inlining shingles() into every transform duplicates a large
    # expression tree 32×, which blows up Catalyst optimization time
    sig = (
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__text"))
        .withColumn("__sh", shingles(F.col("__text"), shingle_n))
        .filter(F.size("__sh") > 0)
        .select("doc", minhash_signature(F.col("__sh"), num_hashes).alias("sig"))
    )
    banded = sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[b * rows_per_band + r].cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")
    # cache: the self-join would otherwise replay the scan + shingle
    # build + 32-hash signature pipeline ONCE PER JOIN SIDE — the
    # operator's dominant cost doubled (the simhash sibling documents the
    # same hazard; verified: the bucket join broadcasts at fixture scale so
    # ReuseExchange never fires to dedupe the sides). Lazy cache, single-slot
    # lifecycle: the first action materializes it once, the NEXT call
    # releases it.
    banded = _cache_single_slot(banded, "minhash_banded")
    left = banded.withColumnRenamed("doc", "doc_a")
    right = banded.withColumnRenamed("doc", "doc_b")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


#: Per-task state bound for the exact-jaccard self-join: a shingle whose
#: document frequency exceeds this is salted so that no single (shingle,
#: salt) join key buffers more than ~this many rows or emits more than
#: ~this² candidate pairs. 2048 keeps the hot-key task state well under
#: local[32]'s 0.25 GB/task heap share while leaving the cold (df ≤ bound)
#: path — virtually every shingle in a real corpus — completely untouched.
#: ``salt_rows=`` overrides it per call.
JACCARD_SALT_ROWS = 2048


def _bounded_self_pairs(sh: DataFrame, salt_rows: int) -> DataFrame:
    """All (doc_a < doc_b) rows sharing a shingle — one output row per
    shared shingle — with per-task join state BOUNDED regardless of
    shingle-df skew.

    The plain self-join keys on the shingle value, so a hot shingle shared
    by m docs lands its whole m-row group (and its m² pair fan-out) on ONE
    task — at sf5 density that is the difference between finishing on a
    default 8 g heap and an OOM (local[32] ⇒ ~0.25 GB/task heap share; a
    normal cluster provisions ~1–4 GB/task, which is why the wall only
    shows at scale probes). Fix: square-law salting of hot shingles only.

    A shingle with df > salt_rows (call it B) is split into
    n_salt = ⌈(df/B)²⌉ salt buckets. The RIGHT side keeps its own bucket
    (hash(doc) % n_salt); the LEFT side is replicated to every bucket.
    Every unordered pair (a<b) sharing the shingle is then produced exactly
    once — as (left=a, right=b) in b's bucket; the mirrored (left=b,
    right=a) row dies on the a<b filter — so the result is row-identical
    to the plain join. Bounds per (shingle, salt) key: right-side buffer
    ≤ df/n_salt ≤ B²/df < B rows, task output ≤ df·(df/n_salt) = B² pairs.
    Left-side replication costs df·n_salt = df³/B² extra shuffle rows —
    always ≪ the df² candidate rows the shingle emits anyway.

    Cold shingles (df ≤ B) take the plain single-copy join unchanged; the
    hot set (stopword runs) is tiny and rides a broadcast anti/semi join,
    so the only new full-width work is one map-side-combined df aggregate.
    """
    hot = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > salt_rows)
    )
    cold = sh.join(F.broadcast(hot.select("sh")), "sh", "left_anti")
    cold_pairs = (
        cold.select(F.col("doc").alias("doc_a"), "sh")
        .join(cold.select(F.col("doc").alias("doc_b"), "sh"), "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    ratio = F.col("df") / F.lit(float(salt_rows))
    hot_sh = sh.join(F.broadcast(hot), "sh").withColumn(
        "n_salt", F.ceil(ratio * ratio).cast("int")
    )
    left = hot_sh.select(
        F.col("doc").alias("doc_a"),
        "sh",
        F.explode(F.sequence(F.lit(0), F.col("n_salt") - 1)).alias("salt"),
    )
    right = hot_sh.select(
        F.col("doc").alias("doc_b"),
        "sh",
        F.pmod(F.xxhash64("doc"), F.col("n_salt")).cast("int").alias("salt"),
    )
    hot_pairs = (
        left.join(right, ["sh", "salt"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    return cold_pairs.unionByName(hot_pairs)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
    salt_rows: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via inverted index.

    explode(shingles) → self-join on shingle → per-pair intersection count →
    |A∪B| = |A|+|B|−|A∩B|. The shuffle keys on the shingle value; a hot
    shingle (stopword run) shared by m docs fans out m² candidate pairs —
    the classic skew scale-killer. ``max_shingle_df`` caps that: shingles
    appearing in more than ``max_shingle_df`` docs are dropped from the
    index BEFORE the self-join (standard practice — a shingle in 10⁶ docs
    carries no near-dup signal but would emit 10¹² pairs). Sizes are
    computed over the filtered shingle space so Jaccard stays internally
    consistent; None (the oracled default) keeps the metric exact. The
    capped metric can move either way near the threshold (dropping hot
    shingles shrinks |A∪B| too) — the regression test bounds both the lost-
    pair and admitted-pair sides.

    Even the EXACT (uncapped) metric is skew-safe: the self-join rides
    :func:`_bounded_self_pairs`, which square-law-salts any shingle with
    df > ``salt_rows`` (default :data:`JACCARD_SALT_ROWS`) so no task
    buffers or emits an unbounded hot-key group. Results are row-identical
    to the plain join — salting changes the partitioning of the pair
    enumeration, never its contents: a hot shingle with df docs splits into
    ⌈(df/salt_rows)²⌉ buckets, the right side hashes to its own bucket, the
    left side replicates to all, so every unordered pair (a<b) is produced
    EXACTLY ONCE — (a,b) materializes in b's bucket and the mirrored (b,a)
    dies on the a<b filter — while no (shingle, salt) task holds more than
    ~``salt_rows`` right rows or ~``salt_rows``² output pairs.
    """
    # shingles() is already distinct per document — the exploded (doc, sh)
    # rows are unique, and a .distinct() here would re-shuffle the job's
    # largest intermediate for no semantic effect
    sh = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), F.explode(shingles(F.col(text_col), shingle_n)).alias("sh")
    )
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("sh")
        )
        sh = sh.join(hot, "sh", "left_anti")
        # The CAPPED index feeds sizes and both self-join sides; uncached,
        # each consumer re-runs explode + the df aggregate + the anti join
        # (a full shuffle chain — the uncapped frame is a cheap narrow
        # explode and stays uncached). Single-slot lifecycle: call N frees
        # call N−1's frame. r9 sf5 probe: the uncached capped chain cost
        # +44% wall over uncapped despite eliminating the hot fan-out.
        sh = _cache_single_slot(sh, "jaccard_capped_index")
    else:
        # The salted self-join raises the uncapped index's consumer count
        # from 2 (sizes + join) to 4 (sizes, hot-df aggregate, cold anti
        # join, hot semi join) — past the point where recomputing the
        # tokenize+shingle explode per consumer beats pinning it once
        # (the r9 rule: cache when the recompute chain is no longer a
        # single narrow pass). Same single-slot lifecycle as the capped
        # frame; MEMORY_AND_DISK default evicts gracefully on small heaps.
        sh = _cache_single_slot(sh, "jaccard_uncapped_index")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    bound = salt_rows if salt_rows is not None else JACCARD_SALT_ROWS
    if max_shingle_df is not None and max_shingle_df <= bound:
        # the df cap already bounds every join group tighter than the salt
        # bound would — the plain join IS the bounded join, skip the second
        # df aggregate the salting path would pay
        pairs = (
            sh.select(F.col("doc").alias("doc_a"), "sh")
            .join(sh.select(F.col("doc").alias("doc_b"), "sh"), "sh")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
    else:
        pairs = _bounded_self_pairs(sh, bound)
    inter = pairs.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("n_inter"))
    return (
        inter.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "sz_a", "sz_b", "jaccard")
    )


def cross_jaccard_flags(
    existing: DataFrame,
    incoming: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup check: incoming docs whose n-gram Jaccard vs ANY
    existing doc reaches ``threshold``. The inverted-index join keyed on
    shingle — the incoming side is a batch (small), the existing side is
    the corpus index (large): no all-pairs, and the hot-shingle cap is
    computed on the EXISTING side (that's where a boilerplate shingle's
    million-doc fan-out lives) and applied to both sides so Jaccard stays
    internally consistent.

    Returns (id_col, best_jaccard) for flagged incoming docs.
    """
    # shingles() is already distinct per document, so the exploded (id, sh)
    # frames are unique rows — no dedup shuffle needed on either side
    sh_e = ensure_parallelism(existing).select(
        F.col(id_col).alias("old"), F.explode(shingles(F.col(text_col), shingle_n)).alias("sh")
    )
    sh_i = incoming.select(
        F.col(id_col).alias("new"), F.explode(shingles(F.col(text_col), shingle_n)).alias("sh")
    )
    if max_shingle_df is not None:
        hot = (
            sh_e.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("sh")
        )
        sh_e = sh_e.join(hot, "sh", "left_anti")
        sh_i = sh_i.join(hot, "sh", "left_anti")
        # Both capped frames have ≥2 consumers whose recompute re-runs the
        # CORPUS-wide df aggregate (the batch side's anti join carries the
        # corpus aggregate in its lineage) — pin each once per call, the
        # jaccard_capped_index rationale above.
        sh_e = _cache_single_slot(sh_e, "cross_jaccard_corpus_index")
        sh_i = _cache_single_slot(sh_i, "cross_jaccard_batch_index")
    sz_e = sh_e.groupBy("old").agg(F.count(F.lit(1)).alias("sz_old"))
    sz_i = sh_i.groupBy("new").agg(F.count(F.lit(1)).alias("sz_new"))
    inter = sh_i.join(sh_e, "sh").groupBy("new", "old").agg(F.count(F.lit(1)).alias("n_inter"))
    return (
        inter.join(sz_i, "new")
        .join(sz_e, "old")
        .withColumn(
            "jaccard",
            # thresholded on the ROUNDED value, exactly like
            # ngram_jaccard_pairs (and its SQL oracle): inside
            # incremental_ingest the two gates see the same similarity, so
            # a near-threshold pair must get the same verdict on both —
            # an unrounded filter here let a 0.4999996 pair pass one gate
            # and fail the other
            F.round(
                F.col("n_inter")
                / (F.col("sz_new") + F.col("sz_old") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .groupBy(F.col("new").alias(id_col))
        .agg(F.max("jaccard").alias("best_jaccard"))
    )


#: Corpus-row threshold below which incremental_ingest SKIPS the batch
#: cache. Measured A/B on the 9:1 carrier fixture (PARITY r8/r9): at a
#: 45k-row corpus the cache is the sf1 win (52 → 29 s — recompute re-runs
#: the corpus digest scan per consumer); at a 4.5k-row corpus the cache's
#: fixed materialization cost LOSES (+4.2 s, 6.9 → 11.1 s in the driver
#: bench) because four cheap recomputes beat one eager materialization.
#: The corpus/batch ROW RATIO does not discriminate the two regimes (it is
#: a constant 9 in both fixtures) — absolute corpus size is the signal
#: that tracks the digest-scan recompute waste. 20k splits the two
#: measured points with ~4× margin each side.
INGEST_CACHE_MIN_CORPUS_ROWS = 20_000


def incremental_ingest(
    existing: DataFrame,
    incoming: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    cache_batch: bool | None = None,
) -> DataFrame:
    """Admit only genuinely-new documents into a growing corpus — the
    ingest gate every incrementally-built training set needs (re-running
    full-corpus dedup per batch is O(corpus) per batch; this is
    O(batch × index-probe)):

    1. batch-internal exact dedup (keep min id),
    2. drop exact matches of the existing corpus (anti-join on md5 digest
       — 32 bytes/row shuffle, never raw text),
    3. drop near-dups of the existing corpus (:func:`cross_jaccard_flags`),
    4. keep one representative per batch-internal near-dup cluster.

    Returns the admitted incoming rows (original columns).

    ``cache_batch``: pin the deduped batch frame for its four downstream
    consumers. ``None`` (default) decides adaptively — cache only when the
    parquet files ``existing`` reads hold at least
    :data:`INGEST_CACHE_MIN_CORPUS_ROWS` rows, summed from their footers
    with no Spark job: those files are what the corpus digest scan re-reads
    per uncached consumer, whatever filters sit above the scan. Only a
    corpus with no local parquet input pays a ``count()`` action over its
    lineage; callers whose such corpus carries an EXPENSIVE upstream plan
    should pass ``cache_batch`` explicitly (they know their corpus size).
    """
    batch = exact_dedup(incoming, text_col, id_col)
    batch = batch.join(
        existing.select(F.md5(F.col(text_col)).alias("__dig")).distinct(),
        F.md5(F.col(text_col)) == F.col("__dig"),
        "left_anti",
    )
    # FOUR downstream subtrees re-derive `batch` (the cross-jaccard probe,
    # the flagged anti-join, the batch-internal pair mining, the final
    # anti-join) — uncached, each re-ran the batch dedup window plus the
    # corpus digest scan. Caching the batch (bounded by BATCH size — the
    # operator's whole premise) measured 52 → 29 s at the 10× fixture
    # (cache materialization beats recompute once the corpus side
    # dominates; clean 2-rep A/B, PARITY r8) but COSTS +4.2 s on a small
    # corpus (sf0.1 driver bench), so the default is the adaptive
    # corpus-size gate (same move as dup_clusters' size-gated broadcast).
    # Caching only the corpus digest frame instead was strictly WORSE
    # (75 s at 10×): an InMemoryRelation loses the digest subtree's
    # broadcast-size estimate and every anti-join degrades to sort-merge.
    # Single-slot lifecycle: the next call releases this call's frame.
    if cache_batch is None:
        from urllib.parse import unquote, urlparse

        from ..sources.tables import parquet_rows

        local = [
            unquote(u.path)
            for u in map(urlparse, existing.inputFiles())
            if u.scheme in ("", "file") and u.path.endswith(".parquet")
        ]
        n_corpus = parquet_rows(*local) if local else existing.count()
        cache_batch = n_corpus >= INGEST_CACHE_MIN_CORPUS_ROWS
    if cache_batch:
        batch = _cache_single_slot(batch, "ingest_batch")
    flagged = cross_jaccard_flags(
        existing, batch, text_col, id_col, shingle_n, threshold, max_shingle_df
    )
    batch = batch.join(flagged.select(id_col), id_col, "left_anti")
    pairs = ngram_jaccard_pairs(batch, text_col, id_col, shingle_n, threshold, max_shingle_df)
    clusters = dup_clusters(pairs.select("doc_a", "doc_b"))
    drop = clusters.filter(F.col("doc") != F.col("cluster")).select(
        F.col("doc").alias(id_col)
    )
    return batch.join(drop, id_col, "left_anti")


def dup_clusters(
    pairs: DataFrame,
    max_iterations: int = 20,
    small_graph_edges: int = 1_000_000,
) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS: connected components by
    iterative min-label propagation.

    ``pairs`` carries (doc_a, doc_b) edges (any near-dup detector's output).
    Each doc's cluster id converges to the minimum doc id reachable through
    the dup graph — the canonical representative a dedup pipeline keeps.

    Per iteration: a neighbor-min join + groupBy (shuffles on ``doc``), a
    pointer-doubling join (adopt the label of the current label), and a
    localCheckpoint to keep lineage flat. The doubling step makes
    convergence ~log(diameter) rounds instead of linear, so even long
    chain-shaped components (incrementally edited boilerplate) finish well
    inside the default cap. Returns (doc, cluster).

    Dual execution path (the ``graph.pagerank`` idiom): at or below
    ``small_graph_edges`` DISTINCT directed edges, the edge list is
    collected and resolved with a driver-local union-find — per-round JOB
    SCHEDULING dominates the distributed fixpoint on small graphs
    (measured at sf0.1: 5 edges cost 2.9 s as ~5 serial Spark jobs per
    round, <10 ms driver-local), and near-dup edge sets are sparse by
    construction (every detector thresholds aggressively). Min-label
    components are algorithm-independent, so the two paths return
    IDENTICAL rows (pytest-pinned). Set ``small_graph_edges=0`` to force
    the distributed loop; the ``max_iterations`` diameter cap (and its
    loud overflow error) is a property of that loop only. An edge with a
    NULL endpoint routes to the distributed path, which preserves the
    established inner-join NULL semantics.
    """
    # checkpoint the edge set ONCE — it sits inside every iteration's
    # lineage, and without this the (possibly expensive) pair-detection
    # plan upstream re-executes on every convergence check
    edges = (
        pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        .unionByName(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        .distinct()
        .transform(truncate_lineage)
    )
    # the count is a metadata-cheap job over the checkpoint-materialized
    # frame; the same bound caps the collect below (~30 MB/M edges)
    if edges.count() <= small_graph_edges:
        rows = edges.collect()
        if not any(r["src"] is None or r["dst"] is None for r in rows):
            return _dup_clusters_local(
                pairs.sparkSession, pairs.schema["doc_a"].dataType, rows
            )
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("cluster", F.col("doc"))
        .transform(truncate_lineage)
    )
    # Size-gate the in-loop broadcasts: labels covers every doc touched by a
    # dup edge — at web-crawl dup rates (30-50%) that is multi-GB, and an
    # unconditional broadcast hint would OOM the driver. The count is cheap
    # (labels is already checkpoint-materialized) and constant across
    # iterations; above the gate both joins stay co-partitioned shuffle
    # joins on doc ids, with AQE free to re-plan per round.
    small_graph = labels.count() <= 2_000_000
    hint = F.broadcast if small_graph else (lambda df: df)

    def _round(labels: DataFrame) -> tuple[DataFrame, int]:
        """One propagation round: neighbor-min + pointer doubling. Returns
        (updated labels, whether any label moved)."""
        neighbor_min = (
            edges.join(hint(labels), edges["dst"] == labels["doc"])
            .groupBy("src")
            .agg(F.min("cluster").alias("nbr_cluster"))
        )
        stepped = (
            labels.join(hint(neighbor_min), labels["doc"] == neighbor_min["src"], "left")
            .select(
                "doc",
                F.least(
                    F.col("cluster"), F.coalesce("nbr_cluster", F.col("cluster"))
                ).alias("cluster"),
            )
            # materialize before the self-join below: DataFrames have no
            # subtree sharing, so an unmaterialized `stepped` would replay
            # the neighbor-min join+aggregate on BOTH sides of the jump
            .transform(truncate_lineage)
        )
        # pointer doubling: additionally adopt the label OF the current
        # label (cluster ids are doc ids, so they resolve in this same
        # frame). One extra join per round turns linear-diameter
        # convergence into ~log-diameter — a 200-doc chain of
        # incrementally edited boilerplate converges in ~8 rounds instead
        # of 200.
        jump_src = stepped.select(
            F.col("doc").alias("__jd"), F.col("cluster").alias("__jc")
        )
        # checkpoint each round: keeps lineage flat so iteration i+1 reads
        # materialized labels instead of replaying i rounds of joins
        updated = (
            stepped.join(hint(jump_src), stepped["cluster"] == F.col("__jd"), "left")
            .select(
                "doc",
                F.least(
                    F.col("cluster"), F.coalesce("__jc", F.col("cluster"))
                ).alias("cluster"),
            )
            .transform(truncate_lineage)
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "doc")
            .filter(F.col("u.cluster") != F.col("l.cluster"))
            .limit(1)
            .count()
        )
        return updated, changed

    for _ in range(max_iterations):
        labels, changed = _round(labels)
        if changed == 0:
            break
    else:
        # the cap round may itself have COMPLETED convergence (detection
        # needs one extra confirming round), so a component whose diameter
        # lands exactly at the cap must not fail spuriously: run one
        # label-stationary confirm round before deciding.
        labels, changed = _round(labels)
        if changed != 0:
            # labels still moving past the cap: some component's diameter
            # exceeds max_iterations — returning would silently SPLIT that
            # duplicate group (multiple "representatives" survive dedup).
            # Long chains are real (incrementally edited boilerplate);
            # fail loudly so the caller raises the cap.
            raise RuntimeError(
                f"dup_clusters: labels still changing after {max_iterations} "
                "rounds — a component's diameter exceeds the cap; raise "
                "max_iterations (propagation needs ~longest-path rounds)"
            )
    return labels


def _dup_clusters_local(spark, doc_type, edge_rows) -> DataFrame:
    """Driver-local union-find over the collected DISTINCT edge list —
    the same (doc, min-reachable-doc) mapping the distributed loop
    converges to, computed without per-round Spark jobs. Bounded by the
    caller's ``small_graph_edges`` gate."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        a, b = r["src"], r["dst"]
        for v in (a, b):
            if v not in parent:
                parent[v] = v
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for v in parent:
        root = find(v)
        m = comp_min.get(root)
        if m is None or v < m:
            comp_min[root] = v
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("doc", doc_type), StructField("cluster", doc_type)]
    )
    return spark.createDataFrame(
        [(v, comp_min[find(v)]) for v in parent], schema
    )


def simhash_signatures(df: DataFrame, text_col: str, id_col: str, shingle_n: int = 2) -> DataFrame:
    """Per-document 64-bit SimHash signatures, computed as ONE hash aggregate.

    For each bit position, sum +1/−1 votes of each shingle's xxhash64 bit;
    the signature bit is 1 iff the vote is positive. Instead of 64
    ``F.aggregate`` lambda passes per row (interpreted, slow), explode the
    shingles once and run 64 conditional SUMs in a single whole-stage-codegen
    hash aggregate — the same shuffle the dedup needs anyway. Returns
    (doc, sig). Near-dup docs differ in few bits (:func:`hamming64`).
    """
    exploded = (
        ensure_parallelism(df).select(F.col(id_col).alias("doc"), F.col(text_col).alias("__text"))
        .withColumn("__sh", shingles(F.col("__text"), shingle_n))
        .select("doc", F.explode("__sh").alias("s"))
        .withColumn("h", F.xxhash64("s"))
    )
    votes = exploded.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in range(64):
        # shiftleft instead of lit(2**b): 2**63 overflows a Java long literal
        sig = sig + F.when(
            F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return votes.select("doc", sig.alias("sig"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on 16-bit signature chunks
    (pigeonhole: Hamming ≤ 3 over 4 chunks ⇒ ≥ 1 identical chunk), verify
    with exact Hamming distance within buckets."""
    # cache: both sides of the bucket self-join reference the signature frame,
    # and it's tiny (id + one long per doc) — without it the whole
    # shingle/hash aggregation runs twice. Single-slot lifecycle: the next
    # call releases this call's pinned frame (see _cache_single_slot).
    sig = _cache_single_slot(simhash_signatures(df, text_col, id_col), "simhash_sig")
    chunks = sig.select(
        "doc",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("sig", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select("doc", "sig", "cc.chunk", "cc.val")
    a = chunks.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"), "chunk", "val")
    b = chunks.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"), "chunk", "val")
    return (
        a.join(b, ["chunk", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming64(F.col("sig_a"), F.col("sig_b")).alias("hamming"))
        # hamming is functionally determined by the pair, so filtering
        # BEFORE the dedup shuffle drops chance chunk-collision pairs
        # (hamming ≫ cap — the overwhelming majority at corpus scale)
        # without touching the output
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
