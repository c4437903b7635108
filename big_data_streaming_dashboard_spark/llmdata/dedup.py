"""Document deduplication: exact + MinHash/LSH near-dup.

Exact dedup: md5(text) hash groups -- one shuffle on the 128-bit hash,
no text comparison. At 100 TB: hash-partitioned, no skew (cryptographic
hash), and the heavy ``text`` column never shuffles if the caller
projects first (we only carry doc_id + hash through the exchange).

Near-dup: word-shingle MinHash + LSH banding.
  shingle(3 words) -> k minhashes (lexicographic min of md5(i:shingle))
  -> b bands of r rows -> band-bucket equi-join -> candidate pairs
  -> exact shingle-Jaccard verify.
The minhash uses md5 + string min so the DuckDB oracle can reproduce it
bit-for-bit (any total order works for MinHash; we use lexicographic).
At scale the candidate join is an equi-join on (band_idx, band_hash) --
hash-shuffled, band buckets are tiny by construction, and the quadratic
explosion inside one bucket is bounded by the band collision rate.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens

DEFAULT_K = 8  # minhash signature length
DEFAULT_BAND_ROWS = 2  # rows per LSH band -> b = K / r bands

# per-bucket guard: a degenerate band (boilerplate corpus, template
# pages -- every doc sharing one band hash) makes that bucket's
# self-join quadratic (m docs -> m(m-1)/2 pairs). Buckets above the
# cap are excluded from candidate generation -- at scale an oversized
# LSH bucket is a spam/template cluster, not a near-dup neighborhood,
# and is routed to `oversized_buckets` for separate handling. Must
# stay in sync with the literal in plans/llm_sql.NEARDUP_SQL (the
# oracle mirrors the cap).
DEFAULT_MAX_BUCKET = 1000


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Per-doc exact-dup annotation: text_hash, n_copies,
    canonical_doc_id (lowest doc_id in the hash group), is_duplicate."""
    from pyspark.sql import Window

    h = F.md5(F.col("text"))
    w = Window.partitionBy("text_hash")
    return (
        docs.select("doc_id", h.alias("text_hash"))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .withColumn("canonical_doc_id", F.min("doc_id").over(w))
        .withColumn("is_duplicate", F.col("doc_id") != F.col("canonical_doc_id"))
    )


def shingles(text: Column, n_words: int = 3) -> Column:
    """Distinct word n-gram shingles via null-propagating zips.

    ``concat`` returns NULL when any argument is NULL, so zipping the
    token list against its 1- and 2-shifted copies (which are shorter)
    yields NULL for the tail positions -- filtered out. Docs shorter
    than ``n_words`` fall back to a single whole-text shingle.
    """
    toks = tokens(text)
    t2 = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(1)))
    bigrams = F.zip_with(toks, t2, lambda a, b: F.concat(a, F.lit(" "), b))
    t3 = F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(1)))
    trigrams = F.zip_with(bigrams, t3, lambda ab, c: F.concat(ab, F.lit(" "), c))
    sh = F.array_distinct(F.filter(trigrams, lambda x: x.isNotNull()))
    return F.when(F.size(toks) >= n_words, sh).otherwise(F.array(text))


def _minhash_col(sh: Column, i: int) -> Column:
    # NB: a two-parameter lambda would make F.transform pass the array
    # index as the second argument -- use a closure over the prefix
    prefix = f"{i}:"
    return F.array_min(F.transform(sh, lambda s: F.md5(F.concat(F.lit(prefix), s))))


def minhash_signature(docs: DataFrame, k: int = DEFAULT_K) -> DataFrame:
    """doc_id + sig_0..sig_{k-1}: lexicographic-min md5('<i>:'+shingle).

    The shingle array is materialized as its own column in a separate
    projection: higher-order functions are CodegenFallback (no
    whole-stage codegen, so no codegen-level CSE), and inlining the
    shingle tree into all k sig columns makes Catalyst evaluate it k
    times per row. CollapseProject keeps the two projections apart
    because `_sh` is non-cheap and referenced k times. Measured at
    sf0.1 (5k docs, k=8): 4.17 s inlined vs 1.44 s two-stage, with the
    optimized plan dropping from 8 copies of the shingle HOF tree to 1.
    """
    # r12: memoized + persisted like the banded table below -- the
    # calibration evaluator references the signature frame from TWO
    # join sides, and HOF lambdas defeat exchange reuse, so without
    # this the executed plan computed all k min-hash trees twice
    # (16 HOF trees / 6 doc scans at sf0.1; audited in PLANS.md).
    # STREAMING input (the near-dup probe signs each arriving batch)
    # takes the plain path: persist() is illegal on a streaming frame
    # and cross-batch memoization would be a correctness bug anyway.
    sig = docs.withColumn("_sh", shingles(F.col("text"))).select(
        "doc_id",
        *[_minhash_col(F.col("_sh"), i).alias(f"sig_{i}") for i in range(k)],
    )
    if docs.isStreaming:
        return sig
    return _plan_cached(docs, f"minhash_sig:{k}", lambda: sig.persist())


# Derived-index cache: the banded table and the shingle table are the
# OFFLINE ARTIFACTS the near-dup family probes (build-once-probe-many,
# like any index; the streaming probe already consumes the band index
# via write_neardup_index). Keyed by (applicationId, semanticHash of
# the docs plan, tag): identical logical input -> identical artifact,
# so repeated probes (pairs, oversized_buckets, clusters, repeated
# bench reps) reuse ONE persisted copy instead of re-persisting each
# call.
_BANDED_CACHE: dict[tuple, DataFrame] = {}


def _holder_frames(obj):
    """Yield every DataFrame inside a cached holder — the holder may be
    the frame itself or a (nested) list/tuple wrapper."""
    if isinstance(obj, DataFrame):
        yield obj
    elif isinstance(obj, (list, tuple)):
        for item in obj:
            yield from _holder_frames(item)


def _plan_cached(docs: DataFrame, tag: str, build):
    """Keyed on (app, plan semanticHash, INPUT-FILE fingerprint, tag).
    The fingerprint term (r8; same fix corpus_count got from the r5
    advice) matters because an overwrite at the same path keeps the
    same analyzed plan: without it, a rewritten corpus would keep
    serving the PREVIOUS corpus's persisted index/plan handle.
    Holders are usually DataFrames (or list/tuple wrappers of them --
    see _holder_frames), but plain derived values ride the same keying
    too (e.g. the 'shingle_int_bytes' int): eviction must only ever
    unpersist the frames _holder_frames finds, never assume the
    holder's type."""
    app_id = docs.sparkSession.sparkContext.applicationId
    try:
        sem = docs._jdf.queryExecution().analyzed().semanticHash()
        fp = _input_fingerprint(docs)
    except Exception:  # non-classic backends: fall back to no caching
        return build()
    key = (app_id, sem, fp, tag)
    hit = _BANDED_CACHE.get(key)
    if hit is None:
        for stale in [
            sk
            for sk in _BANDED_CACHE
            if sk[0] != app_id or (sk[1] == sem and sk[3] == tag)
        ]:
            old = _BANDED_CACHE.pop(stale)
            if stale[0] == app_id:
                # superseded by a rewrite: release the stale persist
                # (no-op for plain plan handles). Holders may be
                # list/tuple wrappers (e.g. text._bpe_state) whose
                # persisted frames would otherwise leak on eviction.
                for frame in _holder_frames(old):
                    frame.unpersist()
        hit = _BANDED_CACHE[key] = build()
    return hit


# Size-conditional join hints (r4 verdict item 3). The SHUFFLE_HASH
# hints exist because the corpus-sized sides of the near-dup joins
# (shingle arrays, band tables, label tables) carry broadcast-SMALL
# size ESTIMATES -- Catalyst auto-broadcasts them and the driver OOMs
# already at a 50k-doc corpus (found by the 10x fixture). But below
# that scale the auto-planned broadcast is both safe and measurably
# faster (sf0.1 doc_neardup_pairs: 0.57 s auto vs 0.87 s hinted), so
# the hint is gated on a one-job cached count of the corpus: small
# corpus -> let Catalyst plan; big corpus -> force shuffled hash. At
# 100 TB every corpus is far past the threshold, so the scale path is
# always the hinted one (pinned by tests/test_scale10x.py).
BROADCAST_SAFE_ROWS = 10_000

_COUNT_CACHE: dict[tuple, int] = {}

# past this many leaf files, skip per-file stat in the fingerprint:
# the listing itself already changes on any rewrite (part file names
# carry a fresh job UUID), and stat'ing 100k files per probe would
# cost more than the count job the cache avoids
_FINGERPRINT_STAT_CAP = 256


def _input_fingerprint(df: DataFrame) -> tuple:
    """Identity of the FILES behind a plan, not just the plan: the
    sorted leaf-file list plus (mtime_ns, size) for local files. The
    semanticHash alone goes stale when data under the same logical
    plan is rewritten or grows in place (single-file parquet keeps its
    name on overwrite) -- a stale small count would let Catalyst
    auto-broadcast a now-large side, reintroducing the driver-OOM the
    size gate exists to prevent (r5 advice)."""
    files = sorted(df.inputFiles())
    if len(files) > _FINGERPRINT_STAT_CAP:
        return (len(files), hash(tuple(files)))
    stamped = []
    for f in files:
        path = f[7:] if f.startswith("file://") else f
        try:
            st = os.stat(path)
            stamped.append((f, st.st_mtime_ns, st.st_size))
        except OSError:
            stamped.append((f, 0, 0))  # remote FS: name identity only
    return (len(files), hash(tuple(stamped)))


def corpus_count(df: DataFrame) -> int:
    """Cached row count of a corpus-shaped input: one count job per
    (app, logical-plan, input-file fingerprint). The fingerprint keys
    out in-place rewrites within a session (fixture swaps, appended
    partitions) that the semanticHash cannot see."""
    app_id = df.sparkSession.sparkContext.applicationId
    try:
        sem = df._jdf.queryExecution().analyzed().semanticHash()
        fp = _input_fingerprint(df)
    except Exception:
        return df.count()
    key = (app_id, sem, fp)
    hit = _COUNT_CACHE.get(key)
    if hit is None:
        for stale in [sk for sk in _COUNT_CACHE if sk[0] != app_id or sk[:2] == key[:2]]:
            del _COUNT_CACHE[stale]
        hit = _COUNT_CACHE[key] = df.count()
    return hit


def scale_hint(df: DataFrame, n_rows: int) -> DataFrame:
    """SHUFFLE_HASH above the broadcast-safety threshold, untouched
    (Catalyst-planned) below it."""
    return df.hint("shuffle_hash") if n_rows > BROADCAST_SAFE_ROWS else df


# r18 optimization round (guide section 5 spill remedies: "more
# partitions -- smaller per-task state"; section 2 scale-adaptive
# partitioning): the jaccard directed-pair aggregate's group count
# grows LINEARLY with the corpus (~1.4k directed candidate pairs per
# doc on the 10x fixture), so a fixed session layout (32 partitions
# locally) concentrates ~2.2M groups per task at 10x and the
# complete-mode aggregate spilled 8.12 GB; the throwaway seed-96
# experiment measured the spill ~linear in 1/partitions (8.12 ->
# 4.31 GB) but a GLOBAL seed raise ballooned containment's
# array-carrying exchange +116%, so the raise is applied ONLY to this
# pair-keyed exchange, derived from the corpus count: one partition
# per _PAIR_DOCS_PER_PARTITION docs, floored at the session's batch
# seed (`_batch_seed_partitions`).
# Below the broadcast-safety gate (every sf<=0.1 fixture) the layout
# is the session default, so small-SF plans are bit-identical to the
# pre-r18 hash-matched ones. Calibration at 10x (50k docs -> 250
# partitions) in OPTIMIZATION_r18.md. The cap bounds the derived
# count at the billion-doc regime, where an unclamped linear formula
# would hand the driver millions of reduce tasks (scheduler/MapStatus
# pressure, guide section 2.2) -- past ~6.5M docs per-task group
# state grows again and a deployment sizes the cap with its cluster.
_PAIR_DOCS_PER_PARTITION = 200
_PAIR_AGG_MAX_PARTITIONS = 32_768


def _batch_seed_partitions(spark) -> int:
    """The partition count a batch shuffle starts from, by Spark's own
    ``SQLConf.numShufflePartitions`` rule: the AQE initial partition
    number when AQE coalescing is on and it is set, else
    ``spark.sql.shuffle.partitions`` (which `session.get_spark` sizes
    for streaming state, not for batch plans)."""
    conf = spark.conf
    key = "spark.sql.shuffle.partitions"
    if (
        conf.get("spark.sql.adaptive.enabled", "true").lower() == "true"
        and conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true").lower() == "true"
        and conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum", None)
    ):
        key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    try:
        return int(conf.get(key))
    except (TypeError, ValueError):  # e.g. "auto" on managed platforms
        return 200


def _pair_agg_partitions(spark, n_rows: int) -> int:
    floor = _batch_seed_partitions(spark)
    return max(
        floor,
        min(_PAIR_AGG_MAX_PARTITIONS, -(-n_rows // _PAIR_DOCS_PER_PARTITION)),
    )


def scale_hint_merge(df: DataFrame, n_rows: int) -> DataFrame:
    """MERGE (sort-merge) above the broadcast-safety threshold: for
    joins whose PROBE side is explosion-prone (candidate-pair x
    postings verifies), SMJ is the memory-safe shape -- both sides
    sort-spill to disk, unlike a shuffled-hash build map that must fit
    per task (a 20x-replicated 10x corpus OOMed the hash build under
    32 concurrent tasks on a small heap). Below the threshold Catalyst
    plans freely."""
    return df.hint("merge") if n_rows > BROADCAST_SAFE_ROWS else df


# r18 optimization round (guide section 3.1 "broadcast the side that
# fits" -- decided on MEASURED bytes, never Catalyst's array-blind
# estimates): the exact-verify joins attach the int-shingle table to
# the candidate pairs; past the broadcast-safety gate they were hinted
# SHUFFLE_HASH/MERGE because the table's size ESTIMATE is wrong by
# >10x (r5) -- but its TRUE broadcast size is knowable exactly (one
# cached agg over the persisted table: 8 B per shingle + row
# overhead; 68.3 MB at the 100k-doc 10x fixture). When that true size
# fits the gate below, an EXPLICIT F.broadcast ships the table once
# per executor and the wide candidate intermediate never crosses an
# exchange at all -- measured at 10x on doc_containment_pairs: total
# shuffle 1,817 -> 444 MB and the verify SMJ's 8.59 GB sort spill
# (the fleet's last remaining spill site) -> ZERO. Past the gate the
# memory-safe hinted shape stands unchanged (at 100 TB the corpus
# shingle table is far over any broadcast cap). Local default 256 MB
# serialized (~2-4x that built, vs a 16 GB driver and Spark's 8 GB
# relation cap); env-tunable for deployments with bigger executors,
# clamped under Spark's hard 8 GB broadcast-relation cap so a generous
# env value can never force a broadcast the runtime must reject (the
# hinted fallback is the right shape there).
def _verify_broadcast_bytes() -> int:
    # r19 ADVICE fix: a malformed env value ('256m') must degrade to
    # the default, not ValueError out of every import of this module
    try:
        mb = int(os.environ.get("SPARK_GRAFT_VERIFY_BROADCAST_MB", "256"))
    except (TypeError, ValueError):
        mb = 256
    return min(mb * 1024 * 1024, 7 * 1024 * 1024 * 1024)


_VERIFY_BROADCAST_BYTES = _verify_broadcast_bytes()


def _shingle_int_bytes(docs: DataFrame) -> int:
    """TRUE serialized size of the int-shingle verify table, measured
    (not estimated): 8 B per element + 32 B per-row overhead. One agg
    job per (app, corpus) -- cached like the index it measures, and
    only ever run past the broadcast-safety gate (callers short-circuit
    on n first), so small-SF sessions never pay it."""

    def measure():
        row = (
            _shingle_ints(docs)
            .select(
                F.coalesce(F.sum(F.size("shi")), F.lit(0)).alias("e"),
                F.count(F.lit(1)).alias("r"),
            )
            .collect()[0]
        )
        return int(row["e"]) * 8 + int(row["r"]) * 32

    return _plan_cached(docs, "shingle_int_bytes", measure)


def _verify_attach(shi_side: DataFrame, docs: DataFrame, n: int, fallback) -> DataFrame:
    """The verify-join attachment policy (see _VERIFY_BROADCAST_BYTES):
    explicit broadcast when the measured table fits, the caller's
    memory-safe scale hint otherwise, Catalyst-planned below the gate
    (small-SF plans bit-identical to the pre-r18 hash-matched ones)."""
    if n <= BROADCAST_SAFE_ROWS:
        return shi_side
    if _verify_broadcasts(docs, n):
        return F.broadcast(shi_side)
    return fallback(shi_side, n)


def _verify_broadcasts(docs: DataFrame, n: int) -> bool:
    """The measured-bytes broadcast decision shared by `_verify_attach`
    and the candidate-dedup key packing (which may re-key the candidate
    exchange ONLY when the downstream verify join has no partitioning
    requirement left, i.e. exactly when the verify broadcasts).
    r19 ADVICE fix folded in: every verify query attaches the table
    TWICE (sh_a and sh_b projections build two broadcast relations),
    so the gate compares 2x the measured bytes against the cap -- the
    env value is documented as the PER-QUERY broadcast budget, not
    per-relation. At the r18 10x calibration point (68.3 MB measured,
    136.6 MB doubled vs the 256 MB default) every fixture decision is
    unchanged. Row count alone can prove the table over the cap
    (>= 32 B/row by the formula) -- that short-circuit skips the
    corpus-wide measurement job in exactly the regime where it would
    be most expensive."""
    if 2 * n * 32 > _VERIFY_BROADCAST_BYTES:
        return False
    return 2 * _shingle_int_bytes(docs) <= _VERIFY_BROADCAST_BYTES


def _pair_id_range(docs: DataFrame):
    """(min, max) doc_id of the corpus -- the cached probe behind the
    packed pair key (see `_prefix_candidates`). One agg job per
    (app, corpus), measured over the persisted shingle table (already
    materialized by every caller's verify stage) and cached like the
    index it reads; only ever consulted past the broadcast-safety
    gate, so small-SF sessions never pay it."""

    def measure():
        row = (
            _shingle_table(docs)
            .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
            .collect()[0]
        )
        return (row["lo"], row["hi"])

    return _plan_cached(docs, "doc_id_range", measure)


def _pair_key_packable(docs: DataFrame) -> bool:
    """True when every doc_id provably fits unsigned 31 bits, so a
    DIRECTED pair packs injectively into one long as
    (probe_id << 32) | ix_id: integral column type (required for the
    shift to be the identity map it claims) and measured id range
    within [0, 2^31). Falls back -- to the two-column pair key --
    on any other type or range, including an empty corpus."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    try:
        dt = docs.schema["doc_id"].dataType
    except Exception:
        return False
    if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        return False
    lo, hi = _pair_id_range(docs)
    return lo is not None and lo >= 0 and hi < (1 << 31)


def _doc_stats(docs: DataFrame, max_postings: int) -> DataFrame:
    """(doc_id, n_sh, n_capped): one row per doc with the two posting
    stats the pair-filter expressions need -- the broadcast side of
    the r19 stats-join rewrite (see `_prefix_candidates`). Derived by
    a distinct over the persisted capped index: the index is
    doc_id-hash-partitioned by its window build, so the distinct
    collapses in place with NO new exchange."""
    return _plan_cached(
        docs,
        f"doc_stats:{max_postings}",
        lambda: _bounded_postings(docs, max_postings)
        .select("doc_id", "n_sh", "n_capped")
        .distinct(),
    )


def _shingle_table(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): the persisted distinct-shingle table every exact
    verify joins against."""
    return _plan_cached(
        docs,
        "shingles",
        lambda: docs.select("doc_id", shingles(F.col("text")).alias("sh")).persist(),
    )


# Safety slack for prefix/size filtering under the engines' 6-decimal
# score rounding: round(C, 6) >= t admits true scores down to
# t - 5e-7, so every candidate-pruning bound must be computed against
# t - EPS, never t itself -- otherwise a pair at 0.7999997 (emitted by
# the verify as 0.8) could be pruned before verification.
_PREFIX_EPS = 1e-6


def _shingle_ints(docs: DataFrame) -> DataFrame:
    """(doc_id, shi): the shingle table with each shingle replaced by
    its xxhash64 -- the VERIFY-side representation for the exact
    near-dup family. array_intersect over int64 arrays measured 6x
    faster than over the raw shingle strings (4.0 s -> 0.66 s on 347k
    candidate pairs at sf0.1) and shuffles/broadcasts 8 bytes per
    shingle instead of ~25. Counts are identical to the string
    intersect unless xxhash64 collides within a candidate pair's
    shingle sets -- p < 1e-10 per full corpus verify (~1e9 pairwise
    comparisons / 2^64), below any oracle-mismatch concern. transform
    preserves array length, so size(shi) == size(sh) exactly."""
    return _plan_cached(
        docs,
        "shingle_ints",
        lambda: _shingle_table(docs)
        .select("doc_id", F.transform("sh", lambda s: F.xxhash64(s)).alias("shi"))
        .persist(),
    )


def _bounded_postings(docs: DataFrame, max_postings: int) -> DataFrame:
    """(doc_id, n_sh, sh_hash, df, rarity_rank): the df-capped
    inverted shingle index shared by the exact near-dup family
    (`ngram_jaccard_pairs`, `containment_pairs`). Only int64 xxhash64
    keys cross the exchange, never shingle text (r7: was md5 hex --
    the 8-byte key cut the candidate join's broadcast build and probe
    roughly in half: sf0.1 candidates 1.7 -> 0.75 s. Same
    collision-probability argument as `_shingle_ints`; the hash also
    orders rarity-rank TIES, and a different tie order changes only
    WHICH prefix shingles probe -- the exactness proof in
    `_prefix_candidates` holds for any prefix drawn by the (df, hash)
    order, so the thresholded output is unchanged); n_sh is the doc's FULL
    distinct-shingle count (pre-cap -- the prefix-size formula needs
    it); df is computed over ALL postings, then postings with
    df > max_postings are dropped (a shingle shared by 1000+ docs
    identifies a template, not a near-dup neighborhood);
    rarity_rank orders each doc's surviving postings by ascending
    (df, sh_hash) -- threshold-INDEPENDENT, so one persisted index
    serves every probe threshold (the prefix is just
    rarity_rank <= p(t)). Plan-cached + persisted: one build per
    logical corpus, reused across probes and bench reps -- the batch
    analog of a materialized index."""
    from pyspark.sql import Window

    def build():
        postings = _shingle_table(docs).select(
            "doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle")
        ).select("doc_id", "n_sh", F.xxhash64("shingle").alias("sh_hash"))
        w = Window.partitionBy("sh_hash")
        wdoc = Window.partitionBy("doc_id").orderBy("df", "sh_hash")
        wdoc_all = Window.partitionBy("doc_id")
        # rarity_rank + n_capped share ONE doc_id exchange (same
        # partitioning, two window nodes); both feed the probe-time
        # prefix and positional filters
        return (
            postings.withColumn("df", F.count(F.lit(1)).over(w))
            .filter(F.col("df") <= max_postings)
            .withColumn("rarity_rank", F.row_number().over(wdoc))
            .withColumn("n_capped", F.count(F.lit(1)).over(wdoc_all))
            .persist()
        )

    return _plan_cached(docs, f"postings:{max_postings}", build)


def _prefix_candidates(
    docs: DataFrame,
    threshold: float,
    max_postings: int,
    n: int,
    hint,
    symmetric: bool,
) -> DataFrame:
    """Undirected candidate pairs (doc_a < doc_b) by PREFIX-FILTERED
    probing of the capped inverted index (the AllPairs/PPJoin prefix
    principle -- Bayardo et al. WWW'07, Xiao et al. WWW'08): each doc
    probes with only its p = floor((1-t')*|sh|)+1 globally-RAREST
    capped shingles (order: ascending df, ties by hash; t' = t minus
    the rounding slack `_PREFIX_EPS`) against the FULL capped
    postings; the naive bounded self-join probes with all of them. A
    size filter on the join prunes partners that cannot reach the
    threshold: the contained side needs |sh_ix| >= t'*|sh_probe|
    (overlap <= |sh_ix| always), and for symmetric Jaccard
    additionally |sh_ix| <= |sh_probe|/t'.

    EXACTNESS (why the final thresholded output -- and therefore the
    unchanged DuckDB oracle -- is identical to the all-postings
    self-join):
    *No pair lost.* Take any DIRECTED qualification the self-join
    emits, i.e. a pair sharing >= 1 capped shingle whose rounded
    score >= t in direction a -> b, hence true overlap
    |sh_a ∩ sh_b| >= t'*|sh_a|, so |sh_a \\ sh_b| <= (1-t')*|sh_a|.
    Probe a finds it: if a's capped postings number <= p, a probes
    with ALL of them, including the shared capped shingle; otherwise
    a's prefix has p = floor((1-t')*|sh_a|)+1 > (1-t')*|sh_a| >=
    |sh_a \\ sh_b| elements, all drawn from sh_a, so by pigeonhole at
    least one prefix shingle s is in sh_b; s is capped (prefix ⊆
    capped postings, and df is a global property of s), hence s is in
    b's indexed postings. The size filter keeps the partner: overlap
    >= t'*|sh_a| and overlap <= |sh_b| force |sh_b| >= t'*|sh_a|
    (and for Jaccard, symmetrically |sh_b| <= |sh_a|/t'). Since EVERY
    doc probes as the potentially-contained side, every qualifying
    direction is discovered by its own probe, and each undirected
    candidate is scored in both directions downstream. For symmetric
    Jaccard J >= t the overlap bound holds from both sides (overlap
    >= t'*max(|a|,|b|)), so either probe suffices.
    *No pair added.* prefix ⊆ capped postings and the size filter
    only removes rows, so candidates are a subset of the self-join's;
    the exact verify + threshold then decides identically.

    PAIR-LEVEL COUNT FILTER (r18, symmetric path only): the verify
    stage downstream attaches both docs' full shingle arrays to every
    surviving pair, and the second attachment ships the first array
    across the doc_b exchange -- measured at 10x as 6,635 MB of the
    query's 6,783 MB total shuffle (97.8%), for 12.0M candidates of
    which only 250,600 survive the exact verify. So before any array
    is attached, candidates are aggregated per DIRECTED pair and
    pruned by an exact overlap upper bound built from the join's own
    match count (the PPJoin count-filtering idea, Xiao et al. WWW'08):
    with c = |prefix_probe ∩ capped_ix| (= the pair's row count in
    this join, postings are distinct per doc), every common shingle is
    (i) capped and within the probe prefix -> counted by c, (ii)
    capped beyond the prefix -> at most max(0, nc_probe - p), or
    (iii) df-capped out of the index entirely -> at most
    min(n_probe - nc_probe, n_ix - nc_ix); hence
      overlap <= c + max(0, nc_probe - p) + min(unc_probe, unc_ix).
    A qualifying pair has overlap >= t'*(|a|+|b|)/(1+t') = required,
    so its own probe direction passes the filter (the bound is a true
    upper bound); pairs are kept when EITHER direction passes, and
    the pigeonhole argument above guarantees each qualifying pair
    appears in its own probe's direction. The count bound needs c to
    see EVERY common row of a qualifying pair, so the symmetric path
    drops the per-ROW positional filter (a late-rank common shingle
    of a qualifying pair legitimately fails it; dropping that row
    would undercount c and could lose the pair) and re-applies the
    positional bound per PAIR instead, as max-over-rows (valid: the
    max is attained at the earliest common capped shingle, the row
    whose bound is provably an overlap upper bound) -- at 10x the
    count bound prunes 12.0M -> 1.28M candidates and the pair-level
    positional bound cuts the remainder to 269k (the exact verify
    keeps 251k: 93% precision, vs 2% before). The asymmetric
    (containment) path keeps the original row-level form: there
    p > (1-t')*n_probe makes required - (nc_probe - p) <= ~1, so the
    count bound can never prune (verified) -- aggregating would only
    re-shape its plan and its cross-round byte tripwire.

    SCALE BOUND (what this buys over the raw self-join, whose
    candidates grow as Σ_s C(df_s, 2) even below the cap -- the
    r5-measured ~78 GB spill on a low-entropy 10x corpus): candidate
    rows <= Σ_docs p_doc * max_postings -- LINEAR in corpus size for a
    fixed cap -- and in practice far less, because the prefix takes
    each doc's rarest shingles, whose df is small precisely when the
    doc has any distinguishing content. The rarity rank is precomputed
    in the persisted index, so the probe is a filter, not an extra
    per-query shuffle."""
    bounded = _bounded_postings(docs, max_postings)
    t = threshold - _PREFIX_EPS
    p = (F.floor(F.lit(1.0 - t) * F.col("n_sh")) + 1).cast("int")
    probe = bounded.filter(F.col("rarity_rank") <= p).select(
        "doc_id",
        F.col("n_sh").alias("_n_probe"),
        F.col("n_capped").alias("_nc_probe"),
        F.col("rarity_rank").alias("_r_probe"),
        "sh_hash",
    )
    # Below the broadcast-safety gate, build the join hash on the PROBE
    # side: it is the prefix-filtered subset (~p/n_capped of the index,
    # ~4.6x fewer rows on the sf0.1 fixture), so the broadcast build +
    # ship is proportionally cheaper than Catalyst's default build on
    # the full index side (r8: full-query 1.50 -> 1.32 s). Past the
    # gate `hint` (merge) pins the spillable plan exactly as before --
    # at cluster scale both sides are corpus-sized and neither is
    # broadcastable.
    if n <= BROADCAST_SAFE_ROWS:
        probe = F.broadcast(probe)
    index = bounded.select(
        F.col("doc_id").alias("_ix_doc"),
        F.col("n_sh").alias("_n_ix"),
        F.col("n_capped").alias("_nc_ix"),
        F.col("rarity_rank").alias("_r_ix"),
        "sh_hash",
    )
    # size filter: overlap <= |sh_ix| bounds the reachable score
    size_ok = F.col("_n_ix") >= F.lit(t) * F.col("_n_probe")
    # required overlap for this probe direction
    if symmetric:
        size_ok = size_ok & (F.col("_n_ix") * F.lit(t) <= F.col("_n_probe"))
        # J >= t  =>  overlap >= t*(|a|+|b|)/(1+t)
        required = (
            F.lit(t) * (F.col("_n_probe") + F.col("_n_ix")) / F.lit(1.0 + t)
        )
    else:
        # C(probe -> ix) >= t  =>  overlap >= t*|sh_probe|
        required = F.lit(t) * F.col("_n_probe")
    # positional (PPJoin) filter, valid on the EARLIEST common capped
    # shingle of a pair (per-doc posting lists share the global
    # (df, sh_hash) order, so every other common capped shingle sits
    # strictly after this row's rank in BOTH lists):
    #   overlap <= 1 + min(capped suffixes) + min(uncapped counts).
    # Rows that are not the earliest common shingle may fail this
    # spuriously -- harmless, the earliest row of any qualifying pair
    # always exists (it is within the probe prefix by the pigeonhole
    # argument) and passes, and the pair survives via that row.
    max_overlap = (
        F.lit(1)
        + F.least(
            F.col("_nc_probe") - F.col("_r_probe"),
            F.col("_nc_ix") - F.col("_r_ix"),
        )
        + F.least(
            F.col("_n_probe") - F.col("_nc_probe"),
            F.col("_n_ix") - F.col("_nc_ix"),
        )
    )
    joined = probe.join(hint(index, n), "sh_hash").filter(
        (F.col("doc_id") != F.col("_ix_doc")) & size_ok
    )
    if not symmetric:
        # r18 (guide 2.4, share one exchange): the candidate rows are
        # REPARTITIONED BY doc_b before the dedup so the distinct and
        # the first verify join (which joins on doc_b -- see
        # `_containment_plan`) ride ONE exchange: HashPartitioning
        # (doc_b) satisfies the distinct's ClusteredDistribution
        # ([doc_a, doc_b]) (subset rule), and the join's requirement
        # exactly. Cost: the dedup becomes a complete-mode aggregate
        # (no map-side partial dedup below an explicit repartition),
        # so this exchange carries the raw join output (47.3M rows at
        # 10x, ~397 MB) instead of the partially-deduped 39.2M
        # (329 MB) -- but it DELETES the 313 MB repartition of the
        # 33.65M distinct pairs the join otherwise needs. Net at 10x:
        # -245 MB and one exchange fewer (measured via
        # tests/plancap exchanges; before/after in plans/r18/).
        # Under the broadcast verify (`_verify_attach`, r18 third
        # pass) the join-sharing half of this rationale is moot --
        # but doc_b stays the right key anyway: the distinct still
        # needs ONE clustering exchange, and complete-mode by doc_b
        # measured 290.3 MB vs 329 for the two-phase (doc_a, doc_b)
        # form (partial dedup removes only ~17% of rows here).
        kept = joined.filter(max_overlap >= required)
        # r19 (guide 2.3 "narrower types"): when the verify WILL
        # broadcast, the candidate partitioning has no downstream
        # consumer, so the dedup can key on the packed single long
        # (undirected: doc_a < doc_b by construction, so hi IS doc_a)
        # -- one 8 B key instead of two across the query's dominant
        # remaining exchange, and Catalyst's two-phase distinct gets
        # its map-side partial dedup back (cheap on a single long
        # key). When the verify does NOT broadcast (past the budget,
        # the 100 TB regime) the doc_b repartition below still feeds
        # the SMJ's partitioning requirement -- packing there would
        # ADD an exchange, so the r18 shape stands.
        if (
            n > BROADCAST_SAFE_ROWS
            and _pair_key_packable(docs)
            and _verify_broadcasts(docs, n)
        ):
            id_type = joined.schema["doc_id"].dataType.simpleString()
            upk = (
                F.shiftleft(
                    F.least("doc_id", "_ix_doc").cast("long"), 32
                )
                .bitwiseOR(F.greatest("doc_id", "_ix_doc").cast("long"))
                .alias("_pk")
            )
            return (
                kept.select(upk)
                .distinct()
                .select(
                    F.shiftright(F.col("_pk"), 32)
                    .cast(id_type)
                    .alias("doc_a"),
                    F.col("_pk")
                    .bitwiseAND(F.lit(4294967295))
                    .cast(id_type)
                    .alias("doc_b"),
                )
            )
        return (
            kept.select(
                F.least("doc_id", "_ix_doc").alias("doc_a"),
                F.greatest("doc_id", "_ix_doc").alias("doc_b"),
            )
            .repartition("doc_b")
            .distinct()
        )
    # symmetric path: aggregate per DIRECTED pair and apply the exact
    # count bound (docstring, PAIR-LEVEL COUNT FILTER) before the
    # array-attaching verify joins downstream. The aggregation's
    # payload is pre-folded to ONE double per row -- the pair-constant
    # threshold c must reach, thr = required - prefix_slack -
    # uncapped_slack -- so the (doc_a, doc_b) exchange carries 2 keys
    # + a count + a double instead of the 6-column form (a pair's
    # common-shingle rows live in DIFFERENT sh_hash partitions, so
    # map-side combine cannot shrink this exchange; its byte width is
    # the whole cost). min(_thr) == the value (pair-constant).
    p_probe = F.floor(F.lit(1.0 - t) * F.col("_n_probe")) + 1
    unc_slack = F.least(
        F.col("_n_probe") - F.col("_nc_probe"),
        F.col("_n_ix") - F.col("_nc_ix"),
    )
    req_row = F.lit(t) * (F.col("_n_probe") + F.col("_n_ix")) / F.lit(1.0 + t)
    thr_c = (
        req_row
        - F.greatest(F.lit(0).cast("long"), F.col("_nc_probe") - p_probe)
        - unc_slack
    )
    # positional bound, aggregated: overlap <= 1 + max-over-rows of
    # least(capped suffixes) + uncapped slack (the max is attained at
    # the earliest common capped shingle, whose bound is the provably
    # valid one -- see the asymmetric path's row filter); folded to
    # "max(_core) >= required - 1 - unc_slack" so it rides the
    # exchange as one long + one double
    core = F.least(
        F.col("_nc_probe") - F.col("_r_probe"),
        F.col("_nc_ix") - F.col("_r_ix"),
    )
    thr_pos = req_row - F.lit(1) - unc_slack
    # r18 second pass (guide 2.5/5, measured at 10x): the groupBy's
    # default two-phase plan spilled 9.63 GB in the MAP-side partial
    # aggregate while removing only 5% of rows (84.7M -> 79.96M --
    # a pair's common-shingle rows live in different sh_hash
    # partitions, so map-side combine finds almost no duplicates),
    # then another 8.72 GB in the final aggregate. An explicit
    # repartition on the pair key makes the aggregate complete-mode:
    # the raw join rows cross the exchange un-combined (+6% records,
    # and the pair-clustered layout compresses BETTER: 1,111.7 ->
    # 856.6 MB measured) and the useless map-side hash build -- and
    # its spill -- disappears. The positional bound also rides the
    # exchange pre-folded: max(_core) >= _tp  <=>  max(_core - _tp)
    # >= 0 (_tp is pair-constant), so the row payload and the
    # per-group state drop a column each (dataSize 4.48 -> 3.39 GB).
    # Measured (plancap walk, interleaved A/B at 10x): total agg
    # spill 18.35 -> 8.12 GB (map-side 9.63 -> 0), exec 28.6-42.3 ->
    # 32.6 s (wall-neutral on this box; the spill is the win). The
    # compressed exchange grows 1,111.7 -> 1,518.8 MB -- raw rows
    # compress worse than the partial-agged clustered form -- still
    # 4.4x under the pre-r18 6,635 MB; accepted for the map-side
    # spill kill (per-node disk pressure at scale). Third pass (same
    # round): the remaining 8.12 GB reduce-side spill was per-task
    # group-state pressure (69M groups / 32 partitions); the explicit
    # corpus-derived partition count below zeroes it entirely.
    if n > BROADCAST_SAFE_ROWS and _pair_key_packable(docs):
        # r19 (r18 verdict item 3; guide 2.3 "narrower types"): this
        # exchange is the fleet's largest (1,713 MB at 10x, ~96% of
        # the query's footprint) and ships (doc_id, _ix_doc, _thr,
        # _cmt) = 4 longs/doubles per row for 84.7M rows. When a
        # cached range probe proves every doc_id fits unsigned 31
        # bits, the DIRECTED pair packs injectively into ONE long
        # _pk = (doc_id << 32) | _ix_doc -- 8 fewer bytes per row on
        # the wire and HALF the aggregate's per-group key state.
        # EXACTNESS: the map doc pair -> _pk is injective on
        # [0, 2^31)^2 (disjoint bit ranges; the probe guarantees
        # _ix_doc has no bits above 30, so the OR is addition), so
        # groupBy(_pk) forms exactly the groups groupBy(doc_id,
        # _ix_doc) formed; _thr/_cmt and the count filter are
        # byte-identical expressions; unpacking is the exact inverse
        # (shiftright 32 / mask 2^32-1 on non-negative halves), cast
        # back to the source id type so the output schema is
        # unchanged. Below the gate (every sf<=0.1 fixture) and for
        # non-packable corpora the two-column form stands
        # bit-identical. Measured at 10x: see OPTIMIZATION_r19.md.
        id_type = joined.schema["doc_id"].dataType.simpleString()
        pk = (
            F.shiftleft(F.col("doc_id").cast("long"), 32)
            .bitwiseOR(F.col("_ix_doc").cast("long"))
            .alias("_pk")
        )
        hi = F.shiftright(F.col("_pk"), 32).cast(id_type)
        lo = F.col("_pk").bitwiseAND(F.lit(4294967295)).cast(id_type)
        parts = _pair_agg_partitions(docs.sparkSession, n)
        # r19 second pass (guide 2.3 "project before the exchange" /
        # section 8 "shuffle keys and metadata, re-attach decisions"):
        # _thr and _cmt are functions of PAIR-LEVEL doc stats (n_sh,
        # n_capped of both docs) plus the row-level rank bound `core`
        # -- and the packed key already ENCODES both doc ids. So when
        # the per-doc stats table (n rows x ~32 B) fits the family
        # broadcast budget twice, the exchange ships only (_pk, core)
        # = 24 B/row instead of (_pk, _thr, _cmt) = 32, and the two
        # doubles are re-derived POST-aggregate by broadcast-joining
        # the stats back on the unpacked ids. EXACTNESS: thr is
        # pair-constant, so min(_thr) == the reconstructed value (the
        # literal same expression tree `thr_c` over the same int
        # columns, re-exposed under the same names by the stats join);
        # max(core - thr_pos) == max(core) - thr_pos because x - c is
        # strictly monotonic and exact on these operands, and the
        # final comparison replicates the identical double subtraction
        # -- decisions are byte-identical (pinned by the binding-
        # corpus test, which compares this branch against the
        # below-gate two-column form pair-for-pair). Past the stats
        # budget (the 100 TB regime: billions of docs) the doubles
        # ride the exchange as before -- memory-safe, no new joins.
        if 2 * n * 32 <= _VERIFY_BROADCAST_BYTES:
            pair_rows = joined.select(
                pk, core.alias("_core")
            ).repartition(parts, "_pk")
            agg = pair_rows.groupBy("_pk").agg(
                F.count(F.lit(1)).alias("_c"),
                F.max("_core").alias("_mxc"),
            )
            stats = _doc_stats(docs, max_postings)
            sp = stats.select(
                F.col("doc_id").cast("long").alias("_p_id"),
                F.col("n_sh").alias("_n_probe"),
                F.col("n_capped").alias("_nc_probe"),
            )
            si = stats.select(
                F.col("doc_id").cast("long").alias("_i_id"),
                F.col("n_sh").alias("_n_ix"),
                F.col("n_capped").alias("_nc_ix"),
            )
            return (
                agg.join(
                    F.broadcast(sp),
                    F.shiftright(F.col("_pk"), 32) == F.col("_p_id"),
                )
                .join(
                    F.broadcast(si),
                    F.col("_pk").bitwiseAND(F.lit(4294967295))
                    == F.col("_i_id"),
                )
                .filter(
                    (F.col("_c").cast("double") >= thr_c)
                    & (
                        (F.col("_mxc").cast("double") - thr_pos)
                        >= F.lit(0.0)
                    )
                )
                .select(
                    F.least(hi, lo).alias("doc_a"),
                    F.greatest(hi, lo).alias("doc_b"),
                )
                .distinct()
            )
        pair_rows = joined.select(
            pk,
            thr_c.alias("_thr"),
            (core.cast("double") - thr_pos).alias("_cmt"),
        ).repartition(parts, "_pk")
        return (
            pair_rows.groupBy("_pk")
            .agg(
                F.count(F.lit(1)).alias("_c"),
                F.min("_thr").alias("_thr"),
                F.max("_cmt").alias("_mx"),
            )
            .filter(
                (F.col("_c").cast("double") >= F.col("_thr"))
                & (F.col("_mx") >= F.lit(0.0))
            )
            .select(
                F.least(hi, lo).alias("doc_a"),
                F.greatest(hi, lo).alias("doc_b"),
            )
            .distinct()
        )
    pair_rows = joined.select(
        "doc_id",
        "_ix_doc",
        thr_c.alias("_thr"),
        (core.cast("double") - thr_pos).alias("_cmt"),
    )
    if n > BROADCAST_SAFE_ROWS:
        # corpus-derived partition count (see _PAIR_DOCS_PER_PARTITION):
        # at 10x this is 250 partitions vs the session's 32 -- measured
        # (plancap walk, same session shape): agg spill 8.12 GB -> ZERO
        # at +12.8% exchange bytes (1,518.8 -> 1,713.4 MB compressed;
        # smaller blocks compress worse), walk exec 152.8 -> 120.2 s.
        # The explicit count also opts this exchange out of AQE
        # coalescing, which would otherwise undo the raise by
        # re-merging the small blocks back into few fat partitions.
        # (Reached past the gate only when the id-range probe refuses
        # the packed key above.)
        pair_rows = pair_rows.repartition(
            _pair_agg_partitions(docs.sparkSession, n), "doc_id", "_ix_doc"
        )
    else:
        pair_rows = pair_rows.repartition("doc_id", "_ix_doc")
    return (
        pair_rows.groupBy("doc_id", "_ix_doc")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.min("_thr").alias("_thr"),
            F.max("_cmt").alias("_mx"),
        )
        .filter(
            (F.col("_c").cast("double") >= F.col("_thr"))
            & (F.col("_mx") >= F.lit(0.0))
        )
        .select(
            F.least("doc_id", "_ix_doc").alias("doc_a"),
            F.greatest("doc_id", "_ix_doc").alias("doc_b"),
        )
        .distinct()
    )


def _banded_sigs(docs: DataFrame, k: int, band_rows: int) -> DataFrame:
    """(doc_id, band_idx, band_hash, _bucket_n): exploded LSH bands
    with per-bucket occupancy, persisted (the index the self-join
    probes)."""
    return _plan_cached(
        docs, f"band:{k}:{band_rows}", lambda: _build_banded(docs, k, band_rows)
    )


def _build_banded(docs: DataFrame, k: int, band_rows: int) -> DataFrame:
    sigs = minhash_signature(docs, k)
    n_bands = k // band_rows
    band_struct = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"sig_{b * band_rows + r}") for r in range(band_rows)]
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    # persist: the self-join below would otherwise recompute the whole
    # md5/minhash stage on BOTH branches. The banded table is 4 short
    # rows per doc -- at 100 TB this is the standard "materialize the
    # LSH index before probing" step (storage-backed there, cache here).
    from pyspark.sql import Window

    w = Window.partitionBy("band_idx", "band_hash")
    return (
        sigs.select("doc_id", F.explode(band_struct).alias("band"))
        .select("doc_id", "band.band_idx", "band.band_hash")
        .withColumn("_bucket_n", F.count(F.lit(1)).over(w))
        .persist()
    )


def oversized_buckets(
    docs: DataFrame,
    k: int = DEFAULT_K,
    band_rows: int = DEFAULT_BAND_ROWS,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """The buckets `neardup_pairs` drops under the cap, with their
    occupancy -- the observable drop count (count() it, log it, route
    the member docs to template/spam handling)."""
    banded = _banded_sigs(docs, k, band_rows)
    return (
        banded.filter(F.col("_bucket_n") > max_bucket_size)
        .groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def neardup_pairs(
    docs: DataFrame,
    k: int = DEFAULT_K,
    band_rows: int = DEFAULT_BAND_ROWS,
    threshold: float = 0.2,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
    skip_buckets: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs from LSH band collisions, verified with exact
    shingle Jaccard; returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    Buckets larger than ``max_bucket_size`` are excluded BEFORE the
    self-join (see DEFAULT_MAX_BUCKET): the quadratic pair explosion of
    a degenerate band never materializes. `oversized_buckets` reports
    what was dropped. ``skip_buckets`` (optional (band_idx, band_hash)
    frame, anti-joined before pairing) lets a caller exclude buckets
    over-cap in a LARGER population than ``docs`` -- the streaming
    split's batch-local co-link passes the index's over-cap buckets so
    a micro-batch slice of a degenerate corpus bucket doesn't link
    pairs the corpus-wide build dropped (r14 review)."""
    # r18 (guide 2.3, narrower types): verify on the int-hashed
    # shingle table like the family's other two exact verifies
    # (`ngram_jaccard_pairs` since r8, `containment_pairs` since r7)
    # instead of the raw string arrays -- 8 B/shingle crosses the
    # candidate-verify joins instead of ~25, and array_intersect over
    # int64 is the measured-6x form (r7: 4.0 -> 0.66 s on 347k
    # pairs). Counts -- and hence round(J, 6) -- are identical to the
    # string intersect unless xxhash64 collides within one candidate
    # pair's sets (p < 1e-10 per full corpus verify, `_shingle_ints`
    # docstring): the same accepted argument under which the two
    # sibling verifies have been hash-matched against the
    # string-computing DuckDB oracle since r7. transform preserves
    # array length, so the union term is unchanged too.
    banded = _banded_sigs(docs, k, band_rows).filter(
        F.col("_bucket_n") <= max_bucket_size
    )
    if skip_buckets is not None:
        banded = banded.join(
            skip_buckets.select("band_idx", "band_hash"),
            ["band_idx", "band_hash"],
            "left_anti",
        )
    a = banded.alias("a")
    b = banded.alias("b")
    # size-gated SHUFFLE_HASH (see BROADCAST_SAFE_ROWS): the band
    # index, the candidate set and the shingle table are all
    # corpus-sized (the shingle table's array<string> payload
    # especially -- its size ESTIMATE reads broadcast-small while its
    # real footprint OOMs a default-memory driver already at 50k docs;
    # found by the 10x fixture)
    n = corpus_count(docs)
    cand = (
        a.join(scale_hint(b, n), ["band_idx", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh = _shingle_ints(docs)
    pair = (
        cand.join(
            _verify_attach(
                sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                    "shi", "sh_a"
                ),
                docs,
                n,
                scale_hint,
            ),
            "doc_a",
        )
        .join(
            _verify_attach(
                sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                    "shi", "sh_b"
                ),
                docs,
                n,
                scale_hint,
            ),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jac = F.round(inter / union, 6)
    return (
        pair.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def neardup_clusters(
    docs: DataFrame,
    k: int = DEFAULT_K,
    band_rows: int = DEFAULT_BAND_ROWS,
    threshold: float = 0.2,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
    max_iterations: int = 20,
) -> DataFrame:
    """Transitive near-dup clusters: connected components of the
    verified near-dup pair graph, labeled by the minimum doc_id in
    each component (singletons label themselves).

    Near-duplication is transitive in practice (A~B, B~C usually means
    one cluster of rewrites), and dedup policy operates on CLUSTERS --
    keep one per component -- not on pairs. Components come from
    `_label_components` (min-label propagation + per-round pointer
    jumping: O(log diameter) rounds, see its docstring).

    Mirrored by a DuckDB recursive CTE (plans/llm_sql.CLUSTERS_SQL):
    transitive closure then MIN per doc -- same labels."""
    n = corpus_count(docs)
    pairs = neardup_pairs(
        docs, k, band_rows, threshold, max_bucket_size
    ).select("doc_a", "doc_b")
    vertices = docs.select("doc_id")
    labels, _rounds = _label_components(vertices, pairs, n, max_iterations)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(scale_hint(sizes, n), "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    )


def _label_components(
    vertices: DataFrame,
    pairs: DataFrame,
    n: int,
    max_iterations: int = 20,
) -> tuple[DataFrame, int]:
    """Connected components by min-label propagation WITH pointer
    jumping; returns (labels DataFrame (doc_id, cluster_id), rounds).

    Each round does (1) neighbor-min -- every vertex takes the min of
    its own and its neighbors' labels (one equi-join + one aggregate)
    -- then (2) pointer jumping -- label(v) <- label(label(v)) (one
    self-join on the label table; labels are doc_ids, so a label's
    label is well-defined and always within the same component).
    Plain neighbor-min needs diameter rounds -- fatal on pathological
    chain-shaped corpora (version histories, boilerplate series, the
    r4-verdict long-chain concern); the jump step halves the distance
    to the component minimum every round, so convergence is
    O(log diameter) (the label-doubling idea behind
    large-star/small-star -- Kiveris et al., "Connected Components in
    MapReduce and Beyond"). Pinned by tests/test_scale10x.py on a
    256-chain: <= ceil(log2(255)) + 2 rounds vs 255 for plain
    propagation. Monotonicity argument: labels only decrease, always
    name a member of the component, and a fixpoint of neighbor-min
    has equal labels across every edge -- same fixpoint as plain
    propagation, reached exponentially faster.

    All joins are size-gated SHUFFLE_HASH (see BROADCAST_SAFE_ROWS):
    labels/neighbor-min are corpus-sized with broadcast-small per-round
    size ESTIMATES; an auto-broadcast of the label table OOMs the
    driver already at 50k docs (found by the 10x fixture) -- at real
    scale it would be fatal every round. The fixpoint check is a
    driver count per round, the only action."""
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    labels = vertices.select("doc_id", F.col("doc_id").alias("cluster_id")).persist()
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        neighbor_min = (
            edges.join(
                scale_hint(
                    labels.select(
                        F.col("doc_id").alias("doc_b"),
                        F.col("cluster_id").alias("_nl"),
                    ),
                    n,
                ),
                "doc_b",
            )
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("_nl").alias("_nmin"))
        )
        stepped = labels.join(scale_hint(neighbor_min, n), "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("cluster_id"), F.coalesce("_nmin", F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        # pointer jump: label(v) <- label(label(v)). Left join: every
        # label IS a doc_id, so the match always exists; coalesce only
        # guards degenerate vertex sets. localCheckpoint (eager)
        # truncates the lineage each round -- the jump references
        # `stepped` twice, so without truncation the logical plan
        # grows geometrically per round and analysis itself OOMs (the
        # standard iterative-algorithm discipline, same reason
        # GraphFrames checkpoints its CC loop).
        new_labels = (
            stepped.join(
                scale_hint(
                    stepped.select(
                        F.col("doc_id").alias("cluster_id"),
                        F.col("cluster_id").alias("_ll"),
                    ),
                    n,
                ),
                "cluster_id",
                "left",
            )
            .select(
                "doc_id",
                F.coalesce("_ll", F.col("cluster_id")).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(scale_hint(labels.alias("o"), n), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        # release the superseded round eagerly: unpersist() frees the
        # round-1 persisted table but is a no-op on later rounds'
        # localCheckpoint blocks (those live on the checkpointed RDD,
        # not in the CacheManager), so without _free_checkpoint up to
        # max_iterations corpus-sized label tables linger until the
        # GC-driven ContextCleaner happens to run (r5 advice)
        if rounds == 1:
            labels.unpersist()
        else:
            _free_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels, rounds


def _free_checkpoint(df: DataFrame) -> None:
    """Free the storage blocks behind a localCheckpoint'd DataFrame.
    Safe only when the frame is fully superseded: a locally
    checkpointed RDD cannot be recomputed after unpersist."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # non-classic backend / unexpected plan: leave to ContextCleaner


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_postings: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs from an inverted shingle
    index -- the signature-free member of the dedup family: unlike
    MinHash banding (probabilistic recall), every pair sharing at
    least one surviving shingle is scored with its EXACT Jaccard.

    Shape: posting list = (md5(shingle), doc_id) -- only 32-hex
    hashes cross the exchange, never shingle text. Candidates come
    from PREFIX-FILTERED probes of the df-capped inverted index
    (`_prefix_candidates`: provably the same thresholded output as the
    full postings self-join, with candidate volume linear in corpus
    size rather than Σ C(df, 2) -- the r6 fix for the low-entropy
    blowup the r5 verdict measured); the document-frequency cap
    (`max_postings`, same guard as the LSH bucket cap) additionally
    drops template shingles outright -- a shingle shared by 1000+ docs
    identifies a template, not a near-dup neighborhood, so the only
    pairs the cap can lose are ones whose EVERY shared shingle is
    that common. Verification is the same exact array_intersect
    Jaccard as `neardup_pairs`.

    At 100 TB: shuffles on the shingle hash (uniform -- it is a hash)
    and on doc_id (the prefix row_number), candidate join bounded by
    prefix_size x df <= cap per probe row, verify joins shuffle only
    (doc_id, shingles) for candidate docs.
    """
    # verify on the int-hashed shingle table (`_shingle_ints`: 6x
    # faster intersect, identical counts modulo a <1e-10 xxhash64
    # collision); size-gated SHUFFLE_HASH: postings and shingle tables
    # are corpus-sized with broadcast-small size ESTIMATES (see
    # neardup_pairs / BROADCAST_SAFE_ROWS). The finished plan HANDLE is
    # memoized like the index it probes (r8): rebuilding this tree is
    # ~0.2 s of pure Py4J/analysis chatter per call with zero new
    # information -- the cache stores only the immutable DataFrame, no
    # data beyond what the underlying persisted index already holds.
    def build():
        shi = _shingle_ints(docs)
        n = corpus_count(docs)
        cand = _prefix_candidates(
            docs, threshold, max_postings, n, scale_hint, symmetric=True
        )
        pair = cand.join(
            _verify_attach(
                shi.select(F.col("doc_id").alias("doc_a"), F.col("shi").alias("sh_a")),
                docs,
                n,
                scale_hint,
            ),
            "doc_a",
        ).join(
            _verify_attach(
                shi.select(F.col("doc_id").alias("doc_b"), F.col("shi").alias("sh_b")),
                docs,
                n,
                scale_hint,
            ),
            "doc_b",
        )
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
        jac = F.round(inter / union, 6)
        return pair.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
            F.col("jaccard") >= threshold
        )

    return _plan_cached(docs, f"jaccard_plan:{threshold}:{max_postings}", build)


def neardup_cluster_sizes(docs: DataFrame) -> DataFrame:
    """The dedup report's family-size histogram: how many near-dup
    clusters exist at each size -- the first number an engineer reads
    after a dedup run (a fat tail means boilerplate/templates, a thin
    one means true pairwise dups). Two tiny aggregations past the
    connected-components plan (`neardup_clusters`): cluster -> size,
    then size -> count; everything after the components is
    cluster-count-sized. Singletons appear as size-1 clusters
    (`neardup_clusters` labels every document, self-labeling docs in
    no pair), so the histogram's size-1 row doubles as the
    unduplicated-corpus count."""
    clusters = neardup_clusters(docs)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def neardup_recall(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Dedup-quality evaluator: per-Jaccard-bucket recall of the
    MinHash-LSH banding path against the exact n-gram Jaccard pairs.

    Truth = `ngram_jaccard_pairs(docs, threshold)` (every pair with
    exact J >= threshold, signature-free); candidate = the pairs the
    banded path (`neardup_pairs`) ALSO emits at the same threshold --
    obtained by filtering its default >= 0.2 output, which is exact
    because the threshold is only the final filter over the same
    rounded Jaccard (and it reuses the memoized 0.2 plan / persisted
    band index instead of building a second one). Buckets are
    floor(J * 10): the classic banding S-curve check -- recall should
    rise toward 1.0 with J, and a band/row misconfiguration shows up
    as a depressed bucket, exactly what an engineer tuning
    (k, band_rows) for a 100 TB dedup run reads first.

    Exactness of the pairing: both constituents are independently
    hash-matched (`doc_neardup_pairs`, `doc_ngram_jaccard`); both
    engines bucket the SAME round(J, 6) double with IEEE *10/floor,
    so bucket labels agree bit-for-bit. Everything past the two
    constituent plans aggregates n_pairs-sized inputs -- at 100 TB the
    evaluator runs on a sampled shard anyway (the metric, not the
    pair list, is the product).

    ``threshold`` must be >= 0.2: the LSH side is a filter over
    `neardup_pairs`' hard >= 0.2 output, so a lower threshold would
    silently read as banding misses in the low buckets (a filter
    artifact, not a recall measurement -- r10 advice; fail fast like
    the sibling `ann_recall_sql` does). Thresholds >= 0.5 reuse the
    memoized 0.5 exact-Jaccard plan (a further filter over the same
    rounded J is exact), so the 0.8 high-tail variant shares both
    constituent indexes with the default instead of building a
    second posting index.

    ORACLE ASYMMETRY (r12, r11 ADVICE): thresholds in [0.2, 0.5) are
    exact on the ENGINE side (the exact constituent builds its pair
    set at that threshold directly), but `neardup_recall_sql` refuses
    them -- its exact side is the fixed >= 0.5 NGRAM oracle text, so
    no DuckDB pairing can be generated there. A registry entry in
    that range would therefore have to be rows-only; the guard
    message below says so at the call site rather than letting the
    mismatch surface only when the oracle is requested.
    """
    if threshold < 0.2:
        raise ValueError(
            f"neardup_recall threshold {threshold} is below neardup_pairs' "
            ">= 0.2 candidate floor; exact pairs with J in [threshold, 0.2) "
            "could never be LSH hits and low buckets would mis-read as "
            "banding misses"
        )
    if threshold < 0.5:
        import warnings

        warnings.warn(
            f"neardup_recall threshold {threshold} is engine-exact but has "
            "no generatable DuckDB oracle (neardup_recall_sql's exact side "
            "is the fixed >= 0.5 NGRAM text); registry pairing requires "
            "threshold >= 0.5",
            stacklevel=2,
        )
    base = min(threshold, 0.5)
    exact = ngram_jaccard_pairs(docs, base).filter(F.col("jaccard") >= threshold)
    lsh = neardup_pairs(docs).filter(F.col("jaccard") >= threshold)
    # ONE left join + one aggregation (r11): the earlier two-branch
    # form (bucket counts / intersection counts) referenced the exact
    # pair frame twice, and the constituent plans' HOF lambdas defeat
    # exchange canonicalization, so the exact verify join executed
    # TWICE per evaluator run. Marking LSH hits and aggregating once
    # executes each constituent exactly once; the left join has
    # multiplicity 1 because LSH pairs are distinct on (doc_a, doc_b).
    e = exact.select(
        "doc_a", "doc_b", F.floor(F.col("jaccard") * 10).cast("int").alias("jbucket")
    )
    marked = lsh.select("doc_a", "doc_b", F.lit(1).cast("long").alias("_hit"))
    zero = F.lit(0).cast("long")
    return (
        e.join(marked, ["doc_a", "doc_b"], "left")
        .groupBy("jbucket")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("_hit", zero)).alias("n_hit"),
        )
        .select(
            "jbucket",
            "n_exact",
            "n_hit",
            F.round(
                F.col("n_hit").cast("double") / F.col("n_exact"), 6
            ).alias("recall"),
        )
    )


def minhash_calibration(
    docs: DataFrame, threshold: float = 0.5, k: int = DEFAULT_K
) -> DataFrame:
    """Estimator-calibration evaluator (r12): how well the k-component
    MinHash ESTIMATE tracks the exact n-gram Jaccard, per exact-J
    bucket -- the second axis of dedup quality. `neardup_recall`
    answers "does banding FIND the pairs"; this answers "how wrong is
    the similarity VALUE the signature implies" -- the number an
    engineer sizing k for a 100 TB dedup run reads before trading
    signature bytes for estimate variance (Var ~ J(1-J)/k).

    Truth pairs = `ngram_jaccard_pairs(docs, threshold)` (exact J >=
    threshold). Estimate per pair = (matching signature components)/k
    -- the standard unbiased MinHash estimator. Output per
    floor(J*10) bucket: pair count, mean estimate, mean |estimate -
    exact| -- all means computed from exact INTEGER micro-units
    (J is round(.,6) -> exact multiples of 1e-6; the estimate is
    m/k with 1e6 divisible by k, so est_units = m * (1e6/k) is an
    exact integer; one final double division per mean, no float
    reassociation anywhere -- README determinism discipline).

    At scale: the pair frame is n_pairs-sized and the signature table
    is k 32-hex strings per doc; the two joins shuffle pairs + the
    doc-sized sig table on doc ids, then the aggregate folds onto a
    <= 6-row bucket domain. Like the recall evaluators, at 100 TB
    this runs on a sampled shard -- the metric, not the pair list, is
    the product.
    """
    if 1_000_000 % k:
        raise ValueError(
            f"minhash_calibration: k={k} must divide 1e6 so the "
            "estimate maps to exact micro-units (determinism discipline)"
        )
    exact = ngram_jaccard_pairs(docs, threshold)
    sig = minhash_signature(docs, k)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig_{i}").alias(f"_a{i}") for i in range(k)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig_{i}").alias(f"_b{i}") for i in range(k)],
    )
    m = sum(
        (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("long") for i in range(k)
    )
    unit = 1_000_000 // k
    est_units = (m * F.lit(unit)).cast("long")
    j_units = F.round(F.col("jaccard") * 1_000_000).cast("long")
    return (
        exact.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.floor(F.col("jaccard") * 10).cast("int").alias("jbucket"),
            est_units.alias("_est"),
            F.abs(est_units - j_units).alias("_err"),
        )
        .groupBy("jbucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("_est").alias("_se"),
            F.sum("_err").alias("_serr"),
        )
        .select(
            "jbucket",
            "n_pairs",
            F.round(
                F.col("_se").cast("double")
                / F.col("n_pairs").cast("double")
                / 1e6,
                6,
            ).alias("avg_estimate"),
            F.round(
                F.col("_serr").cast("double")
                / F.col("n_pairs").cast("double")
                / 1e6,
                6,
            ).alias("avg_abs_error"),
        )
    )


def semantic_neardup(
    docs: DataFrame, embeddings: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """SemDeDup-style semantic dedup verdict over documents.

    Unifies the text- and vector-dedup families (the last LLM-pipeline
    dedup shape, per SemDeDup -- Abbas et al. 2023, arXiv:2303.09540):
    each document row is paired with its embedding by id
    (doc_id == vec_id), near-duplicate pairs come from the banded-LSH
    + exact-cosine-verify path (similarity.embedding_neardup_pairs,
    deterministic seeded planes -> SQL-expressible oracle), and every
    doc gets a keep/drop verdict: the LOWEST doc_id of a duplicate
    pair is canonical, higher ids are dropped with ``dup_of``
    pointing at the smallest duplicate partner.

    At 100 TB: pair generation is the banded (band, sig) equi-join --
    never all-pairs; the drops aggregation shuffles only two longs per
    pair; the final verdict join is a plain hash join on doc_id with
    NO broadcast assumption (in a template-heavy crawl the dropped
    set is corpus-sized, not dim-sized).
    """
    from .similarity import embedding_neardup_pairs

    pairs = embedding_neardup_pairs(embeddings, threshold=threshold)
    drops = pairs.groupBy(F.col("vec_b").alias("doc_id")).agg(
        F.min("vec_a").alias("dup_of")
    )
    # size-gated SHUFFLE_HASH: in a template-heavy crawl the drops
    # side is corpus-sized; past the broadcast-safety threshold never
    # let a small size estimate broadcast it
    return docs.join(scale_hint(drops, corpus_count(docs)), "doc_id", "left").select(
        "doc_id",
        "lang",
        "source",
        F.col("dup_of").isNull().alias("keep"),
        "dup_of",
    )


def containment_decorate(docs: DataFrame) -> DataFrame:
    """Append derived 'excerpt' docs (id + 100000, first half of the
    tokens re-joined) so the fixture contains true containment pairs
    -- an excerpt's trigram shingles are a subset of its source's, so
    containment(excerpt -> source) == 1.0 by construction. Mirrored
    literally in the oracle SQL.

    Guarded: the +100000 offset silently COLLIDES with real documents
    on any corpus whose ids reach 100000 (r5 advice) -- the derived
    excerpt would alias an unrelated doc and corrupt the pair set, so
    refuse loudly instead. r8: the guard moved INTO the plan
    (raise_error in the excerpt-id value path) from an eager max()
    job -- the old job ran at every plan CONSTRUCTION, which the
    bench pays once per rep (~0.3 s of the doc_containment_pairs
    entry was this guard, not containment work). Same loudness --
    any offending row kills the query at first execution -- at zero
    additional jobs."""
    toks = tokens(F.col("text"))
    half = F.slice(toks, 1, F.greatest((F.size(toks) / 2).cast("int"), F.lit(3)))
    guarded_id = F.when(F.col("doc_id") < 100000, F.col("doc_id") + 100000).otherwise(
        F.raise_error(
            F.format_string(
                "containment_decorate: corpus doc_id %s >= 100000; the derived "
                "excerpt ids (doc_id + 100000) would collide with real "
                "documents -- use containment_pairs directly on this corpus",
                F.col("doc_id"),
            )
        )
    )
    excerpts = docs.select(
        guarded_id.alias("doc_id"),
        F.array_join(half, " ").alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(excerpts)


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    max_postings: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """DIRECTED near-dup containment: C(a -> b) = |sh_a ∩ sh_b| /
    |sh_a| -- catches a document CONTAINED in a larger one (excerpts,
    quotes, page aggregations), which symmetric Jaccard misses: a
    short excerpt of a long page has tiny Jaccard but containment 1.

    Candidates come from PREFIX-FILTERED probes of the same bounded
    inverted shingle index as `ngram_jaccard_pairs`
    (`_prefix_candidates`: every doc probes with its
    floor((1-t)*|sh|)+1 globally-rarest capped shingles -- since every
    doc is a potential CONTAINED side, every doc probes, and the
    pigeonhole bound needs only the contained side's prefix; see the
    helper's exactness proof. Output is provably identical to the old
    full self-join, so the DuckDB oracle is unchanged); each
    undirected candidate pair is scored in both directions and rows
    above threshold are emitted as
    (contained_doc, container_doc, containment).

    Verify shape: each candidate pair joins back to the two shingle
    arrays (sort-merge -- spillable -- past the broadcast-safety
    threshold) and the exact intersect runs per pair. An alternative
    narrow-row verify (count shared postings per pair, no arrays
    shipped) was measured 3x SLOWER on the fixture (17 s vs 5.7 s at
    sf0.1): the cand x postings intermediate multiplies every pair by
    its shingle count, which dwarfs shipping two arrays once per
    pair whenever candidates have substantial overlap.

    SCALE (the r6 fix for the r5-measured boundary): the raw postings
    self-join grew candidates as Σ_sh C(df, 2) below the df cap -- on
    a low-entropy 10x corpus (avg trigram df ~175) the verify spilled
    ~78 GB and died. Prefix filtering bounds candidate rows by
    Σ_docs prefix_size x cap -- linear in corpus size -- with zero
    recall loss (exactness proof in `_prefix_candidates`); the
    low-entropy 10x corpus is now a pinned slow test
    (tests/test_scale10x.py::test_containment_prefix_bounded_on_low_entropy_corpus)."""
    # verify on the int-hashed shingle table (`_shingle_ints`: 6x
    # faster intersect, identical counts modulo a <1e-10 xxhash64
    # collision). Plan handle memoized (r8) -- same rationale as
    # `ngram_jaccard_pairs`: repeated construction of this tree costs
    # ~0.25 s of analysis chatter with no new information.
    def build():
        return _containment_plan(docs, threshold, max_postings)

    return _plan_cached(docs, f"containment_plan:{threshold}:{max_postings}", build)


def containment_pairs_observed(
    docs: DataFrame,
    threshold: float = 0.8,
    max_postings: int = DEFAULT_MAX_BUCKET,
):
    """Instrumented twin of `containment_pairs` for the bench ledger
    (r7 verdict item 1): the SAME logical plan with two CollectMetrics
    taps -- one on the candidate-pair stage, one on the emitted
    output -- so a single execution yields (result, n_candidates,
    n_pairs) with no extra jobs. Returns (df, cand_observation,
    out_observation); read `obs.get["n"]` after an action. Not
    memoized (the taps are per-call objects).

    COST CAVEAT (r12, measured): "no extra jobs" does NOT mean "same
    physical cost" -- the observe node is an optimizer barrier, and at
    10x the tapped execution ran 120 s vs 45 s untapped on a quiet
    box (2.6x). Cheap at sf0.1; never time this variant as a canary,
    and at scale run it only when the counts themselves are the
    question (bench gates it behind SPARK_GRAFT_10X_COUNTS=1)."""
    from pyspark.sql import Observation

    cand_obs, out_obs = Observation(), Observation()
    df = _containment_plan(
        docs,
        threshold,
        max_postings,
        cand_tap=lambda c: c.observe(cand_obs, F.count(F.lit(1)).alias("n")),
        out_tap=lambda o: o.observe(out_obs, F.count(F.lit(1)).alias("n")),
    )
    return df, cand_obs, out_obs


def _containment_plan(
    docs: DataFrame,
    threshold: float,
    max_postings: int,
    cand_tap=None,
    out_tap=None,
) -> DataFrame:
    """Shared plan body for `containment_pairs` (memoized, untapped)
    and `containment_pairs_observed` (per-stage CollectMetrics)."""
    shi = _shingle_ints(docs)
    n = corpus_count(docs)
    cand = _prefix_candidates(
        docs, threshold, max_postings, n, scale_hint_merge, symmetric=False
    )
    if cand_tap is not None:
        cand = cand_tap(cand)
    # r18 (guide 2.3, shuffle fewer bytes): attach sh_b FIRST, sh_a
    # second -- the SECOND attachment is the one whose join ships the
    # already-attached array across the wide exchange (33.65M
    # candidate rows at 10x), and doc_b (the greater id) is the
    # EXCERPT side of every original-excerpt candidate (58% of
    # candidates at 10x), whose arrays are ~half the original's:
    # measured Σ|sh_b| = 1,515M elements vs Σ|sh_a| = 2,099M (0.72x),
    # so shipping sh_b instead of sh_a cuts the wide exchange -- the
    # query's dominant byte cost AND the SMJ sort-spill feeding it --
    # by ~28%. The doc_b join also reuses the candidate exchange (see
    # `_prefix_candidates`). Join semantics are order-independent
    # (both are inner equi-joins on distinct-keyed shi), so the
    # emitted rows are unchanged.
    pair = cand.join(
        _verify_attach(
            shi.select(F.col("doc_id").alias("doc_b"), F.col("shi").alias("sh_b")),
            docs,
            n,
            scale_hint_merge,
        ),
        "doc_b",
    ).join(
        _verify_attach(
            shi.select(F.col("doc_id").alias("doc_a"), F.col("shi").alias("sh_a")),
            docs,
            n,
            scale_hint_merge,
        ),
        "doc_a",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    scored = pair.select(
        "doc_a",
        "doc_b",
        F.round(inter / F.size("sh_a"), 6).alias("_c_ab"),
        F.round(inter / F.size("sh_b"), 6).alias("_c_ba"),
    )
    # ONE pass emits both directions: a union of two filtered branches
    # re-executes the whole candidate+verify tree per branch (the
    # executed plan literally duplicated every join -- half of the r5
    # 4.6 s bench entry was this), while the explode shares one
    # intersect per pair and costs one extra generator row
    both = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("contained_doc"),
                    F.col("doc_b").alias("container_doc"),
                    F.col("_c_ab").alias("containment"),
                ),
                F.struct(
                    F.col("doc_b").alias("contained_doc"),
                    F.col("doc_a").alias("container_doc"),
                    F.col("_c_ba").alias("containment"),
                ),
            )
        ).alias("_dir")
    ).select("_dir.*")
    out = both.filter(F.col("containment") >= threshold)
    if out_tap is not None:
        out = out_tap(out)
    return out


def source_overlap(docs: DataFrame) -> DataFrame:
    """Cross-source near-dup overlap matrix: for every unordered pair
    of sources, how many verified near-dup pairs straddle them and
    how many distinct documents on each side are involved -- the
    dataset-vs-dataset contamination report ("is crawl B mostly a
    re-crawl of crawl A?") that decides whether a new source adds
    tokens or just duplicates, read before any merge at corpus scale.

    Pure composition past `neardup_pairs` (already bucket-capped +
    exact-verified): two size-gated joins hang the source labels on
    the pair endpoints, sides are canonicalized so source_lo <
    source_hi regardless of doc_id order, and the aggregate folds to
    at most |sources|^2/2 rows -- catalog-sized like the drift
    monitor's pairwise join, never corpus-sized. Mirrored by
    plans/llm_sql.SOURCE_OVERLAP_SQL over the same pairs CTE."""
    n = corpus_count(docs)
    pairs = neardup_pairs(docs).select("doc_a", "doc_b")
    src = docs.select("doc_id", "source")
    labeled = (
        pairs.join(
            scale_hint(
                src.select(
                    F.col("doc_id").alias("doc_a"), F.col("source").alias("_sa")
                ),
                n,
            ),
            "doc_a",
        )
        .join(
            scale_hint(
                src.select(
                    F.col("doc_id").alias("doc_b"), F.col("source").alias("_sb")
                ),
                n,
            ),
            "doc_b",
        )
        .filter(F.col("_sa") != F.col("_sb"))
    )
    lo_is_a = F.col("_sa") < F.col("_sb")
    sides = labeled.select(
        F.when(lo_is_a, F.col("_sa")).otherwise(F.col("_sb")).alias("source_lo"),
        F.when(lo_is_a, F.col("_sb")).otherwise(F.col("_sa")).alias("source_hi"),
        F.when(lo_is_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias("_doc_lo"),
        F.when(lo_is_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias("_doc_hi"),
    )
    return sides.groupBy("source_lo", "source_hi").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("_doc_lo").alias("n_docs_lo"),
        F.countDistinct("_doc_hi").alias("n_docs_hi"),
    )
