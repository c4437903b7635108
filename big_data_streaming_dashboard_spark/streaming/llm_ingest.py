"""Streaming training-data ingest: the curation verdict on a document
STREAM.

The curation signals that are per-row functions of ``text`` (quality,
language, the Gopher rule battery, exact-dup hash) are stateless, so
the batch expressions from llmdata/text.py apply to a streaming
DataFrame unchanged -- same fused
single-projection plan as llmdata/curation.py. Exact dedup is a keyed
seen-flag in the state store (``applyInPandasWithState`` on the text
hash) so every arrival still gets a verdict row -- ``dropDuplicates``
would swallow repeats instead of flagging them. Canonical = first
ARRIVAL batch's lowest doc_id, vs the batch pipeline's global
min-doc_id (same kept-set cardinality, possibly different
representative; the documented delta mirrors D1's batch/streaming
split in streaming/pipeline.py).

Near-dup exclusion is NOT recomputed per stream: banded LSH needs a
corpus-wide self-join, which is an offline artifact. The streaming
analog is `neardup_probe_stream`: each arrival probes the
batch-refreshed band index (`write_neardup_index`) with a
stream-static join, then exact-verifies candidates. Directed
containment (excerpt-in-page) follows the same split as of r6:
`write_containment_index` persists the df-capped posting index +
hashed shingle arrays, `containment_probe_stream` probes it and
scores both directions exactly (batch-parity pinned in
tests/test_streaming.py). Streaming ANN follows the same split (r10):
`write_ann_index` persists the banded-LSH signature + vector
artifacts, `ann_probe_stream` probes them stream-static and
`ann_topk_batches` finishes the per-query top-k per micro-batch
(batch-parity vs `lsh_banded_topk` pinned likewise). Semantic
(embedding) dedup closes the ladder (r11): `write_semantic_index` +
`semantic_probe_stream` emit verified cosine hits with
`embedding_neardup_pairs`' exact candidate rule, and
`semantic_verdict_batches` derives the per-arrival
`semantic_duplicate` keep/dup_of verdict -- the streaming
counterpart of the batch capstone's lowest-precedence reason
(batch-parity vs `semantic_neardup` pinned in
tests/test_streaming.py). Index builds are fingerprinted
(`index_fingerprint`): stream-static correctness assumes a STATIC
index, so probing a rebuilt index fails loudly instead of silently
mixing versions. The capstone composition (r11):
`write_curation_index` persists every offline artifact under one
fingerprinted root and `curation_verdict_batches` emits the COMPLETE
nine-reason batch ladder per arriving document -- replaying the
corpus the artifacts were built from reproduces
`curation_pipeline_full` row-for-row (pinned in
tests/test_streaming.py::test_streaming_curation_full_matches_batch).
Artifact refresh is LSM-shaped (`append_curation_index` /
`compact_curation_index`): per-doc rows append exactly, the one true
aggregate (exact-dup min-id) is an append-only partial-aggregate log
merged at probe start, and bucket/df caps are recomputed over the
merged index -- append-then-probe provably equals
rebuild-then-probe. Serving paths close the loop (r11):
`rerank_topk_batches` (Hamming retrieval + cross-encoder over a
persisted signed corpus) and `knn_classify_batches` (exact top-k
majority vote), each exactly matching its batch twin.

The serving-artifact protocol, stated once for every family:

- Build: a ``write_*`` writer lays its pieces out under one root
  (`_INDEX_LAYOUT` names the data pieces of the appendable kinds, scan
  side first) and stamps ``path/fingerprint`` last with its ``kind``,
  its build knobs and a fresh nonce (`_write_index_fingerprint`).
- Append: the seven vector families (IVF, PQ, matryoshka, quant,
  IVF-PQ, IVF-matryoshka, IVF-quant) fold a delta through ONE helper,
  `_append_delta`: kind-checked stamp, frozen model, persisted derived
  select, empty delta = no-op, ragged / torn / non-disjoint deltas
  refused, pieces written, nonce re-stamped LAST (`restamp_index`).
  Each family supplies only its kernel (load the frozen model, encode
  the delta into named pieces). The banded, rerank, BM25, curation
  and split roots keep their own append paths (a writer's
  ``mode="append"`` or an ``append_*``) under the same re-stamp-last
  rule. Appends are not snapshot-isolated; see `_append_delta` for
  the crash windows and the quiesce rule.
- Probe: every ``*_batches`` sink runs through ONE driver,
  `_serve_batches`: foreachBatch under an availableNow trigger, the
  nonce checks first in every micro-batch, empty micro-batches
  skipped, the sink's per-batch plan appended to ``out_path`` as
  parquet. The append is NOT idempotent, so a restartable run passes
  ``checkpoint``. ``index_path`` names the root a sink pins
  (`_pin_index`): a caller-held ``expected_fingerprint`` is verified
  at call time, an unpinned sink snapshots the nonce at call time,
  and each micro-batch re-checks it -- a rebuild, append or
  compaction re-stamps the nonce, so a running stream fails over
  loudly instead of mixing index versions across micro-batches. A
  pin that names a root of the wrong kind refuses.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..llmdata.curation import (
    DEFAULT_KEEP_LANG,
    DEFAULT_QUALITY_THRESHOLD,
)
from ..llmdata.text import (
    gopher_keep_column,
    predicted_lang_column,
    quality_columns,
)

DOCUMENTS_STREAM_SCHEMA = "doc_id long, text string, lang string"

_FLAGGED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tokens", T.IntegerType()),
        T.StructField("quality_score", T.DoubleType()),
        T.StructField("predicted_lang", T.StringType()),
        T.StructField("gopher_keep", T.BooleanType()),
        T.StructField("is_duplicate", T.BooleanType()),
    ]
)


def stream_documents(spark: SparkSession, dir_path: str) -> DataFrame:
    """File-source replay of a documents directory (one file per
    micro-batch, like the bronze replay harness)."""
    return (
        spark.readStream.schema(DOCUMENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir_path)
    )


def curation_stream(
    docs: DataFrame,
    quality_threshold: float = DEFAULT_QUALITY_THRESHOLD,
    keep_lang: str = DEFAULT_KEEP_LANG,
) -> DataFrame:
    """Streaming curation verdict: (doc_id, predicted_lang,
    quality_score, n_tokens, is_gopher_fail, drop_reason, kept).

    Same drop_reason precedence as the batch FULL ladder
    (curation.curation_pipeline_full) restricted to its stateless +
    exact-dup reasons: non_english > low_quality > gopher_fail >
    exact_duplicate (r8 closes the r7 batch/stream verdict gap -- the
    Gopher battery is all built-in per-row expressions, so the
    stream gates on the same `gopher_keep_column` conjunction the
    batch battery thresholds; parity pinned in
    tests/test_streaming.py). exact_duplicate = stateful
    first-arrival dedup on md5(text). State is one boolean per
    distinct text hash -- unbounded ValueState semantics (the
    reference's D1 mode); at scale bound it with a state TTL
    (GroupStateTimeout) or an upstream watermarked dedup."""
    qc = quality_columns(F.col("text"))
    sig = docs.select(
        "doc_id",
        qc["n_tokens"].alias("n_tokens"),
        qc["quality_score"].alias("quality_score"),
        predicted_lang_column(F.col("text")).alias("predicted_lang"),
        gopher_keep_column(F.col("text")).alias("gopher_keep"),
        F.md5(F.col("text")).alias("_text_hash"),
    )

    # dropDuplicates would silently SWALLOW repeat arrivals; a verdict
    # stream must emit a row per document, so the dedup is a keyed
    # seen-flag in the state store: within a batch the lowest doc_id of
    # an unseen hash is canonical, everything after is flagged.
    def flag(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        seen = state.exists
        batch = pd.concat(list(pdfs)).sort_values("doc_id")
        dup = [True] * len(batch)
        if not seen:
            dup[0] = False
            state.update((True,))
        out = batch[
            ["doc_id", "n_tokens", "quality_score", "predicted_lang", "gopher_keep"]
        ].copy()
        out["is_duplicate"] = dup
        yield out

    flagged = sig.groupBy("_text_hash").applyInPandasWithState(
        flag,
        outputStructType=_FLAGGED_SCHEMA,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # gopher_fail sits exactly where the batch full ladder puts it:
    # below the scalar quality gate, above the dedup reasons
    # (curation.curation_pipeline_full)
    drop_reason = (
        F.when(F.col("predicted_lang") != keep_lang, "non_english")
        .when(F.col("quality_score") < quality_threshold, "low_quality")
        .when(~F.col("gopher_keep"), "gopher_fail")
        .when(F.col("is_duplicate"), "exact_duplicate")
    )
    return flagged.select(
        "doc_id",
        "predicted_lang",
        "quality_score",
        "n_tokens",
        (~F.col("gopher_keep")).alias("is_gopher_fail"),
        drop_reason.alias("drop_reason"),
        drop_reason.isNull().alias("kept"),
    )


def write_neardup_index(docs: DataFrame, path: str, mode: str = "overwrite") -> str:
    """Persist the batch-built LSH band index + shingle sets: the
    OFFLINE artifact the streaming probe joins against.

    Layout: one row per (doc_id, band_idx, band_hash) plus the doc's
    shingle array for the exact-verify step. At scale this is written
    partitioned/bucketed by (band_idx, band_hash) so a probe touches
    one bucket; the band explode is the same plan as the batch
    neardup_pairs index side (llmdata/dedup._banded_sigs). Every row
    is a PER-DOC fact (signatures and shingles of one document, no
    corpus-wide state), so a corpus delta appends exactly
    (``mode="append"``, used by `append_curation_index`); the one
    corpus-wide quantity -- the degenerate-bucket cap -- is
    recomputed over the MERGED index at probe time
    (`neardup_probe_stream`), so append-then-probe equals
    rebuild-then-probe even when a bucket crosses the cap only
    across increments. The stored `_bucket_n` column is the build
    increment's local count, kept for diagnostics only."""
    from ..llmdata.dedup import DEFAULT_BAND_ROWS, DEFAULT_K, _banded_sigs, shingles

    banded = _banded_sigs(docs, DEFAULT_K, DEFAULT_BAND_ROWS)
    sh = docs.select("doc_id", shingles(F.col("text")).alias("shingles"))
    (
        banded.join(sh, "doc_id")
        .write.mode(mode)
        .parquet(path)
    )
    return path


def _dedup_candidates(
    cands: DataFrame, keys: list[str], dedup_ttl: str | None
) -> DataFrame:
    """The candidate-pair dedup shared by the probe streams: unbounded
    `dropDuplicates` state by default (exactly-once pairs for the
    stream's lifetime), or -- when ``dedup_ttl`` is set (e.g.
    ``"1 hour"``) -- ingest-time-watermarked
    `dropDuplicatesWithinWatermark`, the documented at-scale form
    whose state is BOUNDED by the TTL. The trade is explicit: a pair
    re-arriving after its first sighting ages past the watermark is
    re-emitted (downstream consumers that aggregate per key are
    unaffected; exactly-once-per-pair consumers must keep the
    default). Ingest time is `current_timestamp()` -- stable within a
    micro-batch, the standard processing-time TTL pattern; batch
    (non-streaming) frames keep the plain dropDuplicates, since the
    watermark form is streaming-only."""
    if dedup_ttl is None or not cands.isStreaming:
        return cands.dropDuplicates(keys)
    return (
        cands.withColumn("_ingest_ts", F.current_timestamp())
        .withWatermark("_ingest_ts", dedup_ttl)
        .dropDuplicatesWithinWatermark(keys)
        .drop("_ingest_ts")
    )


def neardup_probe_stream(
    docs: DataFrame,
    index: DataFrame,
    threshold: float = 0.2,
    max_bucket_size: int = 1000,
    dedup_ttl: str | None = None,
) -> DataFrame:
    """Streaming near-dup detection: each arriving document probes the
    static band index (stream-STATIC join -- natively supported, no
    stream state) and verifies candidates with exact shingle Jaccard.

    Output: (doc_id, index_doc_id, jaccard) per verified hit. A doc
    colliding with an indexed doc in ANY band is a candidate;
    candidate pairs dedup BEFORE the Jaccard verify via streaming
    ``dropDuplicates`` -- cross-batch state, one entry per distinct
    candidate pair, which also makes each emitted pair exactly-once
    across the stream's lifetime. State grows with the candidate-pair
    count (band-collision-rate bounded); at scale pass ``dedup_ttl``
    (e.g. ``"1 hour"``) to switch to ingest-time-watermarked
    ``dropDuplicatesWithinWatermark`` -- state bounded by the TTL,
    with the re-emission trade documented on `_dedup_candidates`.
    Degenerate index buckets above the cap are skipped,
    mirroring the batch guard; the bucket sizes are recomputed over
    the index AT PROBE TIME (one count-agg on the static side, paid
    once per stream start) rather than read from the stored
    `_bucket_n` column -- identical for a one-shot index, and the
    only correct rule for an APPENDED index, where a bucket can
    cross the cap across build increments (r11,
    `append_curation_index`)."""
    from ..llmdata.dedup import DEFAULT_BAND_ROWS, DEFAULT_K, minhash_signature, shingles

    n_bands = DEFAULT_K // DEFAULT_BAND_ROWS
    sigs = minhash_signature(docs, DEFAULT_K)
    band_struct = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"sig_{b * DEFAULT_BAND_ROWS + r}")
                            for r in range(DEFAULT_BAND_ROWS)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    probe = sigs.select(
        "doc_id", F.explode(band_struct).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_hash")
    merged_n = index.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("_merged_bucket_n")
    )
    idx = (
        index.join(merged_n, ["band_idx", "band_hash"])
        .filter(F.col("_merged_bucket_n") <= max_bucket_size)
        .select(
            F.col("doc_id").alias("index_doc_id"),
            "band_idx",
            "band_hash",
            F.col("shingles").alias("index_shingles"),
        )
    )
    cands = _dedup_candidates(
        probe.join(idx, ["band_idx", "band_hash"])
        .filter(F.col("doc_id") != F.col("index_doc_id"))
        .select("doc_id", "index_doc_id", "index_shingles"),
        ["doc_id", "index_doc_id"],
        dedup_ttl,
    )
    sh = docs.select("doc_id", shingles(F.col("text")).alias("sh"))
    pair = cands.join(sh, "doc_id")
    inter = F.size(F.array_intersect("sh", "index_shingles")).cast("double")
    union = (F.size("sh") + F.size("index_shingles")).cast("double") - inter
    jac = F.round(inter / union, 6)
    return pair.select("doc_id", "index_doc_id", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def write_containment_index(docs: DataFrame, path: str, mode: str = "overwrite") -> str:
    """Persist the directed-containment artifacts the streaming probe
    joins against (r6; mirrors the batch `containment_pairs` fix):

    - ``{path}/postings``: the df-capped inverted shingle index
      (doc_id, sh_hash) from `dedup._bounded_postings` -- candidate
      generation side. At scale written bucketed by sh_hash so a
      probe's equi-join touches one bucket.
    - ``{path}/docs``: (doc_id, shi, n_sh) -- the xxhash64 shingle
      arrays + full distinct-shingle counts for the exact verify.
    - ``{path}/df`` (r11): the increment's FULL (sh_hash, df) table,
      including shingles the cap dropped from postings. This is what
      makes ``mode="append"`` EXACT: the stored postings are capped
      per increment (information about over-cap shingles is gone from
      them), but the df sidecar keeps every count, so a probe can
      apply the cap to the MERGED frequencies
      (`containment_probe_stream(df_index=...)`). The asymmetry is
      one-sided in exactly the safe direction: a row dropped at
      increment-build time had in-increment df > cap, hence merged
      df > cap, hence a one-shot rebuild drops it too -- nothing
      droppable is ever lost, and everything over-kept is filtered
      by the merged-df check. Sidecar is distinct-shingle-sized,
      far smaller than postings.

    Without the sidecar the df cap is computed over the indexed
    increment only; on corpora where no shingle crosses the cap --
    the non-template case -- stream and batch candidate rules
    coincide exactly either way (pinned by the parity test)."""
    from ..llmdata.dedup import (
        DEFAULT_MAX_BUCKET,
        _bounded_postings,
        _shingle_ints,
        _shingle_table,
    )

    _bounded_postings(docs, DEFAULT_MAX_BUCKET).select(
        "doc_id", "sh_hash"
    ).write.mode(mode).parquet(f"{path}/postings")
    (
        _shingle_ints(docs)
        .join(
            _shingle_table(docs).select("doc_id", F.size("sh").alias("n_sh")),
            "doc_id",
        )
        .write.mode(mode)
        .parquet(f"{path}/docs")
    )
    (
        _shingle_table(docs)
        .select(F.explode("sh").alias("_s"))
        .select(F.xxhash64("_s").alias("sh_hash"))
        .groupBy("sh_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .write.mode(mode)
        .parquet(f"{path}/df")
    )
    _write_index_fingerprint(docs.sparkSession, path, {"family": "containment"})
    return path


def containment_probe_stream(
    docs: DataFrame,
    postings: DataFrame,
    doc_index: DataFrame,
    threshold: float = 0.8,
    df_index: DataFrame | None = None,
    max_postings: int | None = None,
    dedup_ttl: str | None = None,
) -> DataFrame:
    """Streaming directed containment against a static corpus: each
    arriving document's shingle hashes probe the capped posting index
    (stream-STATIC equi-join, no stream state in candidate
    generation), candidates dedup exactly-once via cross-batch
    ``dropDuplicates`` (or, with ``dedup_ttl`` set, the
    ingest-time-watermarked TTL'd form whose state is bounded --
    `_dedup_candidates`), and the exact verify scores BOTH directions --
    (arriving ⊂ indexed): an excerpt/quote of a known page, and
    (indexed ⊂ arriving): an arriving page that swallows a known doc.

    Output rows mirror the batch `containment_pairs` shape:
    (contained_doc, container_doc, containment) with containment =
    |sh_a ∩ sh_b| / |sh_a| rounded to 6, thresholded. Assumes the
    stream and index id spaces are disjoint (the caller's contract,
    same as any cross-corpus join). Per-arrival work is bounded by
    n_sh x df_cap candidate rows -- a stream probe never needs the
    batch path's prefix filter, whose job is taming the corpus x
    corpus self-join.

    For an APPENDED index, pass ``df_index`` (the `{path}/df` sidecar
    written since r11): the df cap is then applied to the MERGED
    document frequencies (sum over increments per shingle), which
    makes append-then-probe equal rebuild-then-probe even when a
    shingle crosses the cap only across increments (pinned by
    test_containment_probe_merged_df_cap_across_appends). For a
    one-shot index the sidecar filter is a provable no-op (stored
    rows already have true df <= cap), so passing it is always
    safe."""
    from ..llmdata.dedup import DEFAULT_MAX_BUCKET, shingles

    max_postings = DEFAULT_MAX_BUCKET if max_postings is None else max_postings

    # Key-format guard (r7 advice): the persisted index key switched
    # md5 hex (string) -> xxhash64 (int64) in r7. Probing a
    # pre-switch index would join bigint against string and silently
    # yield ZERO candidates; fail loudly instead of drifting.
    key_type = postings.schema["sh_hash"].dataType
    if not isinstance(key_type, T.LongType):
        raise TypeError(
            f"containment_probe_stream: postings.sh_hash is {key_type}; "
            "expected bigint (xxhash64). The index at this path predates "
            "the r7 int64 key format -- rebuild it with "
            "write_containment_index."
        )
    idx_postings = postings.select(
        F.col("doc_id").alias("index_doc_id"), "sh_hash"
    )
    if df_index is not None:
        merged_df = (
            df_index.groupBy("sh_hash")
            .agg(F.sum("df").alias("_merged_df"))
            .filter(F.col("_merged_df") <= max_postings)
            .select("sh_hash")
        )
        idx_postings = idx_postings.join(merged_df, "sh_hash")
    probe = docs.select(
        "doc_id", F.explode(shingles(F.col("text"))).alias("_s")
    ).select("doc_id", F.xxhash64("_s").alias("sh_hash"))
    cands = _dedup_candidates(
        probe.join(
            idx_postings,
            "sh_hash",
        ).select("doc_id", "index_doc_id"),
        ["doc_id", "index_doc_id"],
        dedup_ttl,
    )
    stream_sh = docs.select(
        "doc_id",
        F.transform(shingles(F.col("text")), lambda s: F.xxhash64(s)).alias(
            "_shi_s"
        ),
    )
    pair = cands.join(stream_sh, "doc_id").join(
        doc_index.select(
            F.col("doc_id").alias("index_doc_id"),
            F.col("shi").alias("_shi_i"),
        ),
        "index_doc_id",
    )
    inter = F.size(F.array_intersect("_shi_s", "_shi_i")).cast("double")
    both = pair.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_id").alias("contained_doc"),
                    F.col("index_doc_id").alias("container_doc"),
                    F.round(inter / F.size("_shi_s"), 6).alias("containment"),
                ),
                F.struct(
                    F.col("index_doc_id").alias("contained_doc"),
                    F.col("doc_id").alias("container_doc"),
                    F.round(inter / F.size("_shi_i"), 6).alias("containment"),
                ),
            )
        ).alias("_dir")
    ).select("_dir.*")
    return both.filter(F.col("containment") >= threshold)


def write_eval_passage_index(
    docs: DataFrame, path: str, eval_source: str = "src0",
    mode: str = "overwrite",
) -> str:
    """Persist the benchmark's distinct passage-hash set -- the OFFLINE
    artifact the streaming contamination probe joins against (eval
    suites change rarely; rebuild on benchmark refresh, like the
    near-dup band index). ``mode="append"`` adds a delta's hashes
    (distinct WITHIN the delta; cross-increment duplicates are
    harmless because both probe modes are set-membership structures
    -- the exact mode builds a Python set, the Bloom mode ORs bits)."""
    from ..llmdata.text import RK_WINDOW, _token_codes, _window_hashes

    wh = _window_hashes(_token_codes(F.col("text")), RK_WINDOW)
    (
        docs.filter(F.col("source") == eval_source)
        .select(F.explode(wh).alias("passage_hash"))
        .distinct()
        .write.mode(mode)
        .parquet(path)
    )
    return path


# --- Bloom filter (streaming contamination gate's membership structure) ----
# Pure-numpy, double-hashing (Kirsch-Mitzenmacher: pos_i = h1 + i*h2),
# splitmix64-style mixing of the already-integer rolling hashes. Built
# DISTRIBUTEDLY: each partition ORs its bits locally (mapInPandas emits
# only the nonzero words), a bit_or aggregation merges them, and the
# driver materializes just the m/8-byte bitmap -- driver memory is the
# Bloom size, NOT the eval-set cardinality.

def _bloom_positions_kernel():
    """Self-contained position kernel (cloudpickled BY VALUE into
    worker closures -- executors do not have the repo on PYTHONPATH,
    so worker code must not reference this module by name)."""
    import numpy as np

    C1 = np.uint64(0xBF58476D1CE4E5B9)
    C2 = np.uint64(0x94D049BB133111EB)
    SALT = np.uint64(0x9E3779B97F4A7C15)

    def mix(x):
        x = x ^ (x >> np.uint64(30))
        x = x * C1
        x = x ^ (x >> np.uint64(27))
        x = x * C2
        return x ^ (x >> np.uint64(31))

    def positions(h, k, m_bits):
        """(k, n) bit positions for int64 hashes h (double hashing)."""
        x = np.asarray(h, dtype=np.int64).view(np.uint64)
        h1 = mix(x)
        h2 = mix(x ^ SALT) | np.uint64(1)
        i = np.arange(k, dtype=np.uint64).reshape(k, 1)
        return ((h1 + i * h2) % np.uint64(m_bits)).astype(np.int64)

    return positions


def _bloom_positions(h: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    return _bloom_positions_kernel()(h, k, m_bits)


def bloom_params(n_items: int, fpp: float) -> tuple[int, int]:
    """Standard sizing: m = -n ln(p)/ln(2)^2 bits, k = m/n ln(2)."""
    import math

    n = max(1, n_items)
    m_bits = max(64, int(math.ceil(-n * math.log(fpp) / math.log(2) ** 2)))
    m_bits = ((m_bits + 63) // 64) * 64
    k = max(1, round(m_bits / n * math.log(2)))
    return m_bits, k


def build_eval_bloom(
    eval_index: DataFrame, fpp: float = 1e-4, n_items: int | None = None
) -> dict:
    """Distributed Bloom build over the eval passage-hash set.

    Two jobs: a count (sizes the filter) and the bitmap aggregation.
    The aggregation ships only each partition's NONZERO words through
    one bit_or groupBy, so the exchange and the driver result are both
    bounded by m/8 bytes (~12 KB per 10k passages at fpp=1e-4) no
    matter how many passage hashes the benchmark suite holds."""
    if n_items is None:
        n_items = eval_index.count()
    m_bits, k = bloom_params(n_items, fpp)
    n_words = m_bits // 64
    positions = _bloom_positions_kernel()  # by-value for the workers

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        bits = np.zeros(n_words, dtype=np.uint64)
        for b in batches:
            h = b["passage_hash"].to_numpy(np.int64)
            if len(h):
                pos = positions(h, k, m_bits).ravel()
                np.bitwise_or.at(
                    bits, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64)
                )
        nz = np.nonzero(bits)[0]
        yield pd.DataFrame(
            {"idx": nz.astype("int64"), "word": bits[nz].view(np.int64)}
        )

    rows = (
        eval_index.select("passage_hash")
        .mapInPandas(part, "idx long, word long")
        .groupBy("idx")
        .agg(F.bit_or("word").alias("word"))
        .collect()
    )
    words = np.zeros(n_words, dtype=np.int64)
    for r in rows:
        words[r["idx"]] = r["word"]
    return {"words": words, "m_bits": m_bits, "k": k, "n_items": n_items}


def _bloom_contain_kernel():
    """Self-contained membership kernel (by-value, worker-safe)."""
    import numpy as np

    positions = _bloom_positions_kernel()

    def might_contain(bloom, h):
        """True iff all k bits set (no false negatives; FPs at ~fpp)."""
        if len(h) == 0:
            return np.zeros(0, dtype=bool)
        words = bloom["words"].view(np.uint64)
        pos = positions(np.asarray(h, dtype=np.int64), bloom["k"], bloom["m_bits"])
        hit = (words[pos >> 6] >> (pos & 63).astype(np.uint64)) & np.uint64(1)
        return hit.all(axis=0)

    return might_contain


def bloom_might_contain(bloom: dict, h: np.ndarray) -> np.ndarray:
    return _bloom_contain_kernel()(bloom, h)


def contamination_probe_stream(
    docs: DataFrame,
    eval_index: DataFrame,
    mode: str = "bloom",
    fpp: float = 1e-4,
) -> DataFrame:
    """Streaming contamination gate: every arriving document is scored
    against the eval passage-hash set before it can enter the
    training corpus.

    Deliberately STATELESS: an explode + stream-side groupBy would
    park every doc_id in the state store forever, so the membership
    structure is built once at plan-build time and shipped to an
    Arrow-batched kernel; the whole probe is a map stage in append
    mode with no shuffle and no state.

    ``mode="bloom"`` (default -- the shipped scale path): a
    distributed-built Bloom filter whose driver/executor footprint is
    the m/8-byte bitmap regardless of eval-set cardinality, shipped
    as a broadcast variable. Conservative-approximate: NEVER misses a
    real contaminated window, overcounts at ~fpp -- a flagged doc is
    quarantined for exact recheck (the batch contamination_check),
    so a false positive costs one recheck, never a dropped-clean or
    kept-contaminated doc. ``mode="exact"``: the collected hash set
    (bounded eval suites / parity tests with the batch path).

    Per-doc output matches the batch `contamination_check` columns,
    so downstream routing (quarantine vs ingest) is the same
    expression in both modes."""
    from pyspark.sql.functions import pandas_udf

    from ..llmdata.text import RK_WINDOW, _token_codes, _window_hashes

    if mode == "bloom":
        bloom = build_eval_bloom(eval_index, fpp=fpp)
        bc = docs.sparkSession.sparkContext.broadcast(bloom)
        might_contain = _bloom_contain_kernel()  # by-value for the workers

        @pandas_udf("long")
        def n_hits(whs: pd.Series) -> pd.Series:
            import numpy as np

            b = bc.value
            return whs.map(
                lambda arr: 0
                if arr is None
                else int(might_contain(b, np.asarray(arr, dtype=np.int64)).sum())
            ).astype("int64")

    elif mode == "exact":
        eval_hashes = frozenset(r["passage_hash"] for r in eval_index.collect())

        @pandas_udf("long")
        def n_hits(whs: pd.Series) -> pd.Series:
            s = eval_hashes
            return whs.map(
                lambda arr: 0 if arr is None else sum(1 for h in arr if h in s)
            ).astype("int64")

    else:
        raise ValueError(f"unknown mode {mode!r} (use 'bloom' or 'exact')")

    wh = _window_hashes(_token_codes(F.col("text")), RK_WINDOW)
    base = docs.select(
        "doc_id",
        F.size(wh).cast("long").alias("n_windows"),
        wh.alias("_wh"),
    )
    scored = base.select(
        "doc_id", "n_windows", n_hits("_wh").alias("n_contaminated")
    )
    return scored.select(
        "doc_id",
        "n_windows",
        "n_contaminated",
        F.round(
            F.when(
                F.col("n_windows") > 0,
                F.col("n_contaminated").cast("double")
                / F.col("n_windows").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("contamination_rate"),
        (F.col("n_contaminated") > 0).alias("is_contaminated"),
    )


def write_importance_index(
    docs: DataFrame, path: str, target_source: str = "src1"
) -> str:
    """Persist the DSIR rate table the streaming probe consumes
    (r8; mirrors the batch `curation.importance_weights` pipeline):
    one row per md5-prefix bucket with its quantized log-ratio, plus a
    1-row totals sidecar carrying (s_total, t_total) so the probe can
    derive the UNSEEN-bucket rate (a stream doc can hash features into
    buckets the index corpus never produced; Laplace smoothing gives
    those ln((S+256)/(T+256)), the ct=cs=0 case)."""
    from ..llmdata.curation import dsir_features, dsir_rates

    per_bucket = dsir_features(docs).groupBy("doc_id", "source", "fkey").agg(
        F.count(F.lit(1)).alias("c")
    )
    rates, totals = dsir_rates(per_bucket, target_source)
    rates.write.mode("overwrite").parquet(f"{path}/rates")
    totals.write.mode("overwrite").parquet(f"{path}/totals")
    return path


def importance_probe_stream(docs: DataFrame, rates: DataFrame, totals: DataFrame) -> DataFrame:
    """Streaming DSIR scoring: every arriving document gets its
    importance weight against the batch-built rate table -- the
    data-selection gate a streaming corpus builder applies at ingest.

    Shape: the 256-row rate table collapses to a MAP literal in the
    plan (a driver collect bounded at 256 rows by construction --
    the md5-prefix key space), so scoring is a PURE per-row
    expression: features -> bucket keys -> ordered DECIMAL fold of
    map lookups. No explode, no streaming aggregation, no state, no
    watermark -- append-mode-safe and identical in cost shape to the
    batch verify (at 100 TB/day this is a map-only stream). Unseen
    buckets fall back to the smoothed ct=cs=0 rate derived from the
    totals sidecar. Batch parity pinned in tests/test_streaming.py."""
    from decimal import Decimal

    from ..llmdata.text import tokens

    rate_rows = rates.collect()
    if len(rate_rows) > 256:
        raise ValueError("importance index has more than 256 buckets")
    tot = totals.collect()[0]
    import math

    default_r = Decimal(
        str(
            round(
                math.log(
                    (tot["s_total"] + 256.0) / (tot["t_total"] + 256.0)
                ),
                6,
            )
        )
    )
    pairs = []
    for row in rate_rows:
        pairs.append(F.lit(row["fkey"]))
        pairs.append(F.lit(row["r"]).cast("decimal(18,6)"))
    rate_map = F.create_map(*pairs)
    toks = tokens(F.col("text"))
    t2 = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(1)))
    bigrams = F.filter(
        F.zip_with(toks, t2, lambda a, b: F.concat(a, F.lit(" "), b)),
        lambda x: x.isNotNull(),
    )
    feats = F.concat(toks, bigrams)
    lookup = lambda f: F.coalesce(  # noqa: E731
        F.element_at(rate_map, F.substring(F.md5(f), 1, 2)),
        F.lit(default_r).cast("decimal(18,6)"),
    )
    # decimal addition widens precision (28,6)+(18,6) -> (29,6); the
    # fold's accumulator type is fixed, so cast back each step (exact:
    # |r| < 20, features/doc < 1e6 -- far inside 28,6)
    weight = F.aggregate(
        feats,
        F.lit(Decimal("0")).cast("decimal(28,6)"),
        lambda acc, f: (acc + lookup(f)).cast("decimal(28,6)"),
    )
    return docs.select(
        "doc_id",
        F.size(feats).cast("long").alias("n_features"),
        weight.cast("double").alias("importance_weight"),
    )


def write_bpe_merges(docs: DataFrame, path: str, n_merges: int = 8) -> str:
    """Persist the corpus-trained BPE merge table (rank, left, right,
    pair_count) -- the tokenizer artifact the streaming encoder
    applies (r8; the batch trainer is text.bpe_train)."""
    from ..llmdata.text import bpe_train

    bpe_train(docs, n_merges).write.mode("overwrite").parquet(path)
    return path


def bpe_encode_stream(docs: DataFrame, merges: DataFrame) -> DataFrame:
    """Streaming BPE tokenizer application: every arriving document is
    encoded against the persisted merge table -- the token-accounting
    gate a streaming corpus builder runs at ingest.

    Classic BPE encode of a single word IS the rank-ordered chain of
    its merge replaces, so the collected merge list (<= n_merges rows,
    a bounded driver decision like the probe map in
    `importance_probe_stream`) compiles into ONE per-token expression:
    wrap the word in the separator encoding, apply each merge as a
    literal replace in rank order, count the surviving segments.
    Stateless, join-free, append-mode-safe -- and byte-for-byte the
    same greedy leftmost application the batch trainer used, so
    batch<->stream parity is exact (pinned in tests/test_streaming.py
    against text.bpe_encode_stats)."""
    from ..llmdata.text import _BPE_SEP, tokens

    merge_rows = sorted(
        ((r["rank"], r["left"], r["right"]) for r in merges.collect())
    )

    def encode_one(tok):
        enc = F.regexp_replace(tok, "(.)", _BPE_SEP + "$1" + _BPE_SEP)
        for _, left, right in merge_rows:
            pat = _BPE_SEP + left + _BPE_SEP + _BPE_SEP + right + _BPE_SEP
            rep = _BPE_SEP + left + right + _BPE_SEP
            enc = F.replace(enc, F.lit(pat), F.lit(rep))
        return F.size(F.split(enc, _BPE_SEP + _BPE_SEP))

    toks = F.filter(
        tokens(F.col("text")),
        lambda w: ~w.contains(_BPE_SEP) & (F.length(w) > 0),
    )
    n_sub = F.aggregate(
        F.transform(toks, lambda w: encode_one(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_words = F.size(toks).cast("long")
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sub.alias("n_subwords"),
        F.round(n_sub.cast("double") / n_words, 6).alias(
            "avg_subwords_per_word"
        ),
    )


# --- streaming ANN: query vectors probing a batch-built LSH index ----------

EMBEDDINGS_STREAM_SCHEMA = "vec_id long, embedding array<float>, label int"


def stream_embeddings(spark: SparkSession, dir_path: str) -> DataFrame:
    """File-source replay of an embeddings directory (one file per
    micro-batch, like `stream_documents`)."""
    return (
        spark.readStream.schema(EMBEDDINGS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir_path)
    )


def write_ann_index(
    embeddings: DataFrame,
    path: str,
    bands: int = 32,
    rows_per_band: int = 10,
    dim: int | None = None,
    seed: int = 42,
    mode: str = "overwrite",
) -> str:
    """Persist the batch-built banded-LSH ANN index: the OFFLINE
    artifact streaming query vectors probe (same split as
    `write_neardup_index` -- the index is corpus-wide state and is
    batch-refreshed, never rebuilt per stream).

    Two artifacts, so the vector payload is stored ONCE per corpus
    vector instead of once per band row:
      ``path/bands`` -- (vec_id, band, sig), the equi-join side; at
      scale written partitioned by ``band`` and bucketed by ``sig`` so
      a probe touches one bucket.
      ``path/vecs`` -- (vec_id, label, vec<double>), the exact-verify
      side, joined only for deduped candidates.
    Signatures come from the same literal planes
    (`similarity.gaussian_planes`, same seed) as the batch
    `lsh_banded_topk` path, so stream and batch candidates coincide.
    Band and vector rows are per-vector facts with no corpus-wide
    state (the ANN path has no bucket cap), so a corpus delta appends
    exactly (``mode="append"``); the fingerprint re-stamps either way
    and a pinned running probe fails over (`ann_topk_batches`). An
    APPEND whose knobs disagree with the existing stamp refuses
    (`_require_append_knobs` -- it would hash the delta with
    different planes and then bless them in the re-stamp)."""
    from ..llmdata.similarity import (
        EMBEDDING_DIM,
        _band_sigs_udf,
        _dvec,
        gaussian_planes,
    )

    dim = EMBEDDING_DIM if dim is None else dim
    mode = mode.lower()  # writer modes are case-insensitive downstream
    if mode == "append":
        _require_append_knobs(
            embeddings.sparkSession,
            path,
            {"bands": bands, "rows_per_band": rows_per_band, "seed": seed},
            "write_ann_index",
            kind="ann",
            display="banded ANN",
            # dim parameterizes the planes too; stamped since r17,
            # checked when present (r17 second review)
            optional_knobs={"dim": dim},
        )
        # a retried delta must not land twice: the vecs join
        # re-multiplies a duplicated corpus row after candidate dedup
        # and it occupies two consecutive top-k slots (r17 third
        # review). Unlike write_semantic_index -- whose duplicates are
        # provably benign (candidate-pair dedup + MIN aggregate) and
        # whose replay tolerance the curation append recovery relies
        # on -- the standalone ANN root has no replay story to keep.
        from pyspark.errors import AnalysisException

        try:
            existing = embeddings.sparkSession.read.parquet(path + "/vecs")
        except AnalysisException:
            existing = None  # fresh root: generation 0 appends cleanly
        if existing is not None:
            _require_disjoint_delta(
                embeddings.select("vec_id"), existing, "write_ann_index"
            )
    planes = gaussian_planes(bands * rows_per_band, dim, seed)
    sig_udf = _band_sigs_udf(planes, bands, rows_per_band)
    # vecs lands FIRST because it is the directory the retried-delta
    # guard above reads: with bands-first, a crash between the two
    # writes leaves a delta whose vec_ids are absent from vecs, so a
    # retry of the SAME delta passes the guard and double-appends
    # bands -- the exact torn state the guard exists to refuse,
    # surfacing only later as a _require_band_ratio rebuild (r17
    # ADVICE). Vecs-first, the retry of a partially-landed delta
    # refuses at append time.
    (
        embeddings.select(
            "vec_id", "label", _dvec("embedding").alias("vec")
        )
        .write.mode(mode)
        .parquet(path + "/vecs")
    )
    (
        embeddings.select("vec_id", sig_udf("embedding").alias("sigs"))
        .select("vec_id", F.posexplode("sigs").alias("band", "sig"))
        .write.mode(mode)
        .parquet(path + "/bands")
    )
    _write_index_fingerprint(
        embeddings.sparkSession, path,
        {"kind": "ann", "bands": bands,
         "rows_per_band": rows_per_band, "seed": seed, "dim": dim},
    )
    return path


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_lists: int = 8,
    kmeans_iterations: int = 3,
) -> str:
    """Persist the IVF (inverted-file) ANN artifact the streaming
    probe reads -- the cell-partitioned sibling of `write_ann_index`,
    giving the serving family the faiss-style nprobe trade
    (`similarity.ivf_topk`'s knobs) online:

      ``path/cells`` -- (vec_id, label, vec), written PARTITIONED BY
      the k-means cluster id, so a probe's scan prunes to its
      n_probe cell directories (the BM25 term-bucket layout applied
      to vector cells -- at 100 TB the cluster id is the partition
      key and a probe touches n_probe partitions, never the corpus).
      ``path/centroids`` -- (cluster, centroid), the k tiny rows a
      batch ranks to choose its cells; per-cluster means of the FINAL
      assignment, the same frame `similarity.ivf_topk` computes
      in-flight (shared rule, so stream and batch probe the same
      cells).

    The assignment bakes the build knobs in (same argument as the
    split index), so n_lists / kmeans_iterations are stamped into the
    fingerprint. A corpus delta appends exactly under the FROZEN
    stored centroids (`append_ivf_index` -- the cell of a vector is a
    per-row fact given the means); what moves the means -- reTRAINING
    -- is a rebuild + nonce re-stamp, failing over pinned probe
    streams by the family rule.

    Reference parity: the probe over this artifact reproduces
    `similarity.ivf_topk`'s multi-probe ranking through the SHARED
    `ivf_centroids` / `ivf_probe_rank` / `ivf_exact_rank` rules (see
    `ivf_topk_batches`)."""
    from ..llmdata.similarity import _dvec, ivf_centroids, kmeans_assign

    spark = embeddings.sparkSession
    assigned = kmeans_assign(
        embeddings, k=n_lists, iterations=kmeans_iterations
    )
    cells = embeddings.select(
        "vec_id", "label", _dvec("embedding").alias("vec")
    ).join(assigned, "vec_id")
    _write_pieces(path, "ivf", (cells,), "overwrite")
    written = spark.read.parquet(path + "/cells")
    ivf_centroids(written).coalesce(1).write.mode("overwrite").parquet(
        path + "/centroids"
    )
    _write_index_fingerprint(
        spark,
        path,
        {
            "kind": "ivf",
            "n_lists": n_lists,
            "kmeans_iterations": kmeans_iterations,
        },
    )
    return path


def ivf_topk_batches(
    queries: DataFrame,
    index_cells: DataFrame,
    index_centroids: DataFrame,
    out_path: str,
    k: int = 10,
    n_probe: int = 2,
    checkpoint: str | None = None,
    index_path: str | None = None,
    expected_fingerprint: str | None = None,
    exclude_self: bool = True,
):
    """Streaming IVF top-k: each arriving query vector ranks the k
    stored centroids (broadcast, tiny), probes its ``n_probe``
    nearest cells, and exact-scores ONLY those cells' vectors -- the
    online form of `similarity.ivf_topk`, candidate set ~
    n_probe/n_lists of the corpus where the brute-force
    `_dense_cosine_topk` path scans everything.

    Probe rule = the batch multi-probe branch through the SHARED
    helpers (`similarity.ivf_probe_rank` / `ivf_exact_rank`, defined
    once -- the `_dense_cosine_topk` discipline): squared distance to
    the final-assignment means, (d2, cluster) tie order, (cos DESC,
    vec_id) rank ties -- at n_probe >= 2 the output equals `ivf_topk`
    for corpus-replayed queries (pinned on the fixture). Caveat the
    claim rests on (r15 review): the stored centroids are float means
    materialized by the WRITER's execution, while the batch computes
    them in-flight -- ULP-level summation-order differences between
    the two physical plans can flip a probe only for a query
    near-equidistant between its n_probe-th and (n_probe+1)-th cells,
    the same margin argument the kmeans oracle pairing rests on; the
    result either way is a valid IVF probe at the same budget. The
    n_probe=1 delta is documented: the batch path sends a corpus
    query to its STORED cell (assigned under the last Lloyd
    iteration's pre-update centroids), which an external query does
    not have -- the serving rule is nearest FINAL centroid, the
    canonical IVF probe.

    Scale: the probed clusters are a bounded driver artifact
    (<= n_lists ints) turned into a literal IN against the
    cluster-partitioned cells -- static partition pruning, the BM25
    term-bucket idiom -- and the per-query probe frame broadcasts.
    ``exclude_self`` as in `_dense_cosine_topk` (True for
    corpus-replay parity, False for external request ids)."""
    check, _ = _pin_kind(
        queries.sparkSession, index_path, expected_fingerprint,
        "ivf", "IVF", "ivf_topk_batches",
    )
    _centroid_count(index_centroids, "ivf_topk_batches")
    return _serve_batches(
        queries, out_path, checkpoint, [check],
        lambda batch, _epoch: _ivf_ranked_plan(
            batch, index_cells, index_centroids, k, n_probe, exclude_self
        ),
    )


def write_pq_index(
    embeddings: DataFrame,
    path: str,
    n_subspaces: int = 8,
    n_codes: int = 16,
    iterations: int = 3,
    dim: int | None = None,
) -> str:
    """Persist the product-quantization artifact -- the RAM-bound
    billion-vector member of the serving-index family (LSH bands /
    brute vecs / IVF cells / now PQ codes):

      ``path/codes`` -- (vec_id, label, codes array<int>): the scan
      side, ~n_subspaces bytes per vector vs dim*8 raw. EVERY probe
      reads only this.
      ``path/vecs`` -- (vec_id, v): the unit float vectors, read only
      for the per-query shortlist's exact re-rank.
      ``path/codebooks`` -- (s, code, centroid): the trained model,
      n_subspaces x n_codes tiny rows the probe turns into per-query
      lookup tables.

    Training is `similarity.pq_encode` (sorted-fold means --
    deterministic in partitioning). A corpus delta appends EXACTLY by
    encoding with the FROZEN codebooks (`append_pq_index` -- the
    standard faiss add-with-trained-index practice: codes are per-doc
    facts given the model); reTRAINING the model is a rebuild. Knobs
    stamp into the fingerprint."""
    from ..llmdata.similarity import EMBEDDING_DIM, pq_encode

    dim = EMBEDDING_DIM if dim is None else dim
    spark = embeddings.sparkSession
    encoded, codebooks = pq_encode(
        embeddings, n_subspaces, n_codes, iterations, dim
    )
    _write_pieces(
        path, "pq",
        (encoded.select("vec_id", "label", "codes"),
         encoded.select("vec_id", "v")),
        "overwrite",
    )
    rows = [(s, c, cb) for s, book in enumerate(codebooks)
            for c, cb in enumerate(book)]
    spark.createDataFrame(
        rows, "s int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path + "/codebooks")
    _write_index_fingerprint(
        spark,
        path,
        {
            "kind": "pq",
            "n_subspaces": n_subspaces,
            "n_codes": n_codes,
            "iterations": iterations,
        },
    )
    return path


def append_pq_index(embeddings: DataFrame, path: str) -> str:
    """Fold an embedding delta into an existing `write_pq_index` root
    by encoding the new vectors with the FROZEN stored codebooks --
    the faiss add-with-trained-index practice. Given the model, a
    vector's codes are per-row facts (`similarity.pq_code_col`, the
    same `_pq_assign_col` arithmetic `pq_encode` assigns with), so
    append-then-probe equals a rebuild that encodes the merged corpus
    under the SAME codebooks, row-for-row (pinned by
    tests/test_streaming.py::test_streaming_pq_append_equals_frozen_model_rebuild);
    what an append deliberately does NOT do is retrain -- the model
    drifts from the corpus it summarizes as deltas accumulate, and the
    periodic retrain is a rebuild (the LSM-refresh story, same as IVF).
    Protocol and guards: `_append_delta`; a codebooks/fingerprint
    subspace-count disagreement additionally refuses (a mixed
    artifact would encode deltas under a different rule than the
    stored codes)."""
    from ..llmdata.similarity import pq_code_col

    def kernel(spark, fp, caller):
        books = _load_codebooks(
            spark.read.parquet(path + "/codebooks"), fp, caller
        )

        return len(books) * len(books[0][0]), lambda new: (
            new.select("vec_id", "label", pq_code_col(books).alias("codes")),
            new.select("vec_id", "v"),
        )

    return _append_delta(
        embeddings, path, "pq", "PQ", "append_pq_index", kernel
    )


def pq_topk_batches(
    queries: DataFrame,
    index_codes: DataFrame,
    index_vecs: DataFrame,
    index_codebooks: DataFrame,
    out_path: str,
    k: int = 5,
    shortlist: int | None = None,
    checkpoint: str | None = None,
    index_path: str | None = None,
    expected_fingerprint: str | None = None,
    exclude_self: bool = True,
):
    """Streaming PQ top-k (shortlist-then-rerank): each arriving query
    vector gets a per-query ADC lookup table computed driver-side
    from the stored codebooks (the SAME `similarity.pq_lut` Python
    arithmetic the batch `pq_topk` bakes into literals -- shared, so
    the two paths' ADC scores are bit-equal), shipped as broadcast
    rows; the codes scan sums n_subspaces table lookups per (vector,
    query) in written subspace order (`pq_adc_dist`, shared); the
    per-query shortlist joins `vecs` for the exact re-rank
    (`pq_shortlist_rerank`, shared) -- so for corpus-replayed queries
    the output equals the batch operator row-for-row (pinned), and
    NO float vector outside the shortlist is ever read.

    Bounded driver work per batch: the arriving queries collect
    (micro-batch-sized, the serving analog of the batch path's
    driver-side query collection) and each costs n_subspaces x
    n_codes x d_sub float ops for its table. ``shortlist`` defaults
    to the batch rule max(8k, corpus/8) via one count on the codes
    artifact at construction."""
    check, _ = _pin_kind(
        queries.sparkSession, index_path, expected_fingerprint,
        "pq", "PQ", "pq_topk_batches",
    )
    codebooks = _load_codebooks(index_codebooks)
    n_corpus = _require_untorn(
        index_codes, index_vecs, "codes", "pq_topk_batches"
    )
    if shortlist is None:
        shortlist = max(8 * k, n_corpus // 8)
    return _serve_batches(
        queries, out_path, checkpoint, [check],
        lambda batch, _epoch: _ivfpq_ranked_plan(
            batch, index_codes, index_vecs, codebooks, None, k, None,
            shortlist, exclude_self,
        ),
    )


def write_matryoshka_index(
    embeddings: DataFrame, path: str, probe_dim: int = 16
) -> str:
    """Persist the truncated-width (matryoshka) serving artifact --
    the physical form of the budget `similarity.matryoshka_recall`
    evaluates: the evaluator says which prefix width is safe, this
    index SERVES at that width.

      ``path/prefixes`` -- (vec_id, label, vp): the first
        ``probe_dim`` dims of each unit vector, the SCAN side. The
        byte win is structural, not a runtime projection: parquet
        cannot partially read an array column, so the prefix lives in
        its own artifact and a probe reads probe_dim/dim of the float
        bytes by construction.
      ``path/vecs`` -- (vec_id, v): full-width unit vectors, read
        only for the per-query shortlist's exact re-rank.

    Serving is the PQ pattern with prefix-cosine as the coarse score
    (`matryoshka_topk_batches` reuses `pq_shortlist_rerank`
    verbatim). Prefixes are sliced from the UNIT vector -- cosine is
    invariant to the per-vector positive rescale, so the prefix
    ranking is the truncated-embedding ranking the evaluator
    measures, while dot-on-unit == cosine keeps the shared rerank
    tail exact. There is NO trained model here, so appends are exact
    with no premise at all (`append_matryoshka_index` -- prefixes are
    per-row facts, period); probe_dim stamps into the fingerprint."""
    from ..llmdata.similarity import _dvec, _normalize

    spark = embeddings.sparkSession
    unit = embeddings.select(
        "vec_id", "label", _normalize(_dvec("embedding")).alias("v")
    ).persist()
    try:
        if unit.isEmpty():
            # refuse (the pq_encode rule): an empty build would stamp a
            # valid root whose appends/probes then die on a bare
            # first()=None TypeError instead of a distinct message
            raise ValueError("write_matryoshka_index: empty embeddings input")
        # knob guards (the quant bits rule): probe_dim < 1 slices an
        # EMPTY prefix whose cosine is NULL for every row -- the
        # shortlist degenerates to lowest-vec_id, silently wrong;
        # probe_dim > dim silently stores full-width vectors,
        # negating the byte win the artifact exists for (== dim is
        # legitimate: the brute-force collapse)
        dim = len(unit.select("v").first()["v"])
        if not 1 <= probe_dim <= dim:
            raise ValueError(
                f"write_matryoshka_index: probe_dim={probe_dim} out of "
                f"range [1, {dim}] for this corpus's vector width"
            )
        _write_pieces(
            path, "matryoshka",
            (unit.select("vec_id", "label",
                         F.slice("v", 1, probe_dim).alias("vp")),
             unit.select("vec_id", "v")),
            "overwrite",
        )
    finally:
        unit.unpersist()
    _write_index_fingerprint(
        spark, path, {"kind": "matryoshka", "probe_dim": probe_dim}
    )
    return path


def append_matryoshka_index(embeddings: DataFrame, path: str) -> str:
    """Fold an embedding delta into a `write_matryoshka_index` root.
    The family's simplest append: there is no model to freeze --
    a vector's unit form and its prefix are per-row facts -- so
    append-then-probe equals rebuild-then-probe with NO premise (the
    BM25 class, not the frozen-model class). Protocol and guards:
    `_append_delta`; the width comes from the stored vecs."""

    def kernel(spark, fp, caller):
        probe_dim = int(fp["probe_dim"])
        dim = _stored_dim(
            spark.read.parquet(path + "/vecs"), "v", "vecs", caller
        )

        return dim, lambda new: (
            new.select("vec_id", "label",
                       F.slice("v", 1, probe_dim).alias("vp")),
            new.select("vec_id", "v"),
        )

    return _append_delta(
        embeddings, path, "matryoshka", "matryoshka",
        "append_matryoshka_index", kernel,
    )


def matryoshka_topk_batches(
    queries: DataFrame,
    index_prefixes: DataFrame,
    index_vecs: DataFrame,
    out_path: str,
    k: int = 5,
    shortlist: int | None = None,
    checkpoint: str | None = None,
    index_path: str | None = None,
    expected_fingerprint: str | None = None,
    exclude_self: bool = True,
):
    """Streaming truncated-width top-k (prefix-shortlist-then-rerank):
    each arriving query is scored against the prefix artifact by
    prefix-cosine (the scan reads probe_dim/dim of the float bytes by
    construction -- the matryoshka budget made physical), the
    per-query shortlist joins the full-width vectors, and the exact
    re-rank runs through `pq_shortlist_rerank` VERBATIM -- the PQ
    serving pattern with prefix-cosine as the coarse score instead of
    ADC (coarse score rides the `_adc` column negated, so (_adc ASC,
    vec_id) == (prefix_cos DESC, vec_id)).

    Pinned against a pure-Python recompute of the cascade at
    probe_dim=16, and at probe_dim == dim (prefix == full vector) the
    cascade collapses to exact brute-force -- pinned against the same
    recompute at full width. The probe width is fixed at WRITE time
    (the artifact is the prefix); the recall the width buys is what
    `emb_matryoshka_recall` measures, and the shortlist+rerank
    recovers most of what raw truncation loses (measured in
    PLANS.md). Default ``shortlist`` = the family's corpus/8 budget.
    When ``index_path`` is pinned its STAMPED probe_dim is
    authoritative (`_require_stamped_probe_dim`); the pin is verified
    before any frame I/O, so a stale pin refuses with the family
    message, never FAILED_READ_FILE."""
    check, fp = _pin_kind(
        queries.sparkSession, index_path, expected_fingerprint,
        "matryoshka", "matryoshka", "matryoshka_topk_batches",
    )
    probe_dim = _stored_dim(
        index_prefixes, "vp", "prefixes", "matryoshka_topk_batches"
    )
    if fp is not None:
        # frames are caller-supplied, so same_root=False keeps the
        # frame/path-mismatch message
        probe_dim = _require_stamped_probe_dim(
            fp, index_path, probe_dim, "matryoshka_topk_batches", False
        )
    n_corpus = _require_untorn(
        index_prefixes, index_vecs, "prefixes", "matryoshka_topk_batches"
    )
    if shortlist is None:
        shortlist = max(8 * k, n_corpus // 8)
    return _serve_batches(
        queries, out_path, checkpoint, [check],
        lambda batch, _epoch: _ivfmat_ranked_plan(
            batch, index_prefixes, index_vecs, None, probe_dim, k, None,
            shortlist, exclude_self,
        ),
    )


def write_quant_index(
    embeddings: DataFrame, path: str, bits: int = 8
) -> str:
    """Persist the symmetric b-bit quantized serving artifact -- the
    precision axis of the representation-budget trio (width =
    `write_matryoshka_index`, product codes = `write_pq_index`,
    precision = this), the physical form of the budget
    `similarity.quant_recall` evaluates:

      ``path/codes`` -- (vec_id, label, q array<tinyint>): the scan
        side, one byte-class code per dimension (vs 8 for the float)
        via the SHARED `_quant_code_vectors` rule -- per-vector
        amax/max_code scale, banker's rounding, the exact arithmetic
        the evaluator ranks with. Cosine is invariant to the
        per-vector positive rescale, so ranking by cosine against the
        code vector IS ranking against the dequantized
        reconstruction; the query side stays float (no query
        quantization loss -- a documented delta from the evaluator's
        corpus-replayed code-vs-code form, which the parity pin's
        pure-Python recompute covers).
      ``path/vecs`` -- (vec_id, v): full-precision unit vectors, read
        only for the per-query shortlist's exact re-rank.

    Like matryoshka there is NO trained model -- a vector's codes are
    per-row facts -- so `append_quant_index` is exact with no premise.
    ``bits`` stamps into the fingerprint."""
    from ..llmdata.similarity import _dvec, _normalize

    spark = embeddings.sparkSession
    if not 2 <= bits <= 8:
        # codes are stored as tinyint: bits > 8 would WRAP under
        # Spark's non-ANSI cast (2047 -> -1) and the coarse ranking
        # would silently collapse; bits < 2 has max_code = 0 (a
        # divide-by-zero scale). Refuse the knob loudly.
        raise ValueError(
            f"write_quant_index: bits={bits} out of range [2, 8] -- "
            "codes are stored as tinyint, so wider codes would wrap "
            "silently"
        )
    max_code = (1 << (bits - 1)) - 1
    # persisted: the codes and vecs writes both consume the source
    # plan (the bpairs lesson)
    src = embeddings.select("vec_id", "label", "embedding").persist()
    try:
        if src.isEmpty():
            raise ValueError("write_quant_index: empty embeddings input")
        _write_pieces(
            path, "quant",
            (_quant_tinyint_codes(src, max_code),
             src.select("vec_id", _normalize(_dvec("embedding")).alias("v"))),
            "overwrite",
        )
    finally:
        src.unpersist()
    _write_index_fingerprint(
        spark, path, {"kind": "quant", "bits": bits}
    )
    return path


def append_quant_index(embeddings: DataFrame, path: str) -> str:
    """Fold an embedding delta into a `write_quant_index` root.
    Premise-free like the matryoshka append: the per-vector scale and
    codes are per-row facts (`_quant_code_vectors` touches nothing
    corpus-wide), so append-then-probe equals rebuild-then-probe with
    NO premise. Codes use the STAMPED bits; protocol and guards:
    `_append_delta`."""

    def kernel(spark, fp, caller):
        max_code = (1 << (int(fp["bits"]) - 1)) - 1
        dim = _stored_dim(
            spark.read.parquet(path + "/vecs"), "v", "vecs", caller
        )
        return dim, lambda new: (
            _quant_tinyint_codes(new.drop("v"), max_code),
            new.select("vec_id", "v"),
        )

    return _append_delta(
        embeddings, path, "quant", "quant", "append_quant_index", kernel
    )


def quant_topk_batches(
    queries: DataFrame,
    index_codes: DataFrame,
    index_vecs: DataFrame,
    out_path: str,
    k: int = 5,
    shortlist: int | None = None,
    checkpoint: str | None = None,
    index_path: str | None = None,
    expected_fingerprint: str | None = None,
    exclude_self: bool = True,
):
    """Streaming b-bit quantized top-k (code-cosine shortlist + exact
    rerank): arriving queries score the byte-code artifact by cosine
    against the code vectors (one byte-class per dim read instead of
    eight -- the precision budget made physical; integer products are
    exact in double), the per-query shortlist joins the float store,
    and the exact re-rank is `pq_shortlist_rerank` VERBATIM with the
    negated code-cosine riding `_adc` (the matryoshka pattern with
    precision instead of width as the coarse budget).

    Pinned against a pure-Python recompute of the cascade at b=8 and
    b=2 (the evaluator's near-lossless and provably-lossy rungs --
    same exactness either way, different recall, which
    `emb_quant_recall` measures). Default ``shortlist`` = the
    family's corpus/8 budget."""
    check, _ = _pin_kind(
        queries.sparkSession, index_path, expected_fingerprint,
        "quant", "quant", "quant_topk_batches",
    )
    n_corpus = _require_untorn(
        index_codes, index_vecs, "codes", "quant_topk_batches"
    )
    if shortlist is None:
        shortlist = max(8 * k, n_corpus // 8)
    return _serve_batches(
        queries, out_path, checkpoint, [check],
        lambda batch, _epoch: _ivfquant_ranked_plan(
            batch, index_codes, index_vecs, None, k, None, shortlist,
            exclude_self,
        ),
    )


def write_ivf_matryoshka_index(
    embeddings: DataFrame,
    path: str,
    n_lists: int = 8,
    kmeans_iterations: int = 3,
    probe_dim: int = 16,
) -> str:
    """Persist the IVF x matryoshka composed serving artifact (r15
    verdict item 6): the matryoshka coarse stage is a full-corpus scan
    whose win is BYTES (probe_dim/dim of the floats); laying the
    prefixes under `write_ivf_index`'s cluster-partitioned layout
    MULTIPLIES the two budgets -- a probe scans ~n_probe/n_lists of
    the partitions AND probe_dim/dim of the bytes in them, the same
    composition `write_ivfpq_index` proved for product codes.

      ``path/cells``     -- (vec_id, label, vp) PARTITIONED BY the
                            k-means cluster: a probe reads n_probe
                            cell dirs of probe_dim-float prefixes.
      ``path/vecs``      -- (vec_id, v): full-width unit vectors,
                            read only for the shortlist's exact
                            re-rank.
      ``path/centroids`` -- (cluster, centroid): RAW-space means of
                            the final assignment (`ivf_centroids` --
                            the IVF family's shared probe rule).

    Rules are the two constituents' VERBATIM: the cell comes from
    `kmeans_assign`'s final-iteration assignment over the raw vectors
    (appends assign to the nearest FINAL centroid -- the
    `append_ivf_index` frozen-model premise); the prefix is a slice
    of the UNIT vector (a per-row fact -- the matryoshka premise), so
    an append freezes ONLY the centroids. n_lists /
    kmeans_iterations / probe_dim stamp into the fingerprint."""
    from ..llmdata.similarity import (
        _dvec,
        _normalize,
        ivf_centroids,
        kmeans_assign,
    )

    spark = embeddings.sparkSession
    src = embeddings.select(
        "vec_id",
        "label",
        "embedding",
        _normalize(_dvec("embedding")).alias("v"),
    ).persist()
    try:
        if src.isEmpty():
            raise ValueError(
                "write_ivf_matryoshka_index: empty embeddings input"
            )
        dim = len(src.select("v").first()["v"])
        if not 1 <= probe_dim <= dim:
            # the write_matryoshka_index knob guard
            raise ValueError(
                f"write_ivf_matryoshka_index: probe_dim={probe_dim} out "
                f"of range [1, {dim}] for this corpus's vector width"
            )
        assigned = src.join(
            kmeans_assign(embeddings, k=n_lists, iterations=kmeans_iterations),
            "vec_id",
        ).persist()
        try:
            _write_pieces(
                path, "ivfmat",
                (assigned.select("vec_id", "label",
                                 F.slice("v", 1, probe_dim).alias("vp"),
                                 "cluster"),
                 assigned.select("vec_id", "v")),
                "overwrite",
            )
            ivf_centroids(
                assigned.select(
                    "vec_id", _dvec("embedding").alias("vec"), "cluster"
                )
            ).coalesce(1).write.mode("overwrite").parquet(
                path + "/centroids"
            )
        finally:
            assigned.unpersist()
    finally:
        src.unpersist()
    _write_index_fingerprint(
        spark,
        path,
        {
            "kind": "ivfmat",
            "n_lists": n_lists,
            "kmeans_iterations": kmeans_iterations,
            "probe_dim": probe_dim,
        },
    )
    return path


def append_ivf_matryoshka_index(embeddings: DataFrame, path: str) -> str:
    """Fold an embedding delta into a `write_ivf_matryoshka_index`
    root: the cell is the nearest stored FINAL centroid
    (`_frozen_cells` -- the `append_ivf_index` rule and its
    documented boundary-assignment delta vs a rebuild), the prefix is
    a per-row fact (the matryoshka premise) -- so the ONLY frozen
    model is the centroids, and the means drift as deltas accumulate
    exactly as for IVF (retrain = rebuild, the LSM-refresh story).
    Protocol and guards: `_append_delta`; empty centroids refuse via
    `_stored_dim`."""

    def kernel(spark, fp, caller):
        probe_dim = int(fp["probe_dim"])
        cents = spark.read.parquet(path + "/centroids")
        dim = _stored_dim(cents, "centroid", "centroids", caller)

        return dim, lambda new: (
            _frozen_cells(new, cents).select(
                "vec_id", "label",
                F.slice("v", 1, probe_dim).alias("vp"), "cluster",
            ),
            new.select("vec_id", "v"),
        )

    return _append_delta(
        embeddings, path, "ivfmat", "IVF-matryoshka",
        "append_ivf_matryoshka_index", kernel,
    )


def ivf_matryoshka_topk_batches(
    queries: DataFrame,
    index_cells: DataFrame,
    index_vecs: DataFrame,
    index_centroids: DataFrame,
    out_path: str,
    k: int = 5,
    n_probe: int = 2,
    shortlist: int | None = None,
    checkpoint: str | None = None,
    index_path: str | None = None,
    expected_fingerprint: str | None = None,
    exclude_self: bool = True,
):
    """Streaming IVF x matryoshka top-k: each arriving query ranks the
    coarse centroids and probes its ``n_probe`` cells
    (`ivf_probe_rank`, RAW space -- the IVF family's shared rule),
    prefix-cosine-scores ONLY those cells' probe_dim-float prefixes
    (the matryoshka coarse score, riding `_adc` negated), and
    exact-reranks the shortlist from the float store
    (`pq_shortlist_rerank` VERBATIM). Every stage is the respective
    family member's code, so the two collapse pins come for free:

      - at ``n_probe == n_lists`` the candidate set is the whole
        corpus and the output equals `matryoshka_topk_batches` over a
        plain matryoshka artifact at the same probe_dim, row-for-row;
      - at ``probe_dim == dim`` AND ``n_probe == n_lists`` the
        cascade collapses to exact brute-force.

    Scale: the probed clusters are a bounded literal IN against the
    cluster-partitioned cells (static partition pruning, the
    `ivfpq_topk_batches` observation), the surviving scan reads
    probe_dim/dim of the float bytes by construction, and the float
    store serves only the shortlist join -- the two budgets multiply.
    Default ``shortlist`` = the IVF-PQ rule
    max(8k, corpus * n_probe / (8 * n_lists)). The probe width comes
    from the STAMPED fingerprint when ``index_path`` is pinned
    (refusing a frame/path mismatch -- see
    `matryoshka_topk_batches`)."""
    check, fp = _pin_kind(
        queries.sparkSession, index_path, expected_fingerprint,
        "ivfmat", "IVF-matryoshka", "ivf_matryoshka_topk_batches",
    )
    probe_dim = _stored_dim(
        index_cells, "vp", "cells", "ivf_matryoshka_topk_batches"
    )
    if fp is not None:
        probe_dim = _require_stamped_probe_dim(
            fp, index_path, probe_dim, "ivf_matryoshka_topk_batches", False
        )
    n_lists = _centroid_count(index_centroids, "ivf_matryoshka_topk_batches")
    n_corpus = _require_untorn(
        index_cells, index_vecs, "cells", "ivf_matryoshka_topk_batches"
    )
    if shortlist is None:
        shortlist = max(8 * k, n_corpus * n_probe // (8 * n_lists))
    return _serve_batches(
        queries, out_path, checkpoint, [check],
        lambda batch, _epoch: _ivfmat_ranked_plan(
            batch, index_cells, index_vecs, index_centroids, probe_dim,
            k, n_probe, shortlist, exclude_self,
        ),
    )


def _ivfmat_ranked_plan(
    batch: DataFrame,
    index_cells: DataFrame,
    index_vecs: DataFrame,
    index_centroids: DataFrame | None,
    probe_dim: int,
    k: int,
    n_probe: int | None,
    shortlist: int,
    exclude_self: bool,
):
    """The per-batch (IVF x) matryoshka ranking, I/O-free: (ranked_df,
    cleanup) for arriving (vec_id, embedding) rows against in-memory
    artifact frames -- the prefix-cosine coarse score through the
    shared `_ivf_cascade_ranked_plan` scaffold, so the dense-retriever
    dispatch (`_ann_dense_retriever`) and the probe sinks consume ONE
    plan. ``index_centroids=None`` is the flat matryoshka kind (full
    prefix scan)."""
    from ..llmdata.similarity import _dvec, _normalize, cosine

    qdf = batch.select(
        F.col("vec_id").alias("query_id"),
        _normalize(_dvec("embedding")).alias("_qv"),
    ).withColumn("_qp", F.slice(F.col("_qv"), 1, probe_dim))
    return _ivf_cascade_ranked_plan(
        batch, index_cells, index_vecs, index_centroids,
        k, n_probe, shortlist, exclude_self, qdf,
        -cosine(F.col("_qp"), F.col("vp")),
    )


def write_ivf_quant_index(
    embeddings: DataFrame,
    path: str,
    n_lists: int = 8,
    kmeans_iterations: int = 3,
    bits: int = 8,
) -> str:
    """Persist the IVF x quant composed serving artifact -- the third
    multiplied budget pair, completing the family (IVF x PQ in r15,
    IVF x matryoshka in r16): the b-bit coarse scan's win is BYTES
    (one byte-class code per dim instead of eight), and laying the
    codes under `write_ivf_index`'s cluster-partitioned layout adds
    cell pruning on top -- a probe scans ~n_probe/n_lists of the
    partitions AND ~1/8 of the bytes in them.

      ``path/cells``     -- (vec_id, label, q array<tinyint>)
                            PARTITIONED BY the k-means cluster; codes
                            from the SHARED `_quant_code_vectors`
                            rule (per-vector amax/max_code scale,
                            banker's rounding -- the evaluator's
                            exact arithmetic).
      ``path/vecs``      -- (vec_id, v): full-width unit vectors for
                            the shortlist's exact re-rank only.
      ``path/centroids`` -- (cluster, centroid): RAW-space means of
                            the final assignment (the IVF family's
                            shared probe rule).

    The cell comes from `kmeans_assign`'s final-iteration assignment
    (appends = nearest FINAL centroid, the frozen-model premise); the
    codes are per-row facts (the quant premise) -- so like IVF x
    matryoshka the ONLY frozen model is the centroids. ``bits`` /
    n_lists / kmeans_iterations stamp into the fingerprint."""
    from ..llmdata.similarity import (
        _dvec,
        _normalize,
        ivf_centroids,
        kmeans_assign,
    )

    spark = embeddings.sparkSession
    if not 2 <= bits <= 8:
        # the write_quant_index rule: tinyint wrap above 8, zero
        # max_code below 2
        raise ValueError(
            f"write_ivf_quant_index: bits={bits} out of range [2, 8] -- "
            "codes are stored as tinyint, so wider codes would wrap "
            "silently"
        )
    max_code = (1 << (bits - 1)) - 1
    src = embeddings.select("vec_id", "label", "embedding").persist()
    try:
        if src.isEmpty():
            raise ValueError("write_ivf_quant_index: empty embeddings input")
        assigned = src.join(
            kmeans_assign(src, k=n_lists, iterations=kmeans_iterations),
            "vec_id",
        ).persist()
        try:
            # cluster rides THROUGH the code projection (passthrough
            # columns in _quant_code_vectors) -- no corpus-sized
            # re-join to restore the partition key (r16 review)
            _write_pieces(
                path, "ivfquant",
                (_quant_tinyint_codes(assigned, max_code),
                 assigned.select(
                     "vec_id", _normalize(_dvec("embedding")).alias("v")
                 )),
                "overwrite",
            )
            ivf_centroids(
                assigned.select(
                    "vec_id", _dvec("embedding").alias("vec"), "cluster"
                )
            ).coalesce(1).write.mode("overwrite").parquet(
                path + "/centroids"
            )
        finally:
            assigned.unpersist()
    finally:
        src.unpersist()
    _write_index_fingerprint(
        spark,
        path,
        {
            "kind": "ivfquant",
            "n_lists": n_lists,
            "kmeans_iterations": kmeans_iterations,
            "bits": bits,
        },
    )
    return path


def append_ivf_quant_index(embeddings: DataFrame, path: str) -> str:
    """Fold an embedding delta into a `write_ivf_quant_index` root:
    the cell is the nearest stored FINAL centroid (`_frozen_cells` --
    the `append_ivf_index` rule), the codes are per-row facts under
    the STAMPED bits (`_quant_code_vectors` -- the quant premise), so
    the only frozen model is the centroids (retrain = rebuild, the
    LSM-refresh story). Protocol and guards: `_append_delta`; empty
    centroids refuse via `_stored_dim`."""

    def kernel(spark, fp, caller):
        max_code = (1 << (int(fp["bits"]) - 1)) - 1
        cents = spark.read.parquet(path + "/centroids")
        dim = _stored_dim(cents, "centroid", "centroids", caller)
        return dim, lambda new: (
            _quant_tinyint_codes(
                _frozen_cells(new.drop("v"), cents), max_code
            ),
            new.select("vec_id", "v"),
        )

    return _append_delta(
        embeddings, path, "ivfquant", "IVF-quant",
        "append_ivf_quant_index", kernel,
    )


def ivf_quant_topk_batches(
    queries: DataFrame,
    index_cells: DataFrame,
    index_vecs: DataFrame,
    index_centroids: DataFrame,
    out_path: str,
    k: int = 5,
    n_probe: int = 2,
    shortlist: int | None = None,
    checkpoint: str | None = None,
    index_path: str | None = None,
    expected_fingerprint: str | None = None,
    exclude_self: bool = True,
):
    """Streaming IVF x quant top-k: each arriving query ranks the
    coarse centroids and probes its ``n_probe`` cells
    (`ivf_probe_rank`, RAW space), code-cosine-scores ONLY those
    cells' tinyint codes (the quant coarse score -- float query,
    rescale-invariant, riding `_adc` negated), and exact-reranks the
    shortlist from the float store (`pq_shortlist_rerank` VERBATIM).
    At ``shortlist`` >= corpus and ``n_probe`` == n_lists the exact
    re-rank sees every candidate and the output collapses to brute
    force regardless of the lossy coarse order (the quant family's
    collapse argument). Scale: bounded literal-IN static partition
    pruning + a byte-class scan -- the two budgets multiply. Default
    ``shortlist`` = the IVF family rule
    max(8k, corpus * n_probe / (8 * n_lists))."""
    check, _ = _pin_kind(
        queries.sparkSession, index_path, expected_fingerprint,
        "ivfquant", "IVF-quant", "ivf_quant_topk_batches",
    )
    n_lists = _centroid_count(index_centroids, "ivf_quant_topk_batches")
    n_corpus = _require_untorn(
        index_cells, index_vecs, "cells", "ivf_quant_topk_batches"
    )
    if shortlist is None:
        shortlist = max(8 * k, n_corpus * n_probe // (8 * n_lists))
    return _serve_batches(
        queries, out_path, checkpoint, [check],
        lambda batch, _epoch: _ivfquant_ranked_plan(
            batch, index_cells, index_vecs, index_centroids, k, n_probe,
            shortlist, exclude_self,
        ),
    )


def _ivfquant_ranked_plan(
    batch: DataFrame,
    index_cells: DataFrame,
    index_vecs: DataFrame,
    index_centroids: DataFrame | None,
    k: int,
    n_probe: int | None,
    shortlist: int,
    exclude_self: bool,
):
    """The per-batch (IVF x) quant ranking, I/O-free: (ranked_df,
    cleanup) -- the code-cosine coarse score through the shared
    `_ivf_cascade_ranked_plan` scaffold, shared by the probe sinks and
    the dense-retriever dispatch. ``index_centroids=None`` is the
    flat quant kind (full code scan)."""
    from ..llmdata.similarity import _dvec, _normalize, cosine

    qdf = batch.select(
        F.col("vec_id").alias("query_id"),
        _normalize(_dvec("embedding")).alias("_qv"),
    )
    return _ivf_cascade_ranked_plan(
        batch, index_cells, index_vecs, index_centroids,
        k, n_probe, shortlist, exclude_self, qdf,
        -cosine(
            F.col("_qv"), F.transform("q", lambda x: x.cast("double"))
        ),
    )


def _compact_parquet_dir(
    spark: SparkSession,
    live: str,
    partition_by: str | None = None,
    merged: DataFrame | None = None,
) -> None:
    """Rewrite one artifact directory with the `compact_curation_index`
    write discipline (r12/r11 ADVICE -- every crash point leaves a
    recoverable table): merged/coalesced data lands in a temp dir, the
    live dir renames to a BACKUP name, the temp dir renames into
    place, and only then is the backup deleted. A stale backup from a
    crashed prior compaction refuses loudly until resolved.

    ``merged`` overrides the default read-and-rewrite plan (the BM25
    stats log compacts to its SUM aggregate -- a true LSM merge; the
    per-row-fact dirs just rewrite). File-count target = dir bytes /
    128 MB (the maxPartitionBytes default), so N appends' small files
    collapse to scan-sized ones."""
    tmp, backup = live + ".compact-tmp", live + ".compact-backup"
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(live).getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(hpath(backup)):
        raise IOError(
            f"compact: stale backup {backup} exists -- a previous "
            f"compaction crashed mid-swap; restore it (rename to {live} "
            "if the live dir is missing, else delete it) first"
        )
    if merged is None:
        n_bytes = fs.getContentSummary(hpath(live)).getLength()
        n_files = max(1, int(n_bytes // (128 * 1024 * 1024)) + 1)
        df = spark.read.parquet(live)
        merged = (
            df.repartition(n_files, F.col(partition_by))
            if partition_by
            else df.repartition(n_files)
        )
    w = merged.write.mode("overwrite")
    if partition_by:
        w = w.option("partitionOverwriteMode", "static").partitionBy(
            partition_by
        )
    w.parquet(tmp)
    if not fs.rename(hpath(live), hpath(backup)):
        raise IOError(
            f"compact: could not move {live} aside; live dir untouched, "
            f"compacted data left at {tmp}"
        )
    if not fs.rename(hpath(tmp), hpath(live)):
        restored = fs.rename(hpath(backup), hpath(live))
        raise IOError(
            f"compact: swap-in rename failed; original dir "
            f"{'restored' if restored else f'left at {backup}'}, "
            f"compacted data left at {tmp}"
        )
    fs.delete(hpath(backup), True)


# kind -> ((subdir, partition column), ...): the data pieces of each
# appendable serving root, scan side first. The builds and the vector
# appends write them in this order (`_write_pieces`), the probes read
# the scan side by it, and `compact_serving_index` rewrites them --
# every listed dir holds per-row facts (rewrite-only compaction);
# bm25's stats log is special-cased to its SUM merge there.
_INDEX_LAYOUT: dict = {
    "pq": (("codes", None), ("vecs", None)),
    "ivfpq": (("cells", "cluster"), ("vecs", None)),
    "ivf": (("cells", "cluster"),),
    "matryoshka": (("prefixes", None), ("vecs", None)),
    "quant": (("codes", None), ("vecs", None)),
    "ivfmat": (("cells", "cluster"), ("vecs", None)),
    "ivfquant": (("cells", "cluster"), ("vecs", None)),
    "bm25": (("postings", "term_bucket"),),
    # r17: the formerly kind-less roots, now stamped -- bands/vecs/
    # corpus rows are per-row facts (append IS rebuild), so rewrite-
    # only compaction applies verbatim. The curation root is COMPOSITE
    # (sub-indexes with their own fingerprints + a MIN-log needing a
    # merge) and keeps its own `compact_curation_index`.
    "ann": (("bands", None), ("vecs", None)),
    "semantic": (("bands", None), ("vecs", None)),
    "rerank": (("corpus", None),),
}


def _write_pieces(path: str, kind: str, pieces, mode: str) -> None:
    """Write a vector root's data pieces in `_INDEX_LAYOUT` order (the
    scan side first, then vecs) -- shared by the builds (overwrite)
    and `_append_delta` (append). Partitioned dirs overwrite
    STATICALLY: under a session-wide
    partitionOverwriteMode=dynamic, an in-place rebuild whose new
    Lloyd run leaves some cluster empty would keep that cluster's OLD
    cells directory -- stale vectors behind a fresh nonce."""
    for (subdir, partition_by), piece in zip(
        _INDEX_LAYOUT[kind], pieces, strict=True
    ):
        w = piece.write.mode(mode)
        if partition_by is not None:
            w = w.option("partitionOverwriteMode", "static").partitionBy(
                partition_by
            )
        w.parquet(f"{path}/{subdir}")


def compact_serving_index(spark: SparkSession, path: str) -> str:
    """LSM compaction for the append-able serving indexes: N appends
    leave N generations of small files per directory (and, for BM25,
    N partial rows in the stats log); compaction rewrites each data
    dir at scan-sized files -- preserving the cells/postings partition
    layout the probes prune on -- and merges the BM25 stats log to its
    SUM (associative, so the merge is exact by the same argument the
    probe's sum rests on). Pure optimization: probes are already exact
    over the un-compacted artifact, so this can run at any cadence.
    Compact-then-probe equals probe (pinned row-for-row).

    Each directory swap follows the `_compact_parquet_dir`
    tmp/backup/rename discipline; the nonce re-stamps LAST -- a
    compaction changes the on-disk fileset, and a probe stream's
    static plan holds the OLD file listing, so pinned running streams
    must fail over exactly as for appends. Since r17 the formerly
    kind-less roots (ann / semantic / rerank) are kind-stamped and
    compact here too; PRE-r17 stamps carry no ``kind`` and still
    refuse (rebuild or append once to arm the stamp). The composite
    curation root redirects to `compact_curation_index`."""
    fp = _read_stamped_fingerprint(
        spark, path, None, "", "compact_serving_index"
    )
    kind = fp.get("kind")
    if kind == "curation":
        raise ValueError(
            f"compact_serving_index: {path} is a composite curation "
            "root (sub-indexes with their own fingerprints + a MIN "
            "log); use compact_curation_index"
        )
    if kind not in _INDEX_LAYOUT:
        raise ValueError(
            f"compact_serving_index: artifact kind {kind!r} at {path} "
            "has no registered compaction layout (supported: "
            f"{sorted(_INDEX_LAYOUT)})"
        )
    for subdir, partition_by in _INDEX_LAYOUT[kind]:
        _compact_parquet_dir(spark, f"{path}/{subdir}", partition_by)
    if kind == "bm25":
        stats_df = spark.read.parquet(path + "/stats")
        # n_postings merges to its SUM too (postings rewrite preserves
        # row count, so the torn invariant survives compaction); a
        # pre-stamp root keeps the legacy two-column schema
        has_np = "n_postings" in stats_df.columns
        aggs = [
            F.sum("n_docs").alias("n_docs"),
            F.sum("sum_dl").alias("sum_dl"),
        ]
        if has_np:
            aggs.append(F.sum("n_postings").alias("n_postings"))
        # the agg plan reads the live dir lazily -- materialize it as
        # rows before the swap (one row), then rebuild the frame
        row = stats_df.agg(*aggs).collect()[0]
        schema = "n_docs long, sum_dl long" + (
            ", n_postings long" if has_np else ""
        )
        _compact_parquet_dir(
            spark,
            path + "/stats",
            merged=spark.createDataFrame(
                [tuple(row)], schema
            ).coalesce(1),
        )
    # the fingerprint was already validated at function entry
    return restamp_index(spark, path)


def _require_band_ratio(
    index_bands: DataFrame, index_vecs: DataFrame, bands: int, caller: str
) -> None:
    """Torn/mismatch guard for the two-directory BANDED artifacts
    (`write_ann_index` / `write_semantic_index` layouts), ratio form
    of `_require_untorn`: band rows must equal bands * vecs rows. A
    bands-landed/vecs-missing torn append would silently drop those
    candidates at the exact-verify join, and a bands knob that
    disagrees with the artifact's build would probe with the wrong
    planes -- both refuse at plan construction, before any stream
    starts."""
    n_band_rows, n_vec_rows = index_bands.count(), index_vecs.count()
    if n_band_rows != bands * n_vec_rows:
        raise ValueError(
            f"{caller}: bands has {n_band_rows} rows but vecs has "
            f"{n_vec_rows} (expected bands*vecs = {bands}*{n_vec_rows}) "
            "-- a torn append or a bands knob that disagrees with the "
            "artifact's build; rebuild the index or pass the build-time "
            "knobs"
        )


def _require_stamped_knobs(
    spark: SparkSession,
    index_path: str,
    knobs: dict,
    caller: str,
    fp: dict | None = None,
    optional_knobs: dict | None = None,
) -> None:
    """Band-knob blind-spot guard (r15 verdict item 2): the ratio form
    `_require_band_ratio` catches a bands-COUNT mismatch but not a
    ``rows_per_band``/``seed`` knob that disagrees with the build at
    the same bands count -- a same-ratio/wrong-planes probe hashes
    queries with DIFFERENT Gaussian planes than the artifact and
    silently returns (near-)empty candidates, wrong results not an
    error. The banded writers stamp all three knobs; when the caller
    passes the artifact root, verify the probe knobs against the
    stamp exactly, refusing loudly on any disagreement.
    ``optional_knobs`` are verified ONLY when the stamp carries them
    (the migration rule for knobs stamped later than the family --
    ``dim`` since r17: pre-r17 stamps pass unchecked, one rebuild or
    append arms the check)."""
    if fp is None:
        fp = _read_stamped_fingerprint(spark, index_path, None, "", caller)
    all_knobs = dict(knobs)
    for k, v in (optional_knobs or {}).items():
        if fp.get(k) is not None:
            all_knobs[k] = v
    bad = {
        k: (fp.get(k), v)
        for k, v in all_knobs.items()
        if fp.get(k) is None or int(fp[k]) != int(v)
    }
    if bad:
        detail = "; ".join(
            f"{k}: stamped {s!r} != probe {p!r}"
            for k, (s, p) in sorted(bad.items())
        )
        raise ValueError(
            f"{caller}: probe knobs disagree with the build stamped at "
            f"{index_path} ({detail}) -- a probe with wrong planes "
            "silently returns empty candidates; use the stamped "
            "build-time knobs"
        )


def _require_stamped_probe_dim(
    fp: dict, index_path: str, frame_dim: int, caller: str, same_root: bool
) -> int:
    """The prefix family's pinned-width rule in ONE place (r15 ADVICE
    item 2): the STAMPED probe_dim (``fp``, the root's already-read
    fingerprint) is authoritative when a root is named. Frames read
    from a DIFFERENT artifact than the pin (or a mixed artifact whose
    stamp disagrees with its stored prefixes) would silently probe at
    the wrong width -- the nonce pin alone cannot catch a frame/path
    mismatch. ``same_root`` says whether the frames were read from the
    pinned root ITSELF (the dense-retriever case: a disagreement is a
    MIXED artifact) or were caller-supplied (the sinks: a
    disagreement is a frame/path mismatch)."""
    probe_dim = int(fp["probe_dim"])
    if probe_dim != frame_dim:
        if same_root:
            raise ValueError(
                f"{caller}: index at {index_path} stamps "
                f"probe_dim={probe_dim} but its stored prefixes are "
                f"{frame_dim}-wide -- mixed artifact, rebuild"
            )
        raise ValueError(
            f"{caller}: pinned index at {index_path} stamps "
            f"probe_dim={probe_dim} but the prefix frame is "
            f"{frame_dim}-wide -- the frames were read from a different "
            "artifact than the pin; pass frames and index_path from the "
            "same root"
        )
    return probe_dim


def _semantic_knobs(
    bands: int | None, rows_per_band: int | None, seed: int,
    dim: int | None = None,
) -> tuple[dict, dict]:
    """The semantic family's banding-knob dicts with the write-time
    defaults resolved -- built in ONE place so the probe constructors,
    the verdict writer, and the append guard can never verify
    different knob sets against the same artifact (r16 review).
    Returns (required, optional): ``dim`` rides the optional dict
    because it is stamped only since r17 (`_require_stamped_knobs`
    checks it when the stamp carries the key); resolving it HERE
    keeps the guard and the plan on one default (r17 third review --
    the hand-resolved copies were exactly the drift class this
    helper exists to kill)."""
    from ..llmdata.similarity import (
        DEFAULT_NEARDUP_BANDS,
        DEFAULT_NEARDUP_ROWS,
        EMBEDDING_DIM,
    )

    return (
        {
            "bands": DEFAULT_NEARDUP_BANDS if bands is None else bands,
            "rows_per_band": (
                DEFAULT_NEARDUP_ROWS
                if rows_per_band is None
                else rows_per_band
            ),
            "seed": seed,
        },
        {"dim": EMBEDDING_DIM if dim is None else dim},
    )


def _require_append_knobs(
    spark: SparkSession,
    path: str,
    knobs: dict,
    caller: str,
    kind: str | None = None,
    display: str = "",
    data_dir: str = "bands",
    optional_knobs: dict | None = None,
) -> None:
    """Banded APPEND knob guard (r16 review): an append whose knobs
    disagree with the existing stamp would hash the delta with
    DIFFERENT planes than the stored corpus AND re-stamp the new
    knobs last -- corrupting the artifact while blessing the wrong
    probes (the probe-side `_require_stamped_knobs` would then refuse
    correct probes and accept the wrong ones). Fresh roots (no
    fingerprint AND no data dirs) pass: generation 0 stamps them. A
    root whose bands exist WITHOUT a fingerprint is a torn build (the
    writer crashed before its stamp) -- the stored rows' knobs are
    unverifiable, so appending would bury the tear under whatever
    knobs the delta brings; refuse (r16 second review). Pass ``kind``
    to additionally refuse an append onto a root stamped as a
    DIFFERENT kind (r17: the banded writers stamp ``kind`` now; knob
    dicts alone can coincide across families at matching values, and
    appending the wrong family's rows corrupts both directories
    before the knob guard can notice)."""
    from pyspark.errors import AnalysisException

    try:
        fp = (
            spark.read.parquet(path + "/fingerprint").collect()[0].asDict()
        )
    except AnalysisException:
        try:
            spark.read.parquet(f"{path}/{data_dir}").schema
        except AnalysisException:
            return  # genuinely fresh: no stamp, no data
        raise ValueError(
            f"{caller}: data ({data_dir}) exists at {path} but the root "
            "is unstamped -- a build crashed before its fingerprint "
            "stamp; rebuild the index"
        ) from None
    if kind is not None:
        _require_root_kind(spark, path, kind, display, caller, fp=fp)
    _require_stamped_knobs(
        spark, path, knobs, caller, fp=fp, optional_knobs=optional_knobs
    )


def _require_root_kind(
    spark: SparkSession,
    index_path: str,
    kind: str,
    display: str,
    caller: str,
    fp: dict | None = None,
) -> dict:
    """Wrong-root pin guard for the FORMERLY kind-less artifact roots
    (ann / semantic / rerank / curation -- stamped without a ``kind``
    key before r17), migration-tolerant form of the strict
    `_read_stamped_fingerprint` kind check the seven kind-stamped
    layouts use: a root stamped with a DIFFERENT kind refuses loudly
    (a pin on some other artifact otherwise passes every nonce check
    while the frames' true root rotates unpinned -- the r16 review
    class), while a PRE-KIND legacy stamp (no ``kind`` key) stays
    serveable with the guard disarmed. The guard is armed by rebuild
    OR by any append (both re-stamp through the writer's full knob
    dict, which now carries ``kind``) -- never faked onto an
    unverifiable root (the `_require_bm25_untorn` migration
    precedent). Returns the fingerprint so callers chain into
    `_require_stamped_knobs(..., fp=fp)` without a second read."""
    if fp is None:
        fp = _read_stamped_fingerprint(spark, index_path, None, display, caller)
    stamped = fp.get("kind")
    if stamped is not None and stamped != kind:
        raise ValueError(
            f"{caller}: artifact at {index_path} is stamped "
            f"kind={stamped!r}, not a {display} index"
        )
    return fp


def _require_untorn(
    scan_df: DataFrame, vecs_df: DataFrame, scan_name: str, caller: str
) -> int:
    """Guard for the two-directory serving artifacts
    (codes/cells/prefixes + vecs): on a TORN artifact (the crash
    window between an append's two data writes) the shortlist's vecs
    join silently DROPS the candidates whose float row is missing and
    the rank window pulls up the wrong rows -- wrong results, not an
    error. Called by the APPENDS (refuse to bury a tear deeper) and
    by the PROBE constructors (refuse to serve one). Costs the row
    count the shortlist default needs anyway (returned), plus one
    metadata-cheap count on the float side."""
    n_scan, n_vecs = scan_df.count(), vecs_df.count()
    if n_scan != n_vecs:
        raise ValueError(
            f"{caller}: torn artifact -- {scan_name} has {n_scan} rows "
            f"but vecs has {n_vecs} (a prior append crashed between its "
            "data writes); a torn index silently drops candidates from "
            "the shortlist re-rank; rebuild it"
        )
    return n_scan


def _require_disjoint_delta(
    new: DataFrame, existing: DataFrame, caller: str
) -> None:
    """Append-family guard: delta vec_ids must be disjoint from the
    stored corpus (a double-append would duplicate shortlist rows and
    corrupt the per-query rank window). One bounded join + limit(5)
    sample for the message; shared by all five appends so the refusal
    cannot drift."""
    dups = [
        r["vec_id"]
        for r in new.join(existing.select("vec_id"), "vec_id")
        .select("vec_id")
        .limit(5)
        .collect()
    ]
    if dups:
        raise ValueError(
            f"{caller}: delta vec_ids already present in the index "
            f"(sample: {dups}) -- appends must be disjoint deltas"
        )


def _quant_tinyint_codes(embeddings: DataFrame, max_code: int) -> DataFrame:
    """The stored code projection -- `_quant_code_vectors` down to the
    tinyint ``q`` column -- defined ONCE for the quant and IVF x quant
    writers and appends (copy-pasted four times by mid-r16; the
    `_load_codebooks` consolidation class). Passthrough columns (the
    IVF cluster key) ride through both layers, so the composed writer
    needs no corpus-sized re-join."""
    from ..llmdata.similarity import _quant_code_vectors

    return (
        _quant_code_vectors(embeddings, max_code)
        .withColumn(
            "q", F.transform("embedding", lambda x: x.cast("tinyint"))
        )
        .drop("embedding")
    )


def _stored_dim(df: DataFrame, col: str, what: str, caller: str) -> int:
    """Probe the stored dimensionality from an artifact's first row,
    refusing LOUDLY on an empty directory. The appends probe the dim
    BEFORE the torn guards run (the ragged-delta check needs it), so
    without this an empty/torn vecs or centroids dir died with a bare
    ``TypeError: len(None)`` instead of the family's distinct refusal
    -- the exact failure class the r15 empty-build guards were added
    to catch (r15 ADVICE item 1)."""
    row = df.select(col).first()
    if row is None or row[col] is None:
        raise ValueError(
            f"{caller}: stored {what} artifact is empty -- an empty or "
            "torn build (nothing to probe the corpus dim from); rebuild "
            "the index"
        )
    return len(row[col])


def _centroid_count(index_centroids: DataFrame, caller: str) -> int:
    """n_lists from the stored centroids, refusing LOUDLY on an empty
    directory: cells/vecs can pass `_require_untorn` while a lost
    centroids write leaves zero rows -- the IVF shortlist rule then
    divides by zero, or (with an explicit shortlist) `ivf_probe_rank`
    yields zero probes and every query silently gets zero neighbors --
    the exact silent-empty class `_stored_dim` guards (r16 review)."""
    n = index_centroids.count()
    if n == 0:
        raise ValueError(
            f"{caller}: centroids artifact is empty -- an empty or torn "
            "build (zero cells to probe); rebuild the index"
        )
    return n


def _load_codebooks(
    codebooks_df: DataFrame, fp: dict | None = None, caller: str = ""
) -> list[list[list[float]]]:
    """The stored PQ model as the nested n_subspaces x n_codes x d_sub
    list the shared `pq_lut`/`pq_code_col` arithmetic consumes --
    defined once for the PQ/IVF-PQ probes and appends. Pass the root's
    fingerprint ``fp`` to refuse a codebooks/stamp subspace-count
    disagreement (a mixed artifact would encode deltas, or rank
    queries, under a different rule than the stored codes)."""
    cb_rows = codebooks_df.orderBy("s", "code").collect()
    if not cb_rows:
        # same failure class as _stored_dim: an empty codebooks dir
        # otherwise dies on max() of an empty sequence mid-probe
        raise ValueError(
            "PQ codebooks artifact is empty -- an empty or torn build; "
            "rebuild the index"
        )
    n_subspaces = 1 + max(r["s"] for r in cb_rows)
    if fp is not None and int(fp["n_subspaces"]) != n_subspaces:
        raise ValueError(
            f"{caller}: fingerprint stamps n_subspaces="
            f"{fp['n_subspaces']} but the stored codebooks span "
            f"{n_subspaces} subspaces -- mixed artifact, rebuild"
        )
    books: list[list[list[float]]] = [[] for _ in range(n_subspaces)]
    for r in cb_rows:
        books[r["s"]].append(list(r["centroid"]))
    return books


def restamp_index(spark: SparkSession, path: str) -> str:
    """Refresh a stamped index root's nonce, preserving EVERY knob
    stamp (whatever keys the writer stamped -- no hand-enumerated
    dict to drift; appends and compactions end with this call, so a
    future fingerprint-schema change lands in one place). Also the
    RECOVERY for the append protocol's stamp-crash window (see
    `_append_delta`): run it after confirming the fold completed (the
    guards' counts agree); it fails pinned streams over exactly as a
    completed append would."""
    fp = _read_stamped_fingerprint(spark, path, None, "", "restamp_index")
    fp.pop("nonce", None)
    _write_index_fingerprint(spark, path, fp)
    return path


def _append_delta(
    embeddings: DataFrame,
    path: str,
    kind: str,
    display: str,
    caller: str,
    kernel,
) -> str:
    """The ONE vector-append protocol, shared by the seven vector
    families (IVF, PQ, matryoshka, quant, IVF-PQ, IVF-matryoshka,
    IVF-quant). A family supplies only ``kernel(spark, fp, caller) ->
    (dim, encode)``: it loads the frozen model from the root (refusing
    an empty or mixed one) and returns the stored vector width plus
    ``encode(new)``, which turns the persisted (vec_id, label,
    embedding, v) delta -- ``v`` the unit vector -- into the family's
    pieces in `_INDEX_LAYOUT` order. Steps, in order:

      1. read the kind-checked stamp -- an unstamped root and a
         wrong-kind artifact refuse with DISTINCT messages;
      2. persist a DERIVED select, never the caller's frame
         (persist/unpersist act on the plan, so unpersisting
         ``embeddings`` itself would evict a cache the caller owns);
      3. an empty delta is a no-op WITHOUT a re-stamp (no pointless
         stream failover);
      4. guards: delta vectors whose width disagrees with the stored
         model refuse (a short vector would zip_with-pad to null
         distances and encode garbage silently); a TORN two-directory
         artifact refuses before anything is written
         (`_require_untorn`); delta vec_ids already on the scan side
         refuse (`_require_disjoint_delta` -- a double-append would
         duplicate shortlist rows);
      5. write the pieces, scan side first;
      6. re-stamp the nonce LAST (`restamp_index`): the stamp is the
         completion marker, and it fails pinned probe streams over.

    Crash windows: a crash BETWEEN the data writes leaves the old
    nonce, and the next append's or probe's torn guard catches it; a
    crash AFTER the writes but BEFORE the stamp leaves a CONSISTENT
    artifact under the old nonce -- retrying the delta refuses as a
    double-append while pinned probes keep passing their stale nonce
    check, so recover with `restamp_index` once the counts confirm the
    fold. Appends are not snapshot-isolated: the data files land
    before the re-stamp, so a pinned stream's micro-batch running
    concurrently can read a torn view (new codes whose vecs rows are
    not yet visible silently miss the shortlist join) for that one
    batch before the nonce check fails it over. Quiesce probe streams
    across an append, or serialize appends with the probes from a
    cadence loop (the `split_verdicts_with_cadence` pattern)."""
    from ..llmdata.similarity import _dvec, _normalize

    spark = embeddings.sparkSession
    fp = _read_stamped_fingerprint(spark, path, kind, display, caller)
    dim, encode = kernel(spark, fp, caller)
    layout = _INDEX_LAYOUT[kind]
    scan_name = layout[0][0]
    # v: the unit vector every shortlist kind stores as its vecs piece
    # and cuts prefixes / PQ codes from -- computed once per delta row
    new = embeddings.select(
        "vec_id",
        "label",
        "embedding",
        _normalize(_dvec("embedding")).alias("v"),
    ).persist()
    try:
        if new.isEmpty():
            return path
        bad_dim = new.filter(F.size("embedding") != dim).count()
        if bad_dim:
            raise ValueError(
                f"{caller}: {bad_dim} delta vector(s) are not "
                f"{dim}-dimensional -- the stored index is; a ragged "
                "delta would be encoded against misaligned dimensions"
            )
        scan = spark.read.parquet(f"{path}/{scan_name}")
        if len(layout) > 1:
            _require_untorn(
                scan, spark.read.parquet(path + "/vecs"), scan_name, caller
            )
        _require_disjoint_delta(new, scan, caller)
        _write_pieces(path, kind, encode(new), "append")
    finally:
        new.unpersist()
    return restamp_index(spark, path)


def _frozen_cells(frame: DataFrame, cents: DataFrame) -> DataFrame:
    """``frame`` (vec_id, embedding, ...) joined with each vector's
    cell under the FROZEN stored centroids: `similarity.ivf_probe_rank`
    at n_probe=1 in raw space -- the exact rule queries probe by, so
    an appended vector sits in the first cell any query that should
    find it looks in. Shared by the four IVF-layout appends."""
    from ..llmdata.similarity import _dvec, ivf_probe_rank

    assigned = ivf_probe_rank(
        frame.select(
            F.col("vec_id").alias("query_id"),
            _dvec("embedding").alias("qvec"),
        ),
        cents,
        1,
    ).select(
        F.col("query_id").alias("vec_id"),
        F.col("probe_cluster").alias("cluster"),
    )
    return frame.join(assigned, "vec_id")


def _read_stamped_fingerprint(
    spark: SparkSession,
    path: str,
    kind: str | None,
    display: str,
    caller: str,
) -> dict:
    """The append family's shared entry guard (one place, the
    `_pin_index` lesson): an unstamped root and a wrong-kind artifact
    refuse with DISTINCT messages -- the former is 'this is not (or
    no longer) a built index', the latter is 'you are appending the
    wrong kind of delta to a real index'. ``kind=None`` accepts any
    stamped root (the restamp/compact callers, which work on whatever
    the writer stamped)."""
    try:
        fp = spark.read.parquet(path + "/fingerprint").collect()[0].asDict()
    except Exception as exc:
        what = f"a {display} index root" if kind else "a stamped index root"
        raise ValueError(
            f"{caller}: no fingerprint at {path} -- the artifact is "
            f"unstamped (not {what}, or a torn build); rebuild it first"
        ) from exc
    if kind is not None and fp.get("kind") != kind:
        raise ValueError(
            f"{caller}: artifact at {path} is stamped "
            f"kind={fp.get('kind')!r}, not a {display} index"
        )
    return fp


def append_ivf_index(embeddings: DataFrame, path: str) -> str:
    """Fold an embedding delta into an existing `write_ivf_index` root
    under the FROZEN stored centroids: each new vector lands in its
    nearest FINAL-assignment cell (`_frozen_cells`). Given the
    centroids, the cell of a vector is a per-row fact; what an append
    deliberately does NOT do is move the means -- the model drifts
    from the corpus as deltas accumulate (appended mass never
    re-centers its cell), and the periodic re-train is a rebuild (the
    LSM-refresh story, same as PQ/IVF-PQ). Note the documented
    assignment delta: a REBUILD assigns under `kmeans_assign`'s last
    Lloyd iteration (pre-update centroids), so a boundary vector can
    sit in a different cell than this append would choose -- both are
    valid IVF assignments at the same budget, the same margin
    argument as the n_probe=1 probe delta. Protocol and guards:
    `_append_delta` (one data directory, so no torn guard)."""
    from ..llmdata.similarity import _dvec

    def kernel(spark, fp, caller):
        cents = spark.read.parquet(path + "/centroids")
        dim = _stored_dim(cents, "centroid", "centroids", caller)
        return dim, lambda new: (
            _frozen_cells(new, cents).select(
                "vec_id", "label", _dvec("embedding").alias("vec"),
                "cluster",
            ),
        )

    return _append_delta(
        embeddings, path, "ivf", "IVF", "append_ivf_index", kernel
    )


def write_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_lists: int = 8,
    kmeans_iterations: int = 3,
    n_subspaces: int = 8,
    n_codes: int = 16,
    iterations: int = 3,
    dim: int | None = None,
) -> str:
    """Persist the IVF-PQ artifact -- the canonical billion-vector
    serving shape (the faiss IVFPQ layout): a coarse quantizer prunes
    the SCAN (cluster-partitioned cells, the IVF side) and product
    quantization shrinks what the scan READS (~n_subspaces bytes per
    vector, the PQ side); float vectors surface only for the per-query
    shortlist re-rank. Composition of the two existing family members,
    sharing BOTH their rules:

      ``path/cells``    -- (vec_id, label, codes) PARTITIONED BY the
                           k-means cluster: a probe reads n_probe cell
                           directories of ~8-byte codes, never the
                           corpus and never a float.
      ``path/vecs``     -- (vec_id, v) unit floats, shortlist-only.
      ``path/codebooks``-- the trained PQ model (`pq_encode`, on the
                           FULL corpus -- NOT faiss's per-cell residual
                           encoding: one global codebook keeps the ADC
                           arithmetic verbatim-shared with `pq_topk` /
                           `pq_topk_batches`, which is what the parity
                           pins rest on; the residual variant buys
                           recall at equal bits but breaks that
                           sharing, a documented deliberate trade).
      ``path/centroids``-- (cluster, centroid) coarse means of the
                           FINAL assignment in RAW vector space
                           (`ivf_centroids` over `kmeans_assign`, the
                           IVF family's shared probe-ranking side).

    Rebuild-only for reTRAINING (means and codebooks move); a corpus
    delta under the FROZEN models appends exactly --
    `append_ivfpq_index`. Knobs stamp into the fingerprint."""
    from ..llmdata.similarity import (
        EMBEDDING_DIM,
        _dvec,
        ivf_centroids,
        kmeans_assign,
        pq_encode,
    )

    dim = EMBEDDING_DIM if dim is None else dim
    spark = embeddings.sparkSession
    # both intermediates feed TWO writes below (cells + vecs; cells +
    # centroids) -- persist so the literal-assignment map stages run
    # once per row, not once per consumer (the bpairs lesson)
    assigned = kmeans_assign(
        embeddings, k=n_lists, iterations=kmeans_iterations
    ).persist()
    encoded, codebooks = pq_encode(
        embeddings, n_subspaces, n_codes, iterations, dim
    )
    encoded = encoded.persist()
    try:
        _write_pieces(
            path, "ivfpq",
            (encoded.select("vec_id", "label", "codes").join(
                assigned, "vec_id"
            ),
             encoded.select("vec_id", "v")),
            "overwrite",
        )
        rows = [(s, c, cb) for s, book in enumerate(codebooks)
                for c, cb in enumerate(book)]
        spark.createDataFrame(
            rows, "s int, code int, centroid array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(path + "/codebooks")
        raw = embeddings.select(
            "vec_id", _dvec("embedding").alias("vec")
        ).join(assigned, "vec_id")
        ivf_centroids(raw).coalesce(1).write.mode("overwrite").parquet(
            path + "/centroids"
        )
    finally:
        encoded.unpersist()
        assigned.unpersist()
    _write_index_fingerprint(
        spark,
        path,
        {
            "kind": "ivfpq",
            "n_lists": n_lists,
            "kmeans_iterations": kmeans_iterations,
            "n_subspaces": n_subspaces,
            "n_codes": n_codes,
            "iterations": iterations,
        },
    )
    return path


def append_ivfpq_index(embeddings: DataFrame, path: str) -> str:
    """Fold an embedding delta into an existing `write_ivfpq_index`
    root under BOTH frozen models: the cell is the nearest stored
    FINAL centroid (`_frozen_cells`, raw space -- the
    `append_ivf_index` rule) and the codes come from the frozen
    codebooks (`pq_code_col`, unit space -- the `append_pq_index`
    rule). Given the models, both are per-row facts, so
    append-then-probe equals a same-models encode of the delta
    row-for-row (pinned against a pure-Python recompute); reTRAINING
    either model is a rebuild (the LSM-refresh story). Protocol and
    guards: `_append_delta`, plus the codebooks/stamp subspace check
    of `append_pq_index`."""
    from ..llmdata.similarity import pq_code_col

    def kernel(spark, fp, caller):
        books = _load_codebooks(
            spark.read.parquet(path + "/codebooks"), fp, caller
        )
        cents = spark.read.parquet(path + "/centroids")
        return len(books) * len(books[0][0]), lambda new: (
            _frozen_cells(new, cents).select(
                "vec_id", "label", pq_code_col(books).alias("codes"),
                "cluster",
            ),
            new.select("vec_id", "v"),
        )

    return _append_delta(
        embeddings, path, "ivfpq", "IVF-PQ", "append_ivfpq_index", kernel
    )


def ivfpq_topk_batches(
    queries: DataFrame,
    index_cells: DataFrame,
    index_vecs: DataFrame,
    index_codebooks: DataFrame,
    index_centroids: DataFrame,
    out_path: str,
    k: int = 5,
    n_probe: int = 2,
    shortlist: int | None = None,
    checkpoint: str | None = None,
    index_path: str | None = None,
    expected_fingerprint: str | None = None,
    exclude_self: bool = True,
):
    """Streaming IVF-PQ top-k: each arriving query ranks the coarse
    centroids and probes its ``n_probe`` cells (`ivf_probe_rank`, the
    IVF family's shared rule, RAW vector space), then ADC-scores ONLY
    those cells' codes under its per-query lookup table (`pq_lut` /
    `pq_adc_dist`, the PQ family's shared rules, unit space) and
    exact-reranks the shortlist from the float store
    (`pq_shortlist_rerank`). Every stage is the respective family
    member's code, so two parity pins come for free:

      - at ``n_probe == n_lists`` the candidate set is the whole
        corpus and the output equals `pq_topk_batches` over a plain PQ
        artifact with the same model knobs, row-for-row (pinned);
      - at ``n_probe < n_lists`` the output equals the in-memory
        composition of the shared helpers on the same frames (pinned).

    Scale: the probed clusters are a bounded driver artifact
    (<= n_lists ints per batch) turned into a literal IN against the
    cluster-partitioned cells -- static partition pruning -- and the
    scan that survives pruning reads ~8-byte code rows, not floats;
    the float store is touched only by the shortlist join. Default
    ``shortlist`` keeps the family's 1/8-of-candidates budget:
    max(8k, corpus * n_probe / (8 * n_lists)) -- which reduces to the
    PQ rule corpus/8 at n_probe == n_lists (the equivalence pin's
    premise)."""
    check, _ = _pin_kind(
        queries.sparkSession, index_path, expected_fingerprint,
        "ivfpq", "IVF-PQ", "ivfpq_topk_batches",
    )
    codebooks = _load_codebooks(index_codebooks)
    n_lists = _centroid_count(index_centroids, "ivfpq_topk_batches")
    n_corpus = _require_untorn(
        index_cells, index_vecs, "cells", "ivfpq_topk_batches"
    )
    if shortlist is None:
        shortlist = max(8 * k, n_corpus * n_probe // (8 * n_lists))
    return _serve_batches(
        queries, out_path, checkpoint, [check],
        lambda batch, _epoch: _ivfpq_ranked_plan(
            batch, index_cells, index_vecs, codebooks, index_centroids,
            k, n_probe, shortlist, exclude_self,
        ),
    )


def _ivfpq_ranked_plan(
    batch: DataFrame,
    index_cells: DataFrame,
    index_vecs: DataFrame,
    codebooks: list[list[list[float]]],
    index_centroids: DataFrame | None,
    k: int,
    n_probe: int | None,
    shortlist: int,
    exclude_self: bool,
):
    """The per-batch (IVF-)PQ ranking, I/O-free: (ranked_df, cleanup)
    for arriving (vec_id, embedding) rows against in-memory artifact
    frames; ``index_centroids=None`` is the flat PQ kind (full codes
    scan). Extracted from the sink loop so the randomized-corpora
    parity test (`test_streaming_ivfpq_randomized_corpora_parity`, the
    BM25 `_bm25_postings` precedent) can exercise the probe/ADC/tie
    arithmetic on corpora far outside the fixture distribution without
    a streaming round-trip per seed."""
    from ..llmdata.similarity import (
        _dvec,
        _normalize,
        pq_adc_dist,
        pq_lut,
    )

    n_subspaces = len(codebooks)
    qrows = batch.select(
        F.col("vec_id").alias("query_id"),
        _normalize(_dvec("embedding")).alias("qvec"),
    ).collect()
    qdf = batch.sparkSession.createDataFrame(
        [
            (
                r["query_id"],
                list(r["qvec"]),
                pq_lut(list(r["qvec"]), codebooks),
            )
            for r in qrows
        ],
        "query_id long, _qv array<double>, lut array<array<double>>",
    )
    return _ivf_cascade_ranked_plan(
        batch, index_cells, index_vecs, index_centroids,
        k, n_probe, shortlist, exclude_self, qdf,
        pq_adc_dist(F.col("lut"), F.col("codes"), n_subspaces),
    )


def _ivf_cascade_ranked_plan(
    batch: DataFrame,
    index_cells: DataFrame,
    index_vecs: DataFrame,
    index_centroids: DataFrame | None,
    k: int,
    n_probe: int | None,
    shortlist: int,
    exclude_self: bool,
    qdf: DataFrame,
    adc,
):
    """The ONE shortlist-cascade scaffold of the six shortlist kinds
    (a probe-plan fix must land ONCE, the `ivf_centroids` shared-rule
    discipline). IVF layouts rank the centroids, collect the bounded
    probe set, literal-IN-prune the cluster-partitioned cells and
    broadcast-join the probes; the flat kinds (``index_centroids``
    None) cross-join the whole scan side instead. Either way the
    batch-sized ``qdf`` (which must carry at least (query_id, _qv))
    broadcasts, the coarse ``adc`` Column scores the candidates, and
    the verbatim `pq_shortlist_rerank` tail ranks them. Returns
    (ranked_df, cleanup); ``cleanup`` (None for the flat kinds)
    unpersists the probe frame and must be called after the ranked
    frame is consumed."""
    from ..llmdata.similarity import (
        _dvec,
        ivf_probe_rank,
        pq_shortlist_rerank,
    )

    probes = None
    try:
        if index_centroids is None:
            scored = index_cells.crossJoin(F.broadcast(qdf))
        else:
            qs = batch.select(
                F.col("vec_id").alias("query_id"),
                _dvec("embedding").alias("qvec"),
            )
            # persisted: the probed-cluster collect and the scored
            # join both consume the probe plan (the bpairs lesson)
            probes = ivf_probe_rank(qs, index_centroids, n_probe).persist()
            probed = sorted(
                r["probe_cluster"]
                for r in probes.select("probe_cluster").distinct().collect()
            )
            scored = (
                index_cells.filter(F.col("cluster").isin(probed))
                .join(
                    F.broadcast(probes.select("query_id", "probe_cluster")),
                    F.col("cluster") == F.col("probe_cluster"),
                )
                .join(F.broadcast(qdf), "query_id")
            )
        if exclude_self:
            scored = scored.filter(F.col("vec_id") != F.col("query_id"))
        scored = scored.select(
            "query_id", "vec_id", "label", adc.alias("_adc"), "_qv"
        )
        ranked = pq_shortlist_rerank(scored, k, shortlist, vecs=index_vecs)
    except BaseException:
        # a failure in the probed-cluster collect must not leak the
        # pinned probe frame (r17 review -- same class as
        # _ivf_ranked_plan)
        if probes is not None:
            probes.unpersist()
        raise
    return ranked, None if probes is None else probes.unpersist


def _ivf_ranked_plan(
    batch: DataFrame,
    index_cells: DataFrame,
    index_centroids: DataFrame,
    k: int,
    n_probe: int,
    exclude_self: bool,
):
    """The per-batch plain-IVF ranking, I/O-free: extracted from
    `ivf_topk_batches`' sink loop. Unlike the shortlist family the
    probed cells carry full float vectors, so scoring is exact within
    the probed budget (`ivf_exact_rank` -- no re-rank stage, no
    shortlist knob). Returns (ranked_df, cleanup); ``cleanup``
    unpersists the probe frame after the ranked frame is consumed."""
    from ..llmdata.similarity import _dvec, ivf_exact_rank, ivf_probe_rank

    qs = batch.select(
        F.col("vec_id").alias("query_id"),
        _dvec("embedding").alias("qvec"),
    )
    # persisted: the probed-cluster collect and the scored join both
    # consume the probe plan (the bpairs lesson)
    probes = ivf_probe_rank(qs, index_centroids, n_probe).persist()
    try:
        # bounded driver artifact (<= n_lists ints) -> literal IN, so
        # the cluster-partitioned cells scan prunes statically
        probed = sorted(
            r["probe_cluster"]
            for r in probes.select("probe_cluster").distinct().collect()
        )
        ranked = ivf_exact_rank(
            index_cells.filter(F.col("cluster").isin(probed)),
            probes,
            k,
            exclude_self=exclude_self,
        )
    except BaseException:
        # the collect is the one action between persist and return: a
        # failure there must not leak the pinned probe frame (the old
        # inline sink wrapped it in try/finally -- r17 review)
        probes.unpersist()
        raise
    return ranked, probes.unpersist


def _ann_dense_retriever(
    spark: SparkSession,
    path: str,
    n_probe: int,
    shortlist: int | None,
    exclude_self: bool,
    caller: str,
):
    """Load a servable ANN root as a pluggable DENSE retrieval
    constituent for the RAG endpoints (r15 verdict item 3: the hybrid
    keyword endpoint and the knn classifier brute-scanned the float
    vecs via `_dense_cosine_topk` while ANN serving sat in the same
    file). Dispatches on the STAMPED kind over ALL SEVEN servable
    layouts: the composed ``ivfpq`` / ``ivfmat``
    / ``ivfquant`` cascades, the flat shortlist kinds ``pq`` /
    ``matryoshka`` / ``quant``, and plain ``ivf``. Returns
    ``(retrieve, fp)``: ``retrieve(batch, k) -> (ranked, cleanup)``
    where ``ranked`` carries the family's (query_id, vec_id, label,
    rank) surface through the SAME per-batch plan the kind's own probe
    sink serves, so at full budget (n_probe = n_lists and/or shortlist
    = corpus) the ranking collapses to exact brute-force
    (parity-pinned; one stated delta: the shortlist re-rank orders on
    the ROUND-6 cosine where the brute scan orders unrounded, so two
    candidates within 1e-6 of each other can swap -- a display-tie the
    parity fixtures don't contain, not an approximation) and at
    serving budgets the endpoint inherits the kind's measured
    probe-budget win. The already-read fingerprint ``fp`` rides back
    so the caller's nonce pin snapshots without a second read.

    Budget knobs by kind: ``n_probe`` drives the four IVF-layout
    kinds and is ignored by the flat kinds (their coarse stage is a
    full-corpus code/prefix scan -- the byte win, not a partition
    win); ``shortlist`` drives the six shortlist-re-rank kinds
    (default: the sinks' max(8k, corpus * n_probe / (8 * n_lists)),
    corpus/8 for the flat kinds) and is REFUSED on plain ``ivf`` (its
    probed cells carry full floats, so scoring is exact within the
    probe budget -- no re-rank stage; a supplied shortlist would
    protect nothing, so it raises per the family's no-op-knob idiom).

    Artifact guards at CONSTRUCTION time (before any stream starts):
    unstamped / non-servable kinds refuse distinctly; the PQ-family
    codebooks/fingerprint subspace disagreement refuses; torn
    scan/vecs dirs refuse (`_require_untorn`); empty centroids refuse
    (`_centroid_count`); the prefix kinds' stamped probe_dim is
    authoritative (`_require_stamped_probe_dim`). Version pinning
    under a RUNNING stream stays on the caller's nonce pin, which
    should target this same root."""
    fp = _read_stamped_fingerprint(spark, path, None, "", caller)
    kind = fp.get("kind")
    if kind not in ("ivfpq", "ivfmat", "ivfquant", "ivf", "pq",
                    "matryoshka", "quant"):
        raise ValueError(
            f"{caller}: artifact at {path} is stamped kind={kind!r}, "
            "not a servable dense index (expected ivfpq, ivfmat, "
            "ivfquant, ivf, pq, matryoshka, or quant)"
        )
    if kind == "ivf":
        if shortlist is not None:
            # plain ivf has no re-rank stage (probed cells carry full
            # floats, scoring is exact within the probe budget), so a
            # caller-supplied shortlist would protect nothing -- refuse
            # loudly, matching the family's no-op-knob idiom (r13
            # ADVICE on no-op pins; r17 ADVICE flagged the silent
            # docstring-only ignore here).
            raise ValueError(
                f"{caller}: shortlist={shortlist} has no effect on a "
                "plain 'ivf' root (its probed cells are scored exactly "
                "on full floats -- there is no re-rank stage); drop the "
                "knob or serve a shortlist kind (ivfpq/ivfmat/ivfquant/"
                "pq/matryoshka/quant)"
            )
        cells = spark.read.parquet(path + "/cells")
        cents = spark.read.parquet(path + "/centroids")
        _centroid_count(cents, caller)

        def retrieve_ivf(batch: DataFrame, k: int):
            return _ivf_ranked_plan(
                batch, cells, cents, k, n_probe, exclude_self
            )

        return retrieve_ivf, fp

    scan_name = _INDEX_LAYOUT[kind][0][0]
    scan = spark.read.parquet(f"{path}/{scan_name}")
    vecs = spark.read.parquet(path + "/vecs")
    n_corpus = _require_untorn(scan, vecs, scan_name, caller)
    cents, probe_n, n_lists = None, None, 1  # flat kinds scan it all
    if kind.startswith("ivf"):
        cents = spark.read.parquet(path + "/centroids")
        probe_n, n_lists = n_probe, _centroid_count(cents, caller)
    if kind in ("pq", "ivfpq"):
        books = _load_codebooks(
            spark.read.parquet(path + "/codebooks"), fp, caller
        )
    elif kind in ("matryoshka", "ivfmat"):
        probe_dim = _require_stamped_probe_dim(
            fp, path, _stored_dim(scan, "vp", scan_name, caller), caller,
            True,
        )

    def retrieve(batch: DataFrame, k: int):
        sl = shortlist
        if sl is None:
            sl = max(8 * k, n_corpus * (probe_n or 1) // (8 * n_lists))
        if kind in ("pq", "ivfpq"):
            return _ivfpq_ranked_plan(
                batch, scan, vecs, books, cents, k, probe_n, sl,
                exclude_self,
            )
        if kind in ("matryoshka", "ivfmat"):
            return _ivfmat_ranked_plan(
                batch, scan, vecs, cents, probe_dim, k, probe_n, sl,
                exclude_self,
            )
        # quant / ivfquant -- codes are self-describing, no width check
        return _ivfquant_ranked_plan(
            batch, scan, vecs, cents, k, probe_n, sl, exclude_self
        )

    return retrieve, fp


def _resolve_dense_constituent(
    spark: SparkSession,
    index_vecs: DataFrame | None,
    ann_index_path: str | None,
    pin_path: str | None,
    n_probe: int,
    shortlist: int | None,
    exclude_self: bool,
    caller: str,
):
    """The serving endpoints' shared dense-constituent contract (r16
    review -- the wiring was copy-pasted three times): with
    ``ann_index_path`` the dense side is the ANN root
    (`_ann_dense_retriever`, kind-dispatched) and its nonce pin
    DEFAULTS to the same root, so the dense constituent can never
    rotate unpinned -- an explicit pin naming a DIFFERENT root
    refuses (a contradiction, not a second pin). Without it,
    ``index_vecs`` is the brute scan (`_dense_cosine_topk`) and must
    be present. Returns (pin_path, retrieve, snapshot_nonce):
    ``retrieve(batch, k) -> (ranked, cleanup)`` either way, and the
    nonce from the retriever's own fingerprint read, so the caller's
    pin snapshots without a second read (None on the brute path)."""
    if ann_index_path is not None:
        if pin_path is not None and pin_path != ann_index_path:
            raise ValueError(
                f"{caller}: the dense pin path and ann_index_path "
                "disagree -- the dense constituent is ONE artifact; pass "
                "the ANN root as ann_index_path and leave the pin None "
                "(it pins the same root)"
            )
        retrieve, fp = _ann_dense_retriever(
            spark, ann_index_path, n_probe, shortlist, exclude_self, caller
        )
        return ann_index_path, retrieve, fp.get("nonce")
    if index_vecs is None:
        raise ValueError(
            f"{caller}: pass index_vecs (brute dense scan) or "
            "ann_index_path (ANN serving) -- got neither"
        )

    def brute(batch: DataFrame, k: int):
        return _dense_cosine_topk(
            batch, index_vecs, k, exclude_self=exclude_self
        ), None

    return pin_path, brute, None


def _write_index_fingerprint(spark: SparkSession, path: str, params: dict) -> None:
    """Stamp an index build with a unique nonce + its knob values (one
    tiny parquet row at ``path/fingerprint``). Probe streams snapshot
    the nonce at plan time and re-check it per micro-batch
    (`index_fingerprint` / `ann_topk_batches`): the stream-static
    correctness argument -- per-query candidates are batch-local --
    holds only while the index is STATIC, so a mid-stream overwrite
    must fail loudly instead of silently mixing two index versions
    across micro-batches (r10 verdict item 6). Written THROUGH Spark
    so the guard works on any supported filesystem, not just local."""
    import uuid

    nonce = uuid.uuid4().hex
    row = dict(params, nonce=nonce)
    (
        spark.createDataFrame([tuple(str(v) for v in row.values())],
                              schema=list(row.keys()))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path + "/fingerprint")
    )


def index_fingerprint(spark: SparkSession, path: str) -> str:
    """The nonce of the index build currently on disk at ``path``
    (bounded read: the fingerprint is one row)."""
    rows = spark.read.parquet(path + "/fingerprint").select("nonce").collect()
    return rows[0]["nonce"]


def _pin_kind(
    spark: SparkSession,
    index_path: str | None,
    expected_fingerprint: str | None,
    kind: str,
    display: str,
    caller: str,
):
    """`_pin_index` for the strictly kind-stamped sinks, in one
    fingerprint read: when a root is named, verify it IS this kind of
    root (a pin on some OTHER artifact passes every nonce check while
    the frames' true root rotates unpinned) and seed the
    unpinned snapshot from the same read. Returns (check, fp); ``fp``
    is None when no root is named."""
    fp = None
    if index_path is not None:
        fp = _read_stamped_fingerprint(
            spark, index_path, kind, display, caller
        )
    check = _pin_index(
        spark,
        index_path,
        expected_fingerprint,
        f"{display} index at {{path}} was overwritten under a probe "
        "stream (fingerprint {now} != snapshot {expected}); rebuild the "
        "probe stream against the new index instead",
        snapshot_nonce=None if fp is None else fp.get("nonce"),
    )
    return check, fp


def _pin_index(
    spark: SparkSession,
    index_path: str | None,
    expected_fingerprint: str | None,
    message: str,
    snapshot_nonce: str | None = None,
):
    """The serving family's whole nonce discipline in ONE place (the
    r13/r14 fixes each had to touch six hand-rolled copies): refuse a
    pin with no target (a nonce without the index it pins is never
    compared against anything -- zero refresh protection), verify a
    caller-held pin at CALL time (a stale pin must fail before any
    stream starts), snapshot the on-disk nonce when unpinned, and
    return a per-micro-batch re-check callable (no-op when unpinned)
    that catches a same-name in-place rewrite under a RUNNING query.
    ``message`` is the site-specific failure text, formatted with
    {path}/{now}/{expected} -- each stream kind keeps its own pinned
    wording. Pass ``snapshot_nonce`` when the caller already read the
    root's fingerprint to skip the second snapshot read; it is used
    ONLY in the unpinned case -- a caller-held pin is always verified
    against the disk at call time."""
    if index_path is None:
        if expected_fingerprint is not None:
            raise ValueError(
                "expected_fingerprint was given without index_path: the "
                "pin is checked against index_path's on-disk nonce, so "
                "without one it protects nothing -- pass the index root "
                "too"
            )
        return lambda sess: None

    expected = expected_fingerprint

    def check(sess: SparkSession) -> None:
        now = index_fingerprint(sess, index_path)
        if now != expected:
            raise RuntimeError(
                message.format(path=index_path, now=now, expected=expected)
            )

    if expected is None:
        expected = (
            snapshot_nonce
            if snapshot_nonce is not None
            else index_fingerprint(spark, index_path)
        )
    else:
        check(spark)
    return check


def _serve_batches(
    stream: DataFrame,
    out_path: str,
    checkpoint: str | None,
    checks: list,
    plan,
):
    """The ONE probe-stream driver every `*_batches` sink runs through
    (the module docstring's probe protocol). Per micro-batch: run the
    nonce ``checks`` (`_pin_index` callables), skip an empty batch,
    append the frame of ``plan(batch, epoch) -> (frame, cleanup)`` to
    ``out_path`` as parquet, then run ``cleanup`` (None when the plan
    persisted nothing). The query is foreachBatch under an
    availableNow trigger; ``checkpoint`` makes a restart resume
    instead of re-appending. Returns the started StreamingQuery."""

    def _emit(batch: DataFrame, epoch: int) -> None:
        for check in checks:
            check(batch.sparkSession)
        if batch.isEmpty():
            return
        frame, cleanup = plan(batch, epoch)
        try:
            frame.write.mode("append").parquet(out_path)
        finally:
            if cleanup is not None:
                cleanup()

    writer = (
        stream.writeStream.foreachBatch(_emit)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def ann_probe_stream(
    queries: DataFrame,
    index_bands: DataFrame,
    index_vecs: DataFrame,
    bands: int = 32,
    rows_per_band: int = 10,
    dim: int | None = None,
    seed: int = 42,
    multiprobe: bool = True,
    dedup_ttl: str | None = None,
    index_path: str | None = None,
) -> DataFrame:
    """Streaming ANN candidate scoring: each arriving query vector
    probes the static band index (stream-STATIC equi-join on
    (band, sig) -- natively supported, no stream state beyond the
    candidate dedup) and exact-scores the deduped candidates against
    the stored corpus vectors.

    Mirrors the batch `similarity.lsh_banded_topk` candidate rule
    exactly: band signature match OR Hamming-1 multiprobe flip on the
    query side. Output rows are (query_id, vec_id, label, _cos) --
    the UNROUNDED cosine, because ranking must happen on the same
    value the batch path ranks on; `ann_topk_batches` applies the
    per-query top-k. ``dropDuplicates`` holds one state row per
    distinct (query, candidate) pair -- at scale pass ``dedup_ttl``
    to switch to the ingest-time-watermarked TTL'd form (state
    bounded; re-emission trade on `_dedup_candidates` -- harmless
    here unless one query_id is replayed across batches farther
    apart than the TTL).

    Pass ``index_path`` (the `write_ann_index` root) to verify the
    probe's ``bands``/``rows_per_band``/``seed`` knobs against the
    STAMPED build knobs (`_require_stamped_knobs`): the ratio guard
    below cannot catch a same-ratio/wrong-seed probe, which hashes
    with different planes and silently returns empty candidates.
    This is plan-construction verification only -- version pinning
    under a RUNNING stream stays on `ann_topk_batches`' own
    ``index_path``/nonce discipline."""
    from ..llmdata.similarity import (
        EMBEDDING_DIM,
        _band_sigs_udf,
        _dvec,
        dot_unrolled,
        gaussian_planes,
    )

    dim = EMBEDDING_DIM if dim is None else dim
    if index_path is not None:
        # kind before knobs: a foreign root can coincide on knob values
        # but never on its stamp (pre-r17 kind-less stamps pass -- the
        # guard arms on rebuild/append, `_require_root_kind`)
        fp = _require_root_kind(
            queries.sparkSession, index_path, "ann", "banded ANN",
            "ann_probe_stream",
        )
        _require_stamped_knobs(
            queries.sparkSession,
            index_path,
            {"bands": bands, "rows_per_band": rows_per_band, "seed": seed},
            "ann_probe_stream",
            fp=fp,
            optional_knobs={"dim": dim},
        )
    _require_band_ratio(index_bands, index_vecs, bands, "ann_probe_stream")
    planes = gaussian_planes(bands * rows_per_band, dim, seed)
    sig_udf = _band_sigs_udf(planes, bands, rows_per_band)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        sig_udf("embedding").alias("sigs"),
        _dvec("embedding").alias("qvec"),
    )
    probe = q.select(
        "query_id", "qvec", F.posexplode("sigs").alias("band", "qsig")
    )
    if multiprobe:
        flips = F.array(
            *([F.col("qsig")] + [
                F.col("qsig").bitwiseXOR(F.lit(1 << j))
                for j in range(rows_per_band)
            ])
        )
        probe = probe.select(
            "query_id", "qvec", "band", F.explode(flips).alias("sig")
        )
    else:
        probe = probe.select(
            "query_id", "qvec", "band", F.col("qsig").alias("sig")
        )
    cands = _dedup_candidates(
        probe.join(index_bands, ["band", "sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qvec", "vec_id"),
        ["query_id", "vec_id"],
        dedup_ttl,
    )
    return cands.join(index_vecs, "vec_id").select(
        "query_id",
        "vec_id",
        "label",
        (
            dot_unrolled("qvec", "vec", dim)
            / (
                F.sqrt(dot_unrolled("qvec", "qvec", dim))
                * F.sqrt(dot_unrolled("vec", "vec", dim))
            )
        ).alias("_cos"),
    )


def ann_topk_batches(
    scored: DataFrame,
    out_path: str,
    k: int = 10,
    checkpoint: str | None = None,
    index_path: str | None = None,
    expected_fingerprint: str | None = None,
):
    """Per-micro-batch top-k writer for `ann_probe_stream` output: the
    per-query ranking is COMPLETE within the micro-batch that carries
    the query, because the stream-static join produces every
    candidate of a query row in that row's own batch -- so the
    per-batch window IS the final per-query answer (window functions
    are not otherwise available on a streaming DataFrame). Same (cos
    DESC, vec_id) tie order and round-after-rank as the batch path.

    ``index_path`` (the `write_ann_index` root) pins the index
    VERSION: the batch-local-candidates argument above holds only
    while the index is static, so a refresh must go through a new
    probe stream, never under one (mid-stream mixing would split one
    query's candidates across index versions silently). A Spark-written
    overwrite mid-run is additionally loud without the pin, because
    part-file names are unique per write and the stale file listing
    fails with FAILED_READ_FILE (the engine executes the stream-static
    join before the foreachBatch function runs, so the engine-level
    failure wins the race -- observed, and pinned along with the
    other two behaviors by
    tests/test_streaming.py::test_streaming_ann_index_refresh_fails_loudly)."""
    from pyspark.sql import Window

    snapshot = None
    if index_path is not None:
        # the nonce pin names a root; verify it IS this kind of root
        # (migration-tolerant: pre-r17 stamps carry no kind); the read
        # fingerprint seeds the unpinned snapshot -- one read
        snapshot = _require_root_kind(
            scored.sparkSession, index_path, "ann", "banded ANN",
            "ann_topk_batches",
        ).get("nonce")
    check = _pin_index(
        scored.sparkSession,
        index_path,
        expected_fingerprint,
        "ANN index at {path} was overwritten under a probe stream "
        "(fingerprint {now} != snapshot {expected}); rebuild the probe "
        "stream against the new index instead",
        snapshot_nonce=snapshot,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id")
    )

    def plan(batch: DataFrame, _epoch: int):
        return (
            batch.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                "vec_id",
                "label",
                "rank",
                F.round("_cos", 6).alias("cos_sim"),
            )
        ), None

    return _serve_batches(scored, out_path, checkpoint, [check], plan)


# --- streaming semantic (embedding) dedup probe ----------------------------


def write_semantic_index(
    embeddings: DataFrame,
    path: str,
    bands: int | None = None,
    rows_per_band: int | None = None,
    dim: int | None = None,
    seed: int = 42,
    mode: str = "overwrite",
) -> str:
    """Persist the embedding near-dup band index (the VECTOR-family
    analog of `write_neardup_index`): the offline artifact a streaming
    corpus build probes for the capstone ladder's `semantic_duplicate`
    verdict -- the one batch reason that had no streaming counterpart
    before r10.

    Same two-artifact layout as `write_ann_index` but with the
    NEAR-DUP banding scheme (32 bands x 8 bits, `similarity.
    DEFAULT_NEARDUP_BANDS/ROWS`, seed 42 -- the SAME literal planes as
    `embedding_neardup_pairs`), so stream and batch candidates
    provably coincide. Band and vector rows are PER-VECTOR facts, so
    a corpus delta appends exactly (``mode="append"``, used by
    `append_curation_index`); the fingerprint is re-stamped on every
    call (append or rebuild -- either way the index changed and a
    pinned running probe must fail over to a new stream). An APPEND
    whose knobs disagree with the existing stamp refuses
    (`_require_append_knobs` -- it would hash the delta with
    different planes and then bless them in the re-stamp).

    DELIBERATELY replay-tolerant (no disjoint-delta guard, unlike
    the ann/rerank appends): `append_curation_index`'s documented
    crash recovery re-runs the SAME delta, and the duplicate
    band/vec rows a replay lands are benign through the verdict
    derivation -- candidate dedup collapses duplicated band
    collisions, the groupBy(vec_id).min aggregate collapses
    duplicated vec rows' repeated hits. PROVEN (r17 verdict item 5),
    not just asserted: tests/test_streaming.py::
    test_semantic_replay_duplicates_are_verdict_benign pins
    verdict-set equality between a clean root and a delta-replayed
    root on the same streamed corpus."""
    from ..llmdata.similarity import (
        DEFAULT_NEARDUP_BANDS,
        DEFAULT_NEARDUP_ROWS,
        EMBEDDING_DIM,
        _band_sigs_udf,
        _dvec,
        gaussian_planes,
    )

    bands = DEFAULT_NEARDUP_BANDS if bands is None else bands
    rows_per_band = DEFAULT_NEARDUP_ROWS if rows_per_band is None else rows_per_band
    dim = EMBEDDING_DIM if dim is None else dim
    mode = mode.lower()  # writer modes are case-insensitive downstream
    if mode == "append":
        req, opt = _semantic_knobs(bands, rows_per_band, seed, dim)
        _require_append_knobs(
            embeddings.sparkSession,
            path,
            req,
            "write_semantic_index",
            kind="semantic",
            display="semantic near-dup",
            # dim parameterizes the planes too; stamped since r17,
            # checked when present (r17 second review)
            optional_knobs=opt,
        )
    planes = gaussian_planes(bands * rows_per_band, dim, seed)
    sig_udf = _band_sigs_udf(planes, bands, rows_per_band)
    (
        embeddings.select("vec_id", sig_udf("embedding").alias("sigs"))
        .select("vec_id", F.posexplode("sigs").alias("band", "sig"))
        .write.mode(mode)
        .parquet(path + "/bands")
    )
    (
        embeddings.select("vec_id", _dvec("embedding").alias("vec"))
        .write.mode(mode)
        .parquet(path + "/vecs")
    )
    _write_index_fingerprint(
        embeddings.sparkSession, path,
        {"kind": "semantic", "bands": bands,
         "rows_per_band": rows_per_band, "seed": seed, "dim": dim},
    )
    return path


def _semantic_probe_plan(
    embeddings: DataFrame,
    index_bands: DataFrame,
    index_vecs: DataFrame,
    threshold: float,
    bands: int | None,
    rows_per_band: int | None,
    dim: int | None,
    seed: int,
    dedup_ttl: str | None = None,
) -> DataFrame:
    """The ONE semantic-probe plan, shared verbatim by the streaming
    hit probe (`semantic_probe_stream`) and the per-micro-batch
    verdict writer (`semantic_verdict_batches`) -- the DataFrame API
    is the same for batch and streaming inputs, so factoring the plan
    construction is what makes batch/stream drift impossible by
    construction (the PRE_GOPHER_REASONS lesson, applied here).

    Candidate rule: share ANY (band, sig) -- exactly
    `similarity.embedding_neardup_pairs`' collision condition (NO
    multiprobe; the ANN probe's Hamming-1 flip is a recall knob for
    top-k retrieval, not part of the SemDeDup pair definition).
    Verify: the same ordered-fold cosine, rounded to 6 BEFORE the
    threshold. Cosine is bit-symmetric (per-element products and the
    norm product commute exactly in IEEE 754), so the stream scoring
    cos(arriving, stored) equals the batch pair's cos(lower, higher)
    regardless of which side arrived."""
    from ..llmdata.similarity import (
        DEFAULT_NEARDUP_BANDS,
        DEFAULT_NEARDUP_ROWS,
        EMBEDDING_DIM,
        _band_sigs_udf,
        _dvec,
        cosine,
        gaussian_planes,
    )

    bands = DEFAULT_NEARDUP_BANDS if bands is None else bands
    rows_per_band = DEFAULT_NEARDUP_ROWS if rows_per_band is None else rows_per_band
    dim = EMBEDDING_DIM if dim is None else dim
    planes = gaussian_planes(bands * rows_per_band, dim, seed)
    sig_udf = _band_sigs_udf(planes, bands, rows_per_band)
    probe = embeddings.select(
        "vec_id",
        _dvec("embedding").alias("qvec"),
        sig_udf("embedding").alias("sigs"),
    ).select("vec_id", "qvec", F.posexplode("sigs").alias("band", "sig"))
    idx = index_bands.select(
        F.col("vec_id").alias("index_vec_id"), "band", "sig"
    )
    cands = _dedup_candidates(
        probe.join(idx, ["band", "sig"])
        .filter(F.col("vec_id") != F.col("index_vec_id"))
        .select("vec_id", "qvec", "index_vec_id"),
        ["vec_id", "index_vec_id"],
        dedup_ttl,
    )
    vecs = index_vecs.select(
        F.col("vec_id").alias("index_vec_id"), "vec"
    )
    return (
        cands.join(vecs, "index_vec_id")
        .select(
            "vec_id",
            "index_vec_id",
            F.round(cosine(F.col("qvec"), F.col("vec")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_probe_stream(
    embeddings: DataFrame,
    index_bands: DataFrame,
    index_vecs: DataFrame,
    threshold: float = 0.5,
    bands: int | None = None,
    rows_per_band: int | None = None,
    dim: int | None = None,
    seed: int = 42,
    dedup_ttl: str | None = None,
    index_path: str | None = None,
) -> DataFrame:
    """Streaming semantic near-dup detection: each arriving embedding
    probes the static band index (stream-static equi-join on
    (band, sig) -- the SemDeDup candidate rule, NO multiprobe, exactly
    `embedding_neardup_pairs`' collision condition) and verifies
    candidates with the same ordered-fold cosine, rounded to 6 before
    the threshold, so stream and batch scores are bit-identical.

    Output: (vec_id, index_vec_id, cos_sim) per verified hit --
    batch parity pinned by
    tests/test_streaming.py::test_streaming_semantic_probe_matches_batch
    (hit set == the symmetric expansion of `embedding_neardup_pairs`
    restricted to the streamed side). The capstone verdict derives
    downstream exactly as the batch `semantic_neardup` does -- use
    `semantic_verdict_batches` for that composition. Candidate dedup
    state: one row per distinct (vec_id, index_vec_id); at scale pass
    ``dedup_ttl`` to switch to the ingest-time-watermarked TTL'd form
    (`_dedup_candidates` -- state bounded, re-emission trade stated
    there).

    Pass ``index_path`` (the `write_semantic_index` root) to verify
    the probe's ``bands``/``rows_per_band``/``seed`` knobs against
    the STAMPED build knobs -- the ratio guard cannot catch a
    same-ratio/wrong-seed probe (different planes, silently empty
    candidates). Plan-construction verification only; nonce pinning
    stays on `semantic_verdict_batches`."""
    knobs, opt_knobs = _semantic_knobs(bands, rows_per_band, seed, dim)
    if index_path is not None:
        # kind before knobs (see ann_probe_stream)
        fp = _require_root_kind(
            embeddings.sparkSession, index_path, "semantic",
            "semantic near-dup", "semantic_probe_stream",
        )
        _require_stamped_knobs(
            embeddings.sparkSession, index_path, knobs,
            "semantic_probe_stream", fp=fp,
            optional_knobs=opt_knobs,
        )
    _require_band_ratio(
        index_bands, index_vecs, knobs["bands"], "semantic_probe_stream"
    )
    return _semantic_probe_plan(
        embeddings, index_bands, index_vecs, threshold,
        bands, rows_per_band, dim, seed, dedup_ttl,
    )


def semantic_verdict_batches(
    embeddings: DataFrame,
    index_bands: DataFrame,
    index_vecs: DataFrame,
    out_path: str,
    threshold: float = 0.5,
    bands: int | None = None,
    rows_per_band: int | None = None,
    dim: int | None = None,
    seed: int = 42,
    checkpoint: str | None = None,
    index_path: str | None = None,
    expected_fingerprint: str | None = None,
):
    """Streaming `semantic_duplicate` VERDICT writer: one row per
    arriving embedding -- (vec_id, keep, dup_of) -- the streaming
    counterpart of the batch capstone ladder's lowest-precedence
    reason (`curation.curation_pipeline_full` ->
    `dedup.semantic_neardup`), closing the one batch drop reason that
    had no working streaming analog.

    foreachBatch over the RAW embeddings stream (not the hit stream:
    a verdict surface must emit keep=true rows for docs with NO
    hits, which an inner-join hit stream cannot carry). Inside each
    micro-batch the probe is `_semantic_probe_plan` -- literally the
    same plan object construction as `semantic_probe_stream`, valid
    batch-side because a stream-static join makes every candidate of
    an arriving row batch-local. Verdict rule, identical to
    `semantic_neardup`: a row is a semantic duplicate iff any
    verified hit has index_vec_id < vec_id; dup_of = min such
    partner; ties and rounding inherited from the shared plan. Batch
    parity pinned by
    tests/test_streaming.py::test_streaming_semantic_verdict_matches_batch
    (self-probe of the corpus == `semantic_neardup`'s keep/dup_of
    columns row-for-row).

    ``index_path`` (the `write_semantic_index` root) pins the index
    version and additionally verifies the probe's
    ``bands``/``rows_per_band``/``seed`` knobs against the stamped
    build knobs (`_require_stamped_knobs`; a same-ratio/wrong-seed
    probe would silently emit keep=true for every row)."""
    # the pin-target contract (a caller error) is disjoint from the
    # artifact-state guards below -- it fires only with index_path
    # None, so the kind/knob checks (index_path required) cannot
    # shadow it; the family test pins that call shape. The read
    # fingerprint seeds the unpinned snapshot -- one read (r17
    # review).
    knobs, opt_knobs = _semantic_knobs(bands, rows_per_band, seed, dim)
    snapshot = None
    if index_path is not None:
        # kind before knobs (see ann_probe_stream)
        fp = _require_root_kind(
            embeddings.sparkSession, index_path, "semantic",
            "semantic near-dup", "semantic_verdict_batches",
        )
        _require_stamped_knobs(
            embeddings.sparkSession, index_path, knobs,
            "semantic_verdict_batches", fp=fp,
            optional_knobs=opt_knobs,
        )
        snapshot = fp.get("nonce")
    check = _pin_index(
        embeddings.sparkSession,
        index_path,
        expected_fingerprint,
        "semantic index at {path} was overwritten under a probe/verdict "
        "stream (fingerprint {now} != snapshot {expected}); rebuild the "
        "verdict stream against the new index instead",
        snapshot_nonce=snapshot,
    )
    _require_band_ratio(
        index_bands, index_vecs, knobs["bands"], "semantic_verdict_batches"
    )

    def plan(batch: DataFrame, _epoch: int):
        hits = _semantic_probe_plan(
            batch, index_bands, index_vecs, threshold,
            bands, rows_per_band, dim, seed,
        )
        drops = (
            hits.filter(F.col("index_vec_id") < F.col("vec_id"))
            .groupBy("vec_id")
            .agg(F.min("index_vec_id").alias("dup_of"))
        )
        return batch.select("vec_id").join(drops, "vec_id", "left").select(
            "vec_id", F.col("dup_of").isNull().alias("keep"), "dup_of"
        ), None

    return _serve_batches(embeddings, out_path, checkpoint, [check], plan)


# --- streaming curation capstone: the FULL ladder over offline artifacts ---

CURATION_STREAM_SCHEMA = "doc_id long, text string, lang string, source string"


def stream_documents_full(spark: SparkSession, dir_path: str) -> DataFrame:
    """`stream_documents` with the ``source`` column included -- the
    capstone ladder's eval_holdout reason needs it."""
    return (
        spark.readStream.schema(CURATION_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir_path)
    )


def write_curation_index(
    docs: DataFrame,
    embeddings: DataFrame,
    path: str,
    eval_source: str = "src0",
) -> str:
    """Persist EVERY offline artifact the full-ladder streaming
    curation verdict probes, under one fingerprinted root -- the
    corpus-build split taken to its conclusion: all corpus-wide
    signals (dedup indexes, eval passages) are batch-refreshed
    artifacts; the stream is pure probe.

      ``{path}/exact``      (text_hash, min_doc_id) -- exact-dup
                            canonical table; probing it makes the
                            stream's exact_duplicate DETERMINISTIC
                            (min-id rule), unlike `curation_stream`'s
                            arrival-order state (both are real modes:
                            this one is the corpus-rebuild shape, that
                            one the online-ingest shape). Stored as an
                            append-only LOG of partial MIN aggregates
                            (`append_curation_index` appends the
                            delta's; probes merge at stream start;
                            `compact_curation_index` bounds the merge)
      ``{path}/neardup``    the MinHash band index + shingles
                            (`write_neardup_index` layout)
      ``{path}/passages``   the eval passage-hash set
                            (`write_eval_passage_index` layout)
      ``{path}/sem``        the embedding band index + vectors
                            (`write_semantic_index` layout, its own
                            fingerprint)
      ``{path}/sem/embeddings`` (vec_id, embedding) raw float
                            vectors -- the lookup side for a document
                            stream that does NOT carry its embedding
                            (a stream that does skips this join)
      ``{path}/fingerprint`` root nonce (`index_fingerprint`)
    """
    (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("min_doc_id"))
        .write.mode("overwrite")
        .parquet(path + "/exact")
    )
    write_neardup_index(docs, path + "/neardup")
    write_eval_passage_index(docs, path + "/passages", eval_source)
    write_semantic_index(embeddings, path + "/sem")
    (
        embeddings.select("vec_id", "embedding")
        .write.mode("overwrite")
        .parquet(path + "/sem/embeddings")
    )
    _write_index_fingerprint(
        docs.sparkSession, path,
        {"kind": "curation", "eval_source": eval_source},
    )
    return path


def append_curation_index(
    docs: DataFrame,
    embeddings: DataFrame,
    path: str,
    eval_source: str = "src0",
) -> str:
    """Incremental artifact refresh: fold a corpus DELTA into an
    existing `write_curation_index` root WITHOUT recomputing the old
    corpus -- the refresh shape a 100 TB rolling corpus build
    actually runs (a full rebuild re-scans every byte ever ingested;
    the delta is what arrived since the last refresh).

    Why append is EXACT here, artifact by artifact:
      - neardup / sem bands / sem vecs / embeddings: every row is a
        per-document fact (signatures, shingles, vectors) -- no
        corpus-wide state -- so append IS rebuild. The one
        corpus-wide quantity on the doc side, the degenerate-bucket
        cap, is recomputed over the merged index at probe time
        (`neardup_probe_stream`), so a bucket crossing the cap only
        across increments is still skipped.
      - exact: an append-only LOG of partial MIN aggregates (the
        delta's (text_hash, min_doc_id) table appends; the probe
        merges with an associative MIN at stream start) -- the LSM
        discipline: writes are delta-sized, merge cost is paid by
        the reader once per stream, and a periodic compaction
        (rewrite the merged agg) is an optimization, never a
        correctness requirement.
      - passages: set-membership structure; duplicate hashes across
        increments are harmless (see `write_eval_passage_index`).

    The root fingerprint (and sem's) is re-stamped: an append CHANGES
    the index, so a verdict stream pinned to the old nonce fails
    loudly and restarts against the merged artifacts -- exactly the
    rebuild-under-a-running-stream rule.

    Equality with a one-shot build over the union corpus is pinned by
    tests/test_streaming.py::test_streaming_curation_append_equals_rebuild.

    Crash window (the `append_pq_index` concurrency-delta class): the
    five constituent appends below are sequential and the nonce
    re-stamp is LAST (the completion marker) -- a crash mid-fold
    leaves a partially-folded delta under the OLD nonce. Unlike the
    two-directory ANN artifacts there is no cheap cross-artifact row
    invariant to refuse on (the five sides have different
    granularities: per-text, per-(doc, band), per-passage, per-vec),
    so recovery is re-running the SAME delta after a compaction or a
    rebuild; probes running through the window see the torn view
    until the re-stamp fails them over."""
    # the target must be an existing (stamped) curation root: an
    # unstamped path is a torn build or a typo, and a root stamped as
    # a DIFFERENT kind would get five foreign directories interleaved
    # into it before any probe could notice (migration-tolerant:
    # pre-r17 curation stamps carry no kind)
    _require_root_kind(
        docs.sparkSession, path, "curation", "curation",
        "append_curation_index",
    )
    (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("min_doc_id"))
        .write.mode("append")
        .parquet(path + "/exact")
    )
    write_neardup_index(docs, path + "/neardup", mode="append")
    write_eval_passage_index(docs, path + "/passages", eval_source, mode="append")
    write_semantic_index(embeddings, path + "/sem", mode="append")
    (
        embeddings.select("vec_id", "embedding")
        .write.mode("append")
        .parquet(path + "/sem/embeddings")
    )
    _write_index_fingerprint(
        docs.sparkSession, path,
        {"kind": "curation", "eval_source": eval_source},
    )
    return path


def compact_curation_index(spark: SparkSession, path: str) -> str:
    """LSM compaction for the curation-artifact root: rewrite the
    exact-dup log as its merged MIN aggregate, collapsing N build
    increments' partial aggregates into one row per distinct text --
    bounds the probe-start merge (and the log's file count) after
    many `append_curation_index` calls. Pure optimization: the
    reader-side merge in `curation_verdict_batches` is already exact
    without it, so compaction can run at any cadence (typically when
    the log's increment count or small-file count crosses a
    threshold).

    Write discipline: `_compact_parquet_dir`'s tmp/backup/rename swap
    (every crash point leaves a recoverable exact
    table; the merge reads the live dir lazily, so it lands in the
    temp dir before the live dir moves aside). The fingerprint is
    re-stamped: compaction changes the on-disk fileset, and a probe
    stream's static plan holds the OLD file listing, so pinned
    running streams must fail over exactly as they do for appends.
    The band-side dirs hold per-doc facts with nothing to merge, so
    only the small-files motivation applies there and is left to the
    storage layer."""
    _compact_parquet_dir(
        spark,
        path + "/exact",
        merged=spark.read.parquet(path + "/exact")
        .groupBy("text_hash")
        .agg(F.min("min_doc_id").alias("min_doc_id")),
    )
    return restamp_index(spark, path)


def curation_verdict_batches(
    docs: DataFrame,
    index_path: str,
    out_path: str,
    quality_threshold: float | None = None,
    neardup_threshold: float | None = None,
    keep_lang: str | None = None,
    max_repetition: float = 0.2,
    eval_source: str = "src0",
    semantic_threshold: float = 0.5,
    checkpoint: str | None = None,
):
    """Streaming FULL-curation capstone: every arriving document gets
    the complete batch-ladder verdict by probing the
    `write_curation_index` artifacts -- the streaming counterpart of
    `curation.curation_pipeline_full`, schema- and value-identical to
    it when the artifacts were built from the corpus being replayed:

      eval_holdout > contaminated > non_english > low_quality >
      gopher_fail > repetitious > exact_duplicate > near_duplicate >
      semantic_duplicate

    foreachBatch over the raw document stream (`stream_documents_full`
    -- the ladder needs ``source``), one verdict row per arrival.
    Every reason is either a stateless per-row expression (the same
    Column builders the batch ladder uses) or a probe against a
    static artifact whose batch parity is individually pinned
    (`neardup_probe_stream`, `contamination_probe_stream`,
    `_semantic_probe_plan`, and the exact min-id table) -- valid per
    batch because static-side joins make every signal of an arriving
    row batch-local. `is_contaminated` is gated on source !=
    eval_source, mirroring the batch scan which scores only train
    docs (an eval doc trivially contains its own passages). Batch
    parity pinned by
    tests/test_streaming.py::test_streaming_curation_full_matches_batch.

    The root is REQUIRED and always pinned: its nonce is snapshotted
    at call time and re-checked per batch. The exact-mode
    contamination set is re-collected per micro-batch (eval suites
    are tiny); a long-running deployment hoists the Bloom build
    outside the loop (`contamination_probe_stream(mode="bloom")`) and
    accepts its documented conservative-approximate semantics.
    Storage lifecycle: the persisted artifact frames live until the
    session drops them -- a host that starts many verdict streams
    against different roots should unpersist the previous stream's
    frames (or `spark.catalog.clearCache()`) when a stream finishes;
    executor storage is index-sized per root."""
    from ..llmdata.curation import (
        DEFAULT_KEEP_LANG,
        DEFAULT_NEARDUP_JACCARD,
        DEFAULT_QUALITY_THRESHOLD,
    )
    from ..llmdata.text import repetition_score

    quality_threshold = (
        DEFAULT_QUALITY_THRESHOLD if quality_threshold is None else quality_threshold
    )
    neardup_threshold = (
        DEFAULT_NEARDUP_JACCARD if neardup_threshold is None else neardup_threshold
    )
    keep_lang = DEFAULT_KEEP_LANG if keep_lang is None else keep_lang

    spark = docs.sparkSession
    # verify the root IS a curation root before snapshotting its nonce
    # (migration-tolerant: pre-r17 stamps carry no kind --
    # `_require_root_kind`); the read fingerprint IS the snapshot
    check = _pin_index(
        spark,
        index_path,
        None,
        "curation index at {path} was overwritten under a running "
        "verdict stream (fingerprint {now} != snapshot {expected}); "
        "rebuild the verdict stream against the new artifacts instead",
        snapshot_nonce=_require_root_kind(
            spark, index_path, "curation", "curation",
            "curation_verdict_batches",
        )["nonce"],
    )
    # persist every static side ONCE: a stream-static join re-executes
    # the static plan every micro-batch, so without this each batch
    # re-scans the artifact parquet (and re-runs the exact-log merge).
    # Persisted, the per-batch cost is a memory read; the artifacts are
    # index-sized, the same storage class the batch engine persists for
    # its build-once-probe-many indexes (dedup._plan_cached). The
    # exact table is an append-only log of partial MIN aggregates, so
    # it is merged here (the LSM read side of `append_curation_index`).
    exact_idx = (
        spark.read.parquet(index_path + "/exact")
        .groupBy("text_hash")
        .agg(F.min("min_doc_id").alias("min_doc_id"))
        .persist()
    )
    neardup_idx = spark.read.parquet(index_path + "/neardup").persist()
    passages = spark.read.parquet(index_path + "/passages").persist()
    sem_bands = spark.read.parquet(index_path + "/sem/bands").persist()
    sem_vecs = spark.read.parquet(index_path + "/sem/vecs").persist()
    embeddings = spark.read.parquet(index_path + "/sem/embeddings").persist()

    def plan(batch: DataFrame, _epoch: int):
        qc = quality_columns(F.col("text"))
        sig = batch.select(
            "doc_id",
            "text",
            "source",
            qc["n_tokens"].alias("n_tokens"),
            qc["quality_score"].alias("quality_score"),
            predicted_lang_column(F.col("text")).alias("predicted_lang"),
            gopher_keep_column(F.col("text")).alias("_gopher_keep"),
            F.md5(F.col("text")).alias("text_hash"),
        )
        rep = repetition_score(batch).select("doc_id", "repetition_rate")
        cont = contamination_probe_stream(
            batch, passages, mode="exact"
        ).select("doc_id", F.col("is_contaminated").alias("_cont_hit"))
        nd = (
            neardup_probe_stream(
                batch, neardup_idx, threshold=neardup_threshold
            )
            .filter(F.col("index_doc_id") < F.col("doc_id"))
            .select("doc_id")
            .distinct()
            .withColumn("_is_near_dup", F.lit(True))
        )
        sem = (
            _semantic_probe_plan(
                batch.select("doc_id")
                .join(embeddings, F.col("doc_id") == F.col("vec_id"))
                .select("vec_id", "embedding"),
                sem_bands,
                sem_vecs,
                semantic_threshold,
                None,
                None,
                None,
                42,
            )
            .filter(F.col("index_vec_id") < F.col("vec_id"))
            .groupBy(F.col("vec_id").alias("doc_id"))
            .agg(F.min("index_vec_id").alias("dup_of"))
        )
        joined = (
            sig.join(exact_idx, "text_hash", "left")
            .join(rep, "doc_id")
            .join(cont, "doc_id", "left")
            .join(nd, "doc_id", "left")
            .join(sem, "doc_id", "left")
        )
        is_cont = (F.col("source") != F.lit(eval_source)) & F.coalesce(
            F.col("_cont_hit"), F.lit(False)
        )
        is_exact_dup = F.coalesce(
            F.col("min_doc_id") < F.col("doc_id"), F.lit(False)
        )
        is_near_dup = F.coalesce(F.col("_is_near_dup"), F.lit(False))
        is_sem_dup = F.col("dup_of").isNotNull()
        reason = (
            F.when(F.col("source") == eval_source, "eval_holdout")
            .when(is_cont, "contaminated")
            .when(F.col("predicted_lang") != keep_lang, "non_english")
            .when(F.col("quality_score") < quality_threshold, "low_quality")
            .when(~F.col("_gopher_keep"), "gopher_fail")
            .when(F.col("repetition_rate") > max_repetition, "repetitious")
            .when(is_exact_dup, "exact_duplicate")
            .when(is_near_dup, "near_duplicate")
            .when(is_sem_dup, "semantic_duplicate")
        )
        return joined.select(
            "doc_id",
            "predicted_lang",
            "quality_score",
            "n_tokens",
            "repetition_rate",
            is_cont.alias("is_contaminated"),
            (~F.col("_gopher_keep")).alias("is_gopher_fail"),
            is_sem_dup.alias("is_semantic_dup"),
            "dup_of",
            reason.alias("drop_reason"),
            reason.isNull().alias("kept"),
        ), None

    return _serve_batches(docs, out_path, checkpoint, [check], plan)


# --- streaming retrieve-then-rerank (the RAG serving pattern) --------------


def write_rerank_index(
    embeddings: DataFrame,
    path: str,
    n_bits: int | None = None,
    dim: int | None = None,
    seed: int = 42,
    mode: str = "overwrite",
) -> str:
    """Persist the signed corpus the streaming rerank probe retrieves
    from: (vec_id, label, vec, words) -- the packed wide-SimHash
    signatures + exact vectors of `similarity._signed_corpus`, same
    literal planes as the batch `cross_encoder_rerank` path so stream
    and batch candidate sets coincide. Rows are per-vector facts, so
    a corpus delta appends exactly (``mode="append"``); fingerprint
    re-stamps either way. An APPEND whose ``n_bits``/``seed`` knobs
    disagree with the existing stamp refuses (r17 review -- it would
    sign the delta with different planes/word-count than the stored
    corpus AND bless them in the re-stamp), as does an append onto a
    root stamped as a different kind (five foreign rows in someone
    else's artifact plus a bricked fingerprint)."""
    from ..llmdata.similarity import DEFAULT_SIG_BITS, EMBEDDING_DIM, _signed_corpus

    n_bits = DEFAULT_SIG_BITS if n_bits is None else n_bits
    dim = EMBEDDING_DIM if dim is None else dim
    mode = mode.lower()  # writer modes are case-insensitive downstream
    if mode == "append":
        _require_append_knobs(
            embeddings.sparkSession,
            path,
            {"n_bits": n_bits, "seed": seed},
            "write_rerank_index",
            kind="rerank",
            display="rerank",
            data_dir="corpus",
            # dim parameterizes the planes exactly like n_bits/seed but
            # is stamped only since r17 -- checked when present (r17
            # second review)
            optional_knobs={"dim": dim},
        )
        # a retried delta must not land twice: duplicated corpus rows
        # rank into consecutive top-k slots and push genuine neighbors
        # out (the append family's shared rule; r17 second review)
        from pyspark.errors import AnalysisException

        try:
            existing = embeddings.sparkSession.read.parquet(
                path + "/corpus"
            )
        except AnalysisException:
            existing = None  # fresh root: generation 0 appends cleanly
        if existing is not None:
            _require_disjoint_delta(
                embeddings.select("vec_id"), existing, "write_rerank_index"
            )
    (
        _signed_corpus(embeddings, n_bits, dim, seed)
        .write.mode(mode)
        .parquet(path + "/corpus")
    )
    _write_index_fingerprint(
        embeddings.sparkSession, path,
        {"kind": "rerank", "n_bits": n_bits, "seed": seed, "dim": dim},
    )
    return path


def rerank_topk_batches(
    queries: DataFrame,
    index_corpus: DataFrame,
    out_path: str,
    k: int = 5,
    n_bits: int | None = None,
    radius: int | None = None,
    dim: int | None = None,
    seed: int = 42,
    model_stub: bool = True,
    checkpoint: str | None = None,
    index_path: str | None = None,
    expected_fingerprint: str | None = None,
):
    """Streaming two-stage retrieve-then-rerank -- the RAG serving
    loop as a stream: each arriving query vector retrieves its
    Hamming-radius candidate set from the static signed corpus
    (broadcast the tiny ARRIVING side against the corpus-sized static
    side -- the same build-side asymmetry as the batch path, where
    queries broadcast), then the cross-encoder kernel scores only
    those pairs and a per-micro-batch window keeps the top k (valid
    per batch for the usual stream-static reason: every candidate of
    an arriving query is batch-local).

    Mirrors `similarity.cross_encoder_rerank` exactly -- same planes,
    same deterministic bilinear default scorer
    (`cross_encoder_weights` literals), same round-6-then-rank with
    (score DESC, vec_id) ties -- batch parity pinned by
    tests/test_streaming.py::test_streaming_rerank_matches_batch.
    The injectable-model slot (``model_stub=False``) raises in this
    container, exactly like the batch path. The expensive model
    forward pass stays Arrow-batched, so a GPU-backed scorer slots in
    without plan changes."""
    from pyspark.sql import Window

    from ..llmdata.similarity import (
        DEFAULT_HAMMING_RADIUS,
        DEFAULT_SIG_BITS,
        EMBEDDING_DIM,
        _cross_encoder_udf,
        _signed_corpus,
        hamming,
    )

    n_bits = DEFAULT_SIG_BITS if n_bits is None else n_bits
    radius = DEFAULT_HAMMING_RADIUS if radius is None else radius
    dim = EMBEDDING_DIM if dim is None else dim
    n_words = (n_bits + 63) // 64
    score = _cross_encoder_udf(dim, seed, model_stub)

    snapshot = None
    if index_path is not None:
        # the nonce pin names a root; verify it IS this kind of root
        # (migration-tolerant: pre-r17 stamps carry no kind), then the
        # probe knobs against the stamp -- a same-kind root built at a
        # different n_bits/seed signs queries with different planes/
        # word-count than the stored corpus, so the Hamming filter
        # compares garbage and the candidate set is silently wrong
        # (the r15 banded blind-spot class, r17 review). The read
        # fingerprint seeds the unpinned snapshot -- one read.
        fp = _require_root_kind(
            queries.sparkSession, index_path, "rerank", "rerank",
            "rerank_topk_batches",
        )
        _require_stamped_knobs(
            queries.sparkSession,
            index_path,
            {"n_bits": n_bits, "seed": seed},
            "rerank_topk_batches",
            fp=fp,
            optional_knobs={"dim": dim},
        )
        snapshot = fp.get("nonce")
    check = _pin_index(
        queries.sparkSession,
        index_path,
        expected_fingerprint,
        "rerank index at {path} was overwritten under a probe stream "
        "(fingerprint {now} != snapshot {expected}); rebuild the probe "
        "stream against the new index instead",
        snapshot_nonce=snapshot,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rerank_score").desc(), F.col("vec_id")
    )

    def plan(batch: DataFrame, _epoch: int):
        qs = _signed_corpus(batch, n_bits, dim, seed).select(
            F.col("vec_id").alias("query_id"),
            F.col("vec").alias("qvec"),
            F.col("words").alias("qwords"),
        )
        scored = (
            index_corpus.crossJoin(F.broadcast(qs))
            .filter(F.col("vec_id") != F.col("query_id"))
            .filter(hamming(F.col("words"), F.col("qwords"), n_words) <= radius)
            .select(
                "query_id",
                "vec_id",
                "label",
                F.round(score(F.col("qvec"), F.col("vec")), 6).alias(
                    "rerank_score"
                ),
            )
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "label", "rank", "rerank_score")
        ), None

    return _serve_batches(queries, out_path, checkpoint, [check], plan)


def _dense_cosine_topk(
    batch: DataFrame,
    index_vecs: DataFrame,
    k: int,
    exclude_self: bool = True,
) -> DataFrame:
    """Per-arrival exact cosine ranking against the static corpus --
    the retrieval block `knn_classify_batches` and
    `hybrid_rrf_batches` share (it must stay bit-identical to
    `similarity.brute_force_topk`: per-row norms, HOF-fold dot,
    (_cos DESC, vec_id) rank ties -- both streams' batch parities pin
    through it, so it is defined ONCE). Arriving side broadcasts;
    returns (query_id, vec_id, label, _cos, rank) with rank <= k.

    ``exclude_self`` keeps the leave-one-out filter (vec_id !=
    query_id) the corpus-vector query forms need; endpoints whose
    query_id is an EXTERNAL request id (the keyword hybrid) must pass
    False, or an id that happens to collide with a corpus doc_id
    silently loses that doc from its rank list (r14 ADVICE)."""
    from pyspark.sql import Window

    from ..llmdata.similarity import _dvec, dot

    qs = batch.select(
        F.col("vec_id").alias("query_id"),
        _dvec("embedding").alias("qvec"),
    ).withColumn("qnorm", F.sqrt(dot(F.col("qvec"), F.col("qvec"))))
    corpus = index_vecs.select(
        "vec_id", F.col("vec").alias("cvec"), "label"
    ).withColumn("cnorm", F.sqrt(dot(F.col("cvec"), F.col("cvec"))))
    paired = corpus.crossJoin(F.broadcast(qs))
    if exclude_self:
        paired = paired.filter(F.col("vec_id") != F.col("query_id"))
    scored = (
        paired
        .select(
            "query_id",
            "vec_id",
            "label",
            (
                dot(F.col("qvec"), F.col("cvec"))
                / (F.col("qnorm") * F.col("cnorm"))
            ).alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def knn_classify_batches(
    queries: DataFrame,
    index_vecs: DataFrame | None,
    out_path: str,
    k: int = 5,
    checkpoint: str | None = None,
    index_path: str | None = None,
    expected_fingerprint: str | None = None,
    exclude_self: bool = True,
    ann_index_path: str | None = None,
    n_probe: int = 2,
    ann_shortlist: int | None = None,
):
    """Streaming k-NN classification: each arriving query vector is
    labeled by majority vote over its exact top-k cosine neighbors in
    the static corpus -- the online-serving form of
    `similarity.knn_label_vote`, same rules end to end (per-row
    norms, HOF-fold dot, (cos DESC, vec_id) rank ties, (votes DESC,
    label ASC) vote ties). Retrieval is the brute-force path: the
    arriving batch broadcasts against the corpus-sized static side
    (the `ann_probe_stream` family is the sub-linear alternative when
    exactness of the NEIGHBOR SET can be traded). Reuses
    `write_ann_index`'s ``vecs`` artifact -- (vec_id, label, vec) is
    exactly the corpus this needs, no new writer. Batch parity pinned
    by tests/test_streaming.py::test_streaming_knn_classify_matches_batch.

    Output: (query_id, predicted_label, votes) per arriving query.
    ``index_path`` pins the vecs root (r14: a vecs rebuild under a
    running classify stream would otherwise silently mix corpus
    versions across micro-batches).

    ``exclude_self`` defaults True -- the leave-one-out rule the batch
    twin `knn_label_vote` pins parity against (queries replayed FROM
    the corpus must not vote for themselves). When arriving query ids
    are EXTERNAL request ids, pass False, or an id colliding with a
    corpus vec_id silently loses that neighbor (the r15 keyword-hybrid
    fix, same class).

    Pass ``ann_index_path`` (any servable dense root -- the composed
    `write_ivfpq_index` / `write_ivf_matryoshka_index` /
    `write_ivf_quant_index` cascades or the plain `write_pq_index` /
    `write_ivf_index` / `write_matryoshka_index` / `write_quant_index`
    layouts; the retriever dispatches on the stamped kind) to serve the
    neighbor retrieval through that index's plan instead of the brute scan
    (`_ann_dense_retriever`; ``n_probe`` /
    ``ann_shortlist`` are the budget knobs, shortlist defaulting to
    the family's corpus/8). ``index_vecs`` is then unused (pass
    None); the nonce pin defaults to the SAME root so the dense
    constituent cannot rotate unpinned -- an explicit ``index_path``
    naming a DIFFERENT root refuses (a contradiction, not a second
    pin)."""
    from pyspark.sql import Window

    index_path, retrieve, snapshot = _resolve_dense_constituent(
        queries.sparkSession, index_vecs, ann_index_path, index_path,
        n_probe, ann_shortlist, exclude_self, "knn_classify_batches",
    )
    check = _pin_index(
        queries.sparkSession,
        index_path,
        expected_fingerprint,
        "ANN index at {path} was overwritten under a classify stream "
        "(fingerprint {now} != snapshot {expected}); rebuild the stream "
        "against the new index instead",
        snapshot_nonce=snapshot,
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label")
    )

    def plan(batch: DataFrame, _epoch: int):
        topk, cleanup = retrieve(batch, k)
        votes = topk.groupBy("query_id", "label").agg(
            F.count(F.lit(1)).alias("votes")
        )
        return (
            votes.withColumn("_r", F.row_number().over(wv))
            .filter(F.col("_r") == 1)
            .select(
                "query_id", F.col("label").alias("predicted_label"), "votes"
            )
        ), cleanup

    return _serve_batches(queries, out_path, checkpoint, [check], plan)


def hybrid_rrf_batches(
    queries: DataFrame,
    docs: DataFrame,
    index_vecs: DataFrame | None,
    out_path: str,
    fusion_k: int | None = None,
    top_k: int | None = None,
    checkpoint: str | None = None,
    index_path: str | None = None,
    expected_fingerprint: str | None = None,
    ann_index_path: str | None = None,
    n_probe: int = 2,
    ann_shortlist: int | None = None,
):
    """Streaming hybrid retrieval: each arriving query vector gets the
    fused BM25 + cosine top-k under reciprocal-rank fusion -- the
    online-serving form of `similarity.hybrid_rrf_topk_per_query`,
    completing the serving family (ann probe, rerank, knn classify)
    with the hybrid composition a RAG stack actually deploys.

    The LEXICAL list is query-independent (the fixed keyword query),
    so it is computed ONCE from the static corpus at stream
    construction -- through `similarity.lex_ranked`, the same ranking
    the batch forms use, collected as a <= fusion_k-row literal (a
    bounded driver-side artifact, same class as the PQ codebook
    collects). Re-running the corpus tokenize every micro-batch would
    pay the full scan per batch for an unchanged answer. The DENSE
    list is per arriving query against `write_ann_index`'s vecs
    artifact via the shared `_dense_cosine_topk` retrieval block;
    fusion rules are the batch plan's verbatim (_rrf_score_sql
    fragment, same tie-breaks), so per-query outputs equal the batch
    twin row-for-row -- pinned by
    tests/test_streaming.py::test_streaming_hybrid_rrf_matches_batch.

    Because BOTH constituents are snapshots of construction-time
    artifacts (the collected lexical list, the signed corpus), a
    corpus/index refresh under a running stream would silently mix
    index versions in the fused output -- pass ``index_path`` (and
    optionally the pinned ``expected_fingerprint``) to get the loud
    per-batch failover of the serving protocol.

    Output: (query_id, doc_id, lex_rank, cos_rank, rrf_score), top_k
    rows per arriving query.

    Pass ``ann_index_path`` (any servable dense root, seven kinds --
    see `_ann_dense_retriever`) to
    serve the dense constituent through that index's cascade instead
    of the brute vecs scan --
    the `hybrid_rrf_keyword_batches` contract: ``index_vecs`` is then
    unused (pass None), the nonce pin defaults to the same root, and
    an ``index_path`` naming a DIFFERENT root refuses. The
    leave-one-out filter stays ON here (corpus-replayed query ids,
    unlike the keyword endpoint's external request ids)."""
    from pyspark.sql import Window

    from ..llmdata.similarity import (
        HYBRID_FUSION_K,
        HYBRID_TOP_K,
        _rrf_score_sql,
        lex_ranked,
    )

    fusion_k = HYBRID_FUSION_K if fusion_k is None else fusion_k
    top_k = HYBRID_TOP_K if top_k is None else top_k

    index_path, retrieve, snapshot = _resolve_dense_constituent(
        queries.sparkSession, index_vecs, ann_index_path, index_path,
        n_probe, ann_shortlist, True, "hybrid_rrf_batches",
    )
    check = _pin_index(
        queries.sparkSession,
        index_path,
        expected_fingerprint,
        "hybrid index at {path} was overwritten under a probe stream "
        "(fingerprint {now} != snapshot {expected}); the lexical list "
        "and dense corpus are construction-time snapshots -- rebuild "
        "the stream against the new index instead",
        snapshot_nonce=snapshot,
    )
    lex_rows = [
        (int(r["doc_id"]), int(r["lex_rank"]))
        for r in lex_ranked(docs, fusion_k).collect()
    ]
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )

    def plan(batch: DataFrame, _epoch: int):
        lex = batch.sparkSession.createDataFrame(
            lex_rows, "doc_id long, lex_rank int"
        )
        ranked, cleanup = retrieve(batch, fusion_k)
        dense = ranked.select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.col("rank").alias("cos_rank"),
        )
        qids = batch.select(F.col("vec_id").alias("query_id")).distinct()
        fused = qids.crossJoin(F.broadcast(lex)).join(
            dense, ["query_id", "doc_id"], "full_outer"
        )
        return (
            fused.withColumn("rrf_score", F.expr(_rrf_score_sql()))
            .withColumn("_r", F.row_number().over(wf))
            .filter(F.col("_r") <= top_k)
            .select("query_id", "doc_id", "lex_rank", "cos_rank", "rrf_score")
        ), cleanup

    return _serve_batches(queries, out_path, checkpoint, [check], plan)


# --- streaming source-drift monitoring (baseline artifact + probe) ---------


def write_drift_baseline(
    docs: DataFrame, embeddings: DataFrame, path: str
) -> str:
    """Persist the per-source embedding-centroid BASELINE the drift
    probe compares arrivals against: (source, pos, n_vecs, _mu) in
    integer micro-units (`similarity.source_micro_means` -- the same
    exact-arithmetic table `emb_source_drift` pairs on), under one
    fingerprinted root (``path/means`` + ``path/fingerprint``). The
    baseline is corpus-wide state, so it is batch-refreshed and
    re-stamped like every other offline artifact; a probe stream
    pinned to the old nonce fails loudly (the rebuild-under-a-
    running-stream rule)."""
    src = docs.select(F.col("doc_id").alias("vec_id"), "source")
    from ..llmdata.similarity import source_micro_means

    (
        source_micro_means(embeddings.join(src, "vec_id"))
        .write.mode("overwrite")
        .parquet(path + "/means")
    )
    _write_index_fingerprint(
        docs.sparkSession, path, {"kind": "drift_baseline"}
    )
    return path


def drift_against_baseline(
    embs_sourced: DataFrame, baseline_means: DataFrame
) -> DataFrame:
    """Batch twin of the streaming drift verdict: per source, the
    squared L2 distance (micro-unit exact, reported as one IEEE
    division) between the ARRIVING set's centroid and the baseline
    centroid -- `source_drift`'s arithmetic pointed at a pinned
    reference instead of pairwise. A source ABSENT from the baseline
    emits NULL n_baseline/drift_l2sq: the new-source signal rides in
    the data (a dashboard alerts on it) rather than failing the
    batch. A source PRESENT in the baseline whose arriving embedding
    dimension disagrees with the baseline's (either direction) emits
    NULL drift_l2sq with n_baseline kept non-NULL: schema drift must
    surface as a signal, not as a silently underestimated sum over
    the positions that happened to align (r12 ADVICE -- F.sum skips
    NULL diff terms). Input needs (source, embedding) columns."""
    from ..llmdata.similarity import source_micro_means

    cur = source_micro_means(embs_sourced).select(
        "source",
        "pos",
        F.col("n_vecs").alias("_nc"),
        F.col("_mu").alias("_mc"),
    )
    base = baseline_means.select(
        "source",
        "pos",
        F.col("n_vecs").alias("_nb"),
        F.col("_mu").alias("_mb"),
    )
    # catalog-sized (one row per baseline source): the denominator for
    # the dims-agree check in BOTH directions -- a left join alone
    # cannot see baseline positions the arrivals never reached
    base_dims = baseline_means.groupBy("source").agg(
        F.count("pos").alias("_pos_base")
    )
    d = F.col("_mc") - F.col("_mb")
    per_source = (
        cur.join(base, ["source", "pos"], "left")
        .groupBy("source")
        .agg(
            F.max("_nc").alias("n_arrived"),
            F.max("_nb").alias("n_baseline"),
            F.count("pos").alias("_pos_arrived"),
            F.count("_mb").alias("_pos_matched"),
            F.sum(d * d).alias("_ss"),
        )
    )
    dims_agree = (F.col("_pos_matched") == F.col("_pos_arrived")) & (
        F.col("_pos_matched") == F.col("_pos_base")
    )
    return per_source.join(base_dims, "source", "left").select(
        "source",
        "n_arrived",
        "n_baseline",
        F.when(dims_agree, F.col("_ss").cast("double") / F.lit(1e12)).alias(
            "drift_l2sq"
        ),
    )


def drift_verdict_batches(
    embs_sourced: DataFrame,
    baseline_path: str,
    out_path: str,
    checkpoint: str | None = None,
    expected_fingerprint: str | None = None,
):
    """Streaming drift monitor: every micro-batch of (source,
    embedding) arrivals gets a per-source drift verdict against the
    fingerprinted baseline -- the corpus-monitoring stream beside the
    curation capstone (probe-everything: the baseline is static,
    per-batch cost is O(|batch| x dim) + a catalog-sized join; no
    corpus-wide aggregation ever happens on the stream).

    Emits (batch_id, source, n_arrived, n_baseline, drift_l2sq) rows
    appended to ``out_path``; a baseline rebuild under the running
    stream fails loudly per the fingerprint rule. Parity pinned by
    tests/test_streaming.py::test_streaming_drift_matches_batch
    (per-batch rows == `drift_against_baseline` of the same slice;
    replaying the baseline corpus itself in one batch gives drift
    exactly 0.0 per source).

    ``expected_fingerprint``: a supervisor restarting the probe
    passes the nonce it pinned at deployment time, so a baseline
    rebuild across the restart is caught too -- at the first batch,
    like a rebuild under the running stream (the default snapshots
    the nonce at call time, which only guards WITHIN one run)."""
    spark = embs_sourced.sparkSession
    check = _pin_index(
        spark,
        baseline_path,
        None,
        "drift baseline at {path} was rebuilt under a running probe "
        "stream (fingerprint {now} != snapshot {expected}); restart the "
        "stream against the new baseline",
        snapshot_nonce=expected_fingerprint,
    )
    baseline = spark.read.parquet(baseline_path + "/means").persist()
    return _serve_batches(
        embs_sourced, out_path, checkpoint, [check],
        lambda batch, epoch: (
            drift_against_baseline(batch, baseline).withColumn(
                "batch_id", F.lit(epoch).cast("long")
            ),
            None,
        ),
    )


# --- streaming leakage-safe split (assignment serving, r14) -----------------


def write_split_index(
    docs: DataFrame,
    path: str,
    threshold: float = 0.2,
    max_bucket_size: int = 1000,
) -> str:
    """Persist the artifacts the streaming split-assignment probe
    needs: the LSH band+shingle index (``path/bands``, the
    `write_neardup_index` layout -- the probe's candidate/verify
    side) and the corpus's near-dup CLUSTER labels
    (``path/clusters``: (doc_id, cluster_id), the
    `dedup.neardup_clusters` output the batch datasheet
    `curation.leakage_safe_split` draws splits from), stamped with
    the serving family's fingerprint nonce. Both artifacts are
    per-doc facts; the labels are the one piece of corpus-wide state
    (connected components), which is exactly why assignment must be
    served FROM them rather than recomputed per batch.

    ``threshold`` / ``max_bucket_size`` are BUILD-TIME knobs baked
    into the cluster labels, so they are stamped into the fingerprint
    and `split_verdict_batches` refuses an index_path-pinned stream
    whose own knobs differ -- a probe at a different threshold than
    the clusters were built with silently voids the leakage
    guarantee (r14 review)."""
    from ..llmdata.dedup import neardup_clusters

    spark = docs.sparkSession
    write_neardup_index(docs, path + "/bands")
    (
        neardup_clusters(
            docs, threshold=threshold, max_bucket_size=max_bucket_size
        )
        .select("doc_id", "cluster_id")
        .write.mode("overwrite")
        .parquet(path + "/clusters")
    )
    _write_index_fingerprint(
        spark,
        path,
        {
            "kind": "split",
            "threshold": threshold,
            "max_bucket_size": max_bucket_size,
        },
    )
    return path


# intra-batch near-dup pairs under this cap resolve by driver
# union-find (one bounded collect, ~a few MB of longs at the cap)
# instead of the distributed propagation rounds -- see the _emit
# comment in split_verdict_batches
_SPLIT_SMALL_GRAPH_CAP = 100_000


def _unionfind_min_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Component-MIN labels for every vertex touched by ``edges`` --
    the driver-side twin of `dedup._label_components`' fixpoint
    (labels are doc_ids; each vertex's label is the minimum doc_id in
    its component). Union by min root: attaching the larger root
    under the smaller keeps every tree's root equal to its
    component's minimum inserted element, and all members are
    inserted (both endpoints of every edge). Randomized equivalence
    vs an independent BFS reference is pinned in
    tests/test_streaming.py::test_unionfind_min_labels_randomized."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def split_verdict_batches(
    docs: DataFrame,
    index_bands: DataFrame,
    index_clusters: DataFrame,
    out_path: str,
    threshold: float = 0.2,
    max_bucket_size: int = 1000,
    salt: str | None = None,
    checkpoint: str | None = None,
    index_path: str | None = None,
    expected_fingerprint: str | None = None,
):
    """Streaming leakage-safe train/val/test ASSIGNMENT: each arriving
    document gets (doc_id, cluster_id, split) -- the online-serving
    form of the batch datasheet's assignment rule
    (`curation.leakage_safe_split`), completing the curation-serving
    story the way `curation_verdict_batches` did for the drop ladder.

    Assignment rule, per micro-batch (foreachBatch -- a verdict
    surface must emit rows for docs with NO near-dup hits too):

    1. Arrivals probe the static band index (`neardup_probe_stream`'s
       plan, batch-side valid for the usual stream-static reason) and
       verified hits join the stored cluster labels.
    2. Arrivals ALSO near-dup-link among themselves
       (`dedup.neardup_pairs` + `_label_components` on the
       batch-sized graph -- bounded by the micro-batch, never the
       corpus), so two mutual near-dups arriving together can never
       straddle a split even when neither touches the corpus.
    3. Each batch-local component's cluster is the MINIMUM stored
       cluster label any member verifiably joins, else the
       component's own min doc_id (the `neardup_clusters` labeling
       rule extended to arrivals); the split is the SAME deterministic
       md5 draw (`curation.split_assignment_column`) -- so a doc
       joining existing cluster c inherits exactly the split the
       batch datasheet gave c, and near-dups of training docs can
       never leak into val/test.

    Replaying the indexed corpus through the stream reproduces the
    batch assignment row-for-row in ANY batching (every partner is in
    the index, so each doc's component minimum is reachable through
    its direct hits) -- pinned by
    tests/test_streaming.py::test_streaming_split_matches_batch. This
    holds on degenerate-bucket corpora too: the co-link anti-joins
    the INDEX's over-cap buckets, so a micro-batch slice of a bucket
    the corpus-wide build dropped (under-cap locally, over-cap
    globally) can never link pairs the batch build did not (r14
    review; pinned by the over-cap parity test).

    Documented append-only deltas (inherent to serving assignments
    from a frozen artifact, resolved by the periodic batch rebuild --
    the LSM-refresh story): (a) two near-dup arrivals in DIFFERENT
    micro-batches each resolve independently against the corpus and
    may straddle if neither hits it; (b) an arrival bridging two
    existing clusters inherits the smaller label, but cannot
    retroactively merge the clusters' previously drawn splits."""
    from ..llmdata.curation import SPLIT_SALT, split_assignment_column
    from ..llmdata.dedup import _label_components, neardup_pairs

    salt = SPLIT_SALT if salt is None else salt

    snapshot = None
    if index_path is not None:
        # build/serve knob consistency (r14 review): the cluster labels
        # were built at the stamped threshold/cap; probing at different
        # knobs silently voids the leakage guarantee (a 0.3-jaccard
        # near-dup of a training doc would fail a 0.5 probe verify and
        # draw an independent split). Old artifacts without the stamps
        # are refused too -- rebuild with the stamping writer. r17:
        # kind verified first (a foreign root previously refused via
        # the misleading "predates the stamping writer" message), and
        # the one read seeds the pin snapshot. STRICT check: the
        # split writer has stamped kind="split" since its first
        # commit, so no kind-less split roots exist, and the
        # migration-tolerant form would still mislead on a legacy
        # kind-LESS foreign root (r17 fourth review).
        fp = _read_stamped_fingerprint(
            docs.sparkSession, index_path, "split", "split",
            "split_verdict_batches",
        )
        snapshot = fp.get("nonce")
        stamped = {k: fp.get(k) for k in ("threshold", "max_bucket_size")}
        if any(v is None for v in stamped.values()):
            # distinct from a knob MISMATCH (r14 ADVICE): an unstamped
            # artifact predates the stamping writer -- there is nothing
            # to compare against, so "rebuild" is the only valid advice
            raise ValueError(
                f"split index at {index_path} carries no build-knob "
                f"stamps (found {stamped}); it predates the stamping "
                "writer -- rebuild it with write_split_index"
            )
        # compare NUMERICALLY, not by repr: the stamps are str(v) of
        # whatever the builder passed, so str-equality refuses
        # numerically equal values with different reprs (1000 vs
        # 1000.0, np.float64/Decimal thresholds; r14 ADVICE)
        got = {k: float(v) for k, v in stamped.items()}
        want = {
            "threshold": float(threshold),
            "max_bucket_size": float(max_bucket_size),
        }
        if got != want:
            raise ValueError(
                f"split index at {index_path} was built with knobs {got} "
                f"but the stream was started with {want}; the cluster "
                "labels bake the build knobs in -- rebuild the index or "
                "match the knobs"
            )

    check = _pin_index(
        docs.sparkSession,
        index_path,
        expected_fingerprint,
        "split index at {path} was rebuilt under a running assignment "
        "stream (fingerprint {now} != snapshot {expected}); assignments "
        "must come from ONE artifact version -- rebuild the stream",
        snapshot_nonce=snapshot,
    )

    labels_idx = index_clusters.select(
        F.col("doc_id").alias("index_doc_id"),
        F.col("cluster_id").alias("_idx_cluster"),
    )
    # buckets over-cap in the INDEX population (computed once, static
    # side): the batch-local co-link must not link pairs through a
    # bucket the corpus-wide build dropped -- a micro-batch slice of a
    # degenerate bucket is under-cap locally, and without this filter
    # replay parity breaks exactly on the corpora the cap exists for
    # (r14 review)
    over_cap = (
        index_bands.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_bucket_size)
        .select("band_idx", "band_hash")
    )

    def plan(batch: DataFrame, _epoch: int):
        hits = neardup_probe_stream(
            batch, index_bands, threshold, max_bucket_size
        )
        inherited = (
            hits.join(labels_idx, "index_doc_id")
            .groupBy("doc_id")
            .agg(F.min("_idx_cluster").alias("_hit_min"))
        )
        # persisted: the limit-collect below and (over the cap) the
        # propagation rounds both consume this plan -- without the
        # persist the fallback re-runs LSH banding + Jaccard verify
        # from scratch; released by `_serve_batches` after the
        # batch's write
        bpairs = (
            neardup_pairs(
                batch,
                threshold=threshold,
                max_bucket_size=max_bucket_size,
                skip_buckets=over_cap,
            )
            .select("doc_a", "doc_b")
            .persist()
        )
        try:
            return labeled(batch, bpairs, inherited), bpairs.unpersist
        except BaseException:
            bpairs.unpersist()
            raise

    def labeled(
        batch: DataFrame, bpairs: DataFrame, inherited: DataFrame
    ) -> DataFrame:
        # one bounded action replaces the old isEmpty() probe AND, for
        # graphs under the cap (every realistic micro-batch -- the
        # graph is batch-local, never corpus-sized), the O(log d)
        # label-propagation rounds whose per-round driver actions cost
        # ~4 s/batch fixed (r14 verdict item 6). A driver union-find
        # that always attaches the larger root under the smaller
        # labels each component with its MIN member -- bit-identical
        # to _label_components' fixpoint -- and the mapping broadcasts
        # back as a batch-bounded frame. Over the cap (a micro-batch
        # trigger admitting ~100k intra-batch near-dup pairs), fall
        # back to the distributed rounds.
        edges = bpairs.limit(_SPLIT_SMALL_GRAPH_CAP + 1).collect()
        if not edges:
            # identity labels are exactly the fixpoint on an empty
            # edge set (the common serving case)
            local = batch.select(
                "doc_id", F.col("doc_id").alias("cluster_id")
            )
        elif len(edges) <= _SPLIT_SMALL_GRAPH_CAP:
            labels = _unionfind_min_labels(
                [(e["doc_a"], e["doc_b"]) for e in edges]
            )
            mapping = batch.sparkSession.createDataFrame(
                list(labels.items()),
                "doc_id long, cluster_id long",
            )
            local = (
                batch.select("doc_id")
                .join(F.broadcast(mapping), "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                        "cluster_id"
                    ),
                )
            )
        else:
            local, _rounds = _label_components(
                batch.select("doc_id"), bpairs, batch.count()
            )
        comp_min = (
            local.join(inherited, "doc_id", "left")
            .groupBy("cluster_id")
            .agg(F.min("_hit_min").alias("_comp_hit_min"))
        )
        assigned = (
            local.join(comp_min, "cluster_id")
            .select(
                "doc_id",
                F.coalesce(F.col("_comp_hit_min"), F.col("cluster_id")).alias(
                    "cluster_id"
                ),
            )
        )
        return assigned.withColumn(
            "split", split_assignment_column(F.col("cluster_id"), salt)
        )

    return _serve_batches(docs, out_path, checkpoint, [check], plan)


def append_split_index(
    new_docs: DataFrame, assignments: DataFrame, path: str
) -> str:
    """Incremental refresh for the split-assignment artifact: fold the
    arrivals (their band+shingle rows) AND their streamed cluster
    assignments (`split_verdict_batches` output) back into a
    `write_split_index` root, so the NEXT stream generation can match
    later arrivals against earlier ones -- the `append_curation_index`
    LSM discipline applied to the serving loop's own output, closing
    the first documented append-only delta progressively (cross-batch
    novel pairs resolve once the earlier arrival is in the index).

    Why append is exact here, artifact by artifact:
      - bands: per-doc facts (signatures+shingles), append IS rebuild;
        the degenerate-bucket cap is recomputed over the merged index
        at probe time (`neardup_probe_stream`).
      - clusters: corpus-wide state, exact under the MONOTONE-INGEST
        premise -- every appended assignment's label must satisfy
        cluster_id <= doc_id (labels are component MINIMA; an arrival
        with a smaller id than its inherited label means a full
        rebuild would RELABEL the old cluster, which an append cannot
        express). Checked loudly here: one aggregate over the
        delta-sized assignments, raising instead of silently
        diverging from rebuild. The remaining delta -- an arrival
        BRIDGING two existing clusters -- is inherent to append-only
        (the assignment already collapsed to the smaller label; a
        rebuild would merge the clusters) and stays a documented
        periodic-rebuild item, same as `split_verdict_batches`.

    The root fingerprint is re-stamped: running assignment streams
    pinned to the old nonce fail loudly and restart against the
    merged artifact. Append-equals-rebuild (bridge-free, monotone
    increments) is pinned by
    tests/test_streaming.py::test_streaming_split_append_equals_rebuild."""
    bad = assignments.filter(F.col("cluster_id") > F.col("doc_id")).count()
    if bad:
        raise ValueError(
            f"append_split_index: {bad} assignment(s) carry "
            "cluster_id > doc_id -- the monotone-ingest premise is "
            "violated (an id smaller than its inherited label means a "
            "rebuild would relabel the existing cluster); rebuild the "
            "split index instead of appending"
        )
    # coverage check (r14 review): appending band rows for a doc with
    # no clusters row would make later probe hits on it vanish through
    # the inner label join -- the arrival would draw a fresh split
    # instead of inheriting, silently straddling the boundary. A
    # crashed/filtered assignment stream must be completed or the
    # index rebuilt, never partially appended. One anti-join over the
    # delta-sized frames.
    uncovered = (
        new_docs.select("doc_id")
        .join(assignments.select("doc_id"), "doc_id", "left_anti")
        .count()
    )
    if uncovered:
        raise ValueError(
            f"append_split_index: {uncovered} doc(s) in new_docs have no "
            "assignment row -- the increment's assignments must cover "
            "every appended doc (re-run the assignment stream to "
            "completion, or rebuild the index)"
        )
    # ...and the mirror direction (r14 ADVICE): an assignment row for a
    # doc NOT in new_docs (a stale frame from a previous increment, a
    # too-wide read of the verdict output dir) would enter clusters/
    # with no matching band rows -- an unprobeable label that a rebuild
    # would never produce. Same delta-sized anti-join, other way round.
    extra = (
        assignments.select("doc_id")
        .join(new_docs.select("doc_id"), "doc_id", "left_anti")
        .count()
    )
    if extra:
        raise ValueError(
            f"append_split_index: {extra} assignment row(s) are for docs "
            "not in new_docs -- the increment's assignments must be "
            "exactly the verdicts for this delta (a stale or too-wide "
            "assignments frame would append labels with no band rows)"
        )
    write_neardup_index(new_docs, path + "/bands", mode="append")
    (
        assignments.select("doc_id", "cluster_id")
        .write.mode("append")
        .parquet(path + "/clusters")
    )
    # re-stamp WITHOUT losing the build-knob stamps (threshold/cap):
    # the serve-time knob check reads them, and an append changes only
    # the nonce, never the knobs
    return restamp_index(new_docs.sparkSession, path)


def split_verdicts_with_cadence(
    spark: SparkSession,
    arrival_dirs: list[str],
    index_path: str,
    out_path: str,
    threshold: float = 0.2,
    max_bucket_size: int = 1000,
    salt: str | None = None,
    checkpoint_root: str | None = None,
) -> list[str]:
    """The split serving loop's periodic-append cadence (r14 verdict
    item 7): each element of ``arrival_dirs`` is one GENERATION --
    its files replay through `split_verdict_batches` against the
    current index, then the generation's docs AND their fresh
    assignments fold back via `append_split_index` before the next
    generation starts. This progressively shrinks the serving loop's
    documented cross-batch straddle window (delta (a) in
    `split_verdict_batches`): a near-dup pair separated by a fold
    boundary co-assigns, because the earlier arrival is in the index
    by the time the later one probes -- the same LSM-refresh story as
    `append_curation_index`, applied on a cadence instead of ad hoc.

    A running stream cannot survive the fold (the append re-stamps
    the nonce -- by design, so no stream ever mixes index versions),
    which is why the cadence is a sequence of availableNow
    generations rather than one long-lived query: generation i runs
    to completion pinned to nonce_i, the fold produces nonce_{i+1},
    generation i+1 starts against it. Within a generation the
    straddle window is the generation's batches, bounded by how many
    files each element groups.

    Outputs land under ``out_path + "/gen=<i>"`` (also the frame the
    fold reads back -- exactly the coverage `append_split_index`'s
    two-directional guard expects). Returns the per-generation output
    paths (empty generations produce no output and no fold). The fold
    is RESTART-IDEMPOTENT (r15 review): rerunning the cadence with the
    same ``checkpoint_root`` after a crash replays completed
    generations as no-op streams, and a generation whose docs are ALL
    already in ``clusters/`` skips its fold instead of appending
    duplicate rows; a PARTIAL overlap (some docs folded, some not)
    refuses loudly -- generations must be wholly novel or wholly
    replayed, anything else is a corrupted sequence. Pinned by
    tests/test_streaming.py::test_streaming_split_cadence_closes_straddle."""
    outs: list[str] = []
    for i, d in enumerate(arrival_dirs):
        out_g = f"{out_path}/gen={i}"
        ckpt = None if checkpoint_root is None else f"{checkpoint_root}/gen={i}"
        q = split_verdict_batches(
            stream_documents(spark, d),
            spark.read.parquet(index_path + "/bands"),
            spark.read.parquet(index_path + "/clusters"),
            out_g,
            threshold=threshold,
            max_bucket_size=max_bucket_size,
            salt=salt,
            checkpoint=ckpt,
            index_path=index_path,
        )
        q.awaitTermination()
        # explicit schema: an EMPTY generation (no arrivals this
        # period) has no files to infer from, and its verdict dir was
        # never created -- skip the fold instead of crashing (r15
        # review)
        gen_docs = spark.read.schema(DOCUMENTS_STREAM_SCHEMA).parquet(d)
        n_docs = gen_docs.count()
        if n_docs == 0:
            continue
        # BOTH artifacts checked (r15 review, second pass): the fold
        # appends bands THEN clusters, so a crash between them leaves
        # bands without labels; a clusters-only guard would re-append
        # the band rows, double-counting them toward the degenerate
        # bucket cap -- under-cap buckets would read as over-cap and
        # legitimate near-dup links silently drop
        gen_ids = F.broadcast(gen_docs.select("doc_id"))
        n_clustered = (
            spark.read.parquet(index_path + "/clusters")
            .join(gen_ids, "doc_id", "left_semi")
            .select("doc_id")
            .distinct()
            .count()
        )
        n_banded = (
            spark.read.parquet(index_path + "/bands")
            .join(gen_ids, "doc_id", "left_semi")
            .select("doc_id")
            .distinct()
            .count()
        )
        if n_clustered == n_docs and n_banded == n_docs:
            # checkpoint-restart replay: this generation's fold already
            # landed in full; appending again would duplicate rows
            # (the guards cannot catch an exact re-append)
            outs.append(out_g)
            continue
        if n_clustered > 0 or n_banded > 0:
            raise ValueError(
                f"split cadence generation {i}: fold state is partial "
                f"({n_banded}/{n_docs} docs banded, {n_clustered}/"
                f"{n_docs} clustered) -- a crash mid-fold or an arrival "
                "overlapping an earlier generation; rebuild the split "
                "index (an append cannot repair a half-landed fold)"
            )
        append_split_index(
            gen_docs,
            spark.read.parquet(out_g),
            index_path,
        )
        outs.append(out_g)
    return outs


# --- inverted-index BM25 serving (arbitrary keyword queries, r14) -----------

BM25_INDEX_BUCKETS = 64


def stream_keyword_queries(spark: SparkSession, dir_path: str) -> DataFrame:
    """File-source replay of (query_id, keywords) rows, one file per
    micro-batch -- the arriving side of `bm25_topk_batches`."""
    return (
        spark.readStream.schema("query_id long, keywords string")
        .option("maxFilesPerTrigger", 1)
        .parquet(dir_path)
    )


def write_bm25_index(docs: DataFrame, path: str, mode: str = "overwrite") -> str:
    """Persist the inverted index that serves ARBITRARY keyword
    queries -- the fixed-query batch scorer (`text.bm25_topk`) tokenizes
    the corpus per call, which is the right plan for one known query
    but pays a full corpus scan per query set; retrieval serving
    inverts that once:

      - ``postings/``: one row per (term, doc_id) with tf and the
        doc's length dl -- per-doc FACTS only, so a corpus delta
        appends exactly (``mode="append"`` / `append_bm25_index`).
        The corpus-wide quantity, a term's document frequency df, is
        deliberately NOT stored: it is recomputed over the MERGED
        postings at probe time, restricted to the probed terms' rows
        (the `neardup_probe_stream` bucket-cap rule applied to df) --
        storing it per row would be join-free but rebuild-only, stale
        the moment an increment lands. Laid out in
        ``term_bucket = pmod(xxhash64(term), 64)`` partition dirs:
        one-dir-per-term dies at real vocabulary sizes, while a
        bucketed layout keeps partition pruning for probe terms.
      - ``stats/``: an append-only LOG of partial (n_docs, sum_dl)
        rows, SUMmed at probe time (associative -- the exact-dup LSM
        discipline; one row per build increment).

    Tokenization is `text.tokens` -- the SAME function the batch
    scorer and every text operator use, so tf/dl/df here equal the
    batch scorer's HOF-computed columns exactly.

    Each stats row additionally stamps ``n_postings`` -- THIS
    increment's postings row count, computed from the increment plan
    itself (never from the on-disk total, which would silently absorb
    a previous tear into the next generation's count) -- giving the
    torn window a cheap probe-time invariant: sum(stats.n_postings)
    == count(postings), one metadata-cheap count + one 1-row sum
    instead of the countDistinct shuffle the r15 docs declined
    (`_require_bm25_untorn`). Appends to a pre-stamp root keep the
    legacy stats schema (the guard stays disarmed there; rebuild to
    arm it)."""
    spark = docs.sparkSession
    # Spark's DataFrameWriter.mode is case-insensitive -- normalize so
    # the append-only branches below cannot be bypassed by "Append"
    # (r16 second review)
    mode = mode.lower()
    # the legacy-schema sniff reads only PRE-EXISTING on-disk state,
    # so it runs BEFORE the postings write: a transient read failure
    # here leaves the root untouched instead of tearing it between
    # the two data writes (r16 second review). ONLY the
    # path-not-found AnalysisException may fall through as "fresh":
    # a broad catch on a legacy root would stamp a mixed-schema
    # stats dir (later reads NULL the legacy rows' n_postings and
    # the torn guard misfires on a healthy index)
    legacy = False
    if mode == "append":
        from pyspark.errors import AnalysisException

        try:
            legacy = (
                "n_postings"
                not in spark.read.parquet(path + "/stats").columns
            )
        except AnalysisException:
            legacy = False  # fresh root -- stamp from generation 0
    postings, stats = _bm25_postings(docs)
    # persisted: the write and the increment count share one tokenize
    # pass (the bpairs lesson); a derived plan, not the caller's frame
    postings = postings.persist()
    try:
        n_postings = postings.count()
        (
            postings.write.mode(mode)
            .partitionBy("term_bucket")
            .parquet(path + "/postings")
        )
        if not legacy:
            stats = stats.withColumn(
                "n_postings", F.lit(n_postings).cast("long")
            )
        stats.coalesce(1).write.mode(mode).parquet(path + "/stats")
    finally:
        postings.unpersist()
    _write_index_fingerprint(spark, path, {"kind": "bm25"})
    return path


def _require_bm25_untorn(
    postings: DataFrame, stats: DataFrame, caller: str
) -> None:
    """BM25's torn-window guard (r15 verdict item 5): an append whose
    postings landed but whose stats row did not leaves delta docs
    scored against an under-counted n_docs/avgdl -- wrong scores, not
    an error. Every stats row stamps its generation's postings count
    at write time, so consistency is ONE parquet count against a
    1-row sum. Pre-stamp artifacts (no ``n_postings`` column) pass
    silently -- the invariant is armed by rebuild, never faked."""
    if "n_postings" not in stats.columns:
        return
    row = stats.agg(F.sum("n_postings").alias("s")).first()
    stamped = row["s"]
    actual = postings.count()
    if stamped != actual:
        raise ValueError(
            f"{caller}: torn bm25 artifact -- postings has {actual} rows "
            f"but the stats log stamps {stamped} (an append crashed "
            "between its postings and stats writes, or a stats row "
            "landed without its postings); delta docs would score "
            "against an under-counted n_docs/avgdl -- re-run the delta "
            "or rebuild the index"
        )


def _bm25_postings(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings, stats) plans for one corpus increment -- the writer
    persists them; the randomized parity tests consume them in-memory
    (no I/O), so the probed scorer can be checked against the batch
    scorer on corpora far outside the fixture distribution."""
    from ..llmdata.text import tokens

    toks = tokens(F.col("text"))
    exploded = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        F.explode(toks).alias("term"),
    )
    postings = exploded.groupBy("term", "doc_id", "dl").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    ).withColumn(
        "term_bucket",
        F.pmod(F.xxhash64("term"), F.lit(BM25_INDEX_BUCKETS)).cast("int"),
    )
    stats = docs.select(F.size(toks).cast("long").alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    return postings, stats


def append_bm25_index(docs: DataFrame, path: str) -> str:
    """Fold a corpus delta into an existing `write_bm25_index` root.
    Append is EXACT with no premise: postings rows are per-doc facts,
    the stats log is an associative partial-aggregate append, and df
    is never stored (recomputed over the merged postings at probe
    time) -- so append-then-probe equals rebuild-then-probe
    row-for-row, pinned by
    tests/test_streaming.py::test_streaming_bm25_append_equals_rebuild.
    The nonce re-stamps, failing over running probe streams per the
    family rule. Crash window (the `append_pq_index`
    concurrency-delta class): postings land before the stats row, so
    a crash between them leaves delta docs scored with an
    under-counted n_docs/avgdl -- DETECTED at probe construction by
    `_require_bm25_untorn` (each stats row stamps its generation's
    postings count; one count + one sum, not the countDistinct
    shuffle r15 declined); recovery is re-running the delta or
    rebuilding."""
    return write_bm25_index(docs, path, mode="append")


def _bm25_ranked_plan(
    batch: DataFrame, postings: DataFrame, stats: DataFrame, k: int
) -> DataFrame:
    """The per-batch inverted-index BM25 ranking -- (query_id, doc_id,
    score, rank<=k) for arriving (query_id, keywords) rows. Defined
    ONCE: `bm25_topk_batches` writes it directly and the per-keyword
    hybrid (`hybrid_rrf_keyword_batches`) fuses it, so the parity-
    critical scoring (shared per-term fragment, written-term-order
    fold, (score DESC, doc_id) ties) lives in exactly one place.

    df is computed HERE, over the merged postings restricted to the
    probed terms (one windowed count over the bucket-pruned rows --
    never a vocabulary-wide pass), and the stats LOG is summed -- the
    two corpus-wide quantities stay probe-time so `append_bm25_index`
    increments are exact (the neardup bucket-cap / exact-dup-LSM
    rule)."""
    from pyspark.sql import Window

    from ..llmdata.text import _bm25_term_score_sql, tokens

    qterms = batch.select(
        "query_id",
        F.posexplode(tokens(F.col("keywords"))).alias("pos", "term"),
    ).withColumn(
        "term_bucket",
        F.pmod(F.xxhash64("term"), F.lit(BM25_INDEX_BUCKETS)).cast("int"),
    )
    stats_sum = stats.agg(
        F.sum("n_docs").alias("n_docs"), F.sum("sum_dl").alias("sum_dl")
    )
    # STATIC partition pruning via a literal IN: the batch's distinct
    # term buckets are a bounded driver artifact (<= min(batch terms,
    # 64) ints -- the lex-literal class), and a literal filter prunes
    # the partitioned scan deterministically where dynamic partition
    # pruning declines on small-table heuristics (observed: without
    # this the executed plan's PartitionFilters carried only the
    # isnotnull guard and every bucket was read). Plan-pinned.
    buckets = sorted(
        r["term_bucket"]
        for r in qterms.select("term_bucket").distinct().collect()
    )
    probed = (
        postings.filter(F.col("term_bucket").isin(buckets))
        .join(
            F.broadcast(qterms.select("term_bucket", "term").distinct()),
            ["term_bucket", "term"],
        )
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
    )
    hits = probed.join(
        F.broadcast(qterms), ["term_bucket", "term"]
    ).crossJoin(F.broadcast(stats_sum))
    contrib = hits.withColumn("_c", F.expr(_bm25_term_score_sql("tf", "df")))
    per_doc = contrib.groupBy("query_id", "doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("pos", "_c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_c"],
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def bm25_topk_batches(
    queries: DataFrame,
    postings: DataFrame,
    stats: DataFrame,
    out_path: str,
    k: int = 20,
    checkpoint: str | None = None,
    index_path: str | None = None,
    expected_fingerprint: str | None = None,
):
    """Streaming BM25 retrieval over the inverted index: each arriving
    (query_id, keywords) row gets its top-k documents -- the
    ARBITRARY-query serving form of `text.bm25_topk`, which this
    matches BIT-EXACTLY for any term sequence (pinned per query in
    tests):

      - the per-(term, doc) contribution is `text._bm25_term_score_sql`
        -- the same fragment the batch scorer concatenates, modulo
        column names, so the arithmetic can never drift;
      - contributions sum in the query's WRITTEN term order via an
        ordered fold (posexplode position -> array_sort -> F.aggregate),
        reproducing the batch expression's left-to-right double
        addition; terms the doc lacks contribute IEEE +0.0 in the
        batch form, which is the fold's identity, so skipping their
        posting-less rows changes no bit;
      - ties break (score DESC, doc_id), rank <= k per query.

    Term multiplicity is preserved (a repeated keyword contributes
    once per occurrence, exactly like a repeated entry in the batch
    form's query_terms). A query whose terms match nothing emits no
    rows. Scale: the query side is batch-sized and broadcasts; the
    postings join prunes to the term buckets the batch touches; the
    stats row is a 1-row broadcast. A TORN postings/stats artifact
    refuses here, at construction (`_require_bm25_untorn` -- the
    shortlist family's rule)."""
    check, _ = _pin_kind(
        queries.sparkSession, index_path, expected_fingerprint,
        "bm25", "bm25", "bm25_topk_batches",
    )
    _require_bm25_untorn(postings, stats, "bm25_topk_batches")
    return _serve_batches(
        queries, out_path, checkpoint, [check],
        lambda batch, _epoch: (
            _bm25_ranked_plan(batch, postings, stats, k), None
        ),
    )


def hybrid_rrf_keyword_batches(
    queries: DataFrame,
    postings: DataFrame,
    stats: DataFrame,
    index_vecs: DataFrame | None,
    out_path: str,
    fusion_k: int | None = None,
    top_k: int | None = None,
    checkpoint: str | None = None,
    index_path: str | None = None,
    expected_fingerprint: str | None = None,
    vecs_index_path: str | None = None,
    vecs_expected_fingerprint: str | None = None,
    ann_index_path: str | None = None,
    n_probe: int = 2,
    ann_shortlist: int | None = None,
):
    """The full RAG serving loop: each arriving (query_id, keywords,
    embedding) row retrieves its OWN lexical list from the inverted
    BM25 index and its dense list from the ANN vecs artifact, fused
    per query by reciprocal-rank fusion. Generalizes
    `hybrid_rrf_batches`, whose lexical side is the fixed corpus
    keyword query collected once -- here the keywords arrive WITH the
    query, which is what a retrieval endpoint actually receives.

    Constituents are the two serving plans defined once elsewhere
    (`_bm25_ranked_plan`, `_dense_cosine_topk` with
    ``exclude_self=False`` -- query_id here is an external request id,
    not a corpus vector id, so the leave-one-out filter would silently
    drop a corpus doc whose id collides with a request id; r14 ADVICE)
    and the fusion is the batch `_rrf_score_sql` fragment with the
    batch tie-breaks -- so per-query outputs equal RRF recomputed
    independently from the two constituent rank lists (pinned in
    tests, including a query whose keywords ARE the fixed corpus
    query). Lexical-miss queries degrade to dense-only, dense-only
    misses to lexical-only -- the full outer join keys off whichever
    side produced rows.

    Scale: everything past the two constituents operates on
    <= 2*fusion_k rows per query. TWO independently rotated artifacts
    feed this endpoint, so TWO pin pairs: ``index_path`` /
    ``expected_fingerprint`` guards the BM25 root (postings + stats),
    ``vecs_index_path`` / ``vecs_expected_fingerprint`` the ANN vecs
    root -- pin both when they live under separate directories (r14
    verdict item 5: one pinned root let the other rotate silently
    under a running stream). A single shared root still works: pass
    it as ``index_path`` and leave the vecs pair None.

    Pass ``ann_index_path`` (any servable dense root, seven kinds --
    the retriever dispatches on the stamped kind, `_ann_dense_retriever`) to serve the DENSE
    constituent through that index's cascade instead of the brute vecs scan
    (`_ann_dense_retriever`; ``n_probe`` /
    ``ann_shortlist`` are the budget knobs). ``index_vecs`` is then
    unused (pass None), and the dense nonce pin defaults to the SAME
    root (``vecs_index_path`` naming a DIFFERENT root refuses -- a
    contradiction, not a second pin); the BM25 pin pair is
    unchanged. At n_probe = n_lists, shortlist = corpus the fused
    output equals the brute-dense form row-for-row (pinned); at
    serving budgets the endpoint inherits IVF-PQ's measured
    probe-budget win on batch retrieval."""
    from pyspark.sql import Window

    from ..llmdata.similarity import (
        HYBRID_FUSION_K,
        HYBRID_TOP_K,
        _rrf_score_sql,
    )

    fusion_k = HYBRID_FUSION_K if fusion_k is None else fusion_k
    top_k = HYBRID_TOP_K if top_k is None else top_k

    vecs_index_path, retrieve, vecs_snapshot = _resolve_dense_constituent(
        queries.sparkSession, index_vecs, ann_index_path,
        vecs_index_path, n_probe, ann_shortlist, False,
        "hybrid_rrf_keyword_batches",
    )
    # pin-target contract first (a caller error), artifact-state torn
    # guard second -- the family precedence rule
    check_lex = _pin_index(
        queries.sparkSession,
        index_path,
        expected_fingerprint,
        "hybrid keyword BM25 index at {path} was overwritten under a "
        "probe stream (fingerprint {now} != snapshot {expected}); rebuild "
        "the probe stream against the new index instead",
    )
    check_vecs = _pin_index(
        queries.sparkSession,
        vecs_index_path,
        vecs_expected_fingerprint,
        "hybrid keyword ANN vecs at {path} were overwritten under a "
        "probe stream (fingerprint {now} != snapshot {expected}); rebuild "
        "the probe stream against the new index instead",
        snapshot_nonce=vecs_snapshot,
    )
    _require_bm25_untorn(postings, stats, "hybrid_rrf_keyword_batches")
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )

    def plan(batch: DataFrame, _epoch: int):
        lex = _bm25_ranked_plan(
            batch.select("query_id", "keywords"), postings, stats, fusion_k
        ).select("query_id", "doc_id", F.col("rank").alias("lex_rank"))
        ranked, cleanup = retrieve(
            batch.select(F.col("query_id").alias("vec_id"), "embedding"),
            fusion_k,
        )
        dense = ranked.select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.col("rank").alias("cos_rank"),
        )
        fused = lex.join(dense, ["query_id", "doc_id"], "full_outer")
        return (
            fused.withColumn("rrf_score", F.expr(_rrf_score_sql()))
            .withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= top_k)
            .select("query_id", "doc_id", "lex_rank", "cos_rank", "rrf_score")
        ), cleanup

    return _serve_batches(
        queries, out_path, checkpoint, [check_lex, check_vecs], plan
    )
