"""Operator unit tests: exact rows over tiny inline fixtures
(SURVEY.md section 5 tier 1 -- the reference has zero tests; these lock
down its reconstructed semantics, quirks included)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_streaming_dashboard_spark.functions.levels import level3, level5
from big_data_streaming_dashboard_spark.functions.timeparse import normalize_event_time
from big_data_streaming_dashboard_spark.llmdata.dedup import shingles
from big_data_streaming_dashboard_spark.operators.analytics import recent_points
from big_data_streaming_dashboard_spark.operators.dedup import first_occurrence_dedup
from big_data_streaming_dashboard_spark.operators.route import route
from big_data_streaming_dashboard_spark.operators.temporal import temporal_batch
from big_data_streaming_dashboard_spark.operators.validate import validate_enrich
from big_data_streaming_dashboard_spark.streaming.stateful import exact_cooldown_batch

BRONZE_COLS = "event_id long, captured_time string, latitude string, longitude string, value string, unit string, ingestion_timestamp long"


def _bronze(spark, rows):
    return spark.createDataFrame(rows, BRONZE_COLS)


def _silver_map(spark, rows):
    out = validate_enrich(_bronze(spark, rows)).collect()
    return {r["event_id"]: r for r in out}


def test_validator_rejection_reasons(spark):
    """Each F1/F2 rejection reason, in the reference's check order
    (flink_process/flink_process.py:105-137)."""
    rows = [
        (1, "2024-01-01 10:00:00", "10.0", "20.0", "100.0", "cpm", 0),  # valid
        (2, None, "10.0", "20.0", "100.0", "cpm", 0),  # missing field
        (3, "2024-01-01 10:00:00", "abc", "20.0", "100.0", "cpm", 0),  # non-numeric
        (4, "2024-01-01 10:00:00", "95.0", "20.0", "100.0", "cpm", 0),  # bad lat
        (5, "2024-01-01 10:00:00", "10.0", "190.0", "100.0", "cpm", 0),  # bad lon
        (6, "2024-01-01 10:00:00", "10.0", "20.0", "0.2", "cpm", 0),  # rounds to 0
        (7, "2024-01-01 10:00:00", "10.0", "20.0", "100.0", "usv", 0),  # bad unit
        # missing field checked BEFORE numeric (reference order)
        (8, None, "abc", "20.0", "100.0", "cpm", 0),
    ]
    got = _silver_map(spark, rows)
    assert got[1]["status"] == "valid" and got[1]["error"] is None
    assert got[2]["error"] == "Missing fields"
    assert got[3]["error"] == "Invalid numeric values"
    assert got[4]["error"] == "Invalid latitude: 95.0"
    assert got[5]["error"] == "Invalid longitude: 190.0"
    assert got[6]["error"] == "Invalid radiation value: 0"
    assert got[7]["error"] == "Invalid unit: usv"
    assert got[8]["error"] == "Missing fields"


def test_validator_enrichment_and_bankers_rounding(spark):
    """P2: Python round() is banker's -> 2.5 rounds to 2, 3.5 to 4;
    coords to 5 dp; unit canonicalized; level/critical on rounded value."""
    rows = [
        (1, "2024-01-01 10:00:00", "10.123456", "20.9876543", "2.5", "CPM", 0),
        (2, "2024-01-01 10:00:00", "10.0", "20.0", "3.5", "cpm", 0),
        (3, "2024-01-01 10:00:00", "10.0", "20.0", "999.5", "cpm", 0),  # -> 1000
    ]
    got = _silver_map(spark, rows)
    assert got[1]["value"] == 2 and got[1]["level"] == "low"
    assert got[1]["lat"] == 10.12346 and got[1]["lon"] == 20.98765
    assert got[1]["unit"] == "cpm"
    assert got[2]["value"] == 4
    assert got[3]["value"] == 1000 and got[3]["critical"] is True
    assert got[3]["level"] == "high" and got[3]["level5"] == "very-high"


def test_level_classifications(spark):
    df = spark.createDataFrame(
        [(0,), (9,), (10,), (49,), (50,), (199,), (200,), (999,), (1000,), (None,)],
        "v long",
    )
    got = df.select(
        level3(F.col("v")).alias("l3"), level5(F.col("v")).alias("l5")
    ).collect()
    l3 = [r["l3"] for r in got]
    l5 = [r["l5"] for r in got]
    # null falls to the otherwise() branch -> 'high'; out-of-domain in the
    # reference (validation rejects non-numerics before classification)
    assert l3 == ["low", "low", "low", "low", "moderate", "moderate", "high", "high", "high", "high"]
    # P9: null -> very-low (the client classifier quirk; disagrees with level3)
    assert l5 == [
        "very-low", "very-low", "low", "low", "moderate", "moderate",
        "high", "high", "very-high", "very-low",
    ]


def test_timeparse_variants(spark):
    """P4: strip +TZ / trailing Z / fractional seconds; null on garbage
    (flink_process/flink_process.py:56-84)."""
    df = spark.createDataFrame(
        [
            ("2024-01-01 10:00:01",),
            ("2024-01-01 10:00:02+09:00",),
            ("2024-01-01 10:00:03Z",),
            ("2024-01-01 10:00:04.123",),
            ("not-a-time",),
            (None,),
        ],
        "s string",
    )
    got = [r[0] for r in df.select(normalize_event_time(F.col("s"))).collect()]
    assert [str(t) for t in got[:4]] == [
        "2024-01-01 10:00:01",
        "2024-01-01 10:00:02",
        "2024-01-01 10:00:03",
        "2024-01-01 10:00:04",
    ]
    assert got[4] is None and got[5] is None


def test_dedup_first_occurrence_and_invalid_key_quirk(spark):
    """D1: first record per composite key survives; rounding precision
    beyond 5/2 dp dedups; ALL unparseable rows share 'invalid_key' so
    only the first-ever survives (the reference quirk)."""
    rows = [
        (1, "2024-01-01 10:00:00", "10.000001", "20.0", "100.001", "cpm", 0),
        # same key after rounding (lat 5dp, value 2dp) -> dropped
        (2, "2024-01-01 10:00:00", "10.000004", "20.0", "100.002", "cpm", 0),
        # differs at the 5th dp -> kept
        (3, "2024-01-01 10:00:00", "10.00002", "20.0", "100.0", "cpm", 0),
        # two unparseable -> shared invalid_key -> only first survives
        (4, "2024-01-01 10:00:00", "abc", "20.0", "100.0", "cpm", 0),
        (5, "2024-01-01 10:00:00", "def", "99.0", "1.0", "cpm", 0),
    ]
    silver = validate_enrich(_bronze(spark, rows))
    got = first_occurrence_dedup(silver)
    ids = sorted(r["event_id"] for r in got.collect())
    assert ids == [1, 3, 4]


def test_route_partition(spark):
    rows = [
        (1, "2024-01-01 10:00:00", "10.0", "20.0", "100.0", "cpm", 0),  # normal
        (2, "2024-01-01 10:00:00", "11.0", "20.0", "1500.0", "cpm", 0),  # critical
        (3, "2024-01-01 10:00:00", "abc", "20.0", "100.0", "cpm", 0),  # dirty
    ]
    got = {r["event_id"]: r["route"] for r in route(validate_enrich(_bronze(spark, rows))).collect()}
    assert got == {1: "normal", 2: "critical", 3: "dirty"}


def test_temporal_batch_sizes(spark):
    """W4: same-second records annotated with the cluster size."""
    rows = [
        (1, "2024-01-01 10:00:00", "10.0", "20.0", "100.0", "cpm", 0),
        (2, "2024-01-01 10:00:00", "11.0", "20.0", "100.0", "cpm", 0),
        (3, "2024-01-01 10:00:00", "12.0", "20.0", "100.0", "cpm", 0),
        (4, "2024-01-01 10:00:01", "13.0", "20.0", "100.0", "cpm", 0),
    ]
    valid = validate_enrich(_bronze(spark, rows)).filter(F.col("status") == "valid")
    got = {r["event_id"]: r for r in temporal_batch(valid).collect()}
    assert [got[i]["temporal_batch_size"] for i in (1, 2, 3, 4)] == [3, 3, 3, 1]
    assert got[1]["timestamp_key"] == "2024-01-01 10:00:00"
    assert got[1]["temporal_ordering"] == "compliant"


def test_recent_points_tiebreak(spark):
    df = spark.createDataFrame(
        [(i, f"2024-01-01 10:00:{i % 3:02d}") for i in range(10)],
        "event_id long, timestamp string",
    )
    got = [r["event_id"] for r in recent_points(df, n=3).collect()]
    # latest second is :02 -> event_ids 2,5,8, descending
    assert got == [8, 5, 2]


def test_exact_cooldown_emits_after_suppressed_alert(spark):
    """D2 reference semantics: cooldown measured from the last EMITTED
    alert -- t=0 emit, t=20 suppress, t=40 EMIT (40-0 >= 30), t=50
    suppress (50-40 < 30). The bucketed approximation would differ."""
    base = "2024-01-01 10:"
    rows = [
        (i, f"{base}{t // 60:02d}:{t % 60:02d}") for i, t in enumerate([0, 20, 40, 50])
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string").select(
        "event_id",
        F.lit("warning-10.000,20.000").alias("cooldown_key"),
        F.to_timestamp("ts").alias("event_time"),
        F.lit(10.0).alias("lat"),
        F.lit(20.0).alias("lon"),
        F.lit(1200).cast("long").alias("value"),
        F.lit("warning").alias("severity"),
        F.lit("msg").alias("alert_message"),
    )
    got = sorted(r["event_id"] for r in exact_cooldown_batch(df).collect())
    assert got == [0, 2]


def test_shingles_short_doc_fallback(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("solo",)], "text string"
    )
    got = [sorted(r[0]) for r in df.select(shingles(F.col("text"))).collect()]
    assert got[0] == ["a b c", "b c d"]
    assert got[1] == ["a b"]  # < 3 tokens -> whole-text shingle
    assert got[2] == ["solo"]


def test_rolling_fingerprint_short_doc_guard(spark):
    """sequence(1, n) with n < 1 DESCENDS in Spark ([1, 0] -> slice
    start=0 crash); short docs must yield zero windows, not an error."""
    from big_data_streaming_dashboard_spark.llmdata.text import (
        repeated_passages,
        rolling_fingerprint,
    )

    # NB: token codes are (length, first-char) -- tokens like w1..w9
    # would all collide; use distinct shapes
    long_a = "alpha bravo charlie delta echo foxtrot golf hotel india"
    long_b = "zz bravo charlie delta echo foxtrot golf hotel india"
    df = spark.createDataFrame(
        [(1, long_a), (2, long_b), (3, "too short"), (4, "")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r.asDict() for r in rolling_fingerprint(df).collect()}
    assert fp[1]["n_windows"] == 2 and fp[2]["n_windows"] == 2
    assert fp[3]["n_windows"] == 0 and fp[4]["n_windows"] == 0
    assert fp[4]["doc_fp"] == 0  # empty text -> [''] -> code 0 -> fold 0

    rep = repeated_passages(df).collect()
    assert len(rep) == 1  # exactly the shared w2..w9 window
    assert rep[0]["n_docs"] == 2 and rep[0]["n_occurrences"] == 2


def test_curation_pipeline_verdicts(spark):
    """Hand-built corpus exercising every drop reason and the
    precedence order (non_english beats low_quality beats dup)."""
    from big_data_streaming_dashboard_spark.llmdata.curation import (
        curation_pipeline,
    )

    # len_score caps at 100 tokens; quality >= 0.3 needs a real doc
    good = "the quick brown fox jumps over the lazy dog in the park " * 10
    docs = spark.createDataFrame(
        [
            (0, good, "en"),
            (1, good, "en"),  # exact dup of 0 -> exact_duplicate
            (2, good + " extra tail words here now", "en"),  # near dup of 0
            (3, "el la de que y los el la de que y los " * 10, "es"),  # non_english
            (4, "!!! ??? ***", "en"),  # low_quality (all punct)
            # non-english AND low length -> precedence: non_english
            (5, "el la de que", "es"),
        ],
        "doc_id long, text string, lang string",
    )
    got = {r["doc_id"]: r for r in curation_pipeline(docs).collect()}
    assert got[0]["kept"] and got[0]["drop_reason"] is None
    assert got[1]["drop_reason"] == "exact_duplicate"
    assert got[2]["drop_reason"] == "near_duplicate"
    assert got[3]["drop_reason"] == "non_english"
    assert got[4]["drop_reason"] == "low_quality"
    assert got[5]["drop_reason"] == "non_english"  # precedence
    assert all(not got[i]["kept"] for i in (1, 2, 3, 4, 5))


def test_subword_stats_classes(spark):
    """BPE-ish pre-tokenizer: contractions split, class counts, and
    the ~4-chars/token ceil estimate."""
    from big_data_streaming_dashboard_spark.llmdata.text import subword_stats

    docs = spark.createDataFrame(
        [(0, "don't stop... we've 42 reasons"), (1, "hello")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in subword_stats(docs).collect()}
    # don | 't | stop | ... | we | 've | 42 | reasons
    assert got[0]["n_pretokens"] == 8
    assert got[0]["n_word_tokens"] == 4  # don, stop, we, reasons
    assert got[0]["n_number_tokens"] == 1  # 42
    assert got[0]["n_punct_tokens"] == 1  # ...
    # ceil(len/4) per trimmed pre-token:
    # don 1, 't 1, stop 1, ... 1, we 1, 've 1, 42 1, reasons 2
    assert got[0]["est_bpe_tokens"] == 9
    assert got[1]["n_pretokens"] == 1 and got[1]["est_bpe_tokens"] == 2


def test_write_curated_corpus_layout(spark, tmp_path):
    """Curated-corpus writer: only kept docs land, partitioned by
    predicted language, and the stats roll up to the input count."""
    import os

    from big_data_streaming_dashboard_spark.llmdata.curation import (
        write_curated_corpus,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang"
    )
    out = str(tmp_path / "corpus")
    stats = write_curated_corpus(docs, out)
    n_docs = docs.count()
    assert stats["kept"] + sum(stats["dropped"].values()) == n_docs
    # language-partitioned directories on disk
    parts = [d for d in os.listdir(out) if d.startswith("predicted_lang=")]
    assert parts, os.listdir(out)
    back = spark.read.parquet(out)
    assert back.count() == stats["kept"]
    assert set(back.columns) == {
        "doc_id", "quality_score", "n_tokens", "text", "predicted_lang",
    }
    # partition pruning works on the layout: the lang filter must land
    # in PartitionFilters (directory pruning), NOT as a post-scan data
    # filter. (This assertion was previously `X or count() >= 0`, i.e.
    # vacuously true -- fixed r11.)
    en = back.filter(F.col("predicted_lang") == "en")
    plan = en._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(predicted_lang" in plan, plan[:2000]
    assert 0 < en.count() <= stats["kept"]


def test_neardup_recall_matches_independent_computation(spark):
    """The r10 dedup-quality evaluator must agree with a collect-side
    recomputation from its two constituent pair sets, and every bucket
    must satisfy 0 <= n_hit <= n_exact with recall = n_hit/n_exact."""
    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        neardup_pairs,
        neardup_recall,
        ngram_jaccard_pairs,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    exact = ngram_jaccard_pairs(docs, 0.5).collect()
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in neardup_pairs(docs).collect()
        if r["jaccard"] >= 0.5
    }
    expect: dict[int, list[int]] = {}
    for r in exact:
        b = int(r["jaccard"] * 10)
        n, h = expect.setdefault(b, [0, 0])
        expect[b] = [n + 1, h + ((r["doc_a"], r["doc_b"]) in lsh)]
    got = {r["jbucket"]: r for r in neardup_recall(docs).collect()}
    assert set(got) == set(expect), (sorted(got), sorted(expect))
    for b, (n_exact, n_hit) in expect.items():
        r = got[b]
        assert (r["n_exact"], r["n_hit"]) == (n_exact, n_hit), (b, dict(r.asDict()))
        assert 0 <= r["n_hit"] <= r["n_exact"]
        assert abs(r["recall"] - round(n_hit / n_exact, 6)) < 1e-9


def test_neardup_clusters_transitive_chain(spark):
    """A~B and B~C (A!~C directly) must land in ONE cluster labeled by
    the minimum doc_id; unrelated docs stay singletons."""
    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        neardup_clusters,
        neardup_pairs,
    )

    # 40-token docs with single-word substitutions: 10~20 and 20~30 at
    # jaccard 0.854, 10~30 at 0.727 -- threshold 0.8 keeps exactly the
    # chain edges (values are deterministic: md5 minhash, fixed text)
    words = [f"tok{i}" for i in range(40)]
    a, b, c = words[:], words[:], words[:]
    b[5] = "beee"
    c[5] = "beee"
    c[30] = "ceee"
    docs = spark.createDataFrame(
        [
            (10, " ".join(a)),
            (20, " ".join(b)),
            (30, " ".join(c)),
            (99, "completely different words nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    # chain premise: 10-20 and 20-30 are pairs; require 10-30 NOT to be
    # (else the test proves nothing about transitivity)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in neardup_pairs(docs, threshold=0.8).collect()
    }
    assert (10, 20) in pairs and (20, 30) in pairs
    assert (10, 30) not in pairs
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in neardup_clusters(docs, threshold=0.8).collect()
    }
    assert got[10] == (10, 3) and got[20] == (10, 3) and got[30] == (10, 3)
    assert got[99] == (99, 1)


def test_leakage_safe_split_cluster_granularity(spark):
    """The split datasheet's leakage guarantee: assignment is drawn
    per near-dup CLUSTER, so no verified near-dup pair may straddle a
    split boundary -- and the datasheet must cover the corpus exactly
    once (n_docs sums to the corpus size, n_tokens to the corpus
    token count)."""
    from big_data_streaming_dashboard_spark.llmdata.curation import (
        leakage_safe_split,
        split_assignment_column,
    )
    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        neardup_clusters,
        neardup_pairs,
    )
    from pyspark.sql import functions as F

    # 30 near-dup families (template + one-word substitution => one
    # 2-doc cluster each) + 30 unrelated singletons, across 3 langs:
    # enough clusters that all three splits draw members
    rows = []
    langs = ["en", "es", "de"]
    for i in range(30):
        base = " ".join(f"w{i}x{j}" for j in range(40))
        edited = base.replace(f"w{i}x5", "subbed")
        rows.append((2 * i, base, langs[i % 3]))
        rows.append((2 * i + 1, edited, langs[i % 3]))
    for i in range(30):
        rows.append((100 + i, " ".join(f"solo{i}y{j}" for j in range(12)), langs[i % 3]))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    sheet = leakage_safe_split(docs).collect()
    assert sum(r["n_docs"] for r in sheet) == len(rows)
    total_tokens = sum(len(t.split()) for _, t, _ in rows)
    assert sum(r["n_tokens"] for r in sheet) == total_tokens
    assert {r["split"] for r in sheet} == {"train", "val", "test"}

    # the guarantee itself: every verified near-dup pair lands in ONE
    # split (checked through the same assignment expression the
    # datasheet aggregates over)
    assigned = neardup_clusters(docs).select(
        "doc_id", split_assignment_column(F.col("cluster_id")).alias("split")
    )
    pairs = neardup_pairs(docs).select("doc_a", "doc_b")
    straddling = (
        pairs.join(assigned.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("split", "split_a")
        .join(assigned.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .filter(F.col("split_a") != F.col("split"))
        .count()
    )
    assert straddling == 0
    # premise check: the pair graph is non-trivial (else the guarantee
    # was tested against nothing)
    assert pairs.count() >= 25


def test_split_threshold_guard_raises_out_of_range(monkeypatch):
    """The split draw compares 8-char hex strings; a cumulative
    fraction at or past 1.0 renders 9 hex chars that every draw sorts
    below, silently moving the val share to test ON BOTH ENGINES --
    the one drift class the hash-match gate cannot catch (the r13
    review finding). The threshold builder must die loudly instead."""
    import pytest

    from big_data_streaming_dashboard_spark.llmdata import curation

    monkeypatch.setattr(curation, "SPLIT_TRAIN_FRAC", 0.9)
    monkeypatch.setattr(curation, "SPLIT_VAL_FRAC", 0.1)
    with pytest.raises(ValueError, match="8 hex chars"):
        curation.split_hex_thresholds()
    # r13 ADVICE: val <= 0 passed the old guard yet made
    # t_val <= t_train, silently emptying val on BOTH engines --
    # exactly the drift class this guard exists to kill
    monkeypatch.setattr(curation, "SPLIT_TRAIN_FRAC", 0.9)
    monkeypatch.setattr(curation, "SPLIT_VAL_FRAC", 0.0)
    with pytest.raises(ValueError, match="train \\+ val"):
        curation.split_hex_thresholds()
    monkeypatch.setattr(curation, "SPLIT_VAL_FRAC", -0.1)
    with pytest.raises(ValueError, match="train \\+ val"):
        curation.split_hex_thresholds()
    monkeypatch.setattr(curation, "SPLIT_TRAIN_FRAC", 0.8)
    monkeypatch.setattr(curation, "SPLIT_VAL_FRAC", 0.1)
    t1, t2 = curation.split_hex_thresholds()
    assert len(t1) == 8 and len(t2) == 8 and t1 < t2


def test_ngram_jaccard_exact_value_and_cap(spark):
    """Inverted-index Jaccard: hand-computable trigram sets.
    A='a b c d e' -> {abc,bcd,cde}, B='a b c d f' -> {abc,bcd,cdf}:
    intersection 2, union 4 -> jaccard exactly 0.5. C shares nothing.
    A tight document-frequency cap suppresses the only shared
    shingles and with them the pair."""
    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w v")],
        ["doc_id", "text"],
    )
    got = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in got] == [(1, 2, 0.5)]
    # both shared shingles ('a b c', 'b c d') have df=2 -> a cap of 1
    # drops them and no candidate pair survives
    assert ngram_jaccard_pairs(docs, threshold=0.0, max_postings=1).count() == 0


def test_ngram_jaccard_count_filter_binds_without_recall_loss(spark):
    """r18 optimization pin: the symmetric candidate path aggregates
    the prefix-probe join per directed pair and prunes by the exact
    PPJoin count/positional bounds BEFORE the array-attaching verify
    (dedup._prefix_candidates docstring, PAIR-LEVEL COUNT FILTER).
    This corpus is built so the filter genuinely BINDS -- long docs
    (prefixes are proper subsets of the posting lists) with mutation
    distances spanning the threshold -- and the test asserts the two
    things the optimization must preserve: (a) the final thresholded
    output is EXACTLY brute force, and (b) candidates remain a
    superset of qualifying pairs while the filter demonstrably prunes
    sub-threshold ones (strictly fewer candidates than raw distinct
    join pairs), i.e. the pruning is live, not vacuous."""
    import random

    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        DEFAULT_MAX_BUCKET,
        _prefix_candidates,
        corpus_count,
        ngram_jaccard_pairs,
        scale_hint,
        shingles,
    )

    rng = random.Random(18)
    vocab = [f"w{i}" for i in range(120)]
    texts = []
    for _ in range(8):  # 8 families x 4 variants = 32 docs
        base = [rng.choice(vocab) for _ in range(60)]
        for n_mut in (0, 3, 12, 35):  # dup / near / borderline / far
            doc = list(base)
            for pos in rng.sample(range(60), n_mut):
                doc[pos] = rng.choice(vocab)
            texts.append(" ".join(doc))
    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    ).persist()
    t = 0.5
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=t).collect()
    }
    sh = {
        r["doc_id"]: set(r["sh"])
        for r in docs.select("doc_id", shingles(F.col("text")).alias("sh")).collect()
    }
    expect = {}
    for i in sorted(sh):
        for j in sorted(sh):
            if i >= j or not (sh[i] & sh[j]):
                continue
            jac = round(len(sh[i] & sh[j]) / len(sh[i] | sh[j]), 6)
            if jac >= t:
                expect[(i, j)] = jac
    assert got == expect  # (a) exactness, with the filter binding
    assert len(expect) >= 8  # the corpus really has qualifying pairs
    n = corpus_count(docs)
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in _prefix_candidates(
            docs, t, DEFAULT_MAX_BUCKET, n, scale_hint, symmetric=True
        ).collect()
    }
    assert set(expect) <= cand  # (b) no qualifying pair pruned
    # raw sharing-any-shingle pair count -- what the candidate set was
    # before the r18 count filter (modulo the prefix/size filters):
    # the filter must be strictly pruning on this corpus
    raw = sum(
        1
        for i in sorted(sh)
        for j in sorted(sh)
        if i < j and (sh[i] & sh[j])
    )
    assert len(cand) < raw, (len(cand), raw)
    # r19 extension (packed pair key): past the broadcast-safety gate
    # with 31-bit ids the directed-pair aggregate keys on ONE packed
    # long (_pk = doc_id << 32 | _ix_doc); the candidate set must be
    # IDENTICAL to the below-gate two-column form on the same corpus
    # (injective key -> same groups -> same count/positional filter
    # decisions -> same pairs after the exact inverse unpack)
    packed = _prefix_candidates(
        docs, t, DEFAULT_MAX_BUCKET, 50_000, scale_hint, symmetric=True
    )
    packed_plan = packed._jdf.queryExecution().analyzed().toString()
    assert "_pk" in packed_plan, "scale path must take the packed key"
    assert cand == {(r["doc_a"], r["doc_b"]) for r in packed.collect()}
    docs.unpersist()


def test_jaccard_packed_pair_key_gate_and_fallback(spark, monkeypatch):
    """r19 optimization pin (packed pair key, guide 2.3 'narrower
    types'): (a) the id-range probe refuses ids past 2^31 and the
    two-column pair key stands, with IDENTICAL pairs; (b) non-integral
    id types refuse statically; (c) the packed branch preserves the
    output schema (ids keep their source type); (d) past the stats
    broadcast budget the packed branch ships the pair-constant doubles
    on the exchange instead of stats-joining them back -- same pairs."""
    from big_data_streaming_dashboard_spark.llmdata import dedup as dd
    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        DEFAULT_MAX_BUCKET,
        _pair_key_packable,
        _prefix_candidates,
        ngram_jaccard_pairs,
        scale_hint,
    )

    texts = ["a b c d e f", "a b c d e g", "x y z w v u"]
    small = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    assert _pair_key_packable(small)
    # (a) ids >= 2^31: probe refuses, fallback path, same pairs
    shift = 1 << 31
    big_ids = spark.createDataFrame(
        [(i + shift, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    assert not _pair_key_packable(big_ids)
    cand_big = _prefix_candidates(
        big_ids, 0.5, DEFAULT_MAX_BUCKET, 50_000, scale_hint, symmetric=True
    )
    assert "_pk" not in cand_big._jdf.queryExecution().analyzed().toString()
    got_big = sorted(
        (r["doc_a"] - shift, r["doc_b"] - shift) for r in cand_big.collect()
    )
    cand_small = _prefix_candidates(
        small, 0.5, DEFAULT_MAX_BUCKET, 50_000, scale_hint, symmetric=True
    )
    assert sorted(map(tuple, cand_small.collect())) == got_big
    # (b) non-integral id type refuses statically (no probe job)
    sdocs = spark.createDataFrame(
        [("a", "a b c"), ("b", "a b d")], ["doc_id", "text"]
    )
    assert not _pair_key_packable(sdocs)
    # (c) schema through the packed branch is unchanged: int ids stay
    # int (the unpack casts back to the source id type), and the
    # packed candidates match the below-gate form's on the same corpus
    int_docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    ).withColumn("doc_id", F.col("doc_id").cast("int"))
    packed = _prefix_candidates(
        int_docs, 0.5, DEFAULT_MAX_BUCKET, 50_000, scale_hint, symmetric=True
    )
    assert "_pk" in packed._jdf.queryExecution().analyzed().toString()
    assert dict(packed.dtypes) == {"doc_a": "int", "doc_b": "int"}
    below = _prefix_candidates(
        int_docs, 0.5, DEFAULT_MAX_BUCKET, 3, scale_hint, symmetric=True
    )
    assert dict(below.dtypes) == {"doc_a": "int", "doc_b": "int"}
    assert sorted(map(tuple, packed.collect())) == sorted(
        map(tuple, below.collect())
    )
    # the full query below the gate is untouched (plan parity for the
    # small-SF hash-matched fixtures is pinned elsewhere; here: runs)
    assert ngram_jaccard_pairs(int_docs, threshold=0.5).count() >= 1
    # (d) stats budget forced to zero: the packed branch falls back to
    # shipping the doubles (min(_thr)/max(_cmt) form) -- identical
    # pairs, and the plan shows the on-exchange _thr column
    monkeypatch.setattr(dd, "_VERIFY_BROADCAST_BYTES", 0)
    doubles = _prefix_candidates(
        int_docs, 0.5, DEFAULT_MAX_BUCKET, 50_000, scale_hint, symmetric=True
    )
    dplan = doubles._jdf.queryExecution().analyzed().toString()
    assert "_pk" in dplan and "_thr" in dplan, dplan
    assert sorted(map(tuple, doubles.collect())) == sorted(
        map(tuple, below.collect())
    )
    monkeypatch.undo()
    # (e) randomized identity sweep across ALL THREE branches
    # (packed+stats-join, packed+doubles, below-gate two-column): the
    # stats-join re-derivation must be byte-identical on corpora it
    # was NOT designed around -- random docs with duplicate-heavy
    # vocab so the count/positional filters genuinely engage
    import random as _random

    for seed in (7, 18, 29):
        rng = _random.Random(seed)
        vocab = [f"t{i}" for i in range(30)]
        rdocs = spark.createDataFrame(
            [
                (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 24))))
                for i in range(40)
            ],
            ["doc_id", "text"],
        )
        forms = []
        for budget, n_gate in ((dd._verify_broadcast_bytes(), 50_000),
                               (0, 50_000), (dd._verify_broadcast_bytes(), 2)):
            monkeypatch.setattr(dd, "_VERIFY_BROADCAST_BYTES", budget)
            got = sorted(
                map(
                    tuple,
                    _prefix_candidates(
                        rdocs, 0.5, DEFAULT_MAX_BUCKET, n_gate,
                        scale_hint, symmetric=True,
                    ).collect(),
                )
            )
            forms.append(got)
            monkeypatch.undo()
        assert forms[0] == forms[1] == forms[2], (seed, forms)


def test_jaccard_pair_agg_partitions_scale_derived(spark):
    """r18 optimization pin (guide section 5 spill remedies): the
    jaccard directed-pair aggregate derives its exchange's partition
    count from the CORPUS COUNT past the broadcast-safety gate (one
    partition per _PAIR_DOCS_PER_PARTITION docs, floored at the
    session default -- measured at 10x: agg spill 8.12 GB -> zero at
    +12.8% exchange bytes), while below the gate the layout stays the
    session default so every small-SF hash-matched plan is unchanged.
    Pins (a) the formula, (b) the plan markers on both sides of the
    gate (explicit-count repartition = REPARTITION_BY_NUM, which AQE
    must not coalesce; default = REPARTITION_BY_COL), and (c) result
    identity across the branch."""
    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        _PAIR_DOCS_PER_PARTITION,
        _pair_agg_partitions,
        _prefix_candidates,
        scale_hint,
    )

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _pair_agg_partitions(spark, 100) == default
    assert _pair_agg_partitions(spark, 50_000) == max(
        default, -(-50_000 // _PAIR_DOCS_PER_PARTITION)
    )

    def plan_str(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], ["doc_id", "text"]
    )
    # past the gate (n is a parameter, so a tiny corpus can exercise
    # the scale branch): the pair exchange pins its derived count
    big = _prefix_candidates(docs, 0.5, 1000, 50_000, scale_hint, symmetric=True)
    s_big = plan_str(big)
    parts = _pair_agg_partitions(spark, 50_000)
    # r19 ADVICE fix: match the marker and the derived count on the
    # same plan line rather than exact punctuation (Spark-version-
    # agnostic -- the formatted layout of the node line is not ours)
    import re as _re

    assert any(
        "REPARTITION_BY_NUM" in ln and _re.search(rf"\b{parts}\b", ln)
        for ln in s_big.splitlines()
    ), s_big
    # below the gate: session-default, AQE-coalescible layout
    small = _prefix_candidates(docs, 0.5, 1000, 2, scale_hint, symmetric=True)
    s_small = plan_str(small)
    assert "REPARTITION_BY_NUM" not in s_small
    assert "REPARTITION_BY_COL" in s_small
    # the branch is partitioning-only: identical candidate pairs
    assert sorted(map(tuple, big.collect())) == sorted(map(tuple, small.collect()))


def test_verify_attach_broadcast_gated_on_measured_bytes(spark, monkeypatch):
    """r18 optimization pin (guide section 3.1, broadcast decided on
    MEASURED bytes): the exact-verify attachment of the int-shingle
    table is (a) untouched below the broadcast-safety gate (small-SF
    hash-matched plans bit-identical), (b) an EXPLICIT broadcast past
    the gate while the table's true measured bytes fit
    _VERIFY_BROADCAST_BYTES (at 10x: 68.3 MB measured -> containment
    total shuffle 1,817 -> 444 MB, the 8.59 GB verify sort spill ->
    zero), and (c) the caller's memory-safe scale hint when it does
    not (the 100 TB shape). Estimates are never consulted."""
    from big_data_streaming_dashboard_spark.llmdata import dedup as dd

    docs = spark.createDataFrame(
        [(i, f"v{i} w{i} x{i} y{i} z{i}") for i in range(6)], ["doc_id", "text"]
    )
    side = dd._shingle_ints(docs).withColumnRenamed("doc_id", "doc_a")
    # (a) below the gate: returned untouched
    assert dd._verify_attach(side, docs, 5, dd.scale_hint) is side
    # (b) past the gate, measured bytes under the cap: broadcast hint
    out = dd._verify_attach(side, docs, 50_000, dd.scale_hint)
    # r19 ADVICE fix: pin the strategy, not the node's exact
    # formatting (Spark-version-agnostic)
    assert "strategy=broadcast" in (
        out._jdf.queryExecution().analyzed().toString()
    )
    # strategy-only, broadcast branch end-to-end: identical verified
    # pairs on the scale path (fresh corpora per branch -- the family
    # memoizes plan handles)
    rows_a = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w v")],
        ["doc_id", "text"],
    )
    expect = [(1, 2, 0.5)]
    monkeypatch.setattr(dd, "BROADCAST_SAFE_ROWS", 0)  # scale path
    got_bcast = dd.ngram_jaccard_pairs(rows_a, threshold=0.5).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in got_bcast] == expect
    # (c) past the gate, cap forced below the measured bytes: the
    # memory-safe fallback hint (never an estimate-driven broadcast)
    assert dd._shingle_int_bytes(docs) > 0
    monkeypatch.setattr(dd, "_VERIFY_BROADCAST_BYTES", 0)
    out2 = dd._verify_attach(side, docs, 50_000, dd.scale_hint)
    assert "strategy=shuffle_hash" in (
        out2._jdf.queryExecution().analyzed().toString()
    )
    # fallback branch end-to-end: same pairs
    rows_b = spark.createDataFrame(
        [(4, "a b c d e"), (5, "a b c d f"), (6, "x y z w v")],
        ["doc_id", "text"],
    )
    got_hint = dd.ngram_jaccard_pairs(rows_b, threshold=0.5).collect()
    assert [
        (r["doc_a"] - 3, r["doc_b"] - 3, r["jaccard"]) for r in got_hint
    ] == expect


def test_contamination_check_flags_shared_passage(spark):
    """An 8-token run copied from the eval doc marks the train doc
    contaminated; a clean train doc keeps an explicit zero; eval docs
    never appear in the output."""
    from big_data_streaming_dashboard_spark.llmdata.text import (
        contamination_check,
    )

    leak = "q w e r t y u i"  # 8 tokens = exactly one window
    docs = spark.createDataFrame(
        [
            (0, f"intro {leak} outro", "bench"),
            (1, f"stolen {leak} words here", "web"),
            (2, "totally clean text with no overlap at all", "web"),
        ],
        ["doc_id", "text", "source"],
    )
    got = {r["doc_id"]: r for r in contamination_check(docs, eval_source="bench").collect()}
    assert set(got) == {1, 2}
    assert got[1]["is_contaminated"] and got[1]["n_contaminated"] >= 1
    assert not got[2]["is_contaminated"] and got[2]["n_contaminated"] == 0
    assert got[2]["contamination_rate"] == 0.0
    # rate denominator is the doc's own window count
    assert got[1]["n_windows"] == len(f"stolen {leak} words here".split()) - 7


def test_quantize_int8_known_vector(spark):
    """Hand-computable quantization: v=[127,-63.5,0] -> amax=127,
    scale=1.0, q=[127,-64,0] (banker's: -63.5 -> -64), L1=191,
    max err 0.5, mean err 0.5/3."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        quantize_int8,
    )

    embs = spark.createDataFrame(
        [(0, [127.0, -63.5, 0.0])], ["vec_id", "embedding"]
    )
    [r] = quantize_int8(embs).collect()
    assert r["scale"] == 1.0
    assert r["q_l1"] == 191
    assert r["max_abs_err"] == 0.5
    assert r["mean_abs_err"] == round(0.5 / 3, 6)


def test_corpus_mixture_flattens_shares(spark):
    """Hand-computable two-language mixture: en doc 8 tokens, fr doc
    2 tokens -> shares (0.8, 0.2); sqrt temperature gives weights
    sqrt(0.8)/(sqrt(0.8)+sqrt(0.2)) = 2/3 and 1/3 exactly -- the head
    language drops below its share, the tail rises above."""
    from big_data_streaming_dashboard_spark.llmdata.curation import (
        corpus_mixture,
    )

    docs = spark.createDataFrame(
        [
            (0, "the a and of is to in the"),  # 8 en function words
            (1, "le les"),  # 2 fr function words
        ],
        ["doc_id", "text"],
    )
    rows = {r["predicted_lang"]: r for r in corpus_mixture(docs).collect()}
    assert set(rows) == {"en", "fr"}
    assert rows["en"]["token_share"] == 0.8
    assert rows["fr"]["token_share"] == 0.2
    assert rows["en"]["mixture_weight"] == round(2 / 3, 6)
    assert rows["fr"]["mixture_weight"] == round(1 / 3, 6)
    assert rows["en"]["mixture_weight"] < rows["en"]["token_share"]
    assert rows["fr"]["mixture_weight"] > rows["fr"]["token_share"]


def test_repetition_score_periodic_text(spark):
    """A doc whose 8-token block repeats 3x has 24 tokens -> 17
    rolling windows but only 8 distinct patterns: rate 1 - 8/17. A
    non-repeating doc scores 0."""
    from big_data_streaming_dashboard_spark.llmdata.text import (
        repetition_score,
    )

    block = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(0, " ".join([block] * 3)), (1, "one two three four five six seven eight nine")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in repetition_score(docs).collect()}
    assert got[0]["n_windows"] == 17
    assert got[0]["n_distinct_windows"] == 8
    assert got[0]["repetition_rate"] == round(1 - 8 / 17, 6)
    assert got[1]["repetition_rate"] == 0.0


def test_curation_extended_precedence(spark):
    """Verdict precedence of the extended pipeline: eval_holdout >
    contaminated > non_english > repetitious > exact_duplicate >
    kept (quality disabled to isolate the round-3 signals)."""
    from big_data_streaming_dashboard_spark.llmdata.curation import (
        curation_pipeline_extended,
    )

    leak = "q w e r t y u i"
    clean = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (0, leak, "bench"),  # the benchmark doc itself
            (1, f"intro {leak} and varied tail words here", "web"),  # leaked
            (2, "le la les et des le la les et des", "web"),  # french
            (3, " ".join(["a b c d e f g h"] * 3), "web"),  # repetitious
            (4, clean, "web"),
            (5, clean, "web"),  # exact duplicate of 4
        ],
        ["doc_id", "text", "source"],
    )
    got = {
        r["doc_id"]: r
        for r in curation_pipeline_extended(
            docs, quality_threshold=0.0, eval_source="bench"
        ).collect()
    }
    assert got[0]["drop_reason"] == "eval_holdout"
    assert got[1]["drop_reason"] == "contaminated" and got[1]["is_contaminated"]
    assert got[2]["drop_reason"] == "non_english"
    assert got[3]["drop_reason"] == "repetitious"
    assert got[3]["repetition_rate"] > 0.2
    assert got[4]["drop_reason"] is None and got[4]["kept"]
    assert got[5]["drop_reason"] == "exact_duplicate"


def test_write_training_shards_layout(spark, tmp_path):
    """The shard writer round-trips every doc exactly once, each
    shard's token mass respects the greedy bound, and the on-disk
    layout is one partition directory per dense shard id."""
    import os

    from big_data_streaming_dashboard_spark.llmdata.curation import (
        shard_packing,
        write_training_shards,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, tokens_per_shard=2000)

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert sorted(r["doc_id"] for r in back.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in docs.select("doc_id").collect()
    )

    expect = {
        r["doc_id"]: r["shard_id"]
        for r in shard_packing(docs, tokens_per_shard=2000).collect()
    }
    got = {r["doc_id"]: r["shard_id"] for r in back.select("doc_id", "shard_id").collect()}
    assert got == expect

    shard_dirs = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("shard_id=")
    )
    assert shard_dirs == list(range(len(shard_dirs)))
    per_shard = (
        back.groupBy("shard_id")
        .agg(F.sum("est_bpe_tokens").alias("mass"), F.max("est_bpe_tokens").alias("biggest"))
        .collect()
    )
    assert all(r["mass"] < 2000 + r["biggest"] for r in per_shard)


def test_pii_redact_counts_and_order(spark):
    """PII scrub: fixed email->phone->IPv4 order, no double counting
    (an email's dotted domain is gone before the IP pattern runs),
    exact redacted output."""
    from big_data_streaming_dashboard_spark.llmdata.text import pii_redact

    docs = spark.createDataFrame(
        [
            (0, "mail a.b_c%x+1@sub.example.co now", ""),
            (1, "call 555-867-5309 or 555.123.4567", ""),
            (2, "host 192.168.0.1 and 10.0.255.7 up", ""),
            (3, "x@y.io then 555 123 4567 then 8.8.8.8", ""),
            (4, "clean text, no identifiers here", ""),
        ],
        "doc_id long, text string, lang string",
    )
    got = {r["doc_id"]: r for r in pii_redact(docs).collect()}
    assert got[0]["n_emails"] == 1 and got[0]["n_phones"] == 0 and got[0]["n_ips"] == 0
    assert got[0]["redacted_text"] == "mail <EMAIL> now"
    assert got[1]["n_phones"] == 2
    assert got[1]["redacted_text"] == "call <PHONE> or <PHONE>"
    assert got[2]["n_ips"] == 2
    assert got[2]["redacted_text"] == "host <IP> and <IP> up"
    assert (got[3]["n_emails"], got[3]["n_phones"], got[3]["n_ips"]) == (1, 1, 1)
    assert got[3]["redacted_text"] == "<EMAIL> then <PHONE> then <IP>"
    assert got[4]["pii_total"] == 0 and not got[4]["has_pii"]
    assert got[4]["redacted_text"] == "clean text, no identifiers here"


def test_neardup_join_hints_size_gated(spark):
    """r4 verdict item 3: the near-dup SHUFFLE_HASH hints are gated on
    a corpus-size probe. Below BROADCAST_SAFE_ROWS Catalyst plans
    freely (no hint in the analyzed plan); above it every corpus-sized
    join side is pinned to shuffled-hash (driver-broadcast OOM guard,
    proven at 50k docs by the 10x fixture)."""
    from pyspark.sql import functions as F

    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        BROADCAST_SAFE_ROWS,
        neardup_pairs,
    )

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    small = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta text "), F.col("id")).alias("text"),
    )
    assert "shuffle_hash" not in analyzed(neardup_pairs(small))
    big = spark.range(BROADCAST_SAFE_ROWS + 1).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta text "), F.col("id")).alias("text"),
    )
    assert "shuffle_hash" in analyzed(neardup_pairs(big))


def test_bpe_train_matches_classic_reference(spark):
    """Distributed BPE (r8) against an independent dict-based
    implementation of Sennrich et al.'s algorithm: same merges, same
    ranks, same counts -- including the (count DESC, pair ASC)
    tie-break and greedy leftmost merge application ('aaaa' under
    (a,a) -> [aa, aa])."""
    from collections import Counter

    from big_data_streaming_dashboard_spark.llmdata.text import bpe_train

    texts = [
        "low low low low low lower lower newest newest newest",
        "newest newest newest widest widest widest low lower newest widest",
        "aaaa aaaa baaa",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe_train(docs, n_merges=7).collect()]

    words = Counter(w for t in texts for w in t.split())
    vocab = Counter()
    for w, f in words.items():
        vocab[tuple(w)] += f
    ref = []
    for rank in range(1, 8):
        pc = Counter()
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        m = max(pc.values())
        pair = sorted(p for p, n in pc.items() if n == m)[0]
        ref.append((rank, pair[0], pair[1], m))
        nxt = Counter()
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[tuple(out)] += f
        vocab = nxt
    assert got == ref


def test_neardup_recall_threshold_guards(spark):
    """r10 advice: thresholds below neardup_pairs' >= 0.2 candidate
    floor would silently mis-read as banding misses -- both the
    engine evaluator and its oracle generator must refuse loudly.
    The oracle's floor is higher (0.5, the fixed exact-side NGRAM
    oracle), mirroring the engine's memoized-plan reuse."""
    import pytest

    from big_data_streaming_dashboard_spark.llmdata.dedup import neardup_recall
    from big_data_streaming_dashboard_spark.plans.llm_sql import (
        neardup_recall_sql,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    with pytest.raises(ValueError, match="candidate floor"):
        neardup_recall(docs, threshold=0.1)
    with pytest.raises(ValueError, match="NGRAM oracle floor"):
        neardup_recall_sql(0.3)
    # r12 (r11 ADVICE): the [0.2, 0.5) range is engine-exact but has
    # no generatable oracle -- the engine now says so AT THE CALL SITE
    # instead of letting a future registry entry discover it only when
    # the oracle is requested
    with pytest.warns(UserWarning, match="no generatable DuckDB oracle"):
        neardup_recall(docs, threshold=0.3)


def test_neardup_recall_hi_is_tail_restriction(spark):
    """The 0.8 variant must equal the default evaluator restricted to
    buckets >= 8 -- it reuses the same constituent plans, so any
    divergence means the threshold filter leaked into the plan
    structure instead of staying a final filter."""
    from big_data_streaming_dashboard_spark.llmdata.dedup import neardup_recall
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    base = {
        r["jbucket"]: (r["n_exact"], r["n_hit"], r["recall"])
        for r in neardup_recall(docs).collect()
        if r["jbucket"] >= 8
    }
    hi = {
        r["jbucket"]: (r["n_exact"], r["n_hit"], r["recall"])
        for r in neardup_recall(docs, threshold=0.8).collect()
    }
    assert hi == base
    assert hi, "fixture lost its high-J pairs"


def test_curation_funnel_conserves_docs_and_tokens(spark):
    """The funnel must partition the corpus exactly: stage doc counts
    sum to the corpus size, stage token counts sum to the corpus
    token total (the same n_tokens the verdict rows carry), and no
    stage is negative or empty-named."""
    from big_data_streaming_dashboard_spark.llmdata.curation import (
        curation_funnel,
        curation_pipeline_full,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = curation_funnel(docs, embs).collect()
    assert sum(r["n_docs"] for r in rows) == docs.count()
    verdict_tokens = sum(
        r["n_tokens"] for r in curation_pipeline_full(docs, embs).collect()
    )
    assert sum(r["n_tokens"] for r in rows) == verdict_tokens
    for r in rows:
        assert r["stage"] and r["n_docs"] > 0 and r["n_tokens"] >= 0
