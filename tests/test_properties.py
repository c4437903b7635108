"""Property-based tests (hypothesis): invariants of the validator,
router, and dedup over arbitrary stringly bronze rows."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from big_data_streaming_dashboard_spark.operators.dedup import first_occurrence_dedup
from big_data_streaming_dashboard_spark.operators.route import route
from big_data_streaming_dashboard_spark.operators.validate import validate_enrich

BRONZE_COLS = (
    "event_id long, captured_time string, latitude string, longitude string, "
    "value string, unit string, ingestion_timestamp long"
)

# strings that exercise every validator path: numerics (in/out of range),
# garbage, empties, None
_numish = st.one_of(
    st.none(),
    st.just(""),
    st.just("abc"),
    st.floats(-250, 250, allow_nan=False).map(lambda x: f"{x:.4f}"),
)
_ts = st.one_of(
    st.none(),
    st.just("not-a-time"),
    st.just("2024-01-01 10:00:00"),
    st.just("2024-01-01 10:00:00+09:00"),
    st.just("2024-01-01 10:00:01.5"),
)
_unit = st.one_of(st.none(), st.just("cpm"), st.just("CPM"), st.just("usv"), st.just(""))

_row = st.tuples(_ts, _numish, _numish, _numish, _unit)
_rows = st.lists(_row, min_size=1, max_size=25)


def _bronze(spark, raw_rows):
    rows = [
        (i, ts, lat, lon, val, unit, 0)
        for i, (ts, lat, lon, val, unit) in enumerate(raw_rows)
    ]
    return spark.createDataFrame(rows, BRONZE_COLS)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(_rows)
def test_validator_total_partition(spark, raw_rows):
    """Every row is valid XOR carries an error; valid rows have the full
    enrichment, invalid rows have raw_data; row count preserved."""
    silver = validate_enrich(_bronze(spark, raw_rows)).collect()
    assert len(silver) == len(raw_rows)
    for r in silver:
        if r["status"] == "valid":
            assert r["error"] is None and r["raw_data"] is None
            assert r["value"] is not None and r["value"] > 0
            assert -90 <= r["lat"] <= 90 and -180 <= r["lon"] <= 180
            assert r["unit"] == "cpm"
            assert r["level"] in ("low", "moderate", "high")
            assert r["critical"] == (r["value"] >= 1000)
        else:
            assert r["status"] == "invalid" and r["error"]
            assert r["raw_data"] is not None
            assert r["value"] is None and r["level"] is None


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_rows)
def test_route_total_and_consistent(spark, raw_rows):
    routed = route(validate_enrich(_bronze(spark, raw_rows))).collect()
    assert len(routed) == len(raw_rows)
    for r in routed:
        if r["status"] == "invalid":
            assert r["route"] == "dirty"
        elif r["critical"]:
            assert r["route"] == "critical"
        else:
            assert r["route"] == "normal"


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_rows)
def test_dedup_idempotent_and_minimal(spark, raw_rows):
    """dedup is idempotent; survivors have the min event_id of their
    key group; every key keeps exactly one row."""
    silver = validate_enrich(_bronze(spark, raw_rows))
    once = first_occurrence_dedup(silver)
    twice = first_occurrence_dedup(once)
    got_once = sorted(r["event_id"] for r in once.collect())
    got_twice = sorted(r["event_id"] for r in twice.collect())
    assert got_once == got_twice
    groups = {}
    for r in silver.collect():
        groups.setdefault(r["dedup_key"], []).append(r["event_id"])
    expected = sorted(min(v) for v in groups.values())
    assert got_once == expected


# -- llmdata properties ------------------------------------------------------

_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"])
_doc = st.lists(_word, min_size=1, max_size=12).map(" ".join)
_corpus = st.lists(_doc, min_size=2, max_size=8)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_corpus)
def test_ngram_jaccard_matches_brute_force(spark, texts):
    """With the df cap out of reach, the inverted-index pairs are
    EXACTLY the brute-force shingle-Jaccard pairs above threshold --
    the op's exact-recall claim, over arbitrary small corpora."""
    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        ngram_jaccard_pairs,
        shingles,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    sh = {
        r["doc_id"]: set(r["sh"])
        for r in docs.select(
            "doc_id", shingles(F.col("text")).alias("sh")
        ).collect()
    }
    expect = {}
    ids = sorted(sh)
    for i in ids:
        for j in ids:
            if i >= j:
                continue
            inter = len(sh[i] & sh[j])
            if inter == 0:
                continue  # no shared shingle -> no posting collision
            jac = round(inter / (len(sh[i]) + len(sh[j]) - inter), 6)
            if jac >= 0.3:
                expect[(i, j)] = jac
    assert got == expect


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.floats(-100, 100, allow_nan=False, allow_infinity=False),
            min_size=4,
            max_size=8,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_quantize_int8_error_bound(spark, vecs):
    """Symmetric int8 quantization invariant: every element's
    reconstruction error is bounded by scale/2 (round-to-nearest), so
    max_abs_err <= scale/2 within rounding slack; scale reconstructs
    max|x|/127."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        quantize_int8,
    )

    embs = spark.createDataFrame(
        list(enumerate(vecs)), ["vec_id", "embedding"]
    )
    for r in quantize_int8(embs).collect():
        amax = max(abs(x) for x in vecs[r["vec_id"]])
        assert abs(r["scale"] - amax / 127.0) < 1e-9 + 1e-9 * amax
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-6
        assert r["mean_abs_err"] <= r["max_abs_err"] + 1e-9


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_doc, min_size=1, max_size=20))
def test_shard_packing_invariants(spark, texts):
    """Greedy pack invariants over arbitrary corpora: shard ids are
    dense from 0 and non-decreasing in (bucket, doc_id) order; no doc
    splits; every shard's token mass stays below budget + its largest
    doc (the greedy bound); and the result is identical under a
    different input partitioning."""
    from big_data_streaming_dashboard_spark.llmdata.curation import (
        shard_packing,
    )

    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    budget, bucket = 10, 4
    rows = sorted(
        shard_packing(docs, tokens_per_shard=budget, docs_per_bucket=bucket).collect(),
        key=lambda r: r["doc_id"],
    )
    assert len(rows) == len(texts)

    ids = sorted({r["shard_id"] for r in rows})
    assert ids == list(range(len(ids)))
    # non-decreasing along (bucket, doc_id) = plain doc_id order here
    assert all(a["shard_id"] <= b["shard_id"] for a, b in zip(rows, rows[1:]))

    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r)
    for members in by_shard.values():
        mass = sum(r["est_bpe_tokens"] for r in members)
        assert mass < budget + max(r["est_bpe_tokens"] for r in members)

    again = sorted(
        shard_packing(
            docs.repartition(7), tokens_per_shard=budget, docs_per_bucket=bucket
        ).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_chunk_spans_invariants(spark):
    """Chunker invariants on varied doc lengths: spans tile the token
    range with exact stride/overlap, chunk 0 always exists, every
    token is covered, consecutive spans overlap by exactly `overlap`
    (except a shorter final chunk), and no kept chunk is degenerate."""
    from pyspark.sql import functions as F

    from big_data_streaming_dashboard_spark.llmdata.text import chunk_spans

    chunk, overlap = 64, 16
    stride = chunk - overlap
    # doc i has i+1 tokens -> covers empty-ish, < chunk, == chunk,
    # stride boundaries, and multi-chunk lengths
    docs = spark.range(150).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.transform(F.sequence(F.lit(0), F.col("id")), lambda x: x.cast("string"))
        ).alias("text"),
    )
    rows = chunk_spans(docs, chunk_tokens=chunk, overlap=overlap).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(range(150))
    for doc_id, spans in by_doc.items():
        n = doc_id + 1
        spans.sort(key=lambda r: r["start_token"])
        assert spans[0]["start_token"] == 0
        assert spans[-1]["end_token"] == n  # full coverage to the end
        for i, r in enumerate(spans):
            assert r["chunk_idx"] == i
            assert r["start_token"] == i * stride
            assert r["end_token"] - r["start_token"] == r["n_chunk_tokens"]
            assert r["n_chunk_tokens"] <= chunk
            if r["start_token"] > 0:
                assert r["n_chunk_tokens"] > overlap  # no degenerate tail
        for a, b in zip(spans, spans[1:]):
            assert a["end_token"] - b["start_token"] in (overlap, a["end_token"] - b["start_token"])
            if a["n_chunk_tokens"] == chunk:
                assert a["end_token"] - b["start_token"] == overlap


def test_codec_roundtrips_property():
    """Property-style sweep over random shapes/contents: PNG, GIF and
    WebP/VP8L round-trip bit-exactly (lossless; WebP cycles its
    literal / subtract-green / palette modes), JPEG q100 within the
    float-DCT bound, WAV sample-exact -- 20 random cases per codec,
    deterministic seed."""
    import numpy as np

    from big_data_streaming_dashboard_spark.llmdata.gif import gif_codec_kernel
    from big_data_streaming_dashboard_spark.llmdata.jpeg import jpeg_codec_kernel
    from big_data_streaming_dashboard_spark.llmdata.multimodal import (
        decode_png,
        decode_wav,
        encode_png,
        encode_wav,
    )
    from big_data_streaming_dashboard_spark.llmdata.webp import webp_codec_kernel

    gdec, genc = gif_codec_kernel()
    jdec, jenc = jpeg_codec_kernel()
    wpdec, wpenc = webp_codec_kernel()
    rng = np.random.default_rng(2024)
    for _ in range(20):
        h = int(rng.integers(1, 40))
        w = int(rng.integers(1, 40))
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (decode_png(encode_png(img, filter_type=int(rng.integers(0, 5)))) == img).all()
        err = np.abs(jdec(jenc(img, quality=100)).astype(int) - img.astype(int))
        assert err.max() <= 2, (h, w)
        npal = int(rng.integers(2, 256))
        pal = rng.integers(0, 256, size=(npal, 3), dtype=np.uint8)
        idx = rng.integers(0, npal, size=(h, w), dtype=np.uint8)
        frames, _ = gdec(genc([idx], pal))
        assert (frames[0] == pal[idx]).all(), (h, w, npal)
        n = int(rng.integers(1, 2000))
        ch = int(rng.integers(1, 3))
        pcm = rng.integers(-32768, 32768, size=(n, ch)).astype(np.int16)
        back, sr = decode_wav(encode_wav(pcm, 8000 * ch))
        assert sr == 8000 * ch and (back == pcm).all()
        mode = int(rng.integers(0, 3))
        if mode == 2:
            ncol = int(rng.integers(2, 40))
            wimg = rng.integers(0, 256, size=(ncol, 3)).astype(np.uint8)[
                rng.integers(0, ncol, size=(h, w))
            ]
            wdata = wpenc(wimg, palette=True)
        else:
            wimg = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            wdata = wpenc(wimg, subtract_green=bool(mode))
        assert (wpdec(wdata)[:, :, :3] == wimg).all(), (h, w, mode)


def test_importance_rate_rounding_margins():
    """The r8 oracle pairing of doc_importance_weights quantizes each
    bucket's smoothed log-ratio at 6 decimals BEFORE the exact DECIMAL
    per-doc sum, so the engines agree iff no bucket's ln() value sits
    within cross-engine libm noise (~1e-15) of a rounding boundary.
    Pin the margin per documents fixture with a pure-Python mirror of
    the bucket pipeline (md5-prefix buckets, unigram+bigram features,
    one double division of exact integer products)."""
    import hashlib
    import math
    import re
    from collections import Counter

    import pyarrow.parquet as pq

    for fixture in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        t = pq.read_table(
            f"{fixture}/documents.parquet", columns=["text", "source"]
        )
        cs: Counter = Counter()
        ct: Counter = Counter()
        for text, source in zip(t["text"].to_pylist(), t["source"].to_pylist()):
            toks = re.split(r"\s+", text)
            feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            for f in feats:
                k = hashlib.md5(f.encode()).hexdigest()[:2]
                cs[k] += 1
                if source == "src1":
                    ct[k] += 1
        S, T = sum(cs.values()), sum(ct.values())
        min_margin = 1.0
        for k in cs:
            ratio = ((ct.get(k, 0) + 1.0) * (S + 256.0)) / (
                (cs[k] + 1.0) * (T + 256.0)
            )
            v = math.log(ratio) * 1e6
            frac = abs(v - math.floor(v) - 0.5)
            min_margin = min(min_margin, frac)
        # noise is ~1e-15 in score units = 1e-9 grid units; require
        # 100x headroom (grid 1e-7 = 1e-13 score)
        assert min_margin > 1e-7, (fixture, min_margin)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from("abcdeé 日"),
            min_size=1,
            max_size=24,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_bpe_train_fuzz_matches_classic(spark, texts):
    """Property fuzz for the distributed BPE trainer (r8): random
    small corpora (incl. repeats, multi-codepoint chars, runs that
    force overlap handling and count ties) against the independent
    dict-based classic algorithm -- merges, tie-breaks and counts must
    agree exactly."""
    from collections import Counter

    from big_data_streaming_dashboard_spark.llmdata.text import bpe_train

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe_train(docs, n_merges=4).collect()]

    words = Counter(w for t in texts for w in t.split() if w)
    vocab = Counter()
    for w, f in words.items():
        vocab[tuple(w)] += f
    ref = []
    for rank in range(1, 5):
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


def test_codec_boundaries_never_leak_non_valueerror():
    """Byte-corruption + truncation sweep across ALL real codecs: the
    decode boundary must surface every malformed-input failure as
    ValueError (or the documented NotImplementedError for real-codec
    slots) -- the Spark-side feat/resize kernels catch exactly those,
    so any other exception type would kill a stage on one bad payload.
    The r8 sweep found PNG leaking zlib.error from corrupt IDAT; this
    pins the fix and the contract for the other four."""
    import numpy as np

    from big_data_streaming_dashboard_spark.llmdata.gif import gif_codec_kernel
    from big_data_streaming_dashboard_spark.llmdata.jpeg import jpeg_codec_kernel
    from big_data_streaming_dashboard_spark.llmdata.multimodal import (
        decode_png,
        decode_wav,
        encode_png,
        encode_wav,
    )
    from big_data_streaming_dashboard_spark.llmdata.webp import (
        decode_webp,
        encode_webp_lossless,
    )

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(9, 11, 3)).astype(np.uint8)
    gdec, genc = gif_codec_kernel()
    jdec, jenc = jpeg_codec_kernel()
    pal = rng.randint(0, 256, size=(8, 3)).astype(np.uint8)
    frames = [rng.randint(0, 8, size=(9, 11)).astype(np.uint8) for _ in range(2)]
    pcm = rng.randint(-32768, 32768, size=(300,)).astype(np.int16)
    cases = {
        "png": (bytes(encode_png(img)), decode_png),
        "jpeg": (bytes(jenc(img, quality=95)), jdec),
        "gif": (bytes(genc(frames, pal)), gdec),
        "wav": (bytes(encode_wav(pcm, 8000)), decode_wav),
        "webp": (bytes(encode_webp_lossless(img)), decode_webp),
    }
    for name, (data, dec) in cases.items():
        arr = bytearray(data)
        for pos in range(len(arr)):
            for mask in (0x01, 0x80, 0xFF):
                c = bytes(arr[:pos] + bytes([arr[pos] ^ mask]) + arr[pos + 1 :])
                try:
                    dec(c)
                except (ValueError, NotImplementedError):
                    pass  # the contract
        for n in range(len(arr)):
            try:
                dec(data[:n])
            except (ValueError, NotImplementedError):
                pass


# ---------------------------------------------------------------------------
# Streaming-funnel retention rule under randomized adversarial arrival
# (no Spark: the applyInPandasWithState closure is driven directly with
# a fake GroupState, so hypothesis can hammer the state machine)
# ---------------------------------------------------------------------------


class _FakeGroupState:
    def __init__(self):
        self._val = None

    @property
    def exists(self):
        return self._val is not None

    @property
    def get(self):
        return self._val

    def update(self, val):
        self._val = val


def _drive(make_update, batches, frame):
    """Feed pandas micro-batches through a stateful update closure,
    returning the last emitted row as a dict."""
    update = make_update()
    state = _FakeGroupState()
    last = None
    for rows in batches:
        if not rows:
            continue
        out = list(update((1,), iter([frame(rows)]), state))
        last = out[-1].iloc[-1].to_dict()
    return last


_funnel_events = st.lists(
    st.tuples(
        st.sampled_from(["view", "click", "purchase"]),
        st.integers(min_value=0, max_value=50),
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(_funnel_events, st.data())
def test_funnel_state_machine_matches_batch_truth_any_order(events, data):
    """The prune rule's exactness claim, randomized: for ANY event set
    and ANY partition of ANY arrival permutation into micro-batches,
    the final streamed answers equal the batch ladder (first view,
    first click strictly after it, first purchase strictly after
    that). Seconds collide on purpose (0..50) so strict-inequality
    ties and duplicate timestamps are exercised."""
    import pandas as pd

    from big_data_streaming_dashboard_spark.streaming.funnel import _make_update

    perm = data.draw(st.permutations(events))
    # split the permutation into 1..5 contiguous micro-batches
    n_cuts = data.draw(st.integers(min_value=0, max_value=4))
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(0, len(perm)), min_size=n_cuts, max_size=n_cuts
            )
        )
    )
    bounds = [0, *cuts, len(perm)]
    batches = [perm[a:b] for a, b in zip(bounds, bounds[1:])]

    def frame(rows):
        return pd.DataFrame(
            {
                "event_type": [t for t, _ in rows],
                "ts": pd.Series(
                    [pd.Timestamp(s * 1_000_000, unit="us") for _, s in rows],
                    dtype="datetime64[us]",
                ),
            }
        )

    # a TIGHT 20 s conversion window so the windowed retention rule's
    # new branches (answers falling to None, the floor+W prune bound)
    # actually fire on 0..50 s event times
    W = 20
    got = _drive(
        lambda: _make_update(window_us=W * 1_000_000), batches, frame
    )
    assert got is not None

    # brute-force batch truth over the full event set (windowed)
    views = sorted(s for t, s in events if t == "view")
    clicks = sorted(s for t, s in events if t == "click")
    purchases = sorted(s for t, s in events if t == "purchase")
    v = views[0] if views else None
    c = next(
        (x for x in clicks if v is not None and v < x <= v + W), None
    )
    p = next(
        (x for x in purchases if c is not None and c < x <= c + W), None
    )

    def us(x):
        return None if x is None else x * 1_000_000

    for col, want in [
        ("first_view", us(v)),
        ("first_click", us(c)),
        ("first_purchase", us(p)),
    ]:
        val = got[col]
        have = None if pd.isna(val) else int(pd.Timestamp(val).value // 1000)
        assert have == want, (col, have, want, events)


@settings(max_examples=100, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=25),
    st.data(),
)
def test_retention_state_machine_matches_batch_truth_any_order(days, data):
    """Cohort-retention streamed state under any arrival order and
    batching: the final (cohort_week, offsets) equals the batch
    distinct-week computation."""
    import pandas as pd

    from big_data_streaming_dashboard_spark.streaming.funnel import (
        _make_retention_update,
    )

    perm = data.draw(st.permutations(days))
    n_cuts = data.draw(st.integers(min_value=0, max_value=3))
    cuts = sorted(
        data.draw(
            st.lists(st.integers(0, len(perm)), min_size=n_cuts, max_size=n_cuts)
        )
    )
    bounds = [0, *cuts, len(perm)]
    batches = [perm[a:b] for a, b in zip(bounds, bounds[1:])]

    base = pd.Timestamp("2024-01-01")  # a Monday

    def frame(rows):
        return pd.DataFrame(
            {
                "ts": pd.Series(
                    [base + pd.Timedelta(days=d, hours=3) for d in rows],
                    dtype="datetime64[us]",
                )
            }
        )

    got = _drive(_make_retention_update, batches, frame)
    assert got is not None

    weeks = sorted({d // 7 for d in days})
    want_cohort = (base + pd.Timedelta(weeks=weeks[0])).date()
    want_offsets = [w - weeks[0] for w in weeks]
    assert got["cohort_week"] == want_cohort, (got, days)
    assert list(got["week_offsets"]) == want_offsets, (got, days)


@settings(max_examples=100, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200_000),  # event second
            st.integers(min_value=1, max_value=49_002),  # centi-value
        ),
        min_size=1,
        max_size=60,
    ),
    st.data(),
)
def test_anomaly_state_machine_matches_batch_truth(events, data):
    """The streamed anomaly kernel under ordered, second-aligned
    batching must flag exactly the events the batch RANGE-frame
    predicate flags: trailing-day window, n >= 20 floor, and
    4*(n*v-s)^2 > 9*(n*ss-s^2) in exact integers. Seconds span far
    beyond one day so pruning and window boundaries are exercised;
    min_n is lowered to 3 so small random sets actually fire."""
    import pandas as pd

    from big_data_streaming_dashboard_spark.streaming.funnel import (
        _make_anomaly_update,
    )

    events = sorted(events)
    # split on whole-second boundaries into 1..4 ordered batches
    secs_sorted = sorted({s for s, _ in events})
    n_cuts = data.draw(st.integers(min_value=0, max_value=3))
    cut_secs = set(
        data.draw(
            st.lists(st.sampled_from(secs_sorted), min_size=n_cuts, max_size=n_cuts)
        )
    )
    batches, cur = [], []
    prev = None
    for s, v in events:
        if cur and s in cut_secs and prev != s:
            batches.append(cur)
            cur = []
        cur.append((s, v))
        prev = s
    batches.append(cur)

    min_n, window_s = 3, 86_400
    update = _make_anomaly_update(window_s=window_s, min_n=min_n)
    state = _FakeGroupState()
    got = set()
    for i, rows in enumerate(batches):
        frame = pd.DataFrame(
            {
                "event_id": [i * 1000 + j for j in range(len(rows))],
                "ts": pd.Series(
                    [pd.Timestamp(s * 1_000_000_000) for s, _ in rows],
                    dtype="datetime64[us]",
                ),
                "value": [v / 100.0 for _, v in rows],
            }
        )
        for out in update(("view",), iter([frame]), state):
            got |= {
                (int(n), int(s), int(pd.Timestamp(t).value // 1_000_000_000))
                for n, s, t in zip(out["n_window"], out["_s"], out["ts"])
            }

    # brute-force batch truth
    want = set()
    for s, v in events:
        win = [w for t, w in events if s - (window_s - 1) <= t <= s]
        n, ssum = len(win), sum(win)
        ssq = sum(w * w for w in win)
        d = n * v - ssum
        if n >= min_n and 4 * d * d > 9 * (n * ssq - ssum * ssum):
            want.add((n, ssum, s))
    assert got == want, (sorted(got)[:5], sorted(want)[:5])


@settings(max_examples=150, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=40),
    st.data(),
)
def test_cooldown_state_machine_matches_batch_any_ordered_batching(
    seconds, data
):
    """The reference's D2 exact cooldown (first alert per key, then
    >= 30 s after the last EMITTED alert) is sequential state; for any
    event-time set and any ORDERED split into micro-batches, the
    streamed scan's emissions must equal the batch scan's -- the
    last-emit handoff across batch boundaries is the thing under
    test. Seconds collide on purpose."""
    import pandas as pd

    from big_data_streaming_dashboard_spark.streaming.stateful import (
        _make_scan,
    )

    seconds = sorted(seconds)
    n_cuts = data.draw(st.integers(min_value=0, max_value=4))
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(0, len(seconds)), min_size=n_cuts, max_size=n_cuts
            )
        )
    )
    bounds = [0, *cuts, len(seconds)]
    batches = [seconds[a:b] for a, b in zip(bounds, bounds[1:])]

    def frame(rows, base_id):
        return pd.DataFrame(
            {
                "event_id": [base_id + j for j in range(len(rows))],
                "event_time": pd.Series(
                    [pd.Timestamp(s * 1_000_000_000) for s in rows],
                    dtype="datetime64[ns]",
                ),
            }
        )

    scan = _make_scan(30.0)
    # streamed: carry last_emit across ordered micro-batches
    last = None
    got = []
    base = 0
    for rows in batches:
        if not rows:
            continue
        out, last = scan(frame(rows, base), last)
        got.extend(out["event_id"].tolist())
        base += len(rows)
    # batch truth: one scan over everything
    want, _ = scan(frame(seconds, 0), None)
    assert got == want["event_id"].tolist(), (seconds, batches)


class _FakeWatermarkGroupState(_FakeGroupState):
    """Fake GroupState with Spark's watermark surface, for driving the
    watermark-delayed anomaly kernel: getCurrentWatermarkMs returns the
    harness-advanced watermark, setTimeoutTimestamp enforces Spark's
    must-be-beyond-watermark contract, remove clears state."""

    def __init__(self):
        super().__init__()
        self.wm_ms = 0
        self.timeout_ts = None

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ts_ms):
        # Spark raises on a timeout at or before the current watermark;
        # a kernel that registers one has a real bug -- keep it loud
        assert ts_ms > self.wm_ms, (ts_ms, self.wm_ms)
        self.timeout_ts = ts_ms

    def remove(self):
        self._val = None


@settings(max_examples=100, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200_000),  # event second
            st.integers(min_value=1, max_value=49_002),  # centi-value
        ),
        min_size=1,
        max_size=60,
    ),
    st.data(),
)
def test_anomaly_delayed_state_machine_matches_batch_any_order(events, data):
    """r13: the watermark-delayed anomaly kernel under ANY arrival
    permutation and ANY micro-batch split must emit exactly the batch
    RANGE-frame verdicts, each exactly once, and never emit a verdict
    for a second the watermark has not passed. The harness simulates
    Spark's mechanics faithfully: watermark for batch k = max event
    time of batches 0..k-1 minus the delay (never regressing), delay
    chosen >= the permutation's measured disorder (so Spark would drop
    nothing), and a final empty timed-out invocation with the
    watermark pushed past every second (the no-data flush batch)."""
    import pandas as pd

    from big_data_streaming_dashboard_spark.streaming.funnel import (
        _make_anomaly_update_delayed,
    )

    perm = data.draw(st.permutations(events))
    n_cuts = data.draw(st.integers(min_value=0, max_value=4))
    cuts = sorted(
        data.draw(
            st.lists(st.integers(0, len(perm)), min_size=n_cuts, max_size=n_cuts)
        )
    )
    bounds = [0, *cuts, len(perm)]
    batches = [perm[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]

    # delay >= the replay's true disorder bound (+1 s margin)
    prefix_max, d_req = None, 0
    for s, _ in perm:
        prefix_max = s if prefix_max is None else max(prefix_max, s)
        d_req = max(d_req, prefix_max - s)
    delay_ms = (d_req + 1) * 1000

    min_n, window_s = 3, 86_400
    update = _make_anomaly_update_delayed(window_s=window_s, min_n=min_n)
    state = _FakeWatermarkGroupState()
    got = []
    seen_max_ms = None
    base = 0
    for rows in batches:
        # Spark computes the watermark from data seen through the
        # PREVIOUS batch, and it never regresses
        if seen_max_ms is not None:
            state.wm_ms = max(state.wm_ms, seen_max_ms - delay_ms)
        frame = pd.DataFrame(
            {
                "event_id": [base + j for j in range(len(rows))],
                "ts": pd.Series(
                    [pd.Timestamp(s * 1_000_000_000) for s, _ in rows],
                    dtype="datetime64[us]",
                ),
                "value": [v / 100.0 for _, v in rows],
            }
        )
        base += len(rows)
        for out in update(("view",), iter([frame]), state):
            for n, s, t in zip(out["n_window"], out["_s"], out["ts"]):
                sec = int(pd.Timestamp(t).value // 1_000_000_000)
                # gating invariant: never emit at/after the watermark
                assert sec < state.wm_ms // 1000
                got.append((int(n), int(s), sec))
        batch_max = max(s for s, _ in rows) * 1000
        seen_max_ms = batch_max if seen_max_ms is None else max(seen_max_ms, batch_max)

    # the flush: watermark past every second, empty timed-out call
    state.wm_ms = max(state.wm_ms, (max(s for s, _ in events) + 2) * 1000)
    if state.exists:
        for out in update(("view",), iter([]), state):
            for n, s, t in zip(out["n_window"], out["_s"], out["ts"]):
                got.append(
                    (int(n), int(s), int(pd.Timestamp(t).value // 1_000_000_000))
                )

    # brute-force batch truth (multiset: duplicate events emit twice)
    want = []
    for s, v in events:
        win = [w for t, w in events if s - (window_s - 1) <= t <= s]
        n, ssum = len(win), sum(win)
        ssq = sum(w * w for w in win)
        d = n * v - ssum
        if n >= min_n and 4 * d * d > 9 * (n * ssq - ssum * ssum):
            want.append((n, ssum, s))
    assert sorted(got) == sorted(want), (sorted(got)[:5], sorted(want)[:5])
