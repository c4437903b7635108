from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_streaming_dashboard_spark.session import get_spark
from big_data_streaming_dashboard_spark.tables import TABLE_NAMES

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_ORACLE}/{name}.parquet')"
        )
    yield con
    con.close()


def normalize(rows, columns):
    """Order-insensitive canonical form: sort columns by name, stringify
    values (timestamps -> isoformat, floats -> repr), sort rows.

    Type-preserving on purpose: int `44`, float `44.0`, and Decimal
    `44` all canonicalize DIFFERENTLY. The r2 driver flagged
    `doc_shard_packing` because DuckDB's windowed SUM(BIGINT) returns
    HUGEINT where Spark returns BIGINT; the old fetchall()-based
    comparison collapsed both to Python int and passed locally. The
    local harness must fail exactly where the driver fails."""
    import datetime
    import decimal
    import math

    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def canon(v):
        if v is None:
            return "\x00"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return repr(v)
        if isinstance(v, decimal.Decimal):
            return f"dec:{v}"
        if isinstance(v, datetime.datetime):
            return v.isoformat(sep=" ")
        return str(v)

    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def compare_spark_duck(spark_df, duck_con, sql, limit_diff=8):
    """Replicates the driver's check: row count + sorted-column value
    multiset equality. Returns (ok, message).

    DuckDB results are fetched through Arrow, not fetchall():
    fetchall() coerces HUGEINT to Python int (masking engine type
    drift the driver detects), while Arrow keeps HUGEINT as
    decimal128 the way the driver's materialization does."""
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    res = duck_con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = [
        tuple(row[c] for c in d_cols) for row in res.arrow().to_pylist()
    ]
    if sorted(s_cols) != sorted(d_cols):
        return False, f"schema mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"row count mismatch: spark={len(s_rows)} duck={len(d_rows)}"
    sn = normalize(s_rows, s_cols)
    dn = normalize(d_rows, d_cols)
    if sn != dn:
        diffs = [
            f"  spark={a}\n   duck={b}" for a, b in zip(sn, dn) if a != b
        ][:limit_diff]
        return False, "value mismatch (first diffs):\n" + "\n".join(diffs)
    return True, "ok"


# ---------------------------------------------------------------------------
# r19 test tiering (r18 verdict item 1): the suite outgrew the driver's
# verify envelope (the r18 run was cut off at ~85% with zero failures;
# 2,674 s measured this round with --durations=0). The default FAST
# tier (pytest.ini addopts deselects `slow`) must finish well inside
# ~20 minutes while keeping every operator family covered. Two
# sources of `slow` (the full test_oracle sweep stays fast, see its
# module docstring):
#   1. tests/test_scale10x.py -- module-marked (10x fixtures).
#   2. The explicit list below: the measured >=10 s streaming
#      integration tests (appends/compaction/replay/serving-artifact
#      builds dominate their walls) and the three brute-force recall
#      A/Bs in test_ann, MINUS one kept-fast representative for every
#      family that would otherwise lose all sub-10 s streaming
#      coverage (analytics, hybrid-keyword, ivfquant parity, pq
#      retriever, retention replay -- see the durations ledger in
#      OPTIMIZATION_r19.md). Every family named here retains at least
#      one fast test; the slow tier runs them all via `-m slow`.
# Keys are full node ids (relative to the repo root, where pytest.ini
# pins rootdir), so a same-named test in another file stays fast.
_SLOW_BY_NODE = {
    "tests/test_streaming.py::test_compact_serving_index_preserves_probes",
    "tests/test_streaming.py::test_probe_dedup_ttl_matches_unbounded_state",
    "tests/test_streaming.py::test_streaming_ivfpq_topk_composes_the_family_rules",
    "tests/test_streaming.py::test_rag_endpoints_serve_from_ivfpq_index",
    "tests/test_streaming.py::test_streaming_split_cadence_closes_straddle",
    "tests/test_streaming.py::test_streaming_pq_topk_matches_batch",
    "tests/test_streaming.py::test_streaming_anomaly_delayed_matches_batch_under_shuffled_replay",
    "tests/test_streaming.py::test_streaming_curation_append_equals_rebuild",
    "tests/test_streaming.py::test_streaming_pq_append_equals_frozen_model_rebuild",
    "tests/test_streaming.py::test_streaming_funnel_matches_batch_under_reverse_replay",
    "tests/test_streaming.py::test_streaming_split_assignment_is_batching_invariant",
    "tests/test_streaming.py::test_streaming_ivfpq_append_encodes_under_both_frozen_models",
    "tests/test_streaming.py::test_streaming_split_append_equals_rebuild",
    "tests/test_streaming.py::test_containment_probe_merged_df_cap_across_appends",
    "tests/test_streaming.py::test_streaming_curation_full_matches_batch",
    "tests/test_streaming.py::test_compact_then_probe_parity_all_kinds[ivfpq]",
    "tests/test_streaming.py::test_streaming_curation_compact_preserves_verdicts",
    "tests/test_streaming.py::test_streaming_split_matches_batch",
    "tests/test_streaming.py::test_streaming_drift_matches_batch",
    "tests/test_streaming.py::test_empty_artifact_dim_probes_refuse_loudly",
    "tests/test_streaming.py::test_compact_then_probe_parity_all_kinds[pq]",
    "tests/test_streaming.py::test_bm25_torn_artifact_refuses_at_probe",
    "tests/test_streaming.py::test_streaming_anomaly_verdicts_match_batch",
    "tests/test_streaming.py::test_streaming_quant_topk_matches_python_cascade[2]",
    "tests/test_streaming.py::test_streaming_temporal_annotated_rejoin_matches_batch",
    "tests/test_streaming.py::test_streaming_quant_topk_matches_python_cascade[8]",
    "tests/test_streaming.py::test_streaming_matryoshka_append_is_premise_free",
    "tests/test_streaming.py::test_streaming_split_new_docs_inherit_and_colink",
    "tests/test_streaming.py::test_hybrid_rrf_fixed_query_serves_from_ann_index",
    "tests/test_streaming.py::test_compact_then_probe_parity_all_kinds[bm25]",
    "tests/test_streaming.py::test_empty_centroids_refuse_at_probe_construction",
    "tests/test_streaming.py::test_streaming_pq_append_guards_refuse_loudly",
    "tests/test_streaming.py::test_neardup_probe_merged_bucket_cap_across_appends",
    "tests/test_streaming.py::test_streaming_hybrid_keyword_dual_pin_guards_both_artifacts",
    "tests/test_streaming.py::test_semantic_replay_duplicates_are_verdict_benign",
    "tests/test_streaming.py::test_streaming_split_small_graph_path_matches_distributed",
    "tests/test_streaming.py::test_compact_then_probe_parity_all_kinds[ivfmat]",
    "tests/test_streaming.py::test_streaming_bm25_append_equals_rebuild",
    "tests/test_streaming.py::test_streaming_ivf_topk_matches_batch_multiprobe",
    "tests/test_streaming.py::test_streaming_hybrid_rrf_matches_batch",
    "tests/test_streaming.py::test_streaming_ivf_matryoshka_matches_python_cascade[8-2]",
    "tests/test_streaming.py::test_streaming_hybrid_index_refresh_fails_loudly",
    "tests/test_streaming.py::test_compact_then_probe_parity_all_kinds[ivf]",
    "tests/test_streaming.py::test_ivf_matryoshka_guards_refuse_loudly",
    "tests/test_streaming.py::test_ivf_quant_guards_and_retriever_dispatch",
    "tests/test_streaming.py::test_compact_then_probe_parity_all_kinds[ann]",
    "tests/test_streaming.py::test_banded_append_verifies_knobs_against_stamp",
    "tests/test_streaming.py::test_serving_index_build_knob_guards",
    "tests/test_streaming.py::test_streaming_ivf_append_assigns_frozen_nearest_cell",
    "tests/test_streaming.py::test_streaming_bm25_matches_batch_for_arbitrary_queries",
    # test_ann brute-force recall A/Bs (37.6 / 30.2 / 28.6 s): the
    # emb family's output correctness stays fast-covered by the
    # oracle rows (emb_ivf_recall / emb_pq_recall / emb_kmeans)
    # and the vec-attach gate test
    "tests/test_ann.py::test_neardup_banded_recall_vs_exact",
    "tests/test_ann.py::test_pq_topk_recall",
    "tests/test_ann.py::test_pq_recall_matches_independent_computation",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.nodeid in _SLOW_BY_NODE:
            item.add_marker(pytest.mark.slow)
