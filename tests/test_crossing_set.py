"""Pin tools/crossing_set.py against the hand-derived crossing sets of
rounds 10-12 — the rotation discipline's ground truth. The analyzer is
an OVER-approximation by design (it must never miss a crossing; extras
cost review time, misses cost a revert — the r10 lesson), so each case
asserts the exact expected set where we hand-verified it, and
superset-membership where the family is large."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import crossing_set  # noqa: E402


def _rows(*funcs: str) -> set:
    idx = crossing_set.build_index()
    return set(crossing_set.crossing_rows(idx, set(funcs)))


def test_r12_temperature_rewrite_crossing_set():
    assert _rows("temperature_sample") == {
        "sample_temperature", "sample_domain_temperature",
    }
    assert _rows("temperature_thresholds", "_weight_micros",
                 "_stratified_keep_filter") == {
        "sample_temperature", "sample_domain_temperature",
    }


def test_r12_prefilter_fix_crossing_set():
    assert _rows("_per_cell_hash_prefix") == {"sample_cluster_balanced"}


def test_r12_dense_counts_crossing_set():
    assert _rows("dense_counts") == {
        "events_holtwinters_seasonal", "streaming_holtwinters_monitor",
    }


def test_r12_release_handle_is_window_free():
    # the ADVICE r11 fix: no registry row calls release_batch_state
    assert _rows("release_batch_state") == set()


def test_r12_profiler_audit_crossing_set():
    assert _rows("null_profile") == {"profiling_null_profile"}
    assert _rows("numeric_summary") == {"profiling_numeric_summary"}
    assert _rows("column_correlations") == {"profiling_correlations"}
    assert _rows("numeric_histogram") == {"events_value_histogram"}
    assert _rows("key_distribution") == set()  # no registry caller


def test_r10_lesson_ngram_cache_fix_pulls_dedup_clusters():
    # THE motivating case: the r10 cache fix to ngram_jaccard_pairs
    # silently made dedup_clusters a 51st changed-code row (it calls
    # the pair miner as its edge generator) and had to be reverted —
    # the analyzer must surface it
    assert _rows("ngram_jaccard_pairs") == {
        "dedup_ngram_jaccard", "dedup_clusters",
    }


def test_r11_shingle_overlap_crossing_trio():
    assert _rows("_shingle_overlap") == {
        "dedup_ngram_jaccard", "dedup_containment", "dedup_clusters",
    }
    # dedup_minhash_lsh threads its shingle-set cache handle the same way
    assert _rows("carry_batch_caches") == {
        "dedup_ngram_jaccard", "dedup_containment", "dedup_clusters",
        "dedup_minhash_lsh",
    }


def test_bcol_family_is_a_superset_of_the_sketch_rows():
    got = _rows("_bcol")
    assert {
        "profiling_null_profile", "profiling_numeric_summary",
        "profiling_correlations", "events_value_histogram",
        "profiling_kmv_set_overlap", "profiling_cms_frequencies",
    } <= got


def test_global_declared_assignment_keeps_its_edge():
    # ADVICE r12: a Store under a `global` declaration is a
    # MODULE-level assignment — the pre-r13 analyzer subtracted it as
    # a local binding, so an edit to the module constant read as
    # window-free (the under-approximation the tool must never make;
    # verified empty on the pre-fix tool). The _CTAS_SCRATCH pattern:
    # an edit to the constant must cross exactly what an edit to its
    # declaring function crosses, and that closure must include the
    # athena CTAS row.
    got = _rows("_CTAS_SCRATCH")
    assert got == _rows("_ctas_scratch_base")
    assert "athena_ctas_roundtrip" in got


def test_every_registry_row_has_reachable_roots():
    # a row whose roots resolve to nothing would silently never cross —
    # the unsafe direction; every row must reach at least one known def
    idx = crossing_set.build_index()
    assert len(idx.rows) >= 145
    for row, roots in idx.rows.items():
        reachable = crossing_set.closure(idx, roots) - {f"row:{row}"}
        assert reachable, f"row {row} resolves to no known definitions"


def test_oracle_dict_edits_map_to_single_rows():
    # the per-KEY span attribution: an edit inside one oracle's SQL
    # literal must map to that row alone, not the whole ORACLES dict.
    # ORACLES holds ~128 literal entries (the rest splice in from
    # ANALYTICS_SQL, which gets its own per-key spans in queries.py)
    idx = crossing_set.build_index()
    path = str(Path(crossing_set.PKG) / "plans" / "oracles.py")
    spans = [s for s in idx.spans.get(path, []) if s[2].startswith("row:")]
    assert len(spans) >= 120
    qpath = str(Path(crossing_set.PKG) / "plans" / "queries.py")
    qspans = [s for s in idx.spans.get(qpath, []) if s[2].startswith("row:")]
    assert len(qspans) >= 145  # 145 QUERIES keys + the ANALYTICS_SQL keys
    # spans are disjoint per row (no line maps to two rows)
    for start, end, name in spans:
        for other_start, other_end, other in spans:
            if name != other and not (end < other_start or other_end < start):
                raise AssertionError(f"overlapping row spans: {name} / {other}")
