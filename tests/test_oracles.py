"""The Spark-vs-DuckDB oracle gate inside the test suite: each listed
registry row runs on Spark and its ``oracle_sql()`` runs on DuckDB over
the same sf dir, and ``tools/check_oracles.compare`` — the exact check
the standalone sweep applies — must report no problem.

``GATED`` is the ANN family (semantic dedup, the IVF / PQ / SQ8 tiers,
the partitioned index lifecycle, cell diagnostics) and the two MinHash
miners (all-pairs and batch-vs-corpus). Covering the whole registry is
one line: ``GATED = sorted(queries())``."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import check_oracles  # noqa: E402
from conftest import SF_DIR  # noqa: E402

GATED = """
    dedup_semdedup ann_ivf_topk ann_ivfpq_topk ann_pq_topk ann_sq8_topk
    ann_pca_sq8_search ann_ivfpq_partitioned_search ann_filtered_pq_search
    ann_index_rebalance_search streaming_index_ingest ann_cell_occupancy
    sample_cluster_balanced ann_ivf_lloyd_step dedup_minhash_lsh dedup_incremental
""".split()


@pytest.fixture(scope="module")
def duck():
    con = check_oracles.duck_con(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", GATED)
def test_query_matches_its_oracle(spark, duck, name):
    import __spark_entry__ as entry

    sdf = entry.queries()[name](spark, SF_DIR).toPandas()
    odf = duck.sql(entry.oracle_sql()[name]).df()
    assert check_oracles.compare(sdf, odf) == []
