"""The Spark-vs-DuckDB oracle gate inside the test suite: each listed
registry row runs on Spark and its ``oracle_sql()`` runs on DuckDB over
the same sf dir, and ``tools/check_oracles.compare`` — the exact check
the standalone sweep applies — must report no problem.

``GATED`` is the ANN family (semantic dedup, the IVF / PQ / SQ8 tiers,
the partitioned index lifecycle, cell diagnostics), the two MinHash
miners (all-pairs and batch-vs-corpus), the exact n-gram overlap miners
(Jaccard, containment, clusters) and the text-scoring rows
(language id, the quality gates, the curation pipeline). Covering the
whole registry is one line: ``GATED = sorted(queries())``."""

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
    dedup_ngram_jaccard dedup_containment dedup_clusters
    text_lang_id text_quality_gate text_domain_quality corpus_curation_pipeline
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


def test_text_score_oracles_agree_on_edge_rows(spark):
    # NULL, empty, whitespace- and punctuation-only text never occur in
    # the sf documents; the operators and the oracle SQL must still
    # agree on them (NULL text: NULL score and NULL language). ASCII
    # only: DuckDB's \b and \w are ASCII, the JVM's are not
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry
    from aws_data_wrangler_spark.operators import text
    from aws_data_wrangler_spark.plans import oracles

    texts = [
        None, "", "   ", " \t\n ", "...!?", "The the THE the. the,the",
        "x_the the_x the1 _the", "la las le les el los", "que la", "the",
        "der die das und ist nicht", "Hello, world! This is a test of the quality score.",
    ]
    docs = pd.DataFrame({"doc_id": range(len(texts)), "lang": "en", "text": texts})
    df = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    scored = text.with_quality_score(text.with_lang_id(df))
    con = duckdb.connect()
    con.register("documents", docs)
    try:
        lang = con.sql(entry.oracle_sql()["text_lang_id"]).df()
        quality = con.sql(
            f"SELECT doc_id, {oracles._QUALITY_SCORE} AS quality_score "
            f"FROM (SELECT doc_id, {oracles._QUALITY_EXPRS} FROM documents)"
        ).df()
    finally:
        con.close()
    assert check_oracles.compare(
        scored.select("doc_id", "lang", "lang_pred", "lang_score").toPandas(), lang
    ) == []
    assert check_oracles.compare(scored.select("doc_id", "quality_score").toPandas(), quality) == []
