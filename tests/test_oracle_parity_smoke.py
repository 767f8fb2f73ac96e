"""In-suite replica of the driver's DuckDB gate over a representative
cross-family slice of the catalog at sf0.001 — the full 202-entry sweep
lives in tools/oracle_check.py (both SFs, recorded per round); this
keeps one oracle-parity signal inside every pytest run so a divergence
cannot hide between sweeps. sf0.001 on purpose: it is the SF that
exposed the UNPIVOT NULL-cell and decimal→double rounding divergences."""

import os
import sys

import duckdb
import pytest

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    ),
)

SMOKE = [
    "q1_pricing_summary",      # scan-agg, exact decimals
    "join_semi",               # join family
    "window_rank_battery",     # window family
    "sessionize",              # event gaps-and-islands
    "agg_unpivot",             # the NULL-cell contract pinned this round
    "agg_covariance",          # the decimal→double varchar-cast oracle
    "dedup_exact",             # corpus dedup
    "epoch_shuffle_docs",      # bucketed total-order machinery
    "scd2_intervals_events",   # round-10: SCD2 rebuild
    "curriculum_pacing_docs",  # round-10: value-quantile curriculum
    "aqp_revenue_estimate",    # round-10: sampled-scan AQP
    "link_components_events",  # round-10: iterative CC vs recursive CTE
    "tfidf_top_terms",         # text stats
    "decontaminate_overlap",   # regex n-gram windows
    "pii_redaction",           # guarded PII scrub
    "pipeline_curation_v3",    # dedup → in-place gate → DSIR
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    from etl_workflows_spark.queries.base import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", SMOKE)
def test_oracle_parity(spark, sf_dir, duck, name):
    from oracle_check import compare

    from etl_workflows_spark.queries import ORACLE_SQL, QUERIES

    sdf = QUERIES[name](spark, sf_dir).toPandas()
    odf = duck.execute(ORACLE_SQL[name]).fetchdf()
    problems = compare(sdf, odf)
    assert not problems, f"{name}: {problems}"
