"""Cross-engine dtype-family seam guard (round 8).

Root cause of the five r5–r7 driver hash-reds: the oracle emitted a
column where DuckDB's SUM(BIGINT) had widened to HUGEINT (int128). The
HUGEINT->pandas bridge materializes float64, so a strict external
canonicalizer hashed "1000.0" against Spark's bigint "1000" — rows and
column names matched, only the value hash went red, and the local gate's
old integer-valued-float collapse masked the class entirely.

tools/dtype_seam_scan.py detects the class without executing anything
(Spark .schema is plan-only, DuckDB DESCRIBE is bind-only). The FULL
registry scan runs in tools/verify_local.py each round (~2 min); this
test pins the scanner's behavior on the history-bearing queries plus a
positive control, so a regression in either the scanner or one of the
five fixed oracles fails fast in the suite.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sig_etl_spark.queries import QUERIES
from sig_etl_spark.queries.diag_seam import PROBE_QUERIES
from tools.dtype_seam_scan import EXPECTED_DIVERGENT, scan

# The five formerly-red production queries plus their construct family —
# each previously paired a Spark bigint with a DuckDB HUGEINT output.
FIXED_REDS = [
    "sketch_quantile_hist",
    "sketch_quantile_calibration",
    "orders_rfm_segmentation",
    "llm_source_drift",
    "j_q22_dormant_balances",
]


def test_fixed_reds_scan_clean(sf_dir):
    problems = scan(
        sf_dir, FIXED_REDS + ["diag_seam_hugeint_cast"], extra=PROBE_QUERIES
    )
    assert problems == [], problems


def test_probe_pair_deregistered():
    """Round 9 (VERDICT r8 task 2): the hugeint probe pair proved its
    point in CORRECTNESS_r08 and must no longer occupy registry slots —
    the registry carries ZERO expected-red rows."""
    assert "diag_seam_hugeint_raw" not in QUERIES
    assert "diag_seam_hugeint_cast" not in QUERIES
    assert set(PROBE_QUERIES) == {
        "diag_seam_hugeint_raw",
        "diag_seam_hugeint_cast",
    }


def test_no_expected_red_rows_registered():
    """The registry must contain ZERO expected-red rows — the hugeint
    probe pair is a pytest fixture (queries/diag_seam.py PROBE_QUERIES),
    not a registered query, so "all registry rows green" is statable
    without a footnote."""
    assert not (EXPECTED_DIVERGENT & set(QUERIES)), (
        "expected-divergent probes must not be registered"
    )
    assert "diag_seam_hugeint_raw" not in QUERIES
    assert "diag_seam_hugeint_cast" not in QUERIES


def test_raw_probe_is_whitelisted_and_would_be_flagged(sf_dir):
    """The deliberately-divergent probe must (a) be whitelisted so the
    full scan stays clean, and (b) actually exhibit the seam — DuckDB
    must bind its uncast SUM to HUGEINT. If a DuckDB upgrade stops
    widening SUM(BIGINT), the probe loses its diagnostic value and this
    test says so."""
    assert "diag_seam_hugeint_raw" in EXPECTED_DIVERGENT
    rq = PROBE_QUERIES["diag_seam_hugeint_raw"]
    con = duckdb.connect()
    path = os.path.join(sf_dir, "orders.parquet")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{path}')")
    desc = {
        r[0]: r[1]
        for r in con.execute(f"DESCRIBE SELECT * FROM ({rq.oracle})").fetchall()
    }
    assert desc["key_sum"] == "HUGEINT", desc


def test_five_oracles_bind_bigint_outputs(sf_dir):
    """The five fixes must hold at the BIND level: every output column of
    the formerly-red oracles now binds to a non-HUGEINT DuckDB type."""
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    for name in FIXED_REDS:
        desc = con.execute(
            f"DESCRIBE SELECT * FROM ({QUERIES[name].oracle})"
        ).fetchall()
        hug = [r[0] for r in desc if "HUGEINT" in r[1]]
        assert hug == [], f"{name} still binds HUGEINT outputs: {hug}"


@pytest.mark.parametrize("name", sorted(EXPECTED_DIVERGENT))
def test_expected_divergent_is_probe_only(name):
    assert name.startswith("diag_seam_"), (
        "EXPECTED_DIVERGENT is for measurement probes only — a production "
        f"query ({name}) must be fixed, not whitelisted"
    )
