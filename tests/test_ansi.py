"""ANSI-mode regression tests (VERDICT r1 item 1).

The driver's harness (and any Spark 4 default deployment) runs with
``spark.sql.ansi.enabled=true``. The reference's contract is null-on-failure
everywhere (national/_1034/transform.py:186-209 catches ValueError ->
blank), which the library realizes with the try_* expression family rather
than by disabling ANSI. These tests feed each function the malformed input
that USED to throw (INVALID_ARRAY_INDEX / MAP_KEY_DOES_NOT_EXIST /
CANNOT_PARSE_TIMESTAMP) and pin the null/pass-through behavior.

The session fixture itself is ANSI-on (session.py sets it), so the whole
suite doubles as an ANSI gate; these cases exercise the specific bombs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sig_etl_spark.functions import key_value_map, normalize_via_map
from sig_etl_spark.functions.dates import parse_long_date
from sig_etl_spark.functions.explode import split_multi_candidate
from sig_etl_spark.functions.text import parse_election_location
from sig_etl_spark.extract.spark_io import stabilize_columns


def test_session_is_ansi(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_session_cpus_default_to_affinity(monkeypatch):
    """Unset SPARK_GRAFT_CPUS falls back to the CPUs this process may use,
    not a fixed count; a set value wins."""
    import os

    from sig_etl_spark.session import _local_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _local_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _local_cpus() == "3"


def test_long_date_invalid_is_null(spark):
    df = spark.createDataFrame([("not a date",), ("November 5,2024",)], ["raw"])
    got = [
        r.d
        for r in df.select(
            F.date_format(parse_long_date(F.col("raw")), "yyyy-MM-dd").alias("d")
        ).collect()
    ]
    assert got == [None, "2024-11-05"]


def test_election_location_no_dash(spark):
    # No " - " separator: element_at(parts, 2) used to throw under ANSI.
    df = spark.createDataFrame([("Springfield",)], ["loc"])
    row = df.select(
        *[v.alias(k) for k, v in parse_election_location(F.col("loc")).items()]
    ).collect()[0]
    assert row.location == "Springfield"
    assert row.district == ""


def test_normalize_via_map_unmapped_passthrough(spark):
    df = spark.createDataFrame([("Dem",), ("Unknown Party",)], ["p"])
    got = [
        r.p
        for r in df.select(
            normalize_via_map(F.col("p"), {"Dem": "Democratic"}).alias("p")
        ).collect()
    ]
    assert got == ["Democratic", "Unknown Party"]


def test_key_value_map_separatorless_pair(spark):
    # "NoColonHere" has no kv separator: getItem(1) used to throw.
    df = spark.createDataFrame([("Economy: 85; NoColonHere",)], ["s"])
    m = df.select(key_value_map(F.col("s")).alias("m")).collect()[0].m
    assert m["Economy"] == "85"
    assert m["NoColonHere"] is None


def test_split_multi_candidate_ragged_and_null(spark):
    df = spark.createDataFrame(
        [
            ("A / B", "R"),          # ragged: party repeats for candidacy 2
            ("C", "D / G"),          # ragged the other way
            (None, None),            # all-null split cols: row must SURVIVE
        ],
        ["name", "party"],
    )
    out = split_multi_candidate(df, ["name", "party"]).collect()
    rows = {(r.name, r.party, r.candidacy) for r in out}
    assert ("A", "R", 1) in rows and ("B", "R", 2) in rows
    assert ("C", "D", 1) in rows and ("C", "G", 2) in rows
    # the null row fans out to exactly one candidacy, not zero
    assert (None, None, 1) in rows
    assert len(out) == 5


def test_stabilize_columns_missing_key_is_null(spark):
    df = spark.createDataFrame(
        [({"a": "1", "b": "2"},), ({"a": "3"},)], ["record"]
    )
    got = stabilize_columns(df, keys=["a", "b"]).collect()
    vals = sorted((r.a, r.b) for r in got)
    assert vals == [("1", "2"), ("3", None)]
