"""The query registry's contract, row by row: every ``contract.QUERIES``
entry is built and collected once at sf0.001, matched against its DuckDB
oracle the way the correctness gate matches it (row count, column names,
``oracle.compare.value_hash``, non-empty result), and leaves no persistent
RDD behind once ``session.release_held()`` has run.

``python tools/check_contract.py`` runs the same comparison at sf0.01.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

from timeseriestokenizer_spark import contract
from timeseriestokenizer_spark.oracle.compare import rows_sorted, value_hash
from timeseriestokenizer_spark.session import release_held

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import check_ledger  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"  # the smoke scale (TESTDATA.md)
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", list(contract.QUERIES))
def test_row_matches_oracle(spark, duck, name):
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = rdds().size()
    sdf = contract.QUERIES[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    release_held()
    left = rdds().size() - before
    if left:
        spark.catalog.clearCache()  # keep the next row's count clean
    assert not left, f"{name}: {left} persistent RDD(s) outlive release_held()"

    res = duck.execute(contract.ORACLE_SQL[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert len(srows) == len(drows), f"{name}: rows {len(srows)} vs {len(drows)}"
    assert sorted(scols) == sorted(dcols), f"{name}: schema {scols} vs {dcols}"
    if value_hash(srows, scols) != value_hash(drows, dcols):
        sset, dset = rows_sorted(srows, scols), rows_sorted(drows, dcols)
        diffs = [(a, b) for a, b in zip(sset, dset) if a != b][:5]
        pytest.fail(f"{name}: value hash mismatch, first diffs: {diffs}")
    assert len(srows) > 0, f"{name}: empty result proves nothing"


def test_every_row_has_an_oracle():
    assert set(contract.ORACLE_SQL) == set(contract.QUERIES)


def test_ledger_keeps_unproven_rows_inside_the_cap():
    """Each round's CORRECTNESS_r*.json records only the first 50 registry
    rows, so a row that no round file proves must sit among them."""
    assert check_ledger.main() == 0
