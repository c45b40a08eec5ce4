"""Replicates the driver's correctness gate: for every queries() entry
with an oracle, run the Spark query AND the DuckDB SQL at sf=0.01 and
compare row count, column names, and order-insensitive values
(doubles canonicalized to 9 significant decimals).

Both sides are canonicalized FROM PANDAS (Spark .toPandas(), DuckDB
.df()) because that is the dtype view the driver hashes — dtype drift
(e.g. DuckDB sum() returning HUGEINT, which pandas turns into float64
against Spark's int64) must fail HERE, not in the driver. Round 4
shipped exactly that class of red (text_repetition) because this
harness compared fetchall() Python values, where HUGEINT arrives as a
plain int and the drift is invisible."""

import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from '{SF_DIR}/{t}.parquet'"
        )
    return con


def _canon(v):
    # dtype-sensitive on purpose: int64 12 and float64 12.0 must differ,
    # exactly as they do under the driver's pandas value-hash.
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "b:" + str(bool(v))
    if isinstance(v, (int, np.integer)):
        return "i:" + str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "f:nan"
        return f"f:{f:.9g}"
    if isinstance(v, pd.Timestamp):
        return "t:" + str(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return f"{type(v).__name__[:1]}:{v}"


def _rows_pdf(pdf):
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    return sorted(
        "|".join(_canon(v) for v in row) for row in pdf.itertuples(index=False)
    ), list(cols)


def _rows_spark(df):
    return _rows_pdf(df.toPandas())


def _rows_duck(con, sql):
    return _rows_pdf(con.sql(sql).df())


def test_harness_is_dtype_sensitive(ddb):
    """DuckDB sum(BIGINT) returns HUGEINT, which pandas renders as
    float64 — the harness must distinguish that from int64 (this is
    the exact drift that shipped the round-4 text_repetition red;
    the old fetchall() path saw both as plain Python ints)."""
    got, _ = _rows_duck(ddb, "select sum(x) as n from (values (5), (7)) t(x)")
    want, _ = _rows_duck(ddb, "select cast(12 as bigint) as n")
    assert got[0].startswith("f:") and want[0].startswith("i:")
    assert got != want


QUERY_NAMES = sorted(entry_mod.oracle_sql())

# the external correctness check hashes only this many leading
# queries() keys (ROADMAP "Driver window")
CHECKED_WINDOW = 50


def test_checked_window_holds_only_oracle_entries():
    """Every key in the checked window has a SQL oracle: rows-only
    entries sort after it, so none of the window is spent on an
    entry the check cannot compare."""
    window = list(entry_mod.queries())[:CHECKED_WINDOW]
    assert len(window) == CHECKED_WINDOW
    missing = [k for k in window if k not in entry_mod.oracle_sql()]
    assert not missing, missing


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]
    got, got_cols = _rows_spark(q(spark, SF_DIR))
    want, want_cols = _rows_duck(ddb, sql)
    assert got_cols == want_cols, f"{name}: columns {got_cols} != {want_cols}"
    assert len(got) == len(want), (
        f"{name}: rows {len(got)} != {len(want)}\n"
        f"spark sample: {got[:3]}\nduck sample: {want[:3]}"
    )
    mism = [
        (a, b) for a, b in zip(got, want) if a != b
    ]
    assert not mism, f"{name}: {len(mism)} mismatches; first: {mism[:3]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["node_id", "rank"]


def test_rows_only_queries_run(spark):
    for name in set(entry_mod.queries()) - set(entry_mod.oracle_sql()):
        df = entry_mod.queries()[name](spark, SF_DIR)
        assert df.count() >= 0, name
