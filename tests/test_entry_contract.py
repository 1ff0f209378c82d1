"""Driver-contract dry run: every queries() entry vs its oracle_sql() twin
(row count + column names + order-insensitive exact values) at sf0.01 —
mirrors the driver's CORRECTNESS gate."""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype(int)
        else:
            try:
                df[c] = df[c].astype("int64")
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


NAMES = sorted(entrymod.queries())


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    got = q(spark, SF_DIR).toPandas()
    assert sql is not None, f"{name}: no oracle_sql twin (weak check only)"
    want = ddb.execute(sql).df()
    assert sorted(got.columns) == sorted(want.columns), \
        f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    g, w = _canon(got), _canon(want)
    if not g.equals(w):
        diff = (g != w).any(axis=1)
        raise AssertionError(
            f"{name}: value mismatch\nspark:\n{g[diff].head(5)}\n"
            f"duckdb:\n{w[diff].head(5)}")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert df.schema is not None and len(rows) >= 0


def test_every_query_has_oracle():
    assert set(entrymod.queries()) == set(entrymod.oracle_sql())


def test_wds_gate_dir_per_path_and_process(tmp_path):
    """The webdataset gate's export dir is keyed by the ABSOLUTE sf path
    and the pid: same-basename corpora never collide, a rerun recreates
    its own dir, dirs of exited processes are swept and a live
    process's dir is left alone."""
    import os
    import shutil
    import subprocess

    a = entrymod._wds_gate_dir(str(tmp_path / "x" / "sf0.01"))
    b = entrymod._wds_gate_dir(str(tmp_path / "y" / "sf0.01"))
    assert a != b and a.endswith(f"_{os.getpid()}")
    os.makedirs(a)
    open(os.path.join(a, "old.tar"), "wb").close()
    prefix = a[:-len(str(os.getpid()))]
    gone = subprocess.Popen(["true"])
    gone.wait()
    dead, live = prefix + str(gone.pid), prefix + "1"
    os.makedirs(dead)
    os.makedirs(live)
    try:
        assert entrymod._wds_gate_dir(str(tmp_path / "x" / "sf0.01")) == a
        assert not os.path.exists(a)  # recreated by the export itself
        assert not os.path.exists(dead) and os.path.exists(live)
    finally:
        for d in (a, dead, live):
            shutil.rmtree(d, ignore_errors=True)
