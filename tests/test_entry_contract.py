"""Driver-contract smoke: entry() returns rows; every oracle binds to
the contract's tables; every oracle-backed query but the host-dependent
one matches oracle_sql() via DuckDB at sf0.001 (the sf0.01 sweep is
tools/check_entry.py)."""

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"
TABLES = ["documents"]
# causal_triples_seeded's oracle pins frozen extraction scores, and one
# sf0.001 max_score is a float32 ulp off on hosts whose OpenBLAS picks
# other kernels (ROADMAP item 1). Its Spark-vs-oracle exactness is gated
# on every host by tests/test_pipeline_parity.py, and its frozen pin by
# tools/check_entry.py at sf0.01.
HOST_DEPENDENT = {"causal_triples_seeded"}
SF_ORACLES = sorted(set(entry_mod.oracle_sql()) - HOST_DEPENDENT)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _normalized(df):
    cols = sorted(df.columns)
    d = df[cols].copy()
    for c in cols:
        if d[c].dtype.kind == "f":
            d[c] = d[c].round(6)
    return sorted(tuple(str(v) for v in row) for row in d.itertuples(index=False))


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"canonical_id", "canonical_form", "n_mentions",
                               "n_surface_forms"}


def test_every_query_but_the_flagship_has_an_oracle():
    """causal_triples is the single rows-only query (its gate is
    tests/test_pipeline_parity.py); any other query without an oracle
    would silently drop out of the contract check."""
    assert set(entry_mod.queries()) - set(entry_mod.oracle_sql()) == {"causal_triples"}
    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())
    assert {"dedup_minhash_lsh", "curation_verdict"} <= set(SF_ORACLES)


def test_every_oracle_binds_to_the_contract_tables(duck):
    """An oracle reading a table the contract does not load would fail
    only as a catalog error inside its parity test. Binding every oracle
    on a connection that holds only the TABLES views names each such
    oracle at once."""
    unbound = {}
    for name, sql in entry_mod.oracle_sql().items():
        try:
            duck.execute(f"EXPLAIN {sql}")
        except duckdb.Error as exc:
            unbound[name] = str(exc).splitlines()[0]
    assert not unbound, unbound


@pytest.mark.parametrize("name", SF_ORACLES)
def test_query_matches_oracle(spark, duck, name):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    sdf = qs[name](spark, SF).toPandas()
    odf = duck.execute(oracles[name]).df()
    assert len(sdf) == len(odf), (len(sdf), len(odf))
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert _normalized(sdf) == _normalized(odf)


def test_workers_get_the_checkouts_package(tmp_path, monkeypatch):
    """_ensure_importable ships a zip of exactly the checkout's package
    sources, never a zip that an older checkout left in the temp dir
    (addPyFile puts the shipped zip ahead of PYTHONPATH on the workers)."""
    import tempfile
    import zipfile
    from pathlib import Path
    from types import SimpleNamespace

    with zipfile.ZipFile(tmp_path / "causalre_spark_pkg.zip", "w") as z:
        z.writestr("causalre_spark/__init__.py", "STALE = True\n")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    shipped = []
    stub = SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append))
    entry_mod._ensure_importable(stub)
    entry_mod._ensure_importable(stub)
    assert len(shipped) == 2 and shipped[0] == shipped[1]

    root = Path(entry_mod.__file__).resolve().parent
    want = {str(p.relative_to(root)): p.read_bytes()
            for p in (root / "causalre_spark").rglob("*.py")}
    with zipfile.ZipFile(shipped[0]) as z:
        got = {name: z.read(name) for name in z.namelist()}
    assert got == want
