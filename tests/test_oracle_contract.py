"""The gate contract of ``__spark_entry__``: every query has a DuckDB oracle
and every oracle a query, every oracle binds against the test tables, and
the oracles' whitespace classes match Java's.  Spark-free: it reads the
contract's dicts and SQL text, and only plans the SQL in DuckDB."""

import re

import __spark_entry__ as entry

N_GATES = 53


def test_queries_and_oracles_share_the_gate_keys():
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert set(qs) == set(oracles)
    assert len(qs) == N_GATES
    assert all(callable(fn) for fn in qs.values())
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())
    # the asof_cogroup key outlived its strategy: it runs the as-of gate
    assert qs["asof_cogroup"] is qs["asof_purchase"]
    assert oracles["asof_cogroup"] == oracles["asof_purchase"]


def test_oracle_whitespace_classes_include_vertical_tab():
    """RE2's ``\\s`` lacks U+000B, which Java's ``\\s`` (the engine's
    tokenizer and fingerprint) includes; each oracle ``\\s`` must sit next
    to ``\\v`` in its class."""
    bare = {name: sql for name, sql in entry.oracle_sql().items()
            if re.search(r"\\s(?!\\v)", sql)}
    assert not bare, sorted(bare)


def test_oracle_sql_ensures_every_fixture_it_reads(tmp_path, monkeypatch):
    """A copy of the entry module beside an empty ``.fixtures/``: after
    ``oracle_sql()`` every ``read_parquet`` path in its SQL exists."""
    import importlib.util
    import os
    import shutil
    import sys

    monkeypatch.setattr(sys, "path", list(sys.path))
    copy = tmp_path / "__spark_entry__.py"
    shutil.copy(entry.__file__, copy)
    spec = importlib.util.spec_from_file_location("entry_copy", copy)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    paths = {p for sql in mod.oracle_sql().values()
             for p in re.findall(r"read_parquet\('([^']+)'\)", sql)}
    assert paths and all(p.startswith(str(tmp_path / ".fixtures")) for p in paths)
    assert not [p for p in paths if not os.path.exists(p)]


def test_every_oracle_binds_against_the_tables(sf_dir):
    """DuckDB ``EXPLAIN`` of each oracle over views of the sf tables: a
    fragment composed into a broken statement, or a name the tables lack,
    fails here.  Planning only — running the O(n²) pair oracles is the job
    of tools/check_oracle.py."""
    import os

    import duckdb

    with duckdb.connect() as con:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                            f"SELECT * FROM read_parquet('{os.path.join(sf_dir, f)}')")
        failed = {}
        for name, sql in entry.oracle_sql().items():
            try:
                con.execute("EXPLAIN " + sql)
            except duckdb.Error as e:
                failed[name] = str(e).splitlines()[0]
    assert not failed, failed
