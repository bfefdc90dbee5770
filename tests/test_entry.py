"""Driver-contract smoke: entry() rows>0 + flagship vs its oracle."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"url", "title", "content_text", "status"}


def test_queries_and_oracles_consistent():
    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    assert len(qs) >= 30
    assert set(sqls) <= set(qs)
    # flagship + every relational/textops query carries an oracle
    assert "q_extract_flagship" in sqls


def test_flagship_matches_oracle(spark):
    import duckdb

    sf = "/root/testdata/sf0.001"
    sdf = entrymod.queries()["q_extract_flagship"](spark, sf)
    rows = sorted(tuple(r) for r in sdf.collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    drows = sorted(tuple(r) for r in con.execute(
        entrymod.oracle_sql()["q_extract_flagship"]
    ).fetchall())
    assert rows == drows


def test_gate_priority_invariants():
    """The driver hash-checks the first 50 registered queries: the
    priority list must be exactly 50 unique names, every one
    registered (or the flagship) and oracle-backed, and the quarantined
    all-pairs baselines must be unreachable through the surface."""
    import __spark_entry__ as e
    from readembedability_spark.queries import BASELINE_REGISTRY

    gate = e._GATE_PRIORITY
    assert len(gate) == 50 and len(set(gate)) == 50
    qs = e.queries()
    osql = e.oracle_sql()
    assert list(qs)[:50] == gate
    for name in gate:
        assert name in osql, f"gate entry {name} lacks an oracle"
    for name in BASELINE_REGISTRY:
        assert name not in qs and name not in osql


def test_driver_surface_digest():
    """The correctness gate reads ``queries()`` in order and every
    ``oracle_sql()`` string; a refactor must leave both byte-identical.
    Recompute the digest only for a deliberate, documented change."""
    import hashlib

    h = hashlib.sha256()
    for name in entrymod.queries():
        h.update(name.encode() + b"\n")
    for name, sql in entrymod.oracle_sql().items():
        h.update(b"\0" + name.encode() + b"\0" + sql.encode())
    assert h.hexdigest() == (
        "83a4e4ac8f068a3062662386964f2431eb3d7de080271226574fa161f470fc8e"
    )
