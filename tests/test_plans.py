"""Correctness of every oracle-backed query at sf0.001 (fast gate;
the driver re-runs the same comparison at sf0.01)."""

import sys

sys.path.append("/root/repo")

import pytest

from tests.conftest import SF_SMALL
from tools.check_correctness import table_hash


def _oracle_pairs():
    import __spark_entry__ as m

    qs, os_ = m.queries(), m.oracle_sql()
    return [(k, qs[k], os_[k]) for k in qs if k in os_]


@pytest.mark.parametrize("name,fn,sql", _oracle_pairs(), ids=[p[0] for p in _oracle_pairs()])
def test_oracle_match(spark, duck, name, fn, sql):
    sdf = fn(spark, SF_SMALL)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(sql)
    drows = rel.fetchall()
    assert len(srows) == len(drows), f"rowcount {len(srows)} vs {len(drows)}"
    assert sorted(c.lower() for c in sdf.columns) == sorted(c.lower() for c in rel.columns)
    assert table_hash(sdf.columns, srows) == table_hash(rel.columns, drows)


def test_entry_smoke(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_every_query_has_callable():
    import __spark_entry__ as m

    qs = m.queries()
    assert len(qs) >= 20
    for k, v in qs.items():
        assert callable(v), k
    # oracle keys must be a subset of query keys
    assert set(m.oracle_sql()) <= set(qs)
    # the registry merges the module dicts: a key defined twice would
    # silently shadow the earlier definition
    from bfr_clustering_using_pyspark_spark.plans import _MODULES

    assert len(qs) == sum(len(mod.QUERIES) for mod in _MODULES)
    assert len(m.oracle_sql()) == sum(len(mod.ORACLES) for mod in _MODULES)


def test_null_semantics_exercises_null_paths(spark):
    """The battery must actually hit the NULL paths: a NULL group
    exists, it MATCHES through the null-safe join, and exactly the
    two excluded non-null groups go unmatched."""
    from bfr_clustering_using_pyspark_spark.plans.tpch_ext import q_null_semantics
    from tests.conftest import SF_SMALL

    rows = q_null_semantics(spark, SF_SMALL).collect()
    by_grp = {r["grp"]: r["matched"] for r in rows}
    assert None in by_grp and by_grp[None] == 1  # eqNullSafe matched NULL
    assert by_grp[1] == 0 and by_grp[2] == 0
    assert by_grp[3] == 1 and by_grp[4] == 1
    assert rows[0]["grp"] is None  # NULLS FIRST


def test_events_sessionize_fractional_gap_matches_oracle(spark, tmp_path):
    """A 1800.5 s gap starts a new session and a 1799.8 s gap does
    not, on both engines: a whole-second cast would read 1800.5 s as
    1800 s and keep the first two events in one session."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bfr_clustering_using_pyspark_spark.plans.events import (
        Q_EVENTS_SESSIONIZE_SQL,
        q_events_sessionize,
    )

    t0 = 1_700_000_000_000_000  # µs, a whole second
    ts = [t0, t0 + 1_800_500_000, t0 + 1_800_500_000 + 1_799_800_000]
    events = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([7, 7, 7], pa.int64()),
            "event_type": ["view", "view", "purchase"],
            "value": [1.0, 2.5, 4.25],
            "props": ["{}", "{}", "{}"],
        }
    )
    pq.write_table(events, tmp_path / "events.parquet")
    sdf = q_events_sessionize(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    rel = con.sql(Q_EVENTS_SESSIONIZE_SQL)
    drows = rel.fetchall()
    assert [r["n_events"] for r in sdf.collect()] == [1, 2]
    assert table_hash(sdf.columns, srows) == table_hash(rel.columns, drows)
