"""Every catalog query must match its DuckDB oracle on the driver testdata
(same compare the driver runs: row count + columns + order-insensitive
values). Runs at sf0.001 for speed; tools/check_oracles.py runs sf0.01."""

import os

import pytest

from tools.check_oracles import compare, duck_con

SF_DIR = os.environ.get("GCSPARK_TEST_SF", "/root/testdata/sf0.001")


def _catalog():
    from gamechanger_data_spark.plans.catalog import CATALOG

    return CATALOG


@pytest.fixture(scope="module")
def con():
    return duck_con(SF_DIR)


@pytest.mark.parametrize("name", list(_catalog().keys()))
def test_query_matches_oracle(spark, con, name):
    spec = _catalog()[name]
    sdf = spec.fn(spark, SF_DIR).toPandas()
    if spec.sql is None:
        assert len(sdf) >= 0  # rows-only contract: must run and be stable
        return
    ddf = con.sql(spec.sql).df()
    errs = compare(name, sdf, ddf)
    assert not errs, f"{name}: {errs}"


def test_approx_distinct_users_keeps_null_group(spark, tmp_path):
    """A NULL event_type is its own GROUP BY group in the oracle; the
    query's two-aggregate join must keep it (NULL-safe join key)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    et = ev.column("event_type").to_pylist()
    et = [None if i % 7 == 0 else v for i, v in enumerate(et)]
    ev = ev.set_column(
        ev.schema.get_field_index("event_type"), "event_type",
        pa.array(et, pa.string()),
    )
    pq.write_table(ev, tmp_path / "events.parquet")
    spec = _catalog()["approx_distinct_users"]
    sdf = spec.fn(spark, str(tmp_path)).toPandas()
    oracle = duck_con(str(tmp_path))
    ddf = oracle.sql(spec.sql).df()
    assert sdf["event_type"].isna().sum() == 1
    errs = compare("approx_distinct_users", sdf, ddf)
    assert not errs, errs
