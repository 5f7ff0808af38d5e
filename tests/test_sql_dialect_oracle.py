"""sql= dialect fixes checked against DuckDB on the same parquet file:
SQLITE table substitution (FROM/JOIN tokens only, string literals
untouched, no view registered under the layer name), OGRSQL
``LIMIT n OFFSET m``, and the loud error when a skip/max range follows
an ORDER BY column the statement projected out."""

import duckdb
import pandas as pd
import pytest

from pyogrio_spark.errors import DataLayerError
from pyogrio_spark.io.reader import read_table


@pytest.fixture(scope="module")
def layer(spark, tmp_path_factory):
    """(parquet dir named my-layer.parquet, DuckDB FROM clause)."""
    pdf = pd.DataFrame(
        {
            "id": range(40),
            "kind": [("my-layer", "other", "it's")[i % 3] for i in range(40)],
            "val": [(i * 37) % 11 for i in range(40)],
        }
    )
    path = str(tmp_path_factory.mktemp("sqlo") / "my-layer.parquet")
    spark.createDataFrame(pdf, "id long, kind string, val long").write.parquet(path)
    return path, f"read_parquet('{path}/*.parquet')"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _duck(sql):
    return sorted(duckdb.sql(sql).fetchall())


def test_sqlite_layer_name_in_string_literal(spark, layer):
    path, src = layer
    got = read_table(
        spark, path, sql="""SELECT id, kind FROM "my-layer" WHERE kind = 'my-layer'""",
        sql_dialect="SQLITE", read_geometry=False,
    )
    want = _duck(f"SELECT id, kind FROM {src} WHERE kind = 'my-layer'")
    assert len(want) > 0
    assert _rows(got) == want
    assert "my-layer" not in {t.name for t in spark.catalog.listTables()}


def test_sqlite_keeps_user_view_with_layer_name(spark, layer):
    path, src = layer
    spark.range(3).createOrReplaceTempView("points")
    try:
        got = read_table(
            spark, spark.read.parquet(path), sql="SELECT id, val FROM points WHERE val > 5",
            sql_dialect="SQLITE", layer_name="points", read_geometry=False,
        )
        assert _rows(got) == _duck(f"SELECT id, val FROM {src} WHERE val > 5")
        assert spark.table("points").count() == 3  # the user's view is untouched
    finally:
        spark.catalog.dropTempView("points")


def test_ogrsql_limit_offset(spark, layer):
    path, src = layer
    got = read_table(
        spark, path, sql='SELECT id, val FROM "my-layer" ORDER BY val DESC, id LIMIT 5 OFFSET 3',
        sql_dialect="OGRSQL", read_geometry=False,
    )
    want = duckdb.sql(f"SELECT id, val FROM {src} ORDER BY val DESC, id LIMIT 5 OFFSET 3").fetchall()
    assert [tuple(r) for r in got.collect()] == want
    for bad in ("LIMIT 5 OFFSET", "LIMIT 5 OFFSET x", "LIMIT 5 3", "LIMIT 5 ORDER BY id"):
        with pytest.raises(DataLayerError, match="LIMIT"):
            read_table(spark, path, sql=f'SELECT id FROM "my-layer" {bad}', sql_dialect="OGRSQL")


def test_skip_after_sql_order_column_projected_out_raises(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"id": range(10), "val": range(10, 0, -1)}), "id long, val long"
    )
    with pytest.raises(DataLayerError, match="'val'"):
        read_table(
            spark, df, sql="SELECT id FROM layer ORDER BY val", sql_dialect="OGRSQL",
            layer_name="layer", skip_features=2,
        )
    # selecting the ORDER BY column keeps the range on the statement order
    got = read_table(
        spark, df, sql="SELECT id, val FROM layer ORDER BY val", sql_dialect="OGRSQL",
        layer_name="layer", skip_features=2, max_features=3,
    )
    assert [r.id for r in got.collect()] == [7, 6, 5]
