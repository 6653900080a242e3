"""Source/sink roundtrip tests: all-string scans, partitioned parquet."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.sinks.excel_writer import CellGrid
from etl_pipeline_excel_sql__spark.sinks.parquet import (
    write_csv,
    write_json,
    write_parquet_partitioned,
)
from etl_pipeline_excel_sql__spark.sources.excel import (
    grid_to_dataframe,
    read_csv_all_string,
)


def test_grid_to_dataframe_all_string_with_ordinal(spark):
    grid = CellGrid()
    grid.set(1, 1, "Key")
    grid.set(1, 2, "Val")
    grid.set(2, 1, "a")
    grid.set(2, 2, 42)       # non-string cell -> stringified
    grid.set(3, 1, "b")      # missing (3,2) -> NULL
    df = grid_to_dataframe(spark, grid)
    assert df.columns == ["Key", "Val", "_row_ordinal"]
    assert [f.dataType.simpleString() for f in df.schema.fields[:2]] == [
        "string", "string",
    ]
    rows = {r.Key: (r.Val, r._row_ordinal) for r in df.collect()}
    assert rows == {"a": ("42", 0), "b": (None, 1)}
    # the grid crosses as Arrow into a local relation, not pickled rows
    # in an RDD, so the optimizer knows its size at plan time
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    assert "LogicalRDD" not in plan, plan


def test_grid_to_dataframe_keeps_any_header_verbatim(spark):
    # Header cells come from outside the program: a backtick must not
    # break the schema, a numeric 0 is a name, only blank/missing fall back.
    grid = CellGrid()
    grid.set(1, 1, "a`b")
    grid.set(1, 2, 0)
    grid.set(1, 3, "  ")
    grid.set(2, 1, "x")
    grid.set(2, 4, "y")  # column 4 has no header cell at all
    df = grid_to_dataframe(spark, grid)
    assert df.columns == ["a`b", "0", "col3", "col4", "_row_ordinal"]
    assert [tuple(r) for r in df.collect()] == [("x", None, None, "y", 0)]


def test_csv_all_string_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 2.5, "x", 9.5), (2, 3.0, None, None)],
        "a int, b double, c string, `Unit.Cost` double",
    )
    path = str(tmp_path / "csv")
    write_csv(df, path)
    back = read_csv_all_string(spark, path)
    # a dot in a header is text, not a struct-field path
    assert back.columns == ["a", "b", "c", "Unit.Cost"]
    assert all(f.dataType.simpleString() == "string" for f in back.schema.fields)
    got = {r.a: (r.b, r.c, r["Unit.Cost"]) for r in back.collect()}
    assert got["1"] == ("2.5", "x", "9.5")
    assert got["2"][0] == "3.0"


def test_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    path = str(tmp_path / "json")
    write_json(df, path)
    back = spark.read.json(path)
    assert {(r.id, r.v) for r in back.collect()} == {(1, "x"), (2, "y")}


def test_partitioned_parquet_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd") for i in range(100)],
        "id long, parity string",
    )
    path = str(tmp_path / "pq")
    write_parquet_partitioned(df, path, partition_cols=["parity"])
    back = spark.read.parquet(path)
    assert back.count() == 100
    # partition pruning: the filtered scan must read only one directory
    pruned = back.filter(F.col("parity") == "even")
    assert pruned.count() == 50
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_partitioned_parquet_salted_file_count(spark, tmp_path):
    df = spark.createDataFrame([(i, "k") for i in range(1000)], "id long, part string")
    path = str(tmp_path / "salted")
    write_parquet_partitioned(df, path, partition_cols=["part"], files_per_partition=3)
    import glob

    files = glob.glob(f"{path}/part=k/*.parquet")
    assert 1 <= len(files) <= 4
    assert spark.read.parquet(path).count() == 1000


def test_compact_parquet(spark, tmp_path):
    from etl_pipeline_excel_sql__spark.sinks.parquet import compact_parquet

    src = str(tmp_path / "many")
    df = spark.createDataFrame([(i,) for i in range(1000)], "id long")
    df.repartition(20).write.parquet(src)  # 20 small files
    import glob

    assert len(glob.glob(f"{src}/*.parquet")) == 20
    out = str(tmp_path / "compacted")
    n = compact_parquet(spark, src, out, target_file_bytes=10**9)
    assert n == 1
    assert len(glob.glob(f"{out}/*.parquet")) == 1
    assert spark.read.parquet(out).count() == 1000


def test_load_path_round_trips_every_format(spark, sf_dir, tmp_path):
    """nation survives parquet/orc/csv/json round-trips through the
    generic path loader; csv/json demand an explicit schema."""
    import pytest

    from etl_pipeline_excel_sql__spark.sinks.parquet import (
        write_csv,
        write_json,
        write_orc,
        write_parquet_partitioned,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import (
        load_path,
        load_table,
    )

    nation = load_table(spark, "nation", sf_dir)
    want = sorted(map(tuple, nation.collect()))
    schema = nation.schema

    write_parquet_partitioned(nation, str(tmp_path / "p"))
    write_orc(nation, str(tmp_path / "o"))
    write_csv(nation, str(tmp_path / "c"))
    write_json(nation, str(tmp_path / "j"))

    for fmt, sub in [("parquet", "p"), ("orc", "o"), ("csv", "c"), ("json", "j")]:
        kw = {"schema": schema} if fmt in ("csv", "json") else {}
        back = load_path(spark, str(tmp_path / sub), fmt, **kw)
        assert sorted(map(tuple, back.select(*nation.columns).collect())) == want, fmt

    with pytest.raises(ValueError, match="explicit schema"):
        load_path(spark, str(tmp_path / "c"), "csv")
    with pytest.raises(ValueError, match="fmt must be"):
        load_path(spark, str(tmp_path / "p"), "avro")


def test_jsonl_document_corpus_ingestion(spark, sf_dir, tmp_path):
    """The LLM-corpus interchange shape: documents as JSON Lines, read
    back with an explicit schema, equal to the parquet original —
    including multiline text content with embedded quotes."""
    from etl_pipeline_excel_sql__spark.sinks.parquet import write_json
    from etl_pipeline_excel_sql__spark.sources.registry import (
        load_path,
        load_table,
    )

    docs = load_table(spark, "documents", sf_dir).limit(200)
    write_json(docs, str(tmp_path / "docs_jsonl"))
    back = load_path(
        spark, str(tmp_path / "docs_jsonl"), "json", schema=docs.schema
    )
    assert sorted(map(tuple, back.select(*docs.columns).collect())) == sorted(
        map(tuple, docs.collect())
    )


def test_orc_scan_pushes_filters(spark, sf_dir, tmp_path):
    """The ORC read side must prune columns and push predicates just
    like parquet — the point of staying on a columnar format."""
    from etl_pipeline_excel_sql__spark.sinks.parquet import write_orc
    from etl_pipeline_excel_sql__spark.sources.registry import (
        load_path,
        load_table,
    )

    write_orc(load_table(spark, "orders", sf_dir), str(tmp_path / "orders_orc"))
    df = (
        load_path(spark, str(tmp_path / "orders_orc"), "orc")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_totalprice")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderpriority), EqualTo(o_orderpriority,1-URGENT)]" in plan
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double" in plan
