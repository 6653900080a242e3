"""Trained-artifact round trips: a model saved then loaded must drive
its consumer to BIT-IDENTICAL results vs the freshly-trained model, and
storage drift must fail at load, not as wrong encodes later."""

from __future__ import annotations

import pytest

from etl_pipeline_excel_sql__spark.sinks.models import (
    load_artifact,
    save_artifact,
)


def test_pq_codebooks_round_trip_drives_identical_codes(
    spark, sf_dir, tmp_path
):
    from etl_pipeline_excel_sql__spark.operators.pq import (
        pq_encode,
        pq_train_codebooks,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    cb = pq_train_codebooks(emb)
    path = str(tmp_path / "codebooks")
    save_artifact(cb, path)
    cb2 = load_artifact(spark, path, cb.schema)
    a = {r.vec_id: r.codes for r in pq_encode(emb, cb).collect()}
    b = {r.vec_id: r.codes for r in pq_encode(emb, cb2).collect()}
    assert a == b


def test_schema_drift_fails_at_load(spark, tmp_path):
    from etl_pipeline_excel_sql__spark.operators.bpe import MERGES_SCHEMA

    # artifact written with a renamed column must not load as merges
    bad = spark.createDataFrame(
        [(0, "a", "b", 3)], "rank INT, left STRING, right STRING, n BIGINT"
    )
    path = str(tmp_path / "bad")
    save_artifact(bad, path)
    with pytest.raises(Exception):
        load_artifact(spark, path, MERGES_SCHEMA)

def test_bm25_index_roundtrip_serves_identically(spark, sf_dir, tmp_path):
    """Persist the inverted index, reload it, serve the registered query
    batch — scores and ranks must be bit-identical to the fresh build,
    and a schema-drifted index fails at load, not as wrong scores."""
    import pytest
    from pyspark.sql import functions as F

    from etl_pipeline_excel_sql__spark.operators.retrieval import (
        bm25_build_index,
        bm25_scores_from_index,
    )
    from etl_pipeline_excel_sql__spark.plans.retrieval_queries import (
        _query_terms_df,
    )
    from etl_pipeline_excel_sql__spark.sinks.models import (
        load_bm25_index,
        save_bm25_index,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    docs = load_table(spark, "documents", sf_dir)
    fresh = bm25_build_index(docs)
    path = str(tmp_path / "bm25_index")
    save_bm25_index(fresh, path)
    loaded = load_bm25_index(spark, path)
    assert (loaded.n_docs, loaded.total_toks) == (
        fresh.n_docs,
        fresh.total_toks,
    )
    q = _query_terms_df(spark)
    a = sorted(map(tuple, bm25_scores_from_index(fresh, q).collect()))
    b = sorted(map(tuple, bm25_scores_from_index(loaded, q).collect()))
    assert a == b and a
    # drift: rename a column in storage -> load must fail loudly
    spark.read.parquet(f"{path}/dl").withColumnRenamed(
        "dl", "doc_len"
    ).write.mode("overwrite").parquet(f"{path}/dl_drifted")
    import shutil

    shutil.rmtree(f"{path}/dl")
    shutil.move(f"{path}/dl_drifted", f"{path}/dl")
    with pytest.raises(ValueError, match="does not match"):
        load_bm25_index(spark, path)
