"""Property tests for the bucket-replicated band join and the passage
dedup against brute-force pure-Python references.

The DuckDB oracle checks the fixed corpus; these check the FORMULATIONS
over adversarial shapes hypothesis generates: events piled on bucket
boundaries (the off-by-one surface of the 2-bucket replication), empty
build sides, all-duplicate passages, and passage counts straddling the
document-frequency cap.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_pipeline_excel_sql__spark.plans.analytics6_queries import BAND_US

# --- band join ---------------------------------------------------------

# timestamps in *microseconds*, clustered so windows overlap and land on
# exact bucket boundaries (multiples of the band width included).
TS = st.integers(min_value=0, max_value=4 * BAND_US).map(
    lambda v: (v // 100_000_000) * 100_000_000  # 0.1-bucket granularity
)
probe_rows = st.lists(TS, min_size=0, max_size=15)
build_rows = st.lists(TS, min_size=0, max_size=15)


def _brute_counts(probes, builds):
    return [
        sum(1 for b in builds if p - BAND_US <= b <= p) for p in probes
    ]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(probes=probe_rows, builds=build_rows)
def test_bucketed_band_join_equals_brute_force(
    spark, probes, builds, tmp_path_factory
):
    """The PRODUCTION band-join query must equal the brute-force O(n*m)
    band count for every event row — including rows exactly on bucket
    boundaries and window edges, and the error rows themselves (which
    self-match at distance 0)."""
    from pyspark.sql import functions as F

    from etl_pipeline_excel_sql__spark.plans.analytics6_queries import (
        q_band_join_recent_errors,
    )

    rows = [(i, t, 1, "view", 0.0) for i, t in enumerate(probes)] + [
        (1000 + j, t, 1, "error", 0.0) for j, t in enumerate(builds)
    ]
    sf_dir = tmp_path_factory.mktemp("band_sf")
    spark.createDataFrame(
        rows,
        "event_id long, us long, user_id long, event_type string, value double",
    ).select(
        "event_id",
        F.timestamp_micros("us").alias("ts"),
        "user_id",
        "event_type",
        "value",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(sf_dir / "events.parquet")
    )
    got = {
        int(r.event_id): int(r.n_recent_errors)
        for r in q_band_join_recent_errors(spark, str(sf_dir)).collect()
    }
    want_probe = _brute_counts(probes, builds)
    want_build = _brute_counts(builds, builds)
    assert [got[i] for i in range(len(probes))] == want_probe
    assert [got[1000 + j] for j in range(len(builds))] == want_build


# --- passage dedup -----------------------------------------------------

WORD = st.sampled_from(["a", "b", "c", "d"])
doc_texts = st.lists(
    st.lists(WORD, min_size=0, max_size=25).map(" ".join),
    min_size=1,
    max_size=8,
)


def _brute_passage_dedup(texts, w, max_df):
    def toks(t):
        return [x for x in t.split(" ") if x]

    passages = {}  # doc -> [(pos, passage)]
    for d, t in enumerate(texts):
        ws = toks(t)
        passages[d] = [
            (i // w, " ".join(ws[i : i + w]))
            for i in range(0, len(ws), w)
        ]
    from collections import defaultdict

    df = defaultdict(set)
    for d, ps in passages.items():
        for _, p in ps:
            df[p].add(d)
    boiler = {p for p, docs in df.items() if len(docs) > max_df}
    out = {}
    for d, ps in passages.items():
        kept = [(pos, p) for pos, p in ps if p not in boiler]
        out[d] = (
            len(ps),
            len(kept),
            " ".join(p for _, p in sorted(kept)),
        )
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=doc_texts)
def test_passage_dedup_equals_brute_force(spark, texts, tmp_path_factory):
    """The distributed md5-keyed passage dedup must reproduce the naive
    per-document reference exactly, including all-boilerplate documents
    (empty clean_text) and passages repeated within one document (the df
    counts DISTINCT docs, so self-repeats never trip the cap)."""
    from etl_pipeline_excel_sql__spark.plans.corpus2_queries import (
        PASSAGE_MAX_DF,
        PASSAGE_W,
        q_text_passage_dedup,
    )

    sf_dir = tmp_path_factory.mktemp("passage_sf")
    rows = [(i, t, "xx", "src", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(sf_dir / "documents.parquet")
    )
    got = {
        int(r.doc_id): (int(r.n_passages), int(r.n_kept), r.clean_text)
        for r in q_text_passage_dedup(spark, str(sf_dir)).collect()
    }
    want = _brute_passage_dedup(texts, PASSAGE_W, PASSAGE_MAX_DF)
    assert got == want
