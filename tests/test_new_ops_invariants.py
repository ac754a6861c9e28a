"""Behavioral invariants for the round-4 operator wave, checked
against plain-Python reference implementations on controlled inputs
(the oracle gate proves engine-vs-engine equality; these prove the
SEMANTICS are the intended ones)."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import __spark_entry__ as entry

_DOC = st.lists(
    st.sampled_from("a b c d".split()), min_size=1, max_size=25
)


def _expected_passage_dups(texts, chunk=10):
    """Reference: global first occurrence per chunk fingerprint wins;
    later instances are dups."""
    seen = {}
    dups = {i: 0 for i in range(len(texts))}
    chunks = {i: 0 for i in range(len(texts))}
    for i, toks in enumerate(texts):
        for ci in range((len(toks) + chunk - 1) // chunk):
            passage = " ".join(toks[ci * chunk : ci * chunk + chunk])
            chunks[i] += 1
            if passage in seen:
                dups[i] += 1
            else:
                seen[passage] = (i, ci)
    return chunks, dups


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(st.lists(_DOC, min_size=1, max_size=12))
def test_passage_dedup_first_occurrence_invariant(spark, docs_toks):
    """dedup_passage's keeper rule must equal the sequential
    first-occurrence reference for any corpus (min-(doc,chunk)
    arbitration == arrival order when ids are ordered)."""
    import tempfile

    texts = [" ".join(t) for t in docs_toks]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        rows = entry.q_dedup_passage(spark, d).collect()
    got = {r["doc_id"]: (r["n_chunks"], r["n_dup"]) for r in rows}
    chunks, dups = _expected_passage_dups(docs_toks)
    expected = {i: (chunks[i], dups[i]) for i in chunks}
    assert got == expected


def test_interpolate_observed_rows_unchanged_and_bounded(spark, tmp_path):
    """ts_interpolate: observed hours keep their exact mean; every
    interpolated value lies strictly between its two neighbors and at
    the exact linear position (hand-computed fixture)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: hours 0 and 3 observed (10.0 and 40.0) → hours 1, 2
        # interpolate to 20.0 and 30.0
        (1, base, 10.0),
        (1, base + dt.timedelta(hours=3), 40.0),
        # user 2: single hour — no gaps, no interpolation
        (2, base, 5.5),
    ]
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {
        (r["user_id"], r["bucket"]): (r["observed"], r["value_micro"])
        for r in entry.q_ts_interpolate(spark, str(tmp_path)).collect()
    }
    assert out == {
        (1, "2024-01-01 00:00"): (1, 10_000_000),
        (1, "2024-01-01 01:00"): (0, 20_000_000),
        (1, "2024-01-01 02:00"): (0, 30_000_000),
        (1, "2024-01-01 03:00"): (1, 40_000_000),
        (2, "2024-01-01 00:00"): (1, 5_500_000),
    }


def test_cdc_compaction_tombstone_suppression(spark, tmp_path):
    """cdc_upsert_compact: a key whose newest record is a tombstone
    vanishes; a tombstone overwritten by a later upsert survives."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 10, "view", 1.0, "{}"),
        (2, base + dt.timedelta(hours=1), 11, "error", 0.0, "{}"),  # del
        (1, base + dt.timedelta(hours=2), 12, "error", 0.0, "{}"),  # del
        (1, base + dt.timedelta(hours=3), 13, "click", 3.0, "{}"),  # undel
    ]
    spark.createDataFrame(
        rows,
        "user_id long, ts timestamp, event_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {
        r["user_id"]: (r["last_event_id"], r["last_value"], r["n_versions"])
        for r in entry.q_cdc_upsert_compact(spark, str(tmp_path)).collect()
    }
    assert out == {1: (13, 3.0, 3)}  # user 2 deleted; user 1 undeleted
