"""Staging contract for the s14-s18/f3 restart drains: the ntile file
split must be a disjoint, exhaustive, (ts, event_id)-ordered partition
of events with file_idx baked into the rows — the property both the
drains' chunk structure and the s14 oracle's ntile twin key on."""

import os

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def test_staged_files_partition_events_in_order(spark):
    watch, schema, n = entry._stage_event_files(spark, SF)
    files = sorted(os.listdir(watch))
    assert len(files) == entry.RESTART_M
    total = 0
    prev_max = None
    for i, fname in enumerate(files):
        df = spark.read.parquet(os.path.join(watch, fname))
        rows = df.select("event_id", "file_idx").collect()
        assert rows, f"staged file {fname} is empty"
        assert {r["file_idx"] for r in rows} == {i}, (
            "file_idx must match the file's position"
        )
        ids = sorted(r["event_id"] for r in rows)
        if prev_max is not None:
            # event_id is monotone in (ts, event_id) order, so the
            # ntile ranges must be contiguous in event_id too (the
            # property s18's first-occurrence oracle relies on)
            assert ids[0] > prev_max, "staged ranges overlap"
        prev_max = ids[-1]
        total += len(rows)
    assert total == n


def test_staging_is_memoized(spark):
    a = entry._stage_event_files(spark, SF)
    b = entry._stage_event_files(spark, SF)
    assert a[0] == b[0], "same process must reuse the staged dir"
