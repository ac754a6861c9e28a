"""Round-11 regression tests — the r10 advisory closures:

1. text_vocab_coverage on an EMPTY documents corpus: the Spark side's
   ungrouped aggregate always yields one row (4 stacked k-rows with
   NULL ppm); the oracle's old `FROM ranked CROSS JOIN ks` collapsed
   to 0 rows — the fixed `ks LEFT JOIN ranked` must keep the engines
   row-for-row identical on empty input.
2. quality_ppm (the integer tier-cut base): exactly floor(q_exact·1e6)
   of the unrounded rational quality_score, engine-identical between
   Spark and DuckDB including whitespace-only / empty / keyword-soup
   degenerates — so pipeline_curriculum's tier predicate can never
   hit the 6dp half-way rounding class.
3. pack_epoch_shuffle's oracle derives its epoch list from
   EPOCH_SHUFFLE_N (no hardcoded unnest), so changing the constant
   cannot silently desynchronize the twin.
"""

import duckdb

import __spark_entry__ as entry
from broadway_spark.functions import text as T

DOCS_DDL = (
    "doc_id long, source string, lang string, text string, url string"
)


def _docs_dir(spark, tmp_path, rows):
    d = str(tmp_path / "sf_empty")
    spark.createDataFrame(rows, DOCS_DDL).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")
    return d


def test_vocab_coverage_empty_corpus_parity(spark, tmp_path):
    sf_dir = _docs_dir(spark, tmp_path, [])
    got = entry.q_text_vocab_coverage(spark, sf_dir).collect()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet/*.parquet'"
    )
    want = con.sql(entry.oracle_sql()["text_vocab_coverage"]).fetchall()
    assert len(got) == len(want) == len(entry.VOCAB_COVERAGE_KS)
    got_rows = sorted(
        (r["top_k"], r["covered_tokens"], r["covered_ppm"], r["vocab_size"])
        for r in got
    )
    want_rows = sorted(tuple(r) for r in want)
    assert got_rows == want_rows


def test_vocab_coverage_nonempty_unchanged(spark, tmp_path):
    rows = [
        (1, "s", "en", "the cat sat on the mat", "u"),
        (2, "s", "en", "the dog", "u"),
    ]
    sf_dir = _docs_dir(spark, tmp_path, rows)
    got = {
        r["top_k"]: (r["covered_tokens"], r["covered_ppm"], r["vocab_size"])
        for r in entry.q_text_vocab_coverage(spark, sf_dir).collect()
    }
    # 8 occurrences over 6 types (the×3) → top-5 covers 7 of 8
    assert got[5] == (7, 875000, 6)
    assert got[50] == (8, 1000000, 6)


# -- quality_ppm ------------------------------------------------------------

SAMPLES = [
    "the cat sat on the mat and the dog ran",
    "",
    "   ",
    "x",
    "keyword soup soup soup 12345 67890 !!!",
    "a " * 100,  # long doc: length component saturates
    "The quick brown fox jumps over the lazy dog.",
]


def _py_quality_terms(text: str):
    """Exact rational quality terms mirrored from functions/text.py."""
    toks = text.lower().split(" ")
    n_tok = len(toks)
    no_ws = "".join(text.split())
    n_chars = len(no_ws)
    n_alpha = sum(c.isalpha() and c.isascii() for c in no_ws)
    markers = set(T.LANG_MARKERS["en"])
    n_stop = sum(t in markers for t in toks)
    m = max(n_tok, 1)
    c = max(n_chars, 1)
    num = (
        min(n_tok, 64) * c * m
        + 64 * (n_alpha if n_chars > 0 else 0) * m
        + 64 * c * min(4 * n_stop, m)
    )
    den = 192 * c * m
    return num, den


def test_quality_ppm_is_exact_floor_of_rational(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(SAMPLES)], "i long, text string"
    )
    got = {
        r["i"]: r["ppm"]
        for r in df.select(
            "i", T.quality_ppm("text").alias("ppm")
        ).collect()
    }
    for i, t in enumerate(SAMPLES):
        num, den = _py_quality_terms(t)
        want = (num * 1000000) // den
        assert got[i] == want, (i, t, got[i], want)
        # and the ppm floor brackets the rounded double score
        assert abs(got[i] / 1e6 - num / den) < 1e-6


def test_quality_ppm_cross_engine_parity(spark, tmp_path):
    rows = [
        (i, "s", "en", t, "u") for i, t in enumerate(SAMPLES)
    ]
    sf_dir = _docs_dir(spark, tmp_path, rows)
    got = {
        r["doc_id"]: r["ppm"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", T.quality_ppm("text").alias("ppm"))
        .collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet/*.parquet'"
    )
    want = dict(
        con.sql(
            f"SELECT doc_id, {T.quality_ppm_sql('text')} AS ppm"
            " FROM documents"
        ).fetchall()
    )
    assert got == want


def test_epoch_shuffle_oracle_tracks_constant():
    sql = entry.oracle_sql()["pack_epoch_shuffle"]
    want = ", ".join(str(e) for e in range(entry.EPOCH_SHUFFLE_N))
    assert f"unnest([{want}])" in sql


# -- spool reader fast paths (r10 verdict item 5) ---------------------------


def _mk_spool(tmp_path, n_rows, allowed, simple):
    import uuid

    from broadway_spark.sources import SpoolSource

    src = SpoolSource(
        name=f"r11_{uuid.uuid4().hex[:8]}",
        path=str(tmp_path / "spool"),
        schema_ddl="event_id long, event_type string, value double",
        ack_data_column="event_id",
        allowed_per_trigger=allowed,
        simple=simple,
    )
    src.push_messages(
        [
            {"event_id": i, "event_type": "view", "value": float(i)}
            for i in range(n_rows)
        ],
        "000_all.jsonl",
    )
    return src


def test_spool_simple_reader_drains_exactly_with_admission(spark, tmp_path):
    """simple=true (driver-side SimpleDataSourceStreamReader): the
    same admission contract — min(allowed, remaining) per trigger,
    spool order, every row exactly once — through the lower-floor
    path. The admission/commit code is shared by composition, so a
    divergence here means the wrapper broke replay semantics."""
    import json
    import time
    import uuid

    n, allowed = 700, 100
    src = _mk_spool(tmp_path, n, allowed, simple=True)
    qn = f"t_{uuid.uuid4().hex[:6]}"
    q = (
        src.read_stream(spark)
        .writeStream.format("memory")
        .queryName(qn)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if spark.table(qn).count() >= n:
            break
        time.sleep(0.05)
    q.stop()
    q.awaitTermination(30)
    rows = sorted(r["event_id"] for r in spark.table(qn).collect())
    assert rows == list(range(n))
    sizes = [
        json.loads(p.json).get("numInputRows")
        for p in q.recentProgress
        if json.loads(p.json).get("numInputRows", 0) > 0
    ]
    assert all(s == allowed for s in sizes), sizes


def test_spool_arrow_and_row_paths_agree(spark, tmp_path):
    """The Arrow fast path must be byte-equivalent to the row path —
    same rows, same types — on the batch reader they share. The schema
    picks the path: adding a timestamp column (absent from the files,
    so null) puts the same spool on the row path."""
    src = _mk_spool(tmp_path, 500, None, simple=False)
    shared = ["event_id", "event_type", "value"]

    def read(schema_ddl):
        return sorted(
            tuple(r)
            for r in (
                spark.read.format("broadway_spool")
                .option("path", src.path)
                .option("schema_ddl", schema_ddl)
                .schema(schema_ddl)
                .load()
                .select(*shared)
                .collect()
            )
        )

    from broadway_spark.sources.spool import register_spool_source

    register_spool_source(spark)
    a, b = read(src.schema_ddl), read(src.schema_ddl + ", ts timestamp")
    assert a == b and len(a) == 500


def test_spool_timestamp_schema_keeps_row_path(spark):
    """Schemas with timestamp/date stay OFF the arrow fast path (the
    naive-datetime↔tz-aware conversion is the one spot the paths
    could disagree) — pinned so a future widening is deliberate."""
    from pyspark.sql.types import StructType

    from broadway_spark.sources.spool import _SpoolStreamReader

    with_ts = spark.createDataFrame(
        [], "event_id long, ts timestamp"
    ).schema
    safe = spark.createDataFrame(
        [], "event_id long, value double"
    ).schema
    r1 = _SpoolStreamReader(with_ts, {"path": "/tmp/x"})
    r2 = _SpoolStreamReader(safe, {"path": "/tmp/x"})
    assert r1._arrow_schema is None
    assert r2._arrow_schema is not None


# -- breadth operators: archive compaction + top-k per group ----------------


def test_compact_lsh_archive_expires_and_merges(spark):
    from pyspark.sql import functions as F

    from broadway_spark.operators.dedup import (
        _banded_keys,
        compact_lsh_archive,
    )
    from broadway_spark.functions.text import shingle_table

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "a completely different document about spark engines",
        3: "the quick brown fox jumps over the lazy dog",
    }
    # runs: doc 1 in run 0 (expires) and re-ingested in run 2;
    # doc 2 in run 1; doc 3 in run 0 only (fully expired)
    log = spark.createDataFrame(
        [
            (1, texts[1], 0),
            (1, texts[1], 2),
            (2, texts[2], 1),
            (3, texts[3], 0),
        ],
        "doc_id long, text string, run int",
    )
    out = compact_lsh_archive(
        log, "doc_id", "text", "run", min_run=1
    ).collect()
    ids = {r["__id"] for r in out}
    assert ids == {1, 2}, ids  # doc 3 expired entirely
    # doc 1's duplicate entries merged to the newest run
    assert all(r["__run"] == 2 for r in out if r["__id"] == 1)
    assert all(r["__run"] == 1 for r in out if r["__id"] == 2)
    # band keys identical to the probe operators' banding
    want = {
        (r["__id"], r["__band"])
        for r in _banded_keys(
            shingle_table(
                log.select("doc_id", "text").distinct().filter(
                    F.col("doc_id") != 3
                ),
                "doc_id",
                "text",
                3,
            ),
            16,
            4,
        ).collect()
    }
    got = {(r["__id"], r["__band"]) for r in out}
    assert got == want


def test_topk_per_group_dynamic_quota(spark):
    """The case WindowGroupLimit can NEVER help: k is a per-group
    COLUMN. Exactness checked against a pandas reference."""
    from pyspark.sql import functions as F

    from broadway_spark.operators.ranking import topk_per_group

    rows = [
        (g, i, (i * 37) % 101) for g in ("a", "b") for i in range(50)
    ]
    df = spark.createDataFrame(rows, "g string, i long, v long")
    quota = spark.createDataFrame(
        [("a", 5), ("b", 12)], "g string, q int"
    )
    got = topk_per_group(
        df.join(F.broadcast(quota), "g"),
        ["g"],
        [F.col("v").desc(), F.col("i").asc()],
        F.col("q"),
        num_partitions=7,
    ).collect()
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["g", "i", "v"]).sort_values(
        ["g", "v", "i"], ascending=[True, False, True]
    )
    want = set()
    for g, q in (("a", 5), ("b", 12)):
        sub = pdf[pdf["g"] == g].head(q)
        want |= {(g, int(i)) for i in sub["i"]}
    assert {(r["g"], r["i"]) for r in got} == want
    assert all(r["rank"] <= r["q"] for r in got)


def test_no_2dp_round_on_product_scale_decimal_sums():
    """Numeric-policy guard (the class the sf1 sweep caught on
    h7/h9): a SUM over a DECIMAL PRODUCT has scale > 2, so rounding
    it at 2dp can land on an exact half-way case where Spark's
    BigDecimal HALF_UP and DuckDB's double round() split by 1 ulp —
    invisible at small SF, real at volume. Policy: publish the exact
    decimal sum cast to double (bit-identical on both engines at any
    magnitude); round(, 2) is only legal over scale-≤2 sums, whose
    centi-unit values can never tie. This test scans every oracle for
    round( applied to a SUM whose argument multiplies decimals."""
    import re

    offenders = []
    for name, sql in entry.oracle_sql().items():
        for m in re.finditer(r"round\s*\(\s*CAST\s*\(\s*SUM\s*\(", sql):
            # capture the SUM argument up to its matching paren
            i = m.end()
            depth, j = 1, i
            while depth and j < len(sql):
                if sql[j] == "(":
                    depth += 1
                elif sql[j] == ")":
                    depth -= 1
                j += 1
            arg = sql[i:j]
            if "*" in arg and "DECIMAL" in arg.upper():
                offenders.append((name, arg[:60].replace("\n", " ")))
    assert not offenders, (
        "2dp-round over product-scale decimal sums (the h7/h9 sf1 "
        f"class): {offenders}"
    )
