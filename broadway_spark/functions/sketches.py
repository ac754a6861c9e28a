"""Portable sketches: a HyperLogLog distinct-count whose every bit is
reproducible across engines.

Spark's builtin ``approx_count_distinct`` is a fine HLL++ — but its
register values depend on Spark's internal xxHash64, so no external
oracle can verify it. This module implements classic HLL (Flajolet et
al. 2007) from md5-derived hashes with *integer-exact* register
arithmetic, so the DuckDB oracle reproduces the estimate bit-for-bit:

- 60-bit hash ``h`` = first 15 hex chars of ``md5(seed ':' value)``.
- register index = ``h % m``; suffix ``w = h div m`` (51 bits at b=9).
- rho(w) = leading-zeros-of-suffix + 1 = ``52 - bitlen(w)``, computed
  via ``length(bin(w))`` (both engines have ``bin``); capped at 30.
- The harmonic sum ``sum(2^-M_j)`` is computed as the INTEGER
  ``sum(2^(30-M_j)) + (m - present) * 2^30`` then divided by ``2^30``
  once: every partial sum fits in 53 bits, so floating-point
  associativity never matters and parallel aggregation order is
  irrelevant — the property that makes the sketch mergeable AND
  deterministic on a 1000-executor cluster.
- Small-range correction (linear counting) applied exactly as in the
  paper when ``E <= 2.5 m`` and empty registers exist.

The two-level plan (groupBy(key, register) max-rho, then groupBy(key)
fold of m rows) is the canonical distributed-HLL shape: map-side
partial max per register, one shuffle keyed by (key, register), then a
trivially small final merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HLL_B = 9
HLL_M = 1 << HLL_B  # 512 registers
HLL_RHO_CAP = 30
# alpha_m for m >= 128 (Flajolet et al. 2007, fig. 3)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
_SUFFIX_BITS = 60 - HLL_B  # 51


def _hash60_expr(value_expr: str, seed: int) -> str:
    """60-bit md5-derived hash as a SQL string (Spark + DuckDB share
    md5/substring/conv... DuckDB spells conv differently, see twin)."""
    return (
        f"CAST(conv(substring(md5(concat('{seed}', ':', "
        f"CAST({value_expr} AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )


def hll_count_distinct(
    df: DataFrame, group_cols: list[str], value_col: str, seed: int = 5
) -> DataFrame:
    """Per-group HLL distinct estimate: (group_cols..., n_hll BIGINT)."""
    h = F.expr(_hash60_expr(value_col, seed))
    regs = (
        df.select(*group_cols, h.alias("__h"))
        .select(
            *group_cols,
            (F.col("__h") % F.lit(HLL_M)).alias("__idx"),
            F.least(
                F.lit(_SUFFIX_BITS + 1)
                - F.length(F.expr(f"bin(__h DIV {HLL_M})")),
                F.lit(HLL_RHO_CAP),
            ).alias("__rho"),
        )
        .groupBy(*group_cols, "__idx")
        .agg(F.max("__rho").alias("__mrho"))
    )
    folded = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__present"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_CAP} - __mrho)")
        ).alias("__s_present"),
    )
    s_total = (
        F.col("__s_present")
        + (F.lit(HLL_M) - F.col("__present")) * F.lit(1 << HLL_RHO_CAP).cast("bigint")
    ).cast("double") / F.lit(float(1 << HLL_RHO_CAP))
    e_raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / s_total
    v = F.lit(HLL_M) - F.col("__present")
    est = F.when(
        (v > 0) & (e_raw <= F.lit(2.5 * HLL_M)),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double")),
    ).otherwise(e_raw)
    return folded.select(
        *group_cols, F.round(est).cast("bigint").alias("n_hll")
    )


def hll_count_distinct_sql(
    table: str, group_cols: list[str], value_expr: str, seed: int = 5
) -> str:
    """DuckDB twin of ``hll_count_distinct`` (identical constants)."""
    g = ", ".join(group_cols)
    h = (
        f"CAST(concat('0x', substr(md5(concat('{seed}', ':', "
        f"CAST({value_expr} AS VARCHAR))), 1, 15)) AS BIGINT)"
    )
    cap = 1 << HLL_RHO_CAP
    # Every float constant is CAST AS DOUBLE: DuckDB parses bare decimal
    # literals as DECIMAL and would do fixed-point (overflowing) math.
    alpha = f"CAST({HLL_ALPHA!r} AS DOUBLE)"
    capd = f"CAST({float(cap)!r} AS DOUBLE)"
    md = f"CAST({float(HLL_M)!r} AS DOUBLE)"
    e_raw = (
        f"({alpha} * {HLL_M} * {HLL_M})"
        f" / ((s_present + ({HLL_M} - present) * CAST({cap} AS BIGINT))"
        f" / {capd})"
    )
    return f"""
WITH hashed AS (
  SELECT {g}, {h} AS h FROM {table}
), regs AS (
  SELECT {g}, h % {HLL_M} AS idx,
         MAX(LEAST({_SUFFIX_BITS + 1} - length(bin(h // {HLL_M})),
                   {HLL_RHO_CAP})) AS mrho
  FROM hashed GROUP BY {g}, idx
), folded AS (
  SELECT {g}, count(*) AS present,
         SUM(CAST(1 AS BIGINT) << ({HLL_RHO_CAP} - mrho)) AS s_present
  FROM regs GROUP BY {g}
)
SELECT {g},
  CAST(round(CASE
    WHEN ({HLL_M} - present) > 0
     AND {e_raw} <= CAST({2.5 * HLL_M!r} AS DOUBLE)
    THEN {md} * ln({md} / ({HLL_M} - present))
    ELSE {e_raw}
  END) AS BIGINT) AS n_hll
FROM folded
"""


def heavy_hitters(
    df: DataFrame,
    key_col,
    phi: float,
    batch_counters: int | None = None,
) -> DataFrame:
    """Exact φ-heavy hitters via the two-pass Misra-Gries pattern:
    every key whose frequency exceeds ``phi`` of the total, with its
    EXACT count.

    Scale shape — the reason this beats a plain groupBy at 100 TB when
    the key space is huge (tokens, URLs, n-grams) but the answer is
    tiny:

    1. **Candidate pass**: each Arrow batch runs a local Misra-Gries
       summary with ``ceil(1/phi)`` counters (``mapInPandas`` — pure
       pandas value_counts + decrement, no Python-per-row loop) and
       emits only its surviving candidate keys. MG's guarantee makes
       the union a SUPERSET of the true heavy hitters: a key with
       global frequency > φ·n must exceed φ·n_p in at least one batch
       p (pigeonhole), and a local MG(⌈1/φ⌉) never evicts a key with
       local frequency > φ·n_p. At most ⌈1/φ⌉ candidates per batch
       regardless of key-space size.
    2. **Exact verify**: one count aggregate over rows semi-joined
       (broadcast) to the candidate set — the shuffle carries only
       candidate keys' partial counts, never the full key space —
       filtered by the exact global threshold count > φ·n.

    The output is exact and deterministic (MG internals only affect
    the candidate superset, never the verified answer) — which is what
    makes a SQL oracle possible. Returns (key, n) for count > φ·total.
    """
    import math

    from pyspark.sql.functions import broadcast

    k = batch_counters or max(2, math.ceil(1.0 / phi))
    keyed = df.select(F.col(key_col).cast("string").alias("__k")).filter(
        F.col("__k").isNotNull()
    )

    def mg_candidates(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            counters: dict[str, int] = {}
            # vectorized MG: value_counts gives batch-local exact
            # counts; running MG over the distinct (value, count)
            # items is equivalent to row-at-a-time MG for the
            # superset guarantee and touches |distinct| items only.
            for val, cnt in pdf["__k"].value_counts().items():
                if val in counters:
                    counters[val] += int(cnt)
                elif len(counters) < k:
                    counters[val] = int(cnt)
                else:
                    dec = min(int(cnt), min(counters.values()))
                    counters = {
                        v: c - dec for v, c in counters.items() if c - dec > 0
                    }
                    if int(cnt) > dec:
                        counters[val] = int(cnt) - dec
            yield pd.DataFrame({"__k": list(counters.keys())})

    candidates = (
        keyed.mapInPandas(mg_candidates, schema="__k string").distinct()
    )
    total = keyed.count()
    return (
        keyed.join(broadcast(candidates), "__k")
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > phi * total)
        .select(F.col("__k").alias("key"), "n")
    )


# -- Count-min sketch (portable, md5-derived rows) ---------------------

CMS_D = 4  # hash rows
CMS_W = 512  # counters per row


def _cms_hex(value_col: str) -> Column:
    return F.md5(F.concat(F.lit("cms:"), F.col(value_col).cast("string")))


def _cms_cells(hex_col: str) -> list[Column]:
    """Row i's counter index = 24-bit window i of the single digest,
    mod W. One md5 per value instead of d (md5 dominates sketch build
    cost; the d windows of one digest are disjoint bit ranges of a
    uniformly mixed 128-bit hash — the portable stand-in for d
    independent hash functions)."""
    return [
        F.struct(
            F.lit(i).alias("row"),
            (
                F.expr(
                    f"CAST(conv(substring({hex_col}, {1 + 6 * i}, 6), "
                    f"16, 10) AS BIGINT)"
                )
                % CMS_W
            ).alias("idx"),
        )
        for i in range(CMS_D)
    ]


def cms_build(df: DataFrame, value_col: str) -> DataFrame:
    """Count-min sketch of a column (Cormode & Muthukrishnan 2005):
    ``CMS_D`` md5-window hash rows × ``CMS_W`` counters.

    Returns the counter table (row, idx, c) — at most d·w rows, exact
    integer sums, trivially mergeable (union + re-sum) and
    deterministic: the same portability property as the HLL above, so
    a DuckDB oracle reproduces every counter bit-for-bit.

    Plan: one md5 per value (computed below the explode so it isn't
    re-hashed per cell), explode into d (row, idx) cells → ONE
    partial-agg shuffle keyed by (row, idx) with at most d·w distinct
    keys — at 100 TB the reduce side is 2048 cells regardless of
    input size.
    """
    return (
        df.select(_cms_hex(value_col).alias("__hx"))
        .select(F.explode(F.array(*_cms_cells("__hx"))).alias("__c"))
        .select(F.col("__c.row").alias("row"), F.col("__c.idx").alias("idx"))
        .groupBy("row", "idx")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimate(
    counters: DataFrame, keys: DataFrame, key_col: str
) -> DataFrame:
    """Point-frequency estimates for ``keys`` from a ``cms_build``
    counter table: est = min over rows of counter[h_row(key)] — the
    classic CMS upper bound (never under-counts; over-counts only by
    collisions). Returns (key, est_n)."""
    probed = (
        keys.select(
            F.col(key_col).alias("key"), _cms_hex(key_col).alias("__hx")
        )
        .select("key", F.explode(F.array(*_cms_cells("__hx"))).alias("__p"))
        .select(
            "key", F.col("__p.row").alias("row"), F.col("__p.idx").alias("idx")
        )
    )
    return (
        probed.join(F.broadcast(counters), ["row", "idx"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est_n"))
    )


def cms_sql(table: str, value_expr: str, key_table: str, key_expr: str) -> str:
    """DuckDB twin: build + probe in one statement (identical digest
    windows, width, md5 derivation — counter-exact)."""
    h = lambda i, v: (  # noqa: E731
        f"CAST(concat('0x', substr(md5(concat('cms:', "
        f"CAST({v} AS VARCHAR))), {1 + 6 * i}, 6)) AS BIGINT)"
    )
    cell_rows = " UNION ALL ".join(
        f"SELECT {i} AS row, {h(i, value_expr)} % {CMS_W} AS idx FROM {table}"
        for i in range(CMS_D)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT {key_expr} AS key, {i} AS row,"
        f" {h(i, key_expr)} % {CMS_W} AS idx FROM {key_table}"
        for i in range(CMS_D)
    )
    return f"""
WITH cells AS ({cell_rows}),
counters AS (
  SELECT row, idx, count(*) AS c FROM cells GROUP BY row, idx
),
probes AS ({probe_rows})
SELECT p.key, MIN(COALESCE(ct.c, 0)) AS est_n
FROM probes p LEFT JOIN counters ct
  ON p.row = ct.row AND p.idx = ct.idx
GROUP BY p.key
"""


# -- Bloom filter (portable, md5-derived bit positions) ----------------

BLOOM_M = 4096  # bit positions
BLOOM_K = 3  # digest windows


def _bloom_positions(hex_col: str) -> list[Column]:
    """k bit positions = k disjoint 24-bit windows of ONE md5 digest,
    mod m (same one-digest economy as the CMS above)."""
    return [
        (
            F.expr(
                f"CAST(conv(substring({hex_col}, {1 + 6 * i}, 6), "
                f"16, 10) AS BIGINT)"
            )
            % BLOOM_M
        ).alias("pos")
        for i in range(BLOOM_K)
    ]


def _bloom_hex(value_col: str) -> Column:
    return F.md5(F.concat(F.lit("bloom:"), F.col(value_col).cast("string")))


def bloom_build(df: DataFrame, value_col: str) -> DataFrame:
    """Bloom membership sketch (Bloom 1970) in bitset-row form: the
    DISTINCT md5-derived bit positions of every value. Returns (pos)
    rows — at most ``BLOOM_M`` rows regardless of input size, so the
    sketch is mergeable by plain UNION/distinct and the reduce side is
    constant at 100 TB. One distinct-aggregate shuffle, ≤ m keys."""
    return (
        df.select(_bloom_hex(value_col).alias("__hx"))
        .select(F.explode(F.array(*_bloom_positions("__hx"))).alias("pos"))
        .groupBy("pos")
        .agg(F.lit(1).alias("__one"))
        .select("pos")
    )


def bloom_probe(bits: DataFrame, keys: DataFrame, key_col: str) -> DataFrame:
    """Membership probe: present iff ALL k bit positions are set
    (the classic no-false-negative guarantee; false positives are
    deterministic given the digest windows, so the oracle reproduces
    them)."""
    probed = (
        keys.select(
            F.col(key_col).alias("key"), _bloom_hex(key_col).alias("__hx")
        )
        .select(
            "key", F.explode(F.array(*_bloom_positions("__hx"))).alias("pos")
        )
    )
    hit = F.when(F.col("__one").isNotNull(), 1).otherwise(0)
    return (
        probed.join(
            F.broadcast(bits.withColumn("__one", F.lit(1))), ["pos"], "left"
        )
        .groupBy("key")
        .agg(F.min(hit).alias("present"))
    )


def bloom_sql(
    table: str, value_expr: str, key_table: str, key_expr: str
) -> str:
    """DuckDB twin of bloom_build + bloom_probe (identical digest
    windows and md5 derivation — bit-exact, including false
    positives)."""
    h = lambda i, v: (  # noqa: E731
        f"CAST(concat('0x', substr(md5(concat('bloom:', "
        f"CAST({v} AS VARCHAR))), {1 + 6 * i}, 6)) AS BIGINT)"
    )
    bit_rows = " UNION ALL ".join(
        f"SELECT {h(i, value_expr)} % {BLOOM_M} AS pos FROM {table}"
        for i in range(BLOOM_K)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT {key_expr} AS key,"
        f" {h(i, key_expr)} % {BLOOM_M} AS pos FROM {key_table}"
        for i in range(BLOOM_K)
    )
    return f"""
WITH bits AS (SELECT DISTINCT pos FROM ({bit_rows})),
probes AS ({probe_rows})
SELECT p.key,
       MIN(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS present
FROM probes p LEFT JOIN bits b ON p.pos = b.pos
GROUP BY p.key
"""
