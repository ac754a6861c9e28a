"""Deduplication operators: exact, fingerprint, MinHash-LSH, SimHash,
embedding near-dup.

All shuffle-conscious by construction:

- exact / fingerprint dedup: one hash-aggregate on the dedup key (with
  map-side partial aggregation) — the canonical 100 TB dedup plan.
- MinHash-LSH: per-row signatures (codegen'd md5 math, no Python), then
  a *band-bucket equi-join* to generate candidate pairs — O(n·bands)
  shuffle instead of an O(n²) cross join. Shingle arrays are joined
  back only for the surviving candidate pairs.
- SimHash: 32-bit signature per document, again pure expression math.
- embedding near-dup: cosine pairs within a blocking bucket.

Hashes are md5-derived (``functions.hashing.portable_hash``) so a
DuckDB oracle reproduces every value bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from broadway_spark.functions.exact import ppm, ratio_ppm
from broadway_spark.functions.hashing import fingerprint
from broadway_spark.functions.text import shingle_table
from broadway_spark.functions.vectors import cosine_similarity
from broadway_spark.operators.materialize import materialize


def dedup_stream(
    df: DataFrame,
    key_cols: list[str],
    event_time_col: str | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming dedup: exactly-once per key within the watermark.

    With an event-time column, uses ``dropDuplicatesWithinWatermark`` so
    the key-state expires after ``watermark_delay`` (bounded state — the
    only way dedup state survives at 100 TB/day); without, plain
    ``dropDuplicates`` (state grows forever — batch or tests only).
    """
    if event_time_col is not None:
        return df.withWatermark(
            event_time_col, watermark_delay
        ).dropDuplicatesWithinWatermark(key_cols)
    return df.dropDuplicates(key_cols)


def streaming_near_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    event_time_col: str,
    watermark_delay: str = "1 hour",
    window_duration: str = "1 hour",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup filter: keep a document iff it is
    the arbitrated winner of EVERY LSH band it hashes into within its
    time window.

    Two chained **windowed aggregations**, both watermark-bounded
    (Spark's supported multiple-stateful-operator shape — agg-on-agg
    over the same event-time window):

    1. per-row MinHash signature (pure expression, no shuffle) →
       explode the ``bands`` band keys → per (window, band) keep
       ``min(id)`` — the deterministic band winner. State is
       O(bands · distinct-bands-per-window), expired by the watermark,
       never the corpus;
    2. per (window, doc) count the bands it won: a doc that won ALL
       ``bands`` of its bands collided with no smaller-id doc →
       emitted (append mode, when the watermark closes the window).

    Winner arbitration is min-id over the whole window — batch-boundary
    independent, which fixes the r3 limitation where two near-dups in
    the SAME micro-batch could split band ownership in an
    arbitrary-keep dedup so that neither survived (silent loss of
    unique content). Now exactly the min-id doc of an all-band
    collision group survives, whichever micro-batches the copies
    arrive in. Chain collisions (A~B, B~C, A≁C) keep the cluster
    minimum (A) and may keep a transitive non-neighbor (C) if it wins
    all its own bands — matching the batch operator's any-shared-band
    semantics per pair.

    Dedup scope is the tumbling ``window_duration`` window (a dup in a
    later window passes), as before — bounded state is the only way
    dedup state survives at 100 TB/day.

    Returns (id, window_start) of kept documents.
    """
    sig = minhash_signature(text_col, num_hashes, shingle_k)
    rows_per_band = num_hashes // bands
    with_sig = df.withColumn("__sig", sig)
    band_exprs = []
    for b in range(bands):
        elems = [
            F.col("__sig").getItem(b * rows_per_band + j).cast("string")
            for j in range(rows_per_band)
        ]
        band_exprs.append(F.concat_ws("-", F.lit(str(b)), *elems))
    banded = with_sig.select(
        F.col(id_col),
        F.col(event_time_col),
        F.explode(F.array(*band_exprs)).alias("__band"),
    )
    band_winners = (
        banded.withWatermark(event_time_col, watermark_delay)
        .groupBy(
            F.window(event_time_col, window_duration).alias("__w"),
            F.col("__band"),
        )
        .agg(F.min(id_col).alias(id_col))
    )
    return (
        band_winners.groupBy("__w", id_col)
        .agg(F.count(F.lit(1)).alias("__n_won"))
        .filter(F.col("__n_won") == bands)
        .select(id_col, F.col("__w.start").alias("win_start"))
    )


def exact_dedup_stats(
    df: DataFrame, key_cols: list[str], id_col: str
) -> DataFrame:
    """Exact dedup as a deterministic aggregate: per duplicate-group the
    keeper (min id) and the copy count. (dropDuplicates keeps an
    *arbitrary* row, which can't be oracle-checked; min-id keeper can.)
    """
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def fingerprint_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-exact dedup on the whitespace-normalized md5 fingerprint."""
    return (
        df.withColumn("fp", fingerprint(text_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def char_ngram_gram_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 16,
    mod: int = 8,
    sample_hash: str = "xxhash64",
    block_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Mod-sampled character-n-gram sets per document (Broder
    sampling: keep grams whose hash ≡ 0 mod ``mod``) — the input to
    character-level Jaccard dedup at fingerprinting granularity.

    ``sample_hash`` is the pluggable sampling hash:

    - ``'xxhash64'`` (default): Spark's native codegen'd 64-bit hash —
      the production path; one cheap JVM hash per gram instead of an
      md5 digest + hex-string conv (the md5 form was the single
      largest cost in the round-4 bench, 4.8 s of a 115 s suite).
    - ``'md5'``: portable digest arithmetic a DuckDB oracle reproduces
      bit-for-bit — the correctness-gate path. Both samplers keep a
      ~1/mod gram subset with the same statistical properties; only
      WHICH grams are kept differs.

    Built by codegen explode → filter → collect_set (measured 3×
    faster than transform/filter HOF lambdas, which are interpreted
    and re-evaluated per plan subtree). lower() is hoisted into its
    own select BELOW the explode: written in the same select as the
    Generate it lands in the post-Generate Project and re-lowercases
    the full document once per gram position (~500× per doc; measured
    2× slower at sf0.1).
    """
    if sample_hash == "md5":
        cond = F.expr(
            f"CAST(conv(substring(md5(__g), 1, 15), 16, 10) AS BIGINT)"
            f" % {mod} = 0"
        )
    elif sample_hash == "xxhash64":
        cond = F.expr(f"pmod(xxhash64(__g), {mod}) = 0")
    else:
        raise ValueError(
            f"unknown sample_hash {sample_hash!r} "
            "(expected 'xxhash64' or 'md5')"
        )
    return (
        df.select(id_col, *block_cols, F.lower(text_col).alias("__lt"))
        .select(
            id_col,
            *block_cols,
            "__lt",
            F.explode(
                F.expr(f"sequence(1, greatest(length(__lt) - {n - 1}, 0))")
            ).alias("__i"),
        )
        .select(
            id_col,
            *block_cols,
            F.expr(f"substring(__lt, __i, {n})").alias("__g"),
        )
        .filter(cond)
        .groupBy(id_col, *block_cols)
        .agg(F.collect_set("__g").alias("grams"))
        .filter(F.size("grams") > 0)
    )


def _hash_expr(var: str, seed: int) -> str:
    """SQL text hashing lambda variable ``var`` with ``seed`` (portable)."""
    return (
        f"CAST(conv(substring(md5(concat('{seed}', ':', {var})), 1, 8), 16, 10) "
        f"AS BIGINT)"
    )


# Affine MinHash family: h_i(s) = (A[i] * base(s) + B[i]) mod P where
# base(s) is ONE md5-derived 32-bit hash per shingle. One md5 instead of
# num_hashes md5s per shingle — the classic universal-hashing trick; the
# constants are fixed so any engine reproduces the family exactly.
MINHASH_P = 4294967291  # largest prime < 2^32
MINHASH_A = [((2654435761 * (i + 1)) % 2**30) | 1 for i in range(64)]
MINHASH_B = [(40503 * (i + 7) * 2654435761) % 2**30 for i in range(64)]


def minhash_signature(
    text_col_name: str, num_hashes: int = 16, shingle_k: int = 3
) -> Column:
    """MinHash signature (array<bigint>, length num_hashes) over distinct
    k-word shingles — one self-contained codegen'd SQL expression.

    Cost: one md5 per shingle + num_hashes affine min-folds. A[i]·base
    stays < 2^62 (A < 2^30, base < 2^32) so BIGINT arithmetic is exact.
    """
    from broadway_spark.functions.text import _tok_expr

    tok = _tok_expr(text_col_name)
    parts = ", ".join(f"try_element_at({tok}, i + {j})" for j in range(shingle_k))
    sh = (
        f"array_distinct(transform("
        f"sequence(1, greatest(size({tok}) - {shingle_k - 1}, 1)), "
        f"i -> concat_ws(' ', {parts})))"
    )
    base = f"transform({sh}, s -> {_hash_expr('s', 0)})"
    a_arr = "array(" + ", ".join(str(a) for a in MINHASH_A[:num_hashes]) + ")"
    b_arr = "array(" + ", ".join(str(b) for b in MINHASH_B[:num_hashes]) + ")"
    # One lambda body iterated num_hashes times at runtime (not unrolled
    # num_hashes times into the plan): unrolling produced a generated-code
    # blob that took ~50 s to janino-compile. The struct LET binds the
    # base-hash array and constant tables once.
    return F.expr(
        f"element_at(transform(array(struct({base} AS bh, "
        f"{a_arr} AS ca, {b_arr} AS cb)), "
        f"t -> transform(sequence(0, {num_hashes - 1}), "
        f"i -> array_min(transform(t.bh, h -> "
        f"(CAST(element_at(t.ca, i + 1) AS BIGINT) * h + element_at(t.cb, i + 1)) "
        f"% {MINHASH_P})))), 1)"
    )


def minhash_signature_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signatures as a flat aggregate: (id, m0 .. m{n-1}).

    The fast path. ``minhash_signature`` (the array-column form) walks
    nested lambda expressions, which Spark interprets per element —
    fine for composability, ~100× too slow for bulk scoring. Here the
    shingle array is exploded once and everything downstream is plain
    codegen'd projection + hash aggregate with map-side partial min:

        explode(shingles) → md5 base hash → groupBy(id).agg(min_i(...))

    which is also the right 100 TB plan: narrow ops + one partial-agg
    shuffle keyed by doc id.
    """
    shingled = shingle_table(df, id_col, text_col, shingle_k)
    return _signature_from_shingles(shingled, num_hashes)


def _signature_from_shingles(shingled: DataFrame, num_hashes: int) -> DataFrame:
    """(__id, __sh shingle-array) → (__id, m0 .. m{n-1}) via explode +
    codegen projection + partial-agg groupBy."""
    exploded = shingled.select("__id", F.explode("__sh").alias("__s"))
    hashed = exploded.select("__id", F.expr(_hash_expr("__s", 0)).alias("__h"))
    aggs = [
        F.min(
            (F.lit(MINHASH_A[i]).cast("bigint") * F.col("__h") + F.lit(MINHASH_B[i]))
            % F.lit(MINHASH_P)
        ).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    return hashed.groupBy("__id").agg(*aggs)


def _banded_keys(shingled: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(__id, __band) band-bucket keys from a shingle table — the ONE
    place the banding scheme lives. Both the symmetric pair generator
    (``minhash_lsh_pairs``) and the asymmetric ingest-vs-archive
    matcher (``incremental_lsh_matches``) derive their candidate keys
    here, so the schemes cannot silently diverge (the asymmetric
    matcher's subset contract depends on byte-identical band keys)."""
    sigs = _signature_from_shingles(shingled, num_hashes)
    rows_per_band = num_hashes // bands
    band_exprs = []
    for b in range(bands):
        elems = [
            F.col(f"m{b * rows_per_band + j}").cast("string")
            for j in range(rows_per_band)
        ]
        band_exprs.append(F.concat_ws("-", F.lit(str(b)), *elems))
    return sigs.select("__id", F.explode(F.array(*band_exprs)).alias("__band"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float | None = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH + exact Jaccard
    verification (``threshold=None`` returns ALL scored band-collision
    candidates — the hard-negative-mining feed).

    Plan shape (scale-first):
      1. per-row signature + band keys       (narrow, codegen)
      2. explode bands → grouply equi-join   (shuffle on band key;
         candidate generation without a cross join)
      3. distinct candidate pairs            (shuffle on pair)
      4. join shingle sets back, exact Jaccard filter ≥ threshold

    Returns (id_a, id_b, jaccard_ppm) with id_a < id_b. The score is
    the EXACT integer parts-per-million of |∩|/|∪| (functions/exact
    .py): both are counts, so the ratio is a rational whose 6dp round
    ties exactly when the union size is 2^7·5^j — publishing truncated
    ppm removes the rounding step entirely, and the threshold becomes
    the pure integer comparison ppm ≥ t·1e6 ⟺ J ≥ t.

    Skew note: a degenerate band key (e.g. thousands of identical
    boilerplate docs) produces a quadratic bucket; AQE skew-join splits
    the straggler, and exact-dup fingerprint dedup should run *before*
    LSH so identical texts never reach this operator.
    """
    # Materialize NOW: the downstream plan reads this subtree from
    # three branches (signature build + both sides of the verify
    # join), and broadcast exchanges execute eagerly in parallel — on
    # a cold cache each branch would recompute the shingling. Strategy
    # is pluggable (persist | parquet staging table, the 100 TB form)
    # via spark.broadway.materialize.strategy.
    shingled = materialize(
        shingle_table(df, id_col, text_col, shingle_k), "lsh_shingles"
    )
    return minhash_lsh_pairs_from_shingles(
        shingled, num_hashes=num_hashes, bands=bands, threshold=threshold
    )


def minhash_lsh_pairs_from_shingles(
    shingled: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float | None = 0.5,
) -> DataFrame:
    """``minhash_lsh_pairs`` over an existing (__id, __sh) shingle
    table — the entry point for callers that already hold (and have
    materialized) the shingle table so a composite query computes the
    shingling ONCE (dedup_lsh_recall runs the exact prefix-filter pair
    generator AND this one over the same corpus; r14 optimization).
    The caller owns materialization: this plan reads ``shingled`` from
    three branches."""
    banded = _banded_keys(shingled, num_hashes, bands)
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.__band") == F.col("r.__band"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )
    a = shingled.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = shingled.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("long")
    scored = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard_ppm", ratio_ppm(inter, union))
        .select("id_a", "id_b", "jaccard_ppm")
    )
    if threshold is None:
        # scored-candidate form: EVERY band-collision pair with its
        # exact Jaccard — the feed for hard-negative mining (pairs the
        # LSH found but that sit BELOW the near-dup threshold).
        return scored
    return scored.filter(
        F.col("jaccard_ppm") >= F.lit(ppm(threshold))
    )


def incremental_lsh_matches(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float | None = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """Asymmetric near-dup matching: the daily-ingest shape — match an
    incoming batch against the existing corpus WITHOUT ever pairing
    corpus with corpus. Band keys are built per side with the same
    signature math as ``minhash_lsh_pairs``; the candidate equi-join
    is (new × corpus) only, so ingest costs O(|new|·bands +
    collisions) however large the archive is. In production the
    corpus side's banded table is a precomputed index that the ingest
    job only reads. Returns (new_id, corpus_id, jaccard_ppm) with the
    same exact-verification contract as the symmetric operator.
    """

    def banded(shingled: DataFrame) -> DataFrame:
        return _banded_keys(shingled, num_hashes, bands)

    sh_new = materialize(
        shingle_table(new_df, id_col, text_col, shingle_k), "inc_sh_new"
    )
    sh_cor = materialize(
        shingle_table(corpus_df, id_col, text_col, shingle_k),
        "inc_sh_cor",
    )
    cand = (
        banded(sh_new)
        .alias("l")
        .join(
            banded(sh_cor).alias("r"),
            F.col("l.__band") == F.col("r.__band"),
        )
        .select(
            F.col("l.__id").alias("new_id"),
            F.col("r.__id").alias("corpus_id"),
        )
        .distinct()
    )
    a = sh_new.select(
        F.col("__id").alias("new_id"), F.col("__sh").alias("sh_a")
    )
    b = sh_cor.select(
        F.col("__id").alias("corpus_id"), F.col("__sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("long")
    scored = (
        cand.join(a, "new_id")
        .join(b, "corpus_id")
        .withColumn("jaccard_ppm", ratio_ppm(inter, union))
        .select("new_id", "corpus_id", "jaccard_ppm")
    )
    if threshold is None:
        return scored
    return scored.filter(
        F.col("jaccard_ppm") >= F.lit(ppm(threshold))
    )


def compact_lsh_archive(
    df: DataFrame,
    id_col: str,
    text_col: str,
    run_col: str,
    min_run: int,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Cross-run LSH archive COMPACTION — the maintenance pass of the
    incremental dedup index (``incremental_lsh_matches`` is the daily
    probe; this keeps the probed archive from growing without bound).
    The archive is an append-only ingest log of banded signatures:
    each run appends (id, band, run) rows, re-ingested documents
    append again under the newer run. Compaction:

    - EXPIRES entries below the retention horizon (``run < min_run``
      — runs that have aged out of the dedup window),
    - MERGES duplicate (id, band) entries down to the NEWEST run
      (latest provenance wins — the upsert a real index does at
      re-ingest, executed in bulk).

    Returns the compacted archive (__id, __band, __run). Banding is
    ``_banded_keys`` — byte-identical keys to both probe operators,
    so a compacted archive answers exactly the same candidate
    queries.

    Scale shape: signatures are computed ONCE per distinct document
    (re-ingested docs don't re-shingle — their text is identical by
    id), then joined to the run log on id; the merge is one
    hash aggregate on (id, band). Everything keys on id or (id,
    band) — corpus-cardinality keys, no funnels, no pair generation
    at all (compaction never compares documents).
    """
    docs = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__t"),
        F.col(run_col).alias("__run"),
    )
    uniq = docs.select("__id", "__t").distinct()
    banded = _banded_keys(
        shingle_table(uniq, "__id", "__t", shingle_k), num_hashes, bands
    )
    entries = docs.select("__id", "__run").join(banded, "__id")
    kept = entries.filter(F.col("__run") >= min_run)
    return kept.groupBy("__id", "__band").agg(
        F.max("__run").alias("__run")
    )


def substring_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 32,
    probe_hash: str = "xxhash64",
) -> DataFrame:
    """EXACT character-level doc-in-doc dedup: every pair (a, b) where
    a's FULL text occurs verbatim as a contiguous substring of b's
    text — the containment relationship winnow fingerprints and
    df-capped set containment only approximate.

    No false negatives, by construction: if A ⊆ B then EVERY k-char
    gram of A (in particular A's chosen probe gram) occurs in B, so
    the probe-gram equi-join generates every true pair as a candidate;
    ``contains(B, A)`` then verifies exactly. Docs shorter than ``k``
    characters have no gram and are excluded (documented contract —
    at fingerprinting granularity sub-k docs aren't dedup targets).

    Probe selection (the skew lever, NOT a correctness lever): the
    gram minimizing ``(hash(gram), gram)``. A fixed-position probe
    (e.g. the 32-char prefix) would hash every boilerplate-headed doc
    into ONE index bucket and go quadratic; the min-hash gram is
    uniform over each doc's gram space (the winnowing idea). Any probe
    works for correctness since the verify is exact — so production
    uses codegen'd xxhash64 while an oracle can mirror results without
    reproducing the probe at all (ground truth is probe-independent).

    Plan shape (scale-first): index side = distinct (xxhash64(gram),
    doc) rows — one explode + distinct shuffle over 8-byte keys (not
    k-char strings), linear in corpus size (the standard inverted-
    index build); probe side = one gram argmin per doc (explode +
    partial-agg min, no extra shuffle class); candidate generation =
    equi-join on the gram hash; verification = one contains() per
    candidate (which also absorbs any hash-collision false
    candidates). Residual skew (a 32-gram shared by thousands of
    docs) is AQE skew-join territory; raising ``k`` thins buckets.

    Canonical direction: len(a) < len(b), or id_a < id_b on equal
    lengths (equal-text pairs emit once). Returns
    (contained_id, container_id).
    """
    if probe_hash == "xxhash64":
        hx = "xxhash64(__g)"
    elif probe_hash == "md5":
        hx = "CAST(conv(substring(md5(__g), 1, 15), 16, 10) AS BIGINT)"
    else:
        raise ValueError(
            f"unknown probe_hash {probe_hash!r} (expected 'xxhash64' or 'md5')"
        )
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__t"),
        F.length(text_col).alias("__len"),
    ).filter(F.col("__len") >= k)
    grams = base.select(
        "__id",
        "__t",
        F.explode(
            F.expr(f"sequence(1, greatest(length(__t) - {k - 1}, 0))")
        ).alias("__i"),
    ).select("__id", F.expr(f"substring(__t, __i, {k})").alias("__g"))
    # Index + candidate join key is xxhash64(gram) — 8 bytes instead of
    # the k-char gram string, cutting the distinct/join shuffle bytes
    # ~4x at k=32. Semantics-preserving: a hash collision only adds a
    # false candidate, which the exact contains() verify removes (the
    # verify is already the cheap stage). The PROBE hash stays
    # pluggable (it picks WHICH gram, not correctness); the JOIN hash
    # is always xxhash64 — when probe_hash is xxhash64 the min-struct's
    # __h is reused directly as the key.
    index = grams.select(
        F.col("__id").alias("container_id"), F.xxhash64("__g").alias("__gh")
    ).distinct()
    probes = (
        grams.select(
            "__id",
            F.struct(F.expr(hx).alias("__h"), F.col("__g").alias("__g")).alias(
                "__s"
            ),
        )
        .groupBy("__id")
        .agg(F.min("__s").alias("__s"))
        .select(
            F.col("__id").alias("contained_id"),
            (
                F.col("__s.__h")
                if probe_hash == "xxhash64"
                else F.xxhash64("__s.__g")
            ).alias("__gh"),
        )
    )
    cand = (
        probes.join(index, "__gh")
        .filter(F.col("contained_id") != F.col("container_id"))
        .select("contained_id", "container_id")
    )
    a = base.select(
        F.col("__id").alias("contained_id"),
        F.col("__t").alias("__ta"),
        F.col("__len").alias("__la"),
    )
    b = base.select(
        F.col("__id").alias("container_id"),
        F.col("__t").alias("__tb"),
        F.col("__len").alias("__lb"),
    )
    return (
        cand.join(a, "contained_id")
        .join(b, "container_id")
        .filter(
            (
                (F.col("__la") < F.col("__lb"))
                | (
                    (F.col("__la") == F.col("__lb"))
                    & (F.col("contained_id") < F.col("container_id"))
                )
            )
            & F.expr("contains(__tb, __ta)")
        )
        .select("contained_id", "container_id")
    )


def simhash(text_col_name: str, bits: int = 32, seed: int = 99) -> Column:
    """SimHash signature (BIGINT, ``bits`` wide) over whitespace tokens.

    bit b of the signature is set iff the sum over tokens of ±1
    (+1 when bit b of the token hash is set) is non-negative — the
    classic Charikar construction, as one nested higher-order-function
    expression (no Python, no shuffle).
    """
    th = (
        f"transform(split(lower({text_col_name}), ' '), "
        f"t -> {_hash_expr('t', seed)})"
    )
    bitsum = (
        f"aggregate(th, CAST(0 AS BIGINT), "
        f"(a2, h) -> a2 + IF(pmod(shiftright(h, b), 2) = 1, 1, -1))"
    )
    # Bind the token-hash array once (LET trick): without it, the md5
    # pass would re-run inside every one of the `bits` bit-sums.
    return F.expr(
        f"element_at(transform(array({th}), th -> "
        f"aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT), "
        f"(acc, b) -> acc + IF({bitsum} >= 0, shiftleft(CAST(1 AS BIGINT), b), "
        f"CAST(0 AS BIGINT)))), 1)"
    )


def simhash_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    seed: int = 99,
) -> DataFrame:
    """SimHash as a flat aggregate: (id, simhash BIGINT) — the fast path.

    Like ``minhash_signature_table``: explode tokens (multiset — dup
    tokens weigh twice, matching the expression form), hash each with
    one codegen'd md5, then one groupBy with ``bits`` signed bit-sum
    aggregates and a final unrolled bit-combine projection. No lambdas
    anywhere, so the whole plan stays in whole-stage codegen.
    """
    exploded = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("__t"),
    )
    hashed = exploded.select("__id", F.expr(_hash_expr("__t", seed)).alias("__h"))
    aggs = [
        F.sum(
            F.when(F.pmod(F.shiftright(F.col("__h"), b), F.lit(2)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    sums = hashed.groupBy("__id").agg(*aggs)
    combine = None
    for b in range(bits):
        term = F.when(
            F.col(f"b{b}") >= 0, F.lit(1 << b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        combine = term if combine is None else combine + term
    return sums.select("__id", combine.alias("simhash"))


def hamming_distance(a: Column | str, b: Column | str, bits: int = 32) -> Column:
    """Hamming distance between two simhash values (bit_count of xor)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking bucket.

    The bucket column (a coarse cluster id / label / LSH sign bucket)
    turns the O(n²) all-pairs problem into per-bucket quadratics — the
    standard blocking pattern. Returns (id_a, id_b, cos_sim rounded 6dp)
    with id_a < id_b and cos_sim ≥ threshold.
    """
    from broadway_spark.functions.vectors import dot_product, l2_norm

    # Norms are per-row: compute them once before pairing instead of
    # inside every pair's cosine (3× fewer vector folds in the join).
    # Negative result (measured, keep the fold): unrolling the dot
    # product into a[0]*b[0]+… getItem arithmetic for a known dim is
    # 2.5× SLOWER here — the cos filter duplicates the giant term tree
    # across Filter and Project (no cross-operator CSE), while the HOF
    # fold stays one compact call per site.
    slim = df.select(
        F.col(bucket_col).alias("__bucket"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__vec"),
        l2_norm(vec_col).alias("__norm"),
    )
    l, r = slim.alias("l"), slim.alias("r")
    denom = F.col("l.__norm") * F.col("r.__norm")
    cos = F.when(
        denom > 0,
        dot_product(F.col("l.__vec"), F.col("r.__vec")) / denom,
    ).otherwise(F.lit(0.0))
    return (
        l.join(
            r,
            (F.col("l.__bucket") == F.col("r.__bucket"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= F.lit(threshold))
    )


def embedding_near_duplicates_vectorized(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Blocked cosine near-dup pairs via per-bucket Arrow + numpy
    matmul — the vectorized twin of ``embedding_near_duplicates`` for
    buckets big enough that a per-pair expression fold loses to BLAS.

    Exactness: vectors are quantized to integer micro-units BEFORE the
    matmul, so the Gram matrix is int64-exact (|dot| < 2^53, exactly
    representable as float64) and the cosine is deterministic scalar
    math on exact inputs — a DuckDB oracle reproduces it bit-for-bit,
    which a float matmul (pairwise summation order) could not.

    Scale shape: one shuffle on the bucket key; each task computes its
    block's Gram matrix locally (Arrow batch in, numpy int64 matmul).
    Same quadratic-per-block bound as the expression form — the df-cap
    /LSH/IVF paths remain the unbounded-scale route.
    """
    import numpy as np
    import pandas as pd

    out_schema = "id_a long, id_b long, cos_sim double"

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["__id"].to_numpy()
        scaled = np.stack(pdf["__vec"].to_numpy()) * 1e6
        # half-away-from-zero, matching SQL round() (np.rint is
        # half-even and would disagree on exact .5 boundaries)
        m = np.trunc(scaled + np.copysign(0.5, scaled)).astype(np.int64)
        dot = (m @ m.T).astype(np.float64)
        norm = np.sqrt(np.einsum("ij,ij->i", m, m).astype(np.float64))
        denom = np.outer(norm, norm)
        with np.errstate(divide="ignore", invalid="ignore"):
            raw = np.where(denom > 0, dot / denom, 0.0)
        # 6dp round half-away-from-zero — same tie convention as the
        # quantizer above and as SQL round(); np.round is half-even and
        # would flip >= threshold inclusion on .5-representable ties.
        scaled6 = raw * 1e6
        cos = np.trunc(scaled6 + np.copysign(0.5, scaled6)) / 1e6
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = cos[iu, ju] >= threshold
        a, b = ids[iu[keep]], ids[ju[keep]]
        swap = a > b
        a2 = np.where(swap, b, a)
        b2 = np.where(swap, a, b)
        return pd.DataFrame(
            {"id_a": a2, "id_b": b2, "cos_sim": cos[iu, ju][keep]}
        )

    slim = df.select(
        F.col(bucket_col).alias("__bucket"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__vec"),
    )
    return slim.groupBy("__bucket").applyInPandas(pairs, out_schema)


def near_dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    algorithm: str = "star",
) -> DataFrame:
    """Connected components over a near-dup pair graph.

    ``algorithm='star'`` (default): alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm). Each round rewires every node toward
    the minimum of its neighborhood with TWO groupBy-min + join passes
    — no per-node adjacency materialization (no collect_set, so a hub
    node never concentrates state in one task), and the edge set
    provably converges to min-rooted stars in O(log² n) rounds even
    for path graphs and giant skewed components. This is the 100 TB
    formulation.

    ``algorithm='label'``: the classic min-label propagation (one join
    + groupBy-min per round). Rounds scale with component DIAMETER, so
    a dup chain longer than ``max_iter`` returns unconverged labels —
    kept for comparison; prefer 'star'.

    Both are deterministic (min is order-independent) regardless of
    partitioning; ``localCheckpoint`` cuts lineage each round so plans
    stay flat. Returns (cluster_id = min member id, size).
    """
    if algorithm == "label":
        return _clusters_label_prop(pairs, id_a, id_b, max_iter)
    if algorithm != "star":
        raise ValueError(f"unknown algorithm {algorithm!r}")

    e = _star_fixpoint(pairs, id_a, id_b, max_iter)
    # Fixpoint: min-rooted star forest — b is the component minimum,
    # each non-root member appears exactly once as a.
    return e.groupBy(F.col("b").alias("cluster_id")).agg(
        (F.count(F.lit(1)) + 1).alias("size")
    )


def near_dup_labels(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(id, cluster_id) per node of the pair graph — the label-form
    twin of ``near_dup_clusters`` (same large/small-star fixpoint;
    cluster_id = min member id; roots label themselves). The form a
    keeper-selection join needs."""
    e = _star_fixpoint(pairs, id_a, id_b, max_iter)
    members = e.select(F.col("a").alias("id"), F.col("b").alias("cluster_id"))
    roots = e.select(
        F.col("b").alias("id"), F.col("b").alias("cluster_id")
    ).distinct()
    return members.union(roots).distinct()


def _star_fixpoint(
    pairs: DataFrame, id_a: str, id_b: str, max_iter: int
) -> DataFrame:
    """Run alternating large-star/small-star to the fixpoint; returns
    the min-rooted star forest as (a member, b root) edges."""
    e = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    for _ in range(max_iter):
        # Large-star: for every node u, connect each strictly-larger
        # neighbor v to m(u) = min(Γ(u) ∪ {u}). m(u) via groupBy-min +
        # join back — never a gathered neighbor list.
        adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        m = (
            adj.groupBy("u")
            .agg(F.min("v").alias("__mv"))
            .select("u", F.least("__mv", F.col("u")).alias("m"))
        )
        large = (
            adj.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # Small-star: orient edges big→small; connect every smaller
        # neighbor (and u itself) to the minimum one.
        adj2 = large.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        m2 = adj2.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            adj2.join(m2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .union(m2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .distinct()
            # LAZY checkpoint: the fixpoint aggregate below is the
            # round's ONE driver-blocking action — it materializes the
            # checkpoint as a side effect. (eager=True plus a separate
            # agg doubled the per-round barrier count; driver-side
            # barriers are what an iterative op pays for at any scale.)
            .localCheckpoint(eager=False)
        )
        # Fixpoint test: (count, order-independent checksum) in ONE
        # aggregate job — cheaper than an anti-join change probe.
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        sig = (row["n"], row["s"])
        if sig == prev_sig:
            break
        prev_sig = sig
    return e


def _clusters_label_prop(
    pairs: DataFrame, id_a: str, id_b: str, max_iter: int
) -> DataFrame:
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iter):
        neighbor = edges.join(
            labels, edges.dst == labels.node, "inner"
        ).select(F.col("src").alias("node"), "label")
        new_labels = (
            labels.select("node", "label")
            .union(neighbor)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.groupBy(F.col("label").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("size")
    )


def jaccard_pairs_prefix_filter(
    docs: DataFrame,
    id_col: str,
    tokens_col: str,
    threshold: float,
    block_cols: list[str] | None = None,
    materialize_base: bool = False,
) -> DataFrame:
    """EXACT token-set Jaccard pairs ≥ threshold via prefix filtering
    (the AllPairs/PPJoin candidate bound — Bayardo et al., WWW'07),
    optionally restricted to pairs sharing ``block_cols``.

    Unlike MinHash-LSH this has NO false negatives, so it can back an
    exact-semantics query, and unlike a blocked all-pairs self-join it
    is not quadratic in the block size. The bound: order every doc's
    tokens by a single global total order (document frequency
    ascending, then token — rare tokens first); if J(A,B) ≥ t, the
    prefixes of length |X| - ⌈t·|X|⌉ + 1 must share a token. Candidate
    generation is then an equi-join on (blocks, prefix-token), with the
    length filter t·|A| ≤ |B| ≤ |A|/t pruning further; exact Jaccard on
    the full token sets verifies each candidate.

    Plan shape (scale-first): explode tokens → df-count shuffle →
    per-doc sort (one partial-agg shuffle) → prefix explode →
    equi-join on the prefix token (shuffle sized by Σ prefix lengths,
    with buckets keyed by *rare* tokens — small by construction) →
    distinct pairs → verify join. Every stage is codegen'd; nothing is
    quadratic in a block. The reference has no Jaccard operator; this
    serves the n-gram-Jaccard dedup family (driver north_star).

    ``tokens_col`` must hold distinct tokens (use ``array_distinct``).
    Returns (id_a, id_b, jaccard_ppm) with id_a < id_b — the exact
    integer parts-per-million of the Jaccard (functions/exact.py), so
    acceptance is the pure integer comparison ppm ≥ t·1e6 ⟺ J ≥ t,
    the same contract as the all-pairs formulation.
    """
    blocks = block_cols or []
    # Candidate-generation bounds are computed in FLOAT (prefix
    # length, length ratio, positional alpha); a float round-up of
    # t·|X| could prune a boundary pair the exact-integer verify would
    # accept — a false negative verify can't recover. Loosen every
    # generation bound by 5e-7 (harmless extra candidates); verify
    # keeps the exact t.
    t_gen = threshold - 5e-7
    base = docs.select(
        F.col(id_col).alias("__id"), *blocks, F.col(tokens_col).alias("__toks")
    ).withColumn("__n", F.size("__toks"))
    # Optionally materialize the token-set projection (r14/r15): it
    # feeds THREE plan branches (the df-count explode and both verify
    # sides). The barrier pays when tokens_col is itself an expensive
    # computed subtree (gram explode + hash sampling); when it is a
    # stored column or a cheap projection, the persist+count pass
    # costs more than the recompute it saves (measured r15 — see
    # OPTIMIZATION_r15.md), so callers opt in per site.
    if materialize_base:
        base = materialize(base, "ppjoin_base")

    tk = base.select("__id", *blocks, "__n", F.explode("__toks").alias("__tok"))
    dfreq = tk.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    # Per-doc canonical order: sort_array over (df, token) structs gives
    # every document the same global rarity-ascending token order.
    ordered = (
        tk.join(dfreq, "__tok")
        .groupBy("__id", *blocks, "__n")
        .agg(F.sort_array(F.collect_list(F.struct("__df", "__tok"))).alias("__ord"))
    )
    plen = (
        F.col("__n") - F.ceil(F.lit(t_gen) * F.col("__n")) + F.lit(1)
    ).cast("int")
    pref = ordered.select(
        "__id",
        *blocks,
        "__n",
        F.posexplode(F.slice("__ord", F.lit(1), plen)).alias("__pos0", "__p"),
    ).select(
        "__id",
        *blocks,
        "__n",
        (F.col("__pos0") + 1).alias("__pos"),  # 1-based canonical rank
        F.col("__p.__tok").alias("__tok"),
    )
    # Materialize: the prefix table feeds both sides of the candidate
    # self-join (Catalyst plans the subtree twice — df-count shuffle,
    # per-doc sort, prefix explode each re-run otherwise). Σ prefix
    # lengths ≈ (1-t)·total tokens — small. Strategy pluggable
    # (persist | staging table) via spark.broadway.materialize.strategy.
    pref = materialize(pref, "ppjoin_prefix")

    left, right = pref.alias("l"), pref.alias("r")
    # PPJoin positional filter: J ≥ t needs overlap α = ⌈t/(1+t)·
    # (|A|+|B|)⌉, and a match at canonical ranks (p_l, p_r) bounds the
    # overlap by 1 + min(|A|-p_l, |B|-p_r). A qualifying pair always
    # passes on its FIRST common prefix token (loosest bound), so
    # filtering per matched row before the distinct is sound. The tiny
    # epsilon keeps float ceil from over-pruning at exact-integer α.
    alpha = F.ceil(
        F.lit(t_gen / (1.0 + t_gen))
        * (F.col("l.__n") + F.col("r.__n"))
        - F.lit(1e-9)
    )
    overlap_ub = (
        F.least(
            F.col("l.__n") - F.col("l.__pos"),
            F.col("r.__n") - F.col("r.__pos"),
        )
        + F.lit(1)
    )
    join_cond = (
        (F.col("l.__tok") == F.col("r.__tok"))
        & (F.col("l.__id") < F.col("r.__id"))
        # length filter: J ≥ t forces t·|A| ≤ |B| and t·|B| ≤ |A|
        & (F.col("r.__n") >= F.lit(t_gen) * F.col("l.__n"))
        & (F.col("l.__n") >= F.lit(t_gen) * F.col("r.__n"))
        & (overlap_ub >= alpha)
    )
    for c in blocks:
        join_cond = join_cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    cand = (
        left.join(right, join_cond)
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )

    a = base.select(
        F.col("__id").alias("id_a"),
        F.col("__toks").alias("__toks_a"),
        F.col("__n").alias("__n_a"),
    )
    b = base.select(
        F.col("__id").alias("id_b"),
        F.col("__toks").alias("__toks_b"),
        F.col("__n").alias("__n_b"),
    )
    inter = F.size(F.array_intersect("__toks_a", "__toks_b")).cast("long")
    union = (F.col("__n_a") + F.col("__n_b")).cast("long") - inter
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard_ppm", ratio_ppm(inter, union))
        .filter(
            F.col("jaccard_ppm") >= F.lit(ppm(threshold))
        )
        .select("id_a", "id_b", "jaccard_ppm")
    )
