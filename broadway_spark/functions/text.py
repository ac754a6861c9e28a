"""Text-analysis expressions: tokenization, language ID, quality, counts.

All pure Catalyst expressions (split/filter/transform/aggregate higher-
order functions) — no Python in the hot path, so these run inside
whole-stage codegen and scale linearly with input bytes. Each function
has an exact DuckDB-SQL twin used by the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Per-language stopword marker sets for the n-gram/stopword language-ID
# heuristic. Deterministic, tiny, and embedded in both the Spark plan and
# the oracle SQL. Order matters: ties break by first-listed language.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es": ("el", "la", "de", "y", "que", "los", "una", "por"),
    "fr": ("le", "la", "les", "et", "des", "une", "est", "que"),
    "zh": ("的", "了", "是", "在", "我", "有", "他", "这"),
}

# A BPE-ish tokenizer regex: words, single digits, or single punctuation
# marks — approximates subword token counts without a vocab file.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens, lowercased. array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(c), " ")


def word_shingles(col_name: str, k: int = 3) -> Column:
    """Distinct k-word shingles of a text column. array<string>.

    Built with sequence+transform (1-indexed element_at to mirror
    DuckDB's 1-based list indexing), then array_distinct. Texts shorter
    than k words yield one (partial) shingle so no doc drops out.
    """
    tok = _tok_expr(col_name)
    # try_element_at: out-of-range → NULL (concat_ws skips it), matching
    # DuckDB's 1-based list indexing, and safe under ANSI mode.
    parts = ", ".join(f"try_element_at({tok}, i + {j})" for j in range(k))
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(size({tok}) - {k - 1}, 1)), "
            f"i -> concat_ws(' ', {parts}))"
        )
    )


def _tok_expr(col_name: str) -> str:
    return f"split(lower({col_name}), ' ')"


def _shingle_gather(df, id_col: str, text_col: str, k: int):
    """(__id, __pos, __sh) k-gram rows via posexplode + lead() windows
    — every stage whole-stage-codegen'd, partitioned by __id after the
    window shuffle.

    Spark evaluates higher-order-function lambdas interpreted (the
    ``word_shingles`` expression form runs at ~ms/doc); gathering each
    k-gram with ``lead(tok, j)`` over (id, pos) instead is ~5× faster
    measured on the documents table, at the cost of one keyed shuffle.
    Position filter mirrors ``word_shingles``: full k-grams at
    positions 0..n-k, or the single leading partial shingle of a doc
    shorter than k tokens (concat_ws skips the NULL leads, matching
    try_element_at's out-of-range NULL).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias(
            "__pos", "__tok"
        ),
    )
    w = Window.partitionBy("__id").orderBy("__pos")
    gathered = toks.select(
        "__id",
        "__pos",
        F.concat_ws(
            " ", *[F.lead("__tok", j).over(w) for j in range(k)]
        ).alias("__sh"),
        F.count(F.lit(1)).over(Window.partitionBy("__id")).alias("__n"),
    )
    return gathered.filter(
        F.col("__pos") <= F.greatest(F.col("__n") - k, F.lit(0))
    )


def shingle_table(df, id_col: str, text_col: str, k: int = 3):
    """(__id, __sh distinct k-shingle array) — bulk shingling on the
    codegen path (``_shingle_gather``), folded back to one array per
    doc inside the window's existing __id partitioning (collect_list
    adds no exchange; array_distinct preserves first-occurrence order,
    same set as ``word_shingles``)."""
    return (
        _shingle_gather(df, id_col, text_col, k)
        .groupBy("__id")
        .agg(F.array_distinct(F.collect_list("__sh")).alias("__sh"))
    )


def shingle_rows(df, id_col: str, text_col: str, k: int = 3):
    """(__id, __sh) exploded DISTINCT k-word shingle rows — the
    row-form twin of ``shingle_table`` for consumers that never need
    the per-doc array (saves the collect_list + re-explode round
    trip). Same shingle set as ``word_shingles``."""
    kept = _shingle_gather(df, id_col, text_col, k)
    return (
        kept.select("__id", "__sh")
        .groupBy("__id", "__sh")
        .agg(F.lit(1).alias("__one"))
        .drop("__one")
    )


def shingle_instances(df, id_col: str, text_col: str, k: int = 3):
    """(__id, __sh) k-gram rows WITH multiplicity — the instance-form
    twin of ``shingle_rows`` for consumers that need occurrence counts
    (repetition/quality scoring), not the distinct shingle set."""
    return _shingle_gather(df, id_col, text_col, k).select("__id", "__sh")


def word_shingles_sql(expr: str, k: int = 3) -> str:
    """DuckDB twin of ``word_shingles`` (1-based list indexing)."""
    tok = f"string_split(lower({expr}), ' ')"
    parts = ", ".join(f"{tok}[i + {j}]" for j in range(k))
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({tok}) - {k - 1}, 1)), "
        f"i -> concat_ws(' ', {parts})))"
    )


def token_count(col: Column | str) -> Column:
    """Whitespace token count (INT)."""
    return F.size(tokens(col))


def token_count_sql(expr: str) -> str:
    return f"len(string_split(lower({expr}), ' '))"


def bpe_ish_token_count(col: Column | str) -> Column:
    """Subword-ish token count via the BPE-ish regex (INT)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def bpe_ish_token_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '{BPE_ISH_PATTERN}'))"


def _marker_score(col: Column | str, markers: tuple[str, ...]) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    in_list = ", ".join("'" + m.replace("'", "''") + "'" for m in markers)
    col_sql = col if isinstance(col, str) else None
    if col_sql is None:
        raise ValueError("language_id requires a column name string")
    return F.expr(
        f"size(filter(split(lower({col_sql}), ' '), x -> x IN ({in_list})))"
    )


def language_id(col_name: str) -> Column:
    """Stopword-marker language ID. Returns best-scoring language code,
    'und' (undetermined) when no marker hits. Ties break in LANG_MARKERS
    declaration order — deterministic on every engine.
    """
    scores = {lang: _marker_score(col_name, ms) for lang, ms in LANG_MARKERS.items()}
    best = F.lit("und")
    best_score = F.lit(0)
    # Iterate in reverse so earlier languages win ties.
    for lang in reversed(list(scores)):
        s = scores[lang]
        best = F.when(s >= F.greatest(best_score, F.lit(1)), F.lit(lang)).otherwise(best)
        best_score = F.greatest(best_score, s)
    return best


def language_id_sql(expr: str) -> str:
    """DuckDB twin of ``language_id`` — same tie-break order."""
    score_exprs = {}
    for lang, ms in LANG_MARKERS.items():
        in_list = ", ".join("'" + m.replace("'", "''") + "'" for m in ms)
        score_exprs[lang] = (
            f"len(list_filter(string_split(lower({expr}), ' '), "
            f"x -> x IN ({in_list})))"
        )
    # CASE picks the first language achieving the global max score >= 1.
    all_scores = ", ".join(score_exprs.values())
    cases = " ".join(
        f"WHEN {s} >= 1 AND {s} >= greatest({all_scores}) THEN '{lang}'"
        for lang, s in score_exprs.items()
    )
    return f"(CASE {cases} ELSE 'und' END)"


def quality_score(col_name: str) -> Column:
    """Heuristic document quality in [0, 1]:
    mean of three deterministic components —

    - length component: least(n_tokens / 64, 1)
    - alpha ratio: alphabetic chars / chars (whitespace excluded)
    - stopword component: least(4 * stopword_ratio, 1) (natural prose
      has 25-60% stopwords; near-zero signals keyword soup or code)

    Pure integer counts + one final division → bit-identical across
    engines.
    """
    n_tok = F.size(F.split(F.lower(F.col(col_name)), " ")).cast("double")
    no_ws = F.regexp_replace(F.col(col_name), r"\s+", "")
    n_chars = F.length(no_ws).cast("double")
    n_alpha = F.length(F.regexp_replace(no_ws, r"[^A-Za-z]", "")).cast("double")
    en_markers = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
    n_stop = F.expr(
        f"size(filter(split(lower({col_name}), ' '), x -> x IN ({en_markers})))"
    ).cast("double")
    length_c = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    alpha_c = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    stop_c = F.least(F.lit(4.0) * n_stop / F.greatest(n_tok, F.lit(1.0)), F.lit(1.0))
    return F.round((length_c + alpha_c + stop_c) / F.lit(3.0), 6)


def quality_ppm(col_name: str) -> Column:
    """``quality_score`` as an EXACT integer in parts-per-million —
    no float path anywhere, so threshold comparisons (tier cuts,
    quality gates) can never hit the 6dp half-way rounding class the
    boundary-audit policy bans. The three components are rationals
    with integer numerators/denominators:

    - length: min(n_tok, 64) / 64
    - alpha:  n_alpha / n_chars (0 when no chars)
    - stop:   min(4·n_stop, m) / m   with m = max(n_tok, 1)

    brought onto the common denominator 192·c·m (c = max(n_chars, 1))
    and floor-divided: ppm = ⌊1e6 · Σ⌋ via DECIMAL(38,0) DIV —
    engine-identical under truncating integer division (the agg_gini
    rule). Magnitude bound: 1e6 · 64 · c · m ≈ 1e20 for megabyte docs
    — far inside DECIMAL(38,0)/HUGEINT.
    """
    en_markers = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
    t = f"size(split(lower({col_name}), ' '))"
    w = f"regexp_replace({col_name}, '\\\\s+', '')"
    ch = f"length({w})"
    al = f"length(regexp_replace({w}, '[^A-Za-z]', ''))"
    sp = f"size(filter(split(lower({col_name}), ' '), x -> x IN ({en_markers})))"
    c = f"greatest({ch}, 1)"
    m = f"greatest({t}, 1)"
    num = (
        f"(CAST(least({t}, 64) AS DECIMAL(38,0)) * {c} * {m}"
        f" + 64 * CAST(CASE WHEN {ch} > 0 THEN {al} ELSE 0 END"
        f"   AS DECIMAL(38,0)) * {m}"
        f" + 64 * CAST({c} AS DECIMAL(38,0)) * least(4 * {sp}, {m}))"
    )
    den = f"(CAST(192 AS DECIMAL(38,0)) * {c} * {m})"
    return F.expr(
        f"CAST(({num} * 1000000) DIV {den} AS BIGINT)"
    )


def quality_ppm_sql(expr: str) -> str:
    """DuckDB twin of ``quality_ppm`` — HUGEINT arithmetic, same
    truncating integer division."""
    en_markers = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
    t = f"len(string_split(lower({expr}), ' '))"
    w = f"regexp_replace({expr}, '\\s+', '', 'g')"
    ch = f"length({w})"
    al = f"length(regexp_replace({w}, '[^A-Za-z]', '', 'g'))"
    sp = (
        f"len(list_filter(string_split(lower({expr}), ' '), "
        f"x -> x IN ({en_markers})))"
    )
    c = f"greatest({ch}, 1)"
    m = f"greatest({t}, 1)"
    num = (
        f"(CAST(least({t}, 64) AS HUGEINT) * {c} * {m}"
        f" + 64 * CAST(CASE WHEN {ch} > 0 THEN {al} ELSE 0 END"
        f"   AS HUGEINT) * {m}"
        f" + 64 * CAST({c} AS HUGEINT) * least(4 * {sp}, {m}))"
    )
    den = f"(CAST(192 AS HUGEINT) * {c} * {m})"
    return f"CAST(({num} * 1000000) // {den} AS BIGINT)"


def winnow_fingerprints(col_name: str, k: int = 3, w: int = 4, seed: int = 7) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word k-gram, slide a
    window of ``w`` consecutive k-gram hashes, keep each window's
    minimum; the distinct selected hashes are the document's
    fingerprint set. Guarantees: any shared run of ≥ w+k-1 tokens
    between two documents shares ≥ 1 fingerprint, so fingerprint
    overlap is a sound partial-copy detector (unlike a single whole-doc
    hash).

    One nested-HOF expression per row — per-row linear work, no
    shuffle; the portable md5 hash family keeps it engine-reproducible.
    Returns array<bigint> (sorted, distinct).
    """
    tok = f"split(lower({col_name}), ' ')"
    gram = f"concat_ws(' ', slice(t, i, {k}))"
    from broadway_spark.functions.hashing import portable_hash_sql as _  # noqa: F401

    gram_hash = (
        f"CAST(conv(substring(md5(concat('{seed}', ':', {gram})), 1, 8), 16, 10) "
        f"AS BIGINT)"
    )
    grams = (
        f"transform(sequence(1, greatest(size(t) - {k - 1}, 1)), i -> {gram_hash})"
    )
    wins = (
        f"transform(sequence(1, greatest(size(g) - {w - 1}, 1)), "
        f"j -> array_min(slice(g, j, {w})))"
    )
    # LET trick: bind the token array and the gram-hash array once each
    # so the md5 pass runs once per gram, not once per window element.
    return F.expr(
        f"array_sort(array_distinct(element_at(transform(array("
        f"element_at(transform(array({tok}), t -> {grams}), 1)"
        f"), g -> {wins}), 1)))"
    )


def winnow_fingerprints_sql(expr: str, k: int = 3, w: int = 4, seed: int = 7) -> str:
    """DuckDB SQL computing the same fingerprint set as
    ``winnow_fingerprints`` (1-based list_slice end-inclusive)."""
    tok = f"string_split(lower({expr}), ' ')"
    # array_to_string, NOT concat_ws: DuckDB's concat_ws stringifies a
    # list argument ('[a, b]') instead of joining its elements.
    gram = f"array_to_string(list_slice(t, i, i + {k - 1}), ' ')"
    gram_hash = (
        f"CAST(concat('0x', substr(md5(concat('{seed}', ':', {gram})), 1, 8)) "
        f"AS BIGINT)"
    )
    grams = (
        f"list_transform(generate_series(1, greatest(len(t) - {k - 1}, 1)), "
        f"i -> {gram_hash})"
    )
    wins = (
        f"list_transform(generate_series(1, greatest(len(g) - {w - 1}, 1)), "
        f"j -> list_aggregate(list_slice(g, j, j + {w - 1}), 'min'))"
    )
    return (
        f"list_sort(list_distinct(list_transform(list_value("
        f"list_transform(list_value({tok}), t -> {grams})[1]"
        f"), g -> {wins})[1]))"
    )
