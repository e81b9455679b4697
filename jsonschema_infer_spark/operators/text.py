"""Text-analysis operators for large-scale training-data pipelines.

All hot-path functions are pure Spark Column expressions (JVM-side,
whole-stage codegen) — language ID, quality scoring, token counting and
fingerprinting run as part of a single scan with no Python in the loop.
Each has an ANSI-SQL twin in __spark_entry__.oracle_sql() so the driver can
cross-check against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Three-engine whitespace parity: Java regex \s and Python re.ASCII \s are
# [ \t\n\x0B\f\r], but DuckDB's RE2 \s EXCLUDES vertical tab (\x0B) — text
# containing \x0B would tokenize/shingle differently in the oracle. Every
# whitespace regex (here, dedup.py and the oracle SQL) uses this explicit
# class instead; RE2, Java and Python all interpret \x0B identically.
WS_CHARS = r" \t\n\x0B\f\r"
WS = f"[{WS_CHARS}]"

# tiny per-language marker-word sets for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "que"],
    "de": ["der", "die", "und", "ist", "das", "ein", "nicht", "mit"],
    "es": ["el", "la", "los", "y", "es", "una", "que", "con"],
}


def token_count(col: Column) -> Column:
    """Whitespace token count; empty/blank strings count 0."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, WS + "+"))
    )


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token estimate: count of word/number/punct chunks by a
    BPE-like regex (letters runs, digit runs, single punct)."""
    return F.size(
        F.regexp_extract_all(
            col, F.lit(f"([A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CHARS}])"), 0
        )
    )


def _marker_hits(col: Column, words: list) -> Column:
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(col), F.lit(pat))


def lang_id(col: Column) -> Column:
    """Heuristic language ID: most marker-word hits wins; 'und' when no
    marker hits. Deterministic tie-break: language key order en,fr,de,es."""
    hits = [(_marker_hits(col, ws), lang) for lang, ws in LANG_MARKERS.items()]
    best = hits[0][0]
    best_lang = F.lit(hits[0][1])
    for h, lang in hits[1:]:
        best_lang = F.when(h > best, F.lit(lang)).otherwise(best_lang)
        best = F.when(h > best, h).otherwise(best)
    return F.when(best <= 0, F.lit("und")).otherwise(best_lang)


def quality_features(df: DataFrame, text_col: str = "text", keep: list | None = None) -> DataFrame:
    """Per-document quality features in one vectorized scan:
    n_chars, n_tokens, mean token length, punctuation count/ratio,
    uppercase ratio, stopword(en) ratio, and a composite quality score."""
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tokens = token_count(c)
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[\.,;:!\?]", ""))
    n_upper = F.length(c) - F.length(F.regexp_replace(c, r"[A-Z]", ""))
    n_alpha = F.length(c) - F.length(F.regexp_replace(c, r"[A-Za-z]", ""))
    n_stop = _marker_hits(c, LANG_MARKERS["en"])
    safe = lambda num, den: F.when(den > 0, num / den).otherwise(F.lit(0.0))  # noqa: E731
    feats = {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": F.round(safe(n_chars.cast("double"), n_tokens), 4),
        "punct_ratio": F.round(safe(n_punct.cast("double"), n_chars), 4),
        "upper_ratio": F.round(safe(n_upper.cast("double"), n_chars), 4),
        "alpha_ratio": F.round(safe(n_alpha.cast("double"), n_chars), 4),
        "stopword_ratio": F.round(safe(n_stop.cast("double"), n_tokens), 4),
    }
    out = df.select(*(keep or df.columns), *(v.alias(k) for k, v in feats.items()))
    score = (
        F.when(F.col("n_tokens") < 5, 0.0)
        .when(F.col("alpha_ratio") < 0.5, 0.2)
        .otherwise(
            F.least(
                F.lit(1.0),
                F.round(
                    0.4 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
                    + 0.3 * F.col("alpha_ratio")
                    + 0.3 * F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)),
                    4,
                ),
            )
        )
    )
    return out.withColumn("quality_score", F.round(score, 4))


def _round4_half_up(x: float) -> float:
    """Spark/DuckDB round(x, 4): HALF_UP on the double's decimal value —
    NOT Python's banker's rounding."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _py_repetition_row(text: str) -> tuple:
    """Single-document repetition features, exactly the Column-expression
    semantics (shared by the mapInPandas impl; equality-tested)."""
    import re

    # exact JVM/DuckDB semantics: F.trim strips U+0020 ONLY (not tabs or
    # unicode whitespace) — Python needs strip(" ") or the twins diverge
    # on "a\n\ta"; whitespace is the shared explicit class (see WS)
    lines = [l for l in (s.strip(" ") for s in text.split("\n")) if l]
    dlines = list(dict.fromkeys(lines))
    toks = re.sub(WS + "+", " ", text.lower()).strip(" ").split(" ")

    def dup_frac_grams(n):
        grams = [
            " ".join(toks[i : i + n])
            for i in range(max(len(toks) - n, 0) + 1)
            if len(toks[i : i + n]) == n
        ]
        return (
            _round4_half_up((len(grams) - len(set(grams))) / len(grams))
            if grams
            else 0.0
        )

    n_lines = len(lines)
    chars_all = sum(map(len, lines))
    chars_d = sum(map(len, dlines))
    dl = _round4_half_up((n_lines - len(dlines)) / n_lines) if n_lines else 0.0
    dc = _round4_half_up((chars_all - chars_d) / chars_all) if chars_all else 0.0
    g2, g3 = dup_frac_grams(2), dup_frac_grams(3)
    return n_lines, dl, dc, g2, g3, (dl > 0.30 or dc > 0.20 or g2 > 0.20)


def _repetition_pandas(df: DataFrame, text_col: str, keep: list) -> DataFrame:
    """Arrow-batched twin of the Column-expression form: one mapInPandas
    pass computing the same features in Python per batch. ~20x faster on
    short documents (interpreted JVM higher-order functions cost ~1.5 ms/
    doc; batched Python ~70 µs/doc) at the cost of leaving the JVM —
    value-equality with the expr form is asserted in tests."""
    import pandas as pd

    schema_parts = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.select(*keep).schema.fields
    )
    out_schema = (
        schema_parts + ", n_lines int, dup_line_frac double, "
        "dup_line_char_frac double, dup_2gram_frac double, "
        "dup_3gram_frac double, repetitive boolean"
    )

    # NULL text: the expr form yields n_lines NULL and 0.0 fractions
    # (size(NULL)=NULL, the safe-division when() falls to otherwise) —
    # mirror that exactly, same as the DuckDB oracle's CASE semantics
    null_row = (None, 0.0, 0.0, 0.0, 0.0, False)

    def gen(batches):
        for pdf in batches:
            feats = [
                _py_repetition_row(t) if t is not None else null_row
                for t in pdf[text_col]
            ]
            fcols = list(zip(*feats)) if feats else [[]] * 6
            out = pdf[list(keep)].copy()
            for i, name in enumerate(
                [
                    "n_lines",
                    "dup_line_frac",
                    "dup_line_char_frac",
                    "dup_2gram_frac",
                    "dup_3gram_frac",
                    "repetitive",
                ]
            ):
                out[name] = pd.Series(fcols[i], index=pdf.index)
            yield out

    cols = list(dict.fromkeys([*keep, text_col]))
    return df.select(*cols).mapInPandas(gen, out_schema)


def repetition_features(
    df: DataFrame,
    text_col: str = "text",
    keep: list | None = None,
    impl: str = "expr",
) -> DataFrame:
    """Intra-document repetition features (the Gopher-rules family): the
    fraction of non-blank lines that repeat an earlier line, the fraction
    of characters inside those repeated lines, and the duplicate word
    2-gram / 3-gram occurrence fractions. ``repetitive`` flags documents
    over the published thresholds (dup lines > 0.30 or dup line chars
    > 0.20 or dup 2-grams > 0.20).

    Two implementations, same values (equality-tested):

    - ``impl='expr'`` (default): pure Column expressions, no shuffle, no
      Python. Two projections, not one: higher-order functions
      (transform/filter/aggregate) are evaluated INTERPRETED per
      occurrence — Spark never codegens them and common-subexpression
      elimination does not reach across aggregate-expression trees — so
      the line/n-gram arrays are materialized once in a first projection
      and every feature reads the materialized column (measured ~15x on
      5k short docs vs the single-projection form).
    - ``impl='pandas'``: Arrow-batched mapInPandas; ~20x faster still on
      short documents because it skips interpreted HOF evaluation
      entirely. Use when repetition is the job, expr when it rides along
      a scan that stays JVM-side."""
    if impl == "pandas":
        return _repetition_pandas(df, text_col, keep or df.columns)
    if impl != "expr":
        raise ValueError("impl must be 'expr' or 'pandas'")
    c = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(c, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    toks = F.split(normalize_text(c), " ")
    cnt = F.size(toks)

    def ngrams(n: int):
        idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
        return F.filter(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")),
            lambda s: F.size(F.split(s, " ")) == n,
        )

    arrays = df.select(
        *(keep or df.columns),
        lines.alias("_lines"),
        F.array_distinct(lines).alias("_dlines"),
        ngrams(2).alias("_g2"),
        ngrams(3).alias("_g3"),
    )

    sum_len = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    safe = lambda num, den: F.round(  # noqa: E731
        F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0)), 4
    )
    n_lines = F.size(F.col("_lines"))
    chars_all = sum_len(F.col("_lines"))

    def dup_frac(col_name):
        g = F.col(col_name)
        return safe(F.size(g) - F.size(F.array_distinct(g)), F.size(g))

    feats = {
        "n_lines": n_lines,
        "dup_line_frac": safe(n_lines - F.size(F.col("_dlines")), n_lines),
        "dup_line_char_frac": safe(chars_all - sum_len(F.col("_dlines")), chars_all),
        "dup_2gram_frac": dup_frac("_g2"),
        "dup_3gram_frac": dup_frac("_g3"),
    }
    out = arrays.select(
        *(keep or df.columns), *(v.alias(k) for k, v in feats.items())
    )
    return out.withColumn(
        "repetitive",
        (F.col("dup_line_frac") > 0.30)
        | (F.col("dup_line_char_frac") > 0.20)
        | (F.col("dup_2gram_frac") > 0.20),
    )


def normalize_text(col: Column) -> Column:
    """Canonical form for exact-ish dedup: lowercase, collapse whitespace,
    strip leading/trailing space."""
    return F.trim(F.regexp_replace(F.lower(col), WS + "+", " "))


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (portable across engines — DuckDB md5() agrees byte-for-byte)."""
    return F.md5(normalize_text(col))
