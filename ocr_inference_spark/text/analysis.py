"""Text analysis as pure Catalyst expressions (whole-stage codegen'd).

Each builder returns a Column usable over any string column — applied
to the `documents` testdata table in the driver contract and to
extracted span text in the OCR pipeline. No Python UDFs anywhere
(SURVEY.md §2.11 "never per-row Python").

The cleanup functions are the relational analogues of the reference's
label/prediction post-processing: preprocess_unicode strips control
characters and normalizes separators via regex
(BDRC/label_encoder.py:10-32); prediction cleanup trims and remaps a
sentinel to space (BDRC/inference.py:634-638).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# a small deterministic English stopword list (public knowledge)
STOPWORDS = (
    "the of and a to in is it you that he was for on are as with his they i".split()
)


def clean_text(col) -> Column:
    """Collapse whitespace runs, trim, lowercase (C1-C3 analogue)."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def token_count(col) -> Column:
    """Whitespace token count; empty string counts 0."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(col) -> Column:
    """Sub-word-ish token count: split on word/number/punct boundaries
    with a BPE-flavored regex (letter runs, digit runs, punctuation
    each count separately)."""
    arr = F.regexp_extract_all(col, F.lit(r"([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s])"), 1)
    return F.size(arr)


def punct_ratio(col) -> Column:
    n_punct = F.length(F.regexp_replace(col, r"[^.,;:!?'\-]", ""))
    return n_punct / F.greatest(F.length(col), F.lit(1))


def digit_ratio(col) -> Column:
    n_digit = F.length(F.regexp_replace(col, r"[^0-9]", ""))
    return n_digit / F.greatest(F.length(col), F.lit(1))


def stopword_ratio(col) -> Column:
    """Fraction of tokens that are English stopwords."""
    words = F.split(F.lower(F.trim(col)), r"\s+")
    n_stop = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    return n_stop / F.greatest(F.size(words), F.lit(1))


def quality_score(col) -> Column:
    """Composite quality in [0,1]: long enough, not punct/digit-heavy,
    has stopwords (an English-prose prior). Deterministic arithmetic —
    identical formula is expressible in the DuckDB oracle."""
    len_term = F.least(F.length(col) / F.lit(200.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(col) * 4.0, F.lit(1.0))
    digit_term = F.lit(1.0) - F.least(digit_ratio(col) * 4.0, F.lit(1.0))
    stop_term = F.least(stopword_ratio(col) * 3.0, F.lit(1.0))
    return (len_term + punct_term + digit_term + stop_term) / 4.0


def lang_id(col) -> Column:
    """N-gram-free heuristic language ID: 'en' when stopword evidence is
    present, 'und' otherwise; ASCII share gates non-Latin scripts."""
    ascii_share = F.length(F.regexp_replace(col, r"[^\x00-\x7F]", "")) / F.greatest(
        F.length(col), F.lit(1)
    )
    return (
        F.when(ascii_share < 0.5, F.lit("xx"))
        .when(stopword_ratio(col) > 0.08, F.lit("en"))
        .otherwise(F.lit("und"))
    )


# ---------------------------------------------------------------------------
# Gopher-style document quality rules (Rae et al. 2021, §A1.1 "quality
# filtering" — the published heuristic set LLM training pipelines run
# before dedup). All-INTEGER formulations (counts and x100 fixed-point
# means, threshold checks by cross-multiplication) so the verdicts are
# bit-deterministic and sit under a value-hash gate — float ratios
# cannot. Pure Catalyst; the DuckDB oracle mirrors each expression.
# ---------------------------------------------------------------------------

# the Gopher stopword-presence rule uses a small fixed list
GOPHER_STOPWORDS = "the of and a to in is it you that".split()


def _words(col) -> Column:
    return F.filter(
        F.split(F.coalesce(col, F.lit("")), r"\s+"), lambda w: w != ""
    )


def gopher_raw_metrics(col) -> dict[str, Column]:
    """Raw integer Gopher counting metrics over a text column:
    word_count, nws_chars (non-whitespace chars == Σ word lengths, by
    definition), stop_hits (distinct stopwords present, of the 10-word
    list), symbol_words (words carrying # / ellipsis), n_lines,
    bullet_lines (lines starting -, *, or •), ellipsis_lines."""
    words = _words(col)
    lowered = F.transform(words, F.lower)
    stop_hits = None
    for s in GOPHER_STOPWORDS:
        term = F.array_contains(lowered, s).cast("long")
        stop_hits = term if stop_hits is None else stop_hits + term
    lines = F.split(F.coalesce(col, F.lit("")), "\n")
    return {
        "word_count": F.size(words).cast("long"),
        "nws_chars": F.length(
            F.regexp_replace(F.coalesce(col, F.lit("")), r"\s", "")
        ).cast("long"),
        "stop_hits": stop_hits.cast("long"),
        "symbol_words": F.size(
            F.filter(
                words,
                lambda w: w.contains("#")
                | w.contains("...")
                | w.contains("…"),
            )
        ).cast("long"),
        "n_lines": F.size(lines).cast("long"),
        "bullet_lines": F.size(
            F.filter(
                lines,
                lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•"),
            )
        ).cast("long"),
        "ellipsis_lines": F.size(
            F.filter(
                lines,
                lambda l: (F.substring(F.rtrim(l), -3, 3) == "...")
                | (F.substring(F.rtrim(l), -1, 1) == "…"),
            )
        ).cast("long"),
    }


def gopher_quality(df, text_col: str = "text"):
    """Append the Gopher verdict columns to ``df``: the raw counts,
    mean_word_len_x100 (fixed-point, exact integer ``div``), and the
    composite ``passes`` rule —
      30 <= words <= 100000, 3.00 <= mean word length <= 10.00,
      >= 2 stopwords present, symbol words < 10% of words,
      bullet lines < 90%, ellipsis lines < 30% of lines
    (the paper's thresholds, with the 50-word floor adapted to 30 for
    short-document corpora — a documented constant, not a semantic
    change). Thresholds are integer cross-multiplications — no floats
    anywhere, so verdicts are engine-exact."""
    raw = gopher_raw_metrics(F.col(text_col))
    staged = df.select(
        "*", *(c.alias(n) for n, c in raw.items())
    ).withColumn(
        "mean_word_len_x100",
        F.expr(
            "CASE WHEN word_count > 0"
            " THEN (100 * nws_chars) div word_count ELSE 0 END"
        ),
    )
    return staged.withColumn(
        "passes",
        (F.col("word_count") >= 30)
        & (F.col("word_count") <= 100000)
        & (F.col("mean_word_len_x100") >= 300)
        & (F.col("mean_word_len_x100") <= 1000)
        & (F.col("stop_hits") >= 2)
        & (F.lit(10) * F.col("symbol_words") < F.col("word_count"))
        & (F.lit(10) * F.col("bullet_lines") < F.lit(9) * F.col("n_lines"))
        & (
            F.lit(10) * F.col("ellipsis_lines")
            < F.lit(3) * F.col("n_lines")
        ),
    )


def gopher_repetition(df, text_col: str = "text"):
    """Append Gopher repetition metrics (Rae et al. 2021 §A1.1's
    repetition family, word-level): top_word_cnt / top_bigram_cnt (the
    most frequent word / word-bigram occurrence counts), their x1000
    fixed-point fractions of the word / bigram totals, and the
    ``passes_repetition`` verdict (top word <= 15.0%, top bigram <=
    6.0% — thresholds adapted to short-document corpora from the
    paper's long-document originals; documented constants). The counts
    are O(words²) per row inside whole-stage-codegen'd higher-order
    functions — fine for documents, and at 10^12 scale this stays a
    map-only scan (no shuffle, no Python). Integer arithmetic only, so
    verdicts are engine-exact. A count of <= 1 is NO repetition and
    passes regardless of its fraction — without that escape a short
    document with all-unique bigrams would fail on 1000/(wc-1) alone,
    which is a length judgment (q60's job), not a repetition one."""
    staged = (
        df.withColumn(
            "w_",
            F.expr(f"filter(split(coalesce({text_col}, ''), '\\\\s+'),"
                   " w -> w != '')"),
        )
        .withColumn(
            "bg_",
            # guard: sequence(0, -k) runs BACKWARD in Spark and the
            # negative subscripts then raise under ANSI mode
            F.expr("CASE WHEN size(w_) >= 2 THEN"
                   " transform(sequence(0, size(w_) - 2),"
                   "  i -> concat(w_[i], ' ', w_[i + 1]))"
                   " ELSE array() END"),
        )
        .withColumn(
            "top_word_cnt",
            F.expr("coalesce(array_max(transform(w_, x ->"
                   " cast(size(filter(w_, y -> y = x)) as bigint))), 0L)"),
        )
        .withColumn(
            "top_bigram_cnt",
            F.expr("coalesce(array_max(transform(bg_, x ->"
                   " cast(size(filter(bg_, y -> y = x)) as bigint))), 0L)"),
        )
        .withColumn("wc_", F.expr("cast(size(w_) as bigint)"))
    )
    staged = staged.withColumn(
        "top_word_frac_x1000",
        F.expr(
            "CASE WHEN wc_ > 0 THEN (1000 * top_word_cnt) div wc_"
            " ELSE 0 END"
        ),
    ).withColumn(
        "top_bigram_frac_x1000",
        F.expr(
            "CASE WHEN wc_ > 1 THEN (1000 * top_bigram_cnt) div (wc_ - 1)"
            " ELSE 0 END"
        ),
    )
    return staged.withColumn(
        "passes_repetition",
        ((F.col("top_word_cnt") <= 1) | (F.col("top_word_frac_x1000") <= 150))
        & (
            (F.col("top_bigram_cnt") <= 1)
            | (F.col("top_bigram_frac_x1000") <= 60)
        ),
    ).drop("w_", "bg_", "wc_")


def fingerprint(col, modulus: int = 2_147_483_647, base: int = 31) -> Column:
    """Polynomial rolling hash over character code points, mod a Mersenne
    prime — a deterministic document fingerprint computable identically
    in ANSI SQL (the DuckDB oracle uses the same recurrence)."""
    chars = F.split(col, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % modulus,
    )
