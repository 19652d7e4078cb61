"""C4/Gopher-style heuristic rules as pure Catalyst expressions.

Each rule is one vectorized expression over derived token columns —
Luzzu's per-quad metric fold (/root/reference/README.md:7) recast so
Catalyst whole-stage-codegens the whole batch: no Python in this path.

Derived columns (attached once by :func:`with_token_columns`):
  tokens:array<string>, n_tokens:int, n_chars:int

ANSI-safe: every ratio uses try_divide (Spark 4 ANSI mode would raise on
/0 for empty docs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from luzzu_spark.rules import spec
from luzzu_spark.rules.registry import Rule
from luzzu_spark.rules.stopwords import STOPWORDS

TOKEN_SPLIT_RE = r"\s+"


def tokens_expr(text: Column | str = "text") -> Column:
    # null-guard: a null doc behaves as the empty doc (SURVEY.md §2.2 —
    # Luzzu reports malformed inputs instead of crashing); without this,
    # null scores never fire any rule and a null doc would be KEPT.
    c = F.col(text) if isinstance(text, str) else text
    # array_remove drops the [""] that split() yields on an empty doc —
    # keeps Spark's token list identical to Python's str.split() ([]).
    return F.array_remove(
        F.split(F.trim(F.coalesce(c, F.lit(""))), TOKEN_SPLIT_RE), "")


def with_token_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach tokens/n_tokens/n_chars once; rules read these. NULL
    text behaves as the empty doc. Dedup shingling adds token_hashes
    on top (with_token_hashes); the quality pipeline never does."""
    return (df.withColumns({
        "tokens": tokens_expr(text_col),
        "n_chars": F.length(F.coalesce(F.col(text_col), F.lit(""))),
    }).withColumn("n_tokens", F.size("tokens")))


def with_token_hashes(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach token_hashes: array<long> (xxhash64 per token) — the base
    column for dedup shingling. Materialized as its own column so shingle
    expressions slice bound long arrays instead of re-hashing strings
    (higher-order functions are CodegenFallback/interpreted; long copies
    beat string concat ~4× on the shingle stage). Kept OUT of the main
    quality pipeline, which computes repetition in the vectorized Arrow
    plugin rule (rules/repetition.py) instead."""
    if "tokens" not in df.columns:
        df = with_token_columns(df, text_col)
    return df.withColumn("token_hashes",
                         F.transform("tokens", lambda t: F.xxhash64(t)))


# columns with_token_columns attaches; the pipeline drops the arrays
TOKEN_HELPER_COLS = ("tokens", "n_tokens", "n_chars")


# -- per-rule score expressions (read the derived columns) -----------------

def mean_word_len() -> Column:
    # sum(len(token)) == count of non-whitespace chars (tokens ARE the
    # maximal non-whitespace runs) — one codegen'd regex pass instead of
    # an interpreted per-token aggregate fold
    total = F.length(F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")), r"\s+", ""))
    return F.try_divide(total.cast("double"), F.col("n_tokens"))


def max_word_len() -> Column:
    return F.coalesce(
        F.array_max(F.transform("tokens", F.length)), F.lit(0))


def symbol_ratio(text_col: str = "text") -> Column:
    pat = "[" + spec.SYMBOL_CHARS + "]"
    return F.try_divide(F.regexp_count(F.col(text_col), F.lit(pat)),
                        F.col("n_tokens"))


def stopword_token_re(words: tuple[str, ...]) -> str:
    """Whole-token stopword matcher for ONE codegen'd regexp_count
    pass: (^|\\s)(alt...)(?=\\s|$) matches exactly the tokens equal to
    a listed word (tokens are whitespace-delimited; Java regex
    backtracks through the alternation, so prefix words like a/an
    both match)."""
    return r"(?:^|\s)(?:" + "|".join(sorted(words)) + r")(?=\s|$)"


STOPWORD_TOKEN_RE = stopword_token_re(STOPWORDS)


def stopword_frac() -> Column:
    # whole-token stopword occurrences counted in ONE codegen'd regex
    # pass (stopword_token_re). The interpreted form —
    # filter(tokens, t -> array_contains(SW, t)) — cost
    # O(tokens × |SW|) per row with boxing.
    hits = F.regexp_count(F.coalesce(F.col("text"), F.lit("")),
                          F.lit(STOPWORD_TOKEN_RE))
    return F.try_divide(hits, F.col("n_tokens"))


def per_lang_stopword_rule(langs: tuple[str, ...] | None = None) -> Rule:
    """The stopword_frac rule with per-LANGUAGE profiles
    (rules/stopwords.RULE_PROFILES): each document is scored against
    the stopword list of its PREDICTED language (the langid plugin's
    lang_pred — the column is attached by the UDF stage, which is why
    this is a LATE rule: its score expression compiles after the
    plugin scores exist) and fires against that language's threshold.
    Languages outside the registered profile set — and zh, which has
    no whitespace-token profile — fall back to the frozen EN profile,
    so a multilingual registry restricted to ("en",) is expression-
    identical to the default rule (byte-identity tested).

    Scale shape: identical to the EN rule × |langs| — one codegen'd
    regexp_count per profile inside a CASE (only the selected branch's
    count is consumed per row; Catalyst evaluates CASE lazily), no
    joins, no Python."""
    from luzzu_spark.rules.stopwords import RULE_PROFILES
    langs = tuple(langs) if langs else tuple(sorted(RULE_PROFILES))
    unknown = set(langs) - set(RULE_PROFILES)
    if unknown:
        raise ValueError(f"no rule profile for languages {sorted(unknown)}"
                         f" (registered: {sorted(RULE_PROFILES)})")
    non_en = [lg for lg in langs if lg != "en"]

    def lang_key() -> Column:
        lp = F.col("lang_pred")
        return F.when(lp.isin(non_en), lp).otherwise(F.lit("en")) \
            if non_en else F.lit("en")

    def frac(lg: str) -> Column:
        hits = F.regexp_count(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(stopword_token_re(RULE_PROFILES[lg]["stopwords"])))
        return F.try_divide(hits, F.col("n_tokens"))

    def score() -> Column:
        expr = frac("en")
        key = lang_key()
        for lg in non_en:
            expr = F.when(key == lg, frac(lg)).otherwise(expr)
        return expr

    def fires(s: Column) -> Column:
        thr = F.lit(RULE_PROFILES["en"]["min_stopword_frac"])
        key = lang_key()
        for lg in non_en:
            thr = F.when(key == lg,
                         F.lit(RULE_PROFILES[lg]["min_stopword_frac"])
                         ).otherwise(thr)
        return s < thr

    return Rule(
        "stopword_frac", ("text",), fires=fires, score=score, late=True,
        description="Gopher stop-word fraction, per-language profile "
                    f"({', '.join(langs)}; others → EN fallback)")


def ngram_hashes(n: int = spec.NGRAM_N,
                 hashes_col: str = "token_hashes") -> Column:
    """array<long>: xxhash64 over each n-token shingle of token hashes.

    Empty array when the doc has fewer than n tokens. Used both for the
    within-doc repetition score and (exploded) for corpus-level dedup.

    The shingle hash is xxhash64(slice(token_hashes, i, n)) — hashing a
    length-n long slice, not a re-joined string. Tokens come from
    whitespace split (never contain spaces), so shingle equality is
    identical to space-joined-string equality; only the 64-bit codes
    differ. Distinctness/dedup semantics are unchanged while the
    interpreted HOF cost drops from O(n·chars) string building to O(n)
    long copies per position."""
    h = F.col(hashes_col)
    return F.when(
        F.size(h) >= F.lit(n),
        F.transform(
            F.sequence(F.lit(1), F.size(h) - F.lit(n - 1)),
            lambda i: F.xxhash64(F.slice(h, i, n)),
        ),
    ).otherwise(F.array().cast("array<long>"))


def heuristic_rules() -> list[Rule]:
    s = spec
    return [
        Rule("min_chars", ("text",),
             score=lambda: F.col("n_chars").cast("double"),
             fires=lambda c: c < F.lit(s.MIN_DOC_CHARS),
             description="C4 minimum document length"),
        Rule("word_count", ("text",),
             score=lambda: F.col("n_tokens").cast("double"),
             fires=lambda c: (c < F.lit(s.MIN_WORDS))
             | (c > F.lit(s.MAX_WORDS)),
             description="Gopher word-count bounds"),
        Rule("mean_word_len", ("text",), score=mean_word_len,
             fires=lambda c: (c < F.lit(s.MEAN_WORD_LEN_LO))
             | (c > F.lit(s.MEAN_WORD_LEN_HI)),
             description="Gopher mean word length bounds"),
        Rule("max_word_len", ("text",),
             score=lambda: max_word_len().cast("double"),
             fires=lambda c: c > F.lit(s.MAX_WORD_LEN),
             description="longest-token bound"),
        Rule("symbol_ratio", ("text",), score=symbol_ratio,
             fires=lambda c: c > F.lit(s.MAX_SYMBOL_WORD_RATIO),
             description="Gopher symbol-to-word ratio"),
        Rule("stopword_frac", ("text",), score=stopword_frac,
             fires=lambda c: c < F.lit(s.MIN_STOPWORD_FRAC),
             description="Gopher stop-word fraction"),
        # dup_ngram_frac is a PLUGIN rule (rules/repetition.py): the
        # 13-gram hash array as a Catalyst HOF ran interpreted and
        # dominated the whole pipeline; the vectorized Arrow form rides
        # the same Python-worker stage as langid/perplexity.
    ]
