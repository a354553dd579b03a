"""Text-analysis operators for large-scale training-data pipelines.

All column-level, JVM-side expressions (no Python UDFs) so they stay inside
whole-stage codegen — at 100TB, a per-row Python hop here would dominate the
job. Tokenization is whitespace/regex-based; everything downstream (quality
scoring, language ID, n-grams) composes from `pyspark.sql.functions`
higher-order array functions.

Corpus-level building blocks shared by the text queries and the quality
gate:

- ``token_stream``: one row per lower-cased whitespace token of ``text``
  (the only place the corpus token explode is written), and
  ``token_counts``, its (token, c) count — the unigram LM that
  ``unigram_lm_scores`` scores documents against;
- the token co-occurrence graph: ``doc_token_sets`` (each document's
  sorted distinct tokens), ``cooccurrence_edges`` (token pairs u < v with
  the number of documents holding both, above a support floor) and
  ``edge_triangles`` (the a < b < c triangle join over that edge table).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_streams_example_spark.operators import sql_name

# Tiny per-language stopword lists for the n-gram/stopword heuristic
# language scorer. Deterministic and engine-portable; a production system
# would plug a real model in via mapInPandas (see operators/multimodal.py
# for the pattern).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un"),
    "es": ("el", "la", "los", "y", "es", "un"),
    "zh": ("de", "le", "shi", "zai", "he"),
}

# BPE-ish tokenizer regex: word pieces, single digits, punctuation runs.
TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\x0B\f\r]"


def tokens(c: Column) -> Column:
    """Whitespace tokens of trimmed text (empty text → empty array)."""
    return F.filter(F.split(F.trim(c), r"[ \t\n\x0B\f\r]+"), lambda t: t != "")


def token_count(c: Column) -> Column:
    """BPE-ish token count via regex — proxy for LLM token budgets."""
    return F.regexp_count(c, F.lit(TOKEN_RE))


def word_count(c: Column) -> Column:
    return F.size(tokens(c))


def stopword_ratio(c: Column, lang: str = "en") -> Column:
    """Fraction of whitespace tokens that are stopwords of ``lang``."""
    toks = tokens(F.lower(c))
    hits = F.size(
        F.filter(
            toks,
            lambda t: t.isin(*STOPWORDS[lang]),
        )
    )
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def special_char_ratio(c: Column) -> Column:
    """Fraction of non-whitespace chars that are not alphanumeric."""
    stripped = F.regexp_replace(c, r"[ \t\n\x0B\f\r]+", "")
    specials = F.length(F.regexp_replace(stripped, r"[A-Za-z0-9]", ""))
    return F.when(
        F.length(stripped) > 0, specials / F.length(stripped)
    ).otherwise(F.lit(0.0))


def round_half_up(c: Column, scale: int) -> Column:
    """Engine-portable HALF_UP rounding for NON-NEGATIVE doubles:
    floor(x*10^s + 0.5) / 10^s.

    Spark's ``F.round`` rounds the shortest DECIMAL representation
    (BigDecimal HALF_UP: repr "0.53575" -> 0.5358) while DuckDB rounds
    in binary double arithmetic — so a value whose decimal repr lands
    exactly on a rounding boundary can round differently per engine
    (observed at sf0.1: 12 of 5000 quality scores). This formulation
    uses the SAME double multiply/floor on both sides (SQL twin:
    ``floor(x * 10^s + 0.5) / 10^s``), so results are bit-identical by
    construction. Only valid for non-negative inputs (floor(x+0.5) is
    half-toward-+inf, not half-away-from-zero)."""
    p = float(10**scale)
    return F.floor(c * F.lit(p) + F.lit(0.5)) / F.lit(p)


def quality_score(c: Column) -> Column:
    """Heuristic document quality in [0,1]: length saturation + stopword
    presence + low special-char noise (the classic Gopher/C4-style rule
    shape, deterministic). Rounded with the portable half-up (see
    :func:`round_half_up`) — quality scores cluster near 4-decimal
    boundaries, the one place engine rounding rules differ."""
    length_term = F.least(F.lit(1.0), word_count(c) / F.lit(100.0))
    return round_half_up(
        0.4 * length_term
        + 0.3 * stopword_ratio(c, "en")
        + 0.3 * (1.0 - special_char_ratio(c)),
        4,
    )


def lang_scores(c: Column) -> list[tuple[str, Column]]:
    """Per-language stopword-hit ratio (the n-gram-heuristic family)."""
    return [(lang, stopword_ratio(c, lang)) for lang in sorted(STOPWORDS)]


def lang_id(c: Column) -> Column:
    """Predicted language = argmax stopword ratio, ties → lexicographically
    first language, all-zero → 'und' (undetermined)."""
    scored = lang_scores(c)
    best_score: Column = F.greatest(*[s for _, s in scored])
    pred = F.lit("und")
    # Build reverse so earlier languages win ties via later when() override.
    for lang, score in reversed(scored):
        pred = F.when((best_score > 0) & (score == best_score), F.lit(lang)).otherwise(
            pred
        )
    return pred


def word_ngrams(c: Column, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined) — shingles for Jaccard/MinHash.

    Implemented as a single regex pass with a zero-width lookahead anchored
    at token boundaries (overlapping matches), NOT as a
    ``transform(sequence, i -> element_at(toks, i))`` lambda: expressions
    referenced inside a higher-order-function lambda are re-evaluated per
    element, so the lambda form re-tokenizes the whole document for every
    n-gram position — O(len²) per doc (measured 4.5x slower at sf0.1).
    The regex form is one linear scan and produces the identical gram set
    in the identical first-occurrence order."""
    norm = F.regexp_replace(F.lower(F.trim(c)), r"[ \t\n\x0B\f\r]+", " ")
    pat = r"(?=(?:^| )((?:\S+ ){%d}\S+))" % (n - 1)
    return F.array_distinct(F.regexp_extract_all(norm, F.lit(pat), 1))


def word_ngrams_all(c: Column, n: int = 2) -> Column:
    """ALL overlapping word n-grams in order (non-distinct — duplicate
    grams preserved, for repetition/frequency statistics). Same
    single-pass lookahead-regex construction as :func:`word_ngrams`."""
    norm = F.regexp_replace(F.lower(F.trim(c)), r"[ \t\n\x0B\f\r]+", " ")
    pat = r"(?=(?:^| )((?:\S+ ){%d}\S+))" % (n - 1)
    return F.regexp_extract_all(norm, F.lit(pat), 1)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two distinct-element arrays.

    |A∪B| = |A|+|B|−|A∩B| for sets, so one array_intersect suffices —
    array_union would do the same hash-set work a second time, and this
    sits in the innermost loop of every near-dup verify."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def token_stream(docs: DataFrame, name: str, *keys: str | Column) -> DataFrame:
    """The corpus token stream: ``keys`` plus one row per lower-cased
    whitespace token of ``docs.text``, named ``name``. A document with no
    tokens has no row."""
    return docs.select(*keys, F.explode(tokens(F.lower(F.col("text")))).alias(name))


def token_counts(docs: DataFrame) -> DataFrame:
    """(token, c): each token's count over the corpus token stream."""
    return token_stream(docs, "token").groupBy("token").agg(F.count("*").alias("c"))


def doc_token_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, ts): each document's distinct lower-cased tokens, sorted."""
    return docs.select(
        "doc_id",
        F.array_sort(F.array_distinct(tokens(F.lower(F.col("text"))))).alias("ts"),
    )


def cooccurrence_edges(
    sets: DataFrame, min_support: int, u: str = "u", v: str = "v", support: str = "support"
) -> DataFrame:
    """The token co-occurrence graph over ``doc_token_sets`` rows: one
    (u, v, support) edge per token pair u < v that shares at least
    ``min_support`` documents, support the number of such documents.
    Pairs are generated per document from its sorted token set (bounded
    by the per-doc distinct-token count squared, never a corpus
    self-join); only the pair count shuffles."""
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(ts, (x, i) ->"
                " transform(slice(ts, i + 2, size(ts)),"
                f" y -> struct(x AS {sql_name(u)}, y AS {sql_name(v)}))))"
            )
        ).alias("p")
    ).select(f"p.{u}", f"p.{v}")
    return (
        pairs.groupBy(u, v)
        .agg(F.count("*").alias(support))
        .filter(F.col(support) >= min_support)
    )


def edge_triangles(
    e: DataFrame, a: str, b: str, c: str, weight: str | None = None
) -> DataFrame:
    """Every triangle of the graph ``e`` (u, v) with u < v exactly once,
    in a < b < c orientation: the (a, b) edge joins the (b, c) edge on b
    and the (a, c) edge closes the triangle. With ``weight``, that column
    of the three edges rides along as s1 (a-b), s2 (b-c) and s3 (a-c).
    The vocabulary graph is small next to the corpus, so both joins
    broadcast."""

    def side(x: str, y: str, i: int) -> DataFrame:
        cols = [F.col("u").alias(x), F.col("v").alias(y)]
        if weight is not None:
            cols.append(F.col(weight).alias(f"s{i}"))
        return e.select(*cols)

    return (
        side(a, b, 1)
        .join(F.broadcast(side(b, c, 2)), b)
        .join(F.broadcast(side(a, c, 3)), [a, c])
    )


def unigram_lm_scores(docs: DataFrame, lm: DataFrame, n: Column, *keys: str) -> DataFrame:
    """The unigram-LM document score per ``keys`` group of ``docs``: the
    lower-cased whitespace tokens of ``text`` inner-join the LM ``lm``
    (token, c), where c is a token's corpus count and ``n`` the corpus
    token total (a literal, or a column of ``lm``). Each group gets
    n_tokens, its in-vocabulary token count, and score =
    round(-sum(log(c / n)) / count(*), 6), the mean negative log corpus
    probability of those tokens. Out-of-vocabulary tokens drop out, so a
    group with none has no row."""
    return (
        token_stream(docs, "token", *keys)
        .join(lm, "token")
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                -F.sum(F.log(F.col("c").cast("double") / n)) / F.count("*"), 6
            ).alias("score"),
        )
    )
