"""Text functions.

Re-expresses the reference's normalization/analyzer surface as column
expressions (SURVEY §2.7 F1-F16, §2.8 T1/T15) plus the text-analysis
operators an LLM-data pipeline needs (token counting, quality scoring,
language ID, fingerprinting).

Design rule: the hot path is built-in expressions only (whole-stage
codegen). The single exception, ``ascii_fold``, is an Arrow-batched pandas
UDF because Spark has no transliteration built-in.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# Greek → Latin name transliteration, the reference's AbstractNormalizer
# table (/root/reference/modules/NLP.py:165-219). Order-independent single
# pass via translate is impossible (multi-char outputs), so one chained
# regexp_replace per letter — constant 48 ops, still codegen'd JVM-side.
GREEK_MAP = {
    "α": "alpha", "β": "beta", "γ": "gamma", "δ": "delta", "ε": "epsilon",
    "ζ": "zeta", "η": "eta", "θ": "theta", "ι": "iota", "κ": "kappa",
    "λ": "lambda", "μ": "mu", "ν": "nu", "ξ": "xi", "ο": "omicron",
    "π": "pi", "ρ": "rho", "σ": "sigma", "ς": "sigma", "τ": "tau",
    "υ": "upsilon", "φ": "phi", "χ": "chi", "ψ": "psi", "ω": "omega",
    "Α": "Alpha", "Β": "Beta", "Γ": "Gamma", "Δ": "Delta", "Ε": "Epsilon",
    "Ζ": "Zeta", "Η": "Eta", "Θ": "Theta", "Ι": "Iota", "Κ": "Kappa",
    "Λ": "Lambda", "Μ": "Mu", "Ν": "Nu", "Ξ": "Xi", "Ο": "Omicron",
    "Π": "Pi", "Ρ": "Rho", "Σ": "Sigma", "Τ": "Tau", "Υ": "Upsilon",
    "Φ": "Phi", "Χ": "Chi", "Ψ": "Psi", "Ω": "Omega",
}

# Two stop tiers: the compact Lucene-core set drives the cheap heuristics
# (quality scoring, language ID — they want high-frequency function words
# only), while the analyzer uses the full ES-custom-analyzer-class list
# from kernels/corpora (the reference embeds ~770 words in
# es-mapping/publication.json:9-778).
ENGLISH_STOPWORDS = (
    "a an and are as at be but by for if in into is it no not of on or "
    "such that the their then there these they this to was will with"
).split()

from ..kernels.corpora import ES_ANALYZER_STOP_WORDS as _ES_STOPS  # noqa: E402

ANALYZER_STOP_WORDS = sorted(_ES_STOPS)

_STOPWORDS_BY_LANG = {
    "en": ENGLISH_STOPWORDS,
    "es": "el la los las de que y en un una es por con para no se su al lo como".split(),
    "fr": "le la les de des du que et en un une est pour avec ne pas au aux ce qui".split(),
    "de": "der die das und ist von zu mit den dem ein eine nicht auf für als auch es".split(),
}


def transliterate_greek(col: Column) -> Column:
    """F1: α→alpha … Ω→Omega (NLP.py:165-219)."""
    out = col
    for greek, latin in GREEK_MAP.items():
        out = F.regexp_replace(out, greek, latin)
    return out


def collapse_whitespace(col: Column) -> Column:
    """F2: re.sub(r"\\s\\s+", " ") (NLP.py:222)."""
    return F.regexp_replace(col, r"\s\s+", " ")


def ascii_fold_pandas(s: pd.Series) -> pd.Series:
    """NFKD-decompose and strip combining marks — the unidecode-lite used
    for matching. Pure function, reused by the kernels."""
    return s.map(
        lambda t: None
        if t is None
        else unicodedata.normalize("NFKD", t).encode("ascii", "ignore").decode("ascii")
    )


# F3: no built-in transliteration — Arrow-batched pandas UDF (slow path,
# only applied where the reference applies unidecode: pre-NLP normalize).
ascii_fold = F.pandas_udf(ascii_fold_pandas, StringType())


def normalize_abstract(col: Column, fold_ascii: bool = False) -> Column:
    """T1 AbstractNormalizer.normalize (NLP.py:164-223): greek→latin,
    collapse whitespace[, ascii-fold]. ``fold_ascii=False`` keeps the whole
    expression JVM-side; the NLP kernels fold in-kernel instead."""
    out = collapse_whitespace(transliterate_greek(col))
    return ascii_fold(out) if fold_ascii else out


def tokenize(col: Column) -> Column:
    """Analyzer tokenization (T15 direction): lowercase, split on
    non-alphanumerics, drop empties. array<string>."""
    return F.filter(F.split(F.lower(col), r"[^a-z0-9]+"), lambda t: t != "")


def analyze_english(col: Column, stopwords: list[str] | None = None) -> Column:
    """T15, the ES ``english`` analyzer contract
    (es-mapping/publication.json:797-807): tokenize → possessive-stem →
    stop-filter → minimal plural stem. All built-ins. The default stop
    list is the full analyzer corpus (~700 words); membership uses
    ``isin`` so Catalyst compiles an O(1) InSet hash probe per token, not
    a linear array scan.
    """
    stops = list(stopwords or ANALYZER_STOP_WORDS)
    toks = F.filter(F.split(F.lower(col), r"[^a-z0-9']+"), lambda t: t != "")
    toks = F.transform(toks, lambda t: F.regexp_replace(t, r"'s$|'$", ""))
    toks = F.filter(toks, lambda t: (t != "") & ~t.isin(*stops))
    # EnglishMinimalStemFilter: strip trailing 's' except 'ss'/'us'/'is'
    # endings and short tokens (publication.json:793-795 "minimal_english").
    return F.transform(
        toks,
        lambda t: F.when(
            t.rlike("^.{3,}s$") & ~t.rlike("(ss|us|is)$"),
            F.regexp_replace(t, "s$", ""),
        ).otherwise(t),
    )


def token_count(col: Column) -> Column:
    """Whitespace-ish token count — the cheap length signal for quality
    filters and shard planning."""
    return F.size(tokenize(col))


def quality_score(col: Column) -> Column:
    """Composite [0,1] document-quality heuristic: penalize extreme
    length, high punctuation ratio, and stopword-free text (classic
    pretraining-filter features). Deterministic, built-ins only."""
    length = F.length(col)
    words = tokenize(col)
    n_words = F.size(words)
    stops = F.array(*[F.lit(s) for s in ENGLISH_STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stops, w)))
    punct = F.length(F.regexp_replace(col, r"[^!-/:-@\[-`{-~]", ""))
    len_ok = F.when((length >= 64) & (length <= 20000), F.lit(1.0)).otherwise(F.lit(0.3))
    punct_ok = F.when(punct / F.greatest(length, F.lit(1)) < 0.2, F.lit(1.0)).otherwise(F.lit(0.5))
    stop_ok = F.when(n_stop / F.greatest(n_words, F.lit(1)) > 0.05, F.lit(1.0)).otherwise(F.lit(0.6))
    # floor-based rounding: bit-identical across engines (see registry.pround)
    return F.floor(len_ok * punct_ok * stop_ok * 1e6 + F.lit(0.5)) / 1e6


def lang_id(col: Column) -> Column:
    """N-gram-free language ID heuristic: score text by stopword hits per
    language, argmax with a deterministic tie order (en > es > fr > de),
    'und' when nothing hits. Built-ins only (map-side, no shuffle)."""
    words = tokenize(col)

    def _hits(stopwords: list[str]) -> Column:
        # NB: the filter lambda must stay single-argument — a 2-arg lambda
        # is interpreted by Spark as (element, index).
        stop_arr = F.array(*[F.lit(s) for s in stopwords])
        return F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))

    # argmax by hits with deterministic tie order: take max hits, then the
    # first language (en > es > fr > de) reaching it via chained whens.
    hit_cols = [_hits(_STOPWORDS_BY_LANG[lang]) for lang in ("en", "es", "fr", "de")]
    best = F.greatest(*hit_cols)
    out = F.when(best <= 0, F.lit("und"))
    for (lang, s) in zip(("en", "es", "fr", "de"), hit_cols):
        out = out.when(s == best, F.lit(lang))
    return out


def reference_pair(left: Column, right: Column) -> Column:
    """F9: the co-occurrence pair token ``subjRef|objRef`` with spaces
    underscored (main.py:624-633)."""
    und = lambda c: F.regexp_replace(c, " ", "_")  # noqa: E731
    return F.concat_ws("|", und(left), und(right))


def split_title_abstract(col: Column) -> Column:
    """F8: ``tagged_text.partition('. ')`` (main.py:673) → struct(title,
    abstract). First '. ' splits; no '. ' → whole text is the title."""
    parts = F.split(col, r"\. ", 2)
    return F.struct(
        F.element_at(parts, 1).alias("title"),
        F.when(F.size(parts) > 1, F.element_at(parts, 2)).otherwise(F.lit("")).alias("abstract"),
    )


def uri_tail(col: Column) -> Column:
    """F11: ``ref.split('/')[-1]`` (NLP.py:779-781)."""
    return F.substring_index(col, "/", -1)


# GPT-2-style pre-tokenizer pattern, lookahead-free so the same regex
# runs under Java (Spark) and RE2 (DuckDB oracle): contraction suffixes,
# letter runs, digit runs, non-space symbol runs. Alternation order
# matters (leftmost-first in both engines): contractions before letters.
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)|\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+"


def bpe_tokens(col: Column) -> Column:
    """BPE-ish pre-tokens (the merge step needs a learned vocab — this is
    the standard regex *pre*-tokenization whose count tracks real BPE
    token counts within ~15% on English text)."""
    return F.regexp_extract_all(col, F.lit(BPE_SPLIT_RE), 0)


def count_bpe_tokens(col: Column) -> Column:
    return F.size(bpe_tokens(col))
