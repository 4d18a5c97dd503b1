"""Text-analysis expressions for training-data pipelines — all pure
Catalyst (JVM-side, whole-stage codegen), no UDFs.

These extend the engine beyond the reference (which has only the three
blocking attributes) to the document-scale operations a Common-Crawl-style
corpus needs: token stats, quality scoring, language ID heuristics, and
content fingerprinting. Every expression here has an exact ANSI-SQL
equivalent (used as the DuckDB oracle in __spark_entry__.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small fixed stopword lists for the n-gram/stopword language heuristic.
EN_STOPWORDS = (
    "the", "of", "and", "to", "a", "in", "is", "it", "you", "that", "was",
    "for", "on", "are", "with", "as", "at", "be", "this", "have", "from",
)

FINGERPRINT_MOD = 2147483647  # 2^31 - 1 (Mersenne prime)


def tokens_expr(text: Column) -> Column:
    """Whitespace tokens; empty/blank text -> empty array (not [''])."""
    return F.when(
        F.length(F.trim(text)) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(text), r"\s+"))


def token_count_expr(text: Column) -> Column:
    return F.size(tokens_expr(text))


# GPT-2-style pre-tokenizer approximation, restricted to syntax shared by
# Java regex (Spark) and RE2 (DuckDB): common English contractions, then
# maximal letter / digit / non-space-punctuation runs. The real BPE merge
# table then splits within these chunks, so this count is the standard
# cheap upper-anchor for "how many tokens will the tokenizer emit".
# Whitespace is an EXPLICIT class, not \s: Java's \s includes \x0B while
# RE2's does not, and the driver oracle runs this same pattern in DuckDB.
_WS = " \\t\\n\\x0B\\f\\r"
BPE_TOKEN_RE = rf"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^{_WS}A-Za-z0-9']+"


def bpe_token_count_expr(text: Column) -> Column:
    """BPE-ish token count (pre-tokenizer chunks, see BPE_TOKEN_RE).

    SQL twin (DuckDB): ``len(regexp_extract_all(text, <re>))``."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0)))


def punct_ratio_expr(text: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    stripped = F.regexp_replace(text, r"[A-Za-z0-9\s]", "")
    return F.when(F.length(text) > 0, F.length(stripped) / F.length(text)).otherwise(
        F.lit(0.0)
    )


def digit_ratio_expr(text: Column) -> Column:
    digits = F.regexp_replace(text, r"[^0-9]", "")
    return F.when(F.length(text) > 0, F.length(digits) / F.length(text)).otherwise(
        F.lit(0.0)
    )


def stopword_ratio_expr(text: Column, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    toks = tokens_expr(F.lower(text))
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def quality_score_expr(text: Column) -> Column:
    """Heuristic [0,1] quality: long enough, low punctuation, some stopwords.

    score = least(1, n_tokens/20) * (1 - punct_ratio) — deliberately simple
    and exactly SQL-reproducible.
    """
    n = token_count_expr(text)
    return F.least(F.lit(1.0), n / F.lit(20.0)) * (F.lit(1.0) - punct_ratio_expr(text))


def langid_expr(text: Column, threshold: float = 0.08) -> Column:
    """'en' when the English stopword ratio clears the threshold else 'unk'."""
    return F.when(
        stopword_ratio_expr(text) >= F.lit(threshold), F.lit("en")
    ).otherwise(F.lit("unk"))


def fingerprint_expr(text: Column) -> Column:
    """Polynomial rolling hash of the ASCII codes: fold(acc*31 + code) mod p.

    Deterministic content fingerprint with an exact SQL twin (list_reduce in
    DuckDB). ASCII inputs only (the corpus text is ASCII word-salad).
    """
    codes = F.transform(
        F.sequence(F.lit(1), F.length(text)),
        lambda i: F.ascii(text.substr(i, F.lit(1))).cast("bigint"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * 31 + c) % F.lit(FINGERPRINT_MOD),
    )


def qgrams_expr(text: Column, q: int) -> Column:
    """All overlapping character q-grams (array<string>); shorter text -> []."""
    return F.when(F.length(text) < q, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(text) - (q - 1)),
            lambda i: text.substr(i, F.lit(q)),
        )
    )


def top_bigram_fraction_expr(text: Column) -> Column:
    """Fraction of word bigrams taken by the single most frequent bigram —
    the Gopher-style within-document repetition signal (boilerplate and
    template pages score high). Pure Catalyst: distinct bigrams scored by
    a filter-count — O(distinct x total) per doc, fine at document length;
    docs with < 2 tokens score 0.0. SQL twin: per-doc bigram GROUP BY +
    max(count)/sum(count).
    """
    bgs = bigrams_expr(text)
    top = F.array_max(
        F.transform(
            F.array_distinct(bgs),
            lambda d: F.size(F.filter(bgs, lambda b: b == d)),
        )
    )
    return F.when(F.size(bgs) > 0, top / F.size(bgs)).otherwise(F.lit(0.0))


def dup_line_fraction_expr(text: Column) -> Column:
    """Fraction of non-blank lines that are duplicates of an earlier line
    (1 - distinct/total) — the other standard repetition filter for web
    text (navigation chrome, repeated footers). Blank/whitespace-only
    lines are ignored; 0 lines -> 0.0.
    """
    lines = F.filter(
        F.transform(F.split(text, r"\n"), lambda ln: F.trim(ln)),
        lambda ln: F.length(ln) > 0,
    )
    n = F.size(lines)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(lines))) / n
    ).otherwise(F.lit(0.0))


# PII patterns — portable across Java regex (Spark) and RE2 (DuckDB):
# no lookarounds, no backreferences.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_counts_expr(text: Column) -> Column:
    """struct(n_emails, n_phones, n_ips) — occurrence counts of the three
    classic scrub targets. SQL twin: len(regexp_extract_all(...))."""
    return F.struct(
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), F.lit(0))).alias("n_phones"),
        F.size(F.regexp_extract_all(text, F.lit(IPV4_RE), F.lit(0))).alias("n_ips"),
    )


def scrub_pii_expr(text: Column) -> Column:
    """Replace emails/phones/IPv4s with typed placeholder tokens — the
    standard redaction pass a training corpus runs before tokenization.
    Order matters: emails first (an email never contains a phone match,
    but scrubbing IPs first could split an email's host)."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PHONE_RE, "<PHONE>")
    return F.regexp_replace(out, IPV4_RE, "<IP>")


# Unicode hygiene — web crawls mix composed and decomposed forms of the
# same glyph ("é" vs "e"+U+0301), which silently breaks exact dedup,
# q-gram hashing, and the byte-identical-extract invariant. Standard
# fix: NFC-normalize before any hashing, and scrub the C0 (except
# whitespace) + DEL control bytes that survive HTML extraction (keep
# \t \n \x0B \f \r — the tokenizer's whitespace class).
CONTROL_CHARS_RE = r"[\x00-\x08\x0E-\x1F\x7F]"


def scrub_control_chars_expr(text: Column) -> Column:
    """Drop non-whitespace C0 controls + DEL (pure Catalyst; DuckDB twin
    is the identical class with regexp_replace(..., 'g'))."""
    return F.regexp_replace(text, CONTROL_CHARS_RE, "")


def nfc_normalize_udf():
    """Arrow-batched NFC normalization (canonical composition).

    Catalyst has no ICU normalizer, so this is one of the engine's few
    deliberate Python paths — a scalar pandas UDF over Arrow batches
    (pandas ``Series.str.normalize``), never row-at-a-time Python. NFC
    is idempotent and byte-shrinking-or-equal on web text, so running
    it early keeps every downstream hash (CLK q-grams, MinHash
    shingles, line/gram dedup) form-insensitive. DuckDB's
    ``nfc_normalize`` (utf8proc) is the independent value oracle; both
    implement Unicode canonical composition, and the parity is
    value-checked end-to-end by the ``text_nfc_normalize`` query.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):
        return s.str.normalize("NFC")

    return _nfc


def gopher_signals_expr(page: Column) -> Column:
    """The Gopher quality-filter ruleset's document signals (Rae et al.
    2021, "Scaling Language Models", App. A1.1) as one pure-Catalyst
    struct — the published heuristics a pre-training corpus filters on,
    complementing the length/stopword stats in ``quality`` and the
    repetition fractions above:

    * ``mean_word_len``    — mean word length (rule: keep 3..10)
    * ``frac_alpha_words`` — words containing an alphabetic char
      (rule: >= 0.8)
    * ``sym_ratio``        — '#' or ellipsis symbols per word
      (rule: <= 0.1)
    * ``frac_bullet_lines``   — lines starting with a bullet
      (rule: <= 0.9)
    * ``frac_ellipsis_lines`` — lines ending with an ellipsis
      (rule: <= 0.3)

    All ratios are 0.0 on empty input; rounded to 4 places so the
    DuckDB twin compares exactly. Zero UDFs — every signal is split /
    filter / aggregate over the page string, so the pass stays inside
    whole-stage codegen at corpus scale.
    """
    words = tokens_expr(page)
    nw = F.size(words)
    lines = F.split(page, "\n", -1)
    nl = F.size(lines)
    total_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    n_sym = F.regexp_count(page, F.lit(r"[#…]|\.\.\.")).cast("long")
    n_bullet = F.size(F.filter(lines, lambda l: F.ltrim(l).rlike(r"^[-*•]")))
    n_ellipsis = F.size(
        F.filter(lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))
    )
    zero = F.lit(0.0)
    return F.struct(
        F.round(F.when(nw > 0, total_chars / nw).otherwise(zero), 4).alias(
            "mean_word_len"
        ),
        F.round(F.when(nw > 0, n_alpha / nw).otherwise(zero), 4).alias(
            "frac_alpha_words"
        ),
        F.round(F.when(nw > 0, n_sym / nw).otherwise(zero), 4).alias("sym_ratio"),
        F.round(F.when(nl > 0, n_bullet / nl).otherwise(zero), 4).alias(
            "frac_bullet_lines"
        ),
        F.round(F.when(nl > 0, n_ellipsis / nl).otherwise(zero), 4).alias(
            "frac_ellipsis_lines"
        ),
    )


def bigrams_expr(text: Column) -> Column:
    """Consecutive whitespace-token bigrams as 'w1 w2' strings (empty
    array for texts with < 2 tokens) — the corpus-statistics twin of the
    q-gram/shingle expressions above, built with slice/transform so it
    stays inside codegen."""
    toks = tokens_expr(text)
    return F.when(F.size(toks) < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        )
    )
