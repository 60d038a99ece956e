"""Text-analysis Column expressions for large-scale corpus processing.

Everything here is a pure Catalyst expression over built-in
``pyspark.sql.functions`` — no UDFs — so text statistics for a 100 TB corpus
run inside whole-stage codegen with zero Python workers.  Each expression has
an exact ANSI-SQL twin used by the DuckDB oracles in
``workloads/text_pipeline.py``; keep both in sync.

Extension surface beyond the reference (which has no text ops): language-ID,
quality scoring, token counting, fingerprinting — the text half of a
training-data pipeline (briefed in the build spec; SURVEY.md §7.1 step 8).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokenization contract (shared with every oracle): lowercase, split on
# non-alphanumeric runs, drop empties.  Simple enough to be byte-identical
# across engines (Java regex vs RE2 agree on this class).
_TOKEN_SPLIT = "[^a-z0-9]+"

# Tiny embedded stopword lists for the language-ID heuristic (public common
# function words).  Deliberately small: the heuristic is n-gram/stopword
# overlap scoring, not a trained model.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "you", "that"],
    "de": ["der", "die", "das", "und", "ist", "ich", "nicht", "ein", "mit", "zu"],
    "fr": ["le", "la", "les", "et", "est", "je", "pas", "un", "une", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "un", "una", "que", "por"],
    "it": ["il", "la", "e", "che", "di", "non", "un", "una", "per", "sono"],
}


def normalized(col: Column | str) -> Column:
    """Lowercased, non-alphanumerics collapsed to single spaces, trimmed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), _TOKEN_SPLIT, " "))


def tokens(col: Column | str) -> Column:
    """array<string> of normalized tokens.

    Kept as two regex-engine passes (regexp_replace-to-spaces + trim +
    split-on-space) after an r11 A/B REJECTED the "obvious" single-pass
    ``split(lower(c), _TOKEN_SPLIT)`` rewrite: outputs are bit-identical
    (parity-checked over the whole sf0.1 corpus plus null/empty/
    separator-only edge rows; recorded in OPTIMIZATION_r11.md), but walls were
    a wash on every tokenize-heavy bench query (0.9-1.1x, within noise)
    — the regex engine pass is not where these operators' time goes."""
    return F.filter(F.split(normalized(col), " "), lambda t: t != "")


def _toks(col: Column | str, toks: Column | None) -> Column:
    """Token source for the stats below.  Every stat accepts an optional
    pre-tokenized column: tokenization is the expensive sub-expression
    (regexp + split per call site), and Catalyst does not share it across
    separate expression trees.  Binding ``tokens(col)`` once in an earlier
    select and passing that column here was measured 2.3x faster on the
    composed curation projection at sf0.1."""
    return toks if toks is not None else tokens(col)


def token_count(col: Column | str, toks: Column | None = None) -> Column:
    return F.size(_toks(col, toks))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def distinct_token_ratio(col: Column | str, toks: Column | None = None) -> Column:
    """Type-token ratio — low values indicate repetitive/boilerplate text."""
    toks = _toks(col, toks)
    return F.when(
        F.size(toks) > 0,
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
    ).otherwise(F.lit(0.0))


def mean_token_length(col: Column | str, toks: Column | None = None) -> Column:
    toks = _toks(col, toks)
    total_chars = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(
        F.size(toks) > 0, total_chars.cast("double") / F.size(toks)
    ).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str, stopwords: list[str], toks: Column | None = None) -> Column:
    toks = _toks(col, toks)
    sw = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(
        F.size(toks) > 0, n_stop.cast("double") / F.size(toks)
    ).otherwise(F.lit(0.0))


def alpha_ratio(col: Column | str) -> Column:
    """Share of characters that are a-z after lowercasing (punct/digit-heavy
    text scores low)."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    n_alpha = F.length(F.regexp_replace(c, "[^a-z]", ""))
    return F.when(
        F.length(c) > 0, n_alpha.cast("double") / F.length(c)
    ).otherwise(F.lit(0.0))


def quality_score(
    col: Column | str,
    stopwords: list[str] | None = None,
    toks: Column | None = None,
) -> Column:
    """Deterministic heuristic quality score in [0,1]: mixture of length
    band, lexical diversity, alphabetic share and stopword presence — the
    usual cheap pre-filter before expensive pipeline stages."""
    sw = stopwords if stopwords is not None else LANG_STOPWORDS["en"]
    n_tok = token_count(col, toks).cast("double")
    length_band = F.when(n_tok < 5, n_tok / F.lit(10.0)).otherwise(
        F.least(F.lit(1.0), n_tok / F.lit(50.0))
    )
    return F.round(
        F.lit(0.3) * length_band
        + F.lit(0.3) * distinct_token_ratio(col, toks)
        + F.lit(0.2) * alpha_ratio(col)
        + F.lit(0.2) * F.least(F.lit(1.0), stopword_ratio(col, sw, toks) * 5),
        9,
    )


def lang_scores(col: Column | str, toks: Column | None = None) -> list[tuple[str, Column]]:
    """(lang, stopword-hit-count) per language, for the lang-ID argmax."""
    toks = _toks(col, toks)
    out = []
    for lang, words in sorted(LANG_STOPWORDS.items()):
        sw = F.array(*[F.lit(w) for w in words])
        out.append((lang, F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))))
    return out


def lang_id(col: Column | str, min_hits: int = 1, toks: Column | None = None) -> Column:
    """Argmax language by stopword hits; ties break lexicographically (the
    scores list is sorted); below ``min_hits`` → 'und'."""
    scores = lang_scores(col, toks)
    best = F.lit("und")
    best_score = F.lit(min_hits - 1)
    # Forward order + strict '>' ⇒ on equal scores the earliest (lexically
    # smallest) language sticks — the deterministic tie-break the oracle mirrors.
    for lang, score in scores:
        keep_new = score > best_score
        best = F.when(keep_new, F.lit(lang)).otherwise(best)
        best_score = F.when(keep_new, score).otherwise(best_score)
    return best


def content_fingerprint(col: Column | str, norm: Column | None = None) -> Column:
    """Exact-content fingerprint: md5 of the normalized text."""
    return F.md5(F.encode(norm if norm is not None else normalized(col), "utf-8"))


def bag_fingerprint(col: Column | str) -> Column:
    """Order-insensitive fingerprint: md5 over the sorted distinct token bag —
    catches shuffled/reordered copies exact dedup misses."""
    bag = F.array_join(F.array_sort(F.array_distinct(tokens(col))), " ")
    return F.md5(F.encode(bag, "utf-8"))


# ----------------------------------------------------------- PII handling
#
# Standard curation stage before text enters a training corpus: detect and
# redact personally identifiable information.  Regex-only (the cheap first
# pass every pipeline runs at full scale; an NER pass is a model-inference
# stage downstream of this) and pure Catalyst expressions — codegen'd,
# zero Python.  NOTE: these are Java-regex patterns — the boundary
# lookarounds ((?<!...)/(?!...)) are NOT RE2-portable (Go, BigQuery,
# DuckDB); an RE2 port must replace them with captured boundary classes.
# Dict order is the redaction order: email first (so phone-like digit runs
# inside an email local part are never half-eaten), then ipv4/ssn (more
# specific digit shapes), phone last.
_PII_PATTERNS: dict[str, str] = {
    # local@domain.tld — conservative: no quoted locals / IP domains
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # IPv4 (loose: 1-3 digit octets; scrubbing favors recall over precision)
    "ipv4": r"(?<![0-9.])(?:[0-9]{1,3}\.){3}[0-9]{1,3}(?![0-9.])",
    # US-SSN-shaped 3-2-4 digit groups with dashes
    "ssn": r"(?<![0-9-])[0-9]{3}-[0-9]{2}-[0-9]{4}(?![0-9-])",
    # international-ish phone numbers: optional +CC, separators, 7+ digits.
    # Anchored on a non-digit boundary so it does not eat id/price digits;
    # the leading negative lookahead rejects bare dotted-quads (IPv4 shapes
    # like 192.168.100.200) so those are never mislabeled as phones or
    # double-counted — dotted phones with a 4-digit tail (555.123.4567)
    # still match.
    "phone": r"(?<![0-9A-Za-z])(?!(?:[0-9]{1,3}\.){3}[0-9]{1,3}(?![0-9.]))\+?[0-9]{1,3}[-. (]{0,2}[0-9]{3}[-. )]{0,2}[0-9]{3}[-. ]?[0-9]{2,4}(?![0-9])",
}


def pii_counts(col: Column | str) -> Column:
    """struct<email,ipv4,ssn,phone: int> of PII match counts per document —
    the audit/reporting side of scrubbing (e.g. quarantine docs whose count
    exceeds a policy threshold instead of redacting them).  NULL text counts
    as zero matches (``size`` of a NULL array is NULL under Spark's default
    sizeOfNull semantics, which would silently drop null-text docs from both
    sides of a ``counts.email > threshold`` policy filter — coalesced here)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.struct(
        *[
            F.coalesce(F.size(F.regexp_extract_all(c, F.lit(p), 0)), F.lit(0)).alias(kind)
            for kind, p in _PII_PATTERNS.items()
        ]
    )


def redact_pii(col: Column | str, token_format: str = "<{kind}>") -> Column:
    """Replace every PII match with a typed placeholder token (``<email>``,
    ``<phone>``, ...).  Chained ``regexp_replace`` — one codegen'd projection,
    order fixed by ``_PII_PATTERNS`` (email first so phone-like digit runs
    inside an email local part are not half-eaten; ipv4/ssn before phone so
    the looser phone shape never claims their spans)."""
    c = F.col(col) if isinstance(col, str) else col
    for kind, pattern in _PII_PATTERNS.items():
        c = F.regexp_replace(c, pattern, token_format.format(kind=kind))
    return c


# BPE-ish subword pre-tokenization: letter runs capped at 12 chars (long
# words split into chunks like subword vocabularies do), single digits
# (GPT-style digit splitting), single punctuation marks.  The pattern uses
# only constructs Java regex and RE2 interpret identically, so the DuckDB
# twin is byte-identical.
_SUBWORD_RE = "[a-zA-Z]{1,12}|[0-9]|[^a-zA-Z0-9\\s]"


def subword_tokens(col: Column | str) -> Column:
    """array<string> of BPE-ish subword pieces (see ``_SUBWORD_RE``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(_SUBWORD_RE), 0)


def subword_count(col: Column | str) -> Column:
    """Token-count estimate for budgeting/pricing a training corpus —
    closer to a real tokenizer's count than whitespace words."""
    return F.size(subword_tokens(col))


# ------------------------------------------------------ repetition signals
#
# Gopher/RefinedWeb-style repetitiousness filters: boilerplate and
# low-quality generated text shows up as duplicated lines and a dominant
# repeated n-gram.  Pure expressions; the top-bigram count is an
# O(b log b) sort + O(b) fold, not a pairwise count.


def duplicate_line_fraction(col: Column | str) -> Column:
    """Fraction of lines that are duplicates of an earlier line (0 for
    docs with ≤1 line).  High values indicate templated/boilerplate text."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.filter(
        F.transform(F.split(c, "\n"), lambda l: F.trim(l)), lambda l: l != ""
    )
    n = F.size(lines)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(lines))).cast("double") / n
    ).otherwise(F.lit(0.0))


def top_bigram_fraction(col: Column | str, toks: Column | None = None) -> Column:
    """Fraction of tokens covered by the single most frequent word bigram —
    ``2 × max_bigram_count / n_tokens`` (0 when fewer than 2 tokens).
    Repetitive generations score near 1.  Mode-of-bigrams without a
    pairwise count: sort the bigram array, then one fold tracking the
    longest run of equal adjacent values."""
    toks_in = _toks(col, toks)

    # Bind the token array once (the module's F.array(...)[0] idiom): a
    # raw-column caller would otherwise re-run the whole tokenization per
    # BIGRAM inside the transform lambda (no CSE into lambda bodies).
    def build(tk: Column) -> Column:
        n = F.size(tk)
        grams = F.array_sort(
            F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(tk, i), F.element_at(tk, i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        )
        acc0 = F.named_struct(
            F.lit("run"), F.lit(0),
            F.lit("best"), F.lit(0),
            F.lit("prev"), F.lit(None).cast("string"),
        )

        def step(acc: Column, x: Column) -> Column:
            run = F.when(
                x == acc.getField("prev"), acc.getField("run") + 1
            ).otherwise(F.lit(1))
            return F.named_struct(
                F.lit("run"), run,
                F.lit("best"), F.greatest(acc.getField("best"), run),
                F.lit("prev"), x,
            )

        best = F.aggregate(grams, acc0, step, lambda acc: acc.getField("best"))
        return F.when(
            n >= 2, F.least(F.lit(1.0), F.lit(2.0) * best / n)
        ).otherwise(F.lit(0.0))

    return F.get(F.transform(F.array(toks_in), build), 0)


def token_chunks(
    col: Column | str,
    chunk_tokens: int = 128,
    overlap: int = 16,
    toks: Column | None = None,
) -> Column:
    """array<struct<chunk_idx:int, chunk_text:string, n_tokens:int>> —
    fixed-size token windows with overlap, the standard long-document →
    training-sequence split (each chunk starts ``chunk_tokens − overlap``
    tokens after the previous, so consecutive chunks share ``overlap``
    tokens of context).  Pure collection expressions — ``explode`` the
    result for one row per chunk; an empty document yields no chunks.

    The chunk text is the space-join of normalized tokens (tokenizer
    contract at the top of this module), which is what a downstream
    tokenizer would consume; character offsets are deliberately not
    tracked — chunking happens after normalization at corpus scale.
    """
    toks = _toks(col, toks)
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap ({overlap}) must be < chunk_tokens ({chunk_tokens})")
    stride = chunk_tokens - overlap
    # number of windows covering n tokens: 1 + ceil(max(n - chunk, 0)/stride)
    n = F.size(toks)
    extra = F.greatest(n - F.lit(chunk_tokens), F.lit(0))
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.lit(1) + F.ceil(extra / F.lit(stride)).cast("int")
    )
    # let-bind toks via single-element-array transform (same trick as
    # winnowing_fingerprints) so the token array is evaluated once per row
    def build(bound: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), n_chunks - F.lit(1)),
            lambda i: F.struct(
                i.cast("int").alias("chunk_idx"),
                F.array_join(
                    F.slice(bound, i * stride + 1, chunk_tokens), " "
                ).alias("chunk_text"),
                F.size(F.slice(bound, i * stride + 1, chunk_tokens)).alias("n_tokens"),
            ),
        )

    return F.when(n_chunks > 0, F.get(F.transform(F.array(toks), build), 0)).otherwise(
        F.array().cast(
            "array<struct<chunk_idx:int,chunk_text:string,n_tokens:int>>"
        )
    )


def winnowing_fingerprints(col: Column | str, k: int = 8, w: int = 4) -> Column:
    """Rolling-hash document fingerprints by winnowing (Schleimer, Wilkerson,
    Aiken — the MOSS algorithm): hash every k-char gram of the normalized
    text, then keep the minimum hash of each window of ``w`` consecutive
    grams.  Near-identical documents share most selected fingerprints even
    under edits, insertions, and reordering of distant parts.

    Pure collection expressions (sequence → transform → slice → array_min) —
    no UDF, no shuffle; the per-row cost is O(len·w).  Hashes are 12-hex-char
    md5 prefixes compared lexicographically, which both Spark and DuckDB
    order identically (the oracle twin matches bit-for-bit).  Returns the
    sorted distinct fingerprint set.

    Expression-shape subtlety that is the difference between O(len·w) and
    O(len²·k): a Column has no let-binding, so naively referencing the grams
    array inside the window lambda re-evaluates the ENTIRE gram-hash array
    for every window (measured minutes per 500 docs).  Each stage is
    therefore let-bound by wrapping it in a single-element array and
    ``transform``-ing over it — the higher-order function evaluates its input
    array once per row and binds the VALUE to the lambda variable, giving
    ``let norm = … in let grams = … in select``.
    """

    def select_windows(grams: Column) -> Column:
        window_count = F.greatest(F.size(grams) - F.lit(w - 1), F.lit(1))
        selected = F.transform(
            F.sequence(F.lit(1), window_count),
            lambda j: F.array_min(F.slice(grams, j, w)),
        )
        return F.array_sort(F.array_distinct(selected))

    def gram_hashes(norm: Column) -> Column:
        gram_count = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))
        grams = F.transform(
            F.sequence(F.lit(1), gram_count),
            lambda i: F.substring(
                F.md5(F.encode(norm.substr(i, F.lit(k)), "utf-8")), 1, 12
            ),
        )
        return F.get(F.transform(F.array(grams), select_windows), 0)

    return F.get(F.transform(F.array(normalized(col)), gram_hashes), 0)
