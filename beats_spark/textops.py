"""Text analysis for training-data curation: language ID, quality scoring,
token counting, document fingerprinting.

Everything is built-in Column expressions (JVM, whole-stage codegen) so the
identical logic renders to DuckDB SQL for the correctness oracle — see
`*_sql` companions. No Python in the hot path.

This module says once, for every engine, what whitespace, a token, a word
n-gram and normalized text are: `_WS` is the one whitespace class, and
`tokens`, `normalize_text` and `word_ngrams` each sit beside their DuckDB
twin (`tokens_sql`, `normalize_text_sql`, `word_ngrams_sql`), which every
oracle calls instead of spelling the unit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beats_spark.scale import truncate_lineage

# tiny per-language stopword banks (public common-word lists); the heuristic
# is argmax of distinct-stopword hits, ties broken by language code order
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "with", "for", "on"],
    "de": ["der", "die", "und", "das", "ist", "mit", "für", "auf", "ein", "nicht"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "et", "les", "des", "un", "est", "pour", "que", "dans"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "人", "这"],
}

# The one whitespace class of every text unit, in every engine: exactly the
# characters Java's `\s` matches, spelled out because RE2's `\s` lacks \x0B
# (and Java's `\v` is wider). Spark gets it through the Column API only: its
# SQL parser would turn `\x` into `x` inside a string literal.
_WS_CHARS = r"\t\n\x0B\f\r "
_WS = f"[{_WS_CHARS}]+"
# BPE-ish token regex: runs of letters, runs of digits, or single
# punctuation — the common pre-tokenizer shape
BPE_TOKEN_RE = rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_WS_CHARS}]"
_PUNCT_RE = rf"[^\w{_WS_CHARS}]"


def normalize_text(col: Column) -> Column:
    """Canonical text: lowercased, whitespace runs collapsed to one space,
    trimmed — the exact-dedup key and the char-shingle input."""
    return F.trim(F.regexp_replace(F.lower(col), _WS, " "))


def normalize_text_sql(expr: str) -> str:
    """DuckDB twin of `normalize_text`. `trim(x, ' ')` because DuckDB's bare
    trim also strips NBSP and the other Unicode space separators."""
    return f"trim(regexp_replace(lower({expr}), '{_WS}', ' ', 'g'), ' ')"


def tokens(col: Column) -> Column:
    """Whitespace tokens of the lowercased, trimmed text — the one word
    tokenizer of dedup, sampling, the text filters and the hash kernel."""
    return F.split(F.trim(F.lower(col)), _WS)


def tokens_sql(expr: str) -> str:
    """DuckDB twin of `tokens` (space-only trim, as in `normalize_text_sql`)."""
    return f"regexp_split_to_array(trim(lower({expr}), ' '), '{_WS}')"


def word_ngrams(toks: Column, n: int, guarded: bool = False) -> Column:
    """The word n-grams of a token array, in order and with repeats (callers
    that want a set apply `array_distinct`), each joined with single spaces.
    A run shorter than n tokens gives one gram of the whole run, or none
    with `guarded`. Pass a materialized column: the lambda reads it once
    per gram."""
    def grams(last: Column) -> Column:
        return F.transform(F.sequence(F.lit(1), last),
                           lambda i: F.concat_ws(" ", F.slice(toks, i, n)))

    if guarded:  # sequence(1, 0) would count down, so the guard comes first
        return F.when(
            F.size(toks) >= n, grams(F.size(toks) - (n - 1))
        ).otherwise(F.array())
    return grams(F.greatest(F.size(toks) - (n - 1), F.lit(1)))


def word_ngrams_sql(toks: str, n: int, guarded: bool) -> str:
    """DuckDB twin of `word_ngrams` over a token-list column name. NULL
    tokens give `['']` (or none with `guarded`), as `concat_ws` does."""
    return (
        f"list_transform(range(1, greatest(len({toks}) - {n - 1},"
        f" {0 if guarded else 1}) + 1),"
        f" i -> coalesce(array_to_string({toks}[i:i+{n - 1}], ' '), ''))"
    )


def token_count(df: DataFrame, text_col: str = "text",
                target: str = "n_tokens") -> DataFrame:
    """Whitespace token count."""
    return df.withColumn(
        target,
        F.when(F.trim(F.col(text_col)) == "", 0).otherwise(
            F.size(tokens(F.col(text_col)))
        ),
    )


def token_count_sql(text_col: str) -> str:
    return (
        f"CASE WHEN trim({text_col}, ' ') = '' THEN 0 ELSE "
        f"len({tokens_sql(text_col)}) END"
    )


def bpe_token_count(df: DataFrame) -> DataFrame:
    """Count of BPE-ish pre-tokens via regexp_count (letter runs, digit
    runs, single punctuation)."""
    return df.withColumn(
        "n_bpe_tokens", F.regexp_count(F.col("text"), F.lit(BPE_TOKEN_RE))
    )


def bpe_token_count_sql() -> str:
    return f"len(regexp_extract_all(text, '{BPE_TOKEN_RE}'))"


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio / mean-word-length
    features + a composite quality score in [0,1]."""
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tok = F.size(tokens(c))
    n_punct = F.regexp_count(c, F.lit(_PUNCT_RE))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(tokens(c)),
            F.array(*[F.lit(w) for w in STOPWORDS["en"]]),
        )
    )
    out = (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("n_tokens", n_tok)
        .withColumn("punct_ratio", F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn("stopword_hits", n_stop)
        .withColumn(
            "mean_word_len",
            F.round((n_chars - n_tok + 1) / F.greatest(n_tok, F.lit(1)), 6),
        )
    )
    # composite: reasonable length, some stopwords, low punctuation
    score = (
        F.least(F.col("n_tokens") / 20.0, F.lit(1.0)) * 0.4
        + F.least(F.col("stopword_hits") / 5.0, F.lit(1.0)) * 0.4
        + (1.0 - F.least(F.col("punct_ratio") * 10.0, F.lit(1.0))) * 0.2
    )
    return out.withColumn("quality_score", F.round(score, 6))


def quality_features_sql(text_col: str) -> dict[str, str]:
    """DuckDB fragments computing the identical features."""
    toks = tokens_sql(text_col)
    n_chars = f"length({text_col})"
    n_tok = f"len({toks})"
    n_punct = f"len(regexp_extract_all({text_col}, '{_PUNCT_RE}'))"
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    n_stop = f"len(list_intersect(list_distinct({toks}), [{stop_list}]))"
    return {
        "n_chars_calc": n_chars,
        "n_tokens": n_tok,
        "punct_ratio": f"round({n_punct} / greatest({n_chars}, 1), 6)",
        "stopword_hits": n_stop,
        "mean_word_len": f"round(({n_chars} - {n_tok} + 1) / greatest({n_tok}, 1), 6)",
        "quality_score": (
            f"round(least({n_tok} / 20.0, 1.0) * 0.4"
            f" + least({n_stop} / 5.0, 1.0) * 0.4"
            f" + (1.0 - least(round({n_punct} / greatest({n_chars}, 1), 6) * 10.0, 1.0)) * 0.2, 6)"
        ),
    }


def lang_id(df: DataFrame) -> DataFrame:
    """Stopword-hit language ID: argmax of per-language distinct stopword
    hits; 'und' (undetermined) when no language scores ≥ 1. Deterministic
    tie-break: language code order."""
    toks = F.array_distinct(tokens(F.col("text")))
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in sorted(STOPWORDS.items())
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # build reversed so earlier languages win ties via when-chain ordering
    for lang in sorted(scores, reverse=True):
        pred = F.when((scores[lang] == best) & (best >= 1), lang).otherwise(pred)
    return df.withColumn("pred_lang", pred)


def lang_id_sql() -> str:
    toks = f"list_distinct({tokens_sql('text')})"
    scores = {
        lang: f"len(list_intersect({toks}, [{', '.join(chr(39) + w + chr(39) for w in words)}]))"
        for lang, words in sorted(STOPWORDS.items())
    }
    best = f"greatest({', '.join(scores.values())})"
    whens = " ".join(
        f"WHEN {scores[lang]} = {best} AND {best} >= 1 THEN '{lang}'"
        for lang in sorted(scores)
    )
    return f"CASE {whens} ELSE 'und' END"


# Shingle width of the whole-document fingerprint, shared by its oracle.
_DOC_FP_K = 8


def doc_fingerprint(df: DataFrame) -> DataFrame:
    """Rolling-shingle fingerprint: min sha256 over all 8-char shingles of
    the normalized text (the winnowing global-min special case — stable
    under small edits away from the minimizing shingle).

    Shape: a map-only `aggregate` fold over the shingle positions —
    least(acc, sha256(substr)) per position, no exchange, no join, O(1)
    state per row. Three shapes were A/B'd warm at sf0.1 on one VM:
    explode positions → partial-min aggregate → join-back 3.0 s (each
    exploded row copies the full text; two exchanges), shingle-array
    explode 3.5 s, interpreted fold/transform 2.2 s. The fold wins here
    because the per-element work is ONE sha256 — interpretation overhead
    is smaller than the exchange+join it avoids — the opposite trade from
    minhash signatures (64 hashes per element, dedup.py:166), where
    explode + codegen'd aggregates win 3.3×. Versus array_min(transform)
    the fold also never materializes the |text|-element hash array, so
    memory stays bounded for arbitrarily long documents. Rows whose text
    is NULL keep a NULL fingerprint (the fold propagates null)."""
    # normalization staged as a real column: the fold lambda is interpreted
    # per element, so an inlined regexp_replace would re-run per position
    out = df.withColumn("_fp_norm", normalize_text(F.col("text")))
    norm = F.col("_fp_norm")
    positions = F.sequence(
        F.lit(1), F.greatest(F.length(norm) - (_DOC_FP_K - 1), F.lit(1))
    )
    # "g"*64 sorts after every sha256 hex digest ([0-9a-f]{64}); positions
    # is never empty (greatest(...,1)), so the sentinel can't leak
    fold = F.aggregate(
        positions,
        F.lit("g" * 64),
        lambda acc, i: F.least(acc, F.sha2(norm.substr(i, F.lit(_DOC_FP_K)), 256)),
    )
    return out.withColumn("doc_fp", fold).drop("_fp_norm")


def doc_fingerprint_sql(text_col: str, k: int) -> str:
    """DuckDB fragment; use over a subquery that materializes _fp_norm
    (see doc_fingerprint_oracle) to avoid per-element regexp re-eval."""
    norm = "_fp_norm"
    return (
        f"list_min(list_transform(range(1, greatest(length({norm}) - {k - 1}, 1) + 1),"
        f" i -> sha256(substr({norm}, CAST(i AS INTEGER), {k}))))"
    )


def doc_fingerprint_oracle() -> str:
    return (
        f"SELECT doc_id, {doc_fingerprint_sql('text', _DOC_FP_K)} AS doc_fp FROM "
        f"(SELECT doc_id, {normalize_text_sql('text')} AS _fp_norm FROM documents)"
    )


def repetition_features(df: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    Gopher appendix A1.1; the same rules RefinedWeb/NeMo-Curator apply):

    - ``dup_line_frac``: fraction of (non-blank, trimmed) lines that are
      repeats of an earlier line = (total - distinct) / total.
    - ``dup_line_char_frac``: fraction of line characters belonging to
      repeated occurrences = (Σ chars over all lines − Σ chars over
      distinct lines) / Σ chars over all lines.
    - ``top_ngram_char_frac``: characters covered by the single most
      frequent word n-gram (count × gram length / total text length);
      ties broken toward the lexicographically largest gram so the result
      is deterministic and oracle-reproducible.

    Scale shape: posexplode-free — one explode per signal family feeding
    hash-aggregates keyed on the doc id (map-side partials, no windows, no
    higher-order lambda folds in the hot path), then a broadcast-sized
    per-doc feature frame joined back. Docs with no lines/grams get 0.0.
    """
    lines = F.filter(
        F.transform(F.split(F.col("text"), "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    ln = (
        df.select(F.col("doc_id").alias("_id"), F.explode(lines).alias("_ln"))
        .groupBy("_id", "_ln")
        .agg(F.count("*").alias("_c"))
        .groupBy("_id")
        .agg(
            ((F.sum("_c") - F.count("*")) / F.sum("_c")).alias("dup_line_frac"),
            (
                (F.sum(F.length("_ln") * F.col("_c")) - F.sum(F.length("_ln")))
                / F.sum(F.length("_ln") * F.col("_c"))
            ).alias("dup_line_char_frac"),
        )
    )
    top = (
        df.select(
            F.col("doc_id").alias("_id"),
            F.length(F.trim(F.col("text"))).alias("_len"),
            tokens(F.col("text")).alias("_toks"),
        )
        .select("_id", "_len",
                F.explode(word_ngrams(F.col("_toks"), 2)).alias("_g"))
        .groupBy("_id", "_len", "_g")
        .agg(F.count("*").alias("_c"))
        .groupBy("_id")
        .agg(
            F.max(F.struct(F.col("_c"), F.col("_g"))).alias("_top"),
            F.first("_len").alias("_len"),
        )
        .select(
            "_id",
            F.when(
                F.col("_len") > 0,
                F.col("_top")["_c"] * F.length(F.col("_top")["_g"])
                / F.col("_len"),
            ).otherwise(F.lit(0.0)).alias("top_ngram_char_frac"),
        )
    )
    feats = ln.join(top, "_id", "full").withColumnRenamed("_id", "doc_id")
    out = df.join(feats, "doc_id", "left")
    for c in ("dup_line_frac", "dup_line_char_frac", "top_ngram_char_frac"):
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0.0)))
    return out


# Gopher rule thresholds (Rae et al. 2021 appendix A1.1, restated against
# this engine's signals; symbol-ratio family collapsed onto punct_ratio —
# documented adaptation, pinned by the oracle)
GOPHER_THRESHOLDS: dict[str, float] = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_punct_ratio": 0.2,
    "min_stopword_hits": 2,
    "max_dup_line_frac": 0.3,
    "max_dup_line_char_frac": 0.2,
    "max_top_ngram_char_frac": 0.2,
}


def gopher_filter(df: DataFrame, **overrides: float) -> DataFrame:
    """Composite Gopher-rule document filter: every signal this engine
    computes (quality_features + repetition_features), thresholded into a
    ``keep`` boolean and a ``drop_reasons`` array naming each violated
    rule (empty when keep). Thresholds from GOPHER_THRESHOLDS, overridable
    per call.

    The signal computation is the two existing operators (one line-explode
    + one gram-explode aggregate joined back by id; everything else pure
    Column expressions), so the filter adds zero new shuffles beyond them.
    """
    t = {**GOPHER_THRESHOLDS, **overrides}
    out = quality_features(
        repetition_features(df),
    )
    checks = [
        ("too_few_words", F.col("n_tokens") < t["min_words"]),
        ("too_many_words", F.col("n_tokens") > t["max_words"]),
        ("mean_word_len_out_of_range",
         (F.col("mean_word_len") < t["min_mean_word_len"])
         | (F.col("mean_word_len") > t["max_mean_word_len"])),
        ("punct_heavy", F.col("punct_ratio") > t["max_punct_ratio"]),
        ("too_few_stopwords",
         F.col("stopword_hits") < t["min_stopword_hits"]),
        ("dup_lines", F.col("dup_line_frac") > t["max_dup_line_frac"]),
        ("dup_line_chars",
         F.col("dup_line_char_frac") > t["max_dup_line_char_frac"]),
        ("repeated_ngram",
         F.col("top_ngram_char_frac") > t["max_top_ngram_char_frac"]),
    ]
    reasons = F.array_compact(F.array(
        *[F.when(F.coalesce(cond, F.lit(False)), F.lit(name))
          for name, cond in checks]
    ))
    out = out.withColumn("drop_reasons", reasons)
    return out.withColumn("keep", F.size("drop_reasons") == 0)

# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# (kind, regex, replacement) — applied IN ORDER, each over the output of the
# previous redaction, so a span can only be claimed by one kind (an IPv4
# never double-counts as a phone number). Patterns are deliberately limited
# to syntax with identical semantics in Java regex (Spark, codegen) and RE2
# (DuckDB oracle): no backreferences, no lookaround, ASCII classes only
# (Java's \b is Unicode-aware, RE2's is ASCII — identical on ASCII text,
# which is what the redaction targets are).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IPV4>"),
    ("phone", r"\+?\d{1,3}[ .\-]?\(\d{3}\)[ .\-]?\d{3}[ .\-]?\d{4}"
              r"|\b\d{3}[.\-]\d{3}[.\-]\d{4}\b", "<PHONE>"),
]


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / SSNs / IPv4s / phone numbers from ``text_col`` into
    ``redacted`` and emit one ``n_<kind>`` count column per pattern.

    Training-data pipelines run this before any tokenization; at 100 TB it
    must be a map-only scan, and it is: a regexp_count + regexp_replace
    chain per kind, all JVM whole-stage codegen, no shuffle, no UDF.
    Counts are taken on the progressively-redacted text (replacements
    performed at that step), which keeps Spark and the DuckDB oracle
    bit-identical under overlapping patterns. Semantics follow the same
    scrub-and-count shape as Beats' truncate/replace field processors
    (reference libbeat/processors/actions/replace.go:60-76: regex replace
    per configured field), generalized to a pattern bank."""
    cur = F.col(text_col)
    counts = []
    for kind, pat, token in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{kind}"))
        cur = F.regexp_replace(cur, pat, token)
    return df.select("*", *counts, cur.alias("redacted"))


def pii_redact_sql(text_col: str) -> dict[str, str]:
    """DuckDB fragments: {n_<kind>: expr, redacted: expr} — same staged
    order as pii_redact."""
    cur = text_col
    out: dict[str, str] = {}
    for kind, pat, token in PII_PATTERNS:
        out[f"n_{kind}"] = f"len(regexp_extract_all({cur}, '{pat}'))"
        cur = f"regexp_replace({cur}, '{pat}', '{token}', 'g')"
    out["redacted"] = cur
    return out


# ---------------------------------------------------------------------------
# C4-style line cleaning (Raffel et al. 2020, public corpus-cleaning rules)
# ---------------------------------------------------------------------------

# a kept line must end in terminal punctuation: `\z`, because Java's `$`
# also matches before a final line terminator and RE2's does not
C4_TERMINAL_RE = r'[.!?"]\z'
# each line is trimmed of the shared whitespace class, as C4's `strip()`
_WS_EDGES = rf"^{_WS}|{_WS}\z"


# C4's line rule (words per kept line) and page rule (kept lines per page).
_C4_MIN_WORDS = 5
_C4_MIN_LINES = 3


def c4_clean(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4 line/page cleaning: keep only lines that end in terminal
    punctuation, have ≥ 5 words and don't mention
    javascript; drop the whole page when fewer than 3 lines
    survive, or it contains "lorem ipsum" or a curly brace. Emits
    ``cleaned`` (kept lines re-joined), ``n_lines_kept`` and ``keep``.

    Shape: per-line predicates via array filter over split lines — an
    interpreted HOF, but the per-element work is a handful of cheap
    comparisons, and the alternative (explode → filter → groupBy
    collect_list) shuffles the entire corpus twice; the same trade that
    made the fold win in doc_fingerprint. Map-only, no exchange."""
    trimmed = F.transform(F.split(F.col(text_col), "\n"),
                          lambda ln: F.regexp_replace(ln, _WS_EDGES, ""))
    kept = F.filter(
        trimmed,
        lambda t: t.rlike(C4_TERMINAL_RE)
        & (F.size(F.split(t, _WS)) >= _C4_MIN_WORDS)
        & ~F.lower(t).contains("javascript"),
    )
    lorem = F.lower(F.col(text_col)).contains("lorem ipsum")
    brace = F.col(text_col).contains("{")
    out = (
        df.withColumn("cleaned", F.array_join(kept, "\n"))
        .withColumn("n_lines_kept", F.size(kept))
    )
    return out.withColumn(
        "keep",
        F.coalesce(
            (F.col("n_lines_kept") >= _C4_MIN_LINES) & ~lorem & ~brace,
            F.lit(False),
        ),
    )


def c4_clean_sql(text_col: str) -> dict[str, str]:
    """DuckDB fragments computing the identical cleaning."""
    kept = (
        f"list_filter(list_transform(string_split({text_col}, chr(10)),"
        f" x -> regexp_replace(x, '{_WS_EDGES}', '', 'g')),"
        f" t -> regexp_matches(t, '{C4_TERMINAL_RE}')"
        f" AND len(regexp_split_to_array(t, '{_WS}')) >= {_C4_MIN_WORDS}"
        f" AND NOT contains(lower(t), 'javascript'))"
    )
    return {
        # DuckDB joins an empty list to NULL, Spark's array_join to ''
        "cleaned": f"coalesce(array_to_string({kept}, chr(10)), '')",
        "n_lines_kept": f"len({kept})",
        "keep": (
            f"coalesce(len({kept}) >= {_C4_MIN_LINES}"
            f" AND NOT contains(lower({text_col}), 'lorem ipsum')"
            f" AND NOT contains({text_col}, '{{'), FALSE)"
        ),
    }


# ---------------------------------------------------------------------------
# URL / domain blocklist flag
# ---------------------------------------------------------------------------

_HTTP_HOST_RE = rf"https?://([^/{_WS_CHARS}:]+)"
DEFAULT_URL_BLOCKLIST = [
    "spam-mill.example", "seo-farm.example", "tracker.example",
]


# One alternation over every blocklisted domain, a host's suffix.
_URL_BLOCK_RE = (
    r"(^|\.)(" + "|".join(d.replace(".", r"\.") for d in DEFAULT_URL_BLOCKLIST)
    + ")$"
)


def url_blocklist_flag(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flag documents containing a URL whose host is (a subdomain of) a
    blocklisted domain. Emits ``url_hosts`` (lowercased hosts of every
    http(s) URL in the text) and ``blocked_url``.

    The blocklist is compiled INTO the plan as one alternation regex —
    the same zero-join strategy as registered_domain's InSet-compiled PSL
    (operators/network.py:160): at 100 TB this is a map-only scan with no
    broadcast, no shuffle, nothing on the driver but the pattern string.
    For blocklists too large to inline (millions of entries), compose with
    the broadcast-join shape in enrich.translate instead."""
    hosts = F.transform(
        F.regexp_extract_all(
            F.col(text_col), F.lit(_HTTP_HOST_RE), F.lit(1)
        ),
        lambda h: F.lower(h),
    )
    out = df.withColumn("url_hosts", hosts)
    return out.withColumn(
        "blocked_url",
        F.coalesce(F.exists(F.col("url_hosts"),
                            lambda h: h.rlike(_URL_BLOCK_RE)),
                   F.lit(False)),
    )


def url_blocklist_sql() -> dict[str, str]:
    hosts = (
        f"list_transform(regexp_extract_all(text,"
        f" '{_HTTP_HOST_RE}', 1), h -> lower(h))"
    )
    return {
        "url_hosts": hosts,
        "blocked_url": (
            f"coalesce(len(list_filter({hosts},"
            f" h -> regexp_matches(h, '{_URL_BLOCK_RE}'))) > 0, FALSE)"
        ),
    }


# ---------------------------------------------------------------------------
# Unicode normalization
# ---------------------------------------------------------------------------

# C0 control characters except \t \n \r — stripped before normalization
CONTROL_CHARS_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"


def normalize_unicode(df: DataFrame, form: str = "NFC") -> DataFrame:
    """Canonical Unicode normalization for corpus text: strip C0 control
    characters (keeping tab/newline/CR), then apply `form` (NFC default —
    combining sequences composed, so visually-identical strings hash/dedup
    identically downstream).

    Spark has no normalization builtin, so the normalize step is a
    vectorized Arrow `pandas_udf` over `pandas.Series.str.normalize`
    (batch-at-a-time, never per-row Python); the control strip stays a
    codegen'd regexp_replace. The DuckDB oracle uses its native
    nfc_normalize (only NFC round-trips through the oracle; other forms
    are pytest-pinned)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.str.normalize(form)

    stripped = F.regexp_replace(F.col("text"), CONTROL_CHARS_RE, "")
    return df.withColumn("norm_text", _norm(stripped))


def normalize_unicode_sql(text_col: str = "text") -> str:
    """DuckDB fragment: identical strip + NFC."""
    return (
        f"nfc_normalize(regexp_replace({text_col},"
        f" '{CONTROL_CHARS_RE}', '', 'g'))"
    )


# -- BM25 ranked retrieval -----------------------------------------------------
#
# Okapi BM25 over the corpus for a broadcast-small query term set — the
# keyword-search / relevance-scoring step of a curation stack (e.g. "pull
# the docs most relevant to a target topic"). Engine shape:
#
#   1. per-doc token array (map-only); doc length = size(toks);
#   2. tokens are filtered to the QUERY TERMS inside the scan task
#      (array_intersect-style lambda) BEFORE any exchange — only docs
#      containing at least one query term ever shuffle, and they shuffle
#      as bare (doc_id, term, tf) triples;
#   3. df per term (≤ |terms| rows) and the 1-row (N, avgdl) aggregate
#      are broadcast back;
#   4. per-(doc, term) BM25 contribution, QUANTIZED to an integer
#      (round(1e6·x), same convention as sampling.dsir_weights) so the
#      per-doc sum is exact in any engine and any summation order;
#   5. top-k by TakeOrderedAndProject — bounded per-partition heaps,
#      never a global sort.

_BM25_SCALE = 1_000_000


# Okapi BM25 term-frequency saturation and length normalisation.
_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_topk(df: DataFrame, terms: list[str], k: int) -> DataFrame:
    """BM25 top-k: (doc_id, bm25_score: bigint ×1e6-scaled, n_terms_hit).

    idf is the standard Robertson–Spärck Jones form with +1 inside the
    log (always positive): ln(1 + (N - df + 0.5)/(df + 0.5)). Ties break
    on ascending id. `terms` are matched against lowercased
    whitespace tokens (the module-wide tokenizer)."""
    terms = sorted({t.lower() for t in terms})
    toks = tokens(F.col("text"))
    base = df.select(
        F.col("doc_id").alias("_id"),
        F.size(toks).alias("_dl"),
        F.filter(
            toks, lambda t: t.isin(*terms) if len(terms) > 1
            else t == F.lit(terms[0])
        ).alias("_hits"),
    )
    # lineage cut: base feeds the tf aggregate AND the corpus stats row
    # (and tf itself feeds dfreq plus the contribution join) — two corpus
    # scans without it; the materialized rows are (id, dl, matching-terms
    # array) — query-hit terms only, corpus text never materializes
    base = truncate_lineage(base)
    tf = (
        base.select("_id", "_dl", F.explode("_hits").alias("_term"))
        .groupBy("_id", "_dl", "_term")
        .agg(F.count("*").alias("_tf"))
    )
    stats = base.agg(
        F.count("*").alias("_n"), F.avg("_dl").alias("_avgdl")
    )
    dfreq = tf.groupBy("_term").agg(F.count("*").alias("_df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "_term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
            ),
        )
        .withColumn(
            "_c",
            F.round(
                F.lit(_BM25_SCALE)
                * F.col("_idf")
                * (F.col("_tf") * (_BM25_K1 + 1))
                / (
                    F.col("_tf")
                    + _BM25_K1 * (1 - _BM25_B
                                  + _BM25_B * F.col("_dl") / F.col("_avgdl"))
                )
            ).cast("long"),
        )
    )
    scored = contrib.groupBy("_id").agg(
        F.sum("_c").alias("bm25_score"),
        F.count("*").alias("n_terms_hit"),
    )
    return (
        scored.orderBy(F.col("bm25_score").desc(), F.col("_id"))
        .limit(k)
        .select(F.col("_id").alias("doc_id"), "bm25_score", "n_terms_hit")
    )


def bm25_topk_sql(terms: list[str], k: int) -> str:
    """DuckDB twin computing identical integer scores."""
    terms = sorted({t.lower() for t in terms})
    tlist = ", ".join(f"'{t}'" for t in terms)
    S = _BM25_SCALE
    return f"""
WITH base AS (
  SELECT doc_id AS _id,
         len({tokens_sql('text')}) AS _dl,
         list_filter({tokens_sql('text')}, t -> t IN ({tlist})) AS _hits
  FROM documents
),
tf AS (
  SELECT _id, _dl, u.t AS _term, count(*) AS _tf
  FROM base, unnest(_hits) AS u(t)
  GROUP BY 1, 2, 3
),
stats AS (SELECT count(*) AS _n, avg(_dl) AS _avgdl FROM base),
dfreq AS (SELECT _term, count(*) AS _df FROM tf GROUP BY 1),
contrib AS (
  SELECT tf._id,
         CAST(round({S} * ln(1 + (s._n - d._df + 0.5) / (d._df + 0.5))
               * (tf._tf * ({_BM25_K1} + 1))
               / (tf._tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * tf._dl / s._avgdl)))
              AS BIGINT) AS _c
  FROM tf JOIN dfreq d USING (_term) CROSS JOIN stats s
)
SELECT _id AS doc_id, CAST(sum(_c) AS BIGINT) AS bm25_score,
       count(*) AS n_terms_hit
FROM contrib GROUP BY 1
ORDER BY bm25_score DESC, doc_id LIMIT {k}
""".strip()


# --------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion
# --------------------------------------------------------------------------

_RRF_SCALE = 1_000_000


def rrf_fuse(
    rankings: list[DataFrame],
    k0: int = 60,
    k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N rankings into one:
    fused(d) = sum over systems of 1/(k0 + rank_s(d)), here as the
    ×1e6-quantized integer round(1e6/(k0+rank)) so a cross-engine oracle is
    an exact equality. Each input must carry (doc_id, rank) with rank
    1-based. Docs missing from a system contribute 0 (the standard RRF
    convention). Ties break on ascending id.

    Scale shape: the inputs are already top-k listings (broadcast-small);
    fusion is a unionByName of bare (id, contribution) rows, one tiny
    groupBy, and TakeOrderedAndProject — the corpus itself is never
    touched. Returns (doc_id, rrf_score, n_systems)."""
    contribs = None
    for r in rankings:
        c = r.select(
            F.col("doc_id").alias("_id"),
            F.round(F.lit(float(_RRF_SCALE)) / (F.lit(k0) + F.col("rank")))
            .cast("long")
            .alias("_c"),
        )
        contribs = c if contribs is None else contribs.unionByName(c)
    fused = contribs.groupBy("_id").agg(
        F.sum("_c").alias("rrf_score"),
        F.count("*").alias("n_systems"),
    )
    return (
        fused.orderBy(F.col("rrf_score").desc(), F.col("_id"))
        .limit(k)
        .select(F.col("_id").alias("doc_id"), "rrf_score", "n_systems")
    )


# --------------------------------------------------------------------------
# tokenizer training: distributed BPE pair statistics + merge learning
# --------------------------------------------------------------------------

_EOW = "</w>"


def _word_symbols(word_col: Column) -> Column:
    """Initial BPE symbol sequence for a word: its characters plus the
    end-of-word marker (Sennrich et al. 2016 §3.2)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word_col)),
        lambda i: word_col.substr(i, F.lit(1)),
    )
    return F.concat(chars, F.array(F.lit(_EOW)))


def bpe_pair_stats(df: DataFrame, top_k: int) -> DataFrame:
    """The merge-selection step of BPE tokenizer training (Sennrich et al.
    2016): corpus-weighted counts of adjacent symbol pairs over the initial
    character vocabulary, top-k by (count desc, pair asc) — the pair a BPE
    trainer would merge first, plus the runners-up.

    Scale shape: the only corpus-scale work is the word-frequency
    aggregation (one shuffle on the word key with map-side combine —
    heavy-hitter words partial-aggregate in the scan task). Pair explosion
    runs on the DISTINCT-word table, which is vocab-sized — orders of
    magnitude smaller than the corpus — so the expensive transform touches
    |vocab| rows, not |corpus|. Returns (sym_a, sym_b, pair_count)."""
    words = df.select(
        F.explode(tokens(F.col("text"))).alias("_w")
    ).where(F.col("_w") != "")
    vocab = words.groupBy("_w").agg(F.count("*").alias("_n"))
    syms = vocab.withColumn("_syms", _word_symbols(F.col("_w")))
    pairs = syms.select(
        "_n",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_syms") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("_syms"), i).alias("a"),
                    F.element_at(F.col("_syms"), i + 1).alias("b"),
                ),
            )
        ).alias("_p"),
    )
    counts = pairs.groupBy(
        F.col("_p.a").alias("sym_a"), F.col("_p.b").alias("sym_b")
    ).agg(F.sum("_n").alias("pair_count"))
    return (
        counts.orderBy(
            F.col("pair_count").desc(), F.col("sym_a"), F.col("sym_b")
        )
        .limit(top_k)
        .select("sym_a", "sym_b", "pair_count")
    )


def bpe_pair_stats_sql(top_k: int) -> str:
    """DuckDB twin of bpe_pair_stats — exact integer pair counts."""
    return f"""
WITH words AS (
  SELECT u.w AS _w
  FROM documents,
       unnest({tokens_sql('text')}) AS u(w)
  WHERE text IS NOT NULL AND u.w <> ''
),
vocab AS (SELECT _w, count(*) AS _n FROM words GROUP BY 1),
syms AS (
  SELECT _n,
         list_append(list_transform(range(1, length(_w) + 1),
                                    i -> _w[i]), '{_EOW}') AS _syms
  FROM vocab
),
pairs AS (
  SELECT _n, _syms[i] AS sym_a, _syms[i + 1] AS sym_b
  FROM syms, unnest(range(1, len(_syms))) AS t(i)
)
SELECT sym_a, sym_b, CAST(sum(_n) AS BIGINT) AS pair_count
FROM pairs GROUP BY 1, 2
ORDER BY pair_count DESC, sym_a, sym_b LIMIT {top_k}
""".strip()


def _safe_merge_batch(
    top: list, want: int
) -> list[tuple[str, str, int]]:
    """Select a batch of merges off ONE stale pair-count snapshot that is
    provably identical to running the serial Sennrich argmax loop.

    `top` is the collected (a, b, _c) list in reference order (count desc,
    pair asc); uncollected pairs have count <= c_floor = top[-1]._c (limit()
    may cut ties, so the bound is inclusive). A candidate is accepted iff:

    1. its symbols {a, b, a+b} are disjoint from every previously-accepted
       merge's {a_j, b_j, a_j+b_j} — then its stale count is still its true
       count (merging (a,b)->ab only destroys pairs touching a or b and
       only creates pairs containing the new ab symbol), and applying the
       batch left-to-right in one pass equals applying serially; and
    2. its count strictly exceeds B, an upper bound on the count of ANY
       pair an already-accepted merge can create: (a,b)->ab creates only
       (x,ab) from stale (x,a) and (ab,y) from stale (b,y), each with
       count <= min(c_j, stale count of that neighbor); neighbors outside
       the snapshot are bounded by c_floor. Strict > keeps tie-breaking
       exact — a created pair TYING a later candidate could win the
       reference's lexicographic tie-break.

    Selection STOPS at the first rejected candidate: a conflicting
    candidate's true count may have dropped, so everything ranked below it
    has unknown relative order. The argmax itself is always accepted, so
    every round makes progress.
    """
    accepted: list[tuple[str, str, int]] = []
    used: set[str] = set()
    c_floor = top[-1]["_c"]
    bound = -1
    for r in top:
        if len(accepted) >= want:
            break
        a, b, c = r["a"], r["b"], r["_c"]
        if accepted:
            if {a, b, a + b} & used or c <= bound:
                break
        accepted.append((a, b, c))
        used |= {a, b, a + b}
        adj = max(
            (
                r2["_c"]
                for r2 in top
                if r2["b"] == a or r2["a"] == b
            ),
            default=0,
        )
        bound = max(bound, min(c, max(adj, c_floor)))
    return accepted


def bpe_learn_merges(
    df: DataFrame,
    n_merges: int = 10,
    batch_m: int = 8,
    stats: dict | None = None,
) -> list[tuple[str, str]]:
    """Learn `n_merges` BPE merges: the full Sennrich et al. training loop.
    The corpus-scale pass happens ONCE (the word-frequency aggregation in
    bpe_pair_stats' shape); every training round then runs on the cached
    vocab-sized symbol table — pair counts over |vocab| rows, one bounded
    collect, and an in-array fold applying each merge left-to-right
    non-overlapping (the fold's accumulator semantics are exactly BPE's
    leftmost scan). Returns the learned merge list; pytest pins it against
    a pure-Python reference implementation.

    Driver-round-trip bound (VERDICT r4 task 8): the serial loop costs one
    Spark job + one 1-row collect PER MERGE — V merges = V driver round
    trips. Here each round collects the top-M stale counts once and accepts
    up to `batch_m` merges off that snapshot via _safe_merge_batch (exact —
    see its proof sketch), chaining the accepted folds in ONE job. Adjacent
    high-count pairs still force small batches (correctly: their counts
    interact), so the worst case stays V rounds; disjoint-heavy vocabs —
    the common case — cut rounds by ~batch_m. `batch_m=1` IS the serial
    loop. `stats`, when given, gets {"rounds": <collect count>} for tests
    and capacity planning."""
    words = df.select(
        F.explode(tokens(F.col("text"))).alias("_w")
    ).where(F.col("_w") != "")
    vocab = (
        words.groupBy("_w").agg(F.count("*").alias("_n"))
        .withColumn("_syms", _word_symbols(F.col("_w")))
        .select("_n", "_syms")
    )
    vocab = vocab.persist()
    vocab.count()
    # snapshot depth: room for batch_m accepts plus the adjacency scan the
    # safety bound needs around each accepted pair
    top_m = max(4 * batch_m, 16)
    merges: list[tuple[str, str]] = []
    rounds = 0
    try:
        while len(merges) < n_merges:
            pairs = vocab.select(
                "_n",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("_syms") - 1),
                        lambda i: F.struct(
                            F.element_at(F.col("_syms"), i).alias("a"),
                            F.element_at(F.col("_syms"), i + 1).alias("b"),
                        ),
                    )
                ).alias("_p"),
            ).where(F.size("_syms") > 1)
            top = (
                pairs.groupBy("_p.a", "_p.b")
                .agg(F.sum("_n").alias("_c"))
                .orderBy(F.col("_c").desc(), F.col("a"), F.col("b"))
                .limit(top_m)
                .collect()
            )
            rounds += 1
            if not top:
                break
            batch = _safe_merge_batch(
                top, min(batch_m, n_merges - len(merges))
            )
            def _fold(col: Column, a: str, b: str) -> Column:
                merged = a + b
                return F.aggregate(
                    col,
                    F.array().cast("array<string>"),
                    lambda acc, s: F.when(
                        (F.size(acc) > 0)
                        & (F.element_at(acc, -1) == a)
                        & (s == b),
                        F.concat(
                            F.slice(acc, 1, F.size(acc) - 1),
                            F.array(F.lit(merged)),
                        ),
                    ).otherwise(F.concat(acc, F.array(s))),
                )

            col = F.col("_syms")
            for a, b, _ in batch:
                merges.append((a, b))
                col = _fold(col, a, b)
            nxt = vocab.select("_n", col.alias("_syms")).persist()
            nxt.count()
            vocab.unpersist()
            vocab = nxt
    finally:
        vocab.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    return merges


# Winnowing shingle width (chars) and window (hashes), shared by its oracle.
_WINNOW_K = 8
_WINNOW_W = 12


def winnow_fingerprints(df: DataFrame, w: int = _WINNOW_W) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003
    — the MOSS algorithm, used for code dedup in The Stack): hash every
    8-char shingle of the normalized text, then keep the MINIMUM hash of
    each w-hash window. Guarantee: two documents sharing any substring of
    length >= w + 7 share at least one fingerprint. doc_fingerprint
    is the degenerate w = n case (one global min).

    Shape: map-only — the shingle-hash array materializes ONCE per row
    (one md5 per position), window minima are in-array slice+min over
    that array (no rehashing, O(w·n) comparisons but O(n) hashes), the
    fingerprint set is array_distinct. No exchange, no join, no Python.
    Hashes are md5 hex (lexicographic min — '0'-'9' < 'a'-'f' ordering is
    identical across engines), the same cross-engine-reproducibility
    trade simhash made (dedup.py): a production variant would use
    xxhash64, which DuckDB lacks. Docs shorter than w + 7 chars get
    an empty fingerprint set."""
    out = df.withColumn("_wn_norm", normalize_text(F.col("text")))
    n_hashes = F.length(F.col("_wn_norm")) - (_WINNOW_K - 1)
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(n_hashes, F.lit(0))),
        lambda i: F.md5(F.col("_wn_norm").substr(i, F.lit(_WINNOW_K))),
    )
    out = out.withColumn(
        "_wn_hashes",
        F.when(n_hashes >= 1, hashes).otherwise(
            F.array().cast("array<string>")
        ),
    )
    n_windows = F.size("_wn_hashes") - (w - 1)
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(n_windows, F.lit(0))),
        lambda j: F.array_min(F.slice(F.col("_wn_hashes"), j, w)),
    )
    fps = F.when(
        n_windows >= 1, F.array_sort(F.array_distinct(mins))
    ).otherwise(F.array().cast("array<string>"))
    return (
        out.withColumn("winnow_fps", fps)
        .withColumn("n_fingerprints", F.size("winnow_fps"))
        .drop("_wn_norm", "_wn_hashes")
    )


# CDC shingle width (chars) and boundary hex-zero prefix, shared by its
# oracle.
_CDC_K = 8
_CDC_ZERO_PREFIX = 1


def cdc_chunk_hashes(
    df: DataFrame,
    k: int = _CDC_K,
    zero_prefix: int = _CDC_ZERO_PREFIX,
) -> DataFrame:
    """Content-defined chunking (the LBFS / FastCDC boundary family —
    Muthitacharoen et al. 2001): cut a document AFTER every k-gram whose
    rolling hash satisfies the boundary predicate, then hash each chunk.
    Unlike fixed-size chunking, an insertion near the head shifts only
    the chunk it lands in — every boundary after the next cut realigns,
    so chunk-level dedup survives edits. This is the scale path for
    chunk-granular dedup over a 100 TB corpus: chunks hash map-side,
    dedup is one groupBy on the chunk hash.

    Boundary predicate: the md5 of the k-char shingle starts with
    `zero_prefix` '0' hex chars — cut probability 16^-zero_prefix,
    expected chunk ~16^zero_prefix chars. Pure string compare, byte-
    identical across engines (the same md5-portability trade winnowing
    and simhash make; production would swap in a gear/xxhash rolling
    hash). The final chunk always ends at the document end; a doc
    shorter than k chars is a single chunk; an empty normalized doc has
    zero chunks.

    Shape: map-only — one md5 per position plus one per chunk, all
    in-array (transform/filter/zip); no exchange, no join, no Python.
    """
    zeros = "0" * zero_prefix
    out = df.withColumn("_cdc_norm", normalize_text(F.col("text")))
    n = F.length("_cdc_norm")
    npos = n - (k - 1)
    cut_ends = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(npos, F.lit(0))),
            lambda i: F.when(
                F.md5(F.col("_cdc_norm").substr(i, F.lit(k))).substr(
                    1, zero_prefix
                )
                == zeros,
                i + (k - 1),
            ),
        ),
        # a cut at the very end would duplicate the always-appended
        # final boundary
        lambda e: e.isNotNull() & (e < n),
    )
    ends = F.when(
        npos >= 1, F.concat(cut_ends, F.array(n.cast("int")))
    ).otherwise(
        F.when(n >= 1, F.array(n.cast("int"))).otherwise(
            F.array().cast("array<int>")
        )
    )
    out = out.withColumn("_cdc_ends", ends)
    e_arr = F.col("_cdc_ends")
    chunk_hashes = F.when(
        F.size(e_arr) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.size(e_arr)),
            lambda j: F.md5(
                F.col("_cdc_norm").substr(
                    F.when(j == 1, F.lit(1)).otherwise(
                        F.element_at(e_arr, (j - 1).cast("int")) + 1
                    ),
                    F.element_at(e_arr, j.cast("int"))
                    - F.when(j == 1, F.lit(0)).otherwise(
                        F.element_at(e_arr, (j - 1).cast("int"))
                    ),
                )
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        out.withColumn("cdc_hashes", chunk_hashes)
        .withColumn("n_chunks", F.size("cdc_hashes"))
        .drop("_cdc_norm", "_cdc_ends")
    )


def cdc_chunk_hashes_sql(table: str = "documents") -> str:
    """DuckDB twin of cdc_chunk_hashes: identical md5 boundary predicate,
    identical chunk slicing. Yields (doc_id, n_chunks, chunks_md5)
    where chunks_md5 digests the in-order chunk-hash list."""
    zeros = "0" * _CDC_ZERO_PREFIX
    norm = normalize_text_sql("text")
    return f"""
WITH base AS (
  SELECT doc_id AS _id, {norm} AS norm FROM {table}
  WHERE text IS NOT NULL
),
cuts AS (
  SELECT _id, norm, length(norm) AS n,
         CASE WHEN length(norm) - {_CDC_K - 1} >= 1 THEN
           list_filter(
             list_transform(range(1, length(norm) - {_CDC_K - 1} + 1),
               i -> CASE WHEN substr(md5(substr(norm, CAST(i AS INTEGER), {_CDC_K})),
                                     1, {_CDC_ZERO_PREFIX}) = '{zeros}'
                    THEN i + {_CDC_K - 1} END),
             e -> e IS NOT NULL AND e < length(norm))
         ELSE [] END AS e0
  FROM base
),
ends AS (
  SELECT _id, norm, n,
         CASE WHEN n - {_CDC_K - 1} >= 1 THEN list_append(e0, n)
              WHEN n >= 1 THEN [n]
              ELSE [] END AS e
  FROM cuts
),
chunked AS (
  SELECT _id,
         CASE WHEN len(e) >= 1 THEN
           list_transform(range(1, len(e) + 1),
             j -> md5(substr(norm,
               CAST(CASE WHEN j = 1 THEN 1
                    ELSE e[CAST(j - 1 AS INTEGER)] + 1 END AS INTEGER),
               CAST(e[CAST(j AS INTEGER)]
                    - CASE WHEN j = 1 THEN 0
                      ELSE e[CAST(j - 1 AS INTEGER)] END AS INTEGER))))
         ELSE [] END AS ch
  FROM ends
)
SELECT _id AS doc_id, len(ch) AS n_chunks,
       md5(array_to_string(ch, ',')) AS chunks_md5
FROM chunked
""".strip()


def winnow_fingerprints_sql(table: str = "documents") -> str:
    """DuckDB twin: identical md5 shingle hashes, identical window minima.
    Yields (doc_id, n_fingerprints, fps_md5) where fps_md5 is md5 of
    the sorted-distinct fingerprint set joined with ','."""
    norm = normalize_text_sql("text")
    return f"""
WITH base AS (
  SELECT doc_id AS _id, {norm} AS norm FROM {table}
  WHERE text IS NOT NULL
),
hashed AS (
  SELECT _id,
         CASE WHEN length(norm) - {_WINNOW_K - 1} >= 1 THEN
           list_transform(range(1, length(norm) - {_WINNOW_K - 1} + 1),
                          i -> md5(substr(norm, CAST(i AS INTEGER), {_WINNOW_K})))
         ELSE [] END AS hs
  FROM base
),
winnowed AS (
  SELECT _id,
         CASE WHEN len(hs) - {_WINNOW_W - 1} >= 1 THEN
           list_sort(list_distinct(
             list_transform(range(1, len(hs) - {_WINNOW_W - 1} + 1),
                            j -> list_min(hs[CAST(j AS INTEGER):CAST(j + {_WINNOW_W - 1} AS INTEGER)]))))
         ELSE [] END AS fps
  FROM hashed
)
SELECT _id AS doc_id, len(fps) AS n_fingerprints,
       md5(array_to_string(fps, ',')) AS fps_md5
FROM winnowed
""".strip()


# ---------------------------------------------------------------------------
# URL canonicalization (the CC-Net / C4 URL-dedup prerequisite)
# ---------------------------------------------------------------------------

# tracking parameters dropped during canonicalization (public lists)
TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|msclkid|ref|mc_cid|mc_eid)="
_URL_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_URL_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_URL_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an http(s) URL for URL-level dedup: lowercase
    scheme+host, fragment stripped, default port stripped (:80 http,
    :443 https), tracking params dropped, remaining query params sorted,
    empty path normalized to '/'. Non-URL input (no scheme://) yields
    NULL. Pure Column expressions — map-only, RE2-safe regexes shared
    verbatim with the DuckDB twin."""
    u = F.regexp_replace(F.trim(url), r"#.*", "")
    scheme = F.lower(F.regexp_extract(u, _URL_SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(u, _URL_HOST_RE, 1))
    # strip the scheme's default port
    host = (
        F.when(scheme == "http",
               F.regexp_replace(hostport, r":80$", ""))
        .when(scheme == "https",
              F.regexp_replace(hostport, r":443$", ""))
        .otherwise(hostport)
    )
    path = F.regexp_extract(u, _URL_PATH_RE, 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    qs = F.array_join(F.array_sort(params), "&")
    rebuilt = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )
    return F.when(scheme != "", rebuilt)


def canonicalize_url_sql(url_expr: str) -> str:
    """DuckDB twin of canonicalize_url over `url_expr`."""
    u = f"regexp_replace(trim({url_expr}), '#.*', '')"
    scheme = f"lower(regexp_extract({u}, '{_URL_SCHEME_RE}', 1))"
    hostport = f"lower(regexp_extract({u}, '{_URL_HOST_RE}', 1))"
    host = (
        f"CASE WHEN {scheme} = 'http' THEN regexp_replace({hostport}, ':80$', '')"
        f" WHEN {scheme} = 'https' THEN regexp_replace({hostport}, ':443$', '')"
        f" ELSE {hostport} END"
    )
    path0 = f"regexp_extract({u}, '{_URL_PATH_RE}', 1)"
    path = f"CASE WHEN {path0} = '' THEN '/' ELSE {path0} END"
    query = f"regexp_extract({u}, '\\?([^#]*)', 1)"
    qs = (
        f"array_to_string(list_sort(list_filter("
        f"string_split({query}, '&'),"
        f" p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_PARAM_RE}'))), '&')"
    )
    return (
        f"CASE WHEN {scheme} <> '' THEN {scheme} || '://' || {host} || {path}"
        f" || CASE WHEN {qs} <> '' THEN '?' || {qs} ELSE '' END END"
    )


def ngram_counts(df: DataFrame, n: int) -> DataFrame:
    """Corpus-wide word n-gram counts: (gram, n_occurrences) over the
    whitespace/lower tokenization shared with `tokens()`. Documents with
    fewer than n tokens contribute nothing.

    Scale shape: the explode emits bare gram strings; the groupBy count
    partial-aggregates map-side (each task ships one row per DISTINCT gram
    it saw, not per occurrence), so the shuffle is vocabulary-sized, not
    corpus-sized. Downstream top-k goes through `ngram_topk`'s
    TakeOrderedAndProject — never a global sort.

    Reference parity note: no analogue in mjwolf/beats (training-data
    mandate); this is the classic heavy-hitters job every corpus audit
    runs (vocab building, boilerplate detection, contamination triage).
    """
    return (
        df.where(F.col("text").isNotNull())
        .select(tokens(F.col("text")).alias("_toks"))
        .select(F.explode(word_ngrams(F.col("_toks"), n, guarded=True))
                .alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n_occurrences"))
    )


def ngram_topk(df: DataFrame, n: int, k: int) -> DataFrame:
    """Top-k corpus n-grams by occurrence count, ties broken by gram text
    ascending. orderBy+limit compiles to TakeOrderedAndProject: bounded
    per-partition heaps merged on the driver — no global sort at any
    vocabulary size."""
    return (
        ngram_counts(df, n)
        .orderBy(F.col("n_occurrences").desc(), F.col("gram").asc())
        .limit(k)
    )


def ngram_topk_sql(n: int, k: int) -> str:
    """DuckDB twin: identical tokenization, gram construction, and
    (count desc, gram asc) tie-break."""
    return f"""
WITH toks AS (
  SELECT {tokens_sql('text')} AS t
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT unnest({word_ngrams_sql("t", n, guarded=True)}) AS gram
  FROM toks
)
SELECT gram, count(*) AS n_occurrences
FROM grams GROUP BY 1
ORDER BY n_occurrences DESC, gram ASC LIMIT {k}
""".strip()


def tfidf_topk(df: DataFrame, k: int) -> DataFrame:
    """Per-document top-k keyword extraction by tf-idf: for each document,
    the k terms with the highest tf/df ratio (term frequency over document
    frequency — idf's rank-equivalent core, chosen over log-idf because
    integer÷integer double division is IEEE-correctly-rounded and therefore
    bit-identical across engines, while ln() is not). Ties break by term
    ascending. Returns (id, term, tf, df, rank).

    Scale shape: ONE corpus scan + token explode feeding an (id, term)
    tf aggregate, materialized (lineage cut) so document frequency
    re-aggregates the tf table itself (one row per (doc, term) ⇒ count
    per term = df) instead of re-scanning the corpus — plan-gated to a
    single FileScan. Both aggregates partial-combine map-side and
    nothing beyond the term string rides a shuffle. The per-document
    top-k window partitions by id, so its sort is bounded by a single
    document's vocabulary.

    Reference parity note: no analogue in mjwolf/beats (training-data
    mandate); standard corpus keyword/labeling primitive (Salton & Buckley
    1988).
    """
    terms = (
        df.where(F.col("text").isNotNull())
        .select(F.col("doc_id").alias("_id"),
                F.explode(tokens(F.col("text"))).alias("term"))
        .where(F.col("term") != "")
    )
    # df derives FROM the materialized tf table (one row per (doc, term),
    # so a count per term IS the document frequency): the corpus is
    # scanned and token-exploded ONCE. The lineage cut is load-bearing —
    # without it Catalyst prunes the df branch into a separate distinct
    # whose exchange differs from the join branch's, so ReuseExchange
    # can't kick in and the 100 TB side is scanned twice (observed; a
    # dummy max(tf) to force matching subtrees gets optimized away too).
    # Same trade as minhash's signature frame (truncate_lineage at
    # dedup.py): bare (id, term, tf) triples, far smaller than the text.
    tf = truncate_lineage(
        terms.groupBy("_id", "term").agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(dfreq, "term").withColumn(
        "_score", F.col("tf").cast("double") / F.col("df")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("_id").orderBy(
        F.col("_score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("_id").alias("doc_id"), "term", "tf", "df", "rank")
    )


def tfidf_topk_sql(table: str, k: int) -> str:
    """DuckDB twin — same tokenization, same double tf/df score, same
    (score desc, term asc) row_number tie-break."""
    return f"""
WITH terms AS (
  SELECT doc_id AS _id, t AS term
  FROM (SELECT doc_id,
               unnest({tokens_sql('text')}) AS t
        FROM {table} WHERE text IS NOT NULL) s
  WHERE t != ''
),
tf AS (
  SELECT _id, term, count(*) AS tf FROM terms GROUP BY 1, 2
),
dfreq AS (
  SELECT term, count(*) AS df
  FROM (SELECT DISTINCT _id, term FROM terms) s GROUP BY 1
),
ranked AS (
  SELECT tf._id, tf.term, tf.tf, dfreq.df,
         row_number() OVER (
           PARTITION BY tf._id
           ORDER BY CAST(tf.tf AS DOUBLE) / dfreq.df DESC, tf.term ASC
         ) AS rank
  FROM tf JOIN dfreq USING (term)
)
SELECT _id AS doc_id, term, tf, df, rank
FROM ranked WHERE rank <= {k}
""".strip()


def strip_boilerplate(df: DataFrame, min_docs: int) -> DataFrame:
    """Corpus-level boilerplate removal (the RefinedWeb / Dolma cleaning
    step): any trimmed non-empty line appearing in >= min_docs DISTINCT
    documents is boilerplate — headers, footers, nav bars, cookie banners
    — and every occurrence is removed corpus-wide. Unlike `c4_clean`
    (per-doc line rules) the criterion is a CORPUS statistic; unlike
    `span_dedup` (first occurrence kept) every occurrence goes.

    Returns the input plus ``n_lines``, ``n_removed`` and ``cleaned``
    (surviving lines re-joined with newlines, original spelling kept —
    matching is on the trimmed form; `trim` strips ASCII spaces in BOTH
    engines, tabs count as content). Blank lines are never candidates
    and always survive. NULL text yields NULL ``n_lines``, ``n_removed``
    and ``cleaned`` in both this operator and its SQL twin.

    Scale shape — text never shuffles (span_dedup's property):
      1. per-doc DISTINCT line hashes explode as bare (id, xxhash64) pairs;
      2. the frequency count shuffles those 16-byte pairs with map-side
         partials; the boilerplate set is its >= min_docs slice — bounded
         above by total_lines/min_docs, and orders smaller in practice;
      3. per-doc removed-hash sets aggregate to one short array per
         AFFECTED doc and join the original frame BY ID (the only exchange
         text rides);
      4. the rebuild is an in-array filter re-hashing each line map-side.
    Equality is xxhash64-of-trimmed-line; the oracle matches on the line
    STRINGS, so a 64-bit collision shows up as a hash mismatch
    (decontaminate's accepted odds).

    Reference parity note: no analogue in mjwolf/beats (training-data
    mandate); rule follows Penedo et al. 2023 (RefinedWeb §3.2
    line-wise filtering) as applied corpus-wide by Dolma's dedupe pass.
    """
    lines = F.split(F.col("text"), "\n")
    # lineage cut: base feeds the distinct-line explode (whose output
    # itself feeds the frequency count AND the per-doc removed-set join)
    # plus the final rebuild join — THREE corpus text scans without it,
    # one with it (executed-plan FileScan count 3→0, the scan moving into
    # the materialization job). Fresh-JVM sf0.1 A/B is wall-neutral
    # (1.0→1.0 s — the planted test pages are tiny) so the cut is kept
    # for the scan count alone: at real corpus sizes each avoided
    # consumer is a full text read.
    base = truncate_lineage(
        df.withColumn("_lines", lines).withColumn(
            "n_lines", F.size("_lines")
        )
    )
    line_hash = "xxhash64(trim(l))"
    occ = base.select(
        F.col("doc_id").alias("_id"),
        F.explode(
            F.expr(
                f"array_distinct(transform("
                f"filter(_lines, l -> trim(l) != ''), l -> {line_hash}))"
            )
        ).alias("_h"),
    )
    boiler = (
        occ.groupBy("_h").agg(F.count("*").alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("_h")
    )
    bad = (
        occ.join(boiler, "_h")
        .groupBy("_id")
        .agg(F.collect_set("_h").alias("_bad"))
        .withColumnRenamed("_id", "doc_id")
    )
    out = base.join(bad, "doc_id", "left")
    kept = F.expr(
        f"filter(_lines, l -> trim(l) = '' OR _bad IS NULL"
        f" OR NOT array_contains(_bad, {line_hash}))"
    )
    return (
        out.withColumn("_kept", kept)
        .withColumn("n_removed", F.col("n_lines") - F.size("_kept"))
        .withColumn("cleaned", F.array_join("_kept", "\n"))
        .drop("_lines", "_kept", "_bad")
    )


def strip_boilerplate_sql(table: str, min_docs: int) -> str:
    """DuckDB twin on line STRINGS (independent of xxhash64): per-doc
    md5 of the cleaned text plus removal counts, all NULL for NULL text."""
    return f"""
WITH base AS (
  SELECT doc_id AS _id, string_split(text, chr(10)) AS ls
  FROM {table}
),
occ AS (
  SELECT DISTINCT _id, trim(u.l) AS t
  FROM base, unnest(ls) AS u(l)
  WHERE trim(u.l) != ''
),
boiler AS (
  SELECT t FROM occ GROUP BY 1 HAVING count(*) >= {min_docs}
),
bl AS (
  SELECT coalesce(list(t), []) AS bs FROM boiler
),
rebuilt AS (
  SELECT _id, len(ls) AS n_lines,
         list_filter(ls, l -> trim(l) = ''
                     OR NOT list_contains(bl.bs, trim(l))) AS kept
  FROM base, bl
)
SELECT _id AS doc_id, n_lines,
       n_lines - len(kept) AS n_removed,
       CASE WHEN kept IS NOT NULL
            THEN md5(coalesce(array_to_string(kept, chr(10)), '')) END AS cleaned_md5
FROM rebuilt
""".strip()
