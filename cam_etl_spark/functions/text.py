"""Text-analysis expressions for the training-data pipeline extensions:
tokenization, shingling, quality signals, language-ID heuristics, document
fingerprinting. All JVM-side Column expressions (no Python in the hot path);
designed to run over a 100 TB ``documents`` table where every extra pass is
a full scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small: the heuristic is a cheap scan-time signal.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se", "del", "las"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "im", "ein"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.when(F.trim(col) == "", F.lit(0)).otherwise(F.size(tokens(col)))


def punct_ratio(col: Column) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    total = F.length(col)
    punct = F.length(F.regexp_replace(col, r"[^\p{Punct}]", ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(punct / total)


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    toks = F.transform(tokens(F.lower(col)), lambda t: F.regexp_replace(t, r"[\p{Punct}]", ""))
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(hits / n)


def word_shingles(col: Column, k: int = 3) -> Column:
    """k-word shingles as an array of strings — the unit set for MinHash /
    Jaccard dedup.

    Built by zipping k staggered slices of the token array and concatenating
    each zipped struct. The token split is an OUTER expression of the
    transform, evaluated once per row; the earlier sequence+element_at form
    re-evaluated the regex split inside the lambda for every element × every
    of the k positions (HOF lambdas re-run embedded subtrees), measured 13×
    slower at sf0.1."""
    toks = tokens(F.lower(F.trim(col)))
    n = F.size(toks)
    m = F.greatest(n - F.lit(k - 1), F.lit(1))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, m) for j in range(k)])
    shingles = F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)]))
    return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(F.array_distinct(shingles))


def hashed_shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """k-word shingles of a token-array column as 64-bit xxhash64 longs —
    the same sets as ``word_shingles`` modulo ~2⁻⁶⁴ collisions, with no
    per-shingle string allocation and ~5× fewer bytes downstream.
    Multi-column xxhash64 chains the seed across fields, so token-boundary
    collisions ("ab","c" vs "a","bc") can't happen. Use for dedup internals
    where the shingle text itself never surfaces (jaccard values and pair
    ids are preserved).

    ``toks`` should be a STAGED attribute (a real column from a prior
    select), not an inline tokenize expression: it is referenced k+3 times
    here, and CollapseProject declines to merge a projection whose alias is
    non-cheap and multiply-used — so staging keeps the regex split at one
    evaluation per row, while inlining pastes it into every reference
    (measured 2× per-row and ~5× cold, codegen compiles the duplicated
    tree)."""
    n = F.size(toks)
    m = F.greatest(n - F.lit(k - 1), F.lit(1))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, m) for j in range(k)])
    hashes = F.transform(zipped, lambda s: F.xxhash64(*[s[str(j)] for j in range(k)]))
    # n < k: one shingle of the whole token list (word_shingles emits the
    # concat string; its hash only ever needs to match other < k-token
    # docs', which this does deterministically).
    return F.when(n < k, F.array(F.xxhash64(F.concat_ws(" ", toks)))).otherwise(
        F.array_distinct(hashes)
    )


def char_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams of the lowercased text. One native regex
    pass (lookahead capture = overlapping windows) instead of a
    transform(sequence, substr) HOF — HOF lambdas evaluate interpreted,
    per-element, and re-run the embedded normalization (see
    winnowing_fingerprints: same rewrite measured ~2× end-to-end)."""
    s = F.lower(F.trim(col))
    grams = F.when(F.length(s) < n, F.array(s)).otherwise(
        F.regexp_extract_all(s, F.lit(f"(?s)(?=(.{{{n}}}))"), 1)
    )
    return F.array_distinct(grams)


def doc_fingerprint(col: Column) -> Column:
    """Normalized-content fingerprint: md5 of lowercased, punctuation- and
    whitespace-normalized text. Exact-dup key robust to formatting noise."""
    norm = F.trim(F.regexp_replace(F.regexp_replace(F.lower(col), r"[\p{Punct}]", ""), r"\s+", " "))
    return F.md5(norm)


# PII scrubbing (training-data hygiene). Patterns are written in the common
# subset of Java regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround,
# so the same literal runs on both engines and the oracle can replicate the
# redaction byte-for-byte.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def redact_pii(col: Column) -> Column:
    """Replace each PII class with a typed placeholder. Email first (an
    address contains dots that would otherwise half-match the ipv4
    pattern), then ipv4, then phone."""
    out = F.regexp_replace(col, PII_PATTERNS["email"], "<EMAIL>")
    out = F.regexp_replace(out, PII_PATTERNS["ipv4"], "<IP>")
    return F.regexp_replace(out, PII_PATTERNS["phone"], "<PHONE>")


def pii_counts(col: Column) -> dict[str, Column]:
    return {
        name: F.regexp_count(col, F.lit(pat)) for name, pat in PII_PATTERNS.items()
    }


def nfc_normalize(col: Column) -> Column:
    """Unicode NFC normalization as an Arrow-vectorized pandas UDF
    (round 12): canonical composition — decomposed sequences like
    'e' + U+0301 collapse to the precomposed 'é', so fingerprints,
    exact-dedup hashes, and tokenizers see ONE byte form per
    canonical string. Spark has no built-in normalizer; the kernel is
    pandas Series.str.normalize('NFC') (CPython's unicodedata, the
    same tables DuckDB's nfc_normalize uses — which is exactly what
    makes the catalog entry oracle-able). Nulls pass through."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):  # type: ignore[no-untyped-def]
        return s.str.normalize("NFC")

    return _nfc(col)


def html_main_text(col: Column) -> Column:
    """Main-content text extraction from HTML (round 13) — the first
    step of every web-corpus pipeline (Common Crawl response records
    arrive as HTML; training corpora want the prose). Heuristic:
    concatenate the text of <p> blocks only (the simplest
    main-content rule: navigation/boilerplate lives outside <p>),
    with <script>/<style> subtrees dropped wholesale, character/
    entity references decoded (stdlib HTMLParser with
    convert_charrefs), and intra-block whitespace collapsed
    (explicit ASCII class — the relational oracles' \\s is ASCII).
    Blocks join with a single space, and a new <p> implicitly closes
    an open one (HTML5/browser behavior — real pages routinely omit
    </p>). Arrow-vectorized batches; the per-row
    parse is stdlib html.parser — there is no native-expression HTML
    parser, and regex-stripping tags is famously wrong (comments,
    CDATA, attribute '>'). Nulls pass through. Malformed HTML never
    raises (the parser is a tokenizer, not a validator) — unclosed
    tags simply end at EOF, matching browser behavior."""
    import re
    from html.parser import HTMLParser

    from pyspark.sql.functions import pandas_udf

    class _Extract(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.in_p = False
            self.skip = 0
            self.parts: list[str] = []

        def handle_starttag(self, tag, attrs):
            if tag in ("script", "style"):
                self.skip += 1
            elif tag == "p":
                # HTML5: a new <p> implicitly closes an open one
                # (browsers never nest p; Common Crawl pages
                # routinely omit </p>) — emit the block boundary
                if self.in_p:
                    self.parts.append(" ")
                self.in_p = True

        def handle_endtag(self, tag):
            if tag in ("script", "style") and self.skip:
                self.skip -= 1
            elif tag == "p" and self.in_p:
                self.in_p = False
                self.parts.append(" ")  # block boundary

        def handle_data(self, data):
            if self.in_p and not self.skip:
                self.parts.append(data)

    _ASCII_WS = " \t\n\r\f"

    def _one(html: str) -> str:
        p = _Extract()
        p.feed(html)
        p.close()
        # Explicit RE2-\s class: Python's \s is Unicode-aware and
        # Java's ASCII \s includes \v (U+000B), but DuckDB's RE2 \s
        # is exactly [ \t\n\f\r] — collapse the SAME class on every
        # engine so a stray \v can't fork the oracle hash
        return re.sub(r"[ \t\n\r\f]+", " ",
                      "".join(p.parts)).strip(_ASCII_WS)

    @pandas_udf("string")
    def _extract(s):  # type: ignore[no-untyped-def]
        return s.map(lambda v: None if v is None else _one(v))

    return _extract(col)


def canonical_url(col: Column) -> Column:
    """URL canonicalization for web-corpus dedup (round 13) — the
    step before URL-level dedup in every crawl pipeline: two spellings
    of the same resource must collapse to one key BEFORE content ever
    downloads. Rules (all NATIVE expressions — this runs once per
    crawl record at 100 TB, so no Python): scheme and host lowercase;
    default ports dropped scheme-aware (http:80, https:443 — a
    non-default port is meaning, it stays); the fragment dropped
    (never sent to the server); tracking parameters dropped
    (utm_*, fbclid, gclid); remaining query parameters SORTED
    (order-insensitive servers, order-sensitive strings); a single
    trailing slash trimmed from non-root paths and the empty path
    normalized to '/'. Deliberately NOT done: percent-decoding
    (changes semantics for reserved characters) and www-stripping
    (www and apex can serve different content)."""
    scheme = F.lower(F.regexp_extract(col, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.regexp_extract(
        col, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    host = F.lower(F.regexp_replace(hostport, r":[0-9]+$", ""))
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    default_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443"))
    port_c = F.when((port == "") | default_port, F.lit("")).otherwise(
        F.concat(F.lit(":"), port))
    path = F.regexp_extract(
        col, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    trimmed = F.regexp_replace(path, r"/$", "")
    path_c = F.when(trimmed == "", F.lit("/")).otherwise(trimmed)
    query = F.regexp_extract(col, r"^[^#]*\?([^#]*)", 1)
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (p != "")
                & ~p.startswith("utm_")
                & ~p.startswith("fbclid=")
                & ~p.startswith("gclid="),
            )
        ),
        "&",
    )
    return F.concat(
        scheme, F.lit("://"), host, port_c, path_c,
        F.when(params == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), params)),
    )
