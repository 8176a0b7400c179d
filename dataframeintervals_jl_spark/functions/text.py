"""Text-analysis functions for large-scale training-data pipelines.

All pure Column expressions (JVM-side, whole-stage-codegen'd) — these
run over the ``documents`` table at 100 TB scale without Python on the
hot path.  Beyond the reference's surface (it has no scalar functions,
SURVEY.md §2.C); added per the engine's training-data mandate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_RE = r"\S+"


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


def tokens(text) -> Column:
    """Whitespace tokens as an array column."""
    return F.regexp_extract_all(_c(text), F.lit(TOKEN_RE), 0)


def token_count(text) -> Column:
    return F.size(tokens(text))


def unique_token_count(text) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def char_count(text) -> Column:
    return F.length(_c(text))


# --- quality scoring -------------------------------------------------------

_PUNCT_RE = r"[^\w\s]"
_STOPWORDS = (
    "the,a,an,and,or,of,to,in,is,are,was,for,on,with,as,at,by,it,this,that"
).split(",")


def punct_count(text) -> Column:
    return F.size(F.regexp_extract_all(_c(text), F.lit(_PUNCT_RE), 0))


def stopword_count(text) -> Column:
    pat = r"\b(" + "|".join(_STOPWORDS) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(_c(text)), F.lit(pat), 0))


def quality_score(text) -> Column:
    """Heuristic [0,1] quality score: length sweet-spot x repetition x
    punctuation sanity.  Deterministic, expression-only."""
    t = _c(text)
    n_tok = token_count(t).cast("double")
    uniq_ratio = unique_token_count(t).cast("double") / F.greatest(n_tok, F.lit(1.0))
    len_ok = F.when((n_tok >= 10) & (n_tok <= 10000), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_ratio = punct_count(t).cast("double") / F.greatest(
        char_count(t).cast("double"), F.lit(1.0)
    )
    punct_ok = F.when(punct_ratio < 0.2, F.lit(1.0)).otherwise(F.lit(0.6))
    return len_ok * punct_ok * uniq_ratio


# --- language id -----------------------------------------------------------

#: tiny per-language stopword signals (n-gram heuristic; deterministic)
LANG_SIGNALS = {
    "en": r"\b(the|and|of|to|is|in|that|for|with)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein|zu)\b",
    "fr": r"\b(le|la|les|et|est|une|des|que|pour)\b",
    "es": r"\b(el|los|las|es|una|por|para|con|del)\b",
}


def lang_scores(text) -> list[tuple[str, Column]]:
    t = F.lower(_c(text))
    return [
        (lang, F.size(F.regexp_extract_all(t, F.lit(pat), 0)))
        for lang, pat in LANG_SIGNALS.items()
    ]


def lang_id(text) -> Column:
    """Argmax language with deterministic tie-break (signal order above,
    'und' when every score is zero)."""
    scores = lang_scores(text)
    best = scores[0][1]
    for _, s in scores[1:]:
        best = F.greatest(best, s)
    expr = F.lit("und")
    for lang, s in reversed(scores):
        expr = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


# --- fingerprinting --------------------------------------------------------


def content_hash(text) -> Column:
    """Exact-dup fingerprint (md5 hex)."""
    return F.md5(_c(text).cast("string"))


def portable_hash60(col) -> Column:
    """60-bit string hash that DuckDB computes bit-identically:
    the first 15 hex chars of md5, parsed as an integer.  SQL twin:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``.

    Used by the ``portable=True`` variants of minhash / simhash /
    rolling fingerprints so the driver's DuckDB oracle can recompute
    signatures exactly (xxhash64 has no SQL equivalent).  md5 is
    JVM-side and fine for catalog-scale runs; the xxhash64 default
    remains the high-throughput path."""
    return F.conv(F.substring(F.md5(_c(col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


#: DuckDB SQL fragment computing portable_hash60 of expression {x}
PORTABLE_HASH60_SQL = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


#: rolling-hash parameters: base and modulus chosen so that with
#: token hashes < M, every intermediate b*acc + h < 2^61 stays inside
#: long range even under Spark 4's ANSI overflow checking.
_ROLL_BASE = 1_000_003
_ROLL_MOD = (1 << 31) - 1


def rolling_fingerprint(text, portable: bool = False) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash
    over whitespace tokens, ``h = (h*B + hash(tok)) mod M``.

    Unlike :func:`content_hash` this survives whitespace normalization
    (tokens, not raw bytes, are hashed) while still being sensitive to
    token ORDER — shuffled documents get different fingerprints, which
    set-based MinHash deliberately ignores.  Pure expression (one
    ``aggregate`` pass).

    ``portable=True`` swaps the xxhash64 token hash for
    :func:`portable_hash60` so a DuckDB oracle can recompute the
    fingerprint exactly (``list_reduce`` over the same token hashes)."""
    base = (
        (lambda t: portable_hash60(t) % _ROLL_MOD)
        if portable
        else (lambda t: F.abs(F.xxhash64(t)) % _ROLL_MOD)
    )
    th = F.transform(tokens(text), base)
    return F.aggregate(
        th,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * _ROLL_BASE + h) % _ROLL_MOD,
    )


def shingles(text, k: int = 3) -> Column:
    """Word k-shingles as an array<string> — the unit for MinHash/Jaccard
    near-dup detection.

    Built by zipping ``k`` shifted views of the token array and joining
    each zipped row — the token regexp is evaluated O(k) times per row.
    The previous form (``transform`` over positions with ``slice(toks,
    i+1, k)`` in the lambda) re-evaluated the WHOLE tokenization per
    shingle position — O(shingles × regexp), measured 10× the cost of
    this shape on the benchmark corpus."""
    toks = tokens(text)
    n = F.size(toks)
    shifted = F.arrays_zip(*[F.slice(toks, j + 1, n) for j in range(k)])
    joined = F.transform(
        F.slice(shifted, 1, F.greatest(n - k + 1, F.lit(1))),
        lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)]),
    )
    return F.when(n < k, F.array(F.array_join(toks, " "))).otherwise(joined)


def repetition_score(text, k: int = 3) -> Column:
    """Fraction of word-k-gram occurrences that repeat an earlier
    occurrence in the same document: ``1 - distinct/total`` shingles.

    The standard repetition quality signal for training-corpus
    filtering (boilerplate, keyword stuffing, and generated loops score
    high; natural prose scores near 0).  Pure array expressions over
    :func:`shingles` — codegen'd, no shuffle, pushdown-friendly."""
    # shingles() always yields >= 1 element (short docs collapse to one
    # joined shingle), so the denominator is never zero; exactly two
    # references to the shingle expression — Catalyst does not CSE
    # across references, so each one re-evaluates the whole pipeline
    sh = shingles(text, k)
    return F.lit(1.0) - F.size(F.array_distinct(sh)).cast("double") / F.size(
        sh
    ).cast("double")


#: PII scrub patterns, applied in order.  Deliberately simple,
#: anchor-free regexes that mean the same thing in Java's engine
#: (Spark) and RE2 (DuckDB): no backreferences, no lookaround, no
#: possessive quantifiers — the cross-engine-replayable subset.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # uuid MUST precede phone: a UUID's trailing 12-hex group can be
    # all digits and would be eaten as <PHONE>
    (
        "uuid",
        r"\b[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
        r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\b",
        "<UUID>",
    ),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    # ssn MUST precede phone: an SSN-shaped id also matches the
    # looser phone digit-run and would be eaten as <PHONE>
    ("ssn_like", r"\b\d{3}-\d{2}-\d{4}\b", "<ID>"),
    ("phone", r"\+?\d[\d\- ]{7,14}\d", "<PHONE>"),
)


def scrub_patterns(text, rules) -> Column:
    """Generic ordered pattern scrub: ``rules`` is an iterable of
    ``(name, pattern, replacement)``; each pattern is applied as one
    ``regexp_replace`` in order, so earlier rules eat their text
    before later ones see it.  Pure chained expression — codegen'd,
    no Python — and callers who stay inside the RE2-compatible subset
    (no backreferences/lookaround) get exact DuckDB replayability.
    The PII scrub is :func:`redact_pii` = these rules pinned to
    :data:`PII_PATTERNS`."""
    out = _c(text)
    for _, pat, tag in rules:
        out = F.regexp_replace(out, pat, tag)
    return out


def pattern_counts(text, rules) -> list[tuple[str, Column]]:
    """(name, count) expression per rule — the audit side of
    :func:`scrub_patterns`.  Counted on the PRE-scrub text, each
    pattern independently (an SSN therefore also counts as a phone
    digit-run; the scrub itself is ordered, the audit is not)."""
    t = _c(text)
    return [
        (name, F.size(F.regexp_extract_all(t, F.lit(pat), 0)))
        for name, pat, _ in rules
    ]


def match_spans(text, pattern) -> Column:
    """Character spans ``array<struct<start,stop>>`` (0-based,
    closed-open — the engine's span convention) of every
    non-overlapping left-to-right match of ``pattern`` — the
    span-level report under :func:`scrub_patterns`'s counts, shaped
    like the interval columns so downstream span algebra
    (merge/excise/coverage) applies directly.

    Expression-only derivation with no position UDF: ``split`` yields
    the between-match segments, ``regexp_extract_all`` the matches;
    match *k* starts at ``len(parts[1..k]) + len(matches[1..k-1])``.
    Quadratic in the per-row match count (fine: PII hits per document
    are few), linear in text size, fully codegen'd.

    ``pattern`` must NOT be able to match the empty string (``a*``,
    ``\\d?`` …): ``split`` and ``regexp_extract_all`` disagree on
    empty matches, which would silently misplace every span.
    Empty-matchable patterns are rejected here with ``ValueError``
    (checked via Python ``re`` — a conservative stand-in for the JVM
    engine; all built-in :data:`PII_PATTERNS` are safe)."""
    import re as _re

    try:
        if _re.compile(pattern).match("") is not None:
            raise ValueError(
                "match_spans: pattern can match the empty string "
                f"({pattern!r}) — split/regexp_extract_all offsets "
                "disagree on empty matches; anchor or quantify the "
                "pattern so every match is non-empty"
            )
    except _re.error:
        pass  # JVM-only syntax — Python can't vet it; trust the caller
    t = _c(text)
    ms = F.regexp_extract_all(t, F.lit(pattern), 0)
    ps = F.split(t, pattern)
    k = F.size(ms)

    def _span_at(i):
        zero = F.lit(0).cast("long")
        pre = F.aggregate(
            F.slice(ps, F.lit(1), i), zero, lambda a, x: a + F.length(x)
        )
        prem = F.aggregate(
            F.slice(ms, F.lit(1), i - F.lit(1)),
            zero,
            lambda a, x: a + F.length(x),
        )
        start = pre + prem
        return F.struct(
            start.alias("start"),
            (start + F.length(F.element_at(ms, i))).alias("stop"),
        )

    # k == 0 guard: sequence(1, 0) defaults to step -1 and yields
    # [1, 0]; the empty case must be an empty (typed) array
    return F.when(
        k >= 1, F.transform(F.sequence(F.lit(1), k), _span_at)
    ).otherwise(
        F.array().cast("array<struct<start: bigint, stop: bigint>>")
    )


def clean_text(text) -> Column:
    """C4-style text cleanup: strip C0/C1-ish control characters
    (keeping tab/newline only long enough to fold them), collapse all
    whitespace runs to one space, trim.  Pure chained
    ``regexp_replace`` in the RE2-compatible subset, so a SQL oracle
    replays the exact output string — the standard first projection
    of a crawl-ingest pipeline."""
    out = F.regexp_replace(
        _c(text), r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", ""
    )
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def redact_pii(text) -> Column:
    """Scrub personally-identifiable substrings: emails, UUIDs, IPv4s,
    phone-ish digit runs, SSN-shaped ids — replaced with typed
    placeholder tags, applied in :data:`PII_PATTERNS` order (earlier
    patterns eat their text before later ones see it, so an email's
    host never half-matches as a phone).  Pure chained
    ``regexp_replace`` — codegen'd, no Python, and the pattern subset
    is chosen to behave identically under RE2 so a SQL oracle replays
    the exact output string.

    This is the REVERSIBILITY-FREE form (tags carry no index): the
    standard pre-training scrub.  For pseudonymization keyed to the
    original value, hash the match instead — a different operator.
    """
    return scrub_patterns(text, PII_PATTERNS)


def pii_counts(text) -> list[tuple[str, Column]]:
    """(name, count) expression per PII pattern — the audit side of
    :func:`redact_pii` (how much did the scrub touch?).  Counted on
    the PRE-redaction text, each pattern independently."""
    return pattern_counts(text, PII_PATTERNS)


# ---------------------------------------------------------------------------
# HTML / markup boilerplate extraction (crawl-ingest stage ZERO)
# ---------------------------------------------------------------------------
# The curation chain used to assume already-extracted text; real crawl
# data arrives as markup.  These are a public-knowledge extraction rule
# set in the jusText / trafilatura SHAPE (tag strip + per-block
# link-density / length filtering), built ENTIRELY from Column
# expressions in the RE2-compatible regex subset (no backreferences, no
# lookaround) so a DuckDB oracle replays the exact output bytes.

#: block-level elements — boundaries between candidate text blocks
_BLOCK_TAGS = (
    "p|div|br|h1|h2|h3|h4|h5|h6|li|ul|ol|table|tr|td|th|section|"
    "article|header|footer|nav|aside|blockquote|pre|form|title"
)
_BLOCK_TAG_RE = rf"(?i)</?(?:{_BLOCK_TAGS})\b[^>]*>"
_ANY_TAG_RE = r"<[^>]*>"
#: anchor ELEMENTS (tag + content) — RE2-safe: no \1 backreference,
#: the closing tag is spelled out
_ANCHOR_ELEM_RE = r"(?is)<a\b[^>]*>.*?</a\s*>"
#: non-content elements stripped WITH their contents
_DROP_ELEM_RES = (
    r"(?is)<script\b[^>]*>.*?</script\s*>",
    r"(?is)<style\b[^>]*>.*?</style\s*>",
    r"(?s)<!--.*?-->",
)

#: (entity, replacement) — applied in order, ``&amp;`` LAST so already-
#: decoded ampersands never double-decode
_HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def _strip_drop_elements(html) -> Column:
    """Remove script/style elements (with contents) and comments."""
    out = _c(html)
    for pat in _DROP_ELEM_RES:
        out = F.regexp_replace(out, pat, " ")
    return out


def decode_entities(text) -> Column:
    """Decode the common named HTML entities (nbsp/lt/gt/quot/#39/amp),
    ``&amp;`` last.  Plain ``replace`` chains — no regex, identical in
    any engine."""
    out = _c(text)
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return out


def _tagless(block) -> Column:
    """One block's visible text: strip remaining (inline) tags, decode
    entities, collapse whitespace, trim."""
    out = F.regexp_replace(_c(block), _ANY_TAG_RE, "")
    out = decode_entities(out)
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def html_blocks(html) -> Column:
    """Markup → array of candidate blocks (still carrying their inline
    tags, so per-block link density is computable): script/style/
    comments dropped with contents, every block-level tag becomes a
    newline boundary, split on newline runs, empties dropped."""
    out = _strip_drop_elements(html)
    out = F.regexp_replace(out, _BLOCK_TAG_RE, "\n")
    arr = F.split(out, r"\n+")
    return F.filter(arr, lambda b: F.trim(b) != F.lit(""))


def strip_tags(html) -> Column:
    """Whole-document tag strip (no block filtering): drop script/
    style/comments with contents, every other tag becomes a space,
    entities decode, whitespace collapses.  The baseline extractor —
    :func:`html_extract` is this plus boilerplate block filtering."""
    out = _strip_drop_elements(html)
    out = F.regexp_replace(out, _BLOCK_TAG_RE, " ")
    out = F.regexp_replace(out, _ANY_TAG_RE, "")
    out = decode_entities(out)
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def block_link_density_ppt(block) -> Column:
    """Per-block link density in EXACT integer parts-per-thousand:
    floor(1000 · anchor_chars / text_chars), where anchor_chars is the
    visible text inside ``<a>`` elements (block text length minus the
    length with anchor ELEMENTS removed).  The floor is computed over
    an exactly-representable double quotient (lengths ≪ 2^26, so
    1000·a and b are exact and the correctly-rounded division cannot
    cross an integer boundary) — bit-identical to DuckDB's integer
    ``//``.  0 for blocks with no visible text."""
    b = _c(block)
    full = F.length(_tagless(b))
    sans = F.length(_tagless(F.regexp_replace(b, _ANCHOR_ELEM_RE, " ")))
    anchor = F.greatest(full - sans, F.lit(0))
    return F.when(
        full > 0, F.floor(anchor * 1000 / full)
    ).otherwise(F.lit(0)).cast("long")


def html_extract(
    html,
    min_text_chars: int = 20,
    max_link_density_ppt: int = 330,
) -> Column:
    """Markup → main text, the jusText/trafilatura-shaped boilerplate
    filter as ONE pure expression: split into block candidates
    (:func:`html_blocks`), keep blocks whose visible text has at least
    ``min_text_chars`` characters AND link density at most
    ``max_link_density_ppt`` (nav bars, footers, ad units and short
    chrome drop; body paragraphs survive), then join the kept blocks'
    visible text with single newlines.  All thresholds integral, every
    regex RE2-safe — a SQL oracle replays the exact output string.
    Feed the result to :func:`clean_text` / quality scoring exactly as
    already-extracted text.

    Per-block cost (round 11): the visible text and the anchor-
    stripped length are computed ONCE per block in an enrichment
    ``transform`` and the filter reads the precomputed struct fields.
    The previous shape evaluated :func:`_tagless` four times per kept
    block (filter condition, twice inside the density, and again in
    the output transform) — lambda bodies get no subexpression
    elimination, so every reference paid the full strip+decode+
    collapse regex chain (measured 2x on the bench corpus)."""
    enriched = F.transform(
        html_blocks(html),
        lambda b: F.struct(
            _tagless(b).alias("txt"),
            F.length(
                _tagless(F.regexp_replace(b, _ANCHOR_ELEM_RE, " "))
            ).alias("sans_len"),
        ),
    )

    def _keep(s):
        # block_link_density_ppt's exact formula over the precomputed
        # lengths: floor(1000·anchor/full), 0 when no visible text
        full = F.length(s.getField("txt"))
        anchor = F.greatest(full - s.getField("sans_len"), F.lit(0))
        ppt = (
            F.when(full > 0, F.floor(anchor * 1000 / full))
            .otherwise(F.lit(0))
            .cast("long")
        )
        return (full >= F.lit(int(min_text_chars))) & (
            ppt <= F.lit(int(max_link_density_ppt))
        )

    return F.array_join(
        F.transform(
            F.filter(enriched, _keep), lambda s: s.getField("txt")
        ),
        "\n",
    )


#: abbreviations whose trailing dot must not end a sentence — a small
#: DOCUMENTED list (public-suffix-style completeness is a data file,
#: not an engine concern; callers can pre-protect their own)
ABBREV_RE = r"\b(Mr|Mrs|Ms|Dr|Prof|Sr|Jr|St|vs|etc|No|Fig)\."
_SENT_MARK = "\x1e"
_DOT_GUARD = "\x1f"


def split_sentences(text) -> Column:
    """Sentence segmentation as a pure expression (the chunking /
    packing precursor): protect :data:`ABBREV_RE` dots, mark a
    boundary at ``[.!?]`` + whitespace + an uppercase/digit sentence
    start (RE2 has no lookaround, so the start character is consumed
    and re-emitted by the replacement), split on the marker, restore
    protected dots, trim, drop empties.  Returns ``array<string>``.

    Deliberately conservative: lowercase continuations ("... end. and
    then") do NOT split — on crawl text that heuristic loses less
    than it gains (the jusText stance).  Byte-replayable in SQL (the
    oracle uses the same patterns with ``\\1`` replacement syntax)."""
    protected = F.regexp_replace(_c(text), ABBREV_RE, "$1" + _DOT_GUARD)
    marked = F.regexp_replace(
        protected, r"([.!?])\s+([A-Z0-9])", "$1" + _SENT_MARK + "$2"
    )
    arr = F.split(marked, _SENT_MARK)
    restored = F.transform(
        arr, lambda s: F.trim(F.replace(s, F.lit(_DOT_GUARD), F.lit(".")))
    )
    return F.filter(restored, lambda s: s != F.lit(""))


# --- readability -----------------------------------------------------------

_VOWEL_RUN_RE = r"[aeiouy]+"
_SENT_TERM_RE = r"[.!?]+"


def syllable_count(text) -> Column:
    """Vowel-group syllable heuristic: runs of ``[aeiouy]`` in the
    lowercased text (the standard public approximation behind
    Flesch-family tooling — silent-e and diphthong corrections are
    deliberately omitted so the count is byte-replayable in SQL)."""
    return F.size(
        F.regexp_extract_all(F.lower(_c(text)), F.lit(_VOWEL_RUN_RE), 0)
    )


def sentence_count(text) -> Column:
    """Terminator-run sentence count: ``[.!?]+`` occurrences, floored
    at 1 so headline-style fragments count as one sentence."""
    return F.greatest(
        F.size(F.regexp_extract_all(_c(text), F.lit(_SENT_TERM_RE), 0)),
        F.lit(1),
    )


def flesch_reading_ease(words, sentences, syllables) -> Column:
    """Flesch reading ease (Flesch 1948, public formula):
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`` —
    ONE fixed-order double formula over the three exact integer
    counts; NULL when there are no words."""
    w, s, y = _c(words), _c(sentences), _c(syllables)
    return F.when(
        w > 0,
        F.lit(206.835)
        - F.lit(1.015) * (w.cast("double") / s.cast("double"))
        - F.lit(84.6) * (y.cast("double") / w.cast("double")),
    )


def fk_grade_level(words, sentences, syllables) -> Column:
    """Flesch-Kincaid grade level (Kincaid et al. 1975):
    ``0.39·(words/sentences) + 11.8·(syllables/words) − 15.59`` —
    same exact-integer inputs and NULL-on-empty guard."""
    w, s, y = _c(words), _c(sentences), _c(syllables)
    return F.when(
        w > 0,
        F.lit(0.39) * (w.cast("double") / s.cast("double"))
        + F.lit(11.8) * (y.cast("double") / w.cast("double"))
        - F.lit(15.59),
    )


# --- code-vs-prose detection -----------------------------------------------

#: code-indicative symbols (kept free of ]/[ so the class is quoted
#: identically in Spark and DuckDB string literals)
_CODE_SYM_RE = r"[{}();=<>|&]"
#: case-sensitive keyword list shared by mainstream languages
_CODE_KW_RE = (
    r"\b(def|return|import|function|class|const|var|void|int|float"
    r"|public|static|struct|fn|let|lambda|elif|endif|typedef)\b"
)
#: indented-line starts (4 spaces or a tab), multiline mode
_CODE_INDENT_RE = r"(?m)^(\t|    )"

#: parts-per-thousand weights of the three signals (pinned constants —
#: tuned on the obvious extremes, not learned)
_CODE_W_SYM, _CODE_W_KW, _CODE_W_INDENT = 20, 50, 30
#: ppt threshold above which a document counts as code
CODE_PPT_THRESHOLD = 120


def code_signal_counts(text) -> "list[tuple[str, Column]]":
    """Exact integer counts of the three code signals."""
    t = _c(text)
    return [
        ("n_sym", F.size(F.regexp_extract_all(t, F.lit(_CODE_SYM_RE), 0))),
        ("n_kw", F.size(F.regexp_extract_all(t, F.lit(_CODE_KW_RE), 0))),
        (
            "n_indent",
            F.size(F.regexp_extract_all(t, F.lit(_CODE_INDENT_RE), 0)),
        ),
    ]


def code_score_ppt(
    n_sym: str = "n_sym",
    n_kw: str = "n_kw",
    n_indent: str = "n_indent",
    n_chars: str = "n_chars",
) -> Column:
    """Code-likeness in parts-per-thousand: the weighted signal mass
    over the character count, clamped to 1000 — exact truncating
    integer arithmetic via ``div`` (never a double quotient, whose
    floor can land on the wrong side of an integer boundary); prose
    scores ~0-40, real code hundreds.  Takes COLUMN NAMES.  The
    separation of code from prose is a standard curation stage
    (code-vs-text routing feeds different tokenizers and mixers)."""
    return F.expr(
        f"least(1000, (({n_sym} * {_CODE_W_SYM}"
        f" + {n_kw} * {_CODE_W_KW}"
        f" + {n_indent} * {_CODE_W_INDENT}) * 1000)"
        f" div greatest({n_chars}, 1))"
    )
