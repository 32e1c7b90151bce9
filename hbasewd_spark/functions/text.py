"""Text-analysis functions for training-data pipelines (north-star
extension, BASELINE.json): language ID, quality scoring, token
counting, document fingerprinting.

Each function is ONE Spark SQL text plus ONE DuckDB twin, both written
by its ``sql_*(expr, dialect)`` builder: the Column function is
``F.expr`` over the Spark text, so there is a single definition per
engine and building a column costs one py4j call (a Column-API
builder sent one per node — thousands for the lang/quality gates). The
texts use built-ins only (no UDFs — at 100 TB these run inside
whole-stage codegen on the scan), with deterministic arithmetic that
the DuckDB oracle reproduces bit-for-bit. Double literals carry the
``D`` suffix on the Spark side: a bare ``0.4`` is a DECIMAL there.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

FNV_MOD = 1_000_000_007
# second independent modulus: a fingerprint collision requires equality
# mod BOTH primes (~2^60 combined space) — a single 1e9+7 hash has a
# ~2^30 space where corpus-scale dedup would silently drop distinct
# documents (birthday bound ~50% at 37k docs)
FNV_MOD2 = 998_244_353

# tiny per-language stopword sets for the n-gram/stopword heuristic —
# deterministic and cheap; a real deployment would swap in fastText etc.
LANG_MARKERS = {
    "en": ["the", "and", "of", "a", "is"],
    "de": ["der", "und", "das", "ist", "ein"],
    "fr": ["le", "et", "la", "est", "un"],
    "es": ["el", "y", "la", "es", "un"],
}


def _sql_str(s: str, dialect: str) -> str:
    """Quote-free ``s`` as a string literal of ``dialect``. Spark's
    parser reads backslash escapes inside literals (a raw ``\\b``
    would be a backspace), DuckDB's does not."""
    if dialect == "spark":
        s = s.replace("\\", "\\\\")
    return f"'{s}'"


def _ident(name: str) -> str:
    """Column ``name`` as a quoted Spark SQL identifier, so any name
    (spaces, hyphens, dots, reserved words) refers to that column."""
    return "`" + name.replace("`", "``") + "`"


def _dbl(x: float, dialect: str) -> str:
    """A DOUBLE literal (Spark reads a bare ``0.4`` as a DECIMAL)."""
    return f"{x!r}D" if dialect == "spark" else repr(x)


def tokens(col: str) -> Column:
    """Lowercased alphanumeric tokens (the whitespace+punct tokenizer)."""
    return F.expr(sql_tokens(_ident(col), "spark"))


def sql_tokens(expr: str, dialect: str) -> str:
    if dialect == "spark":
        return f"filter(split(lower({expr}), '[^a-z0-9]+'), x -> x != '')"
    return f"list_filter(string_split_regex(lower({expr}), '[^a-z0-9]+'), x -> x != '')"


def token_count(col: str) -> Column:
    return F.expr(sql_token_count(_ident(col), "spark"))


def sql_token_count(expr: str, dialect: str) -> str:
    if dialect == "spark":
        return f"size({sql_tokens(expr, dialect)})"
    return f"len({sql_tokens(expr, dialect)})"


_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(col: str) -> Column:
    """BPE-ish subword proxy: words + digit runs + punctuation marks
    each count as a token (a cheap, deterministic stand-in for a real
    tokenizer's token count; the regex mirrors GPT-2's coarse classes).
    """
    return F.expr(sql_bpe_ish_token_count(_ident(col), "spark"))


def sql_bpe_ish_token_count(expr: str, dialect: str) -> str:
    pat = _sql_str(_BPE_ISH, dialect)
    if dialect == "spark":
        return f"regexp_count({expr}, {pat})"
    return f"len(regexp_extract_all({expr}, {pat}))"


def alpha_ratio(col: str) -> Column:
    """Fraction of characters that are ASCII letters (0 for empty)."""
    return F.expr(sql_alpha_ratio(_ident(col), "spark"))


def _sql_n_alpha(expr: str, dialect: str) -> str:
    flags = ", 'g'" if dialect == "duckdb" else ""
    return f"CAST(length(regexp_replace({expr}, '[^A-Za-z]', ''{flags})) AS DOUBLE)"


def sql_alpha_ratio(expr: str, dialect: str) -> str:
    return (
        f"CASE WHEN length({expr}) > 0 THEN "
        f"{_sql_n_alpha(expr, dialect)} / CAST(length({expr}) AS DOUBLE) "
        f"ELSE {_dbl(0.0, dialect)} END"
    )


def sql_marker_count(expr: str, words: list[str], dialect: str) -> str:
    pat = _sql_str(r"\b(" + "|".join(words) + r")\b", dialect)
    if dialect == "spark":
        return f"regexp_count(lower({expr}), {pat})"
    return f"len(regexp_extract_all(lower({expr}), {pat}))"


def lang_id(col: str) -> Column:
    """Stopword-marker language heuristic: argmax of per-language marker
    counts; 'und' (undetermined) when no marker fires. Ties break by
    language code order (deterministic)."""
    return F.expr(sql_lang_id(_ident(col), "spark"))


def sql_lang_id(expr: str, dialect: str) -> str:
    """Inline (subquery-free, so it works in any select position on
    both engines): the first language in code order whose marker count
    reaches the max wins."""
    scored = [(lang, sql_marker_count(expr, ws, dialect)) for lang, ws in sorted(LANG_MARKERS.items())]
    greatest = "greatest(" + ", ".join(s for _, s in scored) + ")"
    out = "'und'"
    for lang, s in reversed(scored):
        out = f"CASE WHEN {s} = {greatest} THEN '{lang}' ELSE {out} END"
    return f"(CASE WHEN {greatest} > 0 THEN {out} ELSE 'und' END)"


def quality_score(col: str) -> Column:
    """Deterministic [0,1] quality heuristic:
    0.4·min(1, tokens/100) + 0.4·alpha_ratio + 0.2·[5 ≤ mean_word_len·10 ≤ 120].
    Pure double arithmetic with a fixed op order (oracle-identical)."""
    return F.expr(sql_quality_score(_ident(col), "spark"))


def sql_quality_score(expr: str, dialect: str) -> str:
    def d(x: float) -> str:
        return _dbl(x, dialect)

    ntok = f"CAST({sql_token_count(expr, dialect)} AS DOUBLE)"
    n_alpha = _sql_n_alpha(expr, dialect)
    a_ratio = sql_alpha_ratio(expr, dialect)
    if dialect == "spark":
        len_term = f"least({d(1.0)}, {ntok} / {d(100.0)})"
    else:
        len_term = f"(CASE WHEN {ntok} / 100.0 < 1.0 THEN {ntok} / 100.0 ELSE 1.0 END)"
    mean_wl10 = f"(CASE WHEN {ntok} > 0 THEN {n_alpha} * {d(10.0)} / {ntok} ELSE {d(0.0)} END)"
    wl_ok = (
        f"(CASE WHEN {mean_wl10} >= {d(5.0)} AND {mean_wl10} <= {d(120.0)}"
        f" THEN {d(1.0)} ELSE {d(0.0)} END)"
    )
    return f"{d(0.4)} * {len_term} + {d(0.4)} * ({a_ratio}) + {d(0.2)} * {wl_ok}"


_WS_RUN = r"\s+"


def fingerprint(col: str) -> Column:
    """Rolling 31-polynomial hash of the character stream of the
    normalized (lowercased, whitespace-collapsed) text under TWO
    independent prime moduli, combined as ``h1 * M2 + h2`` — a ~60-bit
    content fingerprint stable under trailing-whitespace noise.
    Collision needs agreement mod both primes, so corpus-scale exact
    dedup doesn't silently merge distinct documents."""
    return F.expr(sql_fingerprint(_ident(col), "spark"))


def sql_fingerprint(expr: str, dialect: str) -> str:
    ws = _sql_str(_WS_RUN, dialect)
    if dialect == "spark":
        # SINGLE pass with a struct accumulator: two separate aggregate()
        # calls would inline (and so evaluate) the per-char cps array
        # twice — measured 3x on the curation pipeline. The DuckDB twin
        # keeps the two-reduce form (list_reduce has no struct-friendly
        # init there); same values, and the oracle only needs to be
        # correct, not fast.
        norm = f"trim(regexp_replace(lower({expr}), {ws}, ' '))"
        cps = f"transform(split({norm}, ''), ch -> CAST(ascii(ch) AS BIGINT))"
        return (
            f"aggregate({cps},"
            f" named_struct('a', CAST(7 AS BIGINT), 'b', CAST(7 AS BIGINT)),"
            f" (acc, cp) -> named_struct('a', (acc.a * 31 + cp) % {FNV_MOD},"
            f" 'b', (acc.b * 31 + cp) % {FNV_MOD2}),"
            f" acc -> acc.a * {FNV_MOD2} + acc.b)"
        )
    norm = f"trim(regexp_replace(lower({expr}), {ws}, ' ', 'g'))"
    cps = f"list_transform(string_split({norm}, ''), ch -> CAST(ascii(ch) AS BIGINT))"
    # duckdb list_reduce has no init -> prepend it
    roll = lambda mod: (  # noqa: E731
        f"list_reduce(list_prepend(CAST(7 AS BIGINT), {cps}),"
        f" (h, cp) -> (h * 31 + cp) % {mod})"
    )
    return f"({roll(FNV_MOD)} * {FNV_MOD2} + {roll(FNV_MOD2)})"


# ---------------------------------------------------------------------------
# PII scrubbing (training-data redaction)
# ---------------------------------------------------------------------------

# conservative patterns restricted to the regex subset Java (Spark) and
# RE2 (DuckDB) evaluate identically — no backrefs, no lookaround, and
# no backslash metachars (Spark SQL string literals eat backslashes, so
# [.] / [+] classes keep the pattern embeddable in both SQL dialects)
PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
PII_PHONE = r"[+]?[0-9][0-9 ()-]{6,}[0-9]"


def pii_counts(col: Column | str) -> tuple[Column, Column]:
    """(n_emails, n_phones) found in the text."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.regexp_count(c, F.lit(PII_EMAIL)),
        F.regexp_count(c, F.lit(PII_PHONE)),
    )


def scrub_pii(col: Column | str) -> Column:
    """Redact emails then phones (fixed order — the oracle mirrors it;
    emails go first so their digit runs can't be half-eaten by the
    phone pattern). Pure regexp_replace: stays in codegen on the scan,
    no UDF — at 100 TB this runs at full scan throughput."""
    c = F.col(col) if isinstance(col, str) else col
    no_email = F.regexp_replace(c, PII_EMAIL, "<EMAIL>")
    return F.regexp_replace(no_email, PII_PHONE, "<PHONE>")


def sql_pii_counts(expr: str, dialect: str) -> tuple[str, str]:
    if dialect == "spark":
        return (
            f"regexp_count({expr}, '{PII_EMAIL}')",
            f"regexp_count({expr}, '{PII_PHONE}')",
        )
    return (
        f"len(regexp_extract_all({expr}, '{PII_EMAIL}'))",
        f"len(regexp_extract_all({expr}, '{PII_PHONE}'))",
    )


def sql_scrub_pii(expr: str, dialect: str) -> str:
    if dialect == "spark":
        return (
            f"regexp_replace(regexp_replace({expr}, '{PII_EMAIL}', '<EMAIL>'),"
            f" '{PII_PHONE}', '<PHONE>')"
        )
    return (
        f"regexp_replace(regexp_replace({expr}, '{PII_EMAIL}', '<EMAIL>', 'g'),"
        f" '{PII_PHONE}', '<PHONE>', 'g')"
    )
