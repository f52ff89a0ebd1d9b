"""PII scrubbing — redaction pass for training-data curation.

Standard practice for web-corpus preparation: replace emails / IPv4
addresses / phone-like numbers with typed placeholder tokens before
text enters a training set. Pure ``regexp_replace`` chain (JVM-side,
whole-stage codegen — no Python in the hot path), with integer match
counts as evidence columns.

Engine portability is engineered the same way as urlkit: one
``_PII_STEPS`` list is the single source of truth; the DuckDB chain is
DERIVED from it (``PII_STEPS_SQL``), and the patterns use only
constructs with identical semantics in Java regex and RE2 (explicit
``[0-9]`` classes, no lookaround, no backreferences; ``\\b`` is an ASCII
word boundary in both on this corpus).

Order matters and is part of the spec: emails first (their local parts
contain digits), then IPv4 (so dotted quads don't half-match as
phones), then phone-like runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "PII_SAMPLES",
    "PII_STEPS_SQL",
    "PII_COUNT_SQL",
    "scrub_pii",
    "with_scrubbed_text",
    "CARD_RE",
    "CARD_SAMPLES",
    "LUHN_SQL",
    "with_card_scrub",
]

# (name, pattern, replacement) — applied in order.
_PII_STEPS: list[tuple[str, str, str]] = [
    (
        "email",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    (
        "ip",
        r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
        "<IP>",
    ),
    # Three phone shapes, each with an unambiguous anchor so ordinary
    # numeric text (ISO dates, year/page ranges, spaced decimals) is
    # never swallowed — a redaction false positive silently corrupts
    # training text, so this rule trades recall for precision:
    #   1. international: leading '+' (the anchor), then grouped digits;
    #   2. parenthesized area code: (NNN) NNN?-NNNN;
    #   3. separator-delimited triple: 2-4 digits [-.] 3-4 [-.] 3-4 —
    #      dashes/dots only (no spaces), which excludes dates
    #      (4-2-2 / 2-2-4 group shapes don't fit 3-4 middle/tail runs).
    (
        "phone",
        r"\+[0-9]{1,3}[-. ]?\(?[0-9]{1,4}\)?(?:[-. ]?[0-9]{2,4}){1,4}"
        r"|\([0-9]{3}\)[-. ]?[0-9]{3}[-. ]?[0-9]{4}"
        r"|\b[0-9]{2,4}[-.][0-9]{3,4}[-.][0-9]{3,4}\b",
        "<PHONE>",
    ),
]

# Planted corpus exercising every rule (and the precedence rules):
# the driver query unions these under the documents table so the value
# check is never vacuous on a clean corpus. Single source of truth for
# the Spark query AND the DuckDB-oracle VALUES list.
PII_SAMPLES: list[str] = [
    "contact me at alice.smith+spam@example.co.uk for details",
    "server logs show 192.168.1.254 and 10.0.0.1 connecting",
    "call +1 (555) 867-5309 or 555-123-9876 today",
    "mixed: bob@test.org from 127.0.0.1 dialed (555) 123-4567",
    "no pii here, just plain text about spark partitions",
    "almost an ip 999.999 and almost a mail foo@bar but not quite",
    # numeric text that must SURVIVE the phone rule (precision cases)
    "released on 2026-08-17 and revised 17.08.2026 worldwide",
    "pages 1000-1150 cover it; score was 3.14159 26535 approx",
    "from 1914. 1918 ended it, and 10.15.7 is a version",
]


def scrub_pii(col: Column) -> Column:
    """Redacted form of a text column (chain of anchored replaces)."""
    out = col
    for _, pat, rep in _PII_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return out


def with_scrubbed_text(df: DataFrame) -> DataFrame:
    """Adds ``scrubbed`` plus one integer match-count column per rule
    (n_email / n_ip / n_phone), counted BEFORE redaction. Counts are
    computed per step on the partially-scrubbed text, mirroring the
    replacement order, so precedence is observable (an IP inside an
    email is counted once, as the email)."""
    # staged: each step's input is the previous step's output, so the
    # chain is evaluated once per row (no multi-reference CSE hazard).
    # NULL→'' at the root: Spark's size(regexp_extract_all(NULL)) and
    # DuckDB's len(...) disagree on NULL, so neither engine ever sees one
    out = df.withColumn("_s0", F.coalesce(F.col("text"), F.lit("")))
    counts = []
    for i, (name, pat, rep) in enumerate(_PII_STEPS):
        cur, nxt = f"_s{i}", f"_s{i + 1}"
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col(cur), F.lit(pat), 0)),
        ).withColumn(nxt, F.regexp_replace(F.col(cur), pat, rep))
        counts.append(f"n_{name}")
    return out.withColumn(
        "scrubbed", F.col(f"_s{len(_PII_STEPS)}")
    ).drop(*[f"_s{i}" for i in range(len(_PII_STEPS) + 1)])


def _lit(s: str) -> str:
    """Single-quoted DuckDB string literal (quotes doubled — a pattern
    or replacement containing ``'`` must not silently break the derived
    oracle SQL)."""
    return "'" + s.replace("'", "''") + "'"


def PII_STEPS_SQL(c: str) -> str:
    """DuckDB expression for the scrubbed text, derived from the same
    _PII_STEPS list ('g' flag = Spark's replace-all semantics)."""
    expr = c
    for _, pat, rep in _PII_STEPS:
        expr = f"regexp_replace({expr}, {_lit(pat)}, {_lit(rep)}, 'g')"
    return expr


def PII_COUNT_SQL(c: str, step: int) -> str:
    """DuckDB expression for step ``step``'s match count: matches of the
    step's pattern in the text AFTER the previous steps' replacements
    (mirrors with_scrubbed_text's staging)."""
    expr = c
    for _, pat, rep in _PII_STEPS[:step]:
        expr = f"regexp_replace({expr}, {_lit(pat)}, {_lit(rep)}, 'g')"
    return f"len(regexp_extract_all({expr}, {_lit(_PII_STEPS[step][1])}))"


# Credit-card redaction: candidates by shape, CONFIRMED by the Luhn
# mod-10 checksum before any replacement happens — a bare 13-19-digit
# or 4x4-grouped run that fails Luhn (order ids, grouped years) is
# provably not a card number and must survive verbatim (the same
# precision-over-recall stance as the phone rule above).
CARD_RE = r"\b(?:[0-9]{4}[- ]){3}[0-9]{4}\b|\b[0-9]{13,19}\b"

# Fixture corpus (PII_SAMPLES precedent; Luhn-valid numbers are the
# public test-card numbers every payment sandbox documents).
CARD_SAMPLES: list[str] = [
    "pay with 4111 1111 1111 1111 now",          # valid, spaced
    "or 4111-1111-1111-1111 dashed",             # valid, dashed
    "amex 378282246310005 works too",            # valid, bare 15
    "bare 4532015112830366 inline",              # valid, bare 16
    "fake 1234 5678 9012 3456 fails luhn",       # shape hit, invalid
    "order id 1234567890123456 stays",           # shape hit, invalid
    "1914 1918 2026 2024 grouped years stay",    # shape hit, invalid
    "phone 555-123-9876 is not card-shaped",     # no candidate
    "clean text about spark partitions",         # no candidate
]

# Luhn checksum as a portable SQL boolean over one candidate string
# {c}: strip non-digits, double every second digit from the RIGHT
# (subtracting 9 above 9), sum mod 10 = 0. Uses only constructs with
# identical semantics in Spark SQL and DuckDB (1-indexed substring,
# ascii, integer %). The digit string is re-derived per reference —
# candidates are <= 19 chars, and higher-order functions are
# interpreted anyway (CodegenFallback), so staging buys nothing here.
def LUHN_SQL(c: str, engine: str) -> str:
    d = f"regexp_replace({c}, '[^0-9]', ''" + (", 'g')" if engine == "duckdb" else ")")
    dig = f"(ascii(substring({d}, cast(i as int), 1)) - 48)"
    if engine == "spark":
        dig = f"(ascii(substring({d}, i, 1)) - 48)"
    body = (
        f"CASE WHEN (length({d}) - i) % 2 = 1 "
        f"THEN CASE WHEN 2*{dig} > 9 THEN 2*{dig} - 9 ELSE 2*{dig} END "
        f"ELSE {dig} END"
    )
    if engine == "spark":
        return (
            f"aggregate(sequence(1, length({d})), 0, "
            f"(acc, i) -> acc + {body}) % 10 = 0"
        )
    return (
        f"list_sum(list_transform(range(1, length({d}) + 1), "
        f"i -> {body})) % 10 = 0"
    )


def with_card_scrub(df: DataFrame) -> DataFrame:
    """Adds ``card_scrubbed`` (text with every LUHN-VALID card-shaped
    number replaced by ``<CARD>``) and ``n_card`` (count of validated
    numbers). Shape candidates come from ``CARD_RE``; each candidate is
    checksum-verified before replacement, so numeric text that merely
    looks card-shaped is never redacted.

    Scale shape: three staged scan-local projections (candidates →
    validated → fold-replace; staged because higher-order functions are
    CodegenFallback and Catalyst has no logical CSE — the house rule),
    no shuffle, no Python. The fold replaces each validated candidate
    LITERALLY (replace(), not regex), so no escaping hazard exists.

    DuckDB oracle: `q: ts_card_scrub` — same CARD_RE, same LUHN_SQL
    body, list_reduce over list_prepend(text, valid) replays the fold
    with the text as the fold seed (DuckDB's list_reduce has no
    explicit init; prepending makes the empty-valid case a no-op).
    """
    t = F.coalesce(F.col("text"), F.lit(""))
    staged = df.withColumn(
        "_cands", F.regexp_extract_all(t, F.lit(CARD_RE), F.lit(0))
    )
    validated = staged.withColumn(
        "_valid",
        F.expr(f"filter(_cands, c -> {LUHN_SQL('c', 'spark')})"),
    )
    return (
        validated.withColumn(
            "card_scrubbed",
            F.aggregate(
                F.col("_valid"),
                t,
                lambda acc, c: F.replace(acc, c, F.lit("<CARD>")),
            ),
        )
        .withColumn("n_card", F.size("_valid").cast("long"))
        .drop("_cands", "_valid")
    )
