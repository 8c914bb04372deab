"""PII detection & scrubbing for training-data pipelines.

A corpus prepared for training must not carry emails, phone numbers, IPs,
SSNs or card numbers; the standard web-pipeline treatment (C4, RefinedWeb,
Dolma all ship a variant) is regex detection + placeholder substitution.

Everything here is a pure column expression (regexp_extract_all /
regexp_replace) — map-side over the scan, no shuffle, no Python: a 100 TB
corpus pays one pass, and the patterns are deliberately restricted to
syntax BOTH the JDK regex engine (Spark) and RE2 (DuckDB, and the Go/Rust
scrubbers a pipeline might hand off to) accept — no lookaround, no
backreferences — so the same rule is verifiable cross-engine (the
`pii_scrub` driver gate does exactly that).

Detection is pattern-based and therefore approximate by nature (a phone
regex cannot know a string is really an order id); the counts are for
corpus auditing, the scrub for redaction.  Order matters and is fixed:
emails first (their digits must not half-match phone shapes), then cards,
SSNs, phones, IPv4 last.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# JDK+RE2-portable patterns (no lookaround/backrefs).  \b is supported by
# both engines.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "cc": r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}
# substitution order: see module docstring
PII_ORDER = ["email", "cc", "ssn", "phone", "ipv4"]


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def luhn_valid(num) -> Column:
    """True iff the digits of ``num`` (separators ignored) pass the Luhn
    checksum at a card-plausible length (12-19 digits).

    Pure integer column arithmetic — ``aggregate`` over a digit-position
    sequence, no UDF, no shuffle — and expressible in any engine with list
    arithmetic (the DuckDB oracle recomputes it with
    list_transform/list_sum), so the refinement stays cross-engine
    checkable.  Rule: double every second digit counting from the RIGHT,
    subtract 9 from a doubled digit above 9, total % 10 == 0."""
    d = F.regexp_replace(_col(num).cast("string"), r"[^0-9]", "")
    n = F.length(d)

    def contrib(acc: Column, i: Column) -> Column:
        v = d.substr(i, F.lit(1)).cast("int")
        # 1-based from-right index r = n - i + 1; doubled iff r is even
        doubled = (n - i) % 2 == 1
        return acc + F.when(doubled, v * 2 - F.when(v > 4, F.lit(9)).otherwise(F.lit(0))).otherwise(v)

    total = F.aggregate(F.sequence(F.lit(1), n), F.lit(0), contrib)
    # the length guard also short-circuits the degenerate sequence(1, 0)
    # a zero-digit input would produce (false & null = false)
    return (n >= 12) & (n <= 19) & (total % 10 == 0)


def pii_counts(text) -> dict[str, Column]:
    """Per-kind match counts (longs) for corpus auditing.  ``cc_luhn_valid``
    refines ``cc``: of the card-shaped matches, how many pass the Luhn
    checksum — the 4x4-digit regex alone matches any such digit pattern
    (order ids, serials), and on real corpora the Luhn filter removes most
    of those false positives."""
    t = _col(text)
    out = {
        kind: F.size(F.regexp_extract_all(t, F.lit(pat), 0)).cast("long")
        for kind, pat in PII_PATTERNS.items()
    }
    out["cc_luhn_valid"] = F.size(
        F.filter(F.regexp_extract_all(t, F.lit(PII_PATTERNS["cc"]), 0), luhn_valid)
    ).cast("long")
    return out


def scrub_pii(text, placeholder: str = "<{kind}>") -> Column:
    """Replace every PII match with a placeholder (``{kind}`` expands to the
    upper-cased category, e.g. ``<EMAIL>``), in the fixed PII_ORDER."""
    t = _col(text)
    for kind in PII_ORDER:
        t = F.regexp_replace(t, PII_PATTERNS[kind],
                             placeholder.format(kind=kind.upper()))
    return t


def with_pii_scrubbed(df: DataFrame, text_col: str,
                      out_col: str | None = None,
                      count_prefix: str | None = None) -> DataFrame:
    """Scrub ``text_col`` (into ``out_col``, default in-place) and optionally
    attach per-kind match-count columns (``{count_prefix}{kind}``)."""
    out = df
    if count_prefix is not None:
        for kind, c in pii_counts(F.col(text_col)).items():
            out = out.withColumn(f"{count_prefix}{kind}", c)
    return out.withColumn(out_col or text_col, scrub_pii(F.col(text_col)))


# ---------------------------------------------------------------------------
# Deterministic planted fixture (driver-gate input; the synthetic documents
# table contains no PII, so the gate plants known quantities)
# ---------------------------------------------------------------------------

_FILLER = ("the quick brown fox jumps over the lazy dog while data flows "
           "through the batch pipeline and features derive cleanly").split()


def _luhn_total(digits: str) -> int:
    total = 0
    for r, ch in enumerate(reversed(digits), start=1):
        v = int(ch)
        if r % 2 == 0:
            v = v * 2 - (9 if v > 4 else 0)
        total += v
    return total


def _planted_card(i: int) -> str:
    """16-digit card for doc i, Luhn-VALID iff i % 16 == 0: the 16th digit
    is set to the exact Luhn check digit of the first 15 (or that +1 mod 10
    to force invalidity) — so the fixture pins both sides of the
    cc_luhn_valid refinement with exact expected counts."""
    base = (f"{4000 + i % 1000:04d}{1111 + i % 8000:04d}"
            f"{2222 + i % 7000:04d}{3330 + i % 6000 // 10:03d}")[:15]
    check = (10 - _luhn_total(base + "0") % 10) % 10
    last = check if i % 16 == 0 else (check + 1) % 10
    d = base + str(last)
    return f"{d[0:4]}-{d[4:8]}-{d[8:12]}-{d[12:16]}"


def write_pii_fixture(path: str, n: int = 240) -> str:
    """Parquet fixture of ``n`` docs with deterministically planted
    PII: doc i gets an email iff i%3==0, a phone iff i%4==0, an IPv4 iff
    i%5==0, an SSN iff i%6==0, a card iff i%8==0 (Luhn-valid iff i%16==0,
    see ``_planted_card``) — so expected counts are exact integer functions
    of ``n`` and the gate's sums are predictable."""
    import pyarrow as pa

    from feathr_online_spark.datagen import write_parquet_fixture

    rows = []
    for i in range(n):
        parts = [_FILLER[j % len(_FILLER)] for j in range(i % 7 + 5)]
        if i % 3 == 0:
            parts.append(f"contact user{i}@example{i % 9}.com today")
        if i % 4 == 0:
            parts.append(f"call ({100 + i % 900:03d}) {200 + i % 800:03d}-{1000 + i % 9000:04d} now")
        if i % 5 == 0:
            parts.append(f"from 10.{i % 256}.{(i * 7) % 256}.{(i * 13) % 256} logged")
        if i % 6 == 0:
            parts.append(f"ssn {100 + i % 900:03d}-{10 + i % 90:02d}-{1000 + i % 9000:04d} on file")
        if i % 8 == 0:
            parts.append(f"card {_planted_card(i)} charged")
        rows.append({"doc_id": i, "text": " ".join(parts)})
    tbl = pa.Table.from_pylist(rows, schema=pa.schema(
        [pa.field("doc_id", pa.int64()), pa.field("text", pa.string())]))
    return write_parquet_fixture(path, lambda: [tbl])
