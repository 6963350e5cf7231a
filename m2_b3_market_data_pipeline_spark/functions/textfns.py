"""Portable text expressions: tokenization, shingling, hashing.

Every builder here has an exact DuckDB twin (see the oracles in
plans/) so dedup/text operators are hash-checkable end-to-end. All are
built-in Spark SQL functions — JVM-side, codegen-friendly, no Python
UDFs — which is what keeps them viable on 100 TB of documents
(SURVEY.md §2.11).

Portability contract with the oracles:
- tokens: split on ``\\s+`` of lower(trim(text)), empty strings dropped;
- shingles: space-joined n-grams of consecutive tokens, DISTINCT;
- hashes: ``md5('<seed>|' || value)`` hex strings — identical bytes in
  Spark and DuckDB, so MIN() over them (lexicographic) is a portable
  min-hash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: str | Column) -> Column:
    """Whitespace tokens of lowercased trimmed text, empties removed."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(F.trim(col)), r"\s+"), lambda x: x != F.lit(""))


def token_count(text: str | Column) -> Column:
    return F.size(tokens(text))


def shingles(toks: Column, n: int = 3, *, distinct: bool = True) -> Column:
    """Distinct space-joined word n-grams; empty array when < n tokens.

    Built as a chain of ``zip_with`` over shifted slices — O(tokens) per
    row. (An earlier ``transform(sequence(...), i -> element_at(toks,
    i+j))`` form re-evaluated the whole tokenization per index inside
    the interpreted higher-order functions — O(tokens²) regex work per
    row, ~40s for 5000 docs; this form is ~20x faster.) ``concat``
    propagates the NULL padding zip_with adds at the tail, so the final
    not-null filter leaves exactly size-n+1 grams.
    """
    grams = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda g, t: F.concat(g, F.lit(" "), t))
    out = F.filter(grams, lambda x: x.isNotNull())
    return F.array_distinct(out) if distinct else out


def seeded_md5(value: Column, seed: int) -> Column:
    """md5('<seed>|' || value) — the portable seeded hash family."""
    return F.md5(F.concat(F.lit(f"{seed}|"), value))


def seeded_hash60(value: Column, seed: int) -> Column:
    """The NUMERIC seeded hash: the first 60 bits (15 hex chars) of the
    seeded md5 as a non-negative BIGINT. Portable (DuckDB:
    ``CAST(('0x' || substr(md5(..), 1, 15)) AS BIGINT)``) and ordered
    identically to the lexicographic order of the hex prefix, so a
    numeric min picks the same winner as a string min up to 60-bit ties.
    Numeric min-hashes matter at scale: min(BIGINT) aggregates in a
    codegen'd HashAggregate with an 8-byte mutable buffer, while
    min(STRING) falls back to SortAggregate (UnsafeRow buffers can't
    update var-length fields) — an O(n log n) per-partition sort of the
    whole shingle stream — and signature rows shrink ~4x."""
    return F.conv(F.substring(seeded_md5(value, seed), 1, 15), 16, 10).cast("bigint")


def normalized_text(text: str | Column) -> Column:
    """Whitespace-canonical form used for exact-dup fingerprints."""
    return F.concat_ws(" ", tokens(text))
