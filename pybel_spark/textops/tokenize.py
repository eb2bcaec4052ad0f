"""Tokenization and shingling as JVM-side column expressions.

Everything here compiles to built-in Spark SQL functions (whole-stage
codegen) — no Python in the hot path.
"""
from pyspark.sql import Column, functions as F

#: BPE-ish word/punctuation splitter: words, numbers, or single punctuation
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def whitespace_tokens(col='text') -> Column:
    """Whitespace tokenization (empty text → empty array)."""
    return F.split(F.trim(F.col(col)), r'\s+')


def token_count(col='text') -> Column:
    return F.size(whitespace_tokens(col))


def bpe_ish_tokens(col='text') -> Column:
    """Sub-word-ish tokenization via regexp extraction."""
    return F.regexp_extract_all(F.col(col), F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(col='text') -> Column:
    return F.size(bpe_ish_tokens(col))


def shingle_windows(tokens, n=3) -> Column:
    """n-token windows over a token-array Column (texts shorter than n
    collapse to one whole-text shingle). The SINGLE definition of the
    window formula — shared by shingles() and dedup.doc_shingles so the
    DuckDB oracle tracks exactly one formulation.

    PERF: pass an already-projected ATTRIBUTE (a real column), not an
    inline split expression — codegen re-evaluates an inline expression
    per produced shingle (measured 3.6× slower)."""
    count = F.size(tokens)
    return F.when(count >= n, F.transform(
        F.sequence(F.lit(0), count - n),
        lambda i: F.concat_ws(' ', F.slice(tokens, i + 1, n)),
    )).otherwise(F.array(F.concat_ws(' ', tokens)))


def shingles(col='text', n=3) -> Column:
    """Word n-gram shingles directly from a text column (one-select
    convenience; see shingle_windows for the fast two-phase path)."""
    return shingle_windows(whitespace_tokens(col), n)

