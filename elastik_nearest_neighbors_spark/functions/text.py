"""Text column functions shared by the dedup / text-analysis operators.

The hashing contract (mirrored exactly in oracles.py, DuckDB side):

- base hash  h(s)  = int(md5(s)[:15 hex], 16)  -- 60 bits, fits bigint
- universal  h_j(x) = (A[j] * (x mod P) + B[j]) mod P,  P = 2^31 - 1
- shingles   word 3-grams joined by a single space
- fingerprint: left fold  acc = (acc * 131 + (h(tok) mod 10^9+7)) mod P
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..constants import (
    FINGERPRINT_BASE,
    MERSENNE_P,
    MINHASH_A,
    MINHASH_B,
)

# Tokenizer seam (r7). Real multilingual crawl data can't assume
# space-delimited words (CJK has none), so the tokenization entry point the
# minhash / n-gram / token-count paths share is a registry lookup instead of
# a hard-coded split. Selection is process-wide via ENN_TOKENIZER (an
# analysis choice like the hash family, not a per-query knob — every
# operator in a pipeline must shingle the same way or dedup keys stop
# matching). The default emits the exact `F.split(text, " ")` expression
# tree the operators inlined before the seam existed, so Catalyst sees an
# unchanged plan and every oracle stays bit-identical
# (tests/test_properties.py pins this).
_TOKENIZERS: dict[str, Callable[[Column], Column]] = {
    # the corpus contract since r1: single-space-delimited words
    "whitespace": lambda text: F.split(text, " "),
    # CJK-style: every non-space character is a token. A codegen
    # higher-order filter over the char split — no UDF.
    "char": lambda text: F.filter(F.split(text, ""), lambda c: c != F.lit(" ")),
}


def register_tokenizer(name: str, fn: Callable[[Column], Column]) -> None:
    """Plug in a tokenizer (e.g. a dictionary-segmenting pandas UDF) without
    touching any operator: everything downstream — shingles, minhash bands,
    n-gram Jaccard, token counts — consumes `tokens()`."""
    _TOKENIZERS[name] = fn


def active_tokenizer() -> str:
    return os.environ.get("ENN_TOKENIZER", "whitespace")


def tokens(text: Column, name: str | None = None) -> Column:
    """Tokenize `text` with the named tokenizer, defaulting to the
    process-wide ENN_TOKENIZER selection. r8: an explicit `name` overrides
    the env var so a single query (e.g. minhash_signatures_char) can pick a
    non-default tokenizer without mutating process-global state — the env
    var stays the pipeline-wide default only."""
    if name is None:
        name = active_tokenizer()
    try:
        fn = _TOKENIZERS[name]
    except KeyError:
        raise ValueError(
            f"unknown tokenizer {name!r} (ENN_TOKENIZER); "
            f"registered: {sorted(_TOKENIZERS)}"
        ) from None
    return fn(text)


def md5_hash60(s: Column) -> Column:
    """Deterministic 60-bit content hash, identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def universal_hash(h: Column, j: int) -> Column:
    a, b = MINHASH_A[j], MINHASH_B[j]
    return (F.lit(a) * (h % F.lit(MERSENNE_P)) + F.lit(b)) % F.lit(MERSENNE_P)


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles: requires size(toks) >= n (filter upstream).

    Built as a zip of n shifted slices, NOT transform(sequence, element_at):
    element_at with a non-foldable index is an O(len) walk per lookup
    (O(len²) per doc) and falls out of codegen — measured 8× slower on the
    shingle-explode stage for identical output."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for k in range(1, n):
        acc = F.zip_with(acc, F.slice(toks, k + 1, m), lambda x, y: F.concat_ws(" ", x, y))
    return acc


def fingerprint(toks: Column) -> Column:
    """Polynomial rolling hash over token hashes (order-sensitive)."""
    tok_h = F.transform(toks, lambda t: md5_hash60(t) % F.lit(1_000_000_007))
    return F.aggregate(
        tok_h,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * F.lit(FINGERPRINT_BASE) + h) % F.lit(MERSENNE_P),
    )
