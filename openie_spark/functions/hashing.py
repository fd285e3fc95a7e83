"""Engine-portable hash/shingle column builders.

Every hash that feeds a correctness-checked result is the 60-bit
md5-prefix (``md5h60``): bit-identical in Spark (conv(substr(md5 …)))
and DuckDB (CAST('0x'||substr(md5 …))), so even the minhash-LSH band
structures of entity linking and conversation near-dup are verified
against the SQL oracles, not just spot-tested. xxhash64 (faster,
JVM-side) is reserved for purely internal keys (salts, shuffles) where
cross-engine equality does not matter.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5h60(c: Column) -> Column:
    """First 60 bits of md5 as a non-negative BIGINT — identical to
    DuckDB ``CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def tokens_of(text: Column) -> Column:
    return F.filter(F.split(text, " "), lambda w: w != "")


def word_ngrams(tokens: Column, n: int = 3) -> Column:
    """Distinct space-joined word n-grams; shorter docs fall back to
    the whole token list as one shingle."""
    cnt = F.size(tokens)
    idx = F.sequence(F.lit(1), F.greatest(cnt - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(tokens, i, n), " "))
    )


def minhash_sig_md5(shingles: Column, num_perm: int) -> Column:
    """array<long> minhash signature with md5h60(shingle ⊕ '#k') slot
    hashes — DuckDB-reproducible, computed without explode/shuffle."""
    return F.array(*[
        F.array_min(F.transform(shingles, lambda s: md5h60(F.concat(s, F.lit(f"#{k}")))))
        for k in range(num_perm)
    ])


def band_hashes_md5(sig: Column, bands: int, rows: int) -> Column:
    """array<long> of band hashes: md5h60 of the ','-joined slot values
    per band (again engine-portable)."""
    return F.array(*[
        md5h60(F.concat_ws(",", *[
            F.element_at(sig, b * rows + r + 1).cast("string") for r in range(rows)
        ]))
        for b in range(bands)
    ])
