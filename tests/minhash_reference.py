"""The Catalyst reference form of the MinHash signature stage, which the
engine's Arrow kernel (``dedup.minhash_signatures_arrow``) must reproduce
bit-for-bit."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from sealnet_etl_spark.operators.dedup import _MERSENNE, _PERM_AB


def minhash_signature_cols(base: Column) -> list[Column]:
    """N_PERM minhash values over pre-hashed shingles: the classic
    (a*h+b) mod p permutation family, min-reduced per permutation, each
    an ``aggregate`` fold with a scalar accumulator (null init + least
    ≡ array_min on the non-empty arrays the shingled inputs carry)."""
    null_acc = F.lit(None).cast("bigint")
    return [
        F.aggregate(
            base,
            null_acc,
            lambda acc, h: F.least(acc, F.pmod(a * h + b, F.lit(_MERSENNE))),
        ).alias(f"sig_{p}")
        for p, (a, b) in enumerate(_PERM_AB)
    ]
