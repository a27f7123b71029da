"""2-bit packed k-mer counting — the fast path the ``rank`` assembly
route counts into (one long per k-mer for k ≤ 31; long blocks above,
:mod:`reflexiv_spark.operators.counter_blocks`).

The reference packs k-mers into longs inside Java ``mapPartitions``
closures (2 bits/base, canonical pick = numeric min of forward/RC,
``ReflexivDataFrameCounter.java:448-525``). The default engine path
(:mod:`reflexiv_spark.operators.counter`) keeps k-mers as strings so the
whole pipeline stays in Catalyst codegen; this module is the SURVEY.md
§1.3 "fast-later" variant: an Arrow-batched pandas UDF emits canonical
packed ``bigint`` k-mers (vectorized numpy rolling encode — one pass over
a batch-concatenated byte buffer, no per-row Python), the count is a
``groupBy`` over 8-byte longs (≈4× smaller shuffle than 31-char strings),
and the decode back to A/C/G/T strings is JVM-side (``conv`` to base-4 +
``translate``), so only the encode crosses into Python.

Numeric canonical == lexicographic canonical because the 2-bit code
A=00 < C=01 < G=10 < T=11 is order-isomorphic to the alphabet
(``ReflexivDataFrameCounter.java:502-506``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reflexiv_spark.operators.counter import (
    DEFAULT_MAX_COVERAGE,
    DEFAULT_MIN_COVERAGE,
)
from reflexiv_spark.plans.layout import spread

# byte value -> 2-bit code; 255 marks every non-ACGT byte (invalid)
_CODE = np.full(256, 255, dtype=np.uint8)
for _b, _c in zip(b"ACGT", range(4)):
    _CODE[_b] = _c
for _b, _c in zip(b"acgt", range(4)):
    _CODE[_b] = _c


def _pack_batch(seqs, k: int) -> np.ndarray:
    """All canonical packed k-mers of a batch of sequences (int64).

    Sequences are joined into ONE byte buffer with a separator so every
    numpy op runs once per batch; windows crossing a separator or any
    non-ACGT byte are masked out via a rolling validity count.
    """
    joined = b"\x00".join(s.encode() for s in seqs if s)
    if len(joined) < k:
        return np.empty(0, dtype=np.int64)
    codes = _CODE[np.frombuffer(joined, dtype=np.uint8)]
    n = len(codes) - k + 1

    valid = (codes != 255).astype(np.int64)
    run = np.cumsum(valid)
    # window i (0-based) valid iff all k bytes are ACGT
    ok = (run[k - 1 :] - np.concatenate(([0], run[: n - 1]))) == k
    if not ok.any():
        return np.empty(0, dtype=np.int64)

    c = np.where(codes == 255, 0, codes).astype(np.int64)
    fwd = np.zeros(n, dtype=np.int64)
    for j in range(k):
        fwd = (fwd << 2) | c[j : j + n]
    # reverse complement: encode the complemented, reversed buffer the
    # same way; its window m-1-i is the RC of forward window i
    rc_codes = (3 - c)[::-1]
    rev = np.zeros(n, dtype=np.int64)
    for j in range(k):
        rev = (rev << 2) | rc_codes[j : j + n]
    rc = rev[::-1]
    return np.minimum(fwd, rc)[ok]


def kmer_to_packed(col, k: int):
    """A/C/G/T string of length ``k`` → 2-bit packed bigint, JVM-side.

    ``conv(translate(kmer,'ACGT','0123'), 4, 10)`` — injective for
    fixed-length pure-ACGT input, order-isomorphic to the string order
    (the reference's encoding, ``ReflexivDataFrameCounter.java:513-525``).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.translate(c, "ACGT", "0123"), 4, 10).cast("long")


# bit-reversal masks for reversing 2-bit groups across a 64-bit word
_M2 = 0x3333333333333333
_M4 = 0x0F0F0F0F0F0F0F0F
_M8 = 0x00FF00FF00FF00FF
_M16 = 0x0000FFFF0000FFFF


def revcomp_packed(col, k: int):
    """Reverse complement of a packed k-mer — pure Catalyst bit ops (C3).

    Complement is XOR with 2k ones (A=00↔T=11, C=01↔G=10); base-order
    reversal is the classic mask-and-swap 2-bit-group reversal of the
    full word, then a logical shift down by (64-2k). ~12 codegen'd
    integer ops, no strings (reference does the same in Java:
    ``ReflexivDSKmerLeftAndRightSorting.java:1569-1665``).
    """
    x = F.col(col) if isinstance(col, str) else col
    x = x.bitwiseXOR(F.lit((1 << (2 * k)) - 1))
    for mask, n in ((_M2, 2), (_M4, 4), (_M8, 8), (_M16, 16)):
        x = F.shiftleft(x.bitwiseAND(F.lit(mask)), n).bitwiseOR(
            F.shiftrightunsigned(x, n).bitwiseAND(F.lit(mask))
        )
    x = F.shiftleft(x, 32).bitwiseOR(F.shiftrightunsigned(x, 32))
    return F.shiftrightunsigned(x, 64 - 2 * k)


def canonical_packed(col, k: int):
    """min(kmer, revcomp(kmer)) on packed values — equals the string
    canonical pick because the 2-bit code is order-isomorphic (C2)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.least(c, revcomp_packed(c, k))


def packed_to_kmer(col, k: int):
    """bigint packed k-mer → A/C/G/T string, JVM-side.

    ``conv`` renders the value in base 4; ``lpad`` restores leading A
    (zero) digits; ``translate`` maps digits to bases.
    """
    return F.translate(
        F.lpad(F.conv(F.col(col) if isinstance(col, str) else col, 10, 4), k, "0"),
        "0123",
        "ACGT",
    )


def count_kmers_packed(
    reads: DataFrame,
    k: int,
    seq_col: str = "seq",
    min_coverage: int = DEFAULT_MIN_COVERAGE,
    max_coverage: int = DEFAULT_MAX_COVERAGE,
    decode: bool = True,
) -> DataFrame:
    """Canonical k-mer counts via 2-bit packing, for any k.

    Same semantics as :func:`reflexiv_spark.operators.counter.count_kmers`
    (canonical counting with coverage band). The key is ``kid``: a
    ``bigint`` for k ≤ 31, an ``array<long>`` of 31-base blocks above
    (:mod:`reflexiv_spark.operators.counter_blocks`; the Arrow transfer
    is then one int64 column per block). ``decode=False`` keeps
    DataFrame[kid, count] — the input the packed assembly codecs read
    (:mod:`reflexiv_spark.operators.codec`), and what a 100 TB shuffle
    wants to carry.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if k <= 31:
        cols, to_kmer = ["kid"], packed_to_kmer

        def pack(seqs):
            return _pack_batch(seqs, k)[:, None]
    else:
        from reflexiv_spark.operators.counter_blocks import (
            _pack_batch_blocks,
            block_lens,
            blocks_to_kmer as to_kmer,
        )

        cols = [f"b{j}" for j in range(len(block_lens(k)))]

        def pack(seqs):
            return _pack_batch_blocks(seqs, k)

    def encode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            m = pack(pdf["seq"])
            yield pd.DataFrame({c: m[:, j] for j, c in enumerate(cols)})

    src = spread(reads.select(F.col(seq_col).alias("seq")))
    packed = src.mapInPandas(
        encode, schema=", ".join(f"{c} long" for c in cols)
    )
    if k > 31:
        packed = packed.select(F.array(*cols).alias("kid"))
    counts = packed.groupBy("kid").agg(F.count(F.lit(1)).alias("count"))
    # None bounds mean "no floor/ceiling", matching count_kmers — a literal
    # None comparison would evaluate NULL and silently drop every row.
    if min_coverage is not None and min_coverage > 1:
        counts = counts.where(F.col("count") >= min_coverage)
    if max_coverage is not None:
        counts = counts.where(F.col("count") <= max_coverage)
    if not decode:
        return counts
    return counts.select(to_kmer("kid", k).alias("kmer"), "count")
