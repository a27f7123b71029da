"""One k-mer codec interface over the three column formats the assembly
stages accept.

The reference carries k-mers as 2-bit longs end to end — one long for
k ≤ 31, an array of longs above (``ReflexivDataFrameCounter.java:
513-525``, ``ReflexivDSDynamicKmerRuduction.java:3220-3241``). The
assembly stages (:func:`~reflexiv_spark.pipelines.assemble.
expand_orientations`, :func:`~reflexiv_spark.pipelines.assemble.
prune_forks`, :func:`~reflexiv_spark.operators.extension.rank_paths`)
are written once against this interface and read the codec from their
input column (:func:`codec_of`):

- ``kmer: string`` — :class:`StringCodec`, the reference-parity form
  and the fallback for non-ACGT or variable-length rows;
- ``kid: bigint`` — :class:`ScalarCodec`, k ≤ 31;
- ``kid: array<long>`` — :class:`BlocksCodec`, k > 31.

Every method returns a Catalyst column built from the existing kernels
(:mod:`reflexiv_spark.functions.kmer`, :mod:`.counter_packed`,
:mod:`.counter_blocks`), so nothing here adds Python to the hot path.
Strings appear only at the edges: ``decode`` / ``decode_tail`` at final
path assembly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from reflexiv_spark.functions.kmer import (
    _col,
    prefix_subkmer,
    reverse_complement,
    suffix_subkmer,
)
from reflexiv_spark.operators.counter import count_kmers
from reflexiv_spark.operators.counter_blocks import (
    block_lens,
    blocks_to_kmer,
    prefix_key_blocks,
    revcomp_blocks,
    suffix_key_blocks,
    suffix_str_blocks,
)
from reflexiv_spark.operators.counter_packed import (
    count_kmers_packed,
    packed_to_kmer,
    revcomp_packed,
)

# Pointer-doubling state row over long loop ids: three longs (~32 B
# unsafe), doubled for the broadcast hash relation's slack.
LOOP_ROW_BYTES = 64


class StringCodec:
    """ASCII ``kmer`` strings — the reference-parity representation.

    Also the base of the packed codecs, which override every
    format-specific method."""

    col = "kmer"

    def __init__(self, k: int | None):
        self.k = k

    @property
    def native_row_bytes(self) -> int:
        return 2 * (self.k + 24) + 8  # two k-char ids + a long

    def count(self, reads: DataFrame, **kw) -> DataFrame:
        return count_kmers(reads, self.k, **kw)

    def decode(self, c: Column | str) -> Column:
        return _col(c)

    def revcomp(self, c: Column | str) -> Column:
        return reverse_complement(c)

    def prefix_key(self, c: Column | str, o: int) -> Column:
        """First ``o`` bases — the forward join/group key."""
        return prefix_subkmer(c, o + 1)

    def suffix_key(self, c: Column | str, o: int) -> Column:
        """Last ``o`` bases — the reflected join/group key."""
        return suffix_subkmer(c, o + 1)

    def decode_tail(self, c: Column | str, o: int) -> Column:
        """The bases after the first ``o`` as a string."""
        c = _col(c)
        return c.substr(F.lit(o + 1), F.length(c))

    def loop_id(self, c: Column | str) -> Column | None:
        """Fixed-width long proxy for the pointer-doubling loop, or None
        when the native id already is one. Not guaranteed injective:
        :func:`~reflexiv_spark.operators.extension.rank_paths` checks."""
        return F.xxhash64(c)


class _PackedCodec(StringCodec):
    col = "kid"

    def count(self, reads: DataFrame, **kw) -> DataFrame:
        return count_kmers_packed(reads, self.k, decode=False, **kw)


class ScalarCodec(_PackedCodec):
    """2-bit packed ``kid: bigint`` (k ≤ 31): join keys are one shift or
    one mask, and the id is its own loop id."""

    native_row_bytes = LOOP_ROW_BYTES

    def __init__(self, k: int):
        if not 1 <= k <= 31:
            raise ValueError("scalar packing needs 1 <= k <= 31")
        self.k = k

    def decode(self, c: Column | str) -> Column:
        return packed_to_kmer(c, self.k)

    def revcomp(self, c: Column | str) -> Column:
        return revcomp_packed(c, self.k)

    def prefix_key(self, c: Column | str, o: int) -> Column:
        return F.shiftrightunsigned(_col(c), 2 * (self.k - o))

    def suffix_key(self, c: Column | str, o: int) -> Column:
        return _col(c).bitwiseAND(F.lit((1 << (2 * o)) - 1))

    def decode_tail(self, c: Column | str, o: int) -> Column:
        tail = self.k - o
        return packed_to_kmer(_col(c).bitwiseAND(F.lit((1 << (2 * tail)) - 1)), tail)

    def loop_id(self, c: Column | str) -> Column | None:
        return None


class BlocksCodec(_PackedCodec):
    """2-bit packed ``kid: array<long>`` of 31-base blocks (k > 31)."""

    @property
    def native_row_bytes(self) -> int:
        return 48 + 16 * len(block_lens(self.k))  # two arrays + a long

    def decode(self, c: Column | str) -> Column:
        return blocks_to_kmer(c, self.k)

    def revcomp(self, c: Column | str) -> Column:
        return revcomp_blocks(c, self.k)

    def prefix_key(self, c: Column | str, o: int) -> Column:
        return prefix_key_blocks(c, self.k, o)

    def suffix_key(self, c: Column | str, o: int) -> Column:
        return suffix_key_blocks(c, self.k, o)

    def decode_tail(self, c: Column | str, o: int) -> Column:
        return suffix_str_blocks(c, self.k, o)


def codec_for_k(k: int) -> StringCodec:
    """The packed codec for ``k``: one long up to 31 bases, blocks above."""
    if k < 1:
        raise ValueError("k must be >= 1")
    return ScalarCodec(k) if k <= 31 else BlocksCodec(k)


def codec_for(algorithm: str, k: int) -> StringCodec:
    """The codec an assembly route counts into: ``"rank"`` stays packed
    end to end; ``"contract"`` grows sequences, so it runs on strings."""
    if algorithm == "rank":
        return codec_for_k(k)
    if algorithm == "contract":
        return StringCodec(k)
    raise ValueError(f"unknown algorithm {algorithm!r}")


def codec_of(df: DataFrame, k: int | None) -> StringCodec:
    """The codec of a counts-shaped DataFrame, read from its id column."""
    if "kmer" in df.columns:
        return StringCodec(k)
    if isinstance(df.schema["kid"].dataType, ArrayType):
        return BlocksCodec(k)
    return ScalarCodec(k)
