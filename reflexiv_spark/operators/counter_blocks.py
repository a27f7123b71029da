"""Long-block 2-bit packed k-mers for k > 31 — the reference's dynamic
long-k encoding re-expressed on DataFrame columns.

The reference packs long k-mers as arrays of longs, 31 bases per long
plus a C-marker length bit (``ReflexivDSDynamicKmerRuduction.java:
3220-3241``), which is what makes its k=41..95 ladder rounds cheap.
Here the same idea is a fixed-length ``array<long>`` column: block j
holds bases [31j, 31j+len_j) right-aligned as a base-4 number
(len_j = 31 for every block except the last). Because every k-mer of a
given k has identical per-block digit counts, **lexicographic array
comparison equals base-string comparison** — so canonical picks,
fork tie-breaks, and window orderings all match the string path bit
for bit, exactly as the k ≤ 31 scalar packing does
(:mod:`reflexiv_spark.operators.counter_packed`).

Shuffle shape at k=41: 2 longs per k-mer (~40 B UnsafeRow) vs a 41-char
ASCII string (~56 B); at k=95 it is 4 longs (~56 B) vs ~104 B. All
block manipulation (reverse complement, sub-k-mer keys, decode) is pure
Catalyst shift/mask expressions generated per (k, overlap) at plan
time — no Python in the hot path; only the counting encode crosses to
numpy, Arrow-batched, one column per block.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from reflexiv_spark.operators.counter_packed import _CODE, _M2, _M4, _M8, _M16

BASES_PER_BLOCK = 31


def block_lens(k: int) -> list[int]:
    """Per-block digit counts: [31, 31, ..., remainder]."""
    nb = (k + BASES_PER_BLOCK - 1) // BASES_PER_BLOCK
    return [BASES_PER_BLOCK] * (nb - 1) + [k - BASES_PER_BLOCK * (nb - 1)]


def _pack_batch_blocks(seqs, k: int) -> np.ndarray:
    """All canonical k-mers of a batch as an (n, n_blocks) int64 matrix.

    Same one-buffer rolling-encode strategy as the scalar
    ``_pack_batch``, run once per block; the reverse complement reuses
    the complemented-reversed buffer (window i's RC starts at position
    m-k-i there, which is the same rolling array read backwards).
    """
    lens = block_lens(k)
    nb = len(lens)
    joined = b"\x00".join(s.encode() for s in seqs if s)
    if len(joined) < k:
        return np.empty((0, nb), dtype=np.int64)
    codes = _CODE[np.frombuffer(joined, dtype=np.uint8)]
    n = len(codes) - k + 1

    valid = (codes != 255).astype(np.int64)
    run = np.cumsum(valid)
    ok = (run[k - 1 :] - np.concatenate(([0], run[: n - 1]))) == k
    if not ok.any():
        return np.empty((0, nb), dtype=np.int64)

    c = np.where(codes == 255, 0, codes).astype(np.int64)
    c2 = (3 - c)[::-1]
    fwd = np.empty((n, nb), dtype=np.int64)
    rc = np.empty((n, nb), dtype=np.int64)
    for j in range(nb):
        start = BASES_PER_BLOCK * j
        facc = np.zeros(n, dtype=np.int64)
        racc = np.zeros(n, dtype=np.int64)
        for t in range(lens[j]):
            idx = start + t
            facc = (facc << 2) | c[idx : idx + n]
            racc = (racc << 2) | c2[idx : idx + n]
        fwd[:, j] = facc
        rc[:, j] = racc[::-1]

    # canonical = lexicographic min over the block columns
    use_rc = np.zeros(n, dtype=bool)
    decided = np.zeros(n, dtype=bool)
    for j in range(nb):
        use_rc |= ~decided & (rc[:, j] < fwd[:, j])
        decided |= fwd[:, j] != rc[:, j]
    return np.where(use_rc[:, None], rc, fwd)[ok]


# ---------------------------------------------------------------------------
# digit-chunk expression algebra
#
# A "chunk list" is [(Column, n_digits)], a base-4 digit string split
# across right-aligned longs. All block operators below are compile-time
# loops that emit plain shift/mask Catalyst expressions over it.
# ---------------------------------------------------------------------------


def _chunks_of(col: Column | str, k: int) -> list[tuple[Column, int]]:
    c = F.col(col) if isinstance(col, str) else col
    return [
        (F.element_at(c, j + 1), ln) for j, ln in enumerate(block_lens(k))
    ]


def _rechunk(
    chunks: list[tuple[Column, int]], target_lens: list[int]
) -> list[Column]:
    """Repartition the leading sum(target_lens) digits of ``chunks``
    into longs of the given digit counts (big-number shifts, generated
    at plan time)."""
    out: list[Column] = []
    si, soff = 0, 0
    for tlen in target_lens:
        acc: Column | None = None
        need = tlen
        while need > 0:
            expr, ln = chunks[si]
            take = min(need, ln - soff)
            drop_right = ln - soff - take
            piece = (
                F.shiftrightunsigned(expr, 2 * drop_right)
                if drop_right
                else expr
            )
            piece = piece.bitwiseAND(F.lit((1 << (2 * take)) - 1))
            acc = (
                piece
                if acc is None
                else F.shiftleft(acc, 2 * take).bitwiseOR(piece)
            )
            need -= take
            soff += take
            if soff == ln:
                si, soff = si + 1, 0
        out.append(acc)
    return out


def _drop_digits(
    chunks: list[tuple[Column, int]], skip: int
) -> list[tuple[Column, int]]:
    """Chunk list for the digit string with its first ``skip`` digits
    removed (mask only — no shifts)."""
    out: list[tuple[Column, int]] = []
    for expr, ln in chunks:
        if skip >= ln:
            skip -= ln
            continue
        if skip > 0:
            keep = ln - skip
            out.append(
                (expr.bitwiseAND(F.lit((1 << (2 * keep)) - 1)), keep)
            )
            skip = 0
        else:
            out.append((expr, ln))
    return out


def _chunks_to_str(chunks: list[tuple[Column, int]]) -> Column:
    """Digit chunks → A/C/G/T string (JVM-side conv/lpad/translate)."""
    parts = [
        F.translate(F.lpad(F.conv(expr, 10, 4), ln, "0"), "0123", "ACGT")
        for expr, ln in chunks
    ]
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def _bitrev2(x: Column) -> Column:
    """Reverse the 32 2-bit groups of a 64-bit word (mask-swap)."""
    for mask, n in ((_M2, 2), (_M4, 4), (_M8, 8), (_M16, 16)):
        x = F.shiftleft(x.bitwiseAND(F.lit(mask)), n).bitwiseOR(
            F.shiftrightunsigned(x, n).bitwiseAND(F.lit(mask))
        )
    return F.shiftleft(x, 32).bitwiseOR(F.shiftrightunsigned(x, 32))


def kmer_to_blocks(col: Column | str, k: int) -> Column:
    """A/C/G/T string of length k → block array, JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    parts = []
    pos = 1
    for ln in block_lens(k):
        parts.append(
            F.conv(
                F.translate(c.substr(F.lit(pos), F.lit(ln)), "ACGT", "0123"),
                4,
                10,
            ).cast("long")
        )
        pos += ln
    return F.array(*parts)


def blocks_to_kmer(col: Column | str, k: int) -> Column:
    """Block array → A/C/G/T string of length k, JVM-side."""
    return _chunks_to_str(_chunks_of(col, k))


def revcomp_blocks(col: Column | str, k: int) -> Column:
    """Reverse complement over block arrays — per-block complement +
    2-bit-group reversal, then one cross-block rechunk. Pure Catalyst
    (the multi-long analogue of ``revcomp_packed``)."""
    lens = block_lens(k)
    rev_chunks: list[tuple[Column, int]] = []
    for j in range(len(lens) - 1, -1, -1):
        e, ln = _chunks_of(col, k)[j]
        x = e.bitwiseXOR(F.lit((1 << (2 * ln)) - 1))
        x = F.shiftrightunsigned(_bitrev2(x), 64 - 2 * ln)
        rev_chunks.append((x, ln))
    return F.array(*_rechunk(rev_chunks, lens))


def canonical_blocks(col: Column | str, k: int) -> Column:
    """min(kmer, revcomp) on block arrays == the string canonical pick
    (array ordering is digit-lexicographic for fixed k)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.least(c, revcomp_blocks(c, k))


def prefix_key_blocks(col: Column | str, k: int, o: int) -> Column:
    """First ``o`` bases as a canonical (31,31,...,rem) block array —
    the forward sub-k-mer join/group key."""
    return F.array(*_rechunk(_chunks_of(col, k), block_lens(o)))


def suffix_key_blocks(col: Column | str, k: int, o: int) -> Column:
    """Last ``o`` bases as a canonical block array — the reflected
    sub-k-mer key. Rechunked to the same layout as the prefix key so a
    successor's prefix equals its predecessor's suffix, like the
    string keys do."""
    return F.array(
        *_rechunk(_drop_digits(_chunks_of(col, k), k - o), block_lens(o))
    )


def suffix_str_blocks(col: Column | str, k: int, o: int) -> Column:
    """Last ``k - o`` bases decoded to a string — the per-k-mer tail
    appended during final path assembly."""
    return _chunks_to_str(_drop_digits(_chunks_of(col, k), o))
