"""Single-k end-to-end assembly — ``reflexiv run`` re-expressed
(SURVEY.md §3.2, ``ReflexivDSMain.java:188-356``).

Stages:
1. canonical k-mer counting (counter.count_kmers — A1, F1/F2; the
   ``rank`` route counts 2-bit packed ids, counter_packed)
2. reverse-complement expansion: each canonical k-mer re-emitted in both
   orientations (``DSKmerReverseComplement``, ``ReflexivDSMain.java:222``)
3. fork/bubble pruning on forward and reflected sub-k-mers (W1/W2)
4. randomized contraction to convergence, or pointer doubling on the
   ``rank`` route (W3/I1/I2 — operators.extension)
5. contig canonicalization + min-length filter (F5) + dedup of the
   strand-duplicate contigs (both orientations were assembled)

Output contig IDs are deterministic (dense_rank over (length desc, seq)) —
the reference's ``zipWithIndex`` IDs are partition-order-dependent
(FIXTURES.md §6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reflexiv_spark.functions.kmer import canonical_kmer
from reflexiv_spark.operators.codec import codec_for, codec_of
from reflexiv_spark.operators.counter import (
    DEFAULT_MAX_COVERAGE,
    DEFAULT_MIN_COVERAGE,
)
from reflexiv_spark.operators.extension import (
    extend_to_convergence,
    rank_paths,
    to_paths,
)
from reflexiv_spark.operators.fork import filter_forks

# Reference default minimum contig length: DefaultParam.java:108.
DEFAULT_MIN_CONTIG = 500


def _palindrome_free(k: int | None, input_canonical: bool) -> bool:
    """True when the RC-expanded union provably has no duplicate k-mers,
    so the palindrome ``dropDuplicates`` — a full exchange of the doubled
    k-mer set — can be skipped (guide §2.4: a distinct on already-unique
    data).

    Proof obligation: the input rows are DISTINCT CANONICAL k-mers (the
    ``count_kmers*`` contract — each group key satisfies x <= RC(x)) and
    k is ODD. A duplicate in fwd ∪ RC(fwd) requires x = RC(y) with both
    x, y canonical, which forces x = y = RC(x) — a palindrome — and an
    odd-length k-mer cannot be its own reverse complement (its middle
    base would have to equal its own complement). Even k keeps the
    dedup: palindromes are real there.
    """
    return input_canonical and k is not None and k % 2 == 1


def expand_orientations(
    kmer_counts: DataFrame,
    k: int | None = None,
    input_canonical: bool = False,
) -> DataFrame:
    """Canonical counts → both orientations (step 2), in the codec of the
    input column (:mod:`reflexiv_spark.operators.codec`): a string
    reverse+translate on ``kmer``, ~12 codegen'd integer ops on a packed
    ``kid`` (plan-time shift/mask expressions for blocks). ``k`` is
    required for packed input.

    Pass ``k`` and ``input_canonical=True`` when the input is the output
    of ``count_kmers*`` (distinct canonical k-mers): for odd k the
    palindrome dedup is then provably a no-op and its exchange is
    elided (:func:`_palindrome_free`). Output rows are identical either
    way.
    """
    codec = codec_of(kmer_counts, k)
    rc = kmer_counts.select(
        codec.revcomp(codec.col).alias(codec.col), F.col("count")
    )
    both = kmer_counts.unionByName(rc)
    if _palindrome_free(k, input_canonical):
        return both
    # A palindromic k-mer equals its RC — dropDuplicates keeps one copy.
    return both.dropDuplicates([codec.col])


def prune_forks(
    kmers: DataFrame, k: int, min_error_coverage: int | None = None
) -> DataFrame:
    """W1+W2: keep the max-coverage k-mer per forward sub-k-mer, then per
    reflected sub-k-mer — removes graph branches so contraction groups are
    1:1 (``ReflexivDSMain.java:232-253``).

    ``min_error_coverage`` is the reference's error-branch gate (default
    4× min coverage, ``DefaultParam.java:106``): a k-mer that *wins* a fork
    but has coverage below it is discarded as a likely sequencing-error
    branch; unforked k-mers are unaffected.

    Sub-k-mer keys come from the input column's codec; on packed ids both
    window shuffles carry fixed-width keys, and tie-breaks on ``kid``
    equal the string path's ``kmer`` ties (the 2-bit code, and block
    arrays digit by digit, are order-isomorphic to A<C<G<T).
    """
    codec = codec_of(kmers, k)
    with_keys = kmers.withColumn(
        "fwd_key", codec.prefix_key(codec.col, k - 1)
    ).withColumn("refl_key", codec.suffix_key(codec.col, k - 1))
    pruned = filter_forks(
        with_keys, "fwd_key", cover_col="count", tie_cols=(codec.col,),
        min_winner_cover=min_error_coverage,
    )
    pruned = filter_forks(
        pruned, "refl_key", cover_col="count", tie_cols=(codec.col,),
        min_winner_cover=min_error_coverage,
    )
    return pruned.drop("fwd_key", "refl_key")


def assemble_from_counts(
    kmer_counts: DataFrame,
    k: int,
    min_contig: int = DEFAULT_MIN_CONTIG,
    max_iterations: int = 150,
    min_error_coverage: int | None = None,
    algorithm: str = "contract",
    input_canonical: bool = False,
) -> DataFrame:
    """kmer counts → DataFrame[contig_id, seq, left_cover, right_cover].

    The counts are ``kmer`` strings (``count_kmers``) or packed ``kid``
    ids (``count_kmers_packed(decode=False)``); every stage runs in that
    codec (:mod:`reflexiv_spark.operators.codec`), so packed ids flow
    from counting through the contraction loop with one decode at final
    path assembly.

    ``input_canonical=True`` asserts the counts are distinct canonical
    k-mers (the ``count_kmers*`` contract); for odd k the RC expansion
    then skips its palindrome-dedup exchange (:func:`_palindrome_free`).

    ``algorithm="contract"`` (default) is the reference-parity randomized
    contraction over growing strings (packed input is decoded after
    pruning): pure cycles (circular genomes/plasmids) survive as a
    rotation-dependent representative, like the reference emits.
    ``algorithm="rank"`` is the pointer-doubling kernel
    (:func:`reflexiv_spark.operators.extension.rank_paths`): per-round
    shuffle of fixed-width ids instead of growing sequences, deterministic
    log-rounds — the 100 TB path — but cycles are dropped (anchored-paths
    semantics, identical to the SQL-oracle definition).
    """
    codec = codec_of(kmer_counts, k)
    if algorithm == "rank":
        # lazy barrier: the RC expansion consumes the counts twice (forward
        # + reflected branch); without it the Arrow-batched packed encode
        # would rely on exchange reuse to run once
        kmer_counts = kmer_counts.select(codec.col, "count").localCheckpoint(
            eager=False
        )
    expanded = expand_orientations(
        kmer_counts, k, input_canonical=input_canonical
    )
    pruned = prune_forks(expanded, k, min_error_coverage=min_error_coverage)
    if algorithm == "rank":
        contracted = rank_paths(
            pruned.select(codec.col, "count"), k, max_rounds=max_iterations
        )
    elif algorithm == "contract":
        paths = to_paths(
            pruned.select(codec.decode(codec.col).alias("kmer"), "count")
        )
        contracted = extend_to_convergence(paths, k, max_iterations=max_iterations)
    else:
        raise ValueError(f"unknown algorithm {algorithm!r}")
    return _finalize_contigs(contracted, min_contig)


def _finalize_contigs(contracted: DataFrame, min_contig: int) -> DataFrame:
    contigs = (
        contracted.where(F.length("seq") >= min_contig)
        # Both strands were assembled; canonicalize and keep one.
        .withColumn("seq", canonical_kmer("seq"))
        .groupBy("seq")
        .agg(
            F.max("left_cover").alias("left_cover"),
            F.max("right_cover").alias("right_cover"),
        )
    )
    # Deterministic, shuffle-free IDs: derived from the sequence itself
    # (length + 64-bit content hash), so no global rank window — a
    # metagenome's 10^7+ contigs never funnel through one partition, and
    # the same contig gets the same ID on every run/cluster layout.
    return contigs.select(
        F.concat(
            F.lit("Contig-"),
            F.length("seq"),
            F.lit("-"),
            F.lower(F.hex(F.xxhash64("seq"))),
        ).alias("contig_id"),
        "seq",
        "left_cover",
        "right_cover",
    )


def assemble(
    reads: DataFrame,
    k: int = 31,
    min_coverage: int = DEFAULT_MIN_COVERAGE,
    max_coverage: int = DEFAULT_MAX_COVERAGE,
    min_contig: int = DEFAULT_MIN_CONTIG,
    seq_col: str = "seq",
    max_iterations: int = 150,
    min_error_coverage: int | None = None,
    algorithm: str = "contract",
) -> DataFrame:
    """reads[seq] → contigs — the full ``reflexiv run`` equivalent.

    ``min_error_coverage`` defaults to 4× ``min_coverage`` like the
    reference (``DefaultParam.java:106``); pass 0/None semantics via an
    explicit value to disable. ``algorithm="contract"`` counts string
    k-mers and runs the reference-parity randomized contraction;
    ``algorithm="rank"`` counts 2-bit packed ids (the codec is chosen
    from k: int64 up to 31, long blocks above) and keeps them through
    expansion, pruning and the pointer-doubling loop, with no string
    decode until final assembly.
    """
    if min_error_coverage is None:
        min_error_coverage = 4 * min_coverage
    counts = codec_for(algorithm, k).count(
        reads,
        seq_col=seq_col,
        min_coverage=min_coverage,
        max_coverage=max_coverage,
    )
    return assemble_from_counts(
        counts,
        k,
        min_contig=min_contig,
        max_iterations=max_iterations,
        min_error_coverage=min_error_coverage,
        algorithm=algorithm,
        input_canonical=True,
    )
