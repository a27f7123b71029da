"""Multi-k staged metagenome assembly — ``reflexiv meta`` re-expressed
(SURVEY.md §3.3).

Reference flow (``Pipelines.java:840-1290``): count/sort/reduce ladder
over klist 23…95, then staged extension (00firstFour → 01Iteration* →
04Fixing → 05FixingAgain → … → /Assembly dedup), every stage its own
SparkSession materializing gzip CSV with ``_SUCCESS`` resume.

Spark-first re-expression: the multi-k ladder becomes *iterative
re-assembly* — assemble at the smallest k, then feed the contigs (as
high-confidence pseudo-reads) together with the original reads into the
next k. Longer k resolves repeats the short k collapsed; the contigs
carry connectivity across the coverage gaps longer k-mers would open.
This is the standard multi-k idea (the reference's reduction ladder is
its storage-optimized equivalent) expressed with the operators this
engine already has: counter → prune → contract → fix → dedup. Stages
materialize through :func:`reflexiv_spark.plans.stages.stage` Parquet
barriers with the same ``_SUCCESS`` resume semantics, inside one
long-lived session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reflexiv_spark.operators.codec import StringCodec, codec_for
from reflexiv_spark.operators.dedup import dedup_contigs
from reflexiv_spark.operators.fixing import fix_junctions
from reflexiv_spark.pipelines.assemble import assemble_from_counts

DEFAULT_META_KLIST = (23, 31, 41)


def _combined_counts(
    reads: DataFrame,
    contigs: DataFrame | None,
    codec: StringCodec,
    min_coverage: int,
    max_coverage: int,
    seq_col: str,
) -> DataFrame:
    """Read k-mer counts in ``codec``'s format, boosted by previous-round
    contig k-mers.

    Contig k-mers get weight ``min_coverage`` so connectivity already
    proven at the previous k survives this round's coverage floor even
    where raw read coverage is thin (the role the reference's reduction
    ladder plays for shorter-k k-mers). On the packed codecs the
    k=41..95 rungs shuffle 2-bit blocks instead of ASCII k-mers, and the
    contig-boost union and coverage floors run on the packed keys."""
    read_counts = codec.count(
        reads, seq_col=seq_col, min_coverage=1, max_coverage=None
    )
    if contigs is None:
        combined = read_counts
    else:
        contig_counts = codec.count(
            contigs, seq_col="seq", min_coverage=1, max_coverage=None
        ).select(codec.col, F.lit(min_coverage).cast("long").alias("count"))
        combined = (
            read_counts.unionByName(contig_counts)
            .groupBy(codec.col)
            .agg(F.sum("count").alias("count"))
        )
    out = combined.where(F.col("count") >= min_coverage)
    if max_coverage is not None:
        out = out.where(F.col("count") <= max_coverage)
    return out


def meta_assemble(
    reads: DataFrame,
    klist: tuple[int, ...] = DEFAULT_META_KLIST,
    min_coverage: int = 2,
    max_coverage: int = 10_000_000,
    min_contig: int = 500,
    seq_col: str = "seq",
    fix_k: int | None = None,
    workdir: str | None = None,
    spark: SparkSession | None = None,
    resume: bool = True,
    algorithm: str = "contract",
) -> DataFrame:
    """reads[seq] → deduplicated contigs via the multi-k ladder.

    With ``workdir`` set, each per-k round materializes at
    ``workdir/round_k<k>`` (Parquet + ``_SUCCESS``) and completed rounds
    are skipped on re-run — the reference's staged-resume behavior (I4).
    ``algorithm`` picks the contraction kernel per round (``"contract"``
    reference-parity randomized over strings; ``"rank"`` pointer-doubling
    over 2-bit packed ids — scalar int64 for k ≤ 31, long-block
    ``array<long>`` for the k=41..95 rounds — identical contigs on
    cycle-free graphs, anchored-path semantics otherwise).
    """
    if workdir is not None and spark is None:
        spark = reads.sparkSession

    # Share ONE materialization of the read set across the k-ladder
    # (guide §6/§2.4; VERDICT r13 next-round #2): every rung re-counts
    # k-mers over the SAME reads, and without a barrier each rung's
    # counting job re-runs the full upstream (source scan + windowing/
    # explode + validation) from scratch. The lazy checkpoint is
    # materialized by rung 1's counting job and every later rung reads
    # the pinned blocks. Projected to the one column the ladder
    # consumes before it is pinned (§2.3 — the checkpoint holds seq
    # bytes only); MEMORY_AND_DISK blocks spill gracefully at scale.
    if len(set(klist)) > 1:
        reads = reads.select(seq_col).localCheckpoint(eager=False)

    contigs: DataFrame | None = None
    for k in sorted(klist):
        def build(k: int = k, prev: DataFrame | None = contigs) -> DataFrame:
            # keep every path ≥ k+1 between rounds; the caller's
            # min_contig applies only to the final output. The counts end
            # in a canonical-keyed groupBy, so the odd-k palindrome-dedup
            # elision applies (OPTIMIZATION_r13 #10).
            counts = _combined_counts(
                reads, prev, codec_for(algorithm, k), min_coverage,
                max_coverage, seq_col,
            )
            return assemble_from_counts(
                counts,
                k,
                min_contig=k + 1,
                min_error_coverage=4 * min_coverage,
                algorithm=algorithm,
                input_canonical=True,
            ).select("contig_id", "seq")

        if workdir is not None:
            from reflexiv_spark.plans.stages import stage

            contigs = stage(spark, f"round_k{k}", workdir, build, resume=resume)
        else:
            from reflexiv_spark.plans.barriers import iteration_barrier

            # lazy: the next rung's counting job (or the junction-fix
            # support scan after the last rung) materializes the rung's
            # contigs — no dedicated eager-checkpoint job per rung
            # (guide §1.2: job floors dominate the ladder's wall)
            contigs = iteration_barrier(build(), eager=False)

    fixed = fix_junctions(
        contigs.select("seq"), fix_k=fix_k or (sorted(klist)[-1] - 1)
    )
    # md5-based ids (not xxhash64): equally deterministic and shuffle-free,
    # but replayable by the ANSI-SQL oracle, which must follow the dedup
    # stage's equal-length id tie-breaks. Per-contig cost, not per-k-mer.
    with_ids = fixed.select(
        F.concat(
            F.lit("Contig-"),
            F.length("seq"),
            F.lit("-"),
            F.md5("seq"),
        ).alias("contig_id"),
        "seq",
    )
    deduped = dedup_contigs(with_ids, seq_col="seq", id_col="contig_id")
    return deduped.where(F.length("seq") >= min_contig)
