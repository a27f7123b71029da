"""Packed (2-bit) counter fast path vs brute force and the string path."""

from __future__ import annotations

from tests.conftest import brute_force_kmer_counts, random_genome, simulate_reads


def test_packed_matches_brute_force(spark):
    from reflexiv_spark.operators.counter import count_kmers
    from reflexiv_spark.operators.counter_packed import count_kmers_packed

    genome = random_genome(2000, seed=81)
    reads = simulate_reads(genome, read_len=100, coverage=8, seed=82)
    df = spark.createDataFrame([(r,) for r in reads], "seq string")
    for k in (5, 21, 31):
        got = {
            r.kmer: r["count"]
            for r in count_kmers_packed(df, k, min_coverage=1).collect()
        }
        assert got == brute_force_kmer_counts(reads, k), f"k={k}"
        # exact agreement with the string path, coverage band included
        a = {
            (r.kmer, r["count"])
            for r in count_kmers_packed(df, k, min_coverage=2).collect()
        }
        b = {
            (r.kmer, r["count"])
            for r in count_kmers(df, k, min_coverage=2).collect()
        }
        assert a == b, f"k={k}"


def test_packed_skips_invalid_and_boundary_windows(spark):
    from reflexiv_spark.operators.counter_packed import count_kmers_packed

    # 'N' interrupts windows; per-read boundaries never produce chimeric
    # k-mers even though the batch is concatenated internally
    df = spark.createDataFrame(
        [("ACGTNACGT",), ("TTTTT",)], "seq string"
    )
    got = {
        r.kmer: r["count"]
        for r in count_kmers_packed(df, 4, min_coverage=1).collect()
    }
    from tests.conftest import brute_force_kmer_counts

    assert got == brute_force_kmer_counts(["ACGTNACGT", "TTTTT"], 4)
