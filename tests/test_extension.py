"""Extension-loop tests: contraction rounds + end-to-end assembly goldens
(SURVEY.md §5 items 3; FIXTURES.md §8 "full single-k assembly")."""

import random

import pytest
from pyspark.sql import functions as F

from reflexiv_spark.operators.extension import extension_round, extend_to_convergence, to_paths
from reflexiv_spark.pipelines.assemble import assemble
from tests.conftest import random_genome, revcomp, simulate_reads


def test_single_linear_path_contracts(spark):
    # k-mers of one 12 bp sequence, k=5: contraction must rebuild it.
    g = "ACGTACTTGGCA"
    k = 5
    kmers = sorted({g[i : i + k] for i in range(len(g) - k + 1)})
    df = spark.createDataFrame([(km, 1) for km in kmers], ["kmer", "count"])
    paths = to_paths(df)
    out = extend_to_convergence(paths, k, max_iterations=50)
    seqs = {r["seq"] for r in out.collect()}
    assert g in seqs
    assert len(seqs) == 1


def test_extension_round_preserves_kmer_content(spark):
    g = random_genome(300, seed=3)
    k = 15
    kmers = sorted({g[i : i + k] for i in range(len(g) - k + 1)})
    df = spark.createDataFrame([(km, 1) for km in kmers], ["kmer", "count"])
    cur = to_paths(df)
    for i in range(1, 4):
        cur = extension_round(cur, k, i)
    # Every row is still a genuine substring-walk of the genome, and the
    # union of k-mer content is unchanged.
    rows = [r["seq"] for r in cur.collect()]
    regenerated = set()
    for s in rows:
        assert s in g, f"{s} not a substring of genome"
        for i in range(len(s) - k + 1):
            regenerated.add(s[i : i + k])
    assert regenerated == set(kmers)


@pytest.mark.parametrize("glen,k", [(2000, 21), (4576, 31)])
def test_e2e_assembly_recovers_genome(spark, glen, k):
    """Error-free reads at 15× → one contig equal to the genome (up to RC).

    The 4576/31 case mirrors the reference's example dataset
    (example/paired_dat*.fq.gz: one 4,576 bp contig at ~14.9×).
    """
    genome = random_genome(glen, seed=42)
    reads = simulate_reads(genome, read_len=100, coverage=15, seed=42)
    df = spark.createDataFrame([(r,) for r in reads], ["seq"])
    contigs = assemble(df, k=k, min_coverage=2, min_contig=500).collect()
    seqs = [r["seq"] for r in contigs]
    canon_genome = min(genome, revcomp(genome))
    # Coverage gaps can split the genome into a few contigs; the dominant
    # one must reconstruct (nearly) the full genome.
    assert seqs, "no contigs assembled"
    longest = max(seqs, key=len)
    assert len(longest) >= glen * 0.95
    assert longest in canon_genome or longest in revcomp(canon_genome)
    # All contigs must be genuine genome substrings (no chimeras).
    for s in seqs:
        assert s in genome or revcomp(s) in genome


def test_rank_paths_matches_contraction(spark):
    """Pointer-doubling and randomized contraction are plan-equivalent on
    fork-free path graphs (anchored set)."""
    from reflexiv_spark.functions.kmer import prefix_subkmer, suffix_subkmer
    from reflexiv_spark.operators.extension import rank_paths

    g = random_genome(600, seed=9)
    k = 15
    # three disjoint fragments -> multiple maximal paths
    frags = [g[0:220], g[240:430], g[450:600]]
    kmers = sorted({f[i : i + k] for f in frags for i in range(len(f) - k + 1)})
    df = spark.createDataFrame([(km, i % 5 + 1) for i, km in enumerate(kmers)], ["kmer", "count"])

    ranked = rank_paths(df, k)
    contracted = extend_to_convergence(to_paths(df), k)
    dsts = df.select(suffix_subkmer("kmer", k).alias("__dst")).distinct()
    anchored = contracted.join(
        dsts, prefix_subkmer("seq", k) == F.col("__dst"), "left_anti"
    )
    r = {(x["seq"], x["left_cover"], x["right_cover"]) for x in ranked.collect()}
    c = {(x["seq"], x["left_cover"], x["right_cover"]) for x in anchored.collect()}
    assert r == c
    assert {s for s, _, _ in r} == set(frags)


def test_rank_paths_drops_cycles_keeps_paths(spark):
    from reflexiv_spark.operators.extension import rank_paths

    k = 5
    # pure cycle: rotations of a cyclic sequence; plus one linear path
    cyc = "ACGGTCA"  # cycle over ACGGT CGGTC GGTCA GTCAA? build rotations manually
    cyc_kmers = {(cyc + cyc)[i : i + k] for i in range(len(cyc))}
    lin = "TTTTCAGTA"
    lin_kmers = {lin[i : i + k] for i in range(len(lin) - k + 1)}
    rows = [(km, 1) for km in sorted(cyc_kmers | lin_kmers)]
    df = spark.createDataFrame(rows, ["kmer", "count"])
    out = [r["seq"] for r in rank_paths(df, k, max_rounds=12).collect()]
    assert out == [lin]


def _codec_case(shape, k):
    """Sequences for the codec differential: reads of which every k-mer
    is kept (each sequence 1-3 times, so the error-coverage gate bites)."""
    rng = random.Random(k * 7 + len(shape))
    g = random_genome(900, seed=k)
    frags = [g[0:260], g[280:560], g[580:900]]
    if shape == "linear":
        return frags, frags
    if shape == "cycle":
        # a pure cycle (every cyclic k-mer, no head) beside one linear path
        cyc = "".join(rng.choice("ACGT") for _ in range(3 * k + 7))
        return [(cyc + cyc)[: len(cyc) + k - 1], frags[0]], [frags[0]]
    # even k: x + revcomp(x) is its own reverse complement
    x = "".join(rng.choice("ACGT") for _ in range(k // 2))
    pal = frags[0][:120] + x + revcomp(x) + frags[1][:120]
    return [pal, frags[2]], [frags[2]]


@pytest.mark.parametrize(
    "k,shape",
    [(k, s) for k in (21, 31, 32, 41, 62) for s in ("linear", "cycle")]
    + [(32, "palindrome"), (62, "palindrome")],
)
def test_codecs_agree_on_rank_paths_and_assembly(spark, k, shape):
    """The forced string codec and the codec chosen from k (int64 ids up
    to 31, long blocks above) give identical pruned k-mers, rank_paths
    rows (default and non-default overlap) and rank-route contigs."""
    from reflexiv_spark.operators.codec import StringCodec, codec_for_k
    from reflexiv_spark.operators.extension import rank_paths
    from reflexiv_spark.pipelines.assemble import (
        assemble_from_counts,
        expand_orientations,
        prune_forks,
    )

    seqs, linear = _codec_case(shape, k)
    reads = spark.createDataFrame(
        [(s,) for i, s in enumerate(seqs) for _ in range(i % 3 + 1)], "seq string"
    )
    key = lambda df: {tuple(r) for r in df.collect()}
    got = {}
    for codec in (StringCodec(k), codec_for_k(k)):
        counts = codec.count(reads, min_coverage=1, max_coverage=None)
        pruned = prune_forks(
            expand_orientations(counts, k, input_canonical=True), k,
            min_error_coverage=2,
        ).localCheckpoint()
        got[type(codec)] = (
            key(pruned.select(codec.decode(codec.col), "count")),
            key(rank_paths(pruned, k)),
            key(rank_paths(pruned, k, overlap=k - 3)) if shape == "linear" else None,
            key(
                assemble_from_counts(
                    counts, k, min_contig=k + 1, min_error_coverage=2,
                    algorithm="rank", input_canonical=True,
                )
            ),
        )
    s, p = got.values()
    assert s == p
    # anchored paths only: the cycle (and any pruned branch) is dropped
    paths = {seq for seq, _, _ in s[1]}
    assert set(linear) | {revcomp(f) for f in linear} <= paths
    if shape != "palindrome":
        assert {seq for _, seq, _, _ in s[3]} == {
            min(f, revcomp(f)) for f in linear
        }


def test_packed_revcomp_and_canonical_match_string_kernels(spark):
    """Catalyst bit-twiddled RC / canonical over packed bigints equal the
    string kernels for random k-mers across every k ≤ 31."""
    from pyspark.sql import functions as F

    from reflexiv_spark.functions.kmer import canonical_kmer, reverse_complement
    from reflexiv_spark.operators.counter_packed import (
        canonical_packed,
        kmer_to_packed,
        packed_to_kmer,
        revcomp_packed,
    )
    import random

    rng = random.Random(13)
    rows = [
        ("".join(rng.choice("ACGT") for _ in range(k)), k)
        for k in range(1, 32)
        for _ in range(8)
    ]
    for k in (1, 5, 16, 31):
        sub = [(s,) for s, kk in rows if kk == k]
        df = spark.createDataFrame(sub, "kmer string")
        got = df.select(
            "kmer",
            packed_to_kmer(revcomp_packed(kmer_to_packed("kmer", k), k), k).alias("rc_p"),
            reverse_complement("kmer").alias("rc_s"),
            packed_to_kmer(canonical_packed(kmer_to_packed("kmer", k), k), k).alias("can_p"),
            canonical_kmer("kmer").alias("can_s"),
        ).collect()
        for r in got:
            assert r["rc_p"] == r["rc_s"], (k, r)
            assert r["can_p"] == r["can_s"], (k, r)
    # round-trip identity
    df = spark.createDataFrame([(s,) for s, kk in rows if kk == 31], "kmer string")
    rt = df.select(
        "kmer", packed_to_kmer(kmer_to_packed("kmer", 31), 31).alias("rt")
    ).collect()
    assert all(r["kmer"] == r["rt"] for r in rt)


def test_fully_packed_pipeline_matches_string_rank(spark):
    """count→expand→prune→rank entirely over packed bigints produces the
    same contigs as the string pipeline (anchored-path semantics)."""
    from reflexiv_spark.operators.counter import count_kmers
    from reflexiv_spark.operators.counter_packed import count_kmers_packed
    from reflexiv_spark.pipelines.assemble import assemble_from_counts

    g = random_genome(1200, seed=51)
    reads = simulate_reads(g, read_len=90, coverage=14, seed=52)
    df = spark.createDataFrame([(r,) for r in reads], ["seq"])
    k = 21
    kw = dict(min_contig=100, min_error_coverage=8, algorithm="rank")
    s = {
        (r["seq"], r["left_cover"], r["right_cover"])
        for r in assemble_from_counts(
            count_kmers(df, k, min_coverage=2), k, **kw
        ).collect()
    }
    p = {
        (r["seq"], r["left_cover"], r["right_cover"])
        for r in assemble_from_counts(
            count_kmers_packed(df, k, min_coverage=2, decode=False), k, **kw
        ).collect()
    }
    assert p == s and p


def test_assemble_packed_rank_end_to_end(spark):
    """assemble(algorithm='rank') — the string-free front door —
    recovers the genome like the default path."""
    from reflexiv_spark.pipelines.assemble import assemble

    g = random_genome(1500, seed=71)
    reads = simulate_reads(g, read_len=100, coverage=15, seed=72)
    df = spark.createDataFrame([(r,) for r in reads], ["seq"])
    contigs = assemble(
        df, k=21, min_coverage=2, min_contig=400, algorithm="rank"
    ).collect()
    assert contigs
    longest = max((r["seq"] for r in contigs), key=len)
    assert len(longest) >= 0.9 * len(g)
    assert longest in g or revcomp(longest) in g


def test_assemble_from_counts_rank_matches_contract(spark):
    from reflexiv_spark.operators.counter import count_kmers
    from reflexiv_spark.pipelines.assemble import assemble_from_counts

    g = random_genome(800, seed=21)
    reads = simulate_reads(g, read_len=80, coverage=12, seed=21)
    df = spark.createDataFrame([(r,) for r in reads], ["seq"])
    counts = count_kmers(df, 21, min_coverage=2).localCheckpoint(eager=True)
    a = {
        (r["seq"], r["left_cover"], r["right_cover"])
        for r in assemble_from_counts(counts, 21, min_contig=22, algorithm="rank").collect()
    }
    b = {
        (r["seq"], r["left_cover"], r["right_cover"])
        for r in assemble_from_counts(counts, 21, min_contig=22, algorithm="contract").collect()
    }
    assert a == b and a  # linear genome: no cycles, identical contigs


@pytest.mark.parametrize("k", [21, 41])
def test_rank_paths_loop_id_collision_reruns_on_native_ids(spark, monkeypatch, k):
    """A hashed loop id that is not injective on the input (forced here:
    every k-mer hashes to 0) must rerun the same loop on the native
    string / block ids and give byte-identical contigs."""
    from reflexiv_spark.operators.codec import StringCodec, codec_for_k
    from reflexiv_spark.operators.extension import rank_paths

    genome = random_genome(1200, seed=21)
    seqs = simulate_reads(genome, read_len=150, coverage=18.0, seed=7)
    reads = spark.createDataFrame([(s,) for s in seqs], "seq string")
    codec = codec_for_k(k) if k > 31 else StringCodec(k)
    counts = codec.count(reads, min_coverage=1, max_coverage=None)
    hashed = sorted(tuple(r) for r in rank_paths(counts, k).collect())
    monkeypatch.setattr(
        type(codec), "loop_id", lambda self, c: F.lit(0).cast("long")
    )
    native = sorted(tuple(r) for r in rank_paths(counts, k).collect())
    assert hashed == native and hashed


def test_rank_paths_forked_input_fails_loudly(spark):
    """The fork-free guard (VERDICT r13 'What's wrong #4'): rank_paths
    derives its log2(n) round bound from the INPUT count on the premise
    that state rows == input rows. Un-pruned forked input (an
    in-degree-2 (k-1)-mer) fans the init join out, under-counts the
    bound, and previously could terminate the contraction early with
    wrong output. It must raise instead."""
    from reflexiv_spark.operators.extension import rank_paths

    # "ACG" has two predecessors: suffix("AAC") == suffix("CAC") == "AC"
    # == prefix("ACG") — an in-degree-2 fork that prune_forks would have
    # collapsed. Extended with a long tail so the un-forked path part
    # needs more rounds than the under-counted bound would grant.
    g = "ACGTACTTGGCATTACGGATCCAATTGGCCAA"
    k = 3
    kmers = sorted({g[i : i + k] for i in range(len(g) - k + 1)})
    kmers = sorted(set(kmers) | {"AAC", "CAC", "ACG"})
    df = spark.createDataFrame([(km, 1) for km in kmers], ["kmer", "count"])
    with pytest.raises(Exception, match="fork-free precondition violated"):
        rank_paths(df, k).collect()

    # the packed codec shares the guard
    from reflexiv_spark.operators.counter_packed import kmer_to_packed

    packed = df.select(kmer_to_packed("kmer", k).alias("kid"), "count")
    with pytest.raises(Exception, match="fork-free precondition violated"):
        rank_paths(packed, k).collect()
