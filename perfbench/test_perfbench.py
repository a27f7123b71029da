"""Tests of the benchmark's own code: generators, checkers and the metric
declarations. Run from the root of a checkout:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import importlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _bytes(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def test_read_generators_are_byte_identical_per_seed(tmp_path):
    for name, make in (
        ("genome", lambda s: gen.genome_reads(s, 3_000, 10.0)),
        ("community", lambda s: gen.community_reads(s, 3, 1_000, 4.0, 8.0)),
    ):
        files = []
        for i, seed in enumerate((7, 7, 8)):
            p = str(tmp_path / f"{name}{i}.fq")
            gen.write_fastq(p, make(seed)[1])
            files.append(_bytes(p))
        assert files[0] == files[1], name
        assert files[0] != files[2], name


def test_corpus_generator_is_byte_identical_per_seed(tmp_path):
    files = []
    for i, seed in enumerate((3, 3, 4)):
        ids, texts, _ = gen.corpus(seed, 200)
        p = str(tmp_path / f"c{i}.parquet")
        gen.write_corpus(p, ids, texts)
        files.append(_bytes(p))
    assert files[0] == files[1]
    assert files[0] != files[2]


def test_reads_carry_substitutions_and_both_strands():
    genomes, reads = gen.genome_reads(1, 5_000, 20.0)
    g, rc = genomes[0], gen.revcomp(genomes[0])
    fwd = sum(r in g for r in reads)
    rev = sum(r in rc for r in reads)
    exact = fwd + rev
    assert 0.4 < fwd / exact < 0.6
    # 0.5 % per base over 100 bp leaves about 61 % of reads error-free
    assert 0.5 < exact / len(reads) < 0.72


def test_community_read_count_is_fixed_by_the_abundance_ladder():
    sizes = {len(gen.community_reads(s, 5, 2_000, 8.0, 8.0)[1]) for s in range(4)}
    assert len(sizes) == 1


def test_checker_flags_mismatched_and_contained_contigs():
    genome = gen.random_genome(__import__("random").Random(5), 2_000)
    good = genome[100:900]
    inner = gen.revcomp(genome[300:600])  # a contig inside another
    errors, q = check.check_contigs([("a", good), ("b", inner)], [genome])
    assert errors == []
    assert q["contained_contigs"] == 1
    assert q["contig_bases_ratio"] == (800 + 300) / 2_000
    assert q["genome_fraction"] == 800 / 2_000

    bad = good[:400] + ("A" if good[400] != "A" else "C") + good[401:]
    errors, q = check.check_contigs([("a", good), ("x", bad)], [genome])
    assert len(errors) == 1 and "x" in errors[0]
    assert q["exact_contig_frac"] == 0.5


def test_n50():
    assert check.n50([100, 50, 30, 20]) == 100
    assert check.n50([40, 30, 30]) == 30


def test_fasta_dir_reader(tmp_path):
    (tmp_path / "part-00000.txt").write_text(">c1\nACGT\nAC\n>c2\nGG\n")
    (tmp_path / "_SUCCESS").write_text("")
    assert check.read_fasta_dir(str(tmp_path)) == [("c1", "ACGTAC"), ("c2", "GG")]


def _write_kept(path, ids):
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), path)


def test_corpus_checker_scores_planted_duplicates(tmp_path):
    ids = [0, 1, 2, 3, 4]
    texts = ["a b", "a b", "a c", "d e", "f g"]
    group = [0, 0, 0, 3, 4]  # 1 is an exact and 2 a near copy of 0
    out = str(tmp_path / "ok.parquet")
    _write_kept(out, [0, 2, 3, 4])
    errors, q = check.check_corpus(out, ids, texts, group)
    assert errors == []
    assert q["dup_removed_frac"] == 0.5
    assert q["unique_kept_frac"] == 1.0

    _write_kept(out, [0, 1, 3, 9])
    errors, q = check.check_corpus(out, ids, texts, group)
    assert any("kept more than once" in e for e in errors)
    assert any("not input ids" in e for e in errors)
    assert q["unique_kept_frac"] == 2 / 3


def test_every_printed_metric_is_declared_with_unit_and_direction():
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {
        m["name"]: (m["unit"], m["better"])
        for section in ("end_to_end", "per_layer")
        for m in bench[section]
    }
    printed = run.printed_metrics()
    assert set(printed) == set(declared)
    for name, (unit, better) in printed.items():
        assert declared[name] == (unit, better), name
    assert [m["name"] for m in bench["end_to_end"]] == [n for n, _, _ in run.E2E_METRICS]
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_every_layer_target_resolves_in_this_engine():
    # the traced run tolerates a missing target (a later engine may drop
    # one), so a misspelt or renamed target would only make its layer read
    # 0; here every target must import and resolve
    for layer, targets in tracing.LAYERS.items():
        assert targets, layer
        for mod_name, attr in targets:
            obj = importlib.import_module(mod_name)
            for part in attr.split("."):
                obj = getattr(obj, part, None)
                assert obj is not None, (layer, mod_name, attr)
            assert callable(obj), (layer, mod_name, attr)
