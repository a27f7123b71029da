"""Seeded input generators with ground truth.

Everything here is pure Python on ``random.Random(seed)``, so a seed gives
byte-identical files on every run. The program under test sees only the
files these functions write; the returned ground truth stays with the
checker.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

READ_LEN = 100
SUB_RATE = 0.005  # per-base substitution rate of the simulated reads
_COMP = str.maketrans("ACGT", "TGCA")
_SUBST = {b: tuple(c for c in "ACGT" if c != b) for b in "ACGT"}


def revcomp(s: str) -> str:
    return s.translate(_COMP)[::-1]


def random_genome(rng: random.Random, length: int) -> str:
    return "".join(rng.choices("ACGT", k=length))


def sample_reads(rng: random.Random, genome: str, n_reads: int) -> list[str]:
    """Uniformly placed reads with per-base substitutions; half of them
    are reverse-complemented."""
    reads = []
    for _ in range(n_reads):
        pos = rng.randrange(len(genome) - READ_LEN + 1)
        r = list(genome[pos : pos + READ_LEN])
        for i in range(READ_LEN):
            if rng.random() < SUB_RATE:
                r[i] = rng.choice(_SUBST[r[i]])
        s = "".join(r)
        reads.append(revcomp(s) if rng.random() < 0.5 else s)
    return reads


def write_fastq(path: str, reads: list[str]) -> int:
    """Write reads as 4-line FASTQ records; returns the bytes written."""
    parts = []
    for i, s in enumerate(reads):
        parts.append(f"@r{i}\n{s}\n+\n{'I' * len(s)}\n")
    data = "".join(parts).encode("ascii")
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def genome_reads(
    seed: int, genome_len: int, coverage: float
) -> tuple[list[str], list[str]]:
    """One random genome sampled at ``coverage`` → (genomes, reads)."""
    rng = random.Random(seed)
    genome = random_genome(rng, genome_len)
    n = int(genome_len * coverage / READ_LEN)
    return [genome], sample_reads(rng, genome, n)


def community_reads(
    seed: int,
    n_genomes: int,
    genome_len: int,
    base_coverage: float,
    max_abundance: float,
) -> tuple[list[str], list[str]]:
    """A metagenome: ``n_genomes`` random genomes at ``base_coverage`` ×
    abundances spaced evenly on a log scale from 1 to ``max_abundance``,
    dealt to the genomes in a seeded order. The ladder is the same for
    every seed, so the read count is too. Reads of all genomes are
    shuffled together."""
    rng = random.Random(seed)
    genomes = [random_genome(rng, genome_len) for _ in range(n_genomes)]
    steps = max(n_genomes - 1, 1)
    ladder = [max_abundance ** (i / steps) for i in range(n_genomes)]
    rng.shuffle(ladder)
    reads: list[str] = []
    for g, abundance in zip(genomes, ladder):
        n = int(genome_len * base_coverage * abundance / READ_LEN)
        reads.extend(sample_reads(rng, g, n))
    rng.shuffle(reads)
    return genomes, reads


# English stopwords the quality scorer counts, plus filler function words,
# so every generated document scores as English prose.
_STOP = ("the", "and", "of", "to", "in", "is", "that", "a", "for", "with")


def _vocabulary(rng: random.Random, size: int) -> list[str]:
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    words: set[str] = set()
    while len(words) < size:
        n = rng.randint(2, 4)
        words.add("".join(rng.choice(cons) + rng.choice(vows) for _ in range(n)))
    return sorted(words)


def _document(rng: random.Random, vocab: list[str], n_words: int) -> list[str]:
    words = []
    for _ in range(n_words):
        words.append(rng.choice(_STOP) if rng.random() < 0.35 else rng.choice(vocab))
    return words


def _render(words: list[str]) -> str:
    # sentences of 12 words, capitalised and full-stopped
    out = []
    for i in range(0, len(words), 12):
        s = " ".join(words[i : i + 12])
        out.append(s[0].upper() + s[1:] + ".")
    return " ".join(out)


def corpus(seed: int, n_docs: int) -> tuple[list[int], list[str], list[int]]:
    """A corpus with planted duplicates → (doc_ids, texts, group).

    10 % of the documents are exact copies and 10 % near copies (3 % of
    the words replaced) of an original of 120–260 words. ``group[i]`` is
    the index of the original that document ``i`` was made from (its own
    index for an original). Rows are shuffled and ids are the shuffled
    positions, so the engine's smallest-id tie-break is not told which
    row is the original.
    """
    rng = random.Random(seed)
    vocab = _vocabulary(rng, 20_000)
    n_exact = n_near = n_docs // 10
    n_orig = n_docs - n_exact - n_near
    docs: list[tuple[int, str]] = []
    orig_words = []
    for i in range(n_orig):
        w = _document(rng, vocab, rng.randint(120, 260))
        orig_words.append(w)
        docs.append((i, _render(w)))
    for _ in range(n_exact):
        src = rng.randrange(n_orig)
        docs.append((src, docs[src][1]))
    for _ in range(n_near):
        src = rng.randrange(n_orig)
        w = list(orig_words[src])
        for j in range(len(w)):
            if rng.random() < 0.03:
                w[j] = rng.choice(vocab)
        docs.append((src, _render(w)))
    rng.shuffle(docs)
    return list(range(len(docs))), [t for _, t in docs], [g for g, _ in docs]


def write_corpus(path: str, doc_ids: list[int], texts: list[str]) -> int:
    """Write the corpus as one Parquet file; returns its size in bytes."""
    table = pa.table(
        {"doc_id": pa.array(doc_ids, pa.int64()), "text": pa.array(texts, pa.string())}
    )
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)
