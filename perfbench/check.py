"""Output checks against the generator's ground truth.

Each checker returns ``(errors, quality)``: a list of reasons the output
is wrong (any error fails the invocation) and the quality figures the
benchmark reports. Quality is never a failure on its own — a contig that
lies inside another one is a defect the figures show, not a wrong
answer.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from gen import revcomp


def read_fasta_dir(path: str) -> list[tuple[str, str]]:
    """Read every part file of a FASTA output directory."""
    records: list[tuple[str, str]] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        rid, seq = None, []
        with open(part) as fh:
            for line in fh:
                line = line.rstrip("\n")
                if line.startswith(">"):
                    if rid is not None:
                        records.append((rid, "".join(seq)))
                    rid, seq = line[1:], []
                elif line:
                    seq.append(line)
        if rid is not None:
            records.append((rid, "".join(seq)))
    return records


def n50(lengths: list[int]) -> int:
    half, acc = sum(lengths) / 2, 0
    for n in sorted(lengths, reverse=True):
        acc += n
        if acc >= half:
            return n
    return 0


def _locate(seq: str, genomes: list[str]) -> tuple[int, int, int] | None:
    """→ (genome index, start, end) on the forward strand, or None."""
    rc = revcomp(seq)
    for gi, g in enumerate(genomes):
        pos = g.find(seq)
        if pos < 0:
            pos = g.find(rc)
        if pos >= 0:
            return gi, pos, pos + len(seq)
    return None


def check_contigs(
    contigs: list[tuple[str, str]], genomes: list[str]
) -> tuple[list[str], dict[str, float]]:
    """Every contig must be an exact substring of a genome or of its
    reverse complement."""
    errors: list[str] = []
    hits = []
    for cid, seq in contigs:
        loc = _locate(seq, genomes)
        if loc is None:
            errors.append(f"contig {cid} ({len(seq)} bp) is not in any source genome")
        else:
            hits.append(loc)
    if not contigs:
        errors.append("no contigs")
    covered = 0
    for gi in range(len(genomes)):
        ivs = sorted((s, e) for g, s, e in hits if g == gi)
        end = -1
        for s, e in ivs:
            covered += max(0, e - max(s, end))
            end = max(end, e)
    contained = sum(
        1
        for i, (g, s, e) in enumerate(hits)
        if any(
            j != i and g2 == g and s2 <= s and e <= e2 and (e2 - s2, j) > (e - s, i)
            for j, (g2, s2, e2) in enumerate(hits)
        )
    )
    genome_bases = sum(len(g) for g in genomes)
    lengths = [len(seq) for _, seq in contigs]
    quality = {
        "n_contigs": len(contigs),
        "n50_bp": n50(lengths),
        "genome_fraction": covered / genome_bases,
        "contig_bases_ratio": sum(lengths) / genome_bases,
        "exact_contig_frac": len(hits) / len(contigs) if contigs else 0.0,
        "contained_contigs": contained,
    }
    return errors, quality


def check_corpus(
    out_dir: str, doc_ids: list[int], texts: list[str], group: list[int]
) -> tuple[list[str], dict[str, float]]:
    """The cleaned corpus keeps input ids only, each once, and never two
    byte-identical texts; planted duplicates are scored per group."""
    errors: list[str] = []
    kept = pq.read_table(out_dir, columns=["doc_id"]).column("doc_id").to_pylist()
    kept_set = set(kept)
    if len(kept_set) != len(kept):
        errors.append(f"{len(kept) - len(kept_set)} doc ids are output twice")
    index = {d: i for i, d in enumerate(doc_ids)}
    unknown = [d for d in kept_set if d not in index]
    if unknown:
        errors.append(f"{len(unknown)} output ids are not input ids, e.g. {unknown[0]}")
    if not kept:
        errors.append("no documents kept")
    by_text: dict[str, int] = {}
    for d in kept_set:
        if d in index:
            t = texts[index[d]]
            by_text[t] = by_text.get(t, 0) + 1
    twice = sum(1 for n in by_text.values() if n > 1)
    if twice:
        errors.append(f"{twice} exact-duplicate texts are kept more than once")
    size: dict[int, int] = {}
    kept_in: dict[int, int] = {}
    for d, g in zip(doc_ids, group):
        size[g] = size.get(g, 0) + 1
        if d in kept_set:
            kept_in[g] = kept_in.get(g, 0) + 1
    planted = sum(n - 1 for n in size.values())
    removed = sum(min(n - 1, n - kept_in.get(g, 0)) for g, n in size.items())
    quality = {
        "docs_kept": len(kept),
        "dup_removed_frac": removed / planted if planted else 1.0,
        "unique_kept_frac": sum(1 for g in size if kept_in.get(g)) / len(size),
    }
    return errors, quality
