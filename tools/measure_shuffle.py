#!/usr/bin/env python
"""Measure wall clock + total shuffle read/write bytes of the
count→expand→prune→rank assembly pipeline in two codecs: ``string``
(ASCII k-mers everywhere) and ``packed`` (the codec chosen from k —
2-bit int64 ids for k ≤ 31, long-block ``array<long>`` ids above — from
the counter onward, one decode at assembly). Sums per-stage shuffle
metrics from the live Spark UI REST API between two marks, so only the
measured section counts; best-of-2 alternating runs for JIT fairness.

Usage: python tools/measure_shuffle.py [sf_dir] [k]
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
K = int(sys.argv[2]) if len(sys.argv) > 2 else 15


def _stages(ui: str):
    with urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=10) as r:
        app = json.load(r)[0]["id"]
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app}/stages?status=complete", timeout=30
    ) as r:
        return json.load(r)


def _totals(ui: str):
    w = r = 0
    ids = set()
    for s in _stages(ui):
        w += s.get("shuffleWriteBytes", 0)
        r += s.get("shuffleReadBytes", 0)
        ids.add((s["stageId"], s["attemptId"]))
    return w, r, ids


def main(k: int = K):
    from pyspark.sql import SparkSession

    from reflexiv_spark.operators.codec import StringCodec, codec_for_k
    from reflexiv_spark.operators.extension import rank_paths
    from reflexiv_spark.pipelines.assemble import expand_orientations, prune_forks
    from __spark_entry__ import _dna

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.retainedStages", "5000")
        .getOrCreate()
    )
    ui = f"http://localhost:{spark.sparkContext.uiWebUrl.rsplit(':', 1)[1]}"
    dna = _dna(spark, SF_DIR).localCheckpoint(eager=True)
    n = dna.count()

    def pipeline(codec):
        counts = codec.count(dna, min_coverage=2)
        pruned = prune_forks(expand_orientations(counts, k), k)
        return rank_paths(pruned.select(codec.col, "count"), k)

    variants = {"string": StringCodec(k), "packed": codec_for_k(k)}
    out = {}
    # alternate order, keep the best-of-2 wall clock (JIT/warmup fairness)
    order = list(variants) + list(reversed(list(variants)))
    for label in order:
        w0, r0, _ = _totals(ui)
        t0 = time.time()
        rows = pipeline(variants[label]).count()
        dt = time.time() - t0
        time.sleep(2)  # let the UI ingest the final stage metrics
        w1, r1, _ = _totals(ui)
        cur = {
            "rows": rows,
            "sec": round(dt, 2),
            "shuffle_write_mb": round((w1 - w0) / 1e6, 2),
            "shuffle_read_mb": round((r1 - r0) / 1e6, 2),
        }
        if label not in out or cur["sec"] < out[label]["sec"]:
            out[label] = cur
    out["k"] = k
    out["input_rows"] = n
    out["write_ratio"] = round(
        out["string"]["shuffle_write_mb"]
        / max(out["packed"]["shuffle_write_mb"], 0.01),
        2,
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
