"""Measure catalog.merge() (postings re-blocked, not re-analyzed) vs
compact() (full rebuild) after an incremental update — the claim that
matters at 100 TB: compaction cost should track POSTING BYTES, not
re-tokenization CPU. Appends the result to
stdout as one JSON line; paste into BENCH/BASELINE.md."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xltsearch_spark.catalog import IndexCatalog  # noqa: E402
from xltsearch_spark.config import IndexConfig  # noqa: E402
from xltsearch_spark.session import get_spark  # noqa: E402
from xltsearch_spark.sources.corpus import generate_corpus  # noqa: E402


def main(n_docs: int = 100_000, cores: int = 16, repeat: int = 1) -> int:
    spark = get_spark("merge_bench", cores=cores, shuffle_partitions=cores)
    cfg = IndexConfig(name="mb", doc_range_size=2048, block_size=128,
                      term_buckets=max(cores, 16))
    v1 = generate_corpus(n_docs)
    if repeat > 1:  # realistic doc sizes: the fixture's ~50-token docs make
        # tokenization artificially cheap relative to index bytes
        v1["content"] = (v1["content"] + " ").str.repeat(repeat)
    # v2: drop 5%, modify 5% (deterministic by row index)
    v2 = v1[v1.index % 20 != 0].copy()
    mod = v2.index % 20 == 1
    v2.loc[mod, "content"] = v2.loc[mod, "content"] + " merged_marker"
    corpus1 = spark.createDataFrame(v1).repartition(cores).persist()
    corpus2 = spark.createDataFrame(v2).repartition(cores).persist()
    corpus1.count(), corpus2.count()

    wh = "/tmp/merge_bench_wh"
    shutil.rmtree(wh, ignore_errors=True)
    cat = IndexCatalog(spark, wh, cfg)
    t0 = time.time()
    cat.build(corpus1, fingerprint="v1")
    t_build = time.time() - t0
    t0 = time.time()
    cat.update(corpus2, fingerprint="v2")
    t_update = time.time() - t0
    t0 = time.time()
    cat.merge(fingerprint="m")
    t_merge = time.time() - t0
    n_after_merge = cat.engine().docs.count()
    # compact = full rebuild for comparison (separate warehouse, same input)
    wh2 = "/tmp/merge_bench_wh2"
    shutil.rmtree(wh2, ignore_errors=True)
    cat2 = IndexCatalog(spark, wh2, cfg)
    cat2.build(corpus1, fingerprint="v1")
    cat2.update(corpus2, fingerprint="v2")
    t0 = time.time()
    cat2.compact(corpus2, fingerprint="c")
    t_compact = time.time() - t0
    print(json.dumps({
        "n_docs": n_docs, "cores": cores, "repeat": repeat,
        "build_sec": round(t_build, 2), "update_sec": round(t_update, 2),
        "merge_sec": round(t_merge, 2), "compact_sec": round(t_compact, 2),
        "merge_speedup_vs_compact": round(t_compact / t_merge, 2),
        "live_docs_after_merge": n_after_merge,
    }))
    shutil.rmtree(wh, ignore_errors=True)
    shutil.rmtree(wh2, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(*[int(x) for x in sys.argv[1:]]))
