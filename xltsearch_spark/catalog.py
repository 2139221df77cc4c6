"""Index catalog: segmented persisted index + lineage manifests + resume.

Mirrors the reference's catalog/lifecycle machinery Spark-first:

* ``Catalog`` manages N named configs = N indices per corpus
  (``Catalog.java:61-95``); each config owns a warehouse namespace
  ``<warehouse>/<config-name>/`` holding SEGMENTS — exactly Lucene's index
  architecture (``IndexTask.java:54-58`` opens an IndexWriter whose flushes
  create immutable segments). Each segment holds ``docs``, ``runs``,
  ``dictionary``, ``doc_stats`` and ``postings`` parquet tables; ``postings``
  is directory-partitioned by (field, bucket) so term lookups prune
  partitions (the role Iceberg's bucket(term) transform plays on a cluster).
* Incremental update (``updateDocument``/``deleteDocuments``,
  ``IndexTask.java:83,87-88``): changed/new rows become a NEW segment with
  doc ids appended after maxDoc; replaced/deleted rows become tombstones.
  Collection stats (maxDoc, docFreq, sumTotalTermFreq) keep counting
  tombstoned docs until compaction — Lucene 4.6's exact pre-merge behavior.
  ``merge()`` = forceMerge without retokenization: the segments' posting
  blocks, minus the tombstoned docs, go back through the build's own
  stats/dictionary/postings stages, so the merged segment equals a fresh
  build over the live docs (doc ids kept). ``compact()`` = full rebuild
  from the corpus, restoring the dense (repo, path)-ordered docid layout.
* Build state machine follows ``Config.java:52-54,237-250`` /
  ``Catalog.java:104-122``: ``last_updated`` = UPDATE_FAILED(-1) while a
  build runs, the build-start timestamp only after every stage commits;
  NEVER_CREATED(-2) before first build; INVALIDATED(-3) on config-hash
  mismatch (any config change invalidates, ``Config.java:289-297``) or
  when ``stats.json`` lacks the current ``INDEX_FORMAT`` (an index written
  by code whose on-disk blocks this code cannot trust).
* Checkpoint/resume (north-rule mandate): every stage directory carries a
  ``_manifest.json`` with the stage's input fingerprint + row/wall metrics;
  a re-run with the same fingerprint, config and format skips completed
  stages. The row count is observed on the write itself, never re-read.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from xltsearch_spark.config import (INDEX_INVALIDATED, INDEX_NEVER_CREATED,
                                    INDEX_UPDATE_FAILED, IndexConfig)
from xltsearch_spark.operators.build import (RUN_SCHEMA, BuildStats, IndexBuilder,
                                             make_block_to_run_udf)
from xltsearch_spark.operators.incremental import change_diff, diff_summary
from xltsearch_spark.operators.search import SearchEngine

STAGES = ("docs", "runs", "dictionary", "doc_stats", "postings")
CORPUS_COLS = ("repo", "path", "commit", "lang", "content", "title", "meta")
# on-disk layout version, stamped into stats.json and every stage manifest.
# 2: every posting block is strictly doc-id ordered and its skip span is
# its min/max doc (earlier builds could glue overlapping runs into one
# block, which conjunction pruning and the merge's dirty-block locator
# read wrongly). 3: a merged segment is re-blocked under the merged stats,
# so its stored block bounds are exact. A format-2 merge copied blocks and
# left stale bounds that only its meta flag told the engine to distrust;
# this code trusts every single-segment index's bounds (WAND's pushed
# block filter), so an index without the current stamp reports
# INDEX_INVALIDATED.
INDEX_FORMAT = 3


class IndexCatalog:
    def __init__(self, spark: SparkSession, warehouse: str,
                 config: IndexConfig | None = None,
                 store=None):
        from xltsearch_spark.sources.table_store import ParquetFilesystemStore
        self.spark = spark
        self.config = config or IndexConfig()
        self.root = os.path.join(warehouse, self.config.name)
        # every stage-table read/write goes through the TableStore seam
        # (sources/table_store.py): default = directory-partitioned parquet;
        # an IcebergTableStore drops in here per SCALE.md's Iceberg mapping
        self.store = store or ParquetFilesystemStore()
        os.makedirs(self.root, exist_ok=True)

    # ------------------------- state machine --------------------------------
    def _meta_path(self) -> str:
        return os.path.join(self.root, "stats.json")

    def read_meta(self) -> dict:
        p = self._meta_path()
        if not os.path.exists(p):
            return {"last_updated": INDEX_NEVER_CREATED, "config_hash": None,
                    "segments": []}
        with open(p) as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        os.replace(tmp, self._meta_path())

    def status(self) -> int:
        """last_updated epoch-ms, or the Config.java:52-54 sentinels."""
        meta = self.read_meta()
        if meta.get("config_hash") is not None and (
                meta["config_hash"] != self.config.config_hash()
                or meta.get("format") != INDEX_FORMAT):
            return INDEX_INVALIDATED
        return meta.get("last_updated", INDEX_NEVER_CREATED)

    def _require_valid(self) -> None:
        if self.status() == INDEX_INVALIDATED:
            raise RuntimeError("index invalidated by a config or format change; "
                               "rebuild required")

    def delete_index(self) -> None:
        """Config.deleteIndex (Config.java:320-336)."""
        if os.path.exists(self.root):
            shutil.rmtree(self.root)
        os.makedirs(self.root, exist_ok=True)

    # --------------------------- stage plumbing -----------------------------
    def _seg_dir(self, seg: str) -> str:
        return os.path.join(self.root, "segments", seg)

    def _stage_dir(self, seg: str, stage: str) -> str:
        return os.path.join(self._seg_dir(seg), stage)

    def _manifest_path(self, seg: str, stage: str) -> str:
        return os.path.join(self._stage_dir(seg, stage), "_manifest.json")

    def stage_complete(self, seg: str, stage: str, fingerprint: str) -> bool:
        p = self._manifest_path(seg, stage)
        if not os.path.exists(p):
            return False
        with open(p) as f:
            m = json.load(f)
        return (m.get("status") == "success"
                and m.get("input_fingerprint") == fingerprint
                and m.get("config_hash") == self.config.config_hash()
                and m.get("format") == INDEX_FORMAT)

    def _write_stage(self, seg: str, stage: str, df: DataFrame, fingerprint: str,
                     partition_by: tuple[str, ...] = ()) -> int:
        """Write one stage table and its manifest; returns the row count,
        observed on the write itself (no read-back count job, no listing)."""
        t0 = time.time()
        out = self._stage_dir(seg, stage)
        obs = Observation()
        self.store.write(df.observe(obs, F.count(F.lit(1)).alias("rows")), out,
                         partition_by=partition_by)
        rows = int(obs.get["rows"])
        with open(self._manifest_path(seg, stage), "w") as f:
            json.dump({"stage": stage, "segment": seg, "status": "success",
                       "input_fingerprint": fingerprint, "rows": rows,
                       "wall_ms": int((time.time() - t0) * 1000),
                       "config_hash": self.config.config_hash(),
                       "format": INDEX_FORMAT},
                      f, indent=1, sort_keys=True)
        return rows

    def _read_stage(self, seg: str, stage: str) -> DataFrame:
        return self.store.read(self.spark, self._stage_dir(seg, stage))

    def _read_all(self, stage: str, meta: dict | None = None) -> DataFrame:
        """Union view over all segments (each read separately: the stages are
        directory-partitioned per segment, so a single multi-root read would
        conflict)."""
        meta = meta or self.read_meta()
        dfs = [self.store.read(self.spark, self._stage_dir(s["name"], stage))
               for s in meta["segments"]]
        out = dfs[0]
        for d in dfs[1:]:
            # allowMissingColumns: segments built before an optional corpus
            # column existed (e.g. `meta`) must still union with newer ones
            # — missing columns read as NULL instead of bricking the index
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    # --------------------------- segment build ------------------------------
    def _build_segment(self, seg: str, corpus: DataFrame, fingerprint: str,
                       id_base: int, prior: BuildStats | None,
                       fail_after: str | None = None) -> tuple[BuildStats, int]:
        """Run the 5 build stages for one segment; returns (combined stats,
        segment doc count). ``prior`` carries stats of existing segments so
        block-max metadata is exact for the post-update collection."""
        builder = IndexBuilder(self.spark, self.config)

        if not self.stage_complete(seg, "docs", fingerprint):
            self._write_stage(seg, "docs", builder.docs_stage(corpus, id_base), fingerprint)
        if fail_after == "docs":
            raise RuntimeError("injected failure after stage docs")
        docs = self._read_stage(seg, "docs")

        if not self.stage_complete(seg, "runs", fingerprint):
            self._write_stage(seg, "runs", builder.runs_stage(docs), fingerprint)
        if fail_after == "runs":
            raise RuntimeError("injected failure after stage runs")
        runs = self._read_stage(seg, "runs")

        seg_stats = builder.stats_stage(docs, runs)
        combined = seg_stats
        if prior is not None:
            n = prior.n_docs + seg_stats.n_docs
            ttf = dict(prior.sum_ttf)
            for k, v in seg_stats.sum_ttf.items():
                ttf[k] = ttf.get(k, 0) + v
            combined = BuildStats(
                n_docs=n, sum_ttf=ttf,
                avgdl={k: (v / n if n else 1.0) or 1.0 for k, v in ttf.items()})

        if not self.stage_complete(seg, "dictionary", fingerprint):
            self._write_stage(seg, "dictionary", builder.dictionary_stage(runs),
                              fingerprint, partition_by=("bucket",))
        if fail_after == "dictionary":
            raise RuntimeError("injected failure after stage dictionary")

        if not self.stage_complete(seg, "doc_stats", fingerprint):
            self._write_stage(seg, "doc_stats", builder.doc_norms(runs), fingerprint)

        if not self.stage_complete(seg, "postings", fingerprint):
            self._write_stage(seg, "postings", builder.postings_stage(runs, combined),
                              fingerprint, partition_by=("field", "bucket"))
        if fail_after == "postings":
            raise RuntimeError("injected failure after stage postings")
        return combined, seg_stats.n_docs

    # ------------------------------ build -----------------------------------
    def build(self, corpus: DataFrame, fingerprint: str | None = None,
              build_time_ms: int | None = None, fail_after: str | None = None) -> BuildStats:
        """Full (re)build into segment 0, with per-stage resume on the same
        fingerprint. Mirrors Configurator 'Rebuild' (Configurator.java:270-290)."""
        fingerprint = fingerprint or "adhoc"
        start_ms = build_time_ms if build_time_ms is not None else int(time.time() * 1000)
        meta = self.read_meta()
        # crash marker first, like Catalog.java:104-105
        self._write_meta({**meta, "last_updated": INDEX_UPDATE_FAILED,
                          "config_hash": self.config.config_hash(),
                          "format": INDEX_FORMAT})
        seg = "seg_000000"
        # a fresh build invalidates later segments/tombstones from any history
        for s in meta.get("segments", []):
            if s["name"] != seg and os.path.exists(self._seg_dir(s["name"])):
                shutil.rmtree(self._seg_dir(s["name"]))
        if os.path.exists(os.path.join(self.root, "tombstones")):
            shutil.rmtree(os.path.join(self.root, "tombstones"))
        stats, seg_docs = self._build_segment(seg, corpus, fingerprint, 0, None,
                                              fail_after)
        self._write_meta({
            "last_updated": start_ms, "config_hash": self.config.config_hash(),
            "format": INDEX_FORMAT,
            "segments": [{"name": seg, "n_docs": seg_docs,
                          "fingerprint": fingerprint}],
            "n_docs": stats.n_docs, "avgdl": stats.avgdl, "sum_ttf": stats.sum_ttf,
            "max_doc": stats.n_docs,  # id watermark (ids stay sparse post-merge)
        })
        return stats

    # ----------------------------- update -----------------------------------
    def update(self, new_corpus: DataFrame, fingerprint: str | None = None,
               build_time_ms: int | None = None, full_snapshot: bool = True) -> dict:
        """Incremental update: diff -> new segment + tombstones (B2+B6+B7).

        Returns the diff summary. Unchanged docs cost one join; only
        changed/new rows are re-tokenized. ``full_snapshot=False`` treats the
        input as an append/upsert batch (streaming micro-batches): docs
        absent from the batch are NOT deleted."""
        fingerprint = fingerprint or "update-adhoc"
        meta = self.read_meta()
        if not meta["segments"]:
            self.build(new_corpus, fingerprint, build_time_ms)
            return {"insert": self.load_stats().n_docs, "update": 0,
                    "unchanged": 0, "delete": 0}
        self._require_valid()
        start_ms = build_time_ms if build_time_ms is not None else int(time.time() * 1000)
        live = self.live_docs(meta)
        diff = change_diff(new_corpus, live, full_snapshot=full_snapshot).persist()
        summary = diff_summary(diff)
        changed = (diff.filter(F.col("change_status").isin("insert", "update"))
                   .select(*[c for c in CORPUS_COLS if c in diff.columns]))
        # tombstones NEVER touch the driver: the dead ids are written as a
        # parquet batch and anti-joined lazily at query time (a 10^8-row
        # delete batch would OOM a collected id list). Batch ids are disjoint
        # across updates by construction (old_doc_id comes from live docs).
        n_dead = summary["update"] + summary["delete"]
        batch = None
        if n_dead > 0:
            batch = f"batch_{len(meta.get('tombstone_batches', [])):06d}"
            self.store.write(
                diff.filter(F.col("change_status").isin("update", "delete"))
                .select(F.col("old_doc_id").alias("doc_id")),
                os.path.join(self.root, "tombstones", batch))
        self._write_meta({**meta, "last_updated": INDEX_UPDATE_FAILED})
        prior = BuildStats(n_docs=int(meta["n_docs"]),
                           avgdl={k: float(v) for k, v in meta["avgdl"].items()},
                           sum_ttf={k: int(v) for k, v in meta["sum_ttf"].items()})
        if summary["insert"] + summary["update"] > 0:
            seg = f"seg_{len(meta['segments']):06d}"
            # id watermark, NOT n_docs: after a merge dropped deleted docs,
            # n_docs < max assigned id and reusing it would collide
            id_base = int(meta["max_doc"])
            stats, seg_docs = self._build_segment(seg, changed, fingerprint,
                                                  id_base=id_base, prior=prior)
            meta["segments"].append({"name": seg, "n_docs": seg_docs,
                                     "fingerprint": fingerprint})
            meta["max_doc"] = id_base + seg_docs
        else:
            stats = prior
        if batch is not None:
            meta["tombstone_batches"] = meta.get("tombstone_batches", []) + [batch]
            meta["n_tombstones"] = int(meta.get("n_tombstones", 0)) + n_dead
        meta.update({"last_updated": start_ms, "n_docs": stats.n_docs,
                     "avgdl": stats.avgdl, "sum_ttf": stats.sum_ttf})
        self._write_meta(meta)
        diff.unpersist()
        return summary

    def compact(self, corpus: DataFrame, fingerprint: str | None = None,
                build_time_ms: int | None = None) -> BuildStats:
        """forceMerge equivalent: drop tombstones/segments, rebuild dense
        docid layout from the live corpus. After compact the index is
        byte-equivalent to a from-scratch build."""
        self.delete_index()
        return self.build(corpus, fingerprint, build_time_ms)

    def merge(self, fingerprint: str | None = None,
              build_time_ms: int | None = None) -> BuildStats:
        """forceMerge WITHOUT retokenization: all segments collapse into
        one, deleted docs are dropped and nothing is re-analyzed. Posting
        blocks become runs again (``make_block_to_run_udf``: clean blocks
        byte for byte, the dirty blocks a bucketized equi-join locates
        against the tombstones without their dead docs) and go through the
        build's own stats, dictionary and postings stages, so the merged
        segment is blocked and scored exactly like a fresh build over the
        live docs: collection stats count LIVE docs only (Lucene's
        post-merge N/df/avgdl) and every stored block bound is exact. Doc
        ids are PRESERVED (sparse after deletes — ``max_doc`` watermarks
        future id blocks)."""
        fingerprint = fingerprint or "merge-adhoc"
        meta = self.read_meta()
        if not meta["segments"]:
            raise RuntimeError("nothing to merge: index never built")
        self._require_valid()
        start_ms = build_time_ms if build_time_ms is not None else int(time.time() * 1000)
        self._write_meta({**meta, "last_updated": INDEX_UPDATE_FAILED})
        p = self._read_all("postings", meta)
        tomb = self.tombstones_df(meta)
        rs = self.config.doc_range_size
        if tomb is not None:
            spans = p.select("field", "term", "skip_first_doc", "skip_last_doc")
            pk = spans.withColumn("rid", F.explode(F.sequence(
                F.floor(F.col("skip_first_doc") / rs),
                F.floor(F.col("skip_last_doc") / rs))))
            tk = tomb.select(F.col("doc_id").alias("dead_id"),
                             F.floor(F.col("doc_id") / rs).alias("rid"))
            dead = (pk.join(tk, "rid")
                    .filter(F.col("dead_id").between(F.col("skip_first_doc"),
                                                     F.col("skip_last_doc")))
                    .groupBy("field", "term", "skip_first_doc")
                    .agg(F.collect_list("dead_id").alias("dead")))
            # do not shuffle the postings table — the BIG side, all binary
            # payloads — for the join: broadcast the dirty-block list when
            # it is small.
            # Its size is O(tombstoned docs x distinct terms per doc), so the
            # gate estimates ENTRIES (tombstones x avg terms/doc from the
            # collection stats — total tf/doc upper-bounds distinct terms),
            # not just the tombstone count: 100k deleted LARGE docs can be a
            # multi-GB relation. Past the cap, fall back to a shuffle join
            # (AQE-planned) rather than OOM the driver
            n_tomb = int(meta.get("n_tombstones", 0) or 0)
            ttf_total = sum(int(v) for v in meta.get("sum_ttf", {}).values())
            avg_terms = ttf_total / max(int(meta.get("n_docs", 1) or 1), 1)
            if n_tomb * max(avg_terms, 1.0) <= 4_000_000:  # ~64 B/entry -> ~256 MB
                dead = F.broadcast(dead)
            p = p.join(dead, ["field", "term", "skip_first_doc"], "left")
        seg = f"seg_merged_{len(meta['segments']):06d}"
        live = self.live_docs(meta)
        n_live = self._write_stage(seg, "docs", live, fingerprint)
        self._write_stage(seg, "runs", p.mapInPandas(make_block_to_run_udf(),
                                                     schema=RUN_SCHEMA), fingerprint)
        runs = self._read_stage(seg, "runs")
        builder = IndexBuilder(self.spark, self.config)
        stats = builder.stats_stage(live, runs, n_docs=n_live)
        self._write_stage(seg, "dictionary", builder.dictionary_stage(runs),
                          fingerprint, partition_by=("bucket",))
        self._write_stage(seg, "postings", builder.postings_stage(runs, stats),
                          fingerprint, partition_by=("field", "bucket"))
        ds = self._read_all("doc_stats", meta)
        if tomb is not None:
            ds = ds.join(tomb.select("doc_id"), "doc_id", "left_anti")
        self._write_stage(seg, "doc_stats", ds, fingerprint)
        # COMMIT POINT: write the new meta (pointing at the merged segment)
        # BEFORE deleting the old segment dirs/tombstones — a crash in the
        # gap leaves orphan directories but a fully readable index, instead
        # of an INDEX_UPDATE_FAILED meta referencing deleted segments that
        # only a full rebuild could recover
        self._write_meta({
            "last_updated": start_ms, "config_hash": self.config.config_hash(),
            "format": INDEX_FORMAT,
            "segments": [{"name": seg, "n_docs": n_live,
                          "fingerprint": fingerprint}],
            "n_docs": stats.n_docs, "avgdl": stats.avgdl, "sum_ttf": stats.sum_ttf,
            "max_doc": int(meta["max_doc"]),
        })
        for s in meta["segments"]:
            if s["name"] != seg and os.path.exists(self._seg_dir(s["name"])):
                shutil.rmtree(self._seg_dir(s["name"]))
        if os.path.exists(os.path.join(self.root, "tombstones")):
            shutil.rmtree(os.path.join(self.root, "tombstones"))
        return stats

    # ------------------------------ open ------------------------------------
    def tombstones_df(self, meta: dict | None = None) -> DataFrame | None:
        """Lazy union view over the persisted tombstone batches, or None
        when the index has no deletes."""
        meta = meta or self.read_meta()
        dfs = [self.store.read(self.spark, os.path.join(self.root, "tombstones", b))
               for b in meta.get("tombstone_batches", [])]
        if not dfs:
            return None
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def live_docs(self, meta: dict | None = None) -> DataFrame:
        meta = meta or self.read_meta()
        docs = self._read_all("docs", meta)
        tomb = self.tombstones_df(meta)
        if tomb is not None:
            docs = docs.join(tomb.select("doc_id"), "doc_id", "left_anti")
        return docs

    def load_stats(self) -> BuildStats:
        meta = self.read_meta()
        if meta.get("last_updated", INDEX_NEVER_CREATED) < 0:
            raise RuntimeError(f"index not ready: last_updated={meta.get('last_updated')}")
        return BuildStats(n_docs=int(meta["n_docs"]),
                          avgdl={k: float(v) for k, v in meta["avgdl"].items()},
                          sum_ttf={k: int(v) for k, v in meta["sum_ttf"].items()})

    def engine(self) -> SearchEngine:
        self._require_valid()
        meta = self.read_meta()
        stats = self.load_stats()
        # stored block bounds are exact only while ONE segment exists (a
        # build, or a merge, which re-blocks under the merged stats): later
        # segments shift N/df/avgdl and stale maxima stop being upper
        # bounds -> the engine falls back to recomputed (max_tf, min_dl) ones
        tomb = self.tombstones_df(meta)
        exact = len(meta["segments"]) == 1 and tomb is None
        # the same tombstone view backs the live-docs filter (one listing)
        docs = self._read_all("docs", meta)
        if tomb is not None:
            docs = docs.join(tomb.select("doc_id"), "doc_id", "left_anti")
        return SearchEngine(self.spark, self._read_all("postings", meta),
                            docs, self._read_all("dictionary", meta),
                            stats, self.config,
                            tombstones_df=tomb, blocks_exact=exact,
                            n_tombstones=int(meta.get("n_tombstones", 0) or 0))

    # --------------------------- invariants ---------------------------------
    def verify_hashsums(self, manifest: DataFrame) -> int:
        """Per-row sha256 invariant (BASELINE.json): count of mismatches
        between live indexed hashsums and an external (repo, path, hashsum)
        manifest. Mirrors SelectTask.computeHashSum comparison."""
        docs = self.live_docs().select("repo", "path", F.col("hashsum").alias("h_idx"))
        joined = docs.join(manifest, ["repo", "path"], "full_outer")
        return joined.filter((F.col("h_idx").isNull()) | (F.col("hashsum").isNull()) |
                             (F.col("h_idx") != F.col("hashsum"))).count()
