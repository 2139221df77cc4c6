"""One benchmark run: start Spark, run one workload through the engine's
public API, check every answer, print one JSON line last.

Start it through ``run.py``, which sets the environment (PYTHONPATH, local
dirs, driver memory, event log) and removes the scratch directory after.

Phases of every workload:

* set-up: start the session, generate the corpora, take the committed
  index from the per-checkout index cache (building it there on a miss)
  and serve one warm-up batch on it. Its wall time is ``setup_s``.
* timed: whole rounds of the workload's operations until ``--seconds`` pass.
  Both workloads report the same end-to-end and per-layer metrics.
* check: after the figures are taken, every answer is compared with the
  pyoracle or with properties derived from the inputs (``check.py``).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from urllib.parse import urlparse

import check
from queries import CLASSES, QueryPool

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
K = 10                      # top-k of every query
SIZES = {"query": 5000, "update": 1000}
SMOKE_DOCS = 200
# The corpora are fixed; --seed draws the query stream. The index of the
# query workload is then built once per checkout, and the merge fault below
# fails on inputs that are the same in every run.
CORPUS_SEED = 0
STAGES = ("docs", "runs", "dictionary", "doc_stats", "postings")
MERGE_FAULT = "IndexCatalog.merge keeps the postings of tombstoned docs"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def stage_marks(seg_dir: str) -> dict[str, tuple[float, float]]:
    """(end epoch s, wall s) of every stage the catalog committed in a
    segment, read from its ``_manifest.json`` files."""
    marks = {}
    for stage in STAGES:
        p = os.path.join(seg_dir, stage, "_manifest.json")
        if os.path.exists(p):
            with open(p) as f:
                marks[stage] = (os.path.getmtime(p), json.load(f)["wall_ms"] / 1000)
    return marks


class Run:
    """One workload in one Spark session: every timed public call (for the
    trace), every answer (for the checker) and the figures."""

    def __init__(self, spark, workload, tmp, n_docs, seed, seconds, trace):
        self.spark, self.sc = spark, spark.sparkContext
        self.workload, self.tmp, self.n_docs = workload, tmp, n_docs
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.calls: list[dict] = []
        self.checks: list = []      # (call, thunk -> reason or None, known fault)
        self.phase = "setup"
        self.e2e: dict[str, float] = {}
        self.parse_ms: list[float] = []
        self.round_s: list[float] = []
        self.wrong: list[str] = []
        self._oracles: dict = {}
        self._engines: dict = {}
        self._cache = check.OracleCache(ROOT)

    # ------------------------------------------------------------ calls
    def call(self, kind: str, fn, **info):
        """Time one public call in its own job group. Returns the result, or
        None when the call raised (a failed operation)."""
        group = f"{self.workload}-{kind}-{len(self.calls)}"
        self.sc.setJobGroup(group, group)
        t0, p0 = time.time(), time.perf_counter()
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            out = None
        wall = time.perf_counter() - p0
        self.sc.setJobGroup(f"{self.workload}-bench", "benchmark bookkeeping")
        self.calls.append(dict(group=group, kind=kind, phase=self.phase, start=t0,
                               end=t0 + wall, wall=wall, returned=out is not None,
                               ok=out is not None, **info))
        return out

    def expect(self, thunk, known_fault=None):
        """Check the last call's answer after the timed phase. A wrong answer
        fails the call; unless it is ``known_fault``, it also makes the run
        incorrect."""
        if self.calls[-1]["ok"]:
            self.checks.append((self.calls[-1], thunk, known_fault))

    def of(self, kind, phase=None):
        return [c for c in self.calls if c["kind"] == kind
                and (phase is None or c["phase"] == phase)]

    # ------------------------------------------------------------ engine ops
    def cached_index(self, corpus, corpus_path) -> str:
        """The warehouse holding the committed index of ``corpus``. It is
        built and checked once per checkout (keyed like the oracles, so a
        change to the package builds it again) and kept in the cache
        directory; that build is set-up, not an attempted operation."""
        from xltsearch_spark.catalog import IndexCatalog
        from xltsearch_spark.sources.corpus import read_corpus
        key = self._cache.key(corpus, tag="index")
        cached = os.path.join(self._cache.dir, f"index-{key}")
        if not os.path.isdir(cached):
            fresh = os.path.join(self.tmp, "index-build")
            cat = IndexCatalog(self.spark, fresh)
            phase, self.phase = self.phase, "cache"
            self.call("build", lambda: cat.build(read_corpus(self.spark, corpus_path),
                                                 fingerprint="v1"))
            self.phase = phase
            reason = ("the build raised" if not self.calls[-1]["returned"]
                      else self._check_build(cat, corpus))
            if reason is not None:
                raise RuntimeError(f"index of the cache is wrong: {reason}")
            os.makedirs(self._cache.dir, exist_ok=True)
            shutil.rmtree(cached + ".tmp", ignore_errors=True)   # left by a killed run
            shutil.copytree(fresh, cached + ".tmp")
            os.replace(cached + ".tmp", cached)
        return cached

    def copy_index(self, cached: str, name: str):
        """A catalog over a fresh copy of the warehouse ``cached``."""
        from xltsearch_spark.catalog import IndexCatalog
        warehouse = os.path.join(self.tmp, name)
        shutil.copytree(cached, warehouse)
        return IndexCatalog(self.spark, warehouse)

    def engine(self, cat):
        """One ``SearchEngine`` per catalog, shared by workload and checker."""
        if cat not in self._engines:
            self._engines[cat] = cat.engine()
        return self._engines[cat]

    def _check_build(self, cat, corpus):
        engine = self.engine(cat)
        docs = engine.docs.select("doc_id", "repo", "path", "hashsum").toPandas()
        dictionary = (engine.dictionary
                      .select("field", "term", "doc_freq", "total_term_freq").toPandas())
        return (check.docs_mismatch(docs, corpus)
                or check.dictionary_mismatch(dictionary, self.oracle(corpus)))

    def singles(self, engine, queries, answers_of):
        """One ``search_scores`` call per (class, text). ``answers_of(text)``
        returns the checker of one answer."""
        for cls, text in queries:
            if self.trace:
                p0 = time.perf_counter()
                engine.parser.parse(text)
                self.parse_ms.append((time.perf_counter() - p0) * 1000)
            got = self.call("q", lambda: [(int(r["doc_id"]), float(r["score"]))
                                           for r in engine.search_scores(text, K).collect()],
                            cls=cls, text=text)
            self.expect(lambda got=got, text=text: answers_of(text)(got))

    def batch(self, engine, batch, answers_of):
        got = self.call("q_many", lambda: self._many(engine, batch))
        self.expect(lambda: next((f"{batch[q]}: {r}" for q in batch
                                  if (r := answers_of(batch[q])(got[q])) is not None), None))

    @staticmethod
    def _many(engine, batch):
        out = {q: [] for q in batch}
        for r in sorted(engine.search_many(batch, K).collect(),
                        key=lambda r: (r["query_id"], r["rank"])):
            out[r["query_id"]].append((int(r["doc_id"]), float(r["score"])))
        return out

    def oracle(self, corpus, deleted=()):
        key = (id(corpus), tuple(sorted(deleted)))
        if key not in self._oracles:
            self._oracles[key] = self._cache.get(corpus, deleted)
        return self._oracles[key]

    def ranked_by(self, corpus, deleted=()):
        """Checker factory: rank identity with the oracle over ``corpus``."""
        return lambda text: lambda got: check.rank_mismatch(
            got, check.oracle_topk(self.oracle(corpus, deleted), text, K))

    def timed(self, round_fn):
        """Whole rounds until ``seconds`` have passed. A round's wall is the
        sum of the walls of its public calls (no bookkeeping between them)."""
        self.phase = "timed"
        deadline = time.perf_counter() + self.seconds
        while True:
            n0 = len(self.calls)
            round_fn()
            self.round_s.append(sum(c["wall"] for c in self.calls[n0:]))
            if time.perf_counter() >= deadline:
                break

    def finish_measuring(self, setup_s):
        """Figures that must be read before the checker loads any oracle."""
        jvm = self.spark._jvm
        self.e2e["setup_s"] = setup_s
        self.e2e["peak_rss_mb"] = sum(_hwm_kb(p) for p in
                                      ("self", jvm.java.lang.ProcessHandle.current().pid())) / 1024
        self.gc_s = sum(b.getCollectionTime() for b in
                        jvm.java.lang.management.ManagementFactory
                        .getGarbageCollectorMXBeans()) / 1000
        self.e2e["query_p50_ms"] = median([c["wall"] * 1000 for c in self.of("q", "timed")])
        self.e2e["round_s"] = median(self.round_s)

    def log_calls(self):
        """One line per call on standard error, for reading a run by eye."""
        for c in self.calls:
            print(f"call {c['group']:<22} {c['phase']:<6} {c['wall']:8.3f} s "
                  f"{c.get('cls', '')} {c.get('text', '')}", file=sys.stderr)

    def run_checks(self):
        for c, thunk, known_fault in self.checks:
            try:
                reason = thunk()
            except Exception as e:     # a checker crash is a wrong answer too
                traceback.print_exc()
                reason = f"checker raised {e!r}"
            if reason is None:
                continue
            c["ok"] = False
            line = f"{c['group']} {c.get('text', '')}: {reason}"
            if known_fault:
                print(f"FAILED ({known_fault}) {line}", file=sys.stderr)
            else:
                self.wrong.append(line)
        for w in self.wrong:
            print(f"WRONG {w}", file=sys.stderr)

    def result(self, log=None) -> dict:
        ops = [c for c in self.calls if c["phase"] != "cache"]
        if log is None:
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in self.e2e.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers(self, log).items()}
        return {"correct": not self.wrong, "attempted": len(ops),
                "failed": sum(not c["ok"] for c in ops), "metrics": metrics}


UNITS = {"setup_s": "s", "index_bytes_per_src_byte": "ratio",
         "query_p50_ms": "ms", "round_s": "s",
         "peak_rss_mb": "MB"}


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


# ================================================================ workloads
def prepare(run, versions):
    """Generate the corpora and write them as parquet (the engine reads its
    input from files, as a user's corpus would be)."""
    from xltsearch_spark.sources.corpus import generate_corpus, write_corpus_parquet
    out = []
    for version in versions:
        corpus = generate_corpus(run.n_docs, CORPUS_SEED, version)
        path = os.path.join(run.tmp, f"corpus-{run.workload}-v{version}.parquet")
        write_corpus_parquet(corpus, path)
        out.append((corpus, path))
    return out


def content_bytes(corpus) -> int:
    return sum(len(str(c).encode("utf-8")) for c in corpus["content"])


def warm_up(run, engine, corpus, answers):
    """One batch of one query per class, in set-up: it starts the Python
    workers and compiles the query path of every class."""
    run.batch(engine, QueryPool(corpus, run.seed + 1_000_003).batch(len(CLASSES)), answers)


def workload_query(run, t_begin):
    """A seeded stream of mostly distinct queries over one committed
    single-segment index, in rounds of one query per class plus one batch."""
    [(corpus, path)] = prepare(run, [1])
    cat = run.copy_index(run.cached_index(corpus, path), "wh-query")
    engine = run.engine(cat)
    answers = run.ranked_by(corpus)
    warm_up(run, engine, corpus, answers)
    seg = os.path.join(cat.root, "segments", "seg_000000")
    run.stage_bytes = {s: dir_bytes(os.path.join(seg, s)) for s in STAGES}
    run.e2e["index_bytes_per_src_byte"] = dir_bytes(cat.root) / content_bytes(corpus)
    setup_s = time.perf_counter() - t_begin
    pool = QueryPool(corpus, run.seed)

    def one_round():
        run.singles(engine, pool.singles(), answers)
        run.batch(engine, pool.batch(), answers)
    run.timed(one_round)
    run.finish_measuring(setup_s)


def workload_update(run, t_begin):
    """Rounds of the incremental write path on a fresh copy of the v1
    index: ``update`` with the v2 batch, one query per class on the
    segmented, tombstoned index, and ``merge``. The warm-up batch runs on
    another copy of the v1 index."""
    from xltsearch_spark.sources.corpus import read_corpus
    (v1, p1), (v2, p2) = prepare(run, [1, 2])
    cached = run.cached_index(v1, p1)
    warm_up(run, run.engine(run.copy_index(cached, "wh-warm-up")), v1, run.ranked_by(v1))
    history, deleted = check.segment_history(v1, v2)
    answers = run.ranked_by(history, deleted)
    pool = QueryPool(v1, run.seed)
    merged_queries = QueryPool(v2, CORPUS_SEED).singles()
    setup_s = time.perf_counter() - t_begin

    def one_round():
        cat = run.copy_index(cached, f"wh-update-{len(run.of('update'))}")
        summary = run.call("update", lambda: cat.update(read_corpus(run.spark, p2),
                                                        fingerprint="v2"))
        run.calls[-1]["marks"] = stage_marks(os.path.join(cat.root, "segments", "seg_000001"))
        tomb = glob.glob(os.path.join(cat.root, "tombstones", "*", "_SUCCESS"))
        run.calls[-1]["tomb_end"] = max(map(os.path.getmtime, tomb), default=None)
        run.expect(lambda: check.diff_mismatch(summary, v1, v2))
        # the new segment's stages, and the whole index the queries below read
        seg = os.path.join(cat.root, "segments", "seg_000001")
        run.stage_bytes = {s: dir_bytes(os.path.join(seg, s)) for s in STAGES}
        run.e2e["index_bytes_per_src_byte"] = dir_bytes(cat.root) / content_bytes(v2)
        run.singles(cat.engine(), pool.singles(), answers)
        run.call("merge", lambda: cat.merge(fingerprint="v2-merged"))
        run.expect(lambda: merged_mismatch(run, cat, v2, merged_queries),
                   known_fault=MERGE_FAULT)

    run.timed(one_round)
    run.finish_measuring(setup_s)


def merged_mismatch(run, cat, v2, queries):
    """The merged index answers one fixed query of every class as the
    oracle over the live v2 corpus does. Merged doc ids are not in
    (repo, path) order, so hits are compared by (repo, path)."""
    engine = cat.engine()
    docs = cat.live_docs().select("doc_id", "repo", "path").toPandas()
    keys = dict(zip(docs["doc_id"], zip(docs["repo"], docs["path"])))
    for _, text in queries:
        got = [(keys.get(int(r["doc_id"])), float(r["score"]))
               for r in engine.search_scores(text, K).collect()]
        reason = check.keyed_mismatch(
            got, check.oracle_scores_by_key(run.oracle(v2), text), K)
        if reason is not None:
            return f"{text}: {reason}"
    return None


WORKLOADS = {"query": workload_query, "update": workload_update}


# ================================================================ layers
def _build_layers(log, calls):
    """operators.build.<stage>.* of the segments the ``update`` calls built,
    as the median over the calls. The segment build starts when the
    tombstones are written; a job belongs to the stage whose interval (from
    the stage manifests) holds its submission time."""
    per = {}
    for c in calls:
        m = c["marks"]
        if set(m) != set(STAGES):
            continue
        t0 = c["tomb_end"]
        dict_start = m["dictionary"][0] - m["dictionary"][1]
        bounds = [("docs", t0, m["docs"][0]), ("runs", m["docs"][0], m["runs"][0]),
                  ("stats", m["runs"][0], dict_start),
                  ("dictionary", dict_start, m["dictionary"][0]),
                  ("doc_stats", m["dictionary"][0], m["doc_stats"][0]),
                  ("postings", m["doc_stats"][0], c["end"] + 1)]
        for stage, a, b in bounds:
            tot = log.totals(log.jobs_of(c["group"], a * 1000, b * 1000))
            d = per.setdefault(stage, {})
            for k, v in (("wall_s", min(b, c["end"]) - a),
                         ("python_worker_s", tot["python_worker_ms"] / 1000),
                         ("shuffle_write_bytes", tot["shuffle_bytes"]), ("jobs", tot["jobs"])):
                d.setdefault(k, []).append(v)
    out = {}
    units = {"wall_s": "s", "python_worker_s": "s", "shuffle_write_bytes": "bytes",
             "jobs": "count"}
    for stage in STAGES:
        for k, u in units.items():
            out[f"operators.build.{stage}.{k}"] = (median(per.get(stage, {}).get(k, [])), u)
    out["operators.build.stats.wall_s"] = (median(per.get("stats", {}).get("wall_s", [])), "s")
    return out


def _search_layers(log, calls, name, fields):
    per = {}
    for c in calls:
        jobs = log.jobs_of(c["group"])
        tot = log.totals(jobs)
        start_ms, end_ms = c["start"] * 1000, c["end"] * 1000
        vals = {"wall_ms": c["wall"] * 1000, "jobs": tot["jobs"],
                "python_worker_ms": tot["python_worker_ms"],
                "blocks_read": tot["blocks_read"], "shuffle_bytes": tot["shuffle_bytes"],
                "outside_jobs_ms": end_ms - start_ms - log.covered_ms(jobs, start_ms, end_ms)}
        for k in fields:
            per.setdefault(k, []).append(vals[k])
    units = {"wall_ms": "ms", "jobs": "count", "python_worker_ms": "ms",
             "blocks_read": "rows", "shuffle_bytes": "bytes", "outside_jobs_ms": "ms"}
    return {f"{name}.{k}": (median(per.get(k, [])), units[k]) for k in fields}


SEARCH_FIELDS = ("wall_ms", "jobs", "python_worker_ms", "blocks_read", "shuffle_bytes",
                 "outside_jobs_ms")


def layers(run, log) -> dict[str, tuple[float, str]]:
    """Every per-layer figure, the same names on both workloads. The search
    layers are those of the workload's queries (the single-segment index on
    ``query``, the segmented, tombstoned one on ``update``); the write layers
    (``operators.build``, ``operators.incremental``, ``catalog.update``,
    ``catalog.merge``) read 0 on ``query``, which writes nothing."""
    out = {"session.start_s": (run.session_start_s, "s")}
    for stage in STAGES:
        out[f"sources.table_store.{stage}.bytes_written"] = (run.stage_bytes[stage], "bytes")
    out["plans.parser.parse_ms"] = (median(run.parse_ms), "ms")
    for cls in CLASSES:
        calls = [c for c in run.of("q", "timed") if c["cls"] == cls]
        out.update(_search_layers(log, calls, f"operators.search.{cls}", SEARCH_FIELDS))
    out.update(_search_layers(log, run.of("q_many", "timed"), "operators.search.many",
                              SEARCH_FIELDS[:5]))
    # layers of every write that returned, right answer or not
    ups = [c for c in run.of("update") if c["returned"] and c.get("tomb_end")]
    out.update(_build_layers(log, ups))
    out["operators.incremental.diff_s"] = (
        median([c["tomb_end"] - c["start"] for c in ups]), "s")
    out["catalog.update.segment_build_s"] = (
        median([c["marks"]["postings"][0] - c["tomb_end"] for c in ups
                if "postings" in c["marks"]]), "s")
    out["catalog.update.wall_s"] = (median([c["wall"] for c in ups]), "s")
    merges = [c for c in run.of("merge") if c["returned"]]
    tots = [log.totals(log.jobs_of(c["group"])) for c in merges]
    out["catalog.merge.wall_s"] = (median([c["wall"] for c in merges]), "s")
    out["catalog.merge.jobs"] = (median([t["jobs"] for t in tots]), "count")
    out["catalog.merge.shuffle_bytes"] = (median([t["shuffle_bytes"] for t in tots]), "bytes")
    out["catalog.merge.bytes_written"] = (median([t["bytes_written"] for t in tots]), "bytes")
    out["jvm.gc_s"] = (run.gc_s, "s")
    return out


def rebuild_oracle_cache() -> None:
    """Drop the cache (oracles and the query workload's index) and rebuild
    every oracle the two workloads use; the next query run rebuilds the
    index."""
    from xltsearch_spark.sources.corpus import generate_corpus
    cache = check.OracleCache(ROOT)
    shutil.rmtree(cache.dir, ignore_errors=True)
    q1 = generate_corpus(SIZES["query"], CORPUS_SEED, 1)
    v1, v2 = (generate_corpus(SIZES["update"], CORPUS_SEED, v) for v in (1, 2))
    history, deleted = check.segment_history(v1, v2)
    for name, corpus, dead in (("query", q1, ()), ("update v1", v1, ()), ("update v2", v2, ()),
                               ("update segment history", history, deleted)):
        t0 = time.perf_counter()
        cache.get(corpus, dead)
        print(f"{name}: oracle over {len(corpus)} docs cached "
              f"in {time.perf_counter() - t0:.1f} s")


# ================================================================ main
def main() -> int:
    t_begin = time.perf_counter()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["smoke"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tmp", required=True)
    args = ap.parse_args()
    from xltsearch_spark.session import get_spark
    p0 = time.perf_counter()
    spark = get_spark("perfbench", cores=len(os.sched_getaffinity(0)))
    session_start_s = time.perf_counter() - p0
    spark.sparkContext.setLogLevel("ERROR")
    smoke = args.workload == "smoke"
    runs = []
    for w in (list(WORKLOADS) if smoke else [args.workload]):
        run = Run(spark, w, args.tmp, SMOKE_DOCS if smoke else SIZES[w],
                  args.seed, args.seconds, bool(args.trace))
        run.session_start_s = session_start_s
        WORKLOADS[w](run, t_begin)
        t_begin = time.perf_counter()
        runs.append(run)
    t_check = time.perf_counter()
    for run in runs:
        run.log_calls()
        run.run_checks()
    print(f"checks took {time.perf_counter() - t_check:.1f} s", file=sys.stderr)
    log_dir = spark.sparkContext.getConf().get("spark.eventLog.dir", "")
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.kill()      # nothing is left for it to do; do not wait for its shutdown
    jvm.wait()
    log = None
    if args.trace:
        from eventlog import EventLog
        [path] = glob.glob(os.path.join(urlparse(log_dir).path, "*"))
        log = EventLog(path)
    ok = True
    for run in runs:
        if args.trace:     # the end-to-end figures of a traced run, for the overhead
            print(json.dumps({"traced_end_to_end": run.e2e}), file=sys.stderr)
        res = run.result(log)
        ok = ok and res["correct"]
        print(json.dumps(res), flush=True)
    return 0 if ok or not smoke else 1


if __name__ == "__main__":
    sys.exit(main())
