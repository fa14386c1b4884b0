"""The two workloads: search and ingest.

Each workload class has the same life cycle, driven by run.py:

    setup()           generate inputs, stage them, build what the timed
                      phase reads; search also warms up its timed calls
    measure()         the timed phases (closed loop, one thread)
    check()           output checks, outside the timed regions
    end_to_end()      latency_p50_ms and throughput_per_s
    per_layer()       per-layer metrics from the spans (traced run only)
    details()         the workload's own headline numbers, printed as
                      human-readable lines in every run

Only public functions of the package are called.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

import numpy as np

import gen

# Units of the per-workload headline numbers printed by details().
DETAIL_UNITS = {
    "query_p50_ms": "ms", "local_qps": "1/s", "batch_qps": "1/s",
    "queries": "count", "build_docs_per_s": "1/s", "add_docs_per_s": "1/s",
    "fresh_query_ms": "ms", "merge_s": "s", "index_bytes_per_content_byte": "ratio",
    "prep_docs_per_s": "1/s", "failed_op_share": "ratio", "timed_wall_s": "s",
}

# Per-layer metric prefixes each workload measures. A declared per-layer
# metric outside a workload's set belongs to a layer (or tier) that the
# workload bypasses; run.py reports it as 0 there.
MEASURED = {
    "search": ("session.", "corpus.", "index_build.", "postings.", "index.",
               "manifest.", "bm25.", "search.", "trace.", "run."),
    "ingest": ("session.", "corpus.", "index_build.", "postings.", "index.",
               "manifest.", "bm25.engine_load", "bm25.topk_", "incremental.",
               "segment_merge.", "cleaning.", "analysis.", "prep.", "dedup.",
               "ingest.", "trace.", "run."),
}

TIE_TOL = 1e-9


class Clock:
    """Accumulates the wall time of the timed regions it wraps."""

    def __init__(self) -> None:
        self.total = 0.0

    def __enter__(self):
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.total += time.perf_counter() - self._t
        return False


def p50_ms(walls: list[float]) -> float:
    return statistics.median(walls) * 1e3


def stream_length(cfg: dict, seconds: float) -> int:
    """Queries in the timed search stream for a given ``--seconds``: whole
    rounds, one per ``round_seconds``."""
    return cfg["round_size"] * math.ceil(seconds / cfg["round_seconds"])


class Workload:
    def __init__(self, spark, rec, cfg: dict, seed: int, seconds: float, work: str):
        self.spark, self.rec, self.cfg, self.seed, self.work = spark, rec, cfg, seed, work
        self.seconds = seconds
        self.clock = Clock()
        self.session_s = 0.0
        self.stage_s = 0.0
        self.timed_spans = (0, 0)

    # ---------------------------------------------------------- helpers
    def stage(self, pdf, name: str, schema=None):
        """Stage a generated frame as a parquet snapshot (the way a source
        reaches the package) and return it as a Spark DataFrame; corpus
        frames are staged with the package's source schema."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.work, "inputs", name)
        with self.rec.span("corpus.stage", "sources.corpus") as sp:
            os.makedirs(path, exist_ok=True)
            table = pa.Table.from_pandas(pdf, preserve_index=False)
            if schema is not None:
                table = table.cast(pa.schema(
                    [pa.field(f.name, pa.string(), f.nullable) for f in schema.fields]))
            pq.write_table(table, os.path.join(path, "part-0.parquet"))
            df = self.spark.read.parquet(path)
        self.stage_s += sp.wall
        return df

    def begin_timed(self) -> None:
        self._span0 = len(self.rec.spans)

    def end_timed(self) -> None:
        self.timed_spans = (self._span0, len(self.rec.spans))

    def span_counters(self, name: str) -> list[dict]:
        return [s.counters for s in self.rec.spans if s.name == name]

    def sum_counter(self, name: str, key: str) -> float:
        return float(sum(c.get(key, 0) for c in self.span_counters(name)))

    def per_call(self, name: str, key: str, scale: float = 1.0) -> float:
        cs = self.span_counters(name)
        return scale * sum(c.get(key, 0) for c in cs) / len(cs) if cs else 0.0

    def details(self) -> dict:
        d = dict(self._details())
        d["timed_wall_s"] = self.clock.total
        d["failed_op_share"] = self.rec.failed / max(self.rec.attempted, 1)
        return d


def _layer_block(w: Workload, span_name: str, prefix: str) -> dict:
    """wall_s, jobs, task_cpu_s, shuffle_write_bytes, spill_bytes of all
    spans called ``span_name`` (summed)."""
    spans = [s for s in w.rec.spans if s.name == span_name]
    return {
        f"{prefix}.wall_s": sum(s.wall for s in spans),
        f"{prefix}.jobs": sum(s.counters.get("jobs", 0) for s in spans),
        f"{prefix}.task_cpu_s": sum(s.counters.get("task_cpu_s", 0) for s in spans),
        f"{prefix}.shuffle_write_bytes": sum(s.counters.get("shuffle_write_bytes", 0) for s in spans),
        f"{prefix}.spill_bytes": sum(s.counters.get("spill_bytes", 0) for s in spans),
    }


def trace_metrics(rec, w: Workload, e2e: dict) -> dict:
    """Span coverage, tracing cost and whole-run Spark counters over the
    timed phases, plus the end-to-end numbers as seen with tracing on (the
    tracing overhead is their difference from an untraced run)."""
    a, b = w.timed_spans
    top = [s for s in rec.spans[a:b] if s.parent is None]

    def tot(key: str) -> float:
        return float(sum(s.counters.get(key, 0) for s in top))

    return {
        "trace.spans": float(b - a),
        "trace.top_span_coverage": sum(s.wall for s in top) / w.clock.total,
        "trace.bookkeeping_share": rec.bookkeeping_s / w.clock.total,
        "trace.latency_p50_ms": e2e["latency_p50_ms"],
        "trace.throughput_per_s": e2e["throughput_per_s"],
        "run.jobs": tot("jobs"),
        "run.task_cpu_s": tot("task_cpu_s"),
        "run.gc_s": tot("gc_s"),
        "run.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "run.spill_bytes": tot("spill_bytes"),
    }


def index_space(index_dir: str) -> dict:
    """Live index bytes split by manifest dir kind and parquet column.
    The parts add up to index.total_bytes: every file of the live dirs the
    manifest names, plus meta.json and tombstones."""
    import pyarrow.parquet as pq

    from data_prep_opensearch_spark.operators.manifest import load_manifest

    seg_bucket = {"doc_bytes": "postings.doc_tf_bytes", "tf_bytes": "postings.doc_tf_bytes",
                  "pos_bytes": "postings.pos_bytes"}
    out = {k: 0 for k in ("postings.dict_bytes", "postings.doc_tf_bytes", "postings.pos_bytes",
                          "postings.block_meta_bytes", "index.doclens_bytes",
                          "index.doc_stats_bytes", "index.other_bytes")}

    def files(rel):
        for root, _, names in os.walk(os.path.join(index_dir, rel)):
            for n in names:
                yield os.path.join(root, n)

    m = load_manifest(index_dir)
    dirs = ([(e["path"], "seg") for e in m["segments"]] + [(p, "dl") for p in m["doclens"]]
            + [(p, "stats") for p in m["doc_stats"]] + [("tombstones", "other")])
    for rel, kind in dirs:
        for f in files(rel):
            size = os.path.getsize(f)
            if not f.endswith(".parquet") or kind == "other":
                out["index.other_bytes"] += size
                continue
            md = pq.ParquetFile(f).metadata
            cols = 0
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    name = c.path_in_schema.split(".")[0]
                    b = c.total_compressed_size
                    cols += b
                    if kind == "dl":
                        out["index.doclens_bytes"] += b
                    elif kind == "stats":
                        out["index.doc_stats_bytes"] += b
                    elif name.startswith("block_"):
                        out["postings.block_meta_bytes"] += b
                    else:
                        out[seg_bucket.get(name, "postings.dict_bytes")] += b
            out["index.other_bytes"] += size - cols
    out["index.other_bytes"] += os.path.getsize(os.path.join(index_dir, "meta.json"))
    out["index.total_bytes"] = sum(out.values())
    return {k: float(v) for k, v in out.items()}


def _rows(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def same_ranking(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> bool:
    return len(a) == len(b) and all(
        da == db and abs(sa - sb) <= TIE_TOL for (da, sa), (db, sb) in zip(a, b))


# ====================================================================== search

class Search(Workload):
    def setup(self) -> None:
        from data_prep_opensearch_spark.operators.bm25 import BM25Engine
        from data_prep_opensearch_spark.operators.index_build import build_index
        from data_prep_opensearch_spark.sources.corpus import CORPUS_SCHEMA

        c = self.cfg
        self.vocab = gen.vocabulary(self.seed, c["vocab"])
        self.docs, needles = gen.corpus(self.seed, c["docs"], self.vocab, tag="s")
        self.needles = sorted(needles)
        src = self.stage(self.docs, "corpus", CORPUS_SCHEMA)
        self.index = os.path.join(self.work, "index")
        self.rec.call("index_build.build_index", "operators.index_build", lambda: build_index(
            self.spark, src, self.index, n_shards=c["shards"], n_groups=c["groups"]))
        self.engine, _ = self.rec.call("bm25.engine_load", "operators.bm25",
                                       lambda: BM25Engine(self.spark, self.index))
        self.stream, _ = gen.query_stream(
            self.seed, self.vocab, self.needles, c["per_shape"],
            stream_length(c, self.seconds), c["round_size"])
        # warm-up, on a stream of its own, so the JVM has compiled the timed
        # code paths: every grammar shape through topk_local and topk_batch,
        # and through topk the shapes with a plan of their own (expansions,
        # phrases, must_not; the rest are plain terms, which these hold
        # too), rotating min_should_match. The timed queries still pay for
        # their own planning (df lookups and expansions) the first time
        # they occur.
        warm, _ = gen.query_stream(self.seed, self.vocab, self.needles, 1, gen.N_SHAPES, gen.N_SHAPES,
                                   stream="warm")
        k = c["k"]
        for i, (q, _) in enumerate(warm):
            if i in gen.PLANNED_SHAPES:
                self.engine.topk(q, k, min_should_match=(None, 2, "all")[i % 3]).collect()
            self.engine.topk_local(q, k, as_pandas=True)
        self.engine.topk_batch([q for q, _ in warm], k).collect()

    def _call(self, name: str, fn, parse, tid: str):
        """One timed call into the engine, then its reply parsed outside
        the clock. Returns (parsed, span), or (None, None) when the call
        raised (rec.call counts it) or its reply is malformed (counted
        here)."""
        try:
            with self.clock:
                out, sp = self.rec.call(name, "operators.bm25", fn, trace_id=tid)
        except Exception as e:
            print(f"{name} failed ({tid}): {e}")
            return None, None
        try:
            return parse(out), sp
        except Exception as e:
            self.rec.fail(f"{name} ({tid}) returned a malformed reply: {e!r}")
            return None, None

    def measure(self) -> None:
        """The stream cut in setup (a fixed amount of work for a given
        ``--seconds``), in rounds: each query of a round through ``topk``
        and ``topk_local``, then the round through ``topk_batch``."""
        eng, k, rs = self.engine, self.cfg["k"], self.cfg["round_size"]
        self.results = []  # [query, msm, topk rows, local rows, batch rows]
        self.topk_walls, self.local_walls, self.batch_walls = [], [], []
        self.n_answered = 0

        def local_rows(pdf):
            return [(int(d), float(s)) for d, s in zip(pdf["doc_id"], pdf["score"])]

        def batch_rows(rows, n):
            by_q: dict[int, list] = {i: [] for i in range(n)}
            for r in rows:
                by_q[int(r["query_id"])].append((int(r["doc_id"]), float(r["score"])))
            return [sorted(g, key=lambda x: (-x[1], x[0])) for g in by_q.values()]

        self.begin_timed()
        for pos in range(0, len(self.stream), rs):
            rnd = self.stream[pos:pos + rs]
            msm = rnd[0][1]
            qs = [q for q, _ in rnd]
            got = []
            for i, q in enumerate(qs):
                tid = f"q{pos + i}"
                top, sp = self._call("bm25.topk", lambda: eng.topk(
                    q, k, min_should_match=msm).collect(), _rows, tid)
                if sp is not None:
                    self.topk_walls.append(sp.wall)
                    self.n_answered += 1
                loc, sp = self._call("bm25.topk_local", lambda: eng.topk_local(
                    q, k, min_should_match=msm, as_pandas=True), local_rows, tid)
                if sp is not None:
                    self.local_walls.append(sp.wall)
                    self.n_answered += 1
                got.append([q, msm, top, loc, None])
            bat, sp = self._call("bm25.topk_batch", lambda: eng.topk_batch(
                qs, k, min_should_match=msm).collect(),
                lambda rows: batch_rows(rows, len(qs)), f"b{pos}")
            if sp is not None:
                self.batch_walls.append(sp.wall)
                self.n_answered += len(qs)
                for g, rows in zip(got, bat):
                    g[4] = rows
            self.results.extend(got)
        self.end_timed()
        if self.rec.traced:
            self._time_planning()

    def _time_planning(self) -> None:
        """bm25 planning cost per clause, cold: every expansion clause and
        up to 8 literal df lookups of the timed queries, each called once
        on a fresh engine."""
        from data_prep_opensearch_spark.operators.bm25 import BM25Engine

        eng = BM25Engine(self.spark, self.index)
        kinds = _clauses([r[0] for r in self.results])
        sample = [c for c in kinds if c[0] != "df"] + [c for c in kinds if c[0] == "df"][:8]
        self.plan_walls = []
        for clause in sample:
            with self.rec.span("bm25.expand", "operators.bm25") as sp:
                _plan(eng, clause)
            self.plan_walls.append(sp.wall)
        eng.unpersist()

    def check(self) -> None:
        from data_prep_opensearch_spark.operators.manifest import load_manifest, read_doc_stats
        from data_prep_opensearch_spark.oracle import OracleIndex

        for q, msm, top, loc, bat in self.results:
            if top is None or loc is None or bat is None:
                continue  # already counted as failed
            if not (same_ranking(top, loc) and same_ranking(top, bat)):
                self.rec.fail(f"tiers disagree on {q!r} msm={msm}: {top} / {loc} / {bat}")
        stats = read_doc_stats(self.spark, self.index).select(
            "doc_id", "repo", "path", "commit").toPandas()
        key2id = {(r.repo, r.path, r.commit): int(r.doc_id) for r in stats.itertuples()}
        oracle = OracleIndex({key2id[(r.repo, r.path, r.commit)]: r.content
                              for r in self.docs.itertuples()})
        seen, n = set(), 0
        for q, msm, top, *_ in self.results:
            if (q, msm) in seen or top is None or n >= self.cfg["oracle_sample"]:
                continue
            seen.add((q, msm))
            n += 1
            want = oracle.query(q, self.cfg["k"], min_should_match=msm)
            if not same_ranking(top, [(int(d), float(s)) for d, s in want]):
                self.rec.fail(f"oracle disagrees on {q!r} msm={msm}: {top} vs {want}")
        self.space = index_space(self.index)
        self.manifest = load_manifest(self.index)
        self.content_bytes = float(self.docs["content"].str.len().sum())
        self.engine.unpersist()

    def end_to_end(self) -> dict:
        return {"latency_p50_ms": p50_ms(self.topk_walls),
                "throughput_per_s": self.n_answered / self.clock.total}

    def _details(self) -> dict:
        return {"query_p50_ms": p50_ms(self.topk_walls),
                "local_qps": len(self.local_walls) / sum(self.local_walls),
                "batch_qps": len(self.batch_walls) * self.cfg["round_size"] / sum(self.batch_walls),
                "queries": float(len(self.topk_walls))}

    def per_layer(self) -> dict:
        out = {"session.start_s": self.session_s, "corpus.stage_s": self.stage_s}
        out.update(_layer_block(self, "index_build.build_index", "index_build"))
        out.update({k: v for k, v in self.space.items() if k != "index.total_bytes"})
        out["index.bytes_per_content_byte"] = self.space["index.total_bytes"] / self.content_bytes
        out.update(_bm25_layers(self))
        local = self.span_counters("bm25.topk_local")
        out["bm25.local_jobs_per_query"] = self.per_call("bm25.topk_local", "jobs")
        out["bm25.local_zero_job_share"] = sum(c["jobs"] == 0 for c in local) / len(local)
        out["bm25.batch_jobs_per_batch"] = self.per_call("bm25.topk_batch", "jobs")
        out["bm25.batch_task_cpu_ms_per_query"] = self.per_call(
            "bm25.topk_batch", "task_cpu_s", 1e3 / self.cfg["round_size"])
        out["bm25.expand_ms_per_clause"] = 1e3 * statistics.fmean(self.plan_walls)
        out["manifest.live_segment_dirs"] = float(len(self.manifest["segments"]))
        out["manifest.retired_dirs_pending"] = float(len(self.manifest.get("retired", [])))
        out.update({f"search.{k}": v for k, v in self._details().items()
                    if k in ("local_qps", "batch_qps")})
        return out


def _clauses(queries: list[str]) -> list[tuple[str, str, int, str]]:
    """Distinct planning clauses of the queries, in first-seen order:
    ("df", term) for literal and phrase terms, and one entry per prefix,
    fuzzy, wildcard or regexp stem."""
    from data_prep_opensearch_spark.functions.tokenize import TOKENIZERS
    from data_prep_opensearch_spark.operators.bm25 import Fuzzy, Wildcard, parse_query

    out: dict[tuple, None] = {}
    for q in queries:
        lits, stems, neg_lits, neg_stems, phrases, neg_phrases = parse_query(q, TOKENIZERS["simple"])
        for t in lits + neg_lits + [t for ph in phrases + neg_phrases for t in ph]:
            out.setdefault(("df", str(t), 0, ""), None)
        for s in stems + neg_stems:
            if isinstance(s, Fuzzy):
                out.setdefault(("fuzzy", str(s), s.max_edits, ""), None)
            elif isinstance(s, Wildcard):
                out.setdefault(("wild", str(s), 0, s.kind), None)
            else:
                out.setdefault(("prefix", str(s), 0, ""), None)
    return list(out)


def _plan(eng, clause: tuple[str, str, int, str]) -> None:
    kind, text, edits, wild_kind = clause
    if kind == "df":
        eng.resolve_df([text])
    elif kind == "fuzzy":
        eng.expand_fuzzy(text, edits)
    elif kind == "wild":
        eng.expand_wildcard(text, kind=wild_kind)
    else:
        eng.expand_prefix(text)


def _live_dirs(index_dir: str) -> set[str]:
    from data_prep_opensearch_spark.operators.manifest import load_manifest

    m = load_manifest(index_dir)
    return {e["path"] for e in m["segments"]} | set(m["doclens"]) | set(m["doc_stats"])


def _bm25_layers(w: Workload) -> dict:
    return {
        "bm25.engine_load_s": sum(s.wall for s in w.rec.spans if s.name == "bm25.engine_load"),
        "bm25.engine_load_jobs": w.sum_counter("bm25.engine_load", "jobs"),
        "bm25.topk_jobs_per_query": w.per_call("bm25.topk", "jobs"),
        "bm25.topk_stages_per_query": w.per_call("bm25.topk", "stages"),
        "bm25.topk_task_cpu_ms_per_query": w.per_call("bm25.topk", "task_cpu_s", 1e3),
        "bm25.topk_shuffle_bytes_per_query": w.per_call("bm25.topk", "shuffle_write_bytes"),
    }


# ====================================================================== ingest

class Ingest(Workload):
    """The reference's scheduled pipeline: prep a snapshot pair, index the
    prepped snapshot, then add/delete/query cycles and a merge."""

    KEY = "doc_id"
    META = ["repo", "path", "commit", "lang"]

    def setup(self) -> None:
        c = self.cfg
        self.vocab = gen.vocabulary(self.seed, c["vocab"])
        base, self.base_needles = gen.corpus(self.seed, c["docs"], self.vocab, tag="b")
        self.pair = gen.snapshot_pair(
            self.seed, base, self.vocab, n_update=c["update"], n_remove=c["remove"],
            n_new=c["new"], n_near=c["near_dups"], n_exact=c["exact_dups"])
        self.cur_pdf = self.pair["cur"]
        self.batches = gen.add_batches(self.seed, base, self.vocab, c["cycles"],
                                       c["add_new"], c["add_recommit"])
        self.cur_raw = self.stage(self.cur_pdf, "cur")
        prev_raw = self.stage(self.pair["prev"], "prev")
        self.deltas = [self.stage(pdf, f"add{i}") for i, (pdf, _) in enumerate(self.batches)]
        # the previous scheduled run's output: cleaned and fingerprinted
        self.prev_fp = self._fingerprint(prev_raw, "prev", [])
        self.pool = [f"{self.vocab[i]} {self.vocab[j]}" for i, j in
                     gen.rng_for(self.seed, "queries").integers(0, 800, size=(64, 2))]

    # ------------------------------------------------------------ prep
    def _fingerprint(self, raw, tag: str, meta: list[str]):
        from pyspark.sql import functions as F

        from data_prep_opensearch_spark.functions.analysis import fingerprint_cols
        from data_prep_opensearch_spark.functions.cleaning import clean_content_udf

        clean_dir = os.path.join(self.work, "prep", tag, "clean")
        self.fp_dir = fp_dir = os.path.join(self.work, "prep", tag, "fp")
        self.rec.call("cleaning.clean_content_udf", "functions.cleaning", lambda: raw.select(
            self.KEY, *meta, clean_content_udf("content").alias("text")).write.parquet(clean_dir))
        cleaned = self.spark.read.parquet(clean_dir)
        self.rec.call("analysis.fingerprint_cols", "functions.analysis", lambda: cleaned.withColumns(
            fingerprint_cols(F.col("text"))).write.parquet(fp_dir))
        return self.spark.read.parquet(fp_dir)

    def _prep(self):
        """Clean, fingerprint, classify changes, skip unchanged docs, dedup."""
        from pyspark.sql import functions as F

        from data_prep_opensearch_spark.operators.dedup import (
            exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs, simhash64)
        from data_prep_opensearch_spark.operators.prep import (
            change_classification, run_counters, skip_unchanged)

        key, call, prev = self.KEY, self.rec.call, self.prev_fp
        out = {}
        cur = self._fingerprint(self.cur_raw, "cur", self.META)
        out["counters"], _ = call("prep.change_classification", "operators.prep", lambda: run_counters(
            change_classification(prev, cur, key, "content_fp")).collect()[0].asDict())
        out["work"], _ = call("prep.skip_unchanged", "operators.prep",
                              lambda: skip_unchanged(cur, prev, key, "content_fp").count())
        out["exact"], _ = call("dedup.exact_dedup", "operators.dedup", lambda: exact_dedup(
            cur, key=key).filter(F.col("n_dups") > 1).collect())
        out["lsh"], _ = call("dedup.minhash_lsh_pairs", "operators.dedup",
                             lambda: minhash_lsh_pairs(cur, key=key).collect())
        out["ngram"], _ = call("dedup.ngram_jaccard_pairs", "operators.dedup",
                               lambda: ngram_jaccard_pairs(cur, threshold=0.5, key=key).collect())
        out["simhash"], _ = call("dedup.simhash64", "operators.dedup",
                                 lambda: simhash64(cur, key=key).count())
        return cur, out

    # ----------------------------------------------------------- index
    def _doc_ids(self):
        from data_prep_opensearch_spark.operators.manifest import read_doc_stats

        pdf = read_doc_stats(self.spark, self.index).select(
            "doc_id", "repo", "path", "commit").toPandas()
        return {(r.repo, r.path, r.commit): int(r.doc_id) for r in pdf.itertuples()}

    def _topk(self, q: str, tid: str) -> tuple[list, float]:
        rows, sp = self.rec.call("bm25.topk", "operators.bm25",
                                 lambda: self.engine.topk(q, self.cfg["k"]).collect(), trace_id=tid)
        return _rows(rows), sp.wall

    def measure(self) -> None:
        from pyspark.sql import functions as F

        from data_prep_opensearch_spark.operators.bm25 import BM25Engine
        from data_prep_opensearch_spark.operators.incremental import add_documents, delete_documents
        from data_prep_opensearch_spark.operators.index_build import build_index
        from data_prep_opensearch_spark.operators.manifest import load_manifest
        from data_prep_opensearch_spark.operators.segment_merge import merge_segments

        c, spark = self.cfg, self.spark
        self.index = os.path.join(self.work, "index")
        self.begin_timed()
        t0 = time.perf_counter()
        with self.clock:
            cur_fp, self.prep_out = self._prep()
        self.prep_s = time.perf_counter() - t0
        source = cur_fp.select(*self.META, F.col("text").alias("content"))
        with self.clock:
            _, sp = self.rec.call("index_build.build_index", "operators.index_build", lambda: build_index(
                spark, source, self.index, n_shards=c["shards"], n_groups=c["groups"]))
            self.build_s = sp.wall
            self.engine, _ = self.rec.call("bm25.engine_load", "operators.bm25",
                                           lambda: BM25Engine(spark, self.index))
        key2id = self._doc_ids()
        base = self.cur_pdf.set_index("path")
        base_needles = {key2id[(base.at[p, "repo"], p, base.at[p, "commit"])]: nd
                        for nd, p in self.base_needles.items()}
        self.add_walls, self.delete_walls, self.fresh_walls, self.warm_walls = [], [], [], []
        self.reload_ms, self.live_dirs, self.added = [], [], 0
        self.deleted: set[int] = set()
        self.cycle_checks = []
        for cyc, ((pdf, needle), delta) in enumerate(zip(self.batches, self.deltas)):
            tid = f"cycle{cyc}"
            with self.clock:
                res, sp = self.rec.call("incremental.add_documents", "operators.incremental",
                                        lambda: add_documents(spark, self.index, delta), trace_id=tid)
            self.add_walls.append(sp.wall)
            self.added += int(res["docs_added"])
            if res["docs_added"] != len(pdf):
                self.rec.fail(f"cycle {cyc}: added {res['docs_added']} of {len(pdf)}")
            # tombstones: a sample of the live ids the index reports, plus
            # one base needle doc whose needle a warm query then looks up
            key2id = self._doc_ids()
            row = pdf[pdf["content"].str.contains(needle, regex=False)].iloc[0]
            needle_id = key2id[(row.repo, row.path, row.commit)]
            live = np.array(sorted(set(key2id.values()) - self.deleted), dtype=np.int64)
            victims = gen.tombstone_sample(self.seed, cyc, live, c["deletes"], {needle_id, *base_needles})
            dead_needle = sorted(set(base_needles) - self.deleted)[cyc]
            victims_df = spark.createDataFrame([(v,) for v in victims + [dead_needle]], "doc_id long")
            fresh_q = f"{needle} {self.pool[cyc]}"
            warm_qs = [fresh_q, base_needles[dead_needle]] + [
                self.pool[(cyc * 7 + j) % len(self.pool)] for j in range(c["warm_queries"] - 2)]
            with self.clock:
                _, sp = self.rec.call("incremental.delete_documents", "operators.incremental",
                                      lambda: delete_documents(spark, self.index, victims_df), trace_id=tid)
                fresh, fresh_wall = self._topk(fresh_q, tid)
                warm = [self._topk(q, tid) for q in warm_qs]
            self.delete_walls.append(sp.wall)
            self.deleted.update(victims + [dead_needle])
            self.fresh_walls.append(fresh_wall)
            self.warm_walls.extend(wl for _, wl in warm)
            self.reload_ms.append((fresh_wall - warm[0][1]) * 1e3)
            self.live_dirs.append(len(load_manifest(self.index)["segments"]))
            self.cycle_checks.append((cyc, needle_id, fresh, [r for r, _ in warm], set(self.deleted)))
        self.before_merge = index_space(self.index)["index.total_bytes"]
        self.before_dirs = _live_dirs(self.index)
        with self.clock:
            self.merge_res, sp = self.rec.call("segment_merge.merge_segments", "operators.segment_merge",
                                               lambda: merge_segments(spark, self.index, apply_deletes=True))
        self.merge_s = sp.wall
        self.end_timed()
        self.engine.unpersist()

    # ---------------------------------------------------------- checks
    def _check_prep(self) -> None:
        p, out = self.pair, self.prep_out
        got = {k: int(out["counters"][k]) for k in p["counts"]}
        if got != p["counts"]:
            self.rec.fail(f"prep counters {got} != planted {p['counts']}")
        if out["work"] != p["counts"]["new"] + p["counts"]["updated"]:
            self.rec.fail(f"{out['work']} docs left after skip_unchanged")
        lsh = {(int(r["id_a"]), int(r["id_b"])) for r in out["lsh"]}
        ngram = {(int(r["id_a"]), int(r["id_b"])) for r in out["ngram"]}
        for pair in p["near"]:
            if pair not in lsh:
                self.rec.fail(f"near duplicate {pair} not found by LSH")
            if pair not in ngram:
                self.rec.fail(f"near duplicate {pair} not confirmed by n-gram Jaccard")
        keepers = {int(r["keeper"]) for r in out["exact"]}
        for a, _ in p["exact"]:
            if a not in keepers:
                self.rec.fail(f"exact duplicate of {a} not grouped")
        self.lsh_pairs = len(lsh)
        self.lsh_true = len((set(p["near"]) | set(p["exact"])) & lsh)

    def check(self) -> None:
        import pandas as pd

        from data_prep_opensearch_spark.operators.manifest import load_manifest, read_doc_stats

        self._check_prep()
        for cyc, needle_id, fresh, warm, deleted in self.cycle_checks:
            if needle_id not in [d for d, _ in fresh]:
                self.rec.fail(f"cycle {cyc}: needle doc {needle_id} not found")
            for rows in [fresh, *warm]:
                bad = [d for d, _ in rows if d in deleted]
                if bad:
                    self.rec.fail(f"cycle {cyc}: tombstoned ids returned {bad}")
        with open(os.path.join(self.index, "meta.json")) as f:
            meta = json.load(f)
        stats = read_doc_stats(self.spark, self.index).select(
            "doc_id", "repo", "path", "commit").toPandas()
        live = len(self.cur_pdf) + self.added - len(self.deleted)
        if not (meta["n_docs"] == live == len(stats)):
            self.rec.fail(f"after merge: meta n_docs {meta['n_docs']}, doc_stats {len(stats)}, "
                          f"expected {live}")
        if os.path.exists(os.path.join(self.index, "tombstones")):
            self.rec.fail("after merge: tombstones remain")
        if set(stats["doc_id"]) & self.deleted:
            self.rec.fail("after merge: tombstoned docs still in doc_stats")
        m = load_manifest(self.index)
        self.retired_pending = len(m.get("retired", []))
        self.space = index_space(self.index)
        # content bytes of the live docs: cleaned text for the snapshot,
        # raw content for the adds
        cleaned = pd.read_parquet(self.fp_dir, columns=["repo", "path", "commit", "text"])
        docs = pd.concat([cleaned.rename(columns={"text": "content"})]
                         + [p[["repo", "path", "commit", "content"]] for p, _ in self.batches])
        size = dict(zip(zip(docs.repo, docs.path, docs.commit), docs.content.str.encode("utf-8").str.len()))
        self.content_bytes = float(sum(size[(r.repo, r.path, r.commit)] for r in stats.itertuples()))
        written = 0
        for rel in _live_dirs(self.index) - self.before_dirs:
            for root, _, names in os.walk(os.path.join(self.index, rel)):
                written += sum(os.path.getsize(os.path.join(root, n)) for n in names)
        self.merge_written = float(written)

    # --------------------------------------------------------- metrics
    def end_to_end(self) -> dict:
        return {"latency_p50_ms": p50_ms(self.warm_walls),
                "throughput_per_s": (len(self.cur_pdf) + self.added) / self.clock.total}

    def _details(self) -> dict:
        return {"query_p50_ms": p50_ms(self.warm_walls),
                "queries": float(len(self.warm_walls)),
                "prep_docs_per_s": len(self.cur_pdf) / self.prep_s,
                "build_docs_per_s": len(self.cur_pdf) / self.build_s,
                "add_docs_per_s": self.added / sum(self.add_walls),
                "fresh_query_ms": p50_ms(self.fresh_walls),
                "merge_s": self.merge_s,
                "index_bytes_per_content_byte": self.space["index.total_bytes"] / self.content_bytes}

    def per_layer(self) -> dict:
        a, b = self.timed_spans
        timed = self.rec.spans[a:b]

        def wall(name):
            return sum(s.wall for s in timed if s.name == name)

        dedup = [s for s in timed if s.layer == "operators.dedup"]
        out = {"session.start_s": self.session_s, "corpus.stage_s": self.stage_s}
        out.update(_layer_block(self, "index_build.build_index", "index_build"))
        out.update({k: v for k, v in self.space.items() if k != "index.total_bytes"})
        out["index.bytes_per_content_byte"] = self.space["index.total_bytes"] / self.content_bytes
        out.update(_bm25_layers(self))
        adds = self.span_counters("incremental.add_documents")
        out["incremental.add_wall_s"] = sum(self.add_walls)
        out["incremental.add_jobs"] = self.per_call("incremental.add_documents", "jobs")
        out["incremental.add_shuffle_write_bytes"] = float(sum(a["shuffle_write_bytes"] for a in adds))
        out["incremental.delete_ms"] = p50_ms(self.delete_walls)
        out["incremental.delete_jobs"] = self.per_call("incremental.delete_documents", "jobs")
        out["incremental.reload_ms"] = statistics.median(self.reload_ms)
        out["manifest.live_segment_dirs"] = float(max(self.live_dirs))
        out["manifest.retired_dirs_pending"] = float(self.retired_pending)
        mb = _layer_block(self, "segment_merge.merge_segments", "segment_merge")
        mb.pop("segment_merge.spill_bytes")
        out.update(mb)
        out["segment_merge.bytes_written_per_live_byte"] = self.merge_written / self.before_merge
        out["segment_merge.passes"] = float(self.merge_res["passes"])
        counters = self.prep_out["counters"]
        out.update({
            "cleaning.clean_s": wall("cleaning.clean_content_udf"),
            "analysis.fingerprint_s": wall("analysis.fingerprint_cols"),
            "prep.cdc_s": wall("prep.change_classification") + wall("prep.skip_unchanged"),
            "prep.unchanged_share": int(counters["unchanged"]) / int(counters["seen"]),
            "dedup.exact_s": wall("dedup.exact_dedup"),
            "dedup.minhash_lsh_s": wall("dedup.minhash_lsh_pairs"),
            "dedup.ngram_jaccard_s": wall("dedup.ngram_jaccard_pairs"),
            "dedup.simhash_s": wall("dedup.simhash64"),
            "dedup.lsh_candidate_pairs": float(self.lsh_pairs),
            "dedup.lsh_true_pair_share": self.lsh_true / max(self.lsh_pairs, 1),
            "dedup.shuffle_write_bytes": float(sum(s.counters["shuffle_write_bytes"] for s in dedup)),
            "dedup.spill_bytes": float(sum(s.counters["spill_bytes"] for s in dedup)),
        })
        out.update({f"ingest.{k}": v for k, v in self._details().items()
                    if k in ("prep_docs_per_s", "fresh_query_ms")})
        return out


WORKLOADS = {"search": Search, "ingest": Ingest}
