"""The workloads, and the curation pipeline the traced ``llm_batch`` run
measures as a probe. Each drives the engine through its public functions
and checks every unit of work it times.

A workload generates its inputs in :meth:`prepare` (benchmark side, not
timed), writes them in :meth:`stage` (part of set-up), and runs units in
:meth:`unit`. A pass is ``pass_units`` units; the harness times passes,
runs the collectors between them and stops only at a pass boundary.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from .checks import (
    cosine_topk,
    exact_groups,
    pair_recall,
    same_result,
    topk_mismatches,
)
from .datagen import (
    TEMPLATE,
    make_corpus,
    make_records,
    make_star,
    make_vectors,
    split_files,
)
from .spans import Tracer
from .stats import median
from .stub import ChatStub, digest, reply

# -- fixed inputs (mirrored in BENCHMARK.json's whys and README.md) -----------

LLM = dict(
    long_share=0.2,
    repeat_share=0.1,
    corrupt_share=0.01,
    transient_share=0.03,
    permanent_share=0.01,
)
CONCURRENCY = 8
MAX_RETRIES = 2
STUB_LATENCY_S = 0.025
BATCH_RECORDS = 160
STREAM_FILES = 6  # the streaming probe splits the batch records over these
CURATE_DOCS = 12000
CURATE = dict(exact_share=0.08, near_share=0.08, edit_share=0.08)
VECTORS, DIM, QUERIES, TOPK = 3000, 64, 32, 10
LSH_PLANES = 6  # 64 buckets of ~47 vectors for a 3,000-vector corpus
STAR_SCALE = 0.01
ANALYTICS_QUERIES = [
    "agg_group", "agg_stats", "agg_distinct", "agg_rollup", "join_multiway",
    "join_broadcast", "join_inner_hash", "join_asof", "win_rank", "win_lag_lead",
    "sort_multi", "set_intersect",
]


@dataclass
class Unit:
    items: int
    wall: float
    latencies: list[float]
    failures: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _read_lines(pattern: str) -> list[str]:
    out: list[str] = []
    for p in sorted(glob.glob(pattern)):
        with open(p, encoding="utf-8") as f:
            out.extend(line for line in f.read().splitlines() if line)
    return out


class Workload:
    name = ""
    pass_units = 1

    def __init__(self, seed: int, work: str, cores: int):
        self.seed = seed
        self.work = work
        self.cores = cores
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, self.name, *parts)

    def prepare(self) -> None:
        pass

    def stage(self) -> None:
        pass

    def bind(self, spark) -> None:
        self.spark = spark

    def first_pass(self, tr: Tracer) -> list[Unit]:
        """The first warm-up pass; workloads with a heavier check override."""
        return [self.unit(tr, i) for i in range(self.pass_units)]

    def unit(self, tr: Tracer, i: int) -> Unit:
        raise NotImplementedError

    def probes(self) -> dict[str, float]:
        return {}

    def layer_metrics(self, tr: Tracer, units: list[Unit]) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass


# -- LLM batch job -------------------------------------------------------------


class LLMBatch(Workload):
    """One seeded JSONL file through the job CLI's ``--output`` sequence
    against the loopback chat stub."""

    name = "llm_batch"

    def prepare(self) -> None:
        from llm_batch_processor_spark.job.backend import OpenAIChatBackend
        from llm_batch_processor_spark.job.spec import JobSpec

        self.inputs = make_records(self.seed, BATCH_RECORDS, max_retries=MAX_RETRIES, **LLM)
        self.stub = ChatStub(
            self.seed,
            STUB_LATENCY_S,
            cap=self.cores * CONCURRENCY,
            transient_share=LLM["transient_share"],
            permanent_share=LLM["permanent_share"],
        ).start()
        self.spec = JobSpec(
            id="bench",
            erb_filepath=None,
            backend_endpoint=self.stub.endpoint,
            model="stub",
            output_label="summary",
            erb_source=TEMPLATE,
            concurrency=CONCURRENCY,
            max_retries=MAX_RETRIES,
            request_timeout=30.0,
        )
        self.backend = OpenAIChatBackend(self.stub.endpoint)

    def close(self) -> None:
        if hasattr(self, "stub"):
            self.stub.stop()

    def stage(self) -> None:
        os.makedirs(self.path(), exist_ok=True)
        with open(self.path("input.jsonl"), "w", encoding="utf-8") as f:
            f.write("\n".join(self.inputs.lines) + "\n")
        d = self.path("stream-in")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for j, chunk in enumerate(split_files(self.inputs, STREAM_FILES)):
            with open(os.path.join(d, f"part-{j:03d}.jsonl"), "w", encoding="utf-8") as f:
                f.write("\n".join(chunk) + "\n")

    def unit(self, tr: Tracer, i: int) -> Unit:
        from pyspark.sql import functions as F

        from llm_batch_processor_spark.job.pipeline import llm_map
        from llm_batch_processor_spark.sources.jsonl import read_records, write_records

        out_dir = self.path("out", str(i))
        ok_dir, err_dir, bad_dir = (os.path.join(out_dir, d) for d in ("ok", "errors", "corrupt"))
        self.stub.reset()
        cpu0 = self.stub.cpu_s()
        t0 = time.perf_counter()
        with tr.span("bench.unit"):
            good, corrupt = read_records(self.spark, self.path("input.jsonl"))
            out = llm_map(good, self.spec, self.backend).df.cache()
            with tr.span("job.pipeline.infer"):
                out.count()
            with tr.span("sources.write"):
                write_records(out.filter(F.col("error").isNull()).drop("error"), ok_dir)
            with tr.span("job.pipeline.sink"):
                out.filter(F.col("error").isNotNull()).select("id", "error").write.json(err_dir)
            with tr.span("sources.read"):
                corrupt.write.text(bad_dir)
            out.unpersist()
        wall = time.perf_counter() - t0
        snap = self.stub.snapshot()
        dead = [json.loads(x) for x in _read_lines(os.path.join(err_dir, "*.json"))]
        n_corrupt = len(_read_lines(os.path.join(bad_dir, "*.txt")))
        bad = self.check(_read_lines(os.path.join(ok_dir, "*.json")), dead, n_corrupt, snap)
        shutil.rmtree(out_dir, ignore_errors=True)
        info = {"stub": snap, "stub_cpu_s": self.stub.cpu_s() - cpu0}
        return Unit(len(self.inputs.lines), wall, [wall], bad, info)

    def check(self, ok_lines: list[str], dead: list[dict], n_corrupt: int, snap: dict) -> list[str]:
        """Every valid record once across ok and dead-letter rows; the
        dead letters are the planted permanent failures plus the corrupt
        lines; every enrichment is the think-stripped stub digest."""
        inp = self.inputs
        bad: list[str] = []
        seen: dict[str, int] = {}
        for line in ok_lines:
            rec = json.loads(line)
            rid = rec["id"]
            seen[rid] = seen.get(rid, 0) + 1
            want = inp.prompts.get(rid)
            texts = rec.get("texts") or {}
            if want is None or texts.get("summary") != digest(want):
                bad.append(f"wrong enrichment for {rid}")
        for d in dead:
            seen[d["id"]] = seen.get(d["id"], 0) + 1
        if sorted(seen) != sorted(inp.prompts) or any(v != 1 for v in seen.values()):
            bad.append("valid records not each present exactly once")
        if {d["id"] for d in dead} != inp.dead_ids():
            bad.append("dead-letter ids differ from the planted permanent failures")
        if n_corrupt != inp.corrupt:
            bad.append(f"corrupt lines {n_corrupt} != {inp.corrupt}")
        # Fewer requests than one per record is allowed down to one per
        # distinct prompt, so prompt de-duplication and response caching
        # show in requests_per_record instead of failing the check.
        lo, hi = inp.min_requests, inp.expected_requests
        if not lo <= snap["requests"] <= hi or snap["rejected_429"]:
            bad.append(
                f"stub requests {snap['requests']} (429: {snap['rejected_429']}) "
                f"outside [{lo}, {hi}]"
            )
        return bad[:5]

    def probes(self) -> dict[str, float]:
        """Layers that run inside another plan, timed outside the passes:
        template rendering and the HTTP client in driver loops, think-strip
        over the stub's replies, and one streaming job over the same
        records split into small files (one file per trigger)."""
        from llm_batch_processor_spark.functions.text import think_strip
        from llm_batch_processor_spark.job.templates import RowTemplate

        recs = [json.loads(x) for x in self.inputs.lines if x.endswith("}")]
        tmpl = RowTemplate(TEMPLATE)
        renders = []
        for _ in range(5):
            t0 = time.perf_counter()
            for r in recs:
                tmpl.render(r["texts"], [])
            renders.append((time.perf_counter() - t0) / len(recs) * 1e6)

        ok = [p for r, p in self.inputs.prompts.items() if self.inputs.fates[r] == "ok"][:40]
        self.stub.reset()
        t0 = time.perf_counter()
        for p in ok:
            self.backend.chat([{"role": "user", "content": p}], "stub", {}, None, 30.0)
        chat_ms = ((time.perf_counter() - t0) / len(ok) - STUB_LATENCY_S) * 1e3

        replies = self.spark.createDataFrame(
            [(reply(p),) for p in self.inputs.prompts.values()], "r string"
        ).cache()
        replies.count()
        strips = []
        for _ in range(3):
            t0 = time.perf_counter()
            _noop(replies.select(think_strip(replies.r)))
            strips.append(time.perf_counter() - t0)
        replies.unpersist()
        return {
            "job.templates.render_us": median(renders),
            "job.backend.chat_ms": chat_ms,
            "functions.text.think_strip_s": median(strips),
            **self.stream_probe(),
            **curate_probe(self.spark, self.seed, self.work, self.cores),
        }

    def stream_probe(self) -> dict[str, float]:
        from llm_batch_processor_spark.streaming.job import run_stream_job

        out = self.path("stream-out")
        ok_dir, err_dir, ckpt = (os.path.join(out, d) for d in ("ok", "errors", "ckpt"))
        self.stub.reset()
        q = run_stream_job(
            self.spark, self.spec, self.path("stream-in"), ok_dir, ckpt, self.backend,
            error_path=err_dir, available_now=True, max_files_per_trigger=1,
        )
        q.awaitTermination()
        snap = self.stub.snapshot()
        progress = [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]
        batches = [p for p in progress if p.get("numInputRows", 0) > 0]
        errs = [json.loads(x) for x in _read_lines(os.path.join(err_dir, "*.txt"))]
        bad = self.check(
            _read_lines(os.path.join(ok_dir, "*.json")),
            [e for e in errs if e.get("id") is not None],
            sum(1 for e in errs if e.get("id") is None),
            snap,
        )
        shutil.rmtree(out, ignore_errors=True)
        if bad or q.exception() is not None or len(batches) != STREAM_FILES:
            raise RuntimeError(f"streaming probe failed: {bad or q.exception() or len(batches)}")
        dur = lambda k: median(p["durationMs"].get(k, 0) for p in batches)  # noqa: E731
        return {
            "streaming.batches": len(batches),
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.wal_commit_ms": dur("walCommit"),
        }

    def layer_metrics(self, tr: Tracer, units: list[Unit]) -> dict[str, float]:
        per = tr.by_unit()
        m = {
            f"{k}_s": median(d.get(k, 0.0) for d in per.values())
            for k in ("sources.read", "sources.write", "job.pipeline.infer", "job.pipeline.sink")
        }
        snaps = [u.info["stub"] for u in units]
        n = len(self.inputs.lines)
        return {
            **m,
            "job.backend.requests": median(s["requests"] for s in snaps),
            # every 500 is retried except the last one for a permanent prompt
            "job.backend.retries": median(
                s["failed_500"] - len(self.inputs.dead_ids()) for s in snaps
            ),
            "job.backend.rejected_429": median(s["rejected_429"] for s in snaps),
            "job.backend.connections": median(s["connections"] for s in snaps),
            "job.backend.inflight_mean": median(s["inflight_mean"] for s in snaps),
            "job.backend.idle_share": median(s["idle_share"] for s in snaps),
            "job.backend.requests_per_record": median(s["requests"] / n for s in snaps),
            "stub.cpu_s": median(u.info["stub_cpu_s"] for u in units),
            "sources.corrupt_lines": self.inputs.corrupt,
            "job.pipeline.dead_letter_share": (
                len(self.inputs.dead_ids()) + self.inputs.corrupt
            ) / n,
        }


# -- curation -----------------------------------------------------------------


def curate_probe(spark, seed: int, work: str, cores: int) -> dict[str, float]:
    """The curation operators, run in an existing session: one cold
    pipeline run, then one traced warm run whose span self times are
    reported. Both runs are checked."""
    cur = Curate(seed, work, cores)
    cur.prepare()
    cur.bind(spark)
    cur.stage()
    tr = Tracer(enabled=True)
    units = []
    for i, t in enumerate((Tracer(), tr)):
        t.unit = i
        units.append(cur.unit(t, i))
        spark.catalog.clearCache()
    shutil.rmtree(cur.path(), ignore_errors=True)
    bad = [f for u in units for f in u.failures]
    if bad:
        raise RuntimeError(f"curate probe failed: {bad}")
    return cur.layer_metrics(tr, units[1:])


class Curate(Workload):
    """Text analysis, dedup and similarity operators over a seeded corpus.
    Not a workload of its own: ``curate_probe`` runs it."""

    name = "curate"

    def prepare(self) -> None:
        self.corpus = make_corpus(self.seed, CURATE_DOCS, **CURATE)
        self.vecs = make_vectors(self.seed, VECTORS, DIM, 0.2, QUERIES)
        self.want_groups = exact_groups(self.corpus.doc_ids, self.corpus.texts)
        self.want_topk, self.sims = cosine_topk(
            self.vecs.ids, self.vecs.emb, self.vecs.query_ids, TOPK
        )
        self.n_pairs: int | None = None

    def stage(self) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.path(), exist_ok=True)
        c, v = self.corpus, self.vecs
        pq.write_table(
            pa.table({"doc_id": pa.array(c.doc_ids), "text": c.texts}), self.path("docs.parquet")
        )
        emb = pa.array(list(v.emb), pa.list_(pa.float32()))
        pq.write_table(
            pa.table({"vec_id": pa.array(v.ids), "embedding": emb}), self.path("vectors.parquet")
        )
        qpos = np.searchsorted(v.ids, v.query_ids)
        pq.write_table(
            pa.table({
                "query_id": pa.array(v.query_ids),
                "embedding": pa.array(list(v.emb[qpos]), pa.list_(pa.float32())),
            }),
            self.path("queries.parquet"),
        )

    def unit(self, tr: Tracer, i: int) -> Unit:
        from pyspark.sql import functions as F

        from llm_batch_processor_spark.functions.text import (
            lang_id,
            quality_features,
            token_count_bpe,
        )
        from llm_batch_processor_spark.operators.dedup import (
            connected_components,
            exact_dedup,
            minhash_pairs,
        )
        from llm_batch_processor_spark.operators.similarity import (
            brute_force_topk,
            lsh_query_topk,
        )

        sp = self.spark
        t0 = time.perf_counter()
        with tr.span("bench.unit"):
            docs = sp.read.parquet(self.path("docs.parquet"))
            vecs = sp.read.parquet(self.path("vectors.parquet"))
            qs = sp.read.parquet(self.path("queries.parquet"))
            text = F.col("text")
            with tr.span("functions.text.lang_id"):
                _noop(docs.select(lang_id(text).alias("lang")))
            with tr.span("functions.text.quality"):
                _noop(docs.select(*[c.alias(k) for k, c in quality_features(text).items()]))
            with tr.span("functions.text.tokens"):
                _noop(docs.select(token_count_bpe(text).alias("n")))
            with tr.span("operators.dedup.exact"):
                groups = exact_dedup(docs, ["text"], "doc_id").select("doc_id", "n_dups").collect()
            with tr.span("operators.dedup.minhash_pairs"):
                pairs = minhash_pairs(docs, "doc_id", "text").select("id_a", "id_b").cache()
                n_pairs = pairs.count()
            with tr.span("operators.dedup.components"):
                cc = connected_components(pairs, id_col="doc_id").collect()
            pairs.unpersist()
            with tr.span("operators.similarity.brute_force_topk"):
                bf = brute_force_topk(vecs, qs, TOPK, dim=DIM).collect()
            with tr.span("operators.similarity.lsh_topk"):
                lsh = lsh_query_topk(vecs, qs, TOPK, n_planes=LSH_PLANES, dim=DIM).collect()
        wall = time.perf_counter() - t0

        bad: list[str] = []
        if {(r["doc_id"], r["n_dups"]) for r in groups} != self.want_groups:
            bad.append("exact_dedup groups differ from the reference")
        got = _ranked(bf)
        if topk_mismatches(got, self.want_topk, self.sims):
            bad.append("brute_force_topk differs from the numpy reference")
        if self.n_pairs is None:
            self.n_pairs = n_pairs
        elif n_pairs != self.n_pairs:
            bad.append(f"minhash pairs {n_pairs} != {self.n_pairs} in an earlier pass")
        cluster = {r["doc_id"]: r["cluster_id"] for r in cc}
        lsh_got = _ranked(lsh)
        hits = sum(len(set(lsh_got.get(q, [])) & set(w)) for q, w in self.want_topk.items())
        info = {
            "pairs": n_pairs,
            "dedup_recall": pair_recall(self.corpus.exact_pairs + self.corpus.near_pairs, cluster),
            "topk_recall": hits / sum(len(w) for w in self.want_topk.values()),
        }
        return Unit(CURATE_DOCS, wall, [wall], bad, info)

    def layer_metrics(self, tr: Tracer, units: list[Unit]) -> dict[str, float]:
        per = tr.by_unit().values()
        spans = (
            "functions.text.lang_id", "functions.text.quality", "functions.text.tokens",
            "operators.dedup.exact", "operators.dedup.minhash_pairs",
            "operators.dedup.components", "operators.similarity.brute_force_topk",
            "operators.similarity.lsh_topk",
        )
        m = {f"{k}_s": median(d.get(k, 0.0) for d in per) for k in spans}
        m["operators.dedup.pairs"] = median(u.info["pairs"] for u in units)
        m["operators.dedup.recall"] = median(u.info["dedup_recall"] for u in units)
        m["operators.similarity.topk_recall"] = median(u.info["topk_recall"] for u in units)
        return m


def _ranked(rows) -> dict[int, list[int]]:
    out: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    return {q: [n for _, n in sorted(v)] for q, v in out.items()}


# -- analytics ----------------------------------------------------------------


class Analytics(Workload):
    """The relational inventory over a seeded star schema, into ``noop``."""

    name = "analytics"
    pass_units = len(ANALYTICS_QUERIES)

    def prepare(self) -> None:
        from llm_batch_processor_spark.queries import all_queries

        self.tables = make_star(self.seed, STAR_SCALE)
        self.queries = all_queries()
        self.rows: dict[str, int] = {}

    def stage(self) -> None:
        import pyarrow.parquet as pq

        os.makedirs(self.path(), exist_ok=True)
        for name, t in self.tables.items():
            pq.write_table(t, self.path(f"{name}.parquet"), row_group_size=t.num_rows)

    def first_pass(self, tr: Tracer) -> list[Unit]:
        """Hash-compare every query with its DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.path(t + '.parquet')}')"
                )
            units = []
            for name in ANALYTICS_QUERIES:
                t0 = time.perf_counter()
                try:
                    got = self.queries[name].fn(self.spark, self.path()).toPandas()
                    wall = time.perf_counter() - t0
                    want = con.execute(self.queries[name].oracle).df()
                    why = same_result(got, want)
                    self.rows[name] = len(want)
                except Exception as e:  # counted as a failed unit
                    wall, why = time.perf_counter() - t0, f"raised {type(e).__name__}"
                units.append(Unit(1, wall, [wall], [f"{name}: {why}"] if why else []))
                self.spark.catalog.clearCache()
            return units
        finally:
            con.close()

    def unit(self, tr: Tracer, i: int) -> Unit:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        name = ANALYTICS_QUERIES[i % len(ANALYTICS_QUERIES)]
        obs = Observation(f"rows_{i}")
        t0 = time.perf_counter()
        with tr.span("bench.unit"):
            with tr.span(f"queries.relational.{name}"):
                df = self.queries[name].fn(self.spark, self.path())
                _noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
        wall = time.perf_counter() - t0
        n = obs.get["n"]
        bad = [] if n == self.rows.get(name) else [f"{name}: {n} rows != {self.rows.get(name)}"]
        return Unit(1, wall, [wall], bad)

    def layer_metrics(self, tr: Tracer, units: list[Unit]) -> dict[str, float]:
        per = tr.by_unit().values()
        return {
            f"queries.relational.{q}_s": median(
                d[f"queries.relational.{q}"] for d in per if f"queries.relational.{q}" in d
            )
            for q in ANALYTICS_QUERIES
        }


WORKLOADS = {w.name: w for w in (LLMBatch, Analytics)}
