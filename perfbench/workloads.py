"""The benchmark's workloads. Each takes a :class:`Run` and fills its
end-to-end figures, per-layer extras, operation counts and failed
output checks. Calls into the package go through its public entry
points, inside a tracer span named after the layer they enter; the one
private touches are in the traced query-stage split, which reuses the
``KnowledgeBase`` facade's cached index and its AQE-off scope.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import gen
from spans import StreamProgress, Tracer

DOC_SCHEMA = "doc_id long, text string, source string"

# kb_query sizing: ~680 chunks on the IVF tier (forced: auto picks it
# from 1,000 vectors, and a corpus that large costs a cold build ~10 s
# more on a slow host). One build per run: session start and the cold
# build are most of a run's time.
KB_DOCS = 100
KB_INDEX = "ivf"
MIN_QUERIES = 6  # closed-loop floor; the digest covers exactly these
STAGE_QUERIES = 3  # traced runs split this many loop queries into stages

# curate_stream sizing: one ascending-id wave of a seeded corpus. A
# drain costs 10-15 s whatever its size (per-gate scheduling, not
# data), so a run affords one
STREAM_DOCS = 200
STAGE_REPS = 3

#: curate_pipeline stage name -> layer span name
CURATE_SPANS = {
    "pii_scrub": "curation.pii",
    "line_dedup": "dedup.line",
    "exact_dedup": "dedup.exact",
    "substring_dedup": "dedup.substring",
    "minhash_dedup": "dedup.minhash",
    "gopher_filter": "curation.gopher",
}


@dataclass
class Run:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str
    setup_s: float = 0.0
    metrics: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: list = field(default_factory=list)
    outputs: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(what)


def _curate_cfg():
    # the composed pipeline bench.py times: pii, line, exact, substring
    # k=20, minhash, gopher (web-clean stages off: the synthetic corpus
    # has no sentence structure for C4 to keep)
    from customkb_spark.plans.pipeline import PipelineConfig

    return PipelineConfig(
        c4_clean=False, refinedweb_clean=False, pii_scrub=True,
        line_dedup=True, exact_dedup=True,
        substring_dedup=True, substring_k=20,
        minhash_dedup=True,
        gopher_filter=True, gopher_min_stop_hits=0,
    )


# ------------------------------------------------------------ kb_query
def _build_kb(run: Run, kb, rows) -> float:
    """Ingest ``rows`` into an empty ``kb``: database -> embed ->
    build_bm25 -> first query, which trains the vector index. Returns
    the wall of those calls; the output checks after them are not
    counted."""
    spark, tr = run.spark, run.tracer
    probe = gen.queries(run.seed, 1)[0]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    t0 = time.time()
    with tr.span("ingest.database"):
        n_new = kb.database(df)
    with tr.span("embedding.embed"):
        n_vec = kb.embed()
    with tr.span("bm25.build"):
        kb.build_bm25()
    t1 = time.time()
    with tr.span("embedding.index_build"):
        ctx = kb.query(probe, context_only=True, fmt="plain")
    t2 = time.time()
    run.layers["kb.ingest_chunks_per_s"] = [n_new / (t1 - t0)]
    run.check(n_new > 0 and n_vec > 0, f"{n_new} chunks, {n_vec} vectors")
    run.check(bool(ctx), f"empty context for {probe!r}")
    v = kb.verify()
    run.check(
        v["pending_embed"] == 0
        and v["bm25_index"] == "fresh"
        and v["vector_index"] in ("fresh", "appendable"),
        f"verify after the build: {v}",
    )
    chunks = spark.read.parquet(os.path.join(kb.kb_dir, "chunks"))
    n_rows, n_ids = chunks.count(), chunks.select("id").distinct().count()
    run.check(n_rows == n_ids, f"chunk ids not unique: {n_rows} rows, {n_ids} ids")
    return t2 - t0


def _query_stages(run: Run, kb, q: str, i: int) -> None:
    """Traced runs only: the public functions ``KnowledgeBase.query``
    composes, called one by one so each gets its own span. The ranking
    and context stages run with AQE off, as ``KnowledgeBase.query``
    collects them; the ``localCheckpoint`` between them is the one
    departure from its plan."""
    from customkb_spark.embedding.embedder import get_provider
    from customkb_spark.functions.security import sanitize_query_text
    from customkb_spark.operators import bm25 as B25
    from customkb_spark.operators import fusion as FU
    from customkb_spark.plans import hybrid as HY
    from customkb_spark.plans.formatters import format_references
    from customkb_spark.plans.querylog import log_query

    tr, cfg = run.tracer, kb.cfg
    index = kb._build_index()  # cached by the queries above: no rebuild
    qt = sanitize_query_text(q)
    qv = get_provider(cfg.vector_model, cfg.vector_dimensions).get_embeddings([qt])[0].tolist()
    req = f"stages-{i}"
    with HY._no_aqe(run.spark):
        with tr.span("hybrid.vector", req):
            vec = index.vindex.topk(qv, cfg.query_top_k, cfg.faiss_nprobe).localCheckpoint()
        with tr.span("hybrid.bm25", req):
            terms = HY.query_terms(qt, cfg.bm25_min_token_length, cfg.language)
            kw = B25.bm25_score(
                index.postings, index.term_stats, terms, index.avgdl,
                cfg.bm25_k1, cfg.bm25_b, cfg.bm25_max_results,
            ).localCheckpoint()
        with tr.span("hybrid.fusion", req):
            fused = FU.rrf_fuse(vec, kw, cfg.rrf_k, cfg.query_top_k).collect()
        with tr.span("hybrid.context", req):
            rows = HY.retrieve_context_hits(index, fused, cfg, ordered=False).select(
                "sourcedoc", "sid", "text"
            ).collect()
    with tr.span("formatters.format", req):
        format_references(rows, "plain")
    with tr.span("querylog.log", req):
        log_query(run.spark, os.path.join(run.work, "trace_query_log"), "kb", q, 0.0, len(rows))


def kb_query(run: Run) -> None:
    from customkb_spark.config import KBConfig
    from customkb_spark.kb import KnowledgeBase

    tr = run.tracer
    kb = KnowledgeBase(run.spark, os.path.join(run.work, "kb"), KBConfig(ann_index=KB_INDEX))
    run.setup_s = _build_kb(run, kb, gen.documents(run.seed, KB_DOCS, dup_share=0.1))

    qs = gen.queries(run.seed, 2000)
    lat: list[float] = []
    t_end = time.time() + run.seconds
    i = 0
    while (time.time() < t_end or i < MIN_QUERIES) and i < len(qs):
        t0 = time.time()
        err = "empty context"
        with tr.span("hybrid.query", f"q{i}"):
            try:
                ctx = kb.query(qs[i], context_only=True, fmt="plain")
            except Exception as e:  # counted as failed, not raised
                ctx, err = "", repr(e)
        lat.append(time.time() - t0)
        run.check(bool(ctx), f"query {qs[i]!r}: {err}")
        if i < MIN_QUERIES:
            run.outputs.append(ctx)
        if tr.enabled and i < STAGE_QUERIES:
            _query_stages(run, kb, qs[i], i)
        i += 1
    run.metrics["latency_p50_s"] = statistics.median(lat)
    # one client: what the serialized query path gets through a second
    run.metrics["throughput_per_s"] = len(lat) / sum(lat)
    print(f"# query walls {[round(x, 3) for x in lat]}", file=sys.stderr)


# ------------------------------------------------------- curate_stream
def curate_stream(run: Run) -> None:
    from customkb_spark.plans.pipeline import curate_pipeline
    from customkb_spark.streaming.pipeline import (
        streaming_curate_pipeline,
        streaming_pipeline_final,
    )

    spark, tr = run.spark, run.tracer
    cfg = _curate_cfg()
    docs = gen.documents(run.seed, STREAM_DOCS, dup_share=0.3)
    stage_walls = []
    for r in range(STAGE_REPS):
        t0 = time.time()
        staged = os.path.join(run.work, f"staged{r}")
        spark.createDataFrame(docs, DOC_SCHEMA).coalesce(1).write.parquet(staged)
        stage_walls.append(time.time() - t0)
    run.setup_s = statistics.median(stage_walls)

    # batch twin on the whole corpus: the reference output, and the
    # dedup/curation layers' spans (opened at resume, closed when the
    # stage's localCheckpoint returns — the default path's own plan)
    open_spans: dict = {}

    def resume(name):
        open_spans[name] = tr.open(CURATE_SPANS.get(name, f"curation.{name}"))
        return None

    def materialize(name, df):
        out = df.localCheckpoint()
        tr.close(open_spans.pop(name))
        return out

    stats: dict = {}
    t0 = time.time()
    kept, _ = curate_pipeline(
        spark.read.parquet(staged), cfg, resume=resume, materialize=materialize,
        stage_stats=stats,
    )
    batch_ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    run.layers["curation.batch_docs_per_s"] = [len(docs) / (time.time() - t0)]
    mh = stats.get("minhash_dedup", {})
    if mh.get("candidate_pairs"):
        run.layers["dedup.minhash_verified_per_candidate"] = [
            mh["verified_pairs"] / mh["candidate_pairs"]
        ]
    run.check(0 < len(batch_ids) < len(docs), f"batch kept {len(batch_ids)} of {len(docs)}")

    # the wave arrives: the staged parquet moves into the stream source
    src, wk = os.path.join(run.work, "source"), os.path.join(run.work, "wk")
    os.makedirs(src)
    for fn in os.listdir(staged):
        if fn.endswith(".parquet"):
            os.rename(os.path.join(staged, fn), os.path.join(src, fn))
    listener = None
    if tr.enabled:
        listener = StreamProgress()
        spark.streams.addListener(listener)
    try:
        t0 = time.time()
        with tr.span("streaming.wave") as wave:
            gates = streaming_curate_pipeline(spark, src, wk, cfg)
        drain = time.time() - t0
        if listener:
            # late progress events reach the listener on the bus thread
            tr.drain()
    finally:
        if listener:
            spark.streams.removeListener(listener)
    # one drain: throughput is the corpus size over the same wall
    run.metrics["latency_p50_s"] = drain
    run.metrics["throughput_per_s"] = len(docs) / drain
    run.layers["streaming.state_mb"] = [_du_mb(wk)]
    if listener:
        _gate_spans(run, wave, gates, listener.queries)
        commits = [
            b["trigger_ms"] - b["add_ms"]
            for q in listener.queries for b in q["batches"] if b["rows"]
        ]
        run.check(bool(commits), "the listener saw no non-empty micro-batch")
        if commits:
            run.layers["streaming.commit_ms"] = commits

    stream_ids = sorted(
        r["doc_id"] for r in streaming_pipeline_final(spark, src, wk, cfg).select("doc_id").collect()
    )
    run.check(stream_ids == batch_ids,
              f"stream kept {len(stream_ids)} docs, batch kept {len(batch_ids)}")
    run.outputs.append(stream_ids)


def _gate_spans(run: Run, wave: dict, gates, queries: list[dict]) -> None:
    """One span per streaming gate of a drain: its wall from the
    pipeline's returned run list, its jobs from the streaming query the
    listener saw start in the same position (gates run in order, one
    query each)."""
    t = wave["start"]
    for k, g in enumerate(gates):
        groups = [queries[k]["run"]] if len(queries) == len(gates) else []
        run.tracer.add(f"streaming.{g.stage}", t, t + g.seconds, groups, parent=wave)
        t += g.seconds


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / (1 << 20)


WORKLOADS = {"kb_query": kb_query, "curate_stream": curate_stream}

