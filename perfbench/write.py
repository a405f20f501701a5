"""``write``: the write path with reads interleaved, then the batch
LLM-data job.

Set-up generates a corpus, its change feed and a pipeline corpus with
planted structure, lands the raw corpus in an empty upsert store as
epoch 0 (``upsert_delta_batch``), and runs the pipeline once untraced as
a warm-up, so the timed pass runs its plan shapes warm.  The timed part:

1. a change-feed epoch through ``upsert_delta_batch`` with
   ``auto_compact_epochs=2`` (so it folds the digest history), then the
   store is read back (``load_upsert_delta`` -> ``index_from_delta``) and
   answers a compiled query for the token only that epoch's changes
   carry (read-your-writes);
2. the pipeline: MinHash -> LSH -> Jaccard verify -> clusters; embedding
   near-dups -> clusters; exact dedup, benchmark contamination,
   repetition flags, then ``pack_sequences`` on the selected docs.

The snapshot build from raw text is timed in ``serve``'s set-up.
"""

from __future__ import annotations

import json
import statistics

import gen

N_DOCS = 1000
N_EPOCHS = 1
AUTO_COMPACT = 2
N_PIPELINE = 600
K = 5


def generate(ctx) -> None:
    docs = gen.corpus(ctx.seed, N_DOCS, stream="write")
    feed = gen.change_feed(ctx.seed, docs, N_EPOCHS)
    pc = gen.pipeline_corpus(ctx.seed, N_PIPELINE)
    ctx.inputs = {"docs": docs, "feed": feed, "pipeline": pc}
    gen.write_table({k: docs[k] for k in ("doc_id", "title", "text")}, ctx.path("corpus/part-0.parquet"))
    for e, (batch, *_rest) in enumerate(feed, start=1):
        gen.write_table(batch, ctx.path(f"feed/e{e}/part-0.parquet"))
    gen.write_table(pc["docs"], ctx.path("pdocs/part-0.parquet"))
    gen.write_table(pc["emb"], ctx.path("pemb/part-0.parquet"))
    gen.write_table(pc["bench"], ctx.path("pbench/part-0.parquet"))


def _text():
    from pyspark.sql import functions as F

    return F.concat_ws(" ", "title", "text")


def prepare(ctx) -> None:
    """Epoch 0: the raw corpus lands in an empty upsert store.  Then one
    warm-up pass of the pipeline: a cold pass swings with the JIT and the
    host more than a warm one.  Its spans go to a tracer of its own
    and its jobs run outside any job group, so the trace leaves it out."""
    from spans import Tracer

    with ctx.tracer.span("ingest.land", "ingest"):
        _upsert(ctx, 0, ctx.path("corpus"))
    _pipeline(ctx, Tracer(None))


def _upsert(ctx, e: int, src: str) -> None:
    from beyond_vector_search_spark.streaming import ingest

    ingest.upsert_delta_batch(
        ctx.spark.read.parquet(src), e, ctx.path("store"),
        text=_text(), auto_compact_epochs=AUTO_COMPACT,
    )


def _epoch(ctx, e: int, query: str) -> list[tuple[str, float]]:
    """Land delivery ``e``, read the store back, answer ``query``
    (compiled BM25 top-k)."""
    from beyond_vector_search_spark.operators import corpus_index as ci
    from beyond_vector_search_spark.operators import retrieval as rt
    from beyond_vector_search_spark.streaming import ingest

    spark, tr, out = ctx.spark, ctx.tracer, ctx.out
    with tr.span("epoch", "ingest", request=f"e{e}") as sp:
        with tr.span("ingest.upsert", "ingest") as up:
            _upsert(ctx, e, ctx.path(f"feed/e{e}"))
        with tr.span("ingest.reload", "ingest"):
            idx = ci.index_from_delta(ingest.load_upsert_delta(spark, ctx.path("store")))
        with tr.span("retrieval.fresh_query", "retrieval"):
            qdf = spark.createDataFrame([("q", query)], "query_id STRING, query STRING")
            compiled = rt.compile_query_batch([("q", query)], idx)
            top = rt.stable_topk(rt.compiled_bm25_scores(idx, compiled, queries=qdf), K).collect()
    ctx.results["final_index"] = idx
    out["epoch_ms"].append(sp.dur * 1000.0)
    out["upsert_s"].append(up.dur)
    out["fresh_ms"].append((sp.dur - up.dur) * 1000.0)
    return [(r.doc_id, float(r.score)) for r in sorted(top, key=lambda r: r.rank)]


def _pipeline(ctx, tr) -> None:
    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators import dedup, pretrain, similarity

    spark, out = ctx.spark, ctx.out
    res = ctx.results
    docs = spark.read.parquet(ctx.path("pdocs"))
    emb = spark.read.parquet(ctx.path("pemb"))
    bench = spark.read.parquet(ctx.path("pbench"))
    with tr.span("pipeline", "pipeline") as sp:
        with tr.span("dedup.signature", "dedup"):
            sigs = dedup.minhash_signatures(docs).cache()
            sigs.count()
        with tr.span("dedup.lsh", "dedup"):
            cand = dedup.lsh_candidate_pairs(sigs).cache()
            res["candidates"] = cand.count()
        with tr.span("dedup.verify", "dedup"):
            pairs = dedup.jaccard_pairs(docs, candidates=cand).cache()
            res["text_pairs"] = {(r.doc_a, r.doc_b) for r in pairs.select("doc_a", "doc_b").collect()}
        with tr.span("dedup.cluster", "dedup"):
            clusters = dedup.dedup_clusters(docs, pairs).cache()
            res["text_canonical"] = {r.doc_id for r in clusters.where("is_canonical").select("doc_id").collect()}
        with tr.span("similarity.neardup", "similarity"):
            epairs = similarity.embedding_neardup_pairs(emb).cache()
            res["emb_pairs"] = {(r.id_a, r.id_b) for r in epairs.select("id_a", "id_b").collect()}
            res["emb_canonical"] = {
                r.doc_id
                for r in dedup.dedup_clusters(emb, epairs, id_col="vec_id", src="id_a", dst="id_b")
                .where("is_canonical").select("doc_id").collect()
            }
        with tr.span("dedup.exact", "dedup"):
            exact = dedup.exact_dedup_map(docs).cache()
            res["exact"] = {
                (r.doc_id, r.keeper_id)
                for r in exact.where("doc_id <> keeper_id").select("doc_id", "keeper_id").collect()
            }
        with tr.span("pretrain.contamination", "pretrain"):
            contam = pretrain.benchmark_contamination(docs, bench).cache()
            res["contaminated"] = {r.doc_id: int(r.n_shared) for r in contam.collect()}
        with tr.span("pretrain.repetition", "pretrain"):
            flags = pretrain.repetition_flags(docs).where("flag_repetitive").select("doc_id").cache()
            res["repetitive"] = {r.doc_id for r in flags.collect()}
        with tr.span("pretrain.pack", "pretrain"):
            selected = (
                docs.join(clusters.where("is_canonical").select("doc_id"), "doc_id", "semi")
                .join(exact.where("doc_id <> keeper_id").select("doc_id"), "doc_id", "anti")
                .join(contam.select("doc_id"), "doc_id", "anti")
                .join(flags, "doc_id", "anti")
            )
            packed = pretrain.pack_sequences(selected).agg(
                F.count("*").alias("docs"), F.sum("n_tokens").alias("tokens")
            ).collect()[0]
            res["packed"] = (int(packed["docs"]), int(packed["tokens"] or 0))
    out["pipeline_s"] = sp.dur
    for df in (sigs, cand, pairs, clusters, epairs, exact, contam, flags):
        df.unpersist()


def timed(ctx) -> None:
    ctx.out.update(epoch_ms=[], upsert_s=[], fresh_ms=[])
    ctx.results["fresh"] = [
        _epoch(ctx, e, marker) for e, (_b, marker, _c, _n) in enumerate(ctx.inputs["feed"], start=1)
    ]
    _pipeline(ctx, ctx.tracer)


def check(ctx) -> tuple[int, list[str]]:
    import checks

    bad: list[str] = []
    res, pc = ctx.results, ctx.inputs["pipeline"]
    # read-your-writes: every fresh answer is a doc carrying the marker
    for e, ((batch, marker, chg, new), top) in enumerate(zip(ctx.inputs["feed"], res["fresh"]), start=1):
        carriers = set(chg) | set(new)
        hits = {d for d, s in top if s > 0}
        if len(top) != K or not hits <= carriers or len(hits) != min(K, len(carriers)):
            bad.append(f"epoch {e}: fresh query for {marker} returned {top}")
    # LWW index == a from-scratch build of the final corpus
    idx = res["final_index"]
    got_terms = {r.term: (int(r.df), float(r.idf)) for r in idx.term_stats.collect()}
    got_norms = {r.doc_id: float(r.norm) for r in idx.doc_norm.collect()}
    want_terms, want_norms = checks.oracle_index_stats(ctx.path(f"feed/e{N_EPOCHS}/*.parquet"))
    bad += [f"upsert store: {m}" for m in checks.compare_index_stats(got_terms, got_norms, want_terms, want_norms)]
    # pipeline outputs against DuckDB
    want_exact = checks.oracle_exact_dups(ctx.path("pdocs/*.parquet"))
    if res["exact"] != want_exact:
        bad.append(f"exact dedup: {len(res['exact'])} non-keepers, oracle {len(want_exact)}")
    want_contam = checks.oracle_contamination(ctx.path("pdocs/*.parquet"), ctx.path("pbench/*.parquet"))
    if res["contaminated"] != want_contam:
        bad.append(f"contamination: {len(res['contaminated'])} docs, oracle {len(want_contam)}")
    missed = set(pc["contaminated"]) - set(res["contaminated"])
    if missed:
        bad.append(f"contamination: {len(missed)} planted docs not found")
    # every planted exact duplicate pair is an exact-dedup pair
    keeper = dict(res["exact"])
    if any(keeper.get(a, a) != keeper.get(b, b) for a, b in pc["exact_pairs"]):
        bad.append("exact dedup: a planted exact duplicate was not mapped to a keeper")
    # clusters: one canonical doc per connected component of the found pairs
    ids = pc["docs"]["doc_id"]
    for name, pairs, canon in (
        ("text clusters", res["text_pairs"], res["text_canonical"]),
        ("embedding clusters", res["emb_pairs"], res["emb_canonical"]),
    ):
        comp = checks.components(ids, pairs)
        if sorted(comp[d] for d in canon) != sorted(set(comp.values())):
            bad.append(f"{name}: {len(canon)} canonical docs for {len(set(comp.values()))} components")
    if not set(pc["templates"]) <= res["repetitive"]:
        bad.append("repetition: a planted template doc was not flagged")
    # packing covers exactly the selected docs
    selected = res["text_canonical"] - set(keeper) - set(res["contaminated"]) - res["repetitive"]
    if res["packed"][0] != len(selected) or res["packed"][1] <= 0:
        bad.append(f"pack_sequences: {res['packed']} (docs, tokens), {len(selected)} docs selected")
    if ctx.traced:
        # useful-work ratio of the change feed: each epoch's commit marker
        # in the store records the docs delivered and the docs that landed
        landed = delivered = 0
        for e in range(1, N_EPOCHS + 1):
            with open(ctx.path(f"store/_batches/{e}.json")) as fh:
                rec = json.load(fh)
            landed += rec["n_landed"]
            delivered += rec["n_docs"]
        ctx.out["landed_per_delivered"] = landed / delivered
    res["dedup_recall"] = checks.pair_recall(res["text_pairs"], pc["near_pairs"])
    res["semdedup_recall"] = checks.pair_recall(res["emb_pairs"], pc["emb_pairs"])
    attempted = N_EPOCHS + 1 + 7  # epochs, LWW index, pipeline steps
    return attempted, bad


def end_to_end(ctx) -> dict:
    out, res = ctx.out, ctx.results
    return {
        "ready_s": statistics.median(out["epoch_ms"]) / 1000.0,
        "op_p50_ms": statistics.median(out["upsert_s"]) * 1000.0,
        "batch_per_s": N_PIPELINE / out["pipeline_s"],
        "quality": (res["dedup_recall"] + res["semdedup_recall"]) / 2,
    }


def properties(ctx) -> dict:
    docs, pc, feed = ctx.inputs["docs"], ctx.inputs["pipeline"], ctx.inputs["feed"]
    n = len(pc["docs"]["doc_id"])
    return {
        "docs": len(docs["doc_id"]),
        "text_bytes": ctx.text_bytes,
        "epochs": N_EPOCHS,
        "changed_share_per_epoch": [len(c) / len(b["doc_id"]) for b, _m, c, _n in feed],
        "new_share_per_epoch": [len(nw) / len(b["doc_id"]) for b, _m, _c, nw in feed],
        "pipeline_docs": n,
        "pipeline_text_bytes": sum(len(t.encode()) for t in pc["docs"]["text"]),
        "planted_share": {
            "near_dup": len(pc["near_pairs"]) / n,
            "exact_dup": len(pc["exact_pairs"]) / n,
            "contaminated": len(pc["contaminated"]) / n,
            "template": len(pc["templates"]) / n,
            "embedding_twin": len(pc["emb_pairs"]) / n,
        },
    }


def distributions(ctx) -> dict:
    """The write metrics by their per-workload names, with n and p90
    where at least ten samples lie beyond it."""
    from common import summary

    out, res = ctx.out, ctx.results
    return {
        "epoch_ms": summary(out["epoch_ms"], "ms"),
        "upsert_s": summary(out["upsert_s"], "s"),
        "fresh_query_ms": summary(out["fresh_ms"], "ms"),
        "pipeline_docs_per_s": summary([N_PIPELINE / out["pipeline_s"]], "1/s"),
        "dedup_recall": summary([res["dedup_recall"]], "ratio"),
        "semdedup_recall": summary([res["semdedup_recall"]], "ratio"),
    }
