"""``serve``: the read path over one persisted CorpusIndex snapshot.

Set-up generates a corpus and persists it as a snapshot with the engine
(``build_delta`` -> ``index_from_delta`` -> ``materialize`` -> ``save``).
The timed part is one client in a closed loop:

1. ``CorpusIndex.load(...).cache().materialize().warm_idf()`` and the
   documents cache the answer step joins, ``N_LOADS`` times (each load
   released before the next), so the load time is a median;
2. one 100-query labelled batch through ``ServingArms``, top-k of all
   three arms;
3. ``evaluate_all`` over the same labels, driver fold, reusing the
   batch's cached arms;
4. ``N_REQUESTS`` one-shot requests in the CLI ``run`` flow (route,
   compiled scorer of the routed arm, ``stable_topk``,
   ``generate_answers``, one telemetry write).  The batch and the eval
   loop have compiled the plan shapes these run, so they are timed warm.
"""

from __future__ import annotations

import random

import gen

N_DOCS = 500
N_BATCH = 100
K = 5
# Every one-shot request is the same kind (mixed words + number, routed
# to hybrid, which runs both compiled scorers and the blend), so every run
# times the same kind.  A fixed count, so the figure does not depend on
# how fast the earlier phases ran; one warm request takes 5-15 s on four
# cores, and a second does not fit the run budget.
REQUEST_KIND = "mixed"
N_REQUESTS = 1
# one load takes about 2 s and swings by a fifth from run to run on a
# shared host; the median of three is steady at the cost of about 4 s
N_LOADS = 3
# the batch repeats the reference label mix, so its kinds are in exact shares
BATCH_KINDS = tuple(k for k, count in gen.QUERY_MIX for _ in range(count))
N_CHECKED = 3  # requests and batch queries checked against DuckDB


def generate(ctx) -> None:
    docs = gen.corpus(ctx.seed, N_DOCS)
    ctx.inputs = {
        "docs": docs,
        "requests": gen.requests(ctx.seed, docs, N_REQUESTS, stream="requests", cycle=(REQUEST_KIND,)),
        "batch": gen.requests(ctx.seed, docs, N_BATCH, stream="batch", cycle=BATCH_KINDS),
    }
    gen.write_table({k: docs[k] for k in ("doc_id", "title", "text")}, ctx.path("corpus/part-0.parquet"))
    lab = ctx.inputs["batch"]
    gen.write_table(
        {k: lab[k] for k in ("query_id", "query", "expected_doc_id", "expected_answer")},
        ctx.path("labels/part-0.parquet"),
    )


def prepare(ctx) -> None:
    """Build the snapshot the timed part serves from: the full build from
    raw text, with a span per phase."""
    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators import corpus_index as ci

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("build", "corpus_index") as sp:
        with tr.span("corpus_index.build_delta", "corpus_index"):
            delta = ci.build_delta(
                spark.read.parquet(ctx.path("corpus")), text=F.concat_ws(" ", "title", "text")
            )
            # the delta relations are cached: force them here so their
            # kernels are timed as build_delta, not as derive
            delta.postings.count()
            delta.gram_tf.count()
        with tr.span("corpus_index.derive", "corpus_index"):
            idx = ci.index_from_delta(delta).cache().materialize()
        with tr.span("corpus_index.save", "corpus_index"):
            idx.save(ctx.path("snapshot"))
    ctx.out["build_s"] = sp.dur
    _unpersist(idx, delta.postings, delta.gram_tf)


def _unpersist(idx, *dfs) -> None:
    for df in [getattr(idx, f) for f in idx._FIELDS] + list(dfs):
        df.unpersist()


def _request(ctx, idx, docs, store, state, qi: int) -> dict:
    from beyond_vector_search_spark.operators import retrieval as rt
    from beyond_vector_search_spark.operators.answer import generate_answers
    from beyond_vector_search_spark.operators.router import query_features, route

    spark, tr = ctx.spark, ctx.tracer
    req = ctx.inputs["requests"]
    query = req["query"][qi]
    rid = f"r{qi}"
    with tr.span("request", "request", request=rid) as sp:
        with tr.span("router.route", "router"):
            queries = spark.createDataFrame([("q", query)], "query_id STRING, query STRING")
            strategy = route(query_features(queries, idx.term_stats), state).collect()[0].strategy
        with tr.span("retrieval.compile", "retrieval"):
            compiled = rt.compile_query_batch([("q", query)], idx)
        with tr.span("retrieval.topk", "retrieval"):
            key = rt.compiled_bm25_scores(idx, compiled, queries=queries)
            vec = rt.compiled_vector_scores(idx, compiled, queries=queries)
            scored = {
                "keyword": key,
                "vector": vec,
                "hybrid": rt.hybrid_scores(queries, idx, keyword=key, vector=vec, minmax_via="window"),
            }[strategy]
            tops = rt.stable_topk(scored, K)
            top_rows = sorted(tops.collect(), key=lambda r: r.rank)
        with tr.span("answer.generate", "answer"):
            ans = generate_answers(tops, docs, queries).collect()[0]
        with tr.span("telemetry.log_run", "sources"):
            store.log_run(
                query=query,
                strategy=strategy,
                score=0.0,
                meta={"k": K, "top_doc_ids": list(ans.top_doc_ids)},
            )
    return {
        "qi": qi,
        "strategy": strategy,
        "top": [(r.doc_id, float(r.score)) for r in top_rows],
        "answer": ans.answer,
        "top_doc_ids": list(ans.top_doc_ids),
        "ms": sp.dur * 1000.0,
    }


def timed(ctx) -> None:
    from beyond_vector_search_spark.operators.corpus_index import CorpusIndex
    from beyond_vector_search_spark.operators.evaluate import evaluate_all
    from beyond_vector_search_spark.operators.router import RouterState
    from beyond_vector_search_spark.operators.serving import ServingArms
    from beyond_vector_search_spark.sources.telemetry import TelemetryStore

    spark, tr, out = ctx.spark, ctx.tracer, ctx.out
    out["index_load_s"] = []
    for i in range(N_LOADS):
        if i:
            _unpersist(idx, docs)
        with tr.span("index_load", "corpus_index") as sp:
            with tr.span("corpus_index.load", "corpus_index"):
                idx = CorpusIndex.load(spark, ctx.path("snapshot")).cache()
            with tr.span("corpus_index.materialize", "corpus_index"):
                idx.materialize()
            with tr.span("corpus_index.warm_idf", "corpus_index"):
                idx.warm_idf()
            with tr.span("documents.cache", "sources"):
                docs = spark.read.parquet(ctx.path("corpus")).cache()
                docs.count()
        out["index_load_s"].append(sp.dur)

    labels = spark.read.parquet(ctx.path("labels"))
    with tr.span("serving.batch", "serving") as sp:
        arms = ServingArms(idx, labels.select("query_id", "query"))
        tops = {}
        for arm in ("keyword", "vector", "hybrid"):
            with tr.span(f"serving.arm_fill.{arm}", "serving"):
                tops[arm] = arms.topk(arm, K).cache()
                ctx.results.setdefault("batch", {})[arm] = tops[arm].collect()
    out["batch_s"] = sp.dur

    with tr.span("evaluate.evaluate_all", "evaluate") as sp:
        report, _state, _runs = evaluate_all(labels, docs, idx, k=K, tops=tops, fold="driver")
    out["eval_loop_s"] = sp.dur
    ctx.results["eval"] = report
    if ctx.traced:
        # score rows per returned row, from the cached arms (untimed)
        scored = sum(arms.arm(a).count() for a in ("keyword", "vector"))
        returned = sum(len(ctx.results["batch"][a]) for a in ("keyword", "vector"))
        out["rows_scored_per_result"] = scored / max(1, returned)
    for df in tops.values():
        df.unpersist()
    arms.release()

    store = TelemetryStore(spark, ctx.path("telemetry"))
    state = RouterState()
    results = [_request(ctx, idx, docs, store, state, qi) for qi in range(N_REQUESTS)]
    ctx.results["requests"] = results
    ctx.results["store"] = store
    out["query_ms"] = [r["ms"] for r in results]


def check(ctx) -> tuple[int, list[str]]:
    """Every timed output is checked; a seeded sample of requests and
    batch queries is re-derived by DuckDB.  Returns (attempted, failures)."""
    import checks

    docs = ctx.inputs["docs"]
    by_id = {d: (t, x) for d, t, x in zip(docs["doc_id"], docs["title"], docs["text"])}
    req = ctx.inputs["requests"]
    bad: list[str] = []
    results = ctx.results["requests"]
    attempted = len(results) + 3 + 1  # requests, three batch arms, the eval
    # one telemetry row per request
    logged = ctx.results["store"].runs().count()
    if logged != len(results):
        bad.append(f"telemetry: {logged} runs logged for {len(results)} requests")
    # every request: answer text and citations follow from its own top-k
    for r in results:
        q = req["query"][r["qi"]]
        if len(r["top"]) != K or r["top_doc_ids"] != [d for d, _ in r["top"]]:
            bad.append(f"request {r['qi']}: answer cites {r['top_doc_ids']}, top-k {r['top']}")
            continue
        title, text = by_id[r["top"][0][0]]
        if r["answer"] != gen.expected_answer(title, text, q):
            bad.append(f"request {r['qi']}: answer text differs from its top-1 document")
    rng = random.Random(ctx.seed)
    sample = rng.sample(results, min(N_CHECKED, len(results)))
    batch = ctx.inputs["batch"]
    bsample = rng.sample(range(N_BATCH), N_CHECKED)
    queries = [(f"r{r['qi']}", req["query"][r["qi"]]) for r in sample]
    queries += [(batch["query_id"][i], batch["query"][i]) for i in bsample]
    want = checks.oracle_topk(ctx.path("corpus/*.parquet"), queries)
    for r in sample:
        msg = checks.compare_topk(r["top"], want[(r["strategy"], f"r{r['qi']}")])
        if msg:
            bad.append(f"request {r['qi']} ({r['strategy']}): {msg}")
    arms = ("keyword", "vector", "hybrid")
    per_arm: dict = {}  # arm -> query_id -> [(doc_id, score)] in rank order
    for arm in arms:
        per_q = per_arm[arm] = {}
        for row in sorted(ctx.results["batch"][arm], key=lambda r: (r.query_id, r.rank)):
            per_q.setdefault(row.query_id, []).append((row.doc_id, float(row.score)))
        if len(per_q) != N_BATCH or any(len(v) != K for v in per_q.values()):
            bad.append(f"batch {arm}: {len(per_q)} queries answered, expected {N_BATCH} x {K}")
            continue
        for i in bsample:
            qid = batch["query_id"][i]
            msg = checks.compare_topk(per_q[qid], want[(arm, qid)])
            if msg:
                bad.append(f"batch {arm} {qid}: {msg}")
    report = ctx.results["eval"]
    per = report.per_query
    if report.n != N_BATCH or not (0.0 < report.mean_score <= 1.0):
        bad.append(f"evaluate_all: n={report.n}, mean_score={report.mean_score}")
    elif abs(sum(p["chosen_score"] for p in per) / len(per) - report.mean_score) > 1e-9:
        bad.append("evaluate_all: mean_score is not the mean of its per-query scores")
    # every arm's score of every query, recomputed from the batch's own
    # top-k and the labels
    expected = dict(zip(batch["query_id"], batch["expected_doc_id"]))
    for p in per:
        qid = p["query_id"]
        for arm in arms:
            want_score = checks.eval_score([d for d, _ in per_arm[arm].get(qid, [])], expected[qid])
            if abs(p[f"{arm}_score"] - want_score) > 1e-9:
                bad.append(f"evaluate_all {qid}: {arm} score {p[f'{arm}_score']}, expected {want_score}")
        if p["chosen"] not in arms or p["chosen_score"] != p[f"{p['chosen']}_score"]:
            bad.append(f"evaluate_all {qid}: chose {p['chosen']} with score {p['chosen_score']}")
    return attempted, bad


def end_to_end(ctx) -> dict:
    import statistics

    out = ctx.out
    return {
        "ready_s": statistics.median(out["index_load_s"]),
        "op_p50_ms": statistics.median(out["query_ms"]),
        "batch_per_s": N_BATCH / (out["batch_s"] + out["eval_loop_s"]),
        "quality": ctx.results["eval"].mean_score,
    }


def properties(ctx) -> dict:
    """Measured input properties of this run."""
    docs, batch = ctx.inputs["docs"], ctx.inputs["batch"]
    kinds = batch["kind"]
    strat = [r["strategy"] for r in ctx.results.get("requests", [])]
    chosen = [p["chosen"] for p in ctx.results["eval"].per_query] if "eval" in ctx.results else []
    arms = ("keyword", "vector", "hybrid")
    return {
        "docs": len(docs["doc_id"]),
        "text_bytes": ctx.text_bytes,
        "batch_queries": N_BATCH,
        "batch_kind_share": {k: kinds.count(k) / len(kinds) for k, _ in gen.QUERY_MIX},
        "id_query_share": kinds.count("id") / len(kinds),
        "batch_routed_share": {s: chosen.count(s) / max(1, len(chosen)) for s in arms},
        "requests": len(strat),
        "request_kind": REQUEST_KIND,
        "request_routed_share": {s: strat.count(s) / max(1, len(strat)) for s in arms},
        "mean_matched_docs_per_query": _mean_matched(docs, batch["query"]),
    }


def _mean_matched(docs, queries) -> float:
    """Mean number of docs sharing at least one token with a query."""
    import re

    tok = re.compile(r"[A-Za-z0-9]+(?:[-_][A-Za-z0-9]+)*")
    doc_toks = [set(t.lower() for t in tok.findall(f"{a} {b}")) for a, b in zip(docs["title"], docs["text"])]
    if not queries:
        return 0.0
    tot = 0
    for q in queries:
        qt = set(t.lower() for t in tok.findall(q))
        tot += sum(1 for d in doc_toks if d & qt)
    return tot / len(queries)



def distributions(ctx) -> dict:
    """The serve metrics by their per-workload names, with n and p90
    where at least ten samples lie beyond it."""
    from common import summary

    out = ctx.out
    return {
        "build_s": summary([out["build_s"]], "s"),
        "index_load_s": summary(out["index_load_s"], "s"),
        "query_ms": summary(out["query_ms"], "ms"),
        "batch_qps": summary([N_BATCH / out["batch_s"]], "1/s"),
        "eval_loop_s": summary([out["eval_loop_s"]], "s"),
        "eval_score": summary([ctx.results["eval"].mean_score], "ratio"),
    }
