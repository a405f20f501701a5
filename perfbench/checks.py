"""Output checks against DuckDB over the generated parquet files.

The SQL reuses the catalog's oracle shapes (plans/entry_queries.py and
plans/pretrain_queries.py), so the benchmark checks the same semantics
the catalog's oracle gate does.  The ``oracle_*`` functions return what
the engine should have produced; the ``compare_*`` functions return
mismatch descriptions, empty when the output is correct.
"""

from __future__ import annotations

import duckdb

from beyond_vector_search_spark.plans import entry_queries as eq
from beyond_vector_search_spark.plans.pretrain_queries import _sh8

TOL = 1e-6


def _con(corpus_glob: str, *, with_title: bool = True) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    text = "concat_ws(' ', title, text)" if with_title else "text"
    con.execute(
        f"CREATE VIEW documents AS SELECT doc_id, {text} AS text "
        f"FROM read_parquet('{corpus_glob}')"
    )
    return con


def _values(rows: list[tuple[str, str]]) -> str:
    return ", ".join(
        "('{}', '{}')".format(a.replace("'", "''"), b.replace("'", "''")) for a, b in rows
    )


def oracle_topk(corpus_glob: str, queries: list[tuple[str, str]]) -> dict:
    """(strategy, query_id) -> [(doc_id, score)] in rank order: the
    reference-semantics (every doc scored) top-5 of all three arms."""
    sql = (
        f"WITH queries(query_id, query) AS (VALUES {_values(queries)}), "
        f"{eq._TOKS_CTE}, {eq._SCALARS_CTE}, {eq._EXPLODED_CTE}, "
        f"{eq._TERM_STATS_CTE}, {eq._POSTINGS_CTE}, {eq._BM25_SCORED_CTE}, "
        f"{eq._GRAMS_CTE}, {eq._GRAM_STATS_CTE}, {eq._DOC_VEC_CTE}, {eq._VEC_QUERY_CTE}, "
        f"{eq._VEC_SCORED_CTE}, {eq._KALL_CTE}, {eq._HALL_CTE}, {eq._ALLDOCS_RANK_SQL} "
        "ORDER BY strategy, query_id, rank"
    )
    out: dict = {}
    with _con(corpus_glob) as con:
        for strategy, qid, doc, score, _rank in con.execute(sql).fetchall():
            out.setdefault((strategy, qid), []).append((doc, float(score)))
    return out


def compare_topk(got: list[tuple[str, float]], want: list[tuple[str, float]]) -> str | None:
    """Scores must agree rank by rank; doc ids must agree except among
    docs tied (within tolerance) with the last returned score."""
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    for (gd, gs), (wd, ws) in zip(got, want):
        if abs(gs - ws) > TOL * max(1.0, abs(ws)):
            return f"score {gd}={gs:.6f}, oracle {wd}={ws:.6f}"
    edge = want[-1][1]
    strict = lambda rows: {d for d, s in rows if s > edge + TOL}  # noqa: E731
    if strict(got) != strict(want):
        return f"docs {[d for d, _ in got]}, oracle {[d for d, _ in want]}"
    return None


def eval_score(ranked_ids: list[str], expected_doc_id: str) -> float:
    """One query's hit@k / exact-match score with the reference evaluator's
    weights: 0.7 when the expected doc is in the top-k, plus 0.3 when it is
    the top-1 (the answer is built from the top-1 doc, and the expected
    answer from the expected doc, so exact match is a top-1 check)."""
    hit = expected_doc_id in ranked_ids
    em = bool(ranked_ids) and ranked_ids[0] == expected_doc_id
    return 0.7 * hit + 0.3 * em


def oracle_index_stats(corpus_glob: str) -> tuple[dict, dict]:
    """From-scratch ({term: (df, idf)}, {doc_id: norm}) of a corpus."""
    sql_terms = (
        f"WITH {eq._TOKS_CTE}, {eq._SCALARS_CTE}, {eq._EXPLODED_CTE}, {eq._TERM_STATS_CTE} "
        "SELECT term, df, idf FROM term_idf"
    )
    sql_norms = (
        f"WITH {eq._GRAMS_CTE}, {eq._GRAM_STATS_CTE}, {eq._DOC_VEC_CTE} "
        "SELECT doc_id, norm FROM doc_norm"
    )
    with _con(corpus_glob) as con:
        terms = {t: (int(df), float(idf)) for t, df, idf in con.execute(sql_terms).fetchall()}
        norms = {d: float(n) for d, n in con.execute(sql_norms).fetchall()}
    return terms, norms


def compare_index_stats(got_terms: dict, got_norms: dict, want_terms: dict, want_norms: dict) -> list[str]:
    bad = []
    if set(got_terms) != set(want_terms):
        diff = sorted(set(got_terms) ^ set(want_terms))
        bad.append(f"term_stats vocabulary differs on {len(diff)} terms, e.g. {diff[:3]}")
    for t in set(got_terms) & set(want_terms):
        (gdf, gidf), (wdf, widf) = got_terms[t], want_terms[t]
        if gdf != wdf or abs(gidf - widf) > TOL:
            bad.append(f"term_stats[{t}] = ({gdf}, {gidf}), oracle ({wdf}, {widf})")
            break
    if set(got_norms) != set(want_norms):
        bad.append(f"doc_norm has {len(got_norms)} docs, oracle {len(want_norms)}")
    for d in set(got_norms) & set(want_norms):
        if abs(got_norms[d] - want_norms[d]) > TOL * max(1.0, want_norms[d]):
            bad.append(f"doc_norm[{d}] = {got_norms[d]}, oracle {want_norms[d]}")
            break
    return bad


def oracle_exact_dups(corpus_glob: str) -> set[tuple[str, str]]:
    """{(doc_id, keeper_id)} for every doc that is not its own keeper."""
    sql = (
        "WITH hashed AS (SELECT doc_id, md5(text) AS h FROM documents), "
        "k AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS keeper_id FROM hashed) "
        "SELECT doc_id, keeper_id FROM k WHERE doc_id <> keeper_id"
    )
    with _con(corpus_glob, with_title=False) as con:
        return {(a, b) for a, b in con.execute(sql).fetchall()}


def oracle_contamination(corpus_glob: str, bench_glob: str) -> dict[str, int]:
    """{doc_id: n_shared} — docs sharing a token 8-gram with the benchmark
    (the engine's default ``n``)."""
    tok = eq._SQL_TOKENIZE.format(col="text")
    sql = (
        f"WITH btoks AS (SELECT doc_id, {tok} AS tokens FROM read_parquet('{bench_glob}')), "
        f"ctoks AS (SELECT doc_id, {tok} AS tokens FROM documents), "
        f"bsh AS {_sh8('btoks')}, csh AS {_sh8('ctoks')}, "
        "bex AS (SELECT DISTINCT unnest(shingles) AS sh FROM bsh), "
        "cex AS (SELECT doc_id, unnest(shingles) AS sh FROM csh) "
        "SELECT c.doc_id, CAST(count(*) AS BIGINT) FROM cex c JOIN bex USING (sh) GROUP BY c.doc_id"
    )
    with _con(corpus_glob, with_title=False) as con:
        return {d: int(k) for d, k in con.execute(sql).fetchall()}


def components(ids: list[str], pairs) -> dict[str, str]:
    """doc id -> a representative of its connected component."""
    parent = {d: d for d in ids}

    def find(d: str) -> str:
        while parent[d] != d:
            parent[d] = parent[parent[d]]
            d = parent[d]
        return d

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in ids}


def pair_recall(found: set[tuple[str, str]], planted: list[tuple[str, str]]) -> float:
    """Share of planted pairs present in ``found`` in either orientation."""
    if not planted:
        return 1.0
    hit = sum(1 for a, b in planted if (a, b) in found or (b, a) in found)
    return hit / len(planted)
