"""Output checks, run after the timed window.

Each oracle is independent of the Spark plan it checks: DuckDB over the
same parquet (reusing the registry's oracle SQL fragments), numpy
brute force, or plain Python union-find.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pyarrow.parquet as pq


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=0, abs_tol=2e-6)


class SearchOracle:
    """Expected answers for the search workload's requests over one
    generated corpus directory."""

    def __init__(self, corpus_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in ("documents", "embeddings", "events"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
        emb = pq.read_table(f"{corpus_dir}/embeddings.parquet")
        self.vec_ids = emb.column("vec_id").to_numpy()
        x = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        nrm = np.linalg.norm(x, axis=1, keepdims=True)
        self.unit = np.where(nrm > 0, x / np.where(nrm > 0, nrm, 1), x)
        self._dashboard = None

    def close(self) -> None:
        self.con.close()

    @staticmethod
    def _fts_sql(term: str) -> str:
        # the registry's P4 full-text oracle fragment (web_pages_listing)
        return ("list_has_all(list_filter(string_split_regex(lower(text), '\\W+'), "
                f"t -> t <> ''), ['{term}'])")

    def web_pages(self, req: dict, rows: list) -> bool:
        terms = req["query"].lower().split()
        where = " AND ".join(self._fts_sql(t) for t in terms) or "TRUE"
        sql = (f"SELECT doc_id, source, lang, n_chars FROM documents WHERE {where} "
               f"ORDER BY {req['sort_by']} {req['sort_order']}, doc_id ASC "
               f"LIMIT 10 OFFSET {req['offset']}")
        want = [tuple(r) for r in self.con.execute(sql).fetchall()]
        got = [(r.doc_id, r.source, r.lang, r.n_chars) for r in rows]
        return got == want

    def semantic(self, query: str, rows: list, k: int = 5) -> bool:
        from crawler_spark.functions.embedding import DEFAULT_DIMS, StubEmbedder, normalize_pad
        from crawler_spark.plans.queries_search import _snippet_sql
        from crawler_spark.plans.queries_vector import _NORM_V_SQL

        qv = normalize_pad(StubEmbedder(DEFAULT_DIMS).embed_text(query), DEFAULT_DIMS)
        qv_sql = "[" + ", ".join(repr(float(x)) for x in qv) + "]::DOUBLE[]"
        sql = f"""
            WITH knn AS (
                SELECT vec_id, distance FROM (
                    SELECT vec_id, -list_dot_product({_NORM_V_SQL}, {qv_sql}) AS distance
                    FROM embeddings
                ) WHERE distance <= 1.0
                ORDER BY distance, vec_id LIMIT {k}
            )
            SELECT d.doc_id, k.distance, d.source AS url,
                   {_snippet_sql('d.text', query)} AS snippet
            FROM documents d JOIN knn k ON d.doc_id = k.vec_id
            ORDER BY k.distance, d.doc_id
        """
        want = self.con.execute(sql).fetchall()
        if len(want) != len(rows):
            return False
        return all(
            g.doc_id == w[0] and _close(g.distance, w[1]) and g.url == w[2]
            and g.snippet == w[3]
            for g, w in zip(rows, want))

    def rag(self, question: str, rows: list, k: int = 5) -> bool:
        """One row whose answer is the stub digest of its own prompt,
        and whose context holds one block per retrieved hit."""
        if len(rows) != 1:
            return False
        r = rows[0]
        n_hits = self.con.execute(
            f"SELECT least(count(*), {k}) FROM embeddings").fetchone()[0]
        digest = hashlib.md5(r.prompt.encode()).hexdigest()[:12]
        return (r.question == question and r.answer == f"stub-answer-{digest}"
                and r.context.count("URL: ") == n_hits)

    def dashboard(self, rows: list) -> bool:
        if self._dashboard is None:
            self._dashboard = self.con.execute("""
                SELECT (SELECT count(*) FROM documents),
                       (SELECT count(DISTINCT source) FROM documents),
                       (SELECT count(*) FROM events WHERE event_type = 'view'),
                       (SELECT count(*) FROM events WHERE event_type = 'purchase')
            """).fetchone()
        return len(rows) == 1 and tuple(rows[0]) == tuple(self._dashboard)

    def ann(self, centroids, qvec, nprobe: int, rows: list, k: int) -> bool:
        """Exact top-k among the vectors of the ``nprobe`` lists nearest
        the query — what an IVF probe must return."""
        c = np.asarray(centroids, dtype=np.float64)
        q = np.asarray(qvec, dtype=np.float64)
        qn = q / np.linalg.norm(q)
        probe = set(np.argsort(-(c @ qn))[:nprobe].tolist())
        lists = np.argmax(self.unit @ c.T, axis=1)
        mask = np.isin(lists, list(probe))
        dist = -(self.unit[mask] @ q)
        ids = self.vec_ids[mask]
        order = np.lexsort((ids, dist))[:k]
        want = [(int(ids[i]), float(dist[i])) for i in order]
        got = [(r.vec_id, r.distance) for r in rows]
        return len(got) == len(want) and all(
            g[0] == w[0] and _close(g[1], w[1]) for g, w in zip(got, want))


def union_find_labels(ids, pairs) -> dict[int, int]:
    """Minimum id of each connected component."""
    parent = {int(i): int(i) for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {i: find(i) for i in parent}
