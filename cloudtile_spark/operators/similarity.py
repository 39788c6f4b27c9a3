"""Embedding similarity search: brute-force cosine top-k baseline and a
random-hyperplane LSH bucketed variant (the scale path).

Both are pure SQL array-lambda pipelines (fold-based dot products via
zip_with/aggregate -> codegen'd in Spark, list_transform/list_reduce in the
DuckDB oracle — bit-identical doubles because the fold order is identical).

Scale design: brute force is O(Q x N) — fine when the query side broadcasts
(Q small), hopeless for all-pairs. LSH buckets cut candidates to same-bucket
collisions; multiple hash TABLES (signature rotations) trade compute for
recall. Recall is measured against the brute-force oracle in tests.
"""

from __future__ import annotations

from ..sources.pages import _MULTS, _M

N_PLANES = 8
DIM = 64


def _w(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane weight in [-0.5, 0.5)."""
    i = plane * DIM + dim
    mult = _MULTS[(plane + 1) % len(_MULTS)]
    return ((i * mult + 12345) % _M) / float(_M) - 0.5


def dot_weights_spark(col: str, plane: int) -> str:
    ws = ", ".join(repr(_w(plane, d)) for d in range(DIM))
    return (
        f"aggregate(zip_with({col}, array({ws}), "
        f"(x, w) -> cast(x as double) * w), cast(0.0 as double), "
        f"(acc, v) -> acc + v)"
    )


def dot_weights_duck(col: str, plane: int) -> str:
    ws = ", ".join(repr(_w(plane, d)) for d in range(DIM))
    return (
        f"list_reduce(list_transform({col}, (x, i) -> "
        f"cast(x as double) * ([{ws}])[i]), (a, b) -> a + b)"
    )


def bucket_sql(col: str, dialect: str, planes: list[int] | None = None) -> str:
    dot = dot_weights_spark if dialect == "spark" else dot_weights_duck
    planes = planes if planes is not None else list(range(N_PLANES))
    bits = [
        f"(case when {dot(col, p)} > 0.0 then {1 << i} else 0 end)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(bits) + ")"


def dot_pair(a: str, b: str, dialect: str) -> str:
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> "
            f"cast(x as double) * cast(y as double)), cast(0.0 as double), "
            f"(acc, v) -> acc + v)"
        )
    return (
        f"list_reduce(list_transform({a}, (x, i) -> "
        f"cast(x as double) * cast(({b})[i] as double)), (p, q) -> p + q)"
    )


def norm(col: str, dialect: str) -> str:
    return f"sqrt({dot_pair(col, col, dialect)})"


N_TABLES = 4
PLANES_PER_TABLE = 4


def ann_ivf_topk_sql(
    dialect: str,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    query_mod: int = 101,
) -> str:
    """IVF (inverted-file) ANN cosine top-k — the second scale path next to
    LSH: a small deterministic coarse quantizer (the first ``n_centroids``
    corpus vectors; no iterative training, so the oracle replays it
    exactly), every vector assigned to its nearest centroid's inverted
    list, queries probe the ``nprobe`` nearest lists and exact-rerank only
    those candidates — candidate work drops to ~nprobe/n_centroids of the
    corpus per query.

    Scale shape: the centroid table is tiny (broadcast); assignment is a
    per-vector argmax over ``n_centroids`` similarities (a 16-row window
    per vector here for cross-engine determinism; at cluster scale the
    same argmax is expressible as a map-side max_by with zero extra
    shuffle); probing joins the (query x nprobe) table against the lists
    on centroid id — an equi-join, never all-pairs. Approximate by
    construction; recall vs brute force is measured in tests, and the
    oracle runs the identical algorithm so the implementation is exactly
    checked.
    """
    sim_vc = (
        f"{dot_pair('v.embedding', 'c.cvec', dialect)} / "
        f"({norm('v.embedding', dialect)} * {norm('c.cvec', dialect)})"
    )
    sim_qc = (
        f"{dot_pair('q.qvec', 'c.cvec', dialect)} / "
        f"({norm('q.qvec', dialect)} * {norm('c.cvec', dialect)})"
    )
    sim_pair = (
        f"{dot_pair('qvec', 'nvec', dialect)} / "
        f"({norm('qvec', dialect)} * {norm('nvec', dialect)})"
    )
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < {n_centroids}),
    va AS (
      SELECT vec_id, embedding, cid,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, cid) AS rn
      FROM (SELECT v.vec_id, v.embedding, c.cid, {sim_vc} AS sim
            FROM embeddings v CROSS JOIN cent c) s),
    lists AS (SELECT vec_id, embedding, cid FROM va WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
          WHERE vec_id % {query_mod} = 0),
    qp AS (
      SELECT query_id, qvec, cid,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, cid) AS pr
      FROM (SELECT q.query_id, q.qvec, c.cid, {sim_qc} AS sim
            FROM q CROSS JOIN cent c) s),
    probe AS (SELECT query_id, qvec, cid FROM qp WHERE pr <= {nprobe}),
    cand AS (
      SELECT p.query_id, p.qvec, l.vec_id AS neighbor_id,
             l.embedding AS nvec
      FROM probe p JOIN lists l ON l.cid = p.cid
      WHERE l.vec_id <> p.query_id),
    d AS (SELECT query_id, neighbor_id, {sim_pair} AS sim FROM cand),
    r AS (SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id) AS rank
          FROM d)
    SELECT query_id, neighbor_id, rank FROM r WHERE rank <= {k}
    """


def ann_lsh_topk_sql(dialect: str, k: int = 10, query_mod: int = 101) -> str:
    """Multi-table LSH cosine top-k: ``N_TABLES`` independent hash tables of
    ``PLANES_PER_TABLE`` hyperplane-sign bits each; a candidate matches if it
    shares a bucket in ANY table (the standard recall amplifier:
    P[candidate] = 1 - (1 - s^p)^T); exact cosine rerank over the union.

    Approximate by construction (recall measured vs brute force in tests);
    the oracle runs the identical algorithm so the IMPLEMENTATION is still
    exactly checked.
    """
    return (
        f"WITH t AS ({ann_lsh_bucket_table_sql(dialect)}),\n"
        + ann_lsh_rerank_body_sql(dialect, "t", k=k, query_mod=query_mod)
    )


def _emb_rel(dialect: str, par: int | None) -> str:
    """The embeddings relation, optionally hash-repartitioned to ``par``
    partitions (Spark only). The driver's embeddings file is one parquet
    row group, so without this every expensive per-vector projection
    (hyperplane dots, PQ encode) runs in a single scan task — guide §2.5
    input skew. A /*+ */ hint changes no results; the oracle dialect
    never sets ``par``."""
    if par and dialect == "spark":
        return (f"(SELECT /*+ REPARTITION({par}, vec_id) */ * "
                f"FROM embeddings) _emb")
    # IMPORTANT: bare name, no alias — the oracle statements embed this
    # text and their round-start fingerprints must stay byte-identical
    return "embeddings"


def ann_lsh_bucket_table_sql(dialect: str, par: int | None = None) -> str:
    """Stage 1: (vec_id, embedding, b0..b3) — 16 hyperplane dot products
    per vector, the expensive stage. Materialize/persist once on the Spark
    side: the statement references it 10 times (4 match branches x 2 sides
    + 2 rerank joins), and CTE inlining recomputes it per reference."""
    buckets = [
        bucket_sql(
            "embedding", dialect,
            planes=list(range(t * PLANES_PER_TABLE,
                              (t + 1) * PLANES_PER_TABLE)),
        )
        for t in range(N_TABLES)
    ]
    bucket_cols = ", ".join(f"{b} AS b{t}" for t, b in enumerate(buckets))
    return (f"SELECT vec_id, embedding, {bucket_cols} "
            f"FROM {_emb_rel(dialect, par)}")


def ann_lsh_rerank_body_sql(dialect: str, t_tbl: str,
                            k: int = 10, query_mod: int = 101) -> str:
    """Stages 2-3: bucket match union + exact cosine rerank, written
    against a named bucket table (CTE or persisted view)."""
    matches = " UNION ALL ".join(
        f"SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id "
        f"FROM q JOIN {t_tbl} e ON q.b{t} = e.b{t} "
        f"WHERE e.vec_id <> q.vec_id"
        for t in range(N_TABLES)
    )
    sim = (
        f"{dot_pair('qe.embedding', 'ee.embedding', dialect)} / "
        f"({norm('qe.embedding', dialect)} * {norm('ee.embedding', dialect)})"
    )
    return f"""
    q AS (SELECT * FROM {t_tbl} WHERE vec_id % {query_mod} = 0),
    m AS ({matches}),
    cand AS (SELECT query_id, neighbor_id FROM m GROUP BY query_id, neighbor_id),
    d AS (SELECT c.query_id, c.neighbor_id, {sim} AS sim
          FROM cand c
          JOIN {t_tbl} qe ON qe.vec_id = c.query_id
          JOIN {t_tbl} ee ON ee.vec_id = c.neighbor_id),
    r AS (SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id) AS rank
          FROM d)
    SELECT query_id, neighbor_id, rank FROM r WHERE rank <= {k}
    """


def _nearest(pdf, cents, quant: int):
    """Floor one batch's vectors to ``quant`` fixed point (the scale the
    centroids were built at) and assign each to its nearest centroid;
    the lowest cid wins ties (np.argmin is first-occurrence). Returns
    (quantized vectors, cid, squared distance)."""
    import numpy as np

    m = np.floor(np.stack(pdf.embedding.to_numpy()).astype(np.float64)
                 * float(quant)).astype(np.int64)
    d2 = ((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    cid = d2.argmin(axis=1)
    return m, cid, d2[np.arange(len(cid)), cid]


def _assign_factory(cents, quant: int):
    import numpy as np
    import pandas as pd

    def assign(batches):
        for pdf in batches:
            _, cid, best = _nearest(pdf, cents, quant)
            yield pd.DataFrame({
                "vec_id": pdf.vec_id.to_numpy(),
                "cid": cid.astype(np.int32),
                "dist2": best,
            })
    return assign


_PARTIALS_SCHEMA = "cid int, n long, sse double, sums array<double>"


def _partials_factory(cents, quant: int):
    """Per-batch partial aggregation: assign, then emit one row per
    non-empty cid with (count, sse, per-dimension sums). The executor-side
    reduction is what removes the per-iteration shuffle."""
    import numpy as np
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            m, cid, best = _nearest(pdf, cents, quant)
            rows = []
            for c in np.unique(cid):
                sel = cid == c
                rows.append((
                    int(c), int(sel.sum()), float(best[sel].sum()),
                    m[sel].sum(axis=0).astype(np.float64).tolist(),
                ))
            yield pd.DataFrame(rows, columns=["cid", "n", "sse", "sums"])
    return partials


def _reduce_partials(partials, k: int, dim: int):
    import numpy as np

    n = np.zeros(k, dtype=np.int64)
    sse = np.zeros(k, dtype=np.float64)
    sums = np.zeros((k, dim), dtype=np.int64)
    for r in partials:
        n[r.cid] += r.n
        sse[r.cid] += r.sse
        sums[r.cid] += np.asarray(r.sums, dtype=np.int64)
    return n, sse, sums


def kmeans_embeddings_exact(embeddings, k: int = 8, iters: int = 4,
                            quant: int = 1000):
    """Bit-exact Lloyd's k-means in QUANTIZED INTEGER space — the
    `emb_assign_centroids` trick applied to the whole loop (r3 verdict
    #5): components quantize once to milli-unit int64, distances and
    per-cluster sums are integers (order-free across partitionings), and
    the centroid update is floor(sum / n) — so every iteration, and hence
    the final assignment, is identical for ANY partitioning and exactly
    replayable by a straight-line SQL unrolling of the loop (the DuckDB
    oracle of `kmeans_clusters`).

    The k x dim centroids stay on the driver and ship to executors in the
    assignment UDF's closure. Each iteration is one shuffle-free job: the
    UDF emits per-batch partial sums (k rows at most) and the driver
    reduces them. Init = the k lowest vec_ids' vectors; empty clusters
    keep their previous centroid. Returns (assignments
    DataFrame(vec_id, cid, dist2), centroids int64 ndarray, inertia
    history list of ints).
    """
    import numpy as np

    if quant <= 0:
        raise ValueError(f"quant must be a positive integer, got {quant}")
    dim = len(embeddings.select("embedding").first()[0])
    init = (embeddings.orderBy("vec_id").limit(k)
            .select("embedding").collect())
    centroids = np.floor(
        np.array([r.embedding for r in init], dtype=np.float64) * quant
    ).astype(np.int64)
    src = embeddings.select("vec_id", "embedding")

    history = []
    for _ in range(iters):
        partials = src.mapInPandas(
            _partials_factory(centroids.copy(), quant),
            schema=_PARTIALS_SCHEMA,
        ).collect()
        n, sse, sums = _reduce_partials(partials, k, dim)
        history.append(int(sse.sum()))
        new_c = centroids.copy()
        nz = n > 0
        # floor(integer sum / n) via exact double division (|sum| << 2^53)
        new_c[nz] = np.floor(
            sums[nz].astype(np.float64) / n[nz, None]).astype(np.int64)
        centroids = new_c
    final = src.mapInPandas(
        _assign_factory(centroids.copy(), quant),
        schema="vec_id long, cid int, dist2 long")
    return final, centroids, history


# ---------------------------------------------------------------------------
# Product Quantization (PQ) ANN — the memory-compression scale path
# (Jegou/Douze/Schmid, "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011). 64-dim float vectors compress to PQ_M=8 codes of
# PQ_K=16 centroids each (4 bits -> 8 small ints ~ 8 bytes vs 256 raw):
# at 100 TB the CODES table is what fits in memory/SSD, the raw vectors
# stay cold. Search = asymmetric distance (ADC): per query, per-subspace
# lookup tables against the codebook; the distance join is an equi-join
# on (subspace, code) + hash aggregate — no vector math in the join.
#
# Everything below is quantized-integer (the emb_assign_centroids trick),
# so Spark and the DuckDB oracle replay the identical pipeline bit-exactly.
# The oracled query uses DATA-INDEPENDENT codebooks (subvectors of the
# PQ_K lowest vec_ids) — zero training, fully SQL-expressible; the
# production path trains per-subspace codebooks with
# kmeans_embeddings_exact (also bit-exact) via pq_train_codebooks, whose
# recall improvement over the untrained codebooks is pytest-measured.
# ---------------------------------------------------------------------------

PQ_M = 8        # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_K = 16       # codes per subspace


def _pq_quant(col: str, dialect: str) -> str:
    fn = "transform" if dialect == "spark" else "list_transform"
    return (f"{fn}({col}, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) "
            f"AS BIGINT))")


def _pq_sub(col: str, m_expr: str, dialect: str) -> str:
    """1-based slice of subspace ``m_expr`` (0-based SQL expression)."""
    if dialect == "spark":
        return f"slice({col}, ({m_expr}) * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"
    return (f"({col})[(({m_expr}) * {PQ_SUBDIM} + 1):"
            f"((({m_expr}) + 1) * {PQ_SUBDIM})]")


def _pq_id2(a: str, b: str, dialect: str) -> str:
    """Integer squared L2 between two bigint lists."""
    if dialect == "spark":
        return (f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
                f" cast(0 as bigint), (acc, v) -> acc + v)")
    return (f"cast(list_sum(list_transform(list_zip({a}, {b}), "
            f"p -> (p[1] - p[2]) * (p[1] - p[2]))) as bigint)")


def _pq_m_values() -> str:
    return ", ".join(f"({m})" for m in range(PQ_M))


def _pq_qv(d: str, par: int | None = None) -> str:
    """Derived table: quantized integer vectors (see _emb_rel for par)."""
    return (f"(SELECT vec_id, {_pq_quant('embedding', d)} AS e "
            f"FROM {_emb_rel(d, par)})")


def _pq_cb(d: str) -> str:
    """Derived table: the data-independent codebook (subvectors of the
    PQ_K lowest vec_ids) exploded per subspace — (m, code, c)."""
    return (f"(SELECT v.m, cb0.code, {_pq_sub('cb0.ce', 'v.m', d)} AS c "
            f"FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS "
            f"code, e AS ce FROM {_pq_qv(d)} q0 "
            f"ORDER BY vec_id LIMIT {PQ_K}) cb0 "
            f"CROSS JOIN (VALUES {_pq_m_values()}) AS v(m))")


def _pq_prefix_ctes(d: str) -> str:
    """Shared CTE prefix for SINGLE-STATEMENT forms (the oracle)."""
    return f"""qv AS (SELECT vec_id, {_pq_quant('embedding', d)} AS e
                FROM embeddings),
    cb0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, e AS ce
            FROM qv ORDER BY vec_id LIMIT {PQ_K}),
    cb AS (SELECT v.m, cb0.code, {_pq_sub('cb0.ce', 'v.m', d)} AS c
           FROM cb0 CROSS JOIN (VALUES {_pq_m_values()}) AS v(m))"""


_PQ_CODES_BODY = """
    scored AS (
      SELECT q.vec_id, cb.m, cb.code,
             row_number() OVER (PARTITION BY q.vec_id, cb.m ORDER BY
               {dist}, cb.code) AS rn
      FROM qv q CROSS JOIN cb)
    SELECT vec_id, m, code FROM scored WHERE rn = 1"""


def pq_codes_sql(dialect: str, par: int | None = None) -> str:
    """Encode stage: (vec_id, m, code) — each vector's nearest codebook
    entry per subspace (integer L2, lowest-code tiebreak). This is the
    table a deployment PERSISTS (8 small ints ~ 8 bytes per vector vs 256
    raw — the compression that lets a 100 TB corpus's index stay hot).

    Deliberately CTE-FREE (nested derived tables only): a statement whose
    analyzed plan keeps a multi-referenced CTE (WithCTE node) defeats
    Spark's cache-plan canonicalization when the CONSUMER statement has
    its own WITH clause — the persisted stage would silently recompute
    instead of being read from cache (measured r4: 0 InMemoryRelation in
    the ADC plan with the CTE form, 1 with this form)."""
    d = dialect
    dist = _pq_id2(_pq_sub('q.e', 'cb.m', d), 'cb.c', d)
    return (f"SELECT vec_id, m, code FROM ("
            f"SELECT q.vec_id, cb.m, cb.code, "
            f"row_number() OVER (PARTITION BY q.vec_id, cb.m "
            f"ORDER BY {dist}, cb.code) AS rn "
            f"FROM {_pq_qv(d, par)} q CROSS JOIN {_pq_cb(d)} cb) s "
            f"WHERE rn = 1")


def _pq_adc_tail(d: str, codes_tbl: str, k: int, query_mod: int) -> str:
    return f"""
    qs AS (SELECT vec_id AS query_id, e AS qe FROM qv
           WHERE vec_id % {query_mod} = 0),
    adc AS (
      SELECT s.query_id, t.vec_id,
             cast(sum({_pq_id2(_pq_sub('s.qe', 't.m', d), 'cb.c', d)})
                  as bigint) AS d
      FROM {codes_tbl} t JOIN cb ON cb.m = t.m AND cb.code = t.code
      CROSS JOIN qs s
      WHERE t.vec_id <> s.query_id
      GROUP BY s.query_id, t.vec_id),
    r AS (SELECT query_id, vec_id, d,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY d, vec_id) AS rank
          FROM adc)
    SELECT query_id, vec_id AS neighbor_id, d AS dist_pq, rank
    FROM r WHERE rank <= {k}"""


def pq_adc_body_sql(dialect: str, codes_tbl: str, k: int = 5,
                    query_mod: int = 101) -> str:
    """ADC search over a MATERIALIZED codes table (persisted view on the
    Spark side): codes equi-joined to the codebook on (m, code), summed
    per (query, vec), window top-k. Codebook and query side are tiny
    (broadcast); the codes side is the 100 TB side."""
    d = dialect
    return (f"WITH {_pq_prefix_ctes(d)},"
            f"{_pq_adc_tail(d, codes_tbl, k, query_mod)}")


def pq_topk_sql(dialect: str, k: int = 5, query_mod: int = 101) -> str:
    """Single-statement PQ pipeline (encode + ADC) for the oracle."""
    d = dialect
    codes_body = _PQ_CODES_BODY.format(
        dist=_pq_id2(_pq_sub('q.e', 'cb.m', d), 'cb.c', d))
    # wrap the encode stage's tail as a named CTE
    scored_cte, select_tail = codes_body.rsplit("SELECT vec_id, m, code", 1)
    return (f"WITH {_pq_prefix_ctes(d)},{scored_cte.rstrip().rstrip(',')},\n"
            f"codes AS (SELECT vec_id, m, code{select_tail}),"
            f"{_pq_adc_tail(d, 'codes', k, query_mod)}")


def pq_train_codebooks(embeddings, m: int = PQ_M, k: int = PQ_K,
                       iters: int = 3):
    """Production codebooks: per-subspace exact quantized k-means
    (bit-reproducible across partitionings). Returns int64 ndarray of
    shape (m, k, subdim)."""
    import numpy as np
    from pyspark.sql import functions as F

    sub = DIM // m
    books = []
    for i in range(m):
        sdf = embeddings.select(
            "vec_id", F.slice("embedding", i * sub + 1, sub)
            .alias("embedding"))
        _, cents, _ = kmeans_embeddings_exact(sdf, k=k, iters=iters)
        books.append(cents)
    return np.stack(books)


def pq_encode_np(vectors, codebooks):
    """NumPy reference encoder (recall tests): vectors (n, DIM) int64."""
    import numpy as np

    m, k, sub = codebooks.shape
    codes = np.empty((len(vectors), m), dtype=np.int64)
    for i in range(m):
        s = vectors[:, i * sub:(i + 1) * sub]
        d2 = ((s[:, None, :] - codebooks[i][None, :, :]) ** 2).sum(axis=2)
        codes[:, i] = d2.argmin(axis=1)
    return codes


def pq_adc_np(query, codes, codebooks):
    """NumPy reference ADC: approximate distances of `query` (DIM,) to
    every encoded vector."""
    import numpy as np

    m, k, sub = codebooks.shape
    lut = np.empty((m, k), dtype=np.int64)
    for i in range(m):
        qs = query[i * sub:(i + 1) * sub]
        lut[i] = ((codebooks[i] - qs[None, :]) ** 2).sum(axis=1)
    return lut[np.arange(m)[None, :], codes].sum(axis=1)
