"""Deduplication operators over web-text: exact, MinHash+LSH, SimHash,
n-gram Jaccard.

These are the training-data-pipeline operators the engine adds beyond the
reference (which has file-level md5 identity only, reference
src/cloudtile/s3.py:211-227 — here the same idea at document granularity and
similarity level).

Everything is expressed as SQL array/lambda expressions that stay JVM-side
in Spark (higher-order functions compile into codegen'd expressions: no
Python in the hot path) and are generated for BOTH dialects (Spark SQL and
DuckDB) from the same builders, so the oracle runs the identical algorithm.

Scale notes:
- MinHash-LSH: the only shuffle is the band-bucket self-join
  (groupBy band key); signatures are fixed-width (H=16 ints per doc), so
  shuffle bytes are O(docs * bands), independent of document length.
- Candidate verification (exact Jaccard) touches only bucket-colliding
  pairs; hot buckets (boilerplate docs) can be salted or capped via
  maximum bucket size — capped here with a bucket-size guard.
"""

from __future__ import annotations

from dataclasses import dataclass

MERSENNE_P = 2_147_483_647  # 2^31 - 1
# fixed (a, b) permutation constants for minhash (deterministic, public
# random-looking odd constants derived from sqrt primes like pages._MULTS)
_PERMS = [
    (1779033703, 1013904242), (3144134277, 2773480762),
    (1013904242, 1359893119), (2773480762, 2600822924),
    (1359893119, 528734635), (2600822924, 1541459225),
    (528734635, 1779033703), (1541459225, 3144134277),
    (666307205, 1013904242), (773529912, 1294757372),
    (1294757372, 666307205), (1396182291, 773529912),
    (1695183700, 1396182291), (1986661051, 1695183700),
    (2177026350, 1986661051), (2456956037, 2177026350),
]
N_PERMS = len(_PERMS)
BANDS = 4
ROWS_PER_BAND = N_PERMS // BANDS


@dataclass(frozen=True)
class Dialect:
    name: str
    split: str          # split to tokens
    size: str           # list length
    transform: str
    array_min: str
    seq: str            # sequence(1, n) inclusive
    slice3: str         # 3-token slice joined by space
    hash60: str         # md5-based 60-bit int hash of a string
    intersect: str
    distinct: str
    xor: str

    def tokens(self, text: str) -> str:
        return self.split.format(text=text)

    def shingles(self, text: str, k: int = 3) -> str:
        toks = self.tokens(text)
        n = self.size.format(l=toks)
        idxs = self.seq.format(n=f"greatest({n} - {k - 1}, 1)")
        body = self.slice3.format(l=toks, k=k)
        return self.transform.format(l=idxs, var="i", body=body)

    def shingle_hashes(self, text: str, k: int = 3) -> str:
        return self.transform.format(
            l=self.shingles(text, k), var="s",
            body=self.hash60.format(s="s"),
        )

    def minhash_sig_cols(self, hashes: str) -> list[str]:
        cols = []
        for a, b in _PERMS:
            perm = f"(({a} * (h % {MERSENNE_P}) + {b}) % {MERSENNE_P})"
            cols.append(self.array_min.format(
                l=self.transform.format(l=hashes, var="h", body=perm)
            ))
        return cols

    def band_keys(self, sig_cols: list[str]) -> list[str]:
        keys = []
        for b in range(BANDS):
            chunk = sig_cols[b * ROWS_PER_BAND:(b + 1) * ROWS_PER_BAND]
            keys.append(
                "md5(concat_ws(','," +
                ",".join(f"cast({c} as string)" for c in chunk) + "))"
            )
        return keys


SPARK = Dialect(
    name="spark",
    split="split(lower({text}), ' ')",
    size="size({l})",
    transform="transform({l}, {var} -> {body})",
    array_min="array_min({l})",
    seq="sequence(1, {n})",
    slice3="concat_ws(' ', slice({l}, i, {k}))",
    hash60="cast(conv(substr(md5({s}), 1, 15), 16, 10) as bigint)",
    intersect="array_intersect({a}, {b})",
    distinct="array_distinct({l})",
    xor="({a} ^ {b})",
)
DUCK = Dialect(
    name="duck",
    split="string_split(lower({text}), ' ')",
    size="len({l})",
    transform="list_transform({l}, {var} -> {body})",
    array_min="list_min({l})",
    seq="range(1, {n} + 1)",
    slice3="array_to_string(({l})[i:i+{k}-1], ' ')",
    hash60="cast('0x' || substr(md5({s}), 1, 15) as bigint)",
    intersect="list_intersect({a}, {b})",
    distinct="list_distinct({l})",
    xor="xor({a}, {b})",
)


def winnow_fingerprints_sql(d: Dialect, k: int = 3, w: int = 4) -> str:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken '03, the
    MOSS algorithm — the rolling-hash fingerprinting a training pipeline
    uses for robust near-copy detection): hash every word ``k``-gram, slide
    a window of ``w`` consecutive hashes, keep each window's minimum, dedup.
    Guarantee: any shared run of >= w+k-1 tokens between two documents
    shares at least one fingerprint.

    Pure array/lambda SQL on both dialects (JVM codegen in Spark — no
    Python per row); output per doc is the fingerprint-set summary
    (count, min, max, order-canonical md5) so the whole set is
    value-checked without an explode.
    """
    hashes = d.shingle_hashes("text", k)
    if d.name == "spark":
        wins = (f"transform(sequence(1, greatest(size(hs) - {w - 1}, 1)), "
                f"j -> array_min(slice(hs, j, {w})))")
        fps = f"array_sort(array_distinct({wins}))"
        joined = "array_join(transform(fps, x -> cast(x as string)), ',')"
    else:
        wins = (f"list_transform(range(1, greatest(len(hs) - {w - 1}, 1)"
                f" + 1), j -> list_min(hs[j:j+{w - 1}]))")
        fps = f"list_sort(list_distinct({wins}))"
        joined = ("array_to_string(list_transform(fps, "
                  "x -> cast(x as varchar)), ',')")
    return f"""
    WITH h AS (SELECT doc_id, {hashes} AS hs FROM documents),
    f AS (SELECT doc_id, {fps} AS fps FROM h)
    SELECT doc_id,
           cast({d.size.format(l='fps')} as bigint) AS n_fp,
           {d.array_min.format(l='fps')} AS min_fp,
           md5({joined}) AS fp_md5
    FROM f
    """


def with_repartition_hint(corpus_cte: str, n: int,
                          key: str = "doc_id") -> str:
    """Spark-side-only wrapper: hash-repartition the corpus CTE body to
    ``n`` partitions on ``key`` BEFORE the expensive shingle/md5
    projection consumes it. The driver's documents table is one parquet
    row group (scans as a single task), so without this the whole
    interpreted-HOF text pass runs single-threaded — measured 1.9s of
    the 3.5s minhash leg (guide §2.5 input skew: repartition right after
    the read). Explicit count so AQE cannot coalesce the small shuffle
    back to one partition; hash on the id so no sort-before-repartition.
    The DuckDB oracle keeps the unhinted CTE — a /*+ */ hint changes no
    results, only the Spark physical plan."""
    name, _, body = corpus_cte.partition(" AS (")
    assert body.endswith(")"), corpus_cte
    return (f"{name} AS (SELECT /*+ REPARTITION({n}, {key}) */ * "
            f"FROM ({body[:-1]}) _c)")


def minhash_hashed_sql(d: Dialect, corpus_cte: str, k: int = 3) -> str:
    """Stage 0 of the staged LSH pipeline: (doc_id, hashes) — the shingle
    hash array per doc. This is the ONE expensive text pass (tokenize +
    k-gram slice + md5 per shingle); persist it and derive both the band
    rows and the verification shingle sets from it, so the text is
    shingled exactly once per pipeline run (round-3 bench finding: the
    band stage and the shingle-set stage each re-ran the pass)."""
    return (f"WITH {corpus_cte} SELECT doc_id, "
            f"{d.shingle_hashes('text', k)} AS hashes FROM corpus")


def _band_rows_body(d: Dialect, hashed_rel: str) -> str:
    # 16 separate array_min(transform(...)) expressions. Measured
    # alternative (r4): ONE nested lambda over a literal (a, b) struct
    # array — 8x SLOWER warm (33s vs 4s at sf0.1): nested HOF lambdas
    # fall back to interpreted eval with per-element variable binding.
    # The flat form stays and cold-run codegen cost is accepted.
    sigc = d.minhash_sig_cols("hashes")
    bands = d.band_keys(sigc)
    key_case = ("CASE v.band " + " ".join(
        f"WHEN {i} THEN bk{i}" for i in range(BANDS)) + " END")
    return f"""
    sigs AS (
      SELECT doc_id,
             {', '.join(f'{b} AS bk{i}' for i, b in enumerate(bands))}
      FROM {hashed_rel})
    SELECT doc_id, v.band AS band, {key_case} AS key FROM sigs
    CROSS JOIN (VALUES {', '.join(f'({i})' for i in range(BANDS))})
    AS v(band)
    """


def minhash_band_rows_from_hashed_sql(d: Dialect, hashed_tbl: str) -> str:
    """Stage 1 from a materialized stage-0 table: 16 minhash perms + band
    keys -> (doc_id, band, key), one row per (doc, band)."""
    return "WITH " + _band_rows_body(d, hashed_tbl)


def minhash_band_rows_sql(d: Dialect, corpus_cte: str, k: int = 3) -> str:
    """Stage 0+1 fused as a standalone statement (streaming index build
    and other single-consumer callers that don't stage)."""
    return f"""
    WITH {corpus_cte},
    hashed AS (
      SELECT doc_id, {d.shingle_hashes('text', k)} AS hashes FROM corpus),
    {_band_rows_body(d, 'hashed')}
    """


def minhash_shingles_from_hashed_sql(d: Dialect, hashed_tbl: str) -> str:
    """Stage 2 from a materialized stage-0 table: (doc_id, sh) distinct
    HASHED shingle sets for exact verification. Jaccard over 60-bit
    shingle hashes equals Jaccard over the raw shingle strings up to md5
    collisions (~0 at 2^60), and both engines compute the identical hash,
    so the oracle runs the same algorithm; bigint-array intersects beat
    string-array intersects and the persisted stage is far smaller."""
    return (f"SELECT doc_id, {d.distinct.format(l='hashes')} AS sh "
            f"FROM {hashed_tbl}")


def minhash_verify_sql(d: Dialect, b_tbl: str, shs_tbl: str,
                       jaccard_min: float = 0.5,
                       max_bucket: int = 50) -> str:
    """Stage 3: bucket join + exact-Jaccard verify over materialized
    stage tables (or CTE names)."""
    inter = d.intersect.format(a="sa.sh", b="sb.sh")
    return f"""
    WITH sized AS (
      SELECT band, key FROM {b_tbl} GROUP BY band, key
      HAVING count(*) BETWEEN 2 AND {max_bucket}),
    cand AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM {b_tbl} x JOIN sized s ON x.band = s.band AND x.key = s.key
      JOIN {b_tbl} y ON y.band = s.band AND y.key = s.key
       AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             cast({d.size.format(l=inter)} as double)
               / cast({d.size.format(l='sa.sh')}
                      + {d.size.format(l='sb.sh')}
                      - {d.size.format(l=inter)} as double) AS jac
      FROM cand c
      JOIN {shs_tbl} sa ON sa.doc_id = c.doc_a
      JOIN {shs_tbl} sb ON sb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, jac FROM scored WHERE jac >= {jaccard_min}
    """


def minhash_lsh_pairs_sql(d: Dialect, corpus_cte: str,
                          jaccard_min: float = 0.5, k: int = 3,
                          max_bucket: int = 50) -> str:
    """Full MinHash-LSH near-dup pipeline as one SQL statement.

    corpus_cte must define ``corpus(doc_id, text)``. Output:
    (doc_a, doc_b, jac) for band-colliding pairs with exact shingle-set
    Jaccard >= jaccard_min. ``max_bucket`` guards hot buckets (boilerplate):
    buckets larger than this are dropped — the documented recall trade-off
    (a production run routes them to a second salted pass).
    """
    sigc = d.minhash_sig_cols("hashes")
    bands = d.band_keys(sigc)
    # VALUES cross-join, NOT a UNION ALL of per-band selects: Spark inlines
    # CTE references, so a 4-way union recomputes the (expensive) signature
    # pipeline 4x; the cross-join streams each signature row once.
    key_case = ("CASE v.band " + " ".join(
        f"WHEN {i} THEN bk{i}" for i in range(BANDS)) + " END")
    band_rows = (
        f"SELECT doc_id, v.band AS band, {key_case} AS key FROM sigs "
        f"CROSS JOIN (VALUES {', '.join(f'({i})' for i in range(BANDS))}) "
        f"AS v(band)"
    )
    inter = d.intersect.format(a="sa.sh", b="sb.sh")
    # verification runs on HASHED shingle sets (same 60-bit hash in both
    # dialects — see minhash_shingles_from_hashed_sql), so `hashed` is the
    # only text pass in the whole statement.
    return f"""
    WITH {corpus_cte},
    hashed AS (
      SELECT doc_id, {d.shingle_hashes('text', k)} AS hashes FROM corpus),
    sigs AS (
      SELECT doc_id,
             {', '.join(f'{b} AS bk{i}' for i, b in enumerate(bands))}
      FROM hashed),
    b AS ({band_rows}),
    sized AS (
      SELECT band, key FROM b GROUP BY band, key
      HAVING count(*) BETWEEN 2 AND {max_bucket}),
    cand AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM b x JOIN sized s ON x.band = s.band AND x.key = s.key
      JOIN b y ON y.band = s.band AND y.key = s.key AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id),
    shs AS (SELECT doc_id, {d.distinct.format(l='hashes')} AS sh
            FROM hashed),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             cast({d.size.format(l=inter)} as double)
               / cast({d.size.format(l='sa.sh')}
                      + {d.size.format(l='sb.sh')}
                      - {d.size.format(l=inter)} as double) AS jac
      FROM cand c
      JOIN shs sa ON sa.doc_id = c.doc_a
      JOIN shs sb ON sb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, jac FROM scored WHERE jac >= {jaccard_min}
    """


SIMHASH_BITS = 32


def simhash_sql(d: Dialect, hashes: str) -> str:
    """32-bit SimHash from a token-hash array: per-bit majority vote,
    written as a sum of per-bit sign aggregates (pure array lambdas; stays
    in codegen in Spark)."""
    if d.name == "spark":
        list_sum = "aggregate({l}, cast(0 as bigint), (acc, v) -> acc + v)"
    else:
        list_sum = "cast(list_sum({l}) as bigint)"
    bit_terms = []
    for i in range(SIMHASH_BITS):
        votes = d.transform.format(
            l=hashes, var="h", body=f"((h >> {i}) & 1) * 2 - 1"
        )
        s = list_sum.format(l=votes)
        bit_terms.append(f"(case when {s} > 0 then cast({1 << i} as bigint) "
                         f"else cast(0 as bigint) end)")
    return "(" + " + ".join(bit_terms) + ")"


def simhash_pairs_sql(d: Dialect, corpus_cte: str,
                      max_hamming: int = 3,
                      max_bucket: int = 100) -> str:
    """SimHash near-dup pairs: 4 x 8-bit band blocking (two sketches within
    hamming distance <= 3 of each other must agree on >= 1 of 4 bands), then
    exact hamming verify via bit_count(xor).

    ``max_bucket`` guards hot band buckets (random short docs collide
    heavily in 8-bit bands at corpus scale): oversized buckets are dropped,
    the same documented recall trade as the MinHash path.
    """
    key_case = ("CASE v.band " + " ".join(
        f"WHEN {b} THEN ((sh >> {8 * b}) & 255) + {b * 256}"
        for b in range(4)) + " END")
    band_rows = (
        f"SELECT doc_id, sh, {key_case} AS bkey FROM sketches "
        "CROSS JOIN (VALUES (0), (1), (2), (3)) AS v(band)"
    )
    return f"""
    WITH {corpus_cte},
    hashed AS (
      SELECT doc_id, {d.shingle_hashes('text', 1)} AS hashes FROM corpus),
    sketches AS (SELECT doc_id, {simhash_sql(d, 'hashes')} AS sh FROM hashed),
    b AS ({band_rows}),
    sized AS (
      SELECT bkey FROM b GROUP BY bkey
      HAVING count(*) BETWEEN 2 AND {max_bucket}),
    cand AS (
      SELECT x.doc_id AS doc_a, x.sh AS sha, y.doc_id AS doc_b, y.sh AS shb
      FROM b x JOIN sized s ON x.bkey = s.bkey
      JOIN b y ON y.bkey = s.bkey AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, x.sh, y.doc_id, y.sh)
    SELECT doc_a, doc_b,
           cast(bit_count({d.xor.format(a='sha', b='shb')}) as bigint)
             AS hamming
    FROM cand
    WHERE bit_count({d.xor.format(a='sha', b='shb')}) <= {max_hamming}
    """


def simhash_band_rows_sql(d: Dialect, corpus_cte: str) -> str:
    """Stage 1 of the SimHash pipeline (the expensive sketch computation),
    standalone so the Spark side persists it once (referenced 2x by the
    bucket self-join)."""
    key_case = ("CASE v.band " + " ".join(
        f"WHEN {b} THEN ((sh >> {8 * b}) & 255) + {b * 256}"
        for b in range(4)) + " END")
    return f"""
    WITH {corpus_cte},
    hashed AS (
      SELECT doc_id, {d.shingle_hashes('text', 1)} AS hashes FROM corpus),
    sketches AS (SELECT doc_id, {simhash_sql(d, 'hashes')} AS sh FROM hashed)
    SELECT doc_id, sh, {key_case} AS bkey FROM sketches
    CROSS JOIN (VALUES (0), (1), (2), (3)) AS v(band)
    """


def simhash_verify_sql(d: Dialect, b_tbl: str,
                       max_hamming: int = 3, max_bucket: int = 100) -> str:
    """Stage 2: bucket self-join + exact hamming verify over a named
    band-rows table."""
    return f"""
    WITH sized AS (
      SELECT bkey FROM {b_tbl} GROUP BY bkey
      HAVING count(*) BETWEEN 2 AND {max_bucket}),
    cand AS (
      SELECT x.doc_id AS doc_a, x.sh AS sha, y.doc_id AS doc_b, y.sh AS shb
      FROM {b_tbl} x JOIN sized s ON x.bkey = s.bkey
      JOIN {b_tbl} y ON y.bkey = s.bkey AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, x.sh, y.doc_id, y.sh)
    SELECT doc_a, doc_b,
           cast(bit_count({d.xor.format(a='sha', b='shb')}) as bigint)
             AS hamming
    FROM cand
    WHERE bit_count({d.xor.format(a='sha', b='shb')}) <= {max_hamming}
    """


def ngram_shingles_sql(d: Dialect, corpus_cte: str, k: int = 3) -> str:
    """Stage 1 of the n-gram Jaccard pipeline: distinct shingle sets."""
    sh_distinct = d.distinct.format(l=d.shingles("text", k))
    return (f"WITH {corpus_cte} "
            f"SELECT doc_id, {sh_distinct} AS sh FROM corpus")


def ngram_verify_sql(d: Dialect, shs_tbl: str, inv_tbl: str,
                     jaccard_min: float = 0.5,
                     rare_max_df: int = 20) -> str:
    """Stages 2-3: rare-shingle prefilter + exact Jaccard over named
    shingle-set / inverted-index tables."""
    inter = d.intersect.format(a="sa.sh", b="sb.sh")
    return f"""
    WITH rare AS (
      SELECT s FROM {inv_tbl} GROUP BY s
      HAVING count(*) BETWEEN 2 AND {rare_max_df}),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM {inv_tbl} a JOIN rare r ON a.s = r.s
      JOIN {inv_tbl} b ON b.s = r.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             cast({d.size.format(l=inter)} as double)
               / cast({d.size.format(l='sa.sh')}
                      + {d.size.format(l='sb.sh')}
                      - {d.size.format(l=inter)} as double) AS jac
      FROM cand c
      JOIN {shs_tbl} sa ON sa.doc_id = c.doc_a
      JOIN {shs_tbl} sb ON sb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, jac FROM scored WHERE jac >= {jaccard_min}
    """


def ngram_jaccard_pairs_sql(d: Dialect, corpus_cte: str, k: int = 3,
                            jaccard_min: float = 0.5,
                            rare_max_df: int = 20) -> str:
    """Exact n-gram Jaccard near-dup pairs with an inverted-index prefilter:
    pairs must share at least one RARE shingle (document frequency <=
    rare_max_df), which bounds the candidate blow-up the way a full
    cross-join never could at scale. Any pair with Jaccard >= 0.5 and <= 2k
    shingles difference shares a rare shingle with high probability at these
    thresholds; at web scale this is the standard suffix-/shingle-index
    prefilter."""
    sh_distinct = d.distinct.format(l=d.shingles("text", k))
    if d.name == "spark":
        explode = "SELECT doc_id, explode(sh) AS s FROM shs"
    else:
        explode = "SELECT doc_id, unnest(sh) AS s FROM shs"
    inter = d.intersect.format(a="sa.sh", b="sb.sh")
    return f"""
    WITH {corpus_cte},
    shs AS (SELECT doc_id, {sh_distinct} AS sh FROM corpus),
    inv AS ({explode}),
    rare AS (
      SELECT s FROM inv GROUP BY s HAVING count(*) BETWEEN 2 AND {rare_max_df}),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM inv a JOIN rare r ON a.s = r.s
      JOIN inv b ON b.s = r.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             cast({d.size.format(l=inter)} as double)
               / cast({d.size.format(l='sa.sh')}
                      + {d.size.format(l='sb.sh')}
                      - {d.size.format(l=inter)} as double) AS jac
      FROM cand c
      JOIN shs sa ON sa.doc_id = c.doc_a
      JOIN shs sb ON sb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, jac FROM scored WHERE jac >= {jaccard_min}
    """


# Corpus with planted near-duplicates: every 3rd document gets a copy with
# two extra tokens appended (doc_id + 10^6) -> known-true near-dup pairs.
PLANTED_CORPUS_CTE = (
    "corpus AS ("
    "SELECT doc_id, text FROM documents "
    "UNION ALL "
    "SELECT doc_id + 1000000 AS doc_id, text || ' extra trailing' AS text "
    "FROM documents WHERE doc_id % 3 = 0)"
)


# Corpus with planted CONTAINMENT pairs: every 5th document re-appears
# (doc_id + 2*10^6) embedded verbatim inside boilerplate wrapping — the
# quote/inclusion shape whose Jaccard is LOW (wrapper >> payload overlap
# ratio) but whose containment is 1.0, i.e. exactly what symmetric
# near-dup misses.
CONTAINMENT_CORPUS_CTE = (
    "corpus AS ("
    "SELECT doc_id, text FROM documents "
    "UNION ALL "
    "SELECT doc_id + 2000000 AS doc_id, "
    "'intro section alpha beta gamma delta epsilon zeta eta theta iota "
    "kappa lam mu nu xi omicron pi rho sigma tau page ' "
    "|| cast(doc_id as string) || ' ' || text || "
    "' closing section one two three four five six seven eight nine ten "
    "eleven twelve thirteen fourteen fifteen sixteen' AS text "
    "FROM documents WHERE doc_id % 5 = 0)"
)


def ngram_containment_sql(d: Dialect, corpus_cte: str, k: int = 3,
                          cont_min: float = 0.9,
                          rare_max_df: int = 20) -> str:
    """Asymmetric CONTAINMENT dedup (Broder's containment coefficient:
    C = |A∩B| / min(|A|, |B|)): detects a document embedded inside a
    larger one, where Jaccard stays low (the wrapper dilutes the union).
    Same rare-shingle inverted-index blocking as the Jaccard pipeline —
    candidates bounded, never all-pairs; quantized integer-milli scores
    so the oracle comparison is division-free."""
    sh_distinct = d.distinct.format(l=d.shingles("text", k))
    if d.name == "spark":
        explode = "SELECT doc_id, explode(sh) AS s FROM shs"
    else:
        explode = "SELECT doc_id, unnest(sh) AS s FROM shs"
    inter = d.intersect.format(a="sa.sh", b="sb.sh")
    ni = d.size.format(l=inter)
    na, nb = d.size.format(l="sa.sh"), d.size.format(l="sb.sh")
    return f"""
    WITH {corpus_cte},
    shs AS (SELECT doc_id, {sh_distinct} AS sh FROM corpus),
    inv AS ({explode}),
    rare AS (
      SELECT s FROM inv GROUP BY s
      HAVING count(*) BETWEEN 2 AND {rare_max_df}),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM inv a JOIN rare r ON a.s = r.s
      JOIN inv b ON b.s = r.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             cast(floor(cast({ni} as double) * 1000.0
                  / cast(least({na}, {nb}) as double)) as bigint)
               AS cont_milli,
             cast(floor(cast({ni} as double) * 1000.0
                  / cast({na} + {nb} - {ni} as double)) as bigint)
               AS jac_milli
      FROM cand c
      JOIN shs sa ON sa.doc_id = c.doc_a
      JOIN shs sb ON sb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, cont_milli, jac_milli
    FROM scored WHERE cont_milli >= {int(cont_min * 1000)}
    """


# Corpus with planted SHARED PASSAGES: every 7th document's 14-token
# pair-unique passage also appears verbatim inside an otherwise unrelated
# partner document (doc_id + 3*10^6) — the C4/RefinedWeb "duplicated
# span" shape: neither document is a near-dup of the other, but they
# share one long exact run.
_PASSAGE = (" || ' ' || " .join(
    f"'q' || cast(doc_id as string) || '{c}'"
    for c in "abcdefghijklmn"))
SHARED_PASSAGE_CORPUS_CTE = (
    "corpus AS ("
    "SELECT doc_id, "
    f"CASE WHEN doc_id % 7 = 1 THEN text || ' ' || {_PASSAGE} "
    "ELSE text END AS text "
    "FROM documents "
    "UNION ALL "
    "SELECT doc_id + 3000000 AS doc_id, "
    "'unrelated filler words about entirely different topics here ' || "
    f"{_PASSAGE} || ' trailing filler closing words' AS text "
    "FROM documents WHERE doc_id % 7 = 1)"
)


def shared_passages_sql(d: Dialect, corpus_cte: str, k: int = 3,
                        run_min: int = 8, rare_max_df: int = 20) -> str:
    """Exact shared-PASSAGE detection (the 'remove duplicated spans'
    primitive): positional shingle hashes, rare-hash inverted-index
    blocking, then the classic aligned-diagonal trick — a run of L
    shared tokens puts L-k+1 matching shingles on ONE diagonal
    (pos_a - pos_b constant), so a GROUP BY (doc_a, doc_b, diagonal)
    count >= run_min finds long exact runs without any string
    comparison after hashing. Candidates are bounded by the rare-df
    filter exactly like the Jaccard/containment pipelines — never
    all-pairs, and shuffle rows are (doc, pos, hash) fixed-width."""
    hashes = d.shingle_hashes("text", k)
    if d.name == "spark":
        inv = ("SELECT doc_id, pos + 1 AS pos, h FROM hs "
               "LATERAL VIEW posexplode(hsa) t AS pos, h")
    else:
        inv = ("SELECT doc_id, unnest(range(1, len(hsa) + 1)) AS pos, "
               "unnest(hsa) AS h FROM hs")
    return f"""
    WITH {corpus_cte},
    hs AS (SELECT doc_id, {hashes} AS hsa FROM corpus),
    inv AS ({inv}),
    rare AS (
      SELECT h FROM inv GROUP BY h
      HAVING count(*) BETWEEN 2 AND {rare_max_df}),
    pr AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos - b.pos AS diag, a.pos AS pa
      FROM inv a JOIN rare r ON a.h = r.h
      JOIN inv b ON b.h = r.h AND a.doc_id < b.doc_id),
    runs AS (
      SELECT doc_a, doc_b, diag, count(*) AS n_aligned
      FROM pr GROUP BY doc_a, doc_b, diag),
    best AS (
      SELECT doc_a, doc_b, max(n_aligned) AS max_run,
             count(*) AS n_diags
      FROM runs WHERE n_aligned >= {run_min}
      GROUP BY doc_a, doc_b)
    SELECT doc_a, doc_b, max_run, n_diags FROM best
    """
