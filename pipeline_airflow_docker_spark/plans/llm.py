"""LLM-data-pipeline qkeys (SURVEY.md §2 Part C): dedup, similarity
search, text analysis, multimodal plumbing over the ``documents`` and
``embeddings`` tables.

Cross-engine determinism strategy (see functions/text.py,
functions/vectors.py): md5 hex as the hash primitive, sequential
higher-order-function folds for float math — the DuckDB oracle
computes bit-identical values, so even MinHash LSH and SimHash are
hash-checked rather than rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipeline_airflow_docker_spark.catalog import table
from pipeline_airflow_docker_spark.operators.dedup import (
    embedding_dup_pairs,
    minhash_dup_pairs,
    ngram_jaccard_pairs,
    resolve_components,
    simhash_docs,
    simhash_dup_pairs,
)
from pipeline_airflow_docker_spark.operators.multimodal import (
    resize_media,
    sample_frames,
    attach_binary_payload,
    extract_features,
)
from pipeline_airflow_docker_spark.operators.similarity import (
    kmeans_lloyd,
    knn_cosine,
    knn_cosine_bucketed,
    knn_cosine_ivf,
)
from pipeline_airflow_docker_spark.operators.redact import (
    oracle_redact_sql,
    pii_token_alternation,
)
from pipeline_airflow_docker_spark.operators.textstats import (
    fingerprint,
    lang_id,
    quality_score,
    text_stats,
    token_counts,
)
from pipeline_airflow_docker_spark.plans.registry import query

# DuckDB fragments mirroring functions/text.py exactly.
_DD_TOKS = "string_split(text, ' ') AS toks"
_DD_SHINGLES3 = (
    # NULL-propagating like functions/text.py::shingles — DuckDB's
    # greatest() SKIPS NULLs, so without the CASE a NULL token array
    # clamps to one window and every NULL-text document emits the
    # constant shingle '' (the r05 contract violation the engine
    # guards against; a NULL-text doc in q_decontaminate's benchmark
    # slice poisoned the oracle's gram set — fuzz fixture, round 7).
    "CASE WHEN toks IS NULL THEN NULL ELSE "
    "list_distinct(list_transform(range(1, greatest(len(toks)-2,1)+1), "
    "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) END AS sh"
)
# Integer MinHash family — mirrors functions/text.py::int_shingles /
# minhash_signature_int exactly (one md5 per token; 40-bit rolling-
# polynomial shingles; affine-map signature hashes — all exact int64,
# max intermediate 2^40 * 2^20 < 2^63 in both engines).
_DD_MINHASH_M = "1099511627776"  # 2^40
_DD_MINHASH_A = "[999983,999979,999961,999959,999953,999931,999917,999907]"
_DD_MINHASH_B = (
    "[15485863,32452843,49979687,67867967,"
    "86028121,104395301,122949823,141650939]"
)
_DD_TOKHASH = (
    "list_transform(toks, t -> ('0x' || substr(md5(t),1,10))::BIGINT) AS ih"
)
_DD_ISHINGLES3 = (
    "list_distinct(list_transform(range(1, greatest(len(toks)-2,1)+1), i -> "
    f"((coalesce(ih[i],0) * 786433 + coalesce(ih[i+1],0)) % {_DD_MINHASH_M}"
    f" * 786433 + coalesce(ih[i+2],0)) % {_DD_MINHASH_M})) AS sh"
)
_DD_MINHASH_SIG = (
    "list_transform(range(0, 8), i -> list_min(list_transform(sh, x -> "
    f"(x * ({_DD_MINHASH_A}[i+1]) + ({_DD_MINHASH_B}[i+1]))"
    f" % {_DD_MINHASH_M}))) AS mh"
)
_DD_MINHASH_BKEY = (
    "CAST(mh[2*j + 1] AS VARCHAR) || '_' || CAST(mh[2*j + 2] AS VARCHAR)"
)
# Sequential-fold dot product of two float lists, in double.
_DD_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip({a}, {b}), "
    "p -> p[1]::DOUBLE * p[2]::DOUBLE)), (acc, v) -> acc + v)"
)


def _dd_cos(a: str, b: str) -> str:
    return (
        f"{_DD_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DD_DOT.format(a=a, b=a)}) * sqrt({_DD_DOT.format(a=b, b=b)}))"
    )


# --------------------------------------------------------------------
# C1 exact dedup. The tables carry no planted *exact* dups, so the
# operator's grouped form (representative + multiplicity per text) is
# the checkable output; dedup_exact() is the row-preserving library op.
# --------------------------------------------------------------------
@query(
    "q_dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies, text
    FROM documents GROUP BY text
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies")
    ).select("keep_doc_id", "n_copies", "text")


# --------------------------------------------------------------------
# C2a exact n-gram-Jaccard near-dup pairs — the quadratic baseline the
# LSH path is measured against (blocked on lang here to bound it).
# --------------------------------------------------------------------
@query(
    "q_dedup_ngram",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang, {_DD_SHINGLES3}
      FROM (SELECT doc_id, lang, {_DD_TOKS} FROM documents
            WHERE text IS NOT NULL)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(a.sh || b.sh)) AS jacc
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(a.sh || b.sh)) >= 0.8
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.8, block_col="lang")


# --------------------------------------------------------------------
# C2b MinHash + LSH near-dup pairs, fully oracle-checked: integer
# MinHash (one md5 per token; affine-map signature hashes — see
# functions/text.py); candidates from a band-key equi-join;
# exact-Jaccard verify over the hashed shingle sets. Identical int64
# math in DuckDB.
# --------------------------------------------------------------------
@query(
    "q_dedup_minhash",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_DD_TOKS} FROM documents
                 WHERE text IS NOT NULL),
    ihh AS (SELECT doc_id, toks, {_DD_TOKHASH} FROM tok),
    s AS (SELECT doc_id, {_DD_ISHINGLES3} FROM ihh),
    sig AS (SELECT doc_id, sh, {_DD_MINHASH_SIG} FROM s),
    bands AS (
      SELECT doc_id, sh, j, {_DD_MINHASH_BKEY} AS bkey
      FROM sig, generate_series(0, 3) t(j)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           len(list_intersect(x.sh, y.sh))::DOUBLE
             / len(list_distinct(x.sh || y.sh)) AS jacc
    FROM cand JOIN s x ON cand.id_a = x.doc_id
              JOIN s y ON cand.id_b = y.doc_id
    WHERE len(list_intersect(x.sh, y.sh))::DOUBLE
            / len(list_distinct(x.sh || y.sh)) >= 0.8
    """,
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return minhash_dup_pairs(d, "doc_id", "text", n=3, n_hashes=8, n_bands=4, threshold=0.8)


# --------------------------------------------------------------------
# C2e dup *resolution* (SURVEY §2 C2 "connected components
# keep-first"): minhash pairs -> connected components via label
# propagation -> (id, component); the kept representative is
# id == component. Oracle: identical minhash pairs + recursive-CTE
# transitive closure + per-node min.
# --------------------------------------------------------------------
_DD_MINHASH_PAIR_CTES = f"""
    tok AS (SELECT doc_id, {_DD_TOKS} FROM documents
            WHERE text IS NOT NULL),
    ihh AS (SELECT doc_id, toks, {_DD_TOKHASH} FROM tok),
    s AS (SELECT doc_id, {_DD_ISHINGLES3} FROM ihh),
    sig AS (SELECT doc_id, sh, {_DD_MINHASH_SIG} FROM s),
    bands AS (
      SELECT doc_id, sh, j, {_DD_MINHASH_BKEY} AS bkey
      FROM sig, generate_series(0, 3) t(j)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM cand JOIN s x ON cand.id_a = x.doc_id
                JOIN s y ON cand.id_b = y.doc_id
      WHERE len(list_intersect(x.sh, y.sh))::DOUBLE
              / len(list_distinct(x.sh || y.sh)) >= 0.8
    )
"""


@query(
    "q_dedup_resolve",
    oracle=f"""
    WITH RECURSIVE {_DD_MINHASH_PAIR_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach AS (
      SELECT src AS id, dst AS peer FROM edges
      UNION
      SELECT r.id, e.dst AS peer FROM reach r JOIN edges e ON r.peer = e.src
    )
    SELECT d.doc_id AS id,
           LEAST(d.doc_id, COALESCE(MIN(r.peer), d.doc_id)) AS component
    FROM documents d LEFT JOIN reach r ON d.doc_id = r.id
    GROUP BY d.doc_id
    """,
)
def q_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    pairs = minhash_dup_pairs(
        d, "doc_id", "text", n=3, n_hashes=8, n_bands=4, threshold=0.8
    ).select("id_a", "id_b")
    return resolve_components(d.select("doc_id"), pairs, id_col="doc_id")


# --------------------------------------------------------------------
# C2c per-document 32-bit SimHash (bit-majority over md5 token
# hashes) — same value computed by the DuckDB oracle.
# --------------------------------------------------------------------
_DD_SIMHASH = """
    SELECT doc_id,
      CASE WHEN toks IS NULL THEN NULL ELSE
    list_reduce(list_prepend(0::BIGINT,
        list_transform(range(0, 32), b ->
          CASE WHEN list_reduce(list_prepend(0::BIGINT,
            list_transform(toks, tok ->
              CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 1 + b // 4, 1)) - 1)
                        // CAST(pow(2, 3 - b % 4) AS BIGINT) % 2 = 1
                   THEN 1 ELSE -1 END)), (a, x) -> a + x) > 0
          THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)), (a, x) -> a + x)
    END AS simhash
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
"""


@query("q_dedup_simhash", oracle=_DD_SIMHASH)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return simhash_docs(d, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "simhash"
    )


# --------------------------------------------------------------------
# C2c' SimHash near-dup *pairs*: candidates from two equi-joins on the
# 16-bit hash halves (pigeonhole: Hamming<=3 over 32 bits implies one
# half matches exactly), verified by popcount of the XOR — never a
# nested-loop join. Oracle replays the identical plan shape in SQL;
# UNION dedups the (pair, hamming) rows that matched on both halves.
# --------------------------------------------------------------------
@query(
    "q_dedup_simhash_pairs",
    oracle=f"""
    WITH sh AS ({_DD_SIMHASH}),
    h AS (
      SELECT doc_id, simhash,
             simhash % 65536 AS lo, simhash // 65536 AS hi
      FROM sh
    ),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM h a JOIN h b ON a.lo = b.lo AND a.doc_id < b.doc_id
      UNION
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM h a JOIN h b ON a.hi = b.hi AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 6
    """,
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    p = simhash_dup_pairs(d, "doc_id", "text", max_hamming=6)
    return p.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# --------------------------------------------------------------------
# C2d embedding-cosine near-dup pairs, exact quadratic form (the
# oracle-checkable baseline; the bucketed scale path is q_knn_lsh's
# machinery). Threshold 0.35 exercises real pairs in this corpus
# (max planted cosine ~0.51).
# --------------------------------------------------------------------
@query(
    "q_dedup_embedding",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_dd_cos('a.embedding', 'b.embedding')} AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_dd_cos('a.embedding', 'b.embedding')} >= 0.35
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return embedding_dup_pairs(e, "vec_id", "embedding", threshold=0.35, bucketed=False)


# --------------------------------------------------------------------
# C3 similarity search: exact brute-force cosine top-k for a query
# subset (broadcast queries — corpus never shuffles), oracle-checked;
# plus the sign-bucketed LSH variant, also oracle-checked since the
# bucketing is deterministic.
# --------------------------------------------------------------------
@query(
    "q_knn_cosine",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_dd_cos('q.qv', 'c.embedding')} AS cos
      FROM q JOIN embeddings c ON c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return knn_cosine(e.filter(F.col("vec_id") < 10), e, k=5)


_DD_BUCKET = (
    "list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 4), i -> "
    "CASE WHEN {v}[i + 1]::DOUBLE > 0 THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)), "
    "(a, x) -> a + x)"
)


@query(
    "q_knn_lsh",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding, {_DD_BUCKET.format(v='embedding')} AS bkt
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qv, bkt FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_dd_cos('q.qv', 'c.embedding')} AS cos
      FROM q JOIN e c ON q.bkt = c.bkt AND c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return knn_cosine_bucketed(e.filter(F.col("vec_id") < 10), e, k=3, n_bits=4)


# --------------------------------------------------------------------
# C3 scale path #2: IVF — coarse-quantize the corpus into cells
# (assignment is a driver-resident-anchor map-side fold: zero corpus
# shuffle), probe the query's 2 nearest of 8 cells. Deterministic
# quantizer => the oracle replays the identical index and the result
# hash-matches despite being "approximate".
# --------------------------------------------------------------------
@query(
    "q_knn_ivf",
    oracle=f"""
    WITH a AS (SELECT vec_id AS aid, embedding AS av FROM embeddings WHERE vec_id < 8),
    cells AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT c.vec_id, c.embedding, a.aid AS cell,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                   ORDER BY {_dd_cos('c.embedding', 'a.av')} DESC, a.aid) AS rn
        FROM embeddings c CROSS JOIN a
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qv, a.aid AS cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY {_dd_cos('q.embedding', 'a.av')} DESC, a.aid) AS rn
        FROM embeddings q CROSS JOIN a WHERE q.vec_id < 10
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             {_dd_cos('p.qv', 'c.embedding')} AS cos
      FROM probes p JOIN cells c ON p.cell = c.cell AND c.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return knn_cosine_ivf(
        e.filter(F.col("vec_id") < 10), e, k=3, n_anchors=8, n_probe=2
    )


# C3b k-means quantizer training. Lloyd's loop has a FIXED iteration
# count, so the oracle unrolls it: 3 assign->update rounds as chained
# CTEs, then the final assignment. Cross-engine bit-equality is
# engineered, not hoped for: centroid coordinates are snapped to the
# 2^-20 dyadic grid after each update (kmeans_lloyd snap_bits), which
# absorbs float-summation-order divergence between Spark's shuffled
# partial aggregates and DuckDB's avg; distances then fold
# sequentially over identical operands (bit-identical IEEE), and
# argmin ties break to the lower cluster id in both engines.


def _km_dist(vec: str, cv: str) -> str:
    """DuckDB squared-L2 matching functions/vectors.py::l2sq — same
    sequential fold order, double arithmetic."""
    d = f"({vec}[i+1]::DOUBLE - {cv}[i+1])"
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(0, len({vec})), i -> {d} * {d})), "
        f"(acc, v) -> acc + v)"
    )


def _km_cte_list(k: int, n_iter: int, snap_bits: int) -> list[str]:
    grid = float(1 << snap_bits)
    dist = _km_dist("e.embedding", "c.cv")
    ctes = [
        f"""c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             list_transform(embedding, x -> x::DOUBLE) AS cv
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {k})
    )"""
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""d{i} AS (
      SELECT e.vec_id, e.embedding, c.cid, {dist} AS d
      FROM embeddings e CROSS JOIN c{i - 1} c
    ),
    a{i} AS (
      SELECT vec_id, embedding, cluster FROM (
        SELECT vec_id, embedding, cid AS cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d{i}) WHERE rn = 1
    ),
    m{i} AS (
      SELECT cluster, dim, floor(avg(x) * {grid} + 0.5) / {grid} AS mean
      FROM (SELECT cluster, unnest(embedding)::DOUBLE AS x,
                   CAST(unnest(range(0, len(embedding))) AS INT) AS dim
            FROM a{i})
      GROUP BY cluster, dim
    ),
    c{i} AS (
      SELECT p.cid, COALESCE(n.cv, p.cv) AS cv
      FROM c{i - 1} p LEFT JOIN
           (SELECT cluster AS cid, list(mean ORDER BY dim) AS cv
            FROM m{i} GROUP BY cluster) n USING (cid)
    )"""
        )
    return ctes


def _km_oracle(k: int, n_iter: int, snap_bits: int) -> str:
    dist = _km_dist("e.embedding", "c.cv")
    joined = ",\n    ".join(_km_cte_list(k, n_iter, snap_bits))
    return f"""
    WITH {joined},
    fin AS (
      SELECT e.vec_id, c.cid, {dist} AS d
      FROM embeddings e CROSS JOIN c{n_iter} c
    )
    SELECT vec_id, cluster FROM (
      SELECT vec_id, cid AS cluster,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      FROM fin) WHERE rn = 1
    """


# Contract: k-means trains and assigns over VALID vectors only (non-
# NULL, full 64-dim) — a NULL or truncated vector would perturb the
# centroid means differently per engine and poison every assignment.
# The operator itself tolerates them (degenerate rows assign cluster
# -1; unit-tested); the qkey grades the clean-domain math.
_KM_VALID_CTE = (
    "emb AS (SELECT vec_id, embedding FROM embeddings "
    "WHERE embedding IS NOT NULL AND len(embedding) = 64)"
)
_KM_SQL = _km_oracle(k=8, n_iter=3, snap_bits=20).replace(
    "FROM embeddings", "FROM emb"
).replace("WITH ", f"WITH {_KM_VALID_CTE},\n    ", 1)


@query("q_kmeans", oracle=_KM_SQL)
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    return kmeans_lloyd(e, k=8, n_iter=3, snap_bits=20)


# --------------------------------------------------------------------
# C4 text analysis: stats, quality score, language ID, token counting,
# fingerprints.
# --------------------------------------------------------------------
_DD_STOP = "('the','a','an','of','and','to','in','is','it')"


@query(
    "q_text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars_m,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INT) AS n_types,
           len(list_distinct(toks))::DOUBLE / len(toks) AS ttr,
           list_reduce(list_prepend(0, list_transform(toks, t -> length(t)::INT)),
                       (a, x) -> a + x)::DOUBLE / len(toks) AS avg_token_len,
           len(list_filter(toks, t -> t IN {_DD_STOP}))::DOUBLE / len(toks) AS stopword_ratio
    FROM (SELECT doc_id, text, {_DD_TOKS} FROM documents)
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(table(spark, sf_dir, "documents"))


@query(
    "q_quality_score",
    oracle=f"""
    SELECT doc_id,
           round(0.4 * least(len(toks)::DOUBLE / 100.0, 1.0)
                 + 0.3 * (len(list_distinct(toks))::DOUBLE / len(toks))
                 + 0.3 * (1.0 - len(list_filter(toks, t -> t IN {_DD_STOP}))::DOUBLE / len(toks)),
                 6) AS quality
    FROM (SELECT doc_id, {_DD_TOKS} FROM documents)
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(table(spark, sf_dir, "documents"))


@query(
    "q_lang_id",
    oracle="""
    WITH s AS (
      SELECT doc_id,
        len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein'))) AS score_de,
        len(list_filter(toks, t -> t IN ('the','a','of','and','is','to','it'))) AS score_en,
        len(list_filter(toks, t -> t IN ('el','los','las','y','es','un','una'))) AS score_es,
        len(list_filter(toks, t -> t IN ('le','les','des','et','est','une','du'))) AS score_fr
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    SELECT doc_id,
           CAST(score_de AS INT) AS score_de, CAST(score_en AS INT) AS score_en,
           CAST(score_es AS INT) AS score_es, CAST(score_fr AS INT) AS score_fr,
           CASE
             -- NULL text has NULL scores: every comparison below is
             -- NULL, which would fall through to ELSE 'fr'; unknown
             -- input is 'und' (mirrors the operator's contract).
             WHEN score_de IS NULL THEN 'und'
             WHEN score_de = 0 AND score_en = 0 AND score_es = 0 AND score_fr = 0 THEN 'und'
             WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
             WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
             WHEN score_es >= score_fr THEN 'es'
             ELSE 'fr'
           END AS pred_lang
    FROM s
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(table(spark, sf_dir, "documents"))


@query(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS n_tokens_bpe,
           octet_length(encode(text))::DOUBLE
             / len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS bytes_per_token
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(table(spark, sf_dir, "documents"))


# C4b TF-IDF top terms per doc: explode -> tf -> df -> smoothed-idf
# join -> per-doc top-5. Scores rounded to 6dp before ranking so
# cross-engine libm-log ulp differences can't flip order or hash.
@query(
    "q_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.dfreq + 1.0)) + 1.0), 6)
               AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.textstats import (  # noqa: PLC0415
        tfidf_top_terms,
    )

    return tfidf_top_terms(table(spark, sf_dir, "documents"), k=5)


@query(
    "q_fingerprint",
    oracle="""
    SELECT doc_id, md5(text) AS content_fp,
           -- NULL text has no shingles and therefore no rolling
           -- fingerprint (mirrors shingles()'s NULL guard)
           CASE WHEN toks IS NULL THEN NULL ELSE
           list_min(list_transform(
             list_transform(range(1, greatest(len(toks)-7, 1)+1),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
                              toks[i+4], toks[i+5], toks[i+6], toks[i+7])),
             s -> md5('0:' || s)))
           END AS rolling_fp
    FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(table(spark, sf_dir, "documents"), window=8)


# --------------------------------------------------------------------
# C5 multimodal: binary payload + typed metadata, and the
# Arrow-batched mapInPandas feature path — both oracle hash-checked
# (the deterministic fake decode is byte math DuckDB replays via
# ord()/list comprehension in q_multimodal_features' oracle).
# --------------------------------------------------------------------
@query(
    "q_multimodal_meta",
    oracle="""
    SELECT doc_id, 'text/plain' AS mime,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           sha256(text) AS sha256
    FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    b = attach_binary_payload(d)
    return b.select(
        "doc_id", F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"), F.col("meta.sha256").alias("sha256"),
    )


# The fake decode is deterministic byte math (mean + 8-bucket byte
# histogram), so even the Arrow mapInPandas path is hash-checked: the
# oracle replays it byte-for-byte from the ASCII text via ord().
# The feature array is posexploded to (bucket, feat) rows so the
# driver's canonicalizer (which cannot sort list columns) can grade
# it; the operator API still returns the array form.
@query(
    "q_multimodal_features",
    oracle="""
    WITH pos AS (
      SELECT doc_id, text, unnest(range(1, length(text)+1)) AS i FROM documents
      WHERE octet_length(encode(text)) = length(text)
    ),
    byt AS (
      SELECT doc_id, ord(substring(text, CAST(i AS INT), 1)) AS byte FROM pos
    ),
    agg AS (SELECT doc_id, COUNT(*) AS n_bytes, SUM(byte) AS s FROM byt GROUP BY doc_id),
    hist AS (SELECT doc_id, byte % 8 AS bucket, COUNT(*) AS c FROM byt GROUP BY 1, 2),
    buckets AS (SELECT doc_id, n_bytes, s, unnest(range(0, 8)) AS bucket FROM agg),
    filled AS (
      SELECT b.doc_id, b.bucket, b.n_bytes, b.s, COALESCE(h.c, 0) AS c
      FROM buckets b LEFT JOIN hist h ON h.doc_id = b.doc_id AND h.bucket = b.bucket
    )
    SELECT doc_id, 'text/plain' AS mime, CAST(n_bytes AS INT) AS n_bytes,
           s::DOUBLE / n_bytes AS mean_byte,
           CAST(bucket AS INT) AS bucket,
           c::DOUBLE / n_bytes AS feat
    FROM filled
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The operator is byte-level and handles ANY payload (NULL/empty/
    # non-ASCII — unit-tested); the ORACLE replays bytes through
    # VARCHAR ord()/substring, which is byte-faithful only where byte
    # count == char count. Grade on that (pure-ASCII) domain.
    d = table(spark, sf_dir, "documents").filter(
        F.octet_length("text") == F.length("text")
    )
    feats = extract_features(attach_binary_payload(d), n_features=8, fake=True)
    return feats.select(
        "doc_id",
        "mime",
        "n_bytes",
        "mean_byte",
        F.posexplode("feature").alias("bucket", "feat"),
    )


# C5b frame sampling: one media row -> every 4th 64-byte frame. The
# fake decode slices the binary payload, so the oracle can replay it
# with VARCHAR slicing (the documents corpus is pure ASCII: byte
# offsets == character offsets; frames compared by md5).
@query(
    "q_frame_sample",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT)))
               AS raw_idx,
             text
      FROM documents
      WHERE octet_length(encode(text)) = length(text)
    )
    SELECT doc_id, CAST(raw_idx // 4 AS INT) AS frame_idx,
           md5(substring(text, CAST(raw_idx * 64 + 1 AS INT), 64)) AS frame_md5,
           CAST(length(substring(text, CAST(raw_idx * 64 + 1 AS INT), 64)) AS INT)
             AS n_frame_bytes
    FROM f WHERE raw_idx % 4 = 0
    """,
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ASCII grading domain — see q_multimodal_features.
    d = table(spark, sf_dir, "documents").filter(
        F.octet_length("text") == F.length("text")
    )
    frames = sample_frames(
        attach_binary_payload(d), frame_size=64, every_k=4, fake=True
    )
    return frames.select(
        "doc_id",
        "frame_idx",
        F.md5("frame").alias("frame_md5"),
        F.length("frame").cast("int").alias("n_frame_bytes"),
    )


# C5c resize: keep every 4th byte (1-D nearest-neighbor analog);
# oracle rebuilds the strided string with an ordered string_agg.
@query(
    "q_media_resize",
    oracle="""
    WITH r AS (
      -- NULL AND zero-byte payloads resize to NULL: the module-wide
      -- null contract (operators/multimodal.py, r12 — "nothing to
      -- process" NULLs out in BOTH modes; an empty payload with a
      -- valid mime must never reach a codec and kill its Arrow batch).
      SELECT doc_id,
             CASE WHEN text IS NULL OR length(text) = 0 THEN NULL
                  ELSE array_to_string(list_transform(
                         range(1, length(text) + 1, 4),
                         i -> substring(text, CAST(i AS INT), 1)), '')
             END AS resized
      FROM documents
      WHERE text IS NULL OR octet_length(encode(text)) = length(text)
    )
    SELECT d.doc_id, 'text/plain' AS mime,
           CAST(length(d.text) AS INT) AS orig_bytes,
           md5(r.resized) AS resized_md5,
           CAST(length(r.resized) AS INT) AS resized_bytes
    FROM documents d JOIN r ON d.doc_id = r.doc_id
    """,
)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ASCII grading domain (see q_multimodal_features), but NULL
    # payloads stay in: resize is 1:1 and its NULL-row contract is
    # graded through the oracle's CASE.
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNull()
        | (F.octet_length("text") == F.length("text"))
    )
    resized = resize_media(attach_binary_payload(d), factor=4, fake=True)
    return resized.select(
        "doc_id",
        "mime",
        "orig_bytes",
        F.md5("resized").alias("resized_md5"),
        F.length("resized").cast("int").alias("resized_bytes"),
    )


# --------------------------------------------------------------------
# C6 document chunking: overlapping token windows (window 50, stride
# 40 -> 10-token overlap), the pre-tokenization fan-out before
# embedding/training. Generate-node expansion, no shuffle.
# --------------------------------------------------------------------
@query(
    "q_chunk_docs",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
               WHERE text IS NOT NULL),
    c AS (
      SELECT doc_id, toks,
             greatest(CAST(ceil((len(toks) - 50) / 40.0) AS BIGINT) + 1, 1) AS n
      FROM t
    ),
    x AS (SELECT doc_id, toks, unnest(range(0, n)) AS chunk_id FROM c)
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           CAST(len(toks[chunk_id * 40 + 1 : chunk_id * 40 + 50]) AS INT) AS n_tokens,
           array_to_string(toks[chunk_id * 40 + 1 : chunk_id * 40 + 50], ' ') AS chunk_text
    FROM x
    """,
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.chunking import chunk_tokens  # noqa: PLC0415

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_tokens(d, "text", window=50, stride=40)


# --------------------------------------------------------------------
# C7 deterministic train/val/test split: content-addressed bucket =
# int(md5("42:" || key)[:8 hex]) % 1000, 80/10/10 by per-mille
# boundary. randomSplit would re-deal membership every run; this is a
# pure function of the key (map-side projection, zero shuffle).
# --------------------------------------------------------------------
def _dd_h32(expr: str) -> str:
    """DuckDB mirror of operators/splits.hash_mod(key, 2^32): integer
    value of the first 8 hex digits of md5("42:" || key)."""
    return (
        "list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 9), i -> "
        f"(strpos('0123456789abcdef', substr(md5('42:' || CAST({expr} AS VARCHAR)), i, 1)) - 1)::BIGINT)), "
        "(acc, d) -> acc * 16 + d)"
    )


_DD_BUCKET1000 = f"{_dd_h32('doc_id')} % 1000"


@query(
    "q_split_hash",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {_DD_BUCKET1000} < 800 THEN 'train'
                WHEN {_DD_BUCKET1000} < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.splits import hash_split  # noqa: PLC0415

    d = table(spark, sf_dir, "documents").select("doc_id")
    return hash_split(d, "doc_id")


# --------------------------------------------------------------------
# C17 corpus mixing (operators/splits.py::mix_corpora): weighted
# union of corpora into one training stream — "head" sources kept
# whole, "mid" at 50%, "tail" at 25%. Content-addressed membership
# (same md5-bucket primitive as q_split_hash), so the oracle replays
# the exact per-corpus bucket thresholds. Map-side: filter + tag +
# union, zero shuffle.
# --------------------------------------------------------------------
_DD_SRCNUM = "CAST(substr(source, 4) AS INT)"


@query(
    "q_mix_corpora",
    oracle=f"""
    SELECT doc_id, lang, source,
           CASE WHEN {_DD_SRCNUM} < 6 THEN 'head'
                WHEN {_DD_SRCNUM} < 13 THEN 'mid'
                ELSE 'tail' END AS corpus
    FROM documents
    WHERE {_DD_BUCKET1000} <
          CASE WHEN {_DD_SRCNUM} < 6 THEN 1000
               WHEN {_DD_SRCNUM} < 13 THEN 500
               ELSE 250 END
    """,
)
def q_mix_corpora(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.splits import mix_corpora  # noqa: PLC0415

    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    srcnum = F.substring("source", 4, 10).cast("int")
    return mix_corpora(
        {
            "head": (d.filter(srcnum < 6), 1.0),
            "mid": (d.filter((srcnum >= 6) & (srcnum < 13)), 0.5),
            "tail": (d.filter(srcnum >= 13), 0.25),
        },
        key_col="doc_id",
    )


# --------------------------------------------------------------------
# C18 training-shard export (operators/splits.py::write_training_shards):
# content-addressed shard id + stable within-shard order — the layout
# trainers map to dataloader workers. The qkey grades the assignment +
# ordering contract (shard, doc_id, ord); the physical partitionBy
# write is exercised in tests/test_llm.py.
# --------------------------------------------------------------------
_DD_SHARD16 = f"{_dd_h32('doc_id')} % 16"


@query(
    "q_export_shards",
    oracle=f"""
    SELECT shard, doc_id,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id)
                AS INT) AS ord
    FROM (SELECT doc_id, CAST({_DD_SHARD16} AS INT) AS shard FROM documents)
    """,
)
def q_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    from pipeline_airflow_docker_spark.operators.splits import shard_assign  # noqa: PLC0415

    d = table(spark, sf_dir, "documents").select("doc_id")
    sharded = shard_assign(d, "doc_id", n_shards=16)
    w = Window.partitionBy("shard").orderBy("doc_id")
    return sharded.select(
        "shard", "doc_id", F.row_number().over(w).alias("ord")
    )


# --------------------------------------------------------------------
# Deterministic global shuffle (operators/splits.py::shuffled_order):
# the epoch-0 training permutation as a (shard, pos) coordinate —
# shard by seeded hash (seed 42), order within shard by an independent
# hash (seed 43). A global row_number() OVER (ORDER BY hash) would
# funnel the corpus through ONE window partition; sharding first keeps
# every window partition at ~1/n_shards and scales with n_shards.
# Content-addressed, so the oracle replays the permutation exactly.
# --------------------------------------------------------------------
@query(
    "q_shuffle_order",
    oracle=f"""
    SELECT doc_id, shard,
           CAST(row_number() OVER (
             PARTITION BY shard
             ORDER BY md5('43:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS INT) AS pos
    FROM (SELECT doc_id, CAST({_DD_SHARD16} AS INT) AS shard FROM documents)
    """,
)
def q_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.splits import shuffled_order  # noqa: PLC0415

    d = table(spark, sf_dir, "documents").select("doc_id")
    return shuffled_order(d, "doc_id", n_shards=16).select("doc_id", "shard", "pos")


# --------------------------------------------------------------------
# Leakage-safe grouped split (operators/splits.py::hash_split keyed on
# the GROUP attribute): hashing `source` instead of `doc_id` sends
# every document of a source to the SAME split — near-duplicates
# cluster within sources, so splitting by document would leak
# train-set text into eval. Same map-side content-addressed machinery
# as q_split_hash; the invariant (one split per source) is pinned in
# tests/test_llm.py.
# --------------------------------------------------------------------
_DD_SRCBUCKET1000 = f"{_dd_h32('source')} % 1000"


@query(
    "q_split_grouped",
    oracle=f"""
    SELECT doc_id, source,
           CASE WHEN {_DD_SRCBUCKET1000} < 800 THEN 'train'
                WHEN {_DD_SRCBUCKET1000} < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q_split_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.splits import hash_split  # noqa: PLC0415

    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    return hash_split(d, "source")


# --------------------------------------------------------------------
# C8 end-to-end corpus clean (operators/corpus.py): quality gate ->
# minhash near-dup pairs -> connected-components keep-min-id ->
# deterministic split. The oracle replays every stage over the `kept`
# subset (the minhash CTE block is reused with its source table
# swapped), so the full pipeline is hash-checked, not just its parts.
# --------------------------------------------------------------------
_DD_QUALITY = f"""
      SELECT doc_id,
             round(0.4 * least(len(toks)::DOUBLE / 100.0, 1.0)
                   + 0.3 * (len(list_distinct(toks))::DOUBLE / len(toks))
                   + 0.3 * (1.0 - len(list_filter(toks, t -> t IN {_DD_STOP}))::DOUBLE / len(toks)),
                   6) AS quality
      FROM (SELECT doc_id, {_DD_TOKS} FROM documents)
"""


@query(
    "q_corpus_clean",
    oracle=f"""
    WITH RECURSIVE
    q AS ({_DD_QUALITY}),
    kept AS (
      SELECT d.doc_id, d.text, q.quality
      FROM documents d JOIN q USING (doc_id) WHERE q.quality >= 0.6
    ),
    {_DD_MINHASH_PAIR_CTES.replace("FROM documents", "FROM kept").lstrip()},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach AS (
      SELECT src AS id, dst AS peer FROM edges
      UNION
      SELECT r.id, e.dst AS peer FROM reach r JOIN edges e ON r.peer = e.src
    ),
    comp AS (
      SELECT k.doc_id,
             LEAST(k.doc_id, COALESCE(MIN(r.peer), k.doc_id)) AS component
      FROM kept k LEFT JOIN reach r ON k.doc_id = r.id
      GROUP BY k.doc_id
    )
    SELECT doc_id, quality,
           CASE WHEN {_DD_BUCKET1000} < 800 THEN 'train'
                WHEN {_DD_BUCKET1000} < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT k.doc_id, k.quality
      FROM kept k JOIN comp c ON k.doc_id = c.doc_id AND k.doc_id = c.component
    )
    """,
)
def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.corpus import clean_corpus  # noqa: PLC0415

    return clean_corpus(table(spark, sf_dir, "documents"), quality_min=0.6)


# --------------------------------------------------------------------
# C9 PII redaction (operators/redact.py): chained regex scrub under
# the declared ASCII-boundary / explicit-whitespace contract (module
# docstring there — bare \b and \s diverge across Java and RE2); the
# oracle interpolates the RE2 spelling from the same PII_PATTERNS
# table. Redacted text compared by md5; n_pii counts the replacement
# tokens in the final text (counting patterns on the raw text would
# double-count — an SSN/IPv4 is also a phone-shaped run).
# --------------------------------------------------------------------
@query(
    "q_redact_pii",
    oracle=f"""
    WITH r AS (
      SELECT doc_id,
             {oracle_redact_sql("text")} AS redacted
      FROM documents
    )
    SELECT doc_id, md5(redacted) AS redacted_md5,
           CAST(len(regexp_extract_all(redacted, '{pii_token_alternation()}')) AS INT)
             AS n_pii
    FROM r
    """,
)
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.redact import redact_pii  # noqa: PLC0415

    d = table(spark, sf_dir, "documents")
    out = redact_pii(d, text_col="text", out_col="redacted")
    return out.select(
        "doc_id", F.md5("redacted").alias("redacted_md5"), "n_pii"
    )


# --------------------------------------------------------------------
# C10 deterministic stratified downsampling: cap every (lang, source)
# stratum at 5 docs by seeded-hash rank — the rebalancing pass for
# over-represented sources. Oracle replays the identical window.
# --------------------------------------------------------------------
@query(
    "q_downsample",
    oracle="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (
               PARTITION BY lang, source
               ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def q_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.splits import (  # noqa: PLC0415
        stratified_downsample,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_downsample(d, ["lang", "source"], 5, key_col="doc_id")


# --------------------------------------------------------------------
# C11 sequence packing (operators/packing.py): concat-and-cut GPT-style
# layout — per-language exclusive running token sum, cut every 256
# tokens. Oracle replays the identical window arithmetic.
# --------------------------------------------------------------------
@query(
    "q_pack_sequences",
    oracle="""
    SELECT doc_id, lang, n_tokens,
           CAST(start // 256 AS BIGINT) AS pack_id,
           CAST(start % 256 AS INT) AS pack_offset
    FROM (
      SELECT doc_id, lang, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      FROM (SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
            FROM documents)
    )
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.functions.text import tokens  # noqa: PLC0415
    from pipeline_airflow_docker_spark.operators.packing import (  # noqa: PLC0415
        pack_sequences,
    )

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(tokens("text")).alias("n_tokens")
    )
    return pack_sequences(
        d, "n_tokens", 256, part_cols=("lang",), order_cols=("doc_id",)
    )


# --------------------------------------------------------------------
# C12 benchmark decontamination (operators/decontam.py): drop training
# docs sharing any token 3-gram with the benchmark set (stand-in
# benchmark: doc_id % 97 == 0 — a small deterministic eval slice).
# --------------------------------------------------------------------
@query(
    "q_decontaminate",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {_DD_SHINGLES3}
      FROM (SELECT doc_id, {_DD_TOKS} FROM documents)
    ),
    bg AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 97 = 0),
    cg AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 97 <> 0),
    bad AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (g))
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.decontam import (  # noqa: PLC0415
        decontaminate,
    )

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, "doc_id", "text", n=3).select(
        "doc_id", "lang", "source"
    )


# --------------------------------------------------------------------
# C13 repetition quality filter (operators/textstats.py): Gopher-style
# top-bigram / duplicate-bigram fractions + keep verdict. Oracle
# replays the identical two-level aggregate.
# --------------------------------------------------------------------
@query(
    "q_repetition",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
                 WHERE text IS NOT NULL),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
               i -> concat_ws(' ', toks[i], toks[i+1]))) AS g
      FROM tok
    ),
    pg AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g GROUP BY doc_id, g),
    a AS (
      SELECT doc_id, SUM(cnt) AS n_grams, MAX(cnt) AS top_cnt,
             SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_cnt
      FROM pg GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           top_cnt::DOUBLE / n_grams AS top_gram_frac,
           dup_cnt::DOUBLE / n_grams AS dup_gram_frac,
           (top_cnt::DOUBLE / n_grams <= 0.20
            AND dup_cnt::DOUBLE / n_grams <= 0.50) AS keep
    FROM a
    """,
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.textstats import (  # noqa: PLC0415
        repetition_stats,
    )

    d = table(spark, sf_dir, "documents")
    return repetition_stats(d, "doc_id", "text", n=2)


# --------------------------------------------------------------------
# C14 embedding normalization + int8 quantization
# (operators/embeddings.py): per-vector absmax scale, half-up int8
# elements, L2 norm, unit vector — all sequential-fold/elementwise
# double math, bit-identical in the oracle.
# --------------------------------------------------------------------
@query(
    "q_embed_quantize",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx,
             {_DD_DOT.format(a="embedding", b="embedding")} AS n2
      FROM embeddings
    ),
    v AS (
      SELECT vec_id, mx / 127.0 AS scale, sqrt(n2) AS vnorm,
             unnest(embedding)::DOUBLE AS x,
             CAST(unnest(range(0, len(embedding))) AS INT) AS dim
      FROM b
    )
    SELECT vec_id, scale, vnorm, dim,
           CASE WHEN scale > 0
                THEN CAST(floor(x / scale + 0.5) AS INT) ELSE 0 END AS q_i,
           CASE WHEN vnorm > 0 THEN x / vnorm ELSE 0.0 END AS unit_i
    FROM v
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Posexploded to (vec_id, dim, q_i, unit_i) rows: the operator API
    # keeps the array form; the plan emits a shape the driver's
    # canonicalizer can sort and hash (it cannot sort list columns).
    from pipeline_airflow_docker_spark.operators.embeddings import (  # noqa: PLC0415
        l2_normalize,
        quantize_int8,
    )

    e = table(spark, sf_dir, "embeddings")
    out = l2_normalize(quantize_int8(e, "embedding"), "embedding", "unit")
    return out.select(
        "vec_id",
        "scale",
        "vnorm",
        F.posexplode(F.arrays_zip("q", "unit")).alias("dim", "zipped"),
    ).select(
        "vec_id",
        "scale",
        "vnorm",
        "dim",
        F.col("zipped.q").alias("q_i"),
        F.col("zipped.unit").alias("unit_i"),
    )


# --------------------------------------------------------------------
# C15 incremental dedup (operators/dedup.py::minhash_incremental):
# new docs (odd ids — the arriving batch) kept only if not a verified
# MinHash near-dup of the existing corpus (even ids). The oracle reuses
# the full minhash pair CTEs and keeps only cross-parity hits.
# --------------------------------------------------------------------
@query(
    "q_dedup_incremental",
    oracle=f"""
    WITH {_DD_MINHASH_PAIR_CTES},
    bad AS (
      SELECT CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS doc_id
      FROM pairs WHERE (id_a % 2) <> (id_b % 2)
    )
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.dedup import (  # noqa: PLC0415
        minhash_incremental,
    )

    d = table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 2 == 1)
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    return minhash_incremental(
        new, corpus, "doc_id", "text", n=3, n_hashes=8, n_bands=4, threshold=0.8
    ).select("doc_id", "lang", "source")


# --------------------------------------------------------------------
# C16 semantic dedup (SemDeDup shape): embedding-cosine near-dup pairs
# blocked on a deterministic sign-LSH bucket -> connected components ->
# keep-min-id. The kept representative of each semantic cluster is the
# row with id == component. Oracle replays bucket + pairs + a
# recursive-CTE transitive closure.
# --------------------------------------------------------------------
_DD_SIGN_BUCKET4 = (
    "list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 4), "
    "i -> CASE WHEN embedding[i+1]::DOUBLE > 0 THEN CAST(pow(2, i) AS BIGINT) "
    "ELSE 0 END)), (a, x) -> a + x)"
)


@query(
    "q_semdedup",
    oracle=f"""
    WITH RECURSIVE b AS (
      SELECT vec_id, embedding, {_DD_SIGN_BUCKET4} AS bkt FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b
      FROM b a JOIN b c ON a.bkt = c.bkt AND a.vec_id < c.vec_id
      WHERE {_dd_cos('a.embedding', 'c.embedding')} >= 0.35
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach AS (
      SELECT src AS id, dst AS peer FROM edges
      UNION
      SELECT r.id, e.dst AS peer FROM reach r JOIN edges e ON r.peer = e.src
    )
    SELECT em.vec_id AS id,
           LEAST(em.vec_id, COALESCE(MIN(r.peer), em.vec_id)) AS component
    FROM embeddings em LEFT JOIN reach r ON em.vec_id = r.id
    GROUP BY em.vec_id
    """,
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    pairs = embedding_dup_pairs(
        e, "vec_id", "embedding", threshold=0.35, bucketed=True, n_bits=4
    ).select("id_a", "id_b")
    return resolve_components(e.select("vec_id"), pairs, id_col="vec_id")


# --------------------------------------------------------------------
# C19 line/segment-level boilerplate removal (the C4/RefinedWeb pass;
# operators/dedup.py::segment_boilerplate_removal): non-overlapping
# 10-token segments, drop segments occurring in >=2 distinct docs,
# reassemble survivors in order. Segment df-count is the one corpus
# shuffle; the boilerplate set broadcasts back for a map-side
# anti-join.
# --------------------------------------------------------------------
@query(
    "q_segment_dedup",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    segs AS (
      SELECT doc_id, CAST(i AS INT) AS pos,
             array_to_string(toks[i*10+1 : (i+1)*10], ' ') AS seg
      FROM (SELECT doc_id, toks,
                   unnest(range(0, CAST(ceil(len(toks)/10.0) AS BIGINT)))
                     AS i
            FROM t)
    ),
    boiler AS (
      SELECT seg FROM segs GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    kept AS (
      SELECT s.* FROM segs s WHERE s.seg NOT IN (SELECT seg FROM boiler)
    )
    SELECT doc_id,
           string_agg(seg, ' ' ORDER BY pos) AS text_clean,
           COUNT(*) AS n_kept
    FROM kept GROUP BY doc_id
    """,
)
def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.dedup import (  # noqa: PLC0415
        segment_boilerplate_removal,
    )

    d = table(spark, sf_dir, "documents")
    return segment_boilerplate_removal(d, "doc_id", "text", seg_tokens=10, min_docs=2)


# --------------------------------------------------------------------
# C20 capstone: end-to-end training-data EXPORT pipeline — the "run
# your whole workload here" composition: segment-level boilerplate
# removal -> quality gate on the CLEANED text -> whitespace token
# budget -> content-addressed split -> shard assignment for the train
# split. Every stage reuses an already-oracle-checked fragment, so
# the full five-stage pipeline is hash-checked as one unit. Plan
# shape: one segment shuffle + broadcast anti-join (C19), map-side
# quality/tokens/split/shard — no additional shuffles.
# --------------------------------------------------------------------
@query(
    "q_train_export",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    segs AS (
      SELECT doc_id, CAST(i AS INT) AS pos,
             array_to_string(toks[i*10+1 : (i+1)*10], ' ') AS seg
      FROM (SELECT doc_id, toks,
                   unnest(range(0, CAST(ceil(len(toks)/10.0) AS BIGINT)))
                     AS i
            FROM t)
    ),
    boiler AS (
      SELECT seg FROM segs GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    cleaned AS (
      SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text
      FROM segs WHERE seg NOT IN (SELECT seg FROM boiler)
      GROUP BY doc_id
    ),
    q AS (
      SELECT doc_id,
             round(0.4 * least(len(toks)::DOUBLE / 100.0, 1.0)
                   + 0.3 * (len(list_distinct(toks))::DOUBLE / len(toks))
                   + 0.3 * (1.0 - len(list_filter(toks, t -> t IN {_DD_STOP}))::DOUBLE / len(toks)),
                   6) AS quality,
             len(toks) AS n_tokens
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM cleaned)
    ),
    gated AS (SELECT doc_id, quality, n_tokens FROM q WHERE quality >= 0.5)
    SELECT doc_id, quality, CAST(n_tokens AS INT) AS n_tokens,
           CASE WHEN {_DD_BUCKET1000} < 800 THEN 'train'
                WHEN {_DD_BUCKET1000} < 900 THEN 'val'
                ELSE 'test' END AS split,
           CASE WHEN {_DD_BUCKET1000} < 800
                THEN CAST({_DD_SHARD16} AS INT) ELSE -1 END AS shard
    FROM gated
    """,
)
def q_train_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.dedup import (  # noqa: PLC0415
        segment_boilerplate_removal,
    )
    from pipeline_airflow_docker_spark.operators.splits import (  # noqa: PLC0415
        hash_mod,
        hash_split,
    )

    from pipeline_airflow_docker_spark.operators.textstats import (  # noqa: PLC0415
        quality_expr,
    )

    d = table(spark, sf_dir, "documents")
    cleaned = segment_boilerplate_removal(
        d, "doc_id", "text", seg_tokens=10, min_docs=2
    ).select("doc_id", F.col("text_clean").alias("text"))
    # quality + token budget inline (one projection): joining
    # quality_score's output back to the text would plan the whole
    # segment-removal subtree twice.
    scored = cleaned.select(
        "doc_id",
        quality_expr("text").alias("quality"),
        F.size(F.split("text", " ")).cast("int").alias("n_tokens"),
    )
    gated = scored.filter(F.col("quality") >= 0.5)
    split = hash_split(gated, "doc_id")
    return split.select(
        "doc_id",
        "quality",
        "n_tokens",
        "split",
        F.when(
            F.col("split") == "train", hash_mod(F.col("doc_id"), 16).cast("int")
        )
        .otherwise(F.lit(-1))
        .alias("shard"),
    )


# --------------------------------------------------------------------
# C3c IVF with a TRAINED quantizer: kmeans_centroids output feeds
# knn_cosine_ivf(anchors=...) — the FAISS train-then-index shape,
# composed from two independently-oracle-checked pieces. The oracle
# chains the unrolled-Lloyd's CTEs (centroids c3) into the IVF
# cell/probe/score replay; snapped centroids keep the whole composite
# bit-reproducible cross-engine.
# --------------------------------------------------------------------
def _ivf_trained_oracle() -> str:
    km = ",\n    ".join(_km_cte_list(k=8, n_iter=3, snap_bits=20))
    return f"""
    WITH {km},
    a AS (SELECT cid AS aid, cv AS av FROM c3),
    cells AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT c.vec_id, c.embedding, a.aid AS cell,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                   ORDER BY {_dd_cos('c.embedding', 'a.av')} DESC, a.aid) AS rn
        FROM embeddings c CROSS JOIN a
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qv, a.aid AS cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY {_dd_cos('q.embedding', 'a.av')} DESC, a.aid) AS rn
        FROM embeddings q CROSS JOIN a WHERE q.vec_id < 10
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             {_dd_cos('p.qv', 'c.embedding')} AS cos
      FROM probes p JOIN cells c
        ON p.cell = c.cell AND c.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """


@query("q_knn_ivf_trained", oracle=_ivf_trained_oracle())
def q_knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.similarity import (  # noqa: PLC0415
        kmeans_centroids,
    )

    e = table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(e, k=8, n_iter=3, snap_bits=20)
    anchors = [(i, c) for i, c in enumerate(cents)]
    return knn_cosine_ivf(
        e.filter(F.col("vec_id") < 10), e, k=3, n_probe=2, anchors=anchors
    )


# --------------------------------------------------------------------
# C21 Gopher quality rules (operators/textstats.py::gopher_rules):
# the standard heuristic document gate — token-count bounds, mean
# token length, symbol ratio, alphabetic-word ratio, composite keep.
# Map-side only.
# --------------------------------------------------------------------
@query(
    "q_gopher_rules",
    oracle=f"""
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           list_reduce(list_prepend(0, list_transform(toks, t -> length(t)::INT)),
                       (a, x) -> a + x)::DOUBLE / len(toks) AS avg_token_len,
           len(list_filter(toks, t -> contains(t, '#') OR contains(t, '...')))::DOUBLE
             / len(toks) AS symbol_ratio,
           len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))::DOUBLE
             / len(toks) AS alpha_word_ratio,
           len(toks) >= 50 AND len(toks) <= 100000
             AND list_reduce(list_prepend(0, list_transform(toks, t -> length(t)::INT)),
                             (a, x) -> a + x)::DOUBLE / len(toks) >= 3.0
             AND list_reduce(list_prepend(0, list_transform(toks, t -> length(t)::INT)),
                             (a, x) -> a + x)::DOUBLE / len(toks) <= 10.0
             AND len(list_filter(toks, t -> contains(t, '#') OR contains(t, '...')))::DOUBLE
                   / len(toks) <= 0.1
             AND len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))::DOUBLE
                   / len(toks) >= 0.8
             AS keep
    FROM (SELECT doc_id, {_DD_TOKS} FROM documents)
    """,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.textstats import gopher_rules  # noqa: PLC0415

    return gopher_rules(table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------
# C22 corpus statistics rollup — the dataset-card / mixture-planning
# table: per (source, lang) document counts, token totals, byte
# totals, and share-of-corpus. One grouped aggregate (map-side
# combined) + a 1-row total broadcast; the shape every mixture
# decision (mix_corpora rates, downsample caps) is planned from.
# --------------------------------------------------------------------
@query(
    "q_corpus_stats",
    oracle="""
    WITH per AS (
      SELECT source, lang,
             COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
             CAST(SUM(length(text)) AS BIGINT) AS n_bytes
      FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT SUM(n_tokens) AS t FROM per)
    SELECT source, lang, n_docs, n_tokens, n_bytes,
           n_tokens::DOUBLE / (SELECT t FROM tot) AS token_share
    FROM per
    """,
)
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    per = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        F.sum(F.length("text")).alias("n_bytes"),
    )
    total = per.agg(F.sum("n_tokens").alias("t"))
    return per.crossJoin(F.broadcast(total)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        "n_bytes",
        (F.col("n_tokens") / F.col("t")).alias("token_share"),
    )


# --------------------------------------------------------------------
# C2f dup resolution with QUALITY-priority representatives: same
# connected components as q_dedup_resolve, but each dup cluster keeps
# its highest-quality member (ties -> lowest id) instead of the
# lowest id — what production dedup actually wants (min-id discards
# the better copy half the time). One extra window over the component
# key; the component build is unchanged.
# --------------------------------------------------------------------
@query(
    "q_dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_DD_MINHASH_PAIR_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach AS (
      SELECT src AS id, dst AS peer FROM edges
      UNION
      SELECT r.id, e.dst AS peer FROM reach r JOIN edges e ON r.peer = e.src
    ),
    comp AS (
      SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(r.peer), d.doc_id)) AS component
      FROM documents d LEFT JOIN reach r ON d.doc_id = r.id
      GROUP BY d.doc_id
    ),
    q AS ({_DD_QUALITY}),
    ranked AS (
      SELECT c.doc_id, c.component, q.quality,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY q.quality DESC, c.doc_id) AS rn
      FROM comp c JOIN q ON c.doc_id = q.doc_id
    )
    SELECT doc_id, component, quality FROM ranked WHERE rn = 1
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    d = table(spark, sf_dir, "documents")
    pairs = minhash_dup_pairs(
        d, "doc_id", "text", n=3, n_hashes=8, n_bands=4, threshold=0.8
    ).select("id_a", "id_b")
    comp = resolve_components(d.select("doc_id"), pairs, id_col="doc_id")
    q = quality_score(d)
    scored = comp.join(q, comp["id"] == q["doc_id"]).select(
        "doc_id", "component", "quality"
    )
    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), "doc_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --------------------------------------------------------------------
# C25 temperature-scaled mixture (operators/splits.py::
# temperature_downsample): rebalance languages so the kept corpus
# mixes ∝ count^0.5 — the multilingual temperature-sampling standard
# (mT5 §3.1 / XLM-R shape) expressed as a deterministic filter. The
# smallest language keeps everything; each larger one keeps
# sqrt(n_min/n) of its docs by content-addressed per-mille bucket, so
# membership is a pure function of doc_id and the language counts.
# Plan: grouped count -> 1-row global-min broadcast -> 5-row bound
# table broadcast to the fact scan; the documents table never
# shuffles. Oracle replays the identical bound arithmetic (IEEE
# division/sqrt/floor are correctly rounded — bit-identical bounds)
# over the same md5 bucket.
# --------------------------------------------------------------------
@query(
    "q_mix_temperature",
    oracle=f"""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT MIN(n) AS n_min FROM c),
    b AS (
      SELECT lang,
             CAST(FLOOR(sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE)) * 1000)
                  AS BIGINT) AS bound
      FROM c, m
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN b USING (lang)
    WHERE {_DD_BUCKET1000} < b.bound
    """,
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.splits import (  # noqa: PLC0415
        temperature_downsample,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return temperature_downsample(d, group_col="lang", key_col="doc_id", alpha=0.5)


# --------------------------------------------------------------------
# C26 lexical diversity (type-token ratio) — the corpus-quality signal
# repetition_stats (C13) approaches from the n-gram side, computed
# per document from the unique-word fraction: templated/spun/generated
# text scores low, natural prose high (MTLD's first moment). Pure
# map-side array math — split, array_distinct, two sizes and one IEEE
# division — zero shuffle (plan-gated), so it composes into any
# quality gate for free. DuckDB mirrors with string_split +
# list_distinct.
# --------------------------------------------------------------------
@query(
    "q_lexical_diversity",
    oracle="""
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_types,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')) AS ttr
    FROM documents
    """,
)
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks).alias("n_tokens")
    n_types = F.size(F.array_distinct(toks)).alias("n_types")
    return d.select(
        "doc_id",
        "lang",
        n_tokens,
        n_types,
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("ttr"),
    )


# --------------------------------------------------------------------
# C27 per-source caps (operators/splits.py::cap_per_group): hard
# ceiling of 10 docs per source, membership content-addressed by
# seeded md5 priority. The oracle replays the identical window.
# --------------------------------------------------------------------
@query(
    "q_source_caps",
    oracle="""
    SELECT doc_id, source, cap_rank FROM (
      SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS INT) AS cap_rank
      FROM documents
    ) WHERE cap_rank <= 10
    """,
)
def q_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.splits import (  # noqa: PLC0415
        cap_per_group,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(d, ["source"], cap=10, key_col="doc_id")


# --------------------------------------------------------------------
# C28 weighted sampling (operators/splits.py::weighted_sample):
# Efraimidis–Spirakis A-ES, weight = n_chars, k = 100. Content-
# addressed u, so the oracle reproduces the exact sample: score =
# round(ln((h32 + 0.5) / 2^32) / w, 9), top-k by (score desc, key).
# The + 0.0 normalizes negative zero (r12 probe): the score tends to
# 0⁻ as h32 -> 2^32, and round(-tiny) is +0.0 on Spark (BigDecimal
# has no -0) but -0.0 on DuckDB (binary nearbyint) — a ~2-in-2^32
# per-doc hash event, unreachable in any fixture but real over a
# billion-doc corpus. Pinned in test_cast_grammar.py.
# --------------------------------------------------------------------
@query(
    "q_sample_weighted",
    oracle=f"""
    SELECT doc_id, n_chars,
           round(ln(({_dd_h32("doc_id")} + 0.5) / 4294967296.0)
                 / n_chars, 9) + 0.0 AS sample_score
    FROM documents
    WHERE n_chars > 0
    ORDER BY sample_score DESC, doc_id
    LIMIT 100
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.splits import (  # noqa: PLC0415
        weighted_sample,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(d, weight_col="n_chars", k=100, key_col="doc_id")


# --------------------------------------------------------------------
# C29 word-distribution entropy (operators/textstats.py::word_entropy)
# per source: H = ln(S) - sum(c*ln(c))/S, terms rounded to 6dp and
# summed in exact DECIMAL (order-independent); decimal -> double via
# the VARCHAR round-trip on the DuckDB side (correctly-rounded — see
# q_agg_moments' engine-quirk note).
# --------------------------------------------------------------------
@query(
    "q_word_entropy",
    oracle="""
    WITH w AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    c AS (
      SELECT source, w, count(*) AS c FROM w WHERE w <> '' GROUP BY source, w
    ),
    a AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
             CAST(CAST(sum(CAST(round(c * ln(c), 6) AS DECIMAL(28,6)))
                  AS VARCHAR) AS DOUBLE) AS sclc
      FROM c GROUP BY source
    )
    SELECT source, n_tokens, n_types,
           round(ln(n_tokens::DOUBLE) - sclc / n_tokens::DOUBLE, 6)
             AS entropy_nats
    FROM a
    """,
)
def q_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.textstats import (  # noqa: PLC0415
        word_entropy,
    )

    return word_entropy(table(spark, sf_dir, "documents"), "source")


# --------------------------------------------------------------------
# C30 bigram PMI (operators/textstats.py::pmi_bigrams): top-20
# collocations, PMI in log space with a FIXED association order so no
# count product overflows and both engines produce the identical
# double: ln(b) + 2*ln(tu) - ln(tb) - ln(u1) - ln(u2).
# --------------------------------------------------------------------
@query(
    "q_pmi_bigrams",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    pairs AS (
      SELECT p.w1 AS w1, p.w2 AS w2 FROM (
        SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                      i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p
        FROM toks
      )
    ),
    bi AS (SELECT w1, w2, count(*) AS pair_count FROM pairs GROUP BY w1, w2),
    uni AS (
      SELECT w, count(*) AS u FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE w <> '' GROUP BY w
    ),
    tot AS (SELECT (SELECT sum(pair_count) FROM bi) AS tb,
                   (SELECT sum(u) FROM uni) AS tu)
    SELECT w1, w2, pair_count,
           round(ln(pair_count) + 2 * ln(tu) - ln(tb) - ln(u1.u) - ln(u2.u),
                 6) AS pmi
    FROM bi, tot
    JOIN uni u1 ON u1.w = bi.w1
    JOIN uni u2 ON u2.w = bi.w2
    WHERE pair_count >= 5
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.textstats import (  # noqa: PLC0415
        pmi_bigrams,
    )

    return pmi_bigrams(table(spark, sf_dir, "documents"), min_count=5, top_k=20)


# --------------------------------------------------------------------
# C31 Zipf slope (operators/textstats.py::zipf_slope) per lang:
# least-squares ln(freq) ~ ln(rank), moments in exact DECIMAL (B37's
# trick), slope as fixed double arithmetic.
# --------------------------------------------------------------------
@query(
    "q_zipf_slope",
    oracle="""
    WITH c AS (
      SELECT lang, w, count(*) AS c FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE w <> '' GROUP BY lang, w
    ),
    xy AS (
      SELECT lang,
             round(ln(ROW_NUMBER() OVER (PARTITION BY lang
                                         ORDER BY c DESC, w)), 8) AS x,
             round(ln(c), 8) AS y
      FROM c
    ),
    m AS (
      SELECT lang, count(*) AS n_types,
             CAST(CAST(sum(CAST(round(x, 8) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(sum(CAST(round(y, 8) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(sum(CAST(round(x * x, 8) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(sum(CAST(round(x * y, 8) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS sxy
      FROM xy GROUP BY lang
    )
    SELECT lang, n_types,
           round((n_types * sxy - sx * sy) / (n_types * sxx - sx * sx), 6)
             AS zipf_slope
    FROM m
    """,
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.textstats import (  # noqa: PLC0415
        zipf_slope,
    )

    return zipf_slope(table(spark, sf_dir, "documents"), "lang")
