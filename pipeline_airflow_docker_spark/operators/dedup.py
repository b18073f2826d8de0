"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2 Part C / BASELINE north star).

Reference parity: the reference's only dedup is the keyed Mongo upsert
(dags/kafka_to_mongo_pipeline_enchanced.py:141-145 — last-writer-wins
by ``id``); these operators generalize that to content-level exact and
near-duplicate removal at corpus scale.

Scale design: every near-dup path here is *blocked* — candidates come
from an equality join on a short key (minhash band, simhash value,
sign-bucket), so the shuffle is keyed and linear-ish in corpus size;
the O(n^2) verify step only runs within tiny candidate buckets. That
is the shape that survives 100 TB; a plain self-join does not.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pipeline_airflow_docker_spark.functions.materialize import materialize, release
from pipeline_airflow_docker_spark.functions.text import (
    band_keys_int,
    int_shingles,
    jaccard,
    minhash_signature_int,
    shingles,
    simhash32_int,
    token_hashes,
    token_hashes32,
    tokens,
)
from pipeline_airflow_docker_spark.functions.vectors import cosine, sign_bucket
from pipeline_airflow_docker_spark.operators.skew import spread


def dedup_exact(df: DataFrame, keys: list[str], order: list[Column] | None = None) -> DataFrame:
    """Keep one deterministic representative row per key group.

    ``dropDuplicates`` keeps an *arbitrary* row (first seen per
    partition) — not reproducible across runs/cluster sizes. This
    variant keeps the first row under an explicit total order; one
    shuffle on the keys."""
    if order is None:
        order = [F.col(c) for c in df.columns if c not in keys][:1] or [F.col(keys[0])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


#: Default ceiling on the estimated candidate-pair count of the two
#: quadratic baseline paths (``ngram_jaccard_pairs`` and un-bucketed
#: ``embedding_dup_pairs``). 10M pairs finishes in seconds on
#: local[32]; the sf1.0 sweep proved what happens without a ceiling —
#: 20 k vectors → ~2·10⁸ BroadcastNestedLoop pairs killed a 128 GiB
#: JVM outright (evidence/parity_sf1_r06_attempt1_crash.log). A
#: baseline must refuse loudly, not take the session down.
QUADRATIC_PAIR_CEILING = 10_000_000


def _check_pair_budget(
    est_pairs: int | None, max_pairs: int, what: str, scale_path: str
) -> None:
    # None = the DECIMAL(38,0) estimate itself overflowed (>= 1e38
    # pairs): unconditionally over any budget — refuse, never pass.
    if est_pairs is None or est_pairs > max_pairs:
        shown = "overflowed (>= 1e38)" if est_pairs is None else f"{est_pairs:,}"
        raise ValueError(
            f"{what}: estimated candidate pairs {shown} exceed "
            f"max_pairs={max_pairs:,}. This is the quadratic correctness "
            f"baseline — at this size use the blocked scale path instead: "
            f"{scale_path}. Pass max_pairs=None only if you accept the "
            f"O(n^2) cost (a 20k-row input has already crashed a 128 GiB "
            f"local JVM)."
        )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    block_col: str | None = None,
    max_pairs: int | None = QUADRATIC_PAIR_CEILING,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (id_a < id_b, jacc >= t).

    Quadratic within a block — the correctness baseline the LSH path
    (minhash_dup_pairs) is measured against. ``block_col`` bounds the
    self-join; at scale always block (or use minhash).

    ``max_pairs`` guards the quadratic blow-up: the sum of per-block
    c·(c-1)/2 is a single engine-side nested aggregate over a
    column-pruned scan of ``block_col`` — only the one-row scalar is
    collected, never per-block rows — and the call refuses with a
    clear error pointing at :func:`minhash_dup_pairs` when it exceeds
    the ceiling. ``None`` disables the guard."""
    if max_pairs is not None:
        blk = F.col(block_col) if block_col else F.lit(1)
        # NULL-block rows never satisfy the a.blk == b.blk equi-join
        # below, so they contribute zero pairs — excluding them keeps
        # the estimate exact instead of refusing a corpus whose bulk
        # is un-blocked (NULL-lang) rows that would never self-join.
        # Σ c·(c-1)/2 is computed ENGINE-SIDE as one nested aggregate
        # over a column-pruned scan of ``block_col``; only the final
        # scalar crosses to the driver. (The earlier per-block
        # ``.collect()`` made the guard itself a driver-side
        # materialization on high-cardinality block columns — the
        # exact failure mode the guard exists to prevent.) The product
        # runs in DECIMAL(38,0), not BIGINT: under default non-ANSI
        # Spark, ``__c * (__c - 1)`` wraps silently past ~3e9 rows per
        # block and a negative estimate would let the guard PASS on
        # exactly the input it must refuse (r10 ADVICE). The halving
        # happens driver-side in arbitrary-precision Python — each
        # c·(c-1) is even, so the summed estimate divides exactly.
        row = (
            df.where(blk.isNotNull())
            .groupBy(blk.alias("__blk"))
            .agg(F.count(F.lit(1)).alias("__c"))
            .agg(
                F.expr("sum(cast(__c AS DECIMAL(38,0)) * (__c - 1))").alias(
                    "__est"
                ),
                F.count(F.lit(1)).alias("__nblk"),
            )
            .first()
        )
        est_sum, n_blocks = row["__est"], row["__nblk"]
        # NULL __est with nonzero blocks = the DECIMAL(38,0) sum
        # itself overflowed (>= 1e38 pairs): under non-ANSI Spark the
        # sum goes NULL, and coalescing to 0 would PASS the guard on
        # exactly the input it must refuse. None propagates to the
        # budget check, which refuses unconditionally.
        est = None if (est_sum is None and n_blocks > 0) else int(est_sum or 0) // 2
        _check_pair_budget(
            est,
            max_pairs,
            "ngram_jaccard_pairs",
            "minhash_dup_pairs (MinHash+LSH band join, linear shuffle)",
        )
    # Materialized once — the self-join reads it twice and would
    # otherwise recompute the shingle pipeline per side (mode knob:
    # functions/materialize.py).
    sh = materialize(
        spread(df, key=id_col)
        # toks staged as a column: the shingle lambda reads it per
        # element; inline it would re-split per access (see
        # _shingle_table).
        .select(
            F.col(id_col).alias("id"),
            *([F.col(block_col).alias("blk")] if block_col else [F.lit(1).alias("blk")]),
            tokens(text_col).alias("__toks"),
        )
        .select(
            "id",
            "blk",
            F.array_distinct(shingles(F.col("__toks"), n)).alias("sh"),
        )
    )
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            jaccard(F.col("a.sh"), F.col("b.sh")).alias("jacc"),
        )
        .filter(F.col("jacc") >= threshold)
    )


def _shingle_table(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, sh) distinct INTEGER-shingle table, materialized once:
    downstream LSH reads it several times (signature + both sides of
    the verify join), and without materialization Spark recomputes the
    CPU-heavy shingle pipeline per use — measured 9× end-to-end at
    sf0.1. Shingles are 40-bit rolling-polynomial hashes of per-token
    md5 ints (functions/text.py::int_shingles): one md5 per TOKEN
    instead of 1 + n_hashes per shingle string, long arrays instead of
    string arrays through materialization and the verify join, and
    Jaccard over the hashed sets is the set-level identical statistic
    (the deterministic mapping is replayed by the DuckDB oracle, so
    even theoretical hash collisions are graded bit-identically). The
    materialization strategy is the deployment knob in
    functions/materialize.py — local_checkpoint for tests,
    disk_persist/parquet_scratch at cluster scale so the shingle table
    never pins executor memory."""
    return materialize(
        # r18: hash-spread on the doc id (unique by contract) instead
        # of round-robin — skips the SPARK-23207 sort-before-repartition
        # pass; q_dedup_minhash 0.955 → 0.735 s, q_dedup_simhash
        # 1.25 → 0.82 s at sf0.1, checksum-identical.
        spread(df, key=id_col)
        # Two projections on purpose: the token-hash array must be a
        # real column before the shingle lambda reads it, or Catalyst
        # re-computes the md5 transform per element access (see
        # functions/text.py::int_shingles).
        .select(
            F.col(id_col).alias("id"),
            token_hashes(tokens(text_col)).alias("__ih"),
        )
        .select(
            "id",
            F.array_distinct(int_shingles(F.col("__ih"), n)).alias("sh"),
        )
    )


def _band_table(sh: DataFrame, n_hashes: int, n_bands: int) -> DataFrame:
    """(id, band, bkey) LSH band keys from the shingle table. Only
    these short keys ever go through the candidate-join shuffle — never
    the shingle arrays, which a band explode would otherwise duplicate
    n_bands× through the shuffle. Signatures are the affine-map integer
    MinHash (functions/text.py::minhash_signature_int) — pure int64
    arithmetic, zero md5 calls."""
    sig = sh.withColumn("sig", minhash_signature_int(F.col("sh"), n_hashes))
    return sig.select(
        "id",
        F.posexplode(
            band_keys_int(F.col("sig"), n_bands, n_hashes // n_bands)
        ).alias("band", "bkey"),
    )


def minhash_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: shingle -> minhash signature -> band
    keys -> candidate pairs via band-equality join -> exact-Jaccard
    verify. The only join is an equi-join on (band, key): the classic
    linear-shuffle LSH plan. P(candidate) = 1-(1-j^r)^b with r=2,b=4:
    j=0.8 -> 0.97, j=0.3 -> 0.31."""
    sh = _shingle_table(df, id_col, text_col, n)
    bands = _band_table(sh, n_hashes, n_bands)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    x, y = sh.alias("x"), sh.alias("y")
    return (
        cand.join(x, F.col("id_a") == F.col("x.id"))
        .join(y, F.col("id_b") == F.col("y.id"))
        .select("id_a", "id_b", jaccard(F.col("x.sh"), F.col("y.sh")).alias("jacc"))
        .filter(F.col("jacc") >= threshold)
    )


def minhash_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental dedup: rows of ``new_df`` that are NOT near-dups
    (MinHash-LSH candidates verified at Jaccard >= ``threshold``) of
    any row already in ``corpus_df``.

    This is the continuous-ingestion shape of corpus dedup: the
    existing corpus' band keys are computed once (in production,
    persisted and appended batch-over-batch — signatures are
    content-addressed so they never need recomputation) and each new
    batch joins only new-side × corpus-side band keys. The shuffle is
    keyed on (band, bkey) and linear in batch+corpus size; no
    new-vs-new comparison happens here (run minhash_dup_pairs within
    the batch for that), and nothing ever cross-joins.
    """
    new_sh = _shingle_table(new_df, id_col, text_col, n)
    corpus_sh = _shingle_table(corpus_df, id_col, text_col, n)
    cand = (
        _band_table(new_sh, n_hashes, n_bands)
        .alias("a")
        .join(
            _band_table(corpus_sh, n_hashes, n_bands).alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey")),
        )
        .select(F.col("a.id").alias("id_new"), F.col("b.id").alias("id_old"))
        .dropDuplicates(["id_new", "id_old"])
    )
    dup_ids = (
        cand.join(new_sh.alias("x"), F.col("id_new") == F.col("x.id"))
        .join(corpus_sh.alias("y"), F.col("id_old") == F.col("y.id"))
        .filter(jaccard(F.col("x.sh"), F.col("y.sh")) >= threshold)
        .select(F.col("id_new").alias("__dup_id"))
        .distinct()
    )
    return new_df.join(
        dup_ids, new_df[id_col] == dup_ids["__dup_id"], "left_anti"
    )


def simhash_docs(
    df: DataFrame,
    id_col: str,
    text_col: str | None = None,
    *,
    hashes_col: str | None = None,
) -> DataFrame:
    """Per-document 32-bit SimHash (near-dup docs land within small
    Hamming distance; equal hashes are the degenerate block key).

    Pass either ``text_col`` (whitespace-tokenized + hashed here) or
    ``hashes_col`` naming a pre-computed ``array<long>`` of 32-bit
    token hashes (:func:`token_hashes32` layout). Contract on the
    pre-hashed path: a NULL array -> NULL simhash (unknown text); an
    EMPTY array -> simhash 0 (every majority vote loses), matching
    :func:`simhash32`'s fold and the SQL oracle."""
    if (text_col is None) == (hashes_col is None):
        raise ValueError("pass exactly one of text_col / hashes_col")
    # One md5 per token (functions/text.py::token_hashes32), then the
    # majority votes run as a CODEGEN'D aggregate over the exploded
    # (id, token-hash) rows: 32 shiftright/sum expressions instead of
    # a nested higher-order fold — higher-order lambdas evaluate
    # interpreted, and 32 bits × tokens of interpreted Expression.eval
    # dominated this operator (measured 37 s -> ~8 s at sf10 for the
    # same bit-identical simhash values; majority 2*cnt_b > n ⟺ the
    # ±1 vote sum > 0). The explode/groupBy pair adds one keyed
    # shuffle, but partial aggregation collapses each document's rows
    # map-side, so only ~1 row per (doc, partition) ships.
    # explode_outer, not explode: a NULL text yields a NULL token-hash
    # array, and plain explode would emit NO rows for it — the document
    # silently vanishing from the output (a cardinality contract
    # change; the fold-based simhash32 returns one row with a NULL
    # hash). explode_outer keeps one (id, NULL) row. Only a NULL input
    # array routes to a NULL simhash (flag carried PRE-explode, since
    # post-explode a NULL array and an empty one look identical): an
    # EMPTY array keeps fold semantics — every majority vote loses, so
    # the hash is 0, matching simhash32's fold and the SQL oracle.
    # (Unreachable via tokens(), whose split yields >=1 element, but
    # the library contract for pre-tokenized callers.)
    ih32 = (
        F.col(hashes_col)
        if hashes_col is not None
        else token_hashes32(tokens(text_col))
    )
    ex = (
        spread(df, key=id_col)
        .select(
            F.col(id_col).alias("id"),
            ih32.alias("__ih32"),
        )
        .select(
            "id",
            F.col("__ih32").isNull().alias("__null_in"),
            F.explode_outer("__ih32").alias("__v"),
        )
    )
    cnts = ex.groupBy("id").agg(
        F.max("__null_in").alias("__null_in"),
        F.count("__v").alias("__n"),
        *[
            F.sum(F.shiftright("__v", 31 - b) % 2).alias(f"__b{b}")
            for b in range(32)
        ],
    )
    simhash = None
    for b in range(32):
        term = F.when(
            2 * F.col(f"__b{b}") > F.col("__n"), F.lit(1 << b)
        ).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return cnts.select(
        "id",
        F.when(F.col("__null_in"), F.lit(None))
        .otherwise(simhash)
        .cast("long")
        .alias("simhash"),
    )


def simhash_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs blocked by hash *halves*: a pair within
    Hamming distance d<=3 of a 32-bit hash matches exactly on at least
    one 16-bit half (pigeonhole), so candidates come from two equality
    joins instead of a cross join."""
    # Materialized once (mode knob: functions/materialize.py): the
    # two half-joins read this four times, and simhash32 (32
    # interpreted bit-votes per token) is by far the dominant cost —
    # recomputing it per branch quadruples the work.
    sh = simhash_docs(df, id_col, text_col)
    sh = materialize(sh.select(
        "id",
        "simhash",
        (F.col("simhash") % 65536).alias("lo"),
        F.floor(F.col("simhash") / 65536).cast("long").alias("hi"),
    ))
    def half_join(key: str) -> DataFrame:
        a, b = sh.alias("a"), sh.alias("b")
        return a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.id") < F.col("b.id")),
        ).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )

    # An OR-of-equalities join condition has no conjunctive equi-
    # predicate, so Catalyst would plan a BroadcastNestedLoopJoin —
    # O(n^2) and fatal at corpus scale. Two shuffle-keyed equi-joins
    # (one per half) unioned + pair-dedup produce the same candidate
    # set with linear shuffles (plan asserted in tests/test_plans.py).
    cand = half_join("lo").unionByName(half_join("hi")).dropDuplicates(["id_a", "id_b"])
    return cand.filter(F.col("hamming") <= max_hamming)


def resolve_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    max_iter: int = 50,
) -> DataFrame:
    """Turn near-dup *pairs* into a deduped keep-set: connected
    components over the pair graph, keep-min-id per component
    (SURVEY.md §2 C2 "connected components keep-first").

    Returns ``(id, component)`` for every node in ``nodes``; the kept
    representative of each dup cluster is the row with
    ``id == component``, and ``component`` is the min id reachable
    through any chain of dup pairs.

    Scale design: small-step label propagation — each round joins the
    current labels across the (both-direction) edge list and takes the
    per-node min, converging in O(graph diameter) rounds. Every round
    is two keyed shuffles (equi-join + groupBy), never a cross
    product; dup clusters have tiny diameters in practice (near-dup
    graphs are dense cliques), so 2-4 rounds at any corpus size.
    Each round's labels are re-materialized with ``truncate=True``
    (functions/materialize.py) so the logical plan never grows with the
    iteration count — in every mode, including ``disk_persist`` — and
    the superseded round's storage is released as soon as the new
    round lands. The driver-side loop is the standard Pregel
    shape for iterative graph algorithms (GraphX does the same); the
    only values collected are per-round change counts.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .dropDuplicates(["src", "dst"])
    )
    # Pin the edge list pre-partitioned on src (the per-round join
    # key): a cached plan preserves its outputPartitioning, so every
    # propagation round's join exchanges only the label side instead
    # of re-shuffling the identical edge list (the pagerank trick,
    # operators/graph.py; lost under parquet_scratch re-reads, which
    # costs the exchange back but stays correct).
    edges = materialize(edges.repartition(F.col("src")), truncate=True)
    labels = materialize(nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("component")
    ), truncate=True)
    for _ in range(max_iter):
        # Push each node's current component to its neighbours, then
        # take the min of (own component, pushed components) per node.
        #
        # r18 measured-and-REJECTED (VERDICT item 3; the variant is
        # dedup_resolve_foldcount in tools/opt_variants_r18.py as of
        # commit a1e74f1): folding the convergence check into this
        # aggregate — tag the own-label row, min(__own) through the
        # same groupBy, then count rows where the min beat the own
        # label. The count still needs its own job (an eager
        # localCheckpoint returns no aggregates), so the fold removed
        # NO job and pushed an extra column through every round's
        # union+shuffle: 1.70 → 2.04 s checksum / 1.19 → 2.14 s noop
        # at sf0.1. The join below is also cheaper than it
        # looks at scale: both sides are materialized with
        # hashpartitioning(id), so it plans exchange-free.
        pushed = edges.join(labels, edges["src"] == labels["id"]).select(
            F.col("dst").alias("id"), "component"
        )
        new_labels = materialize(
            labels.unionByName(pushed)
            .groupBy("id")
            .agg(F.min("component").alias("component")),
            truncate=True,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        release(labels)  # superseded round: free its blocks/scratch
        labels = new_labels
        if changed == 0:
            break
    release(edges)  # the returned labels no longer depend on edges
    return labels


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    bucketed: bool = True,
    n_bits: int = 8,
    max_pairs: int | None = QUADRATIC_PAIR_CEILING,
) -> DataFrame:
    """Embedding-cosine near-dup pairs. ``bucketed=True`` blocks the
    self-join on a sign-pattern bucket (LSH-style; misses pairs
    straddling a hyperplane — recall/cost knob via ``n_bits``);
    ``False`` is the exact quadratic baseline.

    The un-bucketed baseline plans a BroadcastNestedLoopJoin —
    n·(n-1)/2 dot products — which killed a 128 GiB local[32] JVM at
    just 20 k vectors (round-6 sf1.0 sweep,
    evidence/parity_sf1_r06_attempt1_crash.log). ``max_pairs`` makes
    it refuse loudly instead: a count-star (parquet-metadata cheap)
    estimates the pair count and raises pointing at the bucketed
    sign-LSH path. The guard never runs on the bucketed path, whose
    shuffle is keyed and linear. ``None`` disables it."""
    e = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if not bucketed and max_pairs is not None:
        n = e.count()
        _check_pair_budget(
            n * (n - 1) // 2,
            max_pairs,
            "embedding_dup_pairs(bucketed=False)",
            "bucketed=True (sign-LSH blocked self-join; see q_semdedup)",
        )
    if bucketed:
        e = e.withColumn("bkt", sign_bucket(F.col("v"), n_bits))
    a, b = e.alias("a"), e.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if bucketed:
        cond = cond & (F.col("a.bkt") == F.col("b.bkt"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine(F.col("a.v"), F.col("b.v")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def segment_boilerplate_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_tokens: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Line/segment-level dedup (the C4 / RefinedWeb boilerplate pass):
    split each document into non-overlapping ``seg_tokens``-token
    segments, drop every segment whose exact text occurs in
    ``min_docs``-or-more distinct documents (headers, footers, nav
    boilerplate), and reassemble the survivors in original order.

    Scale shape: segments shuffle once for the document-frequency
    count; the boilerplate set (segments at df >= min_docs) is by
    construction a small fraction of the corpus, so it broadcasts and
    the corpus-side removal is a map-side anti-join — the corpus never
    shuffles a second time. Reassembly sorts inside the aggregate
    (sort_array over (pos, seg) structs), so output text is
    deterministic under any parallelism.

    Returns (id, text_clean, n_kept) for documents with at least one
    surviving segment; fully-boilerplate documents drop out (the
    caller decides whether that means "remove doc").
    """
    toks = F.split(F.col(text_col), " ")
    n_segs = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    segs = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_segs - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(toks, i * seg_tokens + 1, seg_tokens)
                ),
            )
        ).alias("pos", "seg"),
    )
    segs = materialize(segs)  # read twice: freq count + removal join
    boiler = (
        segs.groupBy("seg")
        .agg(F.count_distinct("id").alias("dfreq"))
        .filter(F.col("dfreq") >= min_docs)
        .select("seg")
    )
    kept = segs.join(F.broadcast(boiler), "seg", "left_anti")
    return (
        kept.groupBy("id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("pos"), F.col("seg")))
                    ),
                    lambda s: s["seg"],
                ),
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .withColumnRenamed("id", id_col)
    )
