"""Similarity-search query inventory over `embeddings` (north-star
extension): brute-force cosine top-k baseline, IVF bucketed variant, and
sign-LSH bucketing."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gfe_db_spark.operators import similarity as SIM
from gfe_db_spark.queries import QuerySpec
from gfe_db_spark.session import remove_at_exit
from gfe_db_spark.sources.tables import table


def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors of vec_id=0's embedding. The query
    vector joins in as a broadcast single row, so the plan is
    scan → project → top-k (TakeOrderedAndProject)."""
    emb = table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("q")
    )
    v = F.col("embedding").cast("array<double>")
    from gfe_db_spark.operators.dedup import _dot

    return (
        emb.crossJoin(F.broadcast(qrow))
        .select(
            "vec_id",
            F.round(
                _dot(v, F.col("q")) / (F.sqrt(_dot(v, v)) * F.sqrt(_dot(F.col("q"), F.col("q")))),
                9,
            ).alias("cos"),
        )
        .orderBy(F.desc("cos"), "vec_id")
        .limit(10)
    )


KNN_BRUTE_SQL = """
SELECT e.vec_id, round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 9) AS cos
FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
ORDER BY cos DESC, e.vec_id
LIMIT 10
"""


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN: centroids = embeddings of vec_id 0..3 (a
    deterministic stand-in for k-means output), assign each vector to its
    nearest centroid, probe the 2 centroids nearest the query. At scale the
    assignment table is written partitioned by centroid_id so the probe
    prunes partitions."""
    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    assigned = SIM.ivf_assign(emb, centroids)
    return SIM.ivf_topk(assigned, centroids, query, k=10, n_probe=2)


KNN_IVF_SQL = """
WITH cents AS (
  SELECT CAST(vec_id AS INTEGER) AS centroid_id, embedding AS centroid
  FROM embeddings WHERE vec_id < 4
), q AS (
  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
), assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.centroid AS DOUBLE[])), 9) DESC, c.centroid_id
           ) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
), probe AS (
  SELECT centroid_id FROM (
    SELECT c.centroid_id,
           row_number() OVER (
             ORDER BY round(list_cosine_similarity(CAST(c.centroid AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 9) DESC, c.centroid_id
           ) AS rn
    FROM cents c CROSS JOIN q
  ) WHERE rn <= 2
)
SELECT a.vec_id, round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 9) AS cos
FROM assigned a JOIN probe p ON a.centroid_id = p.centroid_id CROSS JOIN q
ORDER BY cos DESC, a.vec_id
LIMIT 10
"""


def knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with REAL k-means centroids (operators/similarity.ivf_train,
    Lloyd's, deterministic): train → assign → probe. SQL-checkable
    because training is reproducible by construction — init is the k
    lowest-id vectors and each iteration's element-wise means are rounded
    to 9 decimals (see ivf_train docstring), so the DuckDB oracle unrolls
    the two Lloyd iterations exactly (same pattern as the unrolled
    PageRank oracle in queries/graph.py). r11: trains on the
    deterministic vec_id % IVF_SAMPLE_MOD == 0 sample (oracle `tr` CTE
    mirrors the rule) — Lloyd's touches 1/4 of the corpus instead of
    training having to scan everything per iteration."""
    emb = table(spark, sf_dir, "embeddings")
    cents = SIM.ivf_train(emb, k=IVF_K, iters=2, sample_mod=IVF_SAMPLE_MOD)
    assigned = SIM.ivf_assign(emb, cents)
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    return SIM.ivf_topk(assigned, cents, query, k=10, n_probe=2)


#: deterministic training-sample rule for the registered trained-IVF
#: entries (r10 verdict item 6): train on vec_id % MOD == 0 — Lloyd's
#: iterations touch 1/MOD of the corpus instead of all of it, the lever
#: that matters when training would otherwise scan 100 TB per iteration.
#: Assignment still covers every vector. The rule is mirrored verbatim in
#: the oracles' `tr` CTE (sampling changes the centroids, so the oracle
#: must train on the identical subset).
IVF_SAMPLE_MOD = 4

#: number of trained centroids for the registered trained-IVF entries
#: (knn_ivf_trained, semdedup_prune). ONE source of truth shared by the
#: Spark call sites AND the oracle CTE's LIMIT — changing k in one place
#: without the other would silently diverge engine from oracle (r11
#: advice).
IVF_K = 4

#: sampled-training CTE prefix shared by KNN_IVF_TRAINED_SQL and
#: SEMDEDUP_SQL: `tr` = the training sample; c0 = the IVF_K lowest-id
#: sample vectors with centroid_id 0..k-1 by id rank (ivf_train's
#: enumerate()).
_SAMPLED_TRAIN_CTE = f"""
WITH tr AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % {IVF_SAMPLE_MOD} = 0
), c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS centroid_id,
         CAST(embedding AS DOUBLE[]) AS centroid
  FROM tr ORDER BY vec_id LIMIT {IVF_K}
),"""


def _lloyd_iteration_sql(
    prev: str, assign: str, means: str, out: str, src: str = "embeddings"
) -> str:
    """One unrolled Lloyd iteration over `src` (the TRAINING set — the
    full table, or the sampled `tr` CTE when the Spark side trains with
    sample_mod): assign every training vector to its nearest `prev`
    centroid (ties to the lowest centroid_id — ivf_assign's min_by
    ordering), then element-wise means rounded to 9 decimals; empty
    clusters keep their previous centroid."""
    return f"""
{assign} AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.centroid), 9) DESC, c.centroid_id
           ) AS rn
    FROM {src} e CROSS JOIN {prev} c
  ) WHERE rn = 1
), {means} AS (
  SELECT centroid_id, i AS pos, round(AVG(CAST(embedding AS DOUBLE[])[i]), 9) AS m
  FROM {assign} CROSS JOIN range(1, 65) t(i)
  GROUP BY 1, 2
), {out} AS (
  SELECT p.centroid_id, COALESCE(g.centroid, p.centroid) AS centroid
  FROM {prev} p LEFT JOIN (
    SELECT centroid_id, list(m ORDER BY pos) AS centroid FROM {means} GROUP BY 1
  ) g USING (centroid_id)
)"""


KNN_IVF_TRAINED_SQL = (
    _SAMPLED_TRAIN_CTE
    + _lloyd_iteration_sql("c0", "a1", "m1", "c1", src="tr")
    + ","
    + _lloyd_iteration_sql("c1", "a2", "m2", "c2", src="tr")
    + """
, q AS (
  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
), assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.centroid), 9) DESC, c.centroid_id
           ) AS rn
    FROM embeddings e CROSS JOIN c2 c
  ) WHERE rn = 1
), probe AS (
  SELECT centroid_id FROM (
    SELECT c.centroid_id,
           row_number() OVER (
             ORDER BY round(list_cosine_similarity(c.centroid, CAST(q.qv AS DOUBLE[])), 9) DESC, c.centroid_id
           ) AS rn
    FROM c2 c CROSS JOIN q
  ) WHERE rn <= 2
)
SELECT a.vec_id, round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 9) AS cos
FROM assigned a JOIN probe p ON a.centroid_id = p.centroid_id CROSS JOIN q
ORDER BY cos DESC, a.vec_id
LIMIT 10
"""
)


#: expected bucket occupancy the adaptive sizing holds: planes = smallest
#: p >= 8 with N <= ANN_TARGET_BUCKET * 2**p (lsh_plane_count). At the
#: bench scales: sf<=1 -> 8 planes (unchanged plans), sf10 (200k) -> 11
#: (the setting the r7 sf10 probe demonstrated at 173.7 s vs 718 s for
#: the then-registered constant 8).
ANN_TARGET_BUCKET = 100


def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket histogram: vectors per hyperplane-sign bucket. The
    plane count follows the same count-derived sizing rule as every other
    sign-LSH surface (`lsh_plane_count`, r8 verdict item 7): at bench
    scales the historical 8-plane histogram is unchanged; at sf10 the
    histogram widens to 11 planes — matching the buckets ann_topk_join
    actually joins on at that scale."""
    from gfe_db_spark.sources.tables import table_rowcount

    emb = table(spark, sf_dir, "embeddings")
    p = SIM.lsh_plane_count(
        table_rowcount(spark, sf_dir, "embeddings"), target_bucket=ANN_TARGET_BUCKET
    )
    return (
        SIM.random_hyperplane_buckets(emb, n_planes=p, dim=64)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("bucket")
    )


def _lsh_bucket_sql() -> str:
    """Mirror the deterministic hyperplanes as SQL literals (the planes
    are hash-derived, so the oracle regenerates the identical numbers)
    and derive the SAME plane count from COUNT(*) as `lsh_plane_count`:
    all 16 possible sign bits are concatenated once, then `left(fb, np)`
    keeps the derived prefix — bit p of the string is plane p, so the
    prefix IS the np-plane bucket string."""
    from gfe_db_spark.operators.similarity import hyperplane

    bits = []
    for p in range(16):
        plane = ", ".join(repr(x) for x in hyperplane(p, 64))
        bits.append(
            f"CASE WHEN list_dot_product(v, [{plane}]) >= 0 THEN '1' ELSE '0' END"
        )
    concat = " || ".join(bits)
    return f"""
WITH v0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), nrows AS (
  SELECT COUNT(*) AS n FROM v0
), np AS (
  SELECT CAST(COALESCE(MIN(p), 16) AS INT) AS np
  FROM range(8, 17) r(p), nrows
  WHERE nrows.n <= {ANN_TARGET_BUCKET} * (CAST(1 AS BIGINT) << CAST(p AS INT))
), fb AS (
  SELECT ({concat}) AS full_bits FROM v0
)
SELECT left(full_bits, np.np) AS bucket, COUNT(*) AS n_vectors
FROM fb, np GROUP BY 1 ORDER BY bucket
"""


ANN_LSH_SQL = _lsh_bucket_sql()


def ann_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide approximate k-NN join: top-3 bucket-mate neighbors per
    vector (sign-LSH, 1-bit multi-probe). Plane count is the
    candidate-cost dial: pairs ≈ N·(probes)·(N/2^planes), so it is
    DERIVED from the corpus size (`lsh_plane_count`: smallest p ≥ 8 with
    N ≤ 100·2^p) instead of pinned — a constant here is a scale-killer
    (r5 sweep: 6 planes at 20k vectors → 1009 s; r7 sf10 probe: 8 planes
    at 200k vectors → 718 s, 59.8× engine growth on 10× data, while the
    derived 11 planes gave identical output in 173.7 s). The count is
    parquet-footer metadata, one cheap zero-column job, memoized per
    (sf_dir, table) so repeated query CONSTRUCTION (plan contracts, bench
    loops) pays it once per process (r8 advice); the oracle derives the
    SAME p from COUNT(*) inside the SQL."""
    from gfe_db_spark.sources.tables import table_rowcount

    emb = table(spark, sf_dir, "embeddings")
    p = SIM.lsh_plane_count(
        table_rowcount(spark, sf_dir, "embeddings"), target_bucket=ANN_TARGET_BUCKET
    )
    return SIM.ann_topk_join(emb, k=3, n_planes=p, probe_bits=1)


def _ann_topk_sql(k: int = 3) -> str:
    """Adaptive oracle: DuckDB derives the plane count from COUNT(*) with
    the same integer rule as the Spark side (`adaptive_lsh_ctes`)."""
    from gfe_db_spark.queries.lsh_sql import adaptive_lsh_ctes

    return f"""
WITH v0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), {adaptive_lsh_ctes(ANN_TARGET_BUCKET)}, cand AS (
  -- dedup on the ID pair ONLY, then join the vectors back: carrying both
  -- DOUBLE[64] payloads through the DISTINCT materializes ~1 KB per
  -- probe-expanded candidate and OOM-killed the single-process oracle at
  -- sf10 (~235M candidates); the id-only hash table is 16 B per pair
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM a JOIN b ON a.bucket = b.bucket
  WHERE a.vec_id <> b.vec_id
), scored AS (
  SELECT c.id_a, c.id_b,
         round(list_cosine_similarity(x.v, y.v), 9) AS cos
  FROM cand c JOIN v0 x ON x.vec_id = c.id_a JOIN v0 y ON y.vec_id = c.id_b
)
SELECT id_a AS vec_id, id_b AS neighbor_id, cos,
       CAST(row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b) AS INT) AS rank
FROM scored
QUALIFY rank <= {k}
"""


ANN_TOPK_SQL = _ann_topk_sql()


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 symmetric quantization + round-trip RMS error per vector. The
    quantized vector is projected as a CSV string for the compare (array
    cell formatting differs between pandas conversions; the operator
    itself returns the typed array column)."""
    emb = table(spark, sf_dir, "embeddings")
    return (
        SIM.quantize_embeddings(emb)
        .select(
            "vec_id",
            "scale",
            F.array_join(F.col("q"), ",").alias("q_csv"),
            "rms_err",
        )
    )


EMBEDDING_QUANTIZE_SQL = """
WITH v0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), s AS (
  SELECT vec_id, v,
         round(list_max(list_transform(v, x -> abs(x))) / 127.0, 9) AS scale
  FROM v0
), qq AS (
  SELECT vec_id, scale, v,
         list_transform(v, x -> CAST(floor(
             x / (CASE WHEN scale = 0 THEN 1.0 ELSE scale END) + 0.5) AS INT)) AS q
  FROM s
)
SELECT vec_id, scale,
       array_to_string(q, ',') AS q_csv,
       round(sqrt(list_sum(list_transform(range(1, len(v) + 1),
             i -> (v[i] - q[i] * scale) * (v[i] - q[i] * scale))) / len(q)), 9) AS rms_err
FROM qq
ORDER BY vec_id
"""


#: hard pair-cost bound for SemDeDup: only the `MAX_CLUSTER_SIZE`
#: lowest-id members of a cluster act as the reference (a) side, so a
#: cluster of size s costs s·min(s, cap) cosine pairs instead of s² —
#: linear in corpus size for fixed cap (the sf1 sweep's 282 s wall was
#: this query's Σ|cluster|² with 20 k vectors over k=4 clusters). Clusters
#: at or under the cap are pruned EXACTLY as before; above it, a vector is
#: pruned iff it matches one of the cap-sized head (a recall/cost trade —
#: in the mass-duplication case that makes a cluster hot, the head is
#: dominated by the duplicates themselves, so tail dups still prune). The
#: oracle applies the identical head rule, so parity holds even when the
#: cap binds.
MAX_CLUSTER_SIZE = 1024


#: broadcast the capped head side only while its estimated payload
#: (k * cap * dim * 8 bytes of double vectors) stays well under Spark's
#: 8 GB broadcast hard limit and typical driver/executor headroom. Above
#: it, fall back to a shuffled equi-join and let AQE pick the strategy —
#: k grows with the corpus under SemDeDup scaling, so an unconditional
#: F.broadcast here would eventually OOM the driver (r7 advice).
BROADCAST_HEAD_MAX_BYTES = 256 * 1024 * 1024


def cluster_head_pairs(
    assigned: DataFrame,
    max_cluster_size: int | None = MAX_CLUSTER_SIZE,
    dim: int = 64,
    n_clusters: int | None = None,
) -> DataFrame:
    """Capped within-cluster candidate pairs (centroid_id, id_a, va, na,
    id_b, vb, nb): the a-side is the cluster's `max_cluster_size`-member
    head (row_number by vec_id), so a cluster of size s yields ≤ s·cap
    pairs. Per-vector norms (na, nb) are computed ONCE per row BEFORE the
    pair expansion, so a consumer scoring cosine pays one dot per pair
    instead of three (`_bucketed_candidate_scores` already hoists norms
    this way; the r7 sf1 time split caught this path re-deriving both
    norms per pair — same doubles, hoisting changes no value). Exposed so
    the planted hot-cluster test can count pairs directly."""
    from pyspark.sql.window import Window as W

    from gfe_db_spark.operators.dedup import _dot

    # NOT spread (r13, negative result): the broadcast head makes the
    # pair expansion + cosine run map-side over this frame's scan splits
    # (a 4 s single-task stage at sf0.1 in the stage audit), but a
    # vec_id-keyed input spread measured WORSE end-to-end (6.5 -> 7.5 and
    # 10.6 s in an ABA duel): the entry's wall is the LATENCY of its
    # k-means-iteration stage chain, and the extra exchange adds another
    # serialized stage while the cosine stage it parallelizes overlaps
    # training anyway. Revisit only if the pair scan itself becomes the
    # measured wall (e.g. much larger per-cluster caps).
    withv = assigned.withColumn(
        "__v", F.col("embedding").cast("array<double>")
    ).withColumn("__norm", F.sqrt(_dot(F.col("__v"), F.col("__v"))))
    a = withv.withColumn(
        "__rk", F.row_number().over(W.partitionBy("centroid_id").orderBy("vec_id"))
    )
    if max_cluster_size is not None:
        a = a.filter(F.col("__rk") <= max_cluster_size)
    a = a.select(
        "centroid_id",
        F.col("vec_id").alias("id_a"),
        F.col("__v").alias("va"),
        F.col("__norm").alias("na"),
    )
    b = withv.select(
        "centroid_id",
        F.col("vec_id").alias("id_b"),
        F.col("__v").alias("vb"),
        F.col("__norm").alias("nb"),
    )
    if max_cluster_size is not None:
        # the capped head is ≤ k·cap rows by construction — broadcast it
        # so the pair expansion is a map-side join over the b-side's FULL
        # partitioning. A shuffled equi-join here keys on centroid_id,
        # whose cardinality is k (small by design): at k=4 the whole
        # Σ|cluster|·cap cosine work landed on 4 tasks (the r7 sf1 split
        # measured 156 s spark-side for 20 k vectors — 28 idle cores).
        # The hint is GATED on the estimated head payload
        # (k·cap·dim·8 bytes): SemDeDup's k grows with the corpus, and an
        # unconditional F.broadcast would force a driver collect into
        # Spark's 8 GB broadcast hard limit at large k. Past the gate,
        # leave the strategy to AQE. When the caller doesn't know k
        # (n_clusters=None), ESTIMATE it with one cheap sizing job
        # (approx_count_distinct on centroid_id) instead of assuming it's
        # small — the r9 advice caught the 0-sentinel here re-opening the
        # unconditional-broadcast exposure that the gate exists to
        # prevent. The registered entries all pass n_clusters, so the
        # extra job only runs for ad-hoc callers, for whom one count is
        # the right price for a safe plan.
        if n_clusters is None:
            n_clusters = int(
                assigned.agg(
                    F.approx_count_distinct("centroid_id").alias("k")
                ).first()["k"]
            )
        head_bytes = n_clusters * max_cluster_size * dim * 8
        if head_bytes <= BROADCAST_HEAD_MAX_BYTES:
            a = F.broadcast(a)
    return a.join(b, "centroid_id").filter(F.col("id_a") < F.col("id_b"))


def _use_embedding_gate(spark: SparkSession, sf_dir: str) -> bool:
    """True iff `embeddings` at sf_dir has enough exact duplication for
    the class-gated prune plan to pay for itself — the embeddings twin of
    queries.dedup._use_digest_gate (same memoized one-job sizing stat,
    same threshold, same physical-choice-not-semantics-fork contract)."""
    from gfe_db_spark.queries.dedup import GATE_DISTINCT_RATIO
    from gfe_db_spark.sources.tables import corpus_stats

    n_rows, n_distinct = corpus_stats(spark, sf_dir, "embeddings", "embedding")
    return n_distinct < GATE_DISTINCT_RATIO * n_rows


def cluster_prune_flags_gated(
    assigned: DataFrame,
    threshold: float,
    max_cluster_size: int = MAX_CLUSTER_SIZE,
    n_clusters: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """The digest-gated twin of the cluster_head_pairs → threshold →
    distinct prune path: identical (vec_id, is_pruned) rows, but the
    pairwise cosine work runs over DISTINCT embedding classes only — the
    duplication-adaptive scale plan for a k-way exact-duplicated corpus
    (Σ|cluster-classes|² cosines instead of Σ|cluster|·cap).

    Row-identity argument (pinned by planted + hypothesis tests):
    identical embeddings assign to the same centroid (ivf_assign is a
    deterministic per-row expression), so exact-dup classes nest inside
    clusters. The ungated rule prunes b iff some head member a (rank ≤ cap
    by vec_id within the cluster) has a.vec_id < b.vec_id and
    round(cos(a, b), 9) ≥ τ. cos() depends only on the payload CLASS of
    each side, and the head is an id-prefix of the cluster, so the class
    X of a is head-resident iff its min id is (rank(min X) ≤ cap) and the
    strongest witness in X is min(X). Hence: pruned(b) ⟺ ∃ class X in
    cluster(b) with rank(min X) ≤ cap, round(cos(X, class(b)), 9) ≥ τ and
    min(X) < b — i.e. b.vec_id > MIN over passing X of min(X). The
    per-pair cosine reuses the exact expression shape of the ungated plan
    (hoisted norms, one dot), so the doubles are bit-identical.
    """
    from pyspark.sql.window import Window as W

    from gfe_db_spark.operators.dedup import _dot

    w_cluster = W.partitionBy("centroid_id").orderBy("vec_id")
    m = assigned.withColumn(
        "__rep", F.min("vec_id").over(W.partitionBy("centroid_id", "embedding"))
    ).withColumn("__rk", F.row_number().over(w_cluster))
    members = m.select("vec_id", F.col("__rep").alias("rep_id"))
    reps = (
        m.filter(F.col("vec_id") == F.col("__rep"))
        .withColumn("__v", F.col("embedding").cast("array<double>"))
        .withColumn("__norm", F.sqrt(_dot(F.col("__v"), F.col("__v"))))
    )
    a = reps
    if max_cluster_size is not None:
        a = a.filter(F.col("__rk") <= max_cluster_size)
    a = a.select(
        "centroid_id",
        F.col("vec_id").alias("id_a"),
        F.col("__v").alias("va"),
        F.col("__norm").alias("na"),
    )
    b = reps.select(
        "centroid_id",
        F.col("vec_id").alias("id_b"),
        F.col("__v").alias("vb"),
        F.col("__norm").alias("nb"),
    )
    # same broadcast gate as cluster_head_pairs: with a cap the a-side is
    # ≤ k·cap class reps by construction (uncapped, leave it to AQE)
    if max_cluster_size is not None:
        if n_clusters is None:
            n_clusters = int(
                assigned.agg(
                    F.approx_count_distinct("centroid_id").alias("k")
                ).first()["k"]
            )
        if n_clusters * max_cluster_size * dim * 8 <= BROADCAST_HEAD_MAX_BYTES:
            a = F.broadcast(a)
    pair_cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    # NO id_a < id_b filter: a higher-min class can still prune the upper
    # members of a lower-min class — ordering is enforced per MEMBER below
    mstar = (
        a.join(b, "centroid_id")
        .filter(F.round(pair_cos, 9) >= threshold)
        .groupBy("id_b")
        .agg(F.min("id_a").alias("__mstar"))
    )
    return (
        members.join(mstar, members["rep_id"] == mstar["id_b"])
        .filter(F.col("vec_id") > F.col("__mstar"))
        .select("vec_id")
        .withColumn("is_pruned", F.lit(True))
    )


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster embeddings with the
    deterministic DataFrame k-means (ivf_train), then mark near-duplicates
    ONLY within each cluster — every vector whose cosine to a lower-id
    cluster-mate (restricted to the cluster's `MAX_CLUSTER_SIZE`-member
    head) reaches the threshold is pruned. The expensive pairwise step is
    an equi-join on centroid_id, so its cost is Σ|cluster|·cap, never N²
    (the SemDeDup scaling argument: k grows with the corpus, clusters stay
    bounded — and the cap holds the line when they don't). Oracle: the
    same unrolled-Lloyd CTE chain as knn_ivf_trained, then the identical
    capped within-cluster pair scan in SQL. r11: k-means trains on the
    deterministic vec_id % IVF_SAMPLE_MOD == 0 sample (mirrored in the
    oracle's `tr` CTE) — the r10 verdict measured training dominating
    this entry's wall (11 of 19 s at sf1), and a sampled training set is
    the standard lever; assignment and pruning still cover every
    vector."""
    from gfe_db_spark.operators.dedup import _dot

    emb = table(spark, sf_dir, "embeddings")
    K = IVF_K  # shared with the oracle CTE's LIMIT; the trained k also
    # sizes the cluster_head_pairs broadcast-gate payload estimate
    # (r8 advice)
    cents = SIM.ivf_train(emb, k=K, iters=2, sample_mod=IVF_SAMPLE_MOD)
    assigned = SIM.ivf_assign(emb, cents)
    if _use_embedding_gate(spark, sf_dir):
        # duplicated corpus: cosine work over DISTINCT embedding classes
        # only (row-identical — see cluster_prune_flags_gated)
        pruned = cluster_prune_flags_gated(assigned, threshold=0.44, n_clusters=K)
        return (
            assigned.select("vec_id", "centroid_id")
            .join(pruned, "vec_id", "left")
            .select(
                "vec_id",
                "centroid_id",
                F.coalesce(F.col("is_pruned"), F.lit(False)).alias("pruned"),
            )
        )
    # ONE dot per pair; norms were hoisted per vector in
    # cluster_head_pairs (identical doubles to cosine(va, vb) — same
    # multiply-add sequence, same order)
    pair_cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pruned = (
        cluster_head_pairs(assigned, n_clusters=K)
        .filter(F.round(pair_cos, 9) >= 0.44)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_pruned", F.lit(True))
    )
    return (
        assigned.select("vec_id", "centroid_id")
        .join(pruned, "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            F.coalesce(F.col("is_pruned"), F.lit(False)).alias("pruned"),
        )
    )


SEMDEDUP_SQL = (
    _SAMPLED_TRAIN_CTE
    + _lloyd_iteration_sql("c0", "a1", "m1", "c1", src="tr")
    + ","
    + _lloyd_iteration_sql("c1", "a2", "m2", "c2", src="tr")
    + """
, assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.centroid), 9) DESC, c.centroid_id
           ) AS rn
    FROM embeddings e CROSS JOIN c2 c
  ) WHERE rn = 1
), heads AS (
  SELECT vec_id, embedding, centroid_id,
         row_number() OVER (PARTITION BY centroid_id ORDER BY vec_id) AS rk
  FROM assigned
), pruned AS (
  SELECT DISTINCT b.vec_id
  FROM heads a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE a.rk <= """
    + str(MAX_CLUSTER_SIZE)
    + """
    AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])), 9) >= 0.44
)
SELECT s.vec_id, s.centroid_id, (p.vec_id IS NOT NULL) AS pruned
FROM assigned s LEFT JOIN pruned p USING (vec_id)
ORDER BY s.vec_id
"""
)


def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: encode every vector as 4 one-byte codes
    (nearest codeword per 16-dim subspace; codewords = sub-slices of
    vec_id 0..7, the deterministic trained-codebook stand-in), then
    answer the query via the asymmetric-distance lookup table. The corpus
    never moves full vectors after encode time — the ADC pass joins an
    exploded 4-int code column against a 32-row broadcast LUT."""
    emb = table(spark, sf_dir, "embeddings")
    cb = SIM.pq_codebook(emb, m=4, ks=8)
    codes = SIM.pq_encode(emb, cb, m=4)
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    return SIM.pq_adc_topk(codes, cb, query, k=10, m=4)


_PQ_SUBS = "(SELECT unnest(range(0, 4)) AS sub) s"
_PQ_D2 = (
    "round(list_sum(list_transform(range(1, 17), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 9)"
)

KNN_PQ_SQL = f"""
WITH v0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cb AS (
  SELECT s.sub, CAST(vec_id AS INT) AS code,
         v[(s.sub * 16 + 1):(s.sub * 16 + 16)] AS codeword
  FROM v0 CROSS JOIN {_PQ_SUBS}
  WHERE vec_id < 8
), subs AS (
  SELECT vec_id, s.sub, v[(s.sub * 16 + 1):(s.sub * 16 + 16)] AS sv
  FROM v0 CROSS JOIN {_PQ_SUBS}
), scored AS (
  SELECT subs.vec_id, subs.sub, cb.code,
         {_PQ_D2.format(a="sv", b="codeword")} AS d2
  FROM subs JOIN cb ON subs.sub = cb.sub
), best AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
    FROM scored
  ) WHERE rn = 1
), q AS (
  SELECT s.sub, v[(s.sub * 16 + 1):(s.sub * 16 + 16)] AS qv
  FROM v0 CROSS JOIN {_PQ_SUBS}
  WHERE vec_id = 0
), lut AS (
  SELECT q.sub, cb.code,
         {_PQ_D2.format(a="qv", b="codeword")} AS d2
  FROM q JOIN cb ON q.sub = cb.sub
)
SELECT b.vec_id, round(SUM(l.d2), 9) AS adc_d2
FROM best b JOIN lut l ON b.sub = l.sub AND b.code = l.code
GROUP BY b.vec_id
ORDER BY adc_d2, b.vec_id
LIMIT 10
"""


def random_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64→16 dims plus its distortion audit: squared
    distance before/after for every consecutive-id pair (a deterministic
    pair sample — at 100 TB the audit runs on a hash-gated sample while
    the projection itself maps the whole corpus). Ratio ≈ 1 is the
    distance-preservation JL promises; the per-pair spread IS the data a
    pipeline uses to pick out_dim, so it's the output rather than a single
    pass/fail bit. Projection matrix is md5-derived constants folded into
    codegen — no stored model, any engine regenerates it."""
    from gfe_db_spark.operators.dedup import _dot

    emb = table(spark, sf_dir, "embeddings")
    proj = SIM.random_projection(emb, out_dim=16)

    def d2(x, y):
        return _dot(
            F.zip_with(x, y, lambda p, q: p - q), F.zip_with(x, y, lambda p, q: p - q)
        )

    a = proj.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("y").alias("ya")
    )
    b = proj.select(
        (F.col("vec_id") - 1).alias("id_a"),
        F.col("v").alias("vb"),
        F.col("y").alias("yb"),
    )
    d2o = d2(F.col("va"), F.col("vb"))
    d2p = d2(F.col("ya"), F.col("yb"))
    return (
        a.join(b, "id_a")
        .where(d2o > 0)
        .select(
            "id_a",
            F.round(d2o, 6).alias("d2_orig"),
            F.round(d2p, 6).alias("d2_proj"),
            F.round(d2p / d2o, 6).alias("ratio"),
        )
    )


def _rp_sql() -> str:
    from gfe_db_spark.queries.lsh_sql import projection_list_sql

    proj = projection_list_sql("v", out_dim=16, dim=64)
    d2v = "list_sum(list_transform(range(1, 65), i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])))"
    d2y = "list_sum(list_transform(range(1, 17), i -> (a.y[i] - b.y[i]) * (a.y[i] - b.y[i])))"
    return f"""
WITH v0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), p AS (
  SELECT vec_id, v, {proj} AS y FROM v0
), pairs AS (
  SELECT a.vec_id AS id_a,
         {d2v} AS d2o,
         {d2y} AS d2p
  FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
)
SELECT id_a, round(d2o, 6) AS d2_orig, round(d2p, 6) AS d2_proj,
       round(d2p / d2o, 6) AS ratio
FROM pairs
WHERE d2o > 0
ORDER BY id_a
"""


RANDOM_PROJECTION_SQL = _rp_sql()


def ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance EXECUTED: materialize the index from
    half the corpus (parquet partitioned by centroid_id), append the
    other half with `ivf_append_batch` (assign batch → append touched
    partitions only; the existing index is never read), then answer the
    standard probe from the maintained index. The oracle is the plain
    IVF probe over the whole corpus — hash equality proves the
    incremental path converges to the rebuild-from-scratch index."""
    import tempfile

    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    path = remove_at_exit(tempfile.mkdtemp(prefix="gfe_ivf_incr_")) + "/index"
    SIM.ivf_write_index(
        SIM.ivf_assign(emb.filter(F.col("vec_id") % 2 == 0), centroids), path
    )
    SIM.ivf_append_batch(spark, path, emb.filter(F.col("vec_id") % 2 == 1), centroids)
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    return SIM.ivf_probe_index(spark, path, centroids, query, k=10, n_probe=2)


def knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the composed production-ANN layout: IVF probe prunes the
    corpus to the 2 cells nearest the query (at scale: dynamic partition
    pruning on the centroid-partitioned PQ-code index), then the
    asymmetric-distance PQ pass scores m-byte codes against a broadcast
    LUT inside the probed cells only. Centroids/codebook use the same
    deterministic stand-ins as knn_ivf / knn_pq_adc."""
    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    cb = SIM.pq_codebook(emb, m=4, ks=8)
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    return SIM.ivf_pq_topk(emb, centroids, cb, query, k=10, n_probe=2, m=4)


KNN_IVF_PQ_SQL = f"""
WITH cents AS (
  SELECT CAST(vec_id AS INTEGER) AS centroid_id, embedding AS centroid
  FROM embeddings WHERE vec_id < 4
), q0 AS (
  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
), assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.centroid AS DOUBLE[])), 9) DESC, c.centroid_id
           ) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
), probe AS (
  SELECT centroid_id FROM (
    SELECT c.centroid_id,
           row_number() OVER (
             ORDER BY round(list_cosine_similarity(CAST(c.centroid AS DOUBLE[]), CAST(q0.qv AS DOUBLE[])), 9) DESC, c.centroid_id
           ) AS rn
    FROM cents c CROSS JOIN q0
  ) WHERE rn <= 2
), pruned AS (
  SELECT a.vec_id FROM assigned a JOIN probe p USING (centroid_id)
), v0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cb AS (
  SELECT s.sub, CAST(vec_id AS INT) AS code,
         v[(s.sub * 16 + 1):(s.sub * 16 + 16)] AS codeword
  FROM v0 CROSS JOIN {_PQ_SUBS}
  WHERE vec_id < 8
), subs AS (
  SELECT v0.vec_id, s.sub, v[(s.sub * 16 + 1):(s.sub * 16 + 16)] AS sv
  FROM v0 JOIN pruned USING (vec_id) CROSS JOIN {_PQ_SUBS}
), scored AS (
  SELECT subs.vec_id, subs.sub, cb.code,
         {_PQ_D2.format(a="sv", b="codeword")} AS d2
  FROM subs JOIN cb ON subs.sub = cb.sub
), best AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
    FROM scored
  ) WHERE rn = 1
), q AS (
  SELECT s.sub, v[(s.sub * 16 + 1):(s.sub * 16 + 16)] AS qv
  FROM v0 CROSS JOIN {_PQ_SUBS}
  WHERE vec_id = 0
), lut AS (
  SELECT q.sub, cb.code,
         {_PQ_D2.format(a="qv", b="codeword")} AS d2
  FROM q JOIN cb ON q.sub = cb.sub
)
SELECT b.vec_id, round(SUM(l.d2), 9) AS adc_d2
FROM best b JOIN lut l ON b.sub = l.sub AND b.code = l.code
GROUP BY b.vec_id
ORDER BY adc_d2, b.vec_id
LIMIT 10
"""


def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the embedding corpus
    (long format): explode → one 64-group moment agg (decimal sums) →
    broadcast join back. Deterministic at any parallelism."""
    emb = table(spark, sf_dir, "embeddings")
    return SIM.standardize_embeddings(emb)


EMBEDDING_STANDARDIZE_SQL = """
WITH x AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
s AS (
  SELECT pos, COUNT(*) AS n,
         CAST(CAST(SUM(CAST(v AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS sxx
  FROM x GROUP BY pos
)
SELECT x.vec_id, x.pos,
       CASE WHEN (sxx / CAST(n AS DOUBLE)
                  - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE))) <= 0
            THEN 0.0
            ELSE round((v - sx / CAST(n AS DOUBLE))
                       / sqrt(sxx / CAST(n AS DOUBLE)
                              - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE))), 9)
       END AS z
FROM x JOIN s USING (pos)
ORDER BY vec_id, pos
"""


QUERIES: dict[str, QuerySpec] = {
    "embedding_standardize": QuerySpec(
        embedding_standardize,
        EMBEDDING_STANDARDIZE_SQL,
        "per-dimension z-score standardization (explode → moment agg → broadcast join)",
    ),
    "knn_ivf_pq": QuerySpec(
        knn_ivf_pq,
        KNN_IVF_PQ_SQL,
        "IVFADC: IVF partition pruning + PQ asymmetric-distance scoring, composed",
    ),
    "ann_index_append": QuerySpec(
        ann_index_append,
        KNN_IVF_SQL,  # the incremental index must answer like the full rebuild
        "incremental IVF index append executed; probe vs full-corpus oracle",
    ),
    "knn_brute_force": QuerySpec(knn_brute_force, KNN_BRUTE_SQL, "exact cosine top-k"),
    "knn_pq_adc": QuerySpec(
        knn_pq_adc, KNN_PQ_SQL, "product-quantization ANN with ADC lookup"
    ),
    "knn_ivf": QuerySpec(knn_ivf, KNN_IVF_SQL, "IVF bucketed ANN"),
    "knn_ivf_trained": QuerySpec(
        knn_ivf_trained,
        KNN_IVF_TRAINED_SQL,
        "IVF with k-means-trained centroids (unrolled Lloyd oracle)",
    ),
    "ann_lsh_buckets": QuerySpec(ann_lsh_buckets, ANN_LSH_SQL, "sign-LSH buckets"),
    "ann_topk_join": QuerySpec(
        ann_topk_join, ANN_TOPK_SQL, "corpus-wide bucketed k-NN join"
    ),
    "embedding_quantize": QuerySpec(
        embedding_quantize, EMBEDDING_QUANTIZE_SQL, "int8 quantization + RMS error"
    ),
    "semdedup_prune": QuerySpec(
        semdedup_prune,
        SEMDEDUP_SQL,
        "cluster-then-prune semantic dedup (SemDeDup shape)",
    ),
    "random_projection_distortion": QuerySpec(
        random_projection_distortion,
        RANDOM_PROJECTION_SQL,
        "JL 64→16 projection with per-pair distance-distortion audit",
    ),
}
