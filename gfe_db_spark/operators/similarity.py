"""Approximate-nearest-neighbor similarity search over embedding columns.

- brute_force_topk: exact top-k for a query vector — the correctness
  baseline; one scan + one top-k (no shuffle beyond the final ordering).
- ivf_assign / ivf_topk: IVF-style bucketed search — assign every vector
  to its nearest centroid once (broadcast centroids), then probe only the
  query's closest buckets. This is the 100 TB path: the index is a
  partition key, searches touch 1/K of the data.
- random_hyperplane_buckets: sign-LSH bucketing with deterministic
  hash-derived hyperplanes (no stored model needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gfe_db_spark.operators.dedup import _dot, cosine


def brute_force_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector. The query is a
    literal array (constant-folded), so this is scan → project → top-k."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    v = F.col(vec_col).cast("array<double>")
    return (
        emb.select(
            F.col(id_col),
            F.round(_dot(v, q) / (F.sqrt(_dot(v, v)) * F.sqrt(_dot(q, q))), 9).alias("cos"),
        )
        .orderBy(F.desc("cos"), id_col)
        .limit(k)
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF index build).

    centroids: (centroid_id, centroid) — always small → broadcast. The
    argmax is `min_by` over the (vector × centroid) scores, NOT a window:
    an aggregate gets map-side partial aggregation, and because the
    broadcast crossJoin keeps all C scores of a vector in one partition,
    the partial pass already reduces to one row per vector — the shuffle
    carries ~N rows where the window formulation would shuffle and sort
    all N×C. Ties break toward the lowest centroid_id.

    Norms are hoisted out of the C-way score fan-out: the vector norm is
    computed once per ROW (not once per centroid) and the centroid norm
    once per CENTROID row before the broadcast — one dot per score
    instead of three. Identical doubles to the inline cosine(): same
    multiply-add sequence per factor, same division."""
    from gfe_db_spark.operators.dedup import _dot

    cent = centroids.select(
        "centroid_id",
        F.col("centroid").cast("array<double>").alias("__c"),
    ).withColumn("__cnorm", F.sqrt(_dot(F.col("__c"), F.col("__c"))))
    withn = emb.withColumn("__ev", F.col(vec_col).cast("array<double>")).withColumn(
        "__enorm", F.sqrt(_dot(F.col("__ev"), F.col("__ev")))
    )
    scored = withn.crossJoin(F.broadcast(cent)).withColumn(
        "cos_c",
        _dot(F.col("__ev"), F.col("__c")) / (F.col("__enorm") * F.col("__cnorm")),
    )
    best = scored.groupBy(id_col).agg(
        F.min_by(
            F.struct(F.col(vec_col).alias("v"), F.col("centroid_id").alias("c")),
            F.struct((-F.col("cos_c")).alias("neg_cos"), F.col("centroid_id").alias("c")),
        ).alias("best")
    )
    return best.select(
        id_col,
        F.col("best.v").alias(vec_col),
        F.col("best.c").alias("centroid_id"),
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    query: list[float] | DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe only the n_probe centroids nearest the query, then exact
    top-k within those buckets. At scale `assigned` is written partitioned
    by centroid_id → partition pruning skips the rest of the corpus.

    `query` is a literal vector (constant-folded) or a 1-row DataFrame
    whose first column is the vector — the DataFrame form keeps the whole
    query lazy: the vector rides along as a broadcast single row instead
    of a driver-side `.first()` fetch."""
    if isinstance(query, DataFrame):
        qdf = query.select(F.col(query.columns[0]).cast("array<double>").alias("__q"))

        def with_q(df: DataFrame) -> DataFrame:
            return df.crossJoin(F.broadcast(qdf))

        q = F.col("__q")
    else:

        def with_q(df: DataFrame) -> DataFrame:
            return df

        q = F.array(*[F.lit(float(x)) for x in query])
    probe = (
        with_q(centroids)
        .withColumn("cos_q", cosine(F.col("centroid").cast("array<double>"), q))
        .orderBy(F.desc("cos_q"), "centroid_id")
        .limit(n_probe)
        .select("centroid_id")
    )
    v = F.col(vec_col).cast("array<double>")
    return (
        with_q(assigned.join(F.broadcast(probe), "centroid_id"))
        .select(
            F.col(id_col),
            F.round(_dot(v, q) / (F.sqrt(_dot(v, v)) * F.sqrt(_dot(q, q))), 9).alias("cos"),
        )
        .orderBy(F.desc("cos"), id_col)
        .limit(k)
    )


def lsh_plane_count(
    n_rows: int,
    target_bucket: int = 100,
    min_planes: int = 8,
    max_planes: int = 16,
) -> int:
    """Data-dependent sign-LSH sizing: the smallest plane count p in
    [min_planes, max_planes] with n_rows <= target_bucket * 2**p, i.e.
    2**p buckets hold the EXPECTED bucket occupancy at or under
    `target_bucket`. Candidate-pair cost in the bucketed ops grows as
    N * probes * (N / 2**p), so p must track log2(N) — a constant plane
    count is a scale-killer (the r7 sf10 probe measured the registered
    8-plane `ann_topk_join` at 59.8x engine growth on 10x data; the same
    operator at the log2-derived 11 planes produced identical output 4.1x
    faster). Pure integer arithmetic (no float log2) so the Spark plan
    and the DuckDB oracle (`lsh_sql.adaptive_lsh_ctes`) derive the SAME
    number from the same count on every dataset."""
    for p in range(min_planes, max_planes + 1):
        if n_rows <= target_bucket << p:
            return p
    return max_planes


def hyperplane(p: int, dim: int = 64) -> list[float]:
    """Deterministic pseudo-random hyperplane p: each coordinate is
    md5(p:d) first-8-bytes mapped to [-1, 1). Hash-derived, so any engine
    (or the DuckDB oracle) regenerates the identical plane — no stored
    model needed."""
    import hashlib

    vals = []
    for d in range(dim):
        h = hashlib.md5(f"{p}:{d}".encode()).digest()
        vals.append(int.from_bytes(h[:8], "big") / float(1 << 63) - 1.0)
    return vals


def ivf_train(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
) -> DataFrame:
    """Lloyd's k-means for the IVF index, DataFrame-native and
    deterministic: init = the k lowest-id vectors; each iteration
    broadcasts the centroids, assigns every vector to its nearest
    (the same min_by-aggregate shape as `ivf_assign` — N-row shuffle,
    no window), and recomputes element-wise means per cluster.

    The centroid table is model state (k × dim floats) — it lives on the
    driver between iterations exactly as MLlib keeps it, while the N-row
    corpus never leaves executors. Ties in distance break toward the
    lowest centroid_id, and empty clusters keep their previous centroid.
    Centroid means are rounded to 9 decimals each iteration so the
    partial-aggregate merge order of the distributed F.avg (which can
    differ across runs at the last ulp) cannot leak into the model —
    training is reproducible up to that rounding.

    ``sample_mod`` (r10 verdict item 6): train on the deterministic
    subset ``id % sample_mod == 0`` instead of the full corpus — the
    standard k-means-on-a-sample lever (centroid quality degrades
    gracefully; assignment still covers every vector). The rule is a
    single SQL-expressible predicate so an oracle can mirror the exact
    training set; it CHANGES the centroids, so callers must opt in
    explicitly and mirror their oracle (see KNN_IVF_TRAINED_SQL /
    SEMDEDUP_SQL's `tr` CTE). Init = the k lowest-id vectors OF THE
    SAMPLE. At 100 TB this is the difference between iterating Lloyd
    over the corpus and over a fixed fraction of it."""
    v = F.col(vec_col).cast("array<double>")
    base = emb.select(F.col(id_col).alias("__id"), v.alias("__v"))
    if sample_mod is not None and sample_mod > 1:
        base = base.filter((F.col("__id") % sample_mod) == 0)
    init = base.orderBy("__id").limit(k).collect()
    if len(init) < k:
        raise ValueError(
            f"ivf_train: training set has {len(init)} vectors < k={k}"
            + (f" (sample_mod={sample_mod} too sparse)" if sample_mod else "")
        )
    centroids = [(i, list(r["__v"])) for i, r in enumerate(init)]

    for _ in range(iters):
        cdf = emb.sparkSession.createDataFrame(
            centroids, "centroid_id int, centroid array<double>"
        )
        assigned = ivf_assign(base, cdf, id_col="__id", vec_col="__v")
        means = (
            assigned.select("centroid_id", F.posexplode("__v").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.round(F.avg("x"), 9).alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("centroid")
            )
        )
        updated = {r.centroid_id: list(r.centroid) for r in means.collect()}
        centroids = [(cid, updated.get(cid, c)) for cid, c in centroids]

    return emb.sparkSession.createDataFrame(
        centroids, "centroid_id int, centroid array<double>"
    )


def ivf_write_index(assigned: DataFrame, path: str) -> None:
    """Materialize an IVF assignment as a parquet dataset partitioned by
    centroid_id — the at-rest index layout. A probe that filters on
    centroid_id then scans only the probed partitions (PartitionFilters —
    pinned by test_plan_contracts), which is what makes IVF touch 1/K of
    a 100 TB corpus."""
    (
        assigned.repartition(F.col("centroid_id"))
        .write.partitionBy("centroid_id")
        .mode("overwrite")
        .parquet(path)
    )


def ivf_append_batch(
    spark,
    path: str,
    batch: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """Incremental IVF index maintenance: assign ONLY the new batch to
    the existing (frozen) centroids and append its rows to the touched
    centroid partitions — the existing index is never read or rewritten,
    so ingest cost is O(batch), not O(corpus). This is how a production
    IVF index absorbs a day's new vectors; retrain/re-partition happens
    offline on drift (ivf_train + ivf_write_index), exactly like the
    batch-vs-corpus split in dedup_incremental. Returns the touched
    centroid ids (bounded partition metadata, like merge.py's buckets).

    Delivery contract: the append itself is all-or-nothing (parquet job
    commit), but REPLAYING a committed batch duplicates rows — an
    at-least-once producer should route through `plans/txtable.tx_upsert`
    keyed on (centroid_id, vec_id) instead.
    """
    # persist so the assignment job (broadcast centroids + min_by agg over
    # the batch) runs once, shared by the touched-id collect and the write
    assigned = ivf_assign(batch, centroids, id_col=id_col, vec_col=vec_col).persist()
    try:
        touched = [
            r["centroid_id"] for r in assigned.select("centroid_id").distinct().collect()
        ]
        (
            assigned.repartition(F.col("centroid_id"))
            .write.partitionBy("centroid_id")
            .mode("append")
            .parquet(path)
        )
    finally:
        assigned.unpersist()
    return sorted(touched)


def ivf_probe_index(
    spark, path: str, centroids: DataFrame, query: DataFrame, k: int = 10, n_probe: int = 2
) -> DataFrame:
    """ANN search against the materialized index: pick the n_probe nearest
    centroids, read ONLY their partitions, exact top-k within them."""
    assigned = spark.read.parquet(path)
    return ivf_topk(assigned, centroids, query, k=k, n_probe=n_probe)


def random_hyperplane_buckets(
    emb: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Sign-LSH: bucket = bit-string of sign(v · h_p) for deterministic
    pseudo-random hyperplanes h_p (see `hyperplane`). Vectors in the same
    bucket are ANN candidates; near-dup search joins on `bucket`."""
    v = F.col(vec_col).cast("array<double>")
    bits = [
        F.when(_dot(v, F.array(*[F.lit(x) for x in hyperplane(p, dim)])) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for p in range(n_planes)
    ]
    return emb.select(F.col(id_col), F.col(vec_col), F.concat(*bits).alias("bucket"))


def ann_topk_join(
    emb: DataFrame,
    k: int = 3,
    n_planes: int = 6,
    probe_bits: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """All-vectors approximate k-NN join: for every vector, its top-k
    cosine neighbors among candidates sharing a sign-LSH bucket within
    Hamming ≤ probe_bits (the `dedup.probe_masks` neighborhood).

    This is the batch ANN-join a training pipeline runs corpus-wide (the
    single-query `ivf_topk`/`brute_force_topk` are point lookups). Plan
    shape at 100 TB: bucket map → bounded explode (|probe_masks|×) →
    equi-join on bucket → per-vector top-k as a window partitioned by the
    vector id. Nothing is all-pairs; the window is keyed, never global."""
    from pyspark.sql.window import Window as W

    from gfe_db_spark.operators.dedup import _bucketed_candidate_scores

    cand = _bucketed_candidate_scores(
        emb,
        n_planes=n_planes,
        probe_bits=probe_bits,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        ordered_pairs=False,
    )
    w = W.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("id_a").alias(id_col),
            F.col("id_b").alias("neighbor_id"),
            "cos",
            F.col("rn").cast("int").alias("rank"),
        )
    )


def random_projection(
    emb: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    plane_offset: int = 1000,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: dim → out_dim with the
    deterministic md5-derived matrix (rows = `hyperplane(plane_offset+j)`,
    uniform in [-1,1), variance 1/3), scaled by sqrt(3/out_dim) so expected
    squared norms — and pairwise squared distances — are preserved.

    The compression lever BEFORE quantization: 64→16 dims is 4× smaller
    and 4× cheaper per distance, with distortion bounded by JL
    (ε ~ sqrt(ln n / out_dim)). Pure builtins, narrow map, no shuffle; the
    matrix is hash-derived constants folded into codegen, so there is no
    model to store or broadcast — any engine regenerates it
    (`lsh_sql.projection_list_sql` is the DuckDB twin)."""
    import math

    v = F.col(vec_col).cast("array<double>")
    s = math.sqrt(3.0 / out_dim)
    from gfe_db_spark.operators.dedup import _dot

    y = F.array(
        *[
            (
                _dot(v, F.array(*[F.lit(x) for x in hyperplane(plane_offset + j, dim)]))
                * F.lit(s)
            )
            for j in range(out_dim)
        ]
    )
    return emb.select(F.col(id_col), v.alias("v"), y.alias("y"))


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization per vector — the storage/bandwidth lever
    for 100 TB embedding corpora (4× smaller than float32, 8× than the
    float64 compute form). scale = max|v| / 127; q_i = floor(v_i/scale
    + 0.5) (explicit floor keeps rounding engine-portable). Emits the
    quantized vector plus the round-trip RMS error so a pipeline can gate
    on quantization loss. Pure builtins — narrow map, no shuffle."""
    base = emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    # the rounded scale is the stored/contractual value, so quantization
    # uses it too (keeps the op bit-reproducible across engines)
    scale = F.round(
        F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))) / F.lit(127.0), 9
    )
    out = base.withColumn("scale", scale)
    # an all-zero vector has scale 0; dividing by it would yield null/NaN q
    # values silently. Divide by 1 instead — every element is 0, so q is the
    # zero vector and rms_err 0, with the stored scale staying 0.
    safe_scale = F.when(F.col("scale") == 0, F.lit(1.0)).otherwise(F.col("scale"))
    q = F.transform(F.col("v"), lambda x: F.floor(x / safe_scale + F.lit(0.5)).cast("int"))
    with_q = out.withColumn("q", q)
    err2 = F.aggregate(
        F.zip_with(
            F.col("v"),
            F.col("q"),
            lambda x, qi: (x - qi * F.col("scale")) * (x - qi * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return with_q.select(
        id_col,
        "scale",
        "q",
        F.round(F.sqrt(err2 / F.size(F.col("q"))), 9).alias("rms_err"),
    )


def hyperplane_bucket_id(
    emb: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Sign-LSH bucket as an *integer* (bit p set iff v · h_p ≥ 0).

    The int form is what multi-probe search wants: probing a neighbor
    bucket is one `bucket XOR (1<<p)` instead of string surgery, and the
    join key is 4 bytes instead of an n-char string."""
    v = F.col(vec_col).cast("array<double>")
    bucket = None
    for p in range(n_planes):
        bit = F.when(
            _dot(v, F.array(*[F.lit(x) for x in hyperplane(p, dim)])) >= 0, F.lit(1 << p)
        ).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return emb.select(F.col(id_col), F.col(vec_col), bucket.cast("int").alias("bucket"))


def _l2sq(a, b):
    """Squared L2 distance between two array columns (no sqrt — PQ only
    compares distances, and skipping the sqrt keeps it exact)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_codebook(
    emb: DataFrame,
    m: int = 4,
    ks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Product-quantization codebook: split the `dim`-d space into `m`
    subspaces of dim/m and take the sub-slices of the `ks` lowest-id
    vectors as each subspace's codewords — the same deterministic
    trained-model stand-in as ivf_assign's centroids (swap in per-subspace
    k-means output in production; the search path is unchanged).
    Output (sub, code, codeword) — m*ks rows, always broadcast-size."""
    d = dim // m
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(F.col(vec_col).cast("array<double>"), s * d + 1, d).alias("codeword"),
            )
            for s in range(m)
        ]
    )
    return (
        emb.filter(F.col(id_col) < ks)
        .select(F.col(id_col).cast("int").alias("code"), F.explode(subs).alias("sc"))
        .select(F.col("sc.sub").alias("sub"), "code", F.col("sc.codeword").alias("codeword"))
    )


def pq_encode(
    emb: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Encode every vector as `m` small codes (nearest codeword per
    subspace, squared-L2, ties to the lowest code). This is the 100 TB
    storage lever: m bytes per vector instead of 4*dim — the index for a
    10^11-vector corpus fits where the raw vectors never would.

    Plan shape: narrow map (slice) → explode ×m → broadcast join with the
    m*ks codebook → min_by per (vector, subspace) — the broadcast join
    keeps all ks candidate rows of a (vector, subspace) in one partition,
    so partial aggregation reduces to one row before the shuffle, which
    then carries N*m scalar rows (codes), never N*m*ks. Distances are
    rounded to 9 decimals so the argmin is engine-portable."""
    d = dim // m
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(F.col(vec_col).cast("array<double>"), s * d + 1, d).alias("sv"),
            )
            for s in range(m)
        ]
    )
    exploded = emb.select(F.col(id_col), F.explode(subs).alias("sc")).select(
        id_col, F.col("sc.sub").alias("sub"), F.col("sc.sv").alias("sv")
    )
    scored = exploded.join(F.broadcast(codebook), "sub").withColumn(
        "d2", F.round(_l2sq(F.col("sv"), F.col("codeword")), 9)
    )
    best = scored.groupBy(id_col, "sub").agg(
        F.min_by(F.col("code"), F.struct(F.col("d2"), F.col("code"))).alias("code")
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("sub"), F.col("code")))),
            lambda sc: sc["code"],
        ).alias("codes")
    )


def pq_adc_topk(
    codes: DataFrame,
    codebook: DataFrame,
    query: DataFrame,
    k: int = 10,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: build the m*ks
    lookup table of squared-L2 between the query's sub-slices and every
    codeword (one broadcast cross of two tiny frames), then approx
    distance = Σ_sub LUT[sub, code]. The corpus-side work is an explode
    of the m-byte code array, a broadcast LUT join, and a keyed sum —
    no full vectors move after encode time, which is the entire point of
    PQ at scale. Ends in TakeOrderedAndProject (no global sort)."""
    d = dim // m
    qsubs = query.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.slice(F.col(vec_col).cast("array<double>"), s * d + 1, d).alias("qv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("sc")
    ).select(F.col("sc.sub").alias("sub"), F.col("sc.qv").alias("qv"))
    lut = qsubs.join(F.broadcast(codebook), "sub").select(
        "sub", "code", F.round(_l2sq(F.col("qv"), F.col("codeword")), 9).alias("d2")
    )
    exploded = codes.select(id_col, F.posexplode(F.col("codes")).alias("sub", "code"))
    return (
        exploded.join(F.broadcast(lut), ["sub", "code"])
        .groupBy(id_col)
        .agg(F.round(F.sum("d2"), 9).alias("adc_d2"))
        .orderBy(F.asc("adc_d2"), id_col)
        .limit(k)
    )


def standardize_embeddings(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension z-score standardization across the whole corpus —
    the feature-scaling pass before clustering/PQ training. Long-format
    output (vec_id, pos, z): array-element processing as two keyed
    shuffles, no UDF.

    Shape at scale: posexplode is a narrow map; the per-dimension moments
    are ONE keyed agg on `pos` (dim-count groups — tiny) with exact
    decimal sums, broadcast-joined back onto the exploded rows. Constant
    dimensions (variance 0) standardize to 0.0 rather than NaN.
    """
    x = emb.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"),
    )
    stats = x.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(38,18)")).cast("double").alias("sx"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,18)"))
        .cast("double")
        .alias("sxx"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("sx") / nd
    var = F.col("sxx") / nd - mean * mean
    z = F.when(var <= 0, F.lit(0.0)).otherwise(
        F.round((F.col("v") - mean) / F.sqrt(var), 9)
    )
    return (
        x.join(F.broadcast(stats), "pos")
        .select("vec_id", "pos", z.alias("z"))
    )


def ivf_pq_topk(
    emb: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """The composed production-ANN layout: IVF restricts the search to the
    n_probe centroids nearest the query (at scale: the PQ-code index is
    parquet materialized PARTITIONED BY centroid_id — see
    `ivf_write_index` — so the probe is dynamic partition pruning), and
    within the probed cells the asymmetric-distance PQ pass scores m-byte
    codes against a broadcast LUT — full vectors never move at query
    time. This is IVFADC (Jégou et al.), here as a pure DataFrame
    composition of ivf_assign → probe-prune → pq_encode → pq_adc_topk."""
    qdf = query.select(F.col(query.columns[0]).cast("array<double>").alias("__q"))
    probe = (
        centroids.crossJoin(F.broadcast(qdf))
        .withColumn(
            "cos_q", cosine(F.col("centroid").cast("array<double>"), F.col("__q"))
        )
        .orderBy(F.desc("cos_q"), "centroid_id")
        .limit(n_probe)
        .select("centroid_id")
    )
    assigned = ivf_assign(emb, centroids, id_col=id_col, vec_col=vec_col)
    pruned = assigned.join(F.broadcast(probe), "centroid_id").select(id_col, vec_col)
    codes = pq_encode(pruned, codebook, m=m, id_col=id_col, vec_col=vec_col, dim=dim)
    return pq_adc_topk(
        codes, codebook, query, k=k, m=m, id_col=id_col, vec_col=vec_col, dim=dim
    )
