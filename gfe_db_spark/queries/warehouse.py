"""Warehouse maintenance shapes: point-in-time reads over SCD2 history,
changelog (CDC) apply with delete semantics, and mergeable partial-aggregate
state (incremental materialized-view maintenance).

The reference's load path is a full-table MERGE per release (SURVEY §2.4
A1-A5, ref `load/src/model/*.cypher`); these entries cover the three
warehouse shapes that sit right next to that MERGE in a real deployment:
reading the dimension as of a past time, applying an upstream change
stream that can delete, and refreshing a downstream aggregate from a delta
without recomputing the world.

Scale notes (100 TB design):
- the point-in-time join is an equi-join on the entity key with the
  interval predicate applied post-join: the shuffle carries only the key,
  and per-key fan-out is bounded by that entity's history length (never a
  global range join). With a bucketed/Delta dimension this is exactly the
  "timestamp-as-of" read path.
- the CDC apply is ONE keyed aggregation (max_by over a version struct)
  with map-side partial aggregation — an N-row shuffle, not a window sort;
  tombstones (op='D') are dropped after the arg-max so a delete followed
  by no re-insert removes the key.
- the incremental-merge entry computes partial aggregate STATES (count +
  decimal sums) per partition-of-arrival and merges them; merging M daily
  states costs O(groups × M), independent of raw row count — the
  mergeable-state contract every incremental MV / cube build relies on.
  Decimal routing keeps merge order irrelevant (exact arithmetic), so
  base+delta equals the full recompute bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from gfe_db_spark.queries import QuerySpec
from gfe_db_spark.sources.tables import table


def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time-travel) join: probe each customer's SCD2
    order-history at probe_ts = order date + 30 days and aggregate the
    attribute that was valid then. Each probe lands in exactly one
    validity interval ([valid_from, valid_to), open interval ends NULL),
    so the join is key-equi + interval filter — no pair explosion."""
    orders = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    hist = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.col("o_totalprice").alias("totalprice"),
    )
    probes = orders.select(
        F.col("o_custkey").alias("p_custkey"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("probe_ts"),
    )
    joined = probes.join(
        hist,
        (F.col("p_custkey") == F.col("custkey"))
        & (F.col("probe_ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("probe_ts") < F.col("valid_to"))),
        "inner",
    )
    return (
        joined.groupBy("custkey")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum(F.col("totalprice").cast("decimal(30,8)"))
            .cast("double")
            .alias("pit_total"),
        )
    )


SCD2_PIT_SQL = """
WITH hist AS (
  SELECT o_custkey AS custkey, o_orderdate AS valid_from,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS valid_to,
         o_totalprice AS totalprice
  FROM orders
), probes AS (
  SELECT o_custkey AS p_custkey,
         o_orderdate + INTERVAL 30 DAY AS probe_ts
  FROM orders
)
SELECT h.custkey,
       CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(CAST(SUM(CAST(h.totalprice AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS pit_total
FROM probes p JOIN hist h
  ON p.p_custkey = h.custkey
 AND p.probe_ts >= h.valid_from
 AND (h.valid_to IS NULL OR p.probe_ts < h.valid_to)
GROUP BY h.custkey
ORDER BY h.custkey
"""


def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC changelog to produce the current snapshot. The event
    stream is read as a changelog keyed by user_id: op='D' (tombstone) for
    'error' events, op='U' otherwise; version = (ts, event_id). Apply =
    arg-max by version per key, then drop keys whose LATEST op is a
    tombstone — delete-aware keep-latest, i.e. MERGE with WHEN MATCHED
    DELETE. One keyed aggregation; no window sort."""
    ev = table(spark, sf_dir, "events")
    chg = ev.select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("version_ts"),
        F.col("event_id").alias("version_seq"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("value"),
    )
    vkey = F.struct("version_ts", "version_seq")
    latest = chg.groupBy("key").agg(
        F.max_by(F.struct("version_ts", "version_seq", "op", "value"), vkey).alias("s"),
        F.count(F.lit(1)).alias("n_changes"),
    )
    return (
        latest.filter(F.col("s.op") != "D")
        .select(
            "key",
            F.date_format("s.version_ts", "yyyy-MM-dd HH:mm:ss").alias("version_ts"),
            F.col("s.value").alias("current_value"),
            "n_changes",
        )
    )


CDC_APPLY_SQL = """
SELECT key, strftime(version_ts, '%Y-%m-%d %H:%M:%S') AS version_ts,
       value AS current_value, n_changes
FROM (
  SELECT user_id AS key, ts AS version_ts, value,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_changes,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1 AND op <> 'D'
ORDER BY key
"""


def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh: partial aggregate states for
    the base (shipdate < 1999) and the delta (>= 1999) are computed
    independently and MERGED — never re-scanning the base rows. The state
    is (count, decimal sum-of-qty, decimal sum-of-revenue); decimal
    arithmetic makes the merge exact and order-free, so the merged result
    equals the full single-pass recompute bit-for-bit (the oracle)."""
    li = table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1999-01-01")

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(30,8)")).alias("sum_qty_state"),
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                    "decimal(30,8)"
                )
            ).alias("sum_rev_state"),
        )

    base = state(li.filter(F.col("l_shipdate") < cutoff))
    delta = state(li.filter(F.col("l_shipdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("l_returnflag")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("sum_qty_state").cast("double").alias("sum_qty"),
            F.sum("sum_rev_state").cast("double").alias("sum_revenue"),
        )
        .orderBy("l_returnflag")
    )


INCREMENTAL_MERGE_SQL = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS sum_revenue
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


#: hard pair-cost bound for entity matching: only the `MAX_BLOCK_SIZE`
#: lowest-key members of a block act as the left (probe) side, so a block
#: of size s costs s·min(s, cap) pairs instead of s² — linear in corpus
#: size for fixed cap. Blocks at or under the cap are matched EXACTLY as
#: before (head×all with k< covers every pair). TPC-H name-prefix blocks
#: are ≤100 rows at every SF, so the cap never binds on the test tables;
#: it exists for the pathological hot block (a degenerate blocking key at
#: 100 TB), and the oracle applies the identical rule so parity holds
#: even when it does bind.
MAX_BLOCK_SIZE = 256


#: names longer than this take the direct banded join; at or under it the
#: delete-neighborhood candidate join applies (its variant fan-out is
#: len+1 rows per name — linear and tiny for entity names, but a caller
#: feeding documents as "names" must not explode len× the corpus).
VARIANT_NAME_MAX_LEN = 64


def _del1_variants(name):
    """{name} ∪ all single-character deletions — the FastSS/SymSpell
    candidate key set for edit distance 1: lev(a, b) <= 1 implies a and b
    share at least one key (equality for dist 0; b ∈ del1(a) for a
    deletion; a ∈ del1(b) for an insertion; del1 at the edited position
    for a substitution). The converse does NOT hold (shared deletion keys
    can be distance 2, e.g. "ab"/"ba" both delete to "a"/"b"), so
    candidates are verified with the exact threshold levenshtein."""
    n = F.length(name)
    dels = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat(
                F.substr(name, F.lit(1), i - 1), F.substr(name, i + 1, n - i)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_union(F.array(name), dels)


def blocked_match_pairs(
    df: DataFrame,
    key_col: str = "k",
    name_col: str = "name",
    block_col: str = "block",
    max_dist: int = 1,
    max_block_size: int | None = MAX_BLOCK_SIZE,
    variant_max_len: int = VARIANT_NAME_MAX_LEN,
) -> DataFrame:
    """Capped within-block fuzzy match core of `entity_match_blocking`,
    exposed so the planted hot-block test can drive it directly. Returns
    (block, dist) rows for every matched pair; the a-side is restricted
    to the block's `max_block_size`-member head (row_number by key), the
    explicit Σ|block|·cap cost bound the round-5 verdict asked for.
    `key_col` must be row-unique (it is the pair identity — the
    registered entry uses the customer PK).

    Physical strategy by threshold (both output-identical, pinned by the
    planted + hypothesis brute-force tests):

    - ``max_dist == 1`` (the registered entry): delete-neighborhood
      candidate join (FastSS/SymSpell on DataFrames). Each name under
      ``variant_max_len`` explodes to its len+1 single-deletion keys and
      candidates come from an equi-join on (block, variant) — two names
      within distance 1 MUST share a key, so nothing is lost — then the
      exact threshold levenshtein verifies each candidate. Cost is
      O(n·len) join rows + a DP only per candidate (≈ per true match),
      instead of a DP per head×block pair: the r9 sf1 wall was 7.5M
      threshold-DPs on 150k customers for 150 matches. Pairs with a name
      over ``variant_max_len`` fall back to the direct join below (a
      distance-1 pair differs in length by ≤1, so both sides of such a
      pair sit at or above the cutoff — no pair straddles the paths).
    - ``max_dist > 1``: direct within-block join, length-band prefilter
      (|len(a)−len(b)| is a levenshtein lower bound) ahead of the
      threshold DP (early-terminated at max_dist: O(len·max_dist))."""
    from pyspark.sql.window import Window as W

    from gfe_db_spark.operators import spread_small_input

    # Block-keyed spread (r13): the head window needs hash(block)
    # clustering anyway, but for a compact input AQE coalesces that
    # exchange to 1-2 partitions (bytes-based), so the variant explode,
    # candidate join BUILDS and the levenshtein DPs all ran serialized
    # (measured: wall == single-thread CPU, 4 broadcast builds of ~1.5s
    # each at sf0.1). A pinned-width spread keyed on block satisfies the
    # window AND keeps the fan-out wide; blocks are many (~n/100 here),
    # and at cluster scale the input arrives with >= parallelism splits
    # so this is a no-op (guide §2.4/§2.5). Keyed on block, not the
    # unique key, precisely so the window reuses the exchange.
    df = spread_small_input(df, key=block_col)
    a = df.withColumn(
        "__rk", F.row_number().over(W.partitionBy(block_col).orderBy(key_col))
    )
    if max_block_size is not None:
        a = a.filter(F.col("__rk") <= max_block_size)

    def _direct(a_side: DataFrame, b_side: DataFrame, extra=None) -> DataFrame:
        aa, bb = a_side.alias("a"), b_side.alias("b")
        dist = F.levenshtein(
            F.col(f"a.{name_col}"), F.col(f"b.{name_col}"), max_dist
        )
        cond = (
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col(f"a.{key_col}") < F.col(f"b.{key_col}"))
            & (
                F.abs(
                    F.length(F.col(f"a.{name_col}"))
                    - F.length(F.col(f"b.{name_col}"))
                )
                <= max_dist
            )
        )
        if extra is not None:
            cond = cond & extra
        return (
            aa.join(bb, cond)
            .select(F.col(f"a.{block_col}").alias("block"), dist.alias("dist"))
            .filter(F.col("dist") >= 0)
        )

    if max_dist != 1:
        return _direct(a, df)

    nlen = F.length(F.col(name_col))

    def _explode_variants(side: DataFrame, kc: str, nc: str) -> DataFrame:
        return side.filter(nlen <= variant_max_len).select(
            F.col(block_col).alias("block"),
            F.col(key_col).alias(kc),
            F.col(name_col).alias(nc),
            F.explode(_del1_variants(F.col(name_col))).alias("__vk"),
        )

    cand = (
        _explode_variants(a, "__ka", "__na")
        .join(_explode_variants(df, "__kb", "__nb"), ["block", "__vk"])
        .filter(F.col("__ka") < F.col("__kb"))
        .select("block", "__ka", "__kb", "__na", "__nb")
        .distinct()  # two names can share several variant keys
    )
    vdist = F.levenshtein(F.col("__na"), F.col("__nb"), 1)
    short_pairs = cand.select("block", vdist.alias("dist")).filter(
        F.col("dist") >= 0
    )
    # long tail: any pair with a name over the cutoff has BOTH names at
    # or above it (distance 1 bounds the length gap to 1 — and the
    # greatest() guard excludes the both-exactly-at-cutoff pairs the
    # variant path already produced)
    long_pairs = _direct(
        a.filter(nlen >= variant_max_len),
        df.filter(nlen >= variant_max_len),
        extra=(
            F.greatest(
                F.length(F.col(f"a.{name_col}")),
                F.length(F.col(f"b.{name_col}")),
            )
            > variant_max_len
        ),
    )
    return short_pairs.unionByName(long_pairs)


def blocked_match_pairs_gated(
    df: DataFrame,
    key_col: str = "k",
    name_col: str = "name",
    block_col: str = "block",
    max_block_size: int | None = MAX_BLOCK_SIZE,
    variant_max_len: int = VARIANT_NAME_MAX_LEN,
) -> DataFrame:
    """Digest-gated form of `blocked_match_pairs` for max_dist=1 — the
    dedup-family exact-duplicate gate applied to entity matching: the
    delete-neighborhood candidate join and the per-candidate levenshtein
    run over DISTINCT (block, name) classes only, and the declared
    row-level pair multiset is reconstructed by expanding each matched
    class pair through its member rows under the original qualifying
    rule (the lower-key side must sit in the block's
    `max_block_size`-member head).

    Row-multiset-identical to the ungated form: levenshtein depends only
    on the name pair, so every member combination of a matched class
    pair carries the class distance verbatim, identical names are
    distance 0 (within-class pairs), and a NULL name never matches on
    either path (NULL levenshtein is NULL). What changes is cost: under
    k-way name duplication the ungated candidate join holds k copies of
    every variant key per bucket (k² candidates, k² DPs — the r10 sf1
    profile measured 11.4M candidates for 150k rows at 10-way
    duplication); gated, candidates and DPs are bounded by distinct
    names and only the DECLARED output stays duplication-quadratic."""
    from pyspark.sql.window import Window as W

    from gfe_db_spark.operators import spread_small_input

    # same block-keyed spread as the ungated form (see there): the head
    # window reuses it and the class explode/DP stages stay wide
    df = spread_small_input(df, key=block_col)
    m = (
        df.filter(F.col(name_col).isNotNull())
        .withColumn(
            "__rk", F.row_number().over(W.partitionBy(block_col).orderBy(key_col))
        )
        .withColumn(
            "__head",
            F.col("__rk") <= max_block_size
            if max_block_size is not None
            else F.lit(True),
        )
        .select(
            F.col(block_col).alias("block"),
            F.col(name_col).alias("__name"),
            F.col(key_col).alias("__k"),
            "__head",
        )
    )
    reps = m.select("block", "__name").distinct()
    nlen = F.length("__name")

    def _ex(side: DataFrame, nc: str) -> DataFrame:
        return side.filter(nlen <= variant_max_len).select(
            "block",
            F.col("__name").alias(nc),
            F.explode(_del1_variants(F.col("__name"))).alias("__vk"),
        )

    cand_short = (
        _ex(reps, "__na")
        .join(_ex(reps, "__nb"), ["block", "__vk"])
        .filter(F.col("__na") < F.col("__nb"))
        .select("block", "__na", "__nb")
        .distinct()
    )
    # long-name classes: direct banded class join (same split rule as the
    # ungated path — a distance-1 pair never straddles the cutoff)
    la = reps.filter(nlen >= variant_max_len).alias("a")
    lb = reps.filter(nlen >= variant_max_len).alias("b")
    cand_long = la.join(
        lb,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.__name") < F.col("b.__name"))
        & (F.abs(F.length("a.__name") - F.length("b.__name")) <= 1)
        & (F.greatest(F.length("a.__name"), F.length("b.__name")) > variant_max_len),
    ).select(
        F.col("a.block").alias("block"),
        F.col("a.__name").alias("__na"),
        F.col("b.__name").alias("__nb"),
    )
    cls_pairs = (
        cand_short.unionByName(cand_long)
        .withColumn("dist", F.levenshtein(F.col("__na"), F.col("__nb"), 1))
        .filter(F.col("dist") >= 0)
        # pinned exchange, keyed as the first expansion join needs (r13,
        # the change-1/13 shared-exchange pattern): the two member-
        # expansion joins otherwise evaluate this ENTIRE candidate
        # pipeline once per broadcast build — sequential builds cannot
        # reuse each other's un-exchanged lineage (measured at the 10x
        # slice: two ~19 task-CPU-s build stages for one pipeline).
        # With the pin, build 2 reads a ReusedExchange. The keys are
        # ordered (__na, block) on purpose: when AQE streams the __na side
        # of the candidate join, its output is already hash-partitioned on
        # (block, __na), and the planner drops a column repartition whose
        # partitioning equals its child's, so a (block, __na) pin vanished
        # whenever that side won the runtime build-side race. The reordered
        # keys still satisfy the expansion join's (block, __na) clustering.
        .repartition(F.col("__na"), F.col("block"))
    )
    ma = m.select(
        "block",
        F.col("__name").alias("__na"),
        F.col("__k").alias("__ka"),
        F.col("__head").alias("__ha"),
    )
    mb = m.select(
        "block",
        F.col("__name").alias("__nb"),
        F.col("__k").alias("__kb"),
        F.col("__head").alias("__hb"),
    )
    # a member pair qualifies iff its lower-key side is in the head —
    # exactly the ungated rule (key uniqueness makes the OR exclusive)
    cross = (
        cls_pairs.join(ma, ["block", "__na"])
        .join(mb, ["block", "__nb"])
        .filter(
            (F.col("__ha") & (F.col("__ka") < F.col("__kb")))
            | (F.col("__hb") & (F.col("__kb") < F.col("__ka")))
        )
        .select("block", "dist")
    )
    w1 = m.select("block", "__name", F.col("__k").alias("__ka"), "__head")
    w2 = m.select("block", "__name", F.col("__k").alias("__kb"))
    within = (
        w1.join(w2, ["block", "__name"])
        .filter(F.col("__head") & (F.col("__ka") < F.col("__kb")))
        .select("block", F.lit(0).alias("dist"))
    )
    return cross.unionByName(within)


def entity_match_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution with blocking: candidate pairs are generated only
    WITHIN a blocking key (name prefix — at 100 TB the blocking join
    shuffles on the block, bounding pair cost to Σ|block|² instead of n²,
    with `MAX_BLOCK_SIZE` hard-capping even that to Σ|block|·cap), then
    scored with edit distance (levenshtein ≤ 1 → same entity,
    typo-tolerant). Candidates come from the delete-neighborhood
    (FastSS/SymSpell) equi-join, not a block self-join, so the DP runs
    per candidate instead of per head×block pair; under name duplication
    (the adversarial sf1/sf10 slices) the same duplication-adaptive
    chooser as the LSH dedup entries flips to the digest-gated form,
    bounding candidates by DISTINCT names. Per-block match counts +
    total distance keep the output profile-sized; AQE's skew-join splits
    any hot block."""
    from gfe_db_spark.sources.tables import corpus_stats

    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.substring("c_name", 1, 16).alias("block"),
    )
    n_rows, n_distinct = corpus_stats(spark, sf_dir, "customer", "c_name")
    pair_fn = (
        blocked_match_pairs_gated if n_distinct < 0.95 * n_rows else blocked_match_pairs
    )
    return (
        pair_fn(cust)
        .groupBy("block")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.sum("dist").alias("total_dist"),
        )
        .orderBy("block")
    )


ENTITY_MATCH_SQL = f"""
WITH c AS (
  SELECT c_custkey AS k, c_name AS name, substr(c_name, 1, 16) AS block
  FROM customer
), h AS (
  SELECT k, name, block,
         row_number() OVER (PARTITION BY block ORDER BY k) AS rk
  FROM c
)
SELECT a.block,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(SUM(levenshtein(a.name, b.name)) AS BIGINT) AS total_dist
FROM h a JOIN c b
  ON a.block = b.block AND a.k < b.k
 AND abs(length(a.name) - length(b.name)) <= 1
WHERE a.rk <= {MAX_BLOCK_SIZE} AND levenshtein(a.name, b.name) <= 1
GROUP BY a.block
ORDER BY a.block
"""


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of `orders` in ONE scan: per column,
    non-null count, exact distinct count, and min/max rendered to strings.
    All statistics are computed in a single aggregation (one pass, one
    shuffle for the distincts — Spark expands multiple count-distincts
    itself); the 1-row result is exploded to long format. Doubles are
    profiled in integer cents (floor(x*100): IEEE multiply + floor are
    engine-exact, unlike double→string rendering); timestamps via
    date_format."""
    # NOT spread (r13, negative result): a PK-keyed input spread to
    # parallelize the count_distinct Expand won only ~0.5 s of wall at
    # both sf0.1 and the 10x slice while multiplying measured task CPU
    # ~7x at sf0.1 (21-28 s vs 3 s — the expanded partial-distinct hash
    # aggregation repeated per post-spread partition dominates); the
    # single-pass profile over the scan's own splits is the better
    # CPU trade.
    o = table(spark, sf_dir, "orders")
    fmt = "yyyy-MM-dd HH:mm:ss"
    row = o.agg(
        F.count("o_orderkey").alias("nn_key"),
        F.count_distinct("o_orderkey").alias("nd_key"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.count("o_custkey").alias("nn_cust"),
        F.count_distinct("o_custkey").alias("nd_cust"),
        F.min("o_custkey").alias("min_cust"),
        F.max("o_custkey").alias("max_cust"),
        F.count("o_orderpriority").alias("nn_prio"),
        F.count_distinct("o_orderpriority").alias("nd_prio"),
        F.min("o_orderpriority").alias("min_prio"),
        F.max("o_orderpriority").alias("max_prio"),
        F.count("o_orderdate").alias("nn_date"),
        F.count_distinct("o_orderdate").alias("nd_date"),
        F.date_format(F.min("o_orderdate"), fmt).alias("min_date"),
        F.date_format(F.max("o_orderdate"), fmt).alias("max_date"),
        F.count("o_totalprice").alias("nn_price"),
        F.count_distinct("o_totalprice").alias("nd_price"),
        F.floor(F.min("o_totalprice") * 100).alias("min_price_c"),
        F.floor(F.max("o_totalprice") * 100).alias("max_price_c"),
    )

    def stat(name: str, nn, nd, mn, mx):
        return F.struct(
            F.lit(name).alias("col_name"),
            F.col(nn).alias("n_nonnull"),
            F.col(nd).alias("n_distinct"),
            F.col(mn).cast("string").alias("min_val"),
            F.col(mx).cast("string").alias("max_val"),
        )

    return (
        row.select(
            F.explode(
                F.array(
                    stat("o_orderkey", "nn_key", "nd_key", "min_key", "max_key"),
                    stat("o_custkey", "nn_cust", "nd_cust", "min_cust", "max_cust"),
                    stat("o_orderpriority", "nn_prio", "nd_prio", "min_prio", "max_prio"),
                    stat("o_orderdate", "nn_date", "nd_date", "min_date", "max_date"),
                    stat(
                        "o_totalprice_cents",
                        "nn_price",
                        "nd_price",
                        "min_price_c",
                        "max_price_c",
                    ),
                )
            ).alias("s")
        )
        .select("s.*")
        .orderBy("col_name")
    )


TABLE_PROFILE_SQL = """
SELECT 'o_orderkey' AS col_name,
       CAST(COUNT(o_orderkey) AS BIGINT) AS n_nonnull,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_val,
       CAST(MAX(o_orderkey) AS VARCHAR) AS max_val
FROM orders
UNION ALL
SELECT 'o_custkey', CAST(COUNT(o_custkey) AS BIGINT),
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderpriority', CAST(COUNT(o_orderpriority) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
       MIN(o_orderpriority), MAX(o_orderpriority)
FROM orders
UNION ALL
SELECT 'o_orderdate', CAST(COUNT(o_orderdate) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
       strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S'),
       strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')
FROM orders
UNION ALL
SELECT 'o_totalprice_cents', CAST(COUNT(o_totalprice) AS BIGINT),
       CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
       CAST(CAST(FLOOR(MIN(o_totalprice) * 100) AS BIGINT) AS VARCHAR),
       CAST(CAST(FLOOR(MAX(o_totalprice) * 100) AS BIGINT) AS VARCHAR)
FROM orders
ORDER BY col_name
"""


def dq_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: one row per constraint with its
    violation count — the publish-blocking check a pipeline runs before a
    dataset release (uniqueness, referential completeness, non-null,
    accepted range). Extends F8/A10's single-artifact validation
    (`sources/compat.validate_artifacts`) to cross-table invariants.

    Each constraint is the cheapest plan that can falsify it: uniqueness =
    count minus distinct-count in one agg; the FK is a left-anti join that
    shuffles only the key columns; null/range checks are map-side
    conditional sums in a single scan. At 100 TB the suite stays one pass
    per table + one keyed anti-join — no constraint needs a sort."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    ev = table(spark, sf_dir, "events")

    def check(name: str, vio):
        return vio.select(
            F.lit(name).alias("constraint_name"),
            F.col("v").cast("long").alias("n_violations"),
            (F.col("v") == 0).alias("passed"),
        )

    rows = [
        check(
            "orders_pk_unique",
            orders.agg((F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("v")),
        ),
        check(
            "lineitem_pk_unique",
            li.agg(
                (
                    F.count(F.lit(1))
                    - F.count_distinct("l_orderkey", "l_linenumber")
                ).alias("v")
            ),
        ),
        check(
            "lineitem_orderkey_fk_complete",
            li.join(
                orders.select("o_orderkey"),
                li.l_orderkey == F.col("o_orderkey"),
                "left_anti",
            ).agg(F.count(F.lit(1)).alias("v")),
        ),
        check(
            "events_ts_user_not_null",
            ev.agg(
                F.sum(
                    F.when(
                        F.col("ts").isNull() | F.col("user_id").isNull(), 1
                    ).otherwise(0)
                ).alias("v")
            ),
        ),
        check(
            "lineitem_quantity_in_range",
            li.agg(
                F.sum(
                    F.when(
                        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
                    ).otherwise(0)
                ).alias("v")
            ),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("constraint_name")


def table_content_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard order-insensitive content checksum — the anti-entropy
    check for replication, migration, or engine-swap validation: two
    copies of a table agree iff every (shard, n_rows, checksum) row
    agrees, and a corrupted/lost row pins the damage to one shard of 16.

    checksum = bit_xor over rows of the engine-portable md5-LE32 of the
    '|'-joined key columns: XOR is commutative/associative, so the result
    is independent of row order and partitioning — exactly what a
    distributed aggregation needs — and no sum overflow semantics differ
    across engines. One scan, one keyed agg with map-side combine; this
    entry IS the cross-engine validation run once against DuckDB."""
    from gfe_db_spark.operators.text import hash_le32_expr

    orders = table(spark, sf_dir, "orders")
    row_h = hash_le32_expr(
        F.concat(
            F.concat_ws("|", "o_orderkey", "o_custkey", "o_orderstatus"),
            F.lit(":cksum"),
        )
    )
    return (
        orders.groupBy((F.col("o_orderkey") % 16).alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(row_h).alias("checksum"),
        )
        .orderBy("shard")
    )


TABLE_CHECKSUM_SQL = """
SELECT o_orderkey % 16 AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       bit_xor(CAST(md5_number_upper(
         concat_ws('|', o_orderkey, o_custkey, o_orderstatus) || ':cksum')
         & 4294967295 AS BIGINT)) AS checksum
FROM orders
GROUP BY 1
ORDER BY shard
"""


DQ_SUITE_SQL = """
SELECT * FROM (
  SELECT 'orders_pk_unique' AS constraint_name,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations,
         COUNT(*) - COUNT(DISTINCT o_orderkey) = 0 AS passed
  FROM orders
  UNION ALL
  SELECT 'lineitem_pk_unique',
         CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
         COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) = 0
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_orderkey_fk_complete',
         CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
  FROM lineitem l WHERE NOT EXISTS (
    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
  )
  UNION ALL
  SELECT 'events_ts_user_not_null',
         CAST(SUM(CASE WHEN ts IS NULL OR user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         SUM(CASE WHEN ts IS NULL OR user_id IS NULL THEN 1 ELSE 0 END) = 0
  FROM events
  UNION ALL
  SELECT 'lineitem_quantity_in_range',
         CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT),
         SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) = 0
  FROM lineitem
)
ORDER BY constraint_name
"""


def txtable_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reader-isolated MERGE executed end to end (plans/txtable.py): the
    events table committed into a manifest-pointer parquet table —
    bootstrap, an idempotent replay of the same batch, an update commit
    that doubles `value` for click events (batch-wins ON MATCH), then a
    manifest-flip compaction and a vacuum — and the final snapshot read
    back through the manifest. The oracle recomputes the same state from
    the source directly, so the hash check proves: one row per key after
    the replay, the update commit rewrote exactly the matched keys, and
    compaction + vacuum changed nothing a reader can see. Value travels
    as integer cents (float-order-proof)."""
    import shutil
    import tempfile

    from gfe_db_spark.plans import txtable as TX
    from gfe_db_spark.session import remove_at_exit

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    # one fixed scratch root, wiped on entry: repeated sweeps replace the
    # table instead of accumulating mkdtemp copies (the result DataFrame is
    # lazy, so the dir must outlive this function — interpreter exit, not a
    # finally block, removes it)
    import os

    # pid-suffixed: concurrent processes never wipe each other's table
    scratch = remove_at_exit(f"{tempfile.gettempdir()}/gfe_txtable_demo_{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    root = scratch + "/events_tx"
    TX.tx_upsert(ev, root, ["event_id"], n_buckets=8)
    TX.tx_upsert(ev, root, ["event_id"], n_buckets=8)  # replay → no dupes
    clicks = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", (F.col("value") * 2).alias("value"))
    )
    TX.tx_upsert(clicks, root, ["event_id"], on_match="update", n_buckets=8)
    TX.tx_compact(spark, root)
    TX.tx_vacuum(spark, root, keep_manifests=1)
    return (
        TX.tx_read(spark, root)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("value_cents"),
        )
    )


TXTABLE_UPSERT_SQL = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(CASE WHEN event_type = 'click' THEN value * 2
                                ELSE value END * 100, 0) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def txtable_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel CDC read executed end to end (plans/txtable.tx_changes
    — the `table_changes` surface of the manifest-pointer layout): commit
    the even-event half of `events` as generation 1, then one MERGE commit
    of the odd half (inserts) plus the even click rows at doubled value
    (updates), and diff the two PINNED snapshots. The hash check proves
    three things at once: the pinned generation-1 read still resolves the
    pre-MERGE state (snapshot isolation across commits), the diff
    classifies exactly the odd half as `insert` and exactly the even
    clicks with value <> 0 as `update` (a doubled zero is not a change),
    and nothing else leaked between the snapshots. The oracle recomputes
    both change sets from the source directly. Value travels as integer
    cents (float-order-proof; value*2 is exact in binary FP)."""
    import os
    import shutil
    import tempfile

    from gfe_db_spark.plans import txtable as TX
    from gfe_db_spark.session import remove_at_exit

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    # same scratch discipline as txtable_upsert: fixed pid-suffixed root,
    # wiped on entry and at exit (the lazy result outlives this function)
    scratch = remove_at_exit(f"{tempfile.gettempdir()}/gfe_txtable_tt_{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    root = scratch + "/events_tt"
    TX.tx_upsert(ev.filter(F.col("event_id") % 2 == 0), root, ["event_id"], n_buckets=8)
    g1 = TX.current_manifest_number(spark, root)
    clicks2x = (
        table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "click") & (F.col("event_id") % 2 == 0))
        .select("event_id", "user_id", (F.col("value") * 2).alias("value"))
    )
    batch2 = ev.filter(F.col("event_id") % 2 == 1).unionByName(clicks2x)
    TX.tx_upsert(batch2, root, ["event_id"], on_match="update", n_buckets=8)
    return (
        TX.tx_changes(spark, root, since_generation=g1, keys=["event_id"])
        .groupBy("user_id", "change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("new_cents"),
        )
    )


TXTABLE_TIME_TRAVEL_DIFF_SQL = """
SELECT user_id, 'insert' AS change_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS new_cents
FROM events WHERE event_id % 2 = 1
GROUP BY user_id
UNION ALL
SELECT user_id, 'update' AS change_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(value * 2 * 100, 0) AS BIGINT)) AS BIGINT) AS new_cents
FROM events
WHERE event_id % 2 = 0 AND event_type = 'click' AND value <> 0
GROUP BY user_id
ORDER BY user_id, change_type
"""


QUERIES: dict[str, QuerySpec] = {
    "table_profile": QuerySpec(
        table_profile,
        TABLE_PROFILE_SQL,
        "single-pass ANALYZE-style column profile (non-null / ndv / min / max)",
    ),
    "entity_match_blocking": QuerySpec(
        entity_match_blocking,
        ENTITY_MATCH_SQL,
        "blocked entity resolution with edit-distance scoring",
    ),
    "scd2_point_in_time_join": QuerySpec(
        scd2_point_in_time_join,
        SCD2_PIT_SQL,
        "point-in-time (time-travel) read over SCD2 validity intervals",
    ),
    "cdc_apply_changelog": QuerySpec(
        cdc_apply_changelog,
        CDC_APPLY_SQL,
        "CDC changelog apply with tombstone deletes (delete-aware keep-latest)",
    ),
    "incremental_agg_merge": QuerySpec(
        incremental_agg_merge,
        INCREMENTAL_MERGE_SQL,
        "mergeable partial-aggregate state: base+delta merge == full recompute",
    ),
    "dq_constraint_suite": QuerySpec(
        dq_constraint_suite,
        DQ_SUITE_SQL,
        "cross-table data-quality gate: pk/fk/null/range constraint checks",
    ),
    "txtable_upsert": QuerySpec(
        txtable_upsert,
        TXTABLE_UPSERT_SQL,
        "reader-isolated manifest-pointer MERGE + compaction + vacuum, executed",
    ),
    "txtable_time_travel_diff": QuerySpec(
        txtable_time_travel_diff,
        TXTABLE_TIME_TRAVEL_DIFF_SQL,
        "table_changes CDC diff between pinned generations, bucket-pruned",
    ),
    "table_content_checksum": QuerySpec(
        table_content_checksum,
        TABLE_CHECKSUM_SQL,
        "per-shard XOR content checksum for replication/migration validation",
    ),
}
