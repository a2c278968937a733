"""Shared DuckDB-SQL fragments mirroring the sign-LSH operators: the
oracle regenerates the identical hash-derived hyperplanes
(operators/similarity.hyperplane) and XOR probe masks
(operators/dedup.probe_masks), so bucketed Spark plans hash-check exactly.
"""

from __future__ import annotations


def bucket_int_sql(vec_expr: str, n_planes: int = 8, dim: int = 64) -> str:
    """Integer sign-LSH bucket of `vec_expr` (a DOUBLE[] SQL expression):
    bit p set iff dot(v, hyperplane(p)) >= 0 — mirrors
    operators/similarity.hyperplane_bucket_id."""
    from gfe_db_spark.operators.similarity import hyperplane

    terms = []
    for p in range(n_planes):
        plane = ", ".join(repr(x) for x in hyperplane(p, dim))
        terms.append(
            f"CASE WHEN list_dot_product({vec_expr}, [{plane}]) >= 0 THEN {1 << p} ELSE 0 END"
        )
    return " + ".join(terms)


def projection_list_sql(
    vec_expr: str, out_dim: int = 16, dim: int = 64, plane_offset: int = 1000
) -> str:
    """DOUBLE[] SQL expression for the JL projection of `vec_expr` —
    mirrors operators/similarity.random_projection (same md5-derived
    matrix rows, same sqrt(3/out_dim) scale)."""
    import math

    from gfe_db_spark.operators.similarity import hyperplane

    s = repr(math.sqrt(3.0 / out_dim))
    rows = []
    for j in range(out_dim):
        plane = ", ".join(repr(x) for x in hyperplane(plane_offset + j, dim))
        rows.append(f"list_dot_product({vec_expr}, [{plane}]) * {s}")
    return "[" + ", ".join(rows) + "]"


def adaptive_lsh_ctes(
    target_bucket: int,
    two_bit_when_le: int | None = None,
    min_planes: int = 8,
    max_planes: int = 16,
) -> str:
    """CTE chain deriving the plane count FROM THE DATA, mirroring
    `operators/similarity.lsh_plane_count` exactly (same integer
    comparison, no float log2). Assumes a `v0(vec_id, v DOUBLE[])` CTE is
    already in scope and defines:

      nrows — COUNT(*) of v0;
      np    — the derived plane count: smallest p in [min_planes,
              max_planes] with n <= target_bucket * 2**p;
      b     — (vec_id, v, bucket): all max_planes sign bits are computed
              once, then masked to the low np bits — bit p of
              `bucket_int_sql` is plane p, so the mask IS the np-plane
              bucket, bit-identical to hyperplane_bucket_id(np);
      masks — the multi-probe XOR masks for the derived np: {0} and all
              single-bit masks below np; when `two_bit_when_le` is set,
              also all two-bit masks, but ONLY while np <= that bound
              (probe_bits drops from 2 to 1 as the corpus grows — recall
              of exact duplicates is unaffected: identical vectors share
              every sign bit, so mask 0 alone pairs them);
      a     — the probe-expanded side: (vec_id, v, xor(bucket, m)).

    A consumer joins `a` to `b` on bucket and scores candidates."""
    two = ""
    if two_bit_when_le is not None:
        two = f"""
  UNION ALL
  SELECT (CAST(1 AS BIGINT) << CAST(i AS INT)) | (CAST(1 AS BIGINT) << CAST(j AS INT)) AS m
  FROM range(0, {max_planes}) r(i), range(0, {max_planes}) s(j), np
  WHERE i < j AND j < np.np AND np.np <= {two_bit_when_le}"""
    return f"""nrows AS (
  SELECT COUNT(*) AS n FROM v0
), np AS (
  SELECT CAST(COALESCE(MIN(p), {max_planes}) AS INT) AS np
  FROM range({min_planes}, {max_planes + 1}) r(p), nrows
  WHERE nrows.n <= {target_bucket} * (CAST(1 AS BIGINT) << CAST(p AS INT))
), b AS (
  SELECT vec_id, v,
         CAST(({bucket_int_sql('v', max_planes)}) AS BIGINT)
           & ((CAST(1 AS BIGINT) << np.np) - 1) AS bucket
  FROM v0, np
), masks AS (
  SELECT CAST(0 AS BIGINT) AS m
  UNION ALL
  SELECT CAST(1 AS BIGINT) << CAST(i AS INT) AS m
  FROM range(0, {max_planes}) r(i), np WHERE i < np.np{two}
), a AS (
  SELECT vec_id, v, xor(bucket, m) AS bucket FROM b CROSS JOIN masks
)"""
