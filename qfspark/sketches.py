"""Mergeable sketch / approximate-aggregation library.

The north-star role of this repo is a PySpark-native *sketch* engine: the
CQF (kernel.py/build.py) is the flagship, and this module supplies the
rest of the classic family over the same web-pages data model — each as
a mergeable aggregation whose partial results combine associatively, the
UDAF shape that makes 10^12-row builds shuffle-light:

* HyperLogLog        — distinct count (register table, max-merge)
* count-min          — frequency estimation (counter table, sum-merge)
* Bloom filter       — membership (bit-position table, union-merge)
* bottom-k           — uniform hash-sample for quantiles/sampling
                       (min-k-merge; the SQL-expressible quantile sketch)
* Misra-Gries        — frequent items / heavy hitters (counter
                       sum-merge + prune; guarantee-gated like the
                       quantile sketches)
* AMS F2             — second frequency moment (sign-sum rows,
                       row-wise sum-merge; estimate deterministic)
* HLL set algebra    — union via register merge, intersection via
                       inclusion-exclusion (deterministic estimates)
* KMV / theta        — distinct count + set algebra from the k
                       smallest distinct-key hashes (direct Jaccard;
                       min-k-merge == rebuild)
* t-digest           — streaming quantiles (centroid merge, Python
                       kernel over mapInPandas partials)
* KLL                — compactor-based quantiles (level merge, Python
                       kernel over mapInPandas partials), derandomized

Design rules shared with the CQF:

1. **Deterministic hashing** — every SQL-expressible sketch hashes with
   the md5-derived 60-bit hash (textops.spark_hash60), which DuckDB
   reproduces bit-for-bit (duckdb_hash60). The sketch contents and the
   ESTIMATES themselves are therefore oracle-checkable quantities, not
   trusted approximations. For production throughput each builder also
   takes ``hash_scheme='xxhash64'`` (top 60 bits of the codegen
   xxhash64, ~3-5x cheaper; see ``sketch_hash``) — same 60-bit range,
   same arithmetic, no cross-engine twin.
2. **Merge == rebuild, exactly.** HLL/count-min/Bloom/bottom-k are
   deterministic functions of the input multiset, so merging partial
   sketches built over ANY partition of the input yields *row-identical*
   results to building over the whole — associativity is tested as
   equality (tests/test_sketches.py), the strongest form of the merge
   property the north rule asks for.
3. **Scale shape** — every build is one explode (bounded fan-out: k hash
   functions / depth rows) + one groupBy with map-side partial
   aggregation; sketch tables are tiny (registers/counters/bits), so
   downstream joins against them broadcast. The only data-sized shuffle
   anywhere is the groupBy's partial-aggregate exchange. bottom-k's
   global min-k runs as TakeOrdered (per-partition top-k + driver merge
   of k-sized lists), never a full sort.
4. **Estimate determinism across engines** — floating-point summation
   order differs between Spark and DuckDB, so HLL's harmonic sum is kept
   in EXACT integer arithmetic (sum of ``1 << (K - rho)`` fits int64 by
   construction: p + K = 61) and converted to double once; the estimate
   is then a single literal-constant division, identical in IEEE terms
   on both engines. Quantile estimates use explicit lower-interpolation
   rank arithmetic instead of engine-specific percentile interpolation.

Grouped-sketch contract. Every family with a grouped form has ONE
implementation, the grouped ``X_by(..., by, ...)``; the ungrouped
``X(...)`` is a thin wrapper calling it with ``by=[]`` (the DuckDB twins
likewise):

* ``by`` is a list of column names (a bare string is one column);
  ``by=[]`` is the global group — a keyless ``groupBy()`` aggregate,
  one-row answers even on empty input where the ungrouped form has
  always returned one (the HLL estimate row, the MG sentinel).
* Group columns are cast to string in the output (HLL and bottom-k keep
  the column type, so a windowed stream's timestamp keys round-trip).
* Rows with a NULL group key are excluded, as are rows with a NULL
  sketched value.
* Top-k selections run per group as a window rank, and globally as
  TakeOrdered (per-partition top-k + a k-sized driver merge). KLL /
  t-digest partials from more than ``fan`` input partitions are
  pre-merged in ``fan`` groups either way (``kll_build`` /
  ``tdigest_build`` take ``fan``; the other paths use ``_FAN``).

The Python-kernel sketches (t-digest, KLL) are not SQL-expressible; their
correctness gate is the published error bound itself: the entry queries
emit per-quantile ``ok`` booleans (rank error <= bound) whose oracle is
the constant TRUE — if the digest ever violates its bound, the gate goes
red (same pattern as the ANN recall gate in similarity.py).

Reference parity note: go-qfext is a quotient-filter library only; this
module is the "beyond the reference" half of the brief (sketch library
for web-scale training pipelines). No reference file corresponds to it.
"""

from __future__ import annotations

import functools
import math
import operator
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Window, functions as F

from .textops import duckdb_hash60, spark_hash60

HASH_BITS = 60  # width of the sketch hash (both schemes below)


def sketch_hash(expr: str, scheme: str = "hash60") -> str:
    """Spark-SQL expression for the 60-bit sketch hash of ``expr``.

    * ``'hash60'`` (default) — md5-derived, reproduced bit-for-bit by
      DuckDB (``duckdb_hash60``): the scheme every oracle-checked entry
      query uses.
    * ``'xxhash64'`` — top 60 bits of Spark's codegen xxhash64:
      ~3-5x cheaper per key (measured: count-min over 6M urls 4.6 s ->
      0.9 s at 8 cores), same non-negative 60-bit range so every
      downstream bit-arithmetic path (HLL's exact-int64 harmonic sum,
      p + K = 61) is unchanged. No cross-engine twin — the production
      fast path, verified by the same accuracy/property tests.

    Both schemes yield uniform non-negative int64 values < 2^60; sketch
    tables built under different schemes must never be merged (the
    caller picks one per sketch lifetime)."""
    if scheme == "hash60":
        return spark_hash60(expr)
    if scheme == "xxhash64":
        return f"shiftrightunsigned(xxhash64({expr}), 4)"
    raise ValueError(
        f"unknown hash scheme {scheme!r}; expected 'hash60' or 'xxhash64'")


# ===========================================================================
# grouping helpers (shared by every family; ``by=[]`` is the global group)
# ===========================================================================

def _norm_by(by) -> list[str]:
    return [by] if isinstance(by, str) else list(by)


def _not_null(*cols: str):
    """Predicate: every named column is non-NULL."""
    return functools.reduce(operator.and_,
                            [F.col(c).isNotNull() for c in cols])


def _str_cols(by: list[str]) -> list:
    """The group columns cast to string (the grouped-sketch key type)."""
    return [F.col(c).cast("string").alias(c) for c in by]


def _schema(by: list[str], tail: str) -> str:
    """DDL schema of a pandas-UDF output: string group columns + tail."""
    return "".join(f"`{c}` string, " for c in by) + tail


def _join_by(left: DataFrame, right: DataFrame, by: list[str],
             how: str = "inner") -> DataFrame:
    """Equi-join on the group columns. With no group columns the tiny
    (at most one-row) ``right`` joins every ``left`` row; a left join
    keeps ``left`` whole when ``right`` is empty."""
    return left.join(right, by or None, how)


def _top_rows(df: DataFrame, by: list[str], n: int, *order) -> DataFrame:
    """The first ``n`` rows of every ``by`` group in ``order``. Global
    (``by=[]``): orderBy().limit() — TakeOrdered, never a full sort or
    a window over one partition. Grouped: row_number over a window
    partitioned by the group columns (one shuffle keyed by them)."""
    if not by:
        return df.orderBy(*order).limit(n)
    w = Window.partitionBy(*by).orderBy(*order)
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= n).drop("_rn"))


def _nth_row(df: DataFrame, by: list[str], n: int, *order) -> DataFrame:
    """The ``n``-th row (1-based) of every ``by`` group in ``order``;
    a group with fewer rows has none. Global: an offset order-limit
    (TakeOrdered), as in ``_top_rows``."""
    if not by:
        return df.orderBy(*order).offset(n - 1).limit(1)
    w = Window.partitionBy(*by).orderBy(*order)
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == n).drop("_rn"))


def _pd_groups(pdf, by: list[str]):
    """(key tuple, frame) per group of a pandas batch; the whole batch
    under ``()`` when ``by`` is empty."""
    if not by:
        yield (), pdf
        return
    for key, grp in pdf.groupby(by, sort=False):
        yield (key if isinstance(key, tuple) else (key,)), grp


def _sql_keys(by: list[str], alias: str = "") -> str:
    """Group columns as a leading select-list fragment ('' if global)."""
    return "".join(f"{alias}{c}, " for c in by)


def _sql_str_keys(by: list[str]) -> str:
    """``_sql_keys`` with each group column cast to VARCHAR."""
    return "".join(f"CAST({c} AS VARCHAR) AS {c}, " for c in by)


def _sql_not_null(*cols: str) -> str:
    return " AND ".join(f"{c} IS NOT NULL" for c in cols)


def _sql_group_by(by: list[str]) -> str:
    return f"GROUP BY {', '.join(by)}" if by else ""


def _sql_partition(by: list[str]) -> str:
    return f"PARTITION BY {', '.join(by)}" if by else ""


def _sql_using(by: list[str]) -> str:
    return f"USING ({', '.join(by)})" if by else "ON TRUE"


# ===========================================================================
# HyperLogLog
# ===========================================================================

def _hll_alpha(m: int) -> float:
    """Bias-correction constant (Flajolet et al. 2007, HyperLogLog)."""
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(df: DataFrame, col: str, p: int = 12,
                  hash_scheme: str = "hash60") -> DataFrame:
    """(bucket, rho_max) HLL register table over ``col``; 2^p registers.

    bucket = low p bits of hash60(key); rho = 1 + leading-zero count of
    the remaining 60-p bits (computed with integer/string ops —
    ``length(bin(w))`` is the bit length — so both engines agree
    exactly). Only NON-EMPTY buckets materialize; empty ones are implicit
    (the estimator accounts for them from the bucket count).

    Merge: union register tables and re-run ``hll_merge`` (groupBy max)
    — associative, and equal to building over the concatenated input.
    """
    return hll_registers_by(df, col, [], p, hash_scheme)


def hll_merge(*register_dfs: DataFrame) -> DataFrame:
    """Merge register tables: register-wise max. Associative and
    commutative; merging partials over any split of the input equals the
    registers of the whole input, row for row."""
    return hll_merge_by([], *register_dfs)


def hll_merge_by(by, *register_dfs: DataFrame) -> DataFrame:
    """Merge grouped register tables (``hll_registers_by``): per-group
    register-wise max. Same merge == rebuild row-identity as
    ``hll_merge``, independently per group."""
    it = iter(register_dfs)
    out = next(it)
    for d in it:
        out = out.unionByName(d)
    return out.groupBy(*_norm_by(by), "bucket").agg(
        F.max("rho_max").alias("rho_max"))


def hll_estimate(register_df: DataFrame, p: int) -> DataFrame:
    """One-row cardinality estimate from a register table:
    (m, nonempty_buckets, zero_buckets, sum_scaled, estimate).

    ``sum_scaled`` is the harmonic sum in exact integer form:
    S = sum over all m buckets of 2^(K - rho) with K = (60-p)+1 and
    rho = 0 for empty buckets — max possible S is m * 2^K = 2^61, so it
    fits int64 exactly and is independent of summation order (the
    engine-portability trap a double sum would hit). The raw estimate is
    then alpha * m^2 * 2^K / S — one double division of exact integers —
    with the standard linear-counting correction for the small range."""
    return hll_estimate_by(register_df, [], p).select(
        F.lit(1 << p).cast("int").alias("m"), "*")


def hll_cardinality(df: DataFrame, col: str, p: int = 12,
                    hash_scheme: str = "hash60") -> DataFrame:
    """Registers + estimate composed: the one-call distinct-count path."""
    return hll_estimate(hll_registers(df, col, p, hash_scheme), p)


def hll_registers_by(df: DataFrame, col: str, by: list[str],
                     p: int = 12,
                     hash_scheme: str = "hash60") -> DataFrame:
    """(by..., bucket, rho_max) grouped register tables: one HLL per
    distinct ``by`` combination in a single pass — the rollup shape
    (per-language / per-domain distinct counts) a 10^12-row pipeline
    wants instead of one job per group. Same single map-side-partial
    groupBy, now keyed (by..., bucket); merge is groupBy-max over the
    same keys. Group columns keep their type (a windowed stream's
    timestamp keys round-trip); NULL group keys are excluded."""
    if not (4 <= p <= 18):
        raise ValueError(f"p must be in [4, 18], got {p}")
    by = _norm_by(by)
    m = 1 << p
    w_bits = HASH_BITS - p
    h = sketch_hash(col, hash_scheme)
    return (
        df.where(_not_null(col, *by))
        .select(*by, F.expr(h).alias("_h"))
        .select(
            *by,
            F.expr(f"CAST(pmod(_h, {m}) AS INT)").alias("bucket"),
            F.expr(f"shiftrightunsigned(_h, {p})").alias("_w"),
        )
        .select(
            *by, "bucket",
            F.expr(
                f"CAST(CASE WHEN _w = 0 THEN {w_bits + 1} "
                f"ELSE {w_bits} - length(bin(_w)) + 1 END AS INT)"
            ).alias("rho"),
        )
        .groupBy(*by, "bucket")
        .agg(F.max("rho").alias("rho_max"))
    )


def hll_estimate_by(register_df: DataFrame, by: list[str],
                    p: int) -> DataFrame:
    """(by..., estimate) per group — identical exact-int64 arithmetic
    to ``hll_estimate``, applied per grouping key. Global (``by=[]``):
    one row even with no registers (every bucket empty, estimate 0)."""
    by = _norm_by(by)
    m = 1 << p
    k_max = (HASH_BITS - p) + 1
    numer = _hll_alpha(m) * m * m * (2.0 ** k_max)
    agg = register_df.groupBy(*by).agg(
        F.count(F.lit(1)).cast("int").alias("_ne"),
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {k_max} - rho_max)")),
            F.lit(0)).cast("long").alias("_s"),
    ).select(
        *by,
        F.col("_ne").alias("nonempty_buckets"),
        (F.lit(m) - F.col("_ne")).cast("int").alias("zero_buckets"),
        (F.col("_s") + (F.lit(m) - F.col("_ne")) * F.lit(1 << k_max))
        .cast("long").alias("sum_scaled"),
    )
    return agg.select(
        *by, "nonempty_buckets", "zero_buckets", "sum_scaled",
        F.round(
            F.when(
                (F.lit(numer) / F.col("sum_scaled") <= 2.5 * m)
                & (F.col("zero_buckets") > 0),
                F.lit(float(m)) * F.log(F.lit(float(m))
                                        / F.col("zero_buckets")),
            ).otherwise(F.lit(numer) / F.col("sum_scaled")),
            1,
        ).alias("estimate"),
    )


def hll_cardinality_by(df: DataFrame, col: str, by: list[str],
                       p: int = 12,
                       hash_scheme: str = "hash60") -> DataFrame:
    """Grouped distinct-count rollup in one pass."""
    return hll_estimate_by(
        hll_registers_by(df, col, by, p, hash_scheme), by, p)


def duckdb_hll_by_sql(col: str, by: list[str], p: int,
                      source: str) -> str:
    """Oracle twin of ``hll_cardinality_by``."""
    by = _norm_by(by)
    m = 1 << p
    w_bits = HASH_BITS - p
    k_max = w_bits + 1
    numer = repr(_hll_alpha(m) * m * m * (2.0 ** k_max))
    h = duckdb_hash60(col)
    keys = _sql_keys(by)
    return f"""
        WITH hashed AS (
            SELECT {keys}{h} AS h FROM {source}
            WHERE {_sql_not_null(col, *by)}
        ),
        rho AS (
            SELECT {keys}CAST(h % {m} AS INT) AS bucket,
                   CAST(CASE WHEN (h >> {p}) = 0 THEN {w_bits + 1}
                        ELSE {w_bits} - length(bin(h >> {p})) + 1
                        END AS INT) AS rho
            FROM hashed
        ),
        regs AS (
            SELECT {keys}bucket, MAX(rho) AS rho_max
            FROM rho GROUP BY {keys}bucket
        ),
        agg AS (
            SELECT {keys}
                   CAST(COUNT(*) AS INT) AS nonempty_buckets,
                   CAST({m} - COUNT(*) AS INT) AS zero_buckets,
                   CAST(COALESCE(SUM(1::BIGINT << ({k_max} - rho_max)), 0)
                        + ({m} - COUNT(*)) * (1::BIGINT << {k_max})
                        AS BIGINT) AS sum_scaled
            FROM regs {_sql_group_by(by)}
        )
        SELECT {keys}nonempty_buckets, zero_buckets, sum_scaled,
               round(CASE WHEN {numer} / sum_scaled <= {2.5 * m}
                          AND zero_buckets > 0
                     THEN {float(m)} * ln({float(m)} / zero_buckets)
                     ELSE {numer} / sum_scaled END, 1) AS estimate
        FROM agg
    """


def hll_set_ops(a_df: DataFrame, b_df: DataFrame, col: str,
                p: int = 12) -> DataFrame:
    """One row (est_a, est_b, est_union, est_intersection): distinct
    counts of two key sets, their union (register max-merge — HLL's
    native set operation), and their intersection by inclusion-exclusion
    over the three estimates. All four values are deterministic
    functions of the inputs (exact-integer harmonic sums, one rounded
    double each), so the DuckDB twin reproduces them bit-for-bit.

    Accuracy note: union inherits HLL's ~1.04/sqrt(m) relative error;
    the inclusion-exclusion intersection's ABSOLUTE error scales with
    the union size, so small intersections of large sets are noisy —
    the standard HLL limitation, stated rather than hidden."""
    ra = hll_registers(a_df, col, p)
    rb = hll_registers(b_df, col, p)
    ea = hll_estimate(ra, p).select(F.col("estimate").alias("est_a"))
    eb = hll_estimate(rb, p).select(F.col("estimate").alias("est_b"))
    eu = hll_estimate(hll_merge(ra, rb), p).select(
        F.col("estimate").alias("est_union"))
    return (
        ea.crossJoin(eb).crossJoin(eu)  # three one-row frames
        .select(
            "est_a", "est_b", "est_union",
            # clamp at 0: for near-disjoint sets the inclusion-exclusion
            # residual is pure estimator noise and can go negative
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.col("est_a") + F.col("est_b") - F.col("est_union")),
                1,
            ).alias("est_intersection"),
        )
    )


def duckdb_hll_set_ops_sql(col: str, p: int, source_a: str,
                           source_b: str) -> str:
    """Oracle twin of ``hll_set_ops``. ``source_a``/``source_b`` are
    table names or parenthesized subqueries; the union side rebuilds
    registers over the concatenated input, which equals the register
    merge exactly (merge == rebuild)."""
    union_src = (f"(SELECT {col} FROM {source_a} "
                 f"UNION ALL SELECT {col} FROM {source_b})")
    return f"""
        SELECT a.estimate AS est_a, b.estimate AS est_b,
               u.estimate AS est_union,
               round(greatest(0.0, a.estimate + b.estimate - u.estimate), 1)
                   AS est_intersection
        FROM ({duckdb_hll_sql(col, p, source_a)}) a,
             ({duckdb_hll_sql(col, p, source_b)}) b,
             ({duckdb_hll_sql(col, p, union_src)}) u
    """


def hll_error_bound(p: int, sigmas: float = 3.0) -> float:
    """Published relative standard error 1.04/sqrt(m), scaled."""
    return sigmas * 1.04 / math.sqrt(1 << p)


def duckdb_hll_sql(col: str, p: int, source: str) -> str:
    """DuckDB twin of ``hll_cardinality`` — identical registers (same
    md5-derived hash, same bit arithmetic) and the identical estimate
    (exact-integer harmonic sum, one double division, same linear-count
    correction), so the estimate VALUE is the oracle-checked quantity.
    ``source`` is a table name or a parenthesized subquery."""
    return (f"SELECT {1 << p}::INT AS m, * "
            f"FROM ({duckdb_hll_by_sql(col, [], p, source)})")


# ===========================================================================
# count-min
# ===========================================================================

def countmin_table(df: DataFrame, col: str, depth: int = 4,
                   width: int = 1024,
                   hash_scheme: str = "hash60") -> DataFrame:
    """(row, col_idx, cnt) count-min counter table: row i counts key
    occurrences at column hash_i(key) = hash60(i || ':' || key) % width.
    One bounded explode (depth rows per input row) + one groupBy over at
    most depth*width cells — partial aggregation collapses everything
    map-side.

    Merge: union tables + ``countmin_merge`` (groupBy sum) — exact."""
    return countmin_table_by(df, col, [], depth, width, hash_scheme)


def countmin_merge(*tables: DataFrame) -> DataFrame:
    """Merge counter tables: cell-wise sum. Exact-associative."""
    return countmin_merge_by([], *tables)


def countmin_query(cm_df: DataFrame, probes: DataFrame, col: str,
                   depth: int = 4, width: int = 1024,
                   hash_scheme: str = "hash60") -> DataFrame:
    """Point-frequency estimates for ``probes[col]``: min over rows of
    the counter each hash lands on (missing cell = 0). The counter table
    is tiny (<= depth*width rows) so the join broadcasts. Guarantee:
    estimate >= true count always; overestimate by more than
    2N/width with probability <= (1/2)^depth (Cormode & Muthukrishnan
    2005)."""
    return countmin_query_by(cm_df, probes, col, [], depth, width,
                             hash_scheme)


def countmin_table_by(df: DataFrame, col: str, by, depth: int = 4,
                      width: int = 1024,
                      hash_scheme: str = "hash60") -> DataFrame:
    """Per-group count-min tables in one pass: (by..., row, col_idx,
    cnt) — an independent depth x width counter table per ``by``
    combination (per-language / per-domain key frequencies). Same
    bounded explode + partial-aggregating groupBy as the global table,
    keyed additionally by the group columns; <= groups * depth * width
    cells total. Group columns cast to string, NULL group keys
    excluded (grouped-sketch contract). Merge:
    ``countmin_merge_by`` — cell-wise sum per group, exact."""
    by = _norm_by(by)
    h = sketch_hash(f"concat(i, ':', {col})", hash_scheme)
    return (
        df.where(_not_null(col, *by))
        .select(
            *_str_cols(by),
            F.col(col),
            F.explode(F.expr(f"sequence(0, {depth - 1})")).alias("i"),
        )
        .select(
            *by,
            F.col("i").cast("int").alias("row"),
            F.expr(f"CAST(pmod({h}, {width}) AS INT)").alias("col_idx"),
        )
        .groupBy(*by, "row", "col_idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def countmin_merge_by(by, *tables: DataFrame) -> DataFrame:
    """Merge grouped counter tables: cell-wise sum per group. Exact-
    associative (same argument as ``countmin_merge``)."""
    by = _norm_by(by)
    it = iter(tables)
    out = next(it)
    for d in it:
        out = out.unionByName(d)
    return (out.groupBy(*by, "row", "col_idx")
            .agg(F.sum("cnt").alias("cnt")))


def countmin_query_by(cm_df: DataFrame, probes: DataFrame, col: str,
                      by, depth: int = 4, width: int = 1024,
                      hash_scheme: str = "hash60",
                      broadcast: bool = True) -> DataFrame:
    """Per-group point-frequency estimates: min over the group's own
    depth rows. ``probes`` carries the group columns; each (group,
    key) probe reads only that group's table, so the per-group
    guarantee is the standard one with N = the GROUP's total count —
    much tighter than a global table for skewed group sizes.

    ``broadcast=True`` (default) ships the counter tables to every
    probe task — right while groups x depth x width rows fit a
    broadcast (<= a few hundred groups at the default geometry). For
    thousands of groups pass ``broadcast=False``: the join shuffles
    on (group, row, col_idx) instead, and neither side is
    materialized whole anywhere."""
    by = _norm_by(by)
    h = sketch_hash(f"concat(i, ':', {col})", hash_scheme)
    exploded = (
        probes.select(*_str_cols(by), col)
        .where(_not_null(col, *by)).distinct()
        .select(
            *by, F.col(col),
            F.explode(F.expr(f"sequence(0, {depth - 1})")).alias("i"),
        )
        .select(
            *by, F.col(col),
            F.col("i").cast("int").alias("row"),
            F.expr(f"CAST(pmod({h}, {width}) AS INT)").alias("col_idx"),
        )
    )
    cm_side = F.broadcast(cm_df) if broadcast else cm_df
    return (
        exploded.join(cm_side, by + ["row", "col_idx"], "left")
        .groupBy(*by, col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cm_count"))
    )


def duckdb_countmin_by_sql(col: str, by, depth: int, width: int,
                           source: str,
                           probe_source: str | None = None) -> str:
    """DuckDB twin of countmin_table_by + countmin_query_by (probes
    default to the distinct (group, key) pairs of ``source``)."""
    by = _norm_by(by)
    h_build = duckdb_hash60(f"(i || ':' || {col})")
    probe_source = probe_source or source
    bys = _sql_str_keys(by)
    notnull = _sql_not_null(col, *by)
    return f"""
        WITH cm AS (
            SELECT {bys}CAST(i AS INT) AS row,
                   CAST({h_build} % {width} AS INT) AS col_idx,
                   COUNT(*) AS cnt
            FROM {source}, unnest(range(0, {depth})) AS t(i)
            WHERE {notnull}
            GROUP BY ALL
        ),
        probes AS (
            SELECT DISTINCT {bys}{col} FROM {probe_source}
            WHERE {notnull}
        ),
        expl AS (
            SELECT {_sql_keys(by)}{col}, CAST(i AS INT) AS row,
                   CAST({h_build} % {width} AS INT) AS col_idx
            FROM probes, unnest(range(0, {depth})) AS t(i)
        )
        SELECT {_sql_keys(by, 'e.')}e.{col},
               MIN(COALESCE(cm.cnt, 0)) AS cm_count
        FROM expl e LEFT JOIN cm USING ({_sql_keys(by)}row, col_idx)
        GROUP BY ALL
    """


def duckdb_countmin_sql(col: str, depth: int, width: int,
                        source: str, probe_source: str | None = None) -> str:
    """DuckDB twin of countmin_table + countmin_query over the same
    probes (defaults to the distinct keys of ``source``)."""
    return duckdb_countmin_by_sql(col, [], depth, width, source,
                                  probe_source)


# ===========================================================================
# AMS F2 (second frequency moment)
# ===========================================================================

def ams_f2_table(df: DataFrame, col: str, depth: int = 5,
                 width: int = 16,
                 hash_scheme: str = "hash60") -> DataFrame:
    """(row, j, s) AMS sketch of the second frequency moment
    F2 = sum over distinct keys of count^2 (Alon, Matias & Szegedy
    1996), median-of-means form: cell (g, j) holds
    S_gj = sum over input rows of sign_gj(key), with sign_gj(key) =
    +/-1 from the parity of hash60(i||':'||key), i = g*width + j.
    One bounded explode (depth*width rows per input row — CPU, not
    shuffle: partial aggregation collapses each partition to at most
    depth*width cells map-side) + one groupBy over those cells.

    Merge: union + ``ams_f2_merge`` (cell-wise sum) — exact-associative,
    row-identical to a rebuild. Each E[S_gj^2] = F2 with variance
    <= 2*F2^2; averaging width cells divides the variance by width and
    the median over an odd ``depth`` of group means gives the standard
    AMS concentration.

    Hashing cost: the depth*width cell signs come from disjoint BIT
    FIELDS of ceil(depth*width / 60) 60-bit hashes per input row
    (sign of cell i = bit i%60 of hash(i//60 || ':' || key)) — 2
    hashes instead of 80 at the defaults, a ~40x cut in the dominant
    per-row cost at scale (pre-0.4.0 hashed once per cell). The
    explode itself stays: map-side partial aggregation collapses each
    partition to <= depth*width cells before any shuffle, so it is
    bounded CPU, not shuffle volume."""
    if depth < 1 or depth % 2 == 0:
        raise ValueError(f"depth must be odd and >= 1, got {depth}")
    total = depth * width
    blocks = (total + 59) // 60
    h_b = sketch_hash(f"concat(b, ':', {col})", hash_scheme)
    hs = f"transform(sequence(0, {blocks - 1}), b -> {h_b})"
    bit = (f"shiftright(hs[CAST(i div 60 AS INT)], "
           f"CAST(pmod(i, 60) AS INT)) & 1")
    return (
        df.where(F.col(col).isNotNull())
        .select(
            F.expr(hs).alias("hs"),
            F.explode(F.expr(f"sequence(0, {total - 1})")).alias("i"),
        )
        .select(
            F.expr(f"CAST(i div {width} AS INT)").alias("row"),
            F.expr(f"CAST(pmod(i, {width}) AS INT)").alias("j"),
            F.expr(f"CAST(1 - 2 * ({bit}) AS BIGINT)").alias("sign"),
        )
        .groupBy("row", "j")
        .agg(F.sum("sign").alias("s"))
    )


def ams_f2_merge(*tables: DataFrame) -> DataFrame:
    """Merge sketch tables: cell-wise sum. Exact-associative."""
    it = iter(tables)
    out = next(it)
    for d in it:
        out = out.unionByName(d)
    return out.groupBy("row", "j").agg(F.sum("s").alias("s"))


def ams_f2_estimate(table: DataFrame, depth: int = 5,
                    width: int = 16) -> DataFrame:
    """One row (f2_estimate): median over groups of the group-mean of
    S^2. The per-group sum of squares stays integer; the single
    division by ``width`` happens once on the selected median, so both
    engines produce the identical double."""
    per_g = table.groupBy("row").agg(
        F.sum(F.expr("s * s")).cast("long").alias("ss"))
    return (
        per_g.agg(F.expr("sort_array(collect_list(ss))").alias("sq"))
        .select(
            F.round(
                F.expr(f"CAST(sq[{(depth - 1) // 2}] AS DOUBLE)")
                / F.lit(width), 1
            ).alias("f2_estimate"))
    )


def duckdb_ams_f2_sql(col: str, depth: int, width: int,
                      source: str) -> str:
    """Oracle twin of ams_f2_table + ams_f2_estimate (same per-block
    bit-field sign derivation, bit-exact)."""
    h = duckdb_hash60(f"((i // 60) || ':' || {col})")
    total = depth * width
    return f"""
        WITH t AS (
            SELECT CAST(i // {width} AS INT) AS row,
                   CAST(i % {width} AS INT) AS j,
                   CAST(SUM(1 - 2 * (({h} >> CAST(i % 60 AS INT)) & 1))
                        AS BIGINT) AS s
            FROM {source}, unnest(range(0, {total})) AS u(i)
            WHERE {col} IS NOT NULL
            GROUP BY 1, 2
        ),
        per_g AS (
            SELECT row, CAST(SUM(s * s) AS BIGINT) AS ss
            FROM t GROUP BY row
        ),
        sq AS (SELECT list_sort(list(ss)) AS sq FROM per_g)
        SELECT round(CAST(sq[{(depth - 1) // 2 + 1}] AS DOUBLE)
                     / {width}, 1) AS f2_estimate
        FROM sq
    """


# ===========================================================================
# Bloom filter
# ===========================================================================

def bloom_bits(df: DataFrame, col: str, m_bits: int = 1 << 16,
               k: int = 4, hash_scheme: str = "hash60") -> DataFrame:
    """(bit_pos) set-bit table of a Bloom filter: positions
    hash60(i || ':' || key) % m_bits for i in 0..k-1, distinct.

    Merge: union + distinct — the bit-OR of the filters; exact."""
    h = sketch_hash(f"concat(i, ':', {col})", hash_scheme)
    return (
        df.where(F.col(col).isNotNull())
        .select(
            F.col(col),
            F.explode(F.expr(f"sequence(0, {k - 1})")).alias("i"),
        )
        .select(F.expr(f"CAST(pmod({h}, {m_bits}) AS INT)").alias("bit_pos"))
        .distinct()
    )


def bloom_merge(*bit_dfs: DataFrame) -> DataFrame:
    """Bit-OR of Bloom filters: union of set positions."""
    it = iter(bit_dfs)
    out = next(it)
    for d in it:
        out = out.unionByName(d)
    return out.distinct()


def bloom_contains(bits_df: DataFrame, probes: DataFrame, col: str,
                   m_bits: int = 1 << 16, k: int = 4,
                   hash_scheme: str = "hash60") -> DataFrame:
    """(key, bloom_seen) membership: seen iff ALL k bit positions are
    set. Zero false negatives by construction; false-positive rate
    ~ (1 - e^(-k*n/m))^k (Bloom 1970). The bit table broadcasts."""
    h = sketch_hash(f"concat(i, ':', {col})", hash_scheme)
    exploded = (
        probes.select(col).where(F.col(col).isNotNull()).distinct()
        .select(
            F.col(col),
            F.explode(F.expr(f"sequence(0, {k - 1})")).alias("i"),
        )
        .select(F.col(col),
                F.expr(f"CAST(pmod({h}, {m_bits}) AS INT)").alias("bit_pos"))
    )
    hit = F.when(F.col("_set").isNotNull(), 1).otherwise(0)
    return (
        exploded.join(
            F.broadcast(bits_df.withColumn("_set", F.lit(1))),
            "bit_pos", "left")
        .groupBy(col)
        .agg((F.min(hit) == 1).alias("bloom_seen"))
    )


def bloom_fp_rate(m_bits: int, k: int, n: int) -> float:
    """Published false-positive rate for n inserted keys."""
    return (1.0 - math.exp(-k * n / m_bits)) ** k


def duckdb_bloom_sql(col: str, m_bits: int, k: int, source: str,
                     probe_source: str) -> str:
    h = duckdb_hash60(f"(i || ':' || {col})")
    return f"""
        WITH bits AS (
            SELECT DISTINCT CAST({h} % {m_bits} AS INT) AS bit_pos
            FROM {source}, unnest(range(0, {k})) AS t(i)
            WHERE {col} IS NOT NULL
        ),
        probes AS (
            SELECT DISTINCT {col} FROM {probe_source}
            WHERE {col} IS NOT NULL
        ),
        expl AS (
            SELECT {col}, CAST({h} % {m_bits} AS INT) AS bit_pos
            FROM probes, unnest(range(0, {k})) AS t(i)
        )
        SELECT e.{col},
               MIN(CASE WHEN b.bit_pos IS NOT NULL THEN 1 ELSE 0 END) = 1
                   AS bloom_seen
        FROM expl e LEFT JOIN bits b USING (bit_pos)
        GROUP BY e.{col}
    """


# ===========================================================================
# bottom-k (hash-ordered uniform sample: quantiles + distinct sampling)
# ===========================================================================

def bottomk_sketch(df: DataFrame, key_col: str, value_col: str,
                   k: int = 512,
                   hash_scheme: str = "hash60",
                   distinct: bool = False) -> DataFrame:
    """The k rows whose hash60(key) ranks smallest (Cohen & Kaplan's
    bottom-k sketch family). Returns (h, key, value) rows.

    Default semantics are PER-ROW: a key appearing r times occupies up
    to r of the k slots, i.e. a frequency-weighted sample of the row
    multiset — the right weighting for row-population quantiles. The
    sort key is the TOTAL order (h, key, value), so the selected rows
    are a pure function of the input multiset in every engine
    (pre-0.4.0 the order was (h, key), leaving ties on duplicated keys
    engine-dependent). ``distinct=True`` gives a uniform sample of
    DISTINCT keys instead (value = per-key minimum): one extra
    groupBy-min whose shuffle carries the distinct key set — use it
    when keys are duplicated AND per-key semantics are wanted; the
    default path stays a shuffle-free TakeOrdered (per-partition top-k
    + driver merge of k-sized lists).

    Mergeable: the bottom-k of a union is the bottom-k of the
    concatenated bottom-k's (``bottomk_merge``) — exactly, not
    approximately (for ``distinct=True``, merge inputs built with
    ``distinct=True`` on disjoint key sets, or re-dedup after)."""
    if distinct:
        # one row per key, carrying the key's minimum value
        df = df.groupBy(key_col).agg(F.min(value_col).alias("_min_value"))
        value_col = "_min_value"
    return bottomk_sketch_by(df, key_col, value_col, [], k, hash_scheme)


def bottomk_merge(a: DataFrame, b: DataFrame, k: int = 512) -> DataFrame:
    return bottomk_merge_by(a, b, [], k)


def bottomk_quantiles(sketch_df: DataFrame, qs: list[float]) -> DataFrame:
    """(q, est_value) quantile estimates from the sample, with explicit
    LOWER interpolation — element at index floor(q * (n-1)) of the
    sorted sample values — so both engines compute the identical value
    (engine-native percentile functions interpolate differently).
    Rank error of a uniform k-sample: stddev sqrt(q(1-q)/k) <= 0.5/sqrt(k)
    (sampling theory), so |rank(est) - q| <= ~2/sqrt(k) at 4 sigma."""
    return bottomk_quantiles_by(sketch_df, [], qs)


def duckdb_bottomk_quantiles_sql(key_col: str, value_col: str, k: int,
                                 qs: list[float], source: str) -> str:
    return duckdb_bottomk_quantiles_by_sql(key_col, value_col, [], k, qs,
                                           source)


# ===========================================================================
# priority sampling (weighted sample + unbiased subset sums)
# ===========================================================================

def priority_sample(df: DataFrame, key_col: str, weight_col: str,
                    k: int = 256,
                    hash_scheme: str = "hash60") -> DataFrame:
    """(key, w, priority) sketch of k+1 rows: the k+1 largest
    priorities q(key) = w / u(key), with u(key) = (hash60(key)+1)/2^60
    a deterministic uniform in (0, 1] — Duffield, Lund & Thorup's
    priority sampling (JACM 2007). The k highest-priority keys form a
    weight-sensitive sample; the (k+1)-th priority is the threshold
    tau, and estimating every sampled key's weight as max(w, tau)
    makes any subset-sum estimate UNBIASED with near-optimal variance.
    Heavy items (w >= tau) are included with certainty — exactly the
    property a training-data pipeline wants when sampling documents by
    byte size: big documents always surveyed, small ones sampled
    proportional to weight.

    Deterministic (hash-derived u, total tie order priority desc /
    key), so DuckDB reproduces the sample and the estimates exactly.
    Executes as TakeOrdered (per-partition top-(k+1) + driver merge) —
    no shuffle of the data. Mergeable EXACTLY like bottom-k: the
    top-(k+1) of a union is the top-(k+1) of concatenated sketches
    (``priority_sample_merge``). Rows with NULL or non-positive weight
    are excluded (a zero-weight row can never be sampled). Semantics
    are PER-ROW (like ``bottomk_sketch``'s default): a key appearing r
    times contributes r rows, all sharing one u(key), so equal-weight
    duplicates are interchangeable and the selection stays a pure
    function of the input multiset. NOTE on the unbiasedness claim:
    Duffield-Lund-Thorup's proof assumes an independent uniform per
    ITEM, so the subset-sum guarantee above holds when keys are unique
    (the doc_id-weighted-by-bytes case) or when estimating over
    distinct keys; duplicated keys share a u and their priorities are
    perfectly correlated — the sample is still a deterministic
    weight-sensitive sample, but subset-sum estimates over such
    inputs carry no unbiasedness guarantee."""
    return priority_sample_by(df, key_col, weight_col, [], k, hash_scheme)


def priority_sample_merge(a: DataFrame, b: DataFrame,
                          k: int = 256) -> DataFrame:
    """Merge two priority sketches built with the same k: exact (the
    global top-(k+1) lives in the union of per-part top-(k+1)s)."""
    return priority_sample_merge_by(a, b, [], k)


def priority_estimates(sketch_df: DataFrame, k: int = 256) -> DataFrame:
    """(key, w, est_weight) for the k sampled keys: est_weight =
    max(w, tau) with tau the (k+1)-th priority (0 when the input had
    <= k keys — then every weight is exact). sum(est_weight) over the
    sampled keys matching ANY predicate is an unbiased estimate of
    that subset's true weight sum."""
    return priority_estimates_by(sketch_df, [], k)


def priority_sample_by(df: DataFrame, key_col: str, weight_col: str,
                       by, k: int = 256,
                       hash_scheme: str = "hash60") -> DataFrame:
    """Per-group priority sample: the k+1 highest-priority rows of
    EVERY ``by`` combination in one pass (window row_number per group —
    the grouped analogue of ``priority_sample``'s TakeOrdered; one
    shuffle keyed by the group columns). Group columns are cast to
    string; NULL group keys excluded (same contract as the other
    grouped sketches). Merge: union + re-apply
    (``priority_sample_merge_by``) — exact."""
    by = _norm_by(by)
    h = sketch_hash("key", hash_scheme)
    u = f"(CAST({h} AS DOUBLE) + 1.0) / {float(1 << HASH_BITS)!r}"
    scored = (
        df.where(_not_null(key_col, weight_col, *by)
                 & (F.col(weight_col) > 0))
        .select(*_str_cols(by),
                F.col(key_col).cast("string").alias("key"),
                F.col(weight_col).cast("double").alias("w"))
        .withColumn("priority", F.expr(f"w / ({u})"))
    )
    return _top_rows(scored, by, k + 1, F.desc("priority"), "key")


def priority_sample_merge_by(a: DataFrame, b: DataFrame, by,
                             k: int = 256) -> DataFrame:
    """Merge grouped priority sketches: exact, per group."""
    return _top_rows(a.unionByName(b), _norm_by(by), k + 1,
                     F.desc("priority"), "key")


def priority_estimates_by(sketch_df: DataFrame, by,
                          k: int = 256) -> DataFrame:
    """(by..., key, w, est_weight) per group: per-group tau = the
    group's (k+1)-th priority (0 when the group had <= k rows)."""
    by = _norm_by(by)
    # materialize the tiny (k+1)-rows-per-group sketch once: the sample
    # and tau subtrees would otherwise each re-run its TakeOrdered /
    # windowed lineage over the corpus (kmv_set_ops pattern)
    sketch_df = sketch_df.localCheckpoint(eager=True)
    order = (F.desc("priority"), "key")
    tau = _nth_row(sketch_df, by, k + 1, *order).select(
        *by, F.col("priority").alias("_tau"))
    return (
        _join_by(_top_rows(sketch_df, by, k, *order), tau, by, "left")
        .select(
            *by, "key", "w",
            F.round(F.greatest(
                F.col("w"), F.coalesce(F.col("_tau"), F.lit(0.0))), 6)
            .alias("est_weight"),
        )
    )


def duckdb_priority_sample_sql(key_col: str, weight_col: str, k: int,
                               source: str) -> str:
    """Oracle twin of priority_sample + priority_estimates: the
    identical sample and estimates, value-exact."""
    return duckdb_priority_sample_by_sql(key_col, weight_col, [], k,
                                         source)


def duckdb_priority_sample_by_sql(key_col: str, weight_col: str, by,
                                  k: int, source: str) -> str:
    """Oracle twin of priority_sample_by + priority_estimates_by."""
    by = _norm_by(by)
    h = duckdb_hash60("key")
    u = f"(CAST({h} AS DOUBLE) + 1.0) / {float(1 << HASH_BITS)!r}"
    keys = _sql_keys(by)
    return f"""
        WITH scored AS (
            SELECT {keys}key, w, w / ({u}) AS priority FROM (
                SELECT {_sql_str_keys(by)}CAST({key_col} AS VARCHAR) AS key,
                       CAST({weight_col} AS DOUBLE) AS w
                FROM {source}
                WHERE {_sql_not_null(key_col, weight_col, *by)}
                  AND {weight_col} > 0
            )
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                {_sql_partition(by)}
                ORDER BY priority DESC, key) AS rn
            FROM scored
        ),
        tau AS (
            SELECT {keys}priority AS tau FROM ranked
            WHERE rn = {k + 1}
        )
        SELECT {_sql_keys(by, 'r.')}r.key, r.w,
               round(GREATEST(r.w, COALESCE(t.tau, 0.0)), 6)
                   AS est_weight
        FROM ranked r LEFT JOIN tau t {_sql_using(by)}
        WHERE r.rn <= {k}
    """


# ===========================================================================
# t-digest (Python kernel; merging variant, Dunning & Ertl 2019)
# ===========================================================================

class TDigest:
    """Merging t-digest with the k1 (arcsine) scale function. Centroids
    are (mean, weight) pairs sorted by mean; a compression pass bounds
    each centroid's k-size to 1, which concentrates resolution at the
    tails — rank error ~ q(1-q), the property the published bound rides
    on. Deterministic: inputs are sorted before clustering and merges
    concatenate sorted centroid streams, so no RNG anywhere."""

    __slots__ = ("compression", "means", "weights")

    def __init__(self, compression: int = 100):
        self.compression = int(compression)
        self.means: list[float] = []
        self.weights: list[float] = []

    # -- scale function ----------------------------------------------------
    def _k(self, q: float) -> float:
        q = min(max(q, 0.0), 1.0)
        return self.compression / (2.0 * math.pi) * math.asin(2.0 * q - 1.0)

    # -- construction ------------------------------------------------------
    @classmethod
    def from_values(cls, values, compression: int = 100) -> "TDigest":
        """Build from raw values — fully vectorized: one numpy sort +
        cumsum, then a greedy cut loop that iterates over CENTROIDS
        (O(compression) iterations, each a searchsorted), never over
        values. Same greedy k-size rule as the pair-stream compressor,
        so the rank-error bound is identical; deterministic (no RNG)."""
        import numpy as np

        d = cls(compression)
        arr = (values.astype("float64", copy=False)
               if isinstance(values, np.ndarray)
               else np.fromiter((float(v) for v in values),
                                dtype="float64"))
        if arr.size:
            d._set_sorted_units(np.sort(arr))
        return d

    def _set_sorted_units(self, sv) -> None:
        """Compress a SORTED unit-weight value array into centroids.
        Equivalent to ``_set_compressed`` on [(v, 1.0)] pairs: the
        greedy inclusion condition k(cum_end/n) - k(q0) <= 1 depends
        only on the cumulative count, so each centroid's end index is
        one searchsorted into the precomputed k(q) curve."""
        import numpy as np

        n = int(sv.size)
        self.means, self.weights = [], []
        if n == 0:
            return
        c = float(self.compression)
        q = np.arange(1, n + 1, dtype="float64") / n
        kq = c / (2.0 * math.pi) * np.arcsin(
            np.clip(2.0 * q - 1.0, -1.0, 1.0))
        cv = np.concatenate(([0.0], np.cumsum(sv)))
        start = 0
        k0 = self._k(0.0)
        while start < n:
            end = int(np.searchsorted(kq, k0 + 1.0, side="right"))
            end = max(end, start + 1)
            self.means.append(float((cv[end] - cv[start]) / (end - start)))
            self.weights.append(float(end - start))
            start = end
            k0 = float(kq[end - 1])

    def _set_compressed(self, pairs) -> None:
        """Compress a mean-sorted (mean, weight) stream into centroids
        obeying the k-size bound."""
        total = sum(w for _, w in pairs)
        self.means, self.weights = [], []
        if total == 0:
            return
        q0 = 0.0
        cur_m, cur_w = pairs[0]
        for m, w in pairs[1:]:
            if self._k((q0 * total + cur_w + w) / total) - self._k(q0) <= 1.0:
                cur_m = (cur_m * cur_w + m * w) / (cur_w + w)
                cur_w += w
            else:
                self.means.append(cur_m)
                self.weights.append(cur_w)
                q0 += cur_w / total
                cur_m, cur_w = m, w
        self.means.append(cur_m)
        self.weights.append(cur_w)

    def merge(self, other: "TDigest") -> "TDigest":
        out = TDigest(max(self.compression, other.compression))
        pairs = sorted(
            list(zip(self.means, self.weights))
            + list(zip(other.means, other.weights))
        )
        if pairs:
            out._set_compressed(pairs)
        return out

    @property
    def total_weight(self) -> float:
        return sum(self.weights)

    # -- queries -------------------------------------------------------
    def quantile(self, q: float) -> float:
        if not self.means:
            raise ValueError("empty digest")
        total = self.total_weight
        target = q * total
        cum = 0.0
        for i, w in enumerate(self.weights):
            if cum + w >= target:
                return self.means[i]
            cum += w
        return self.means[-1]

    # -- DataFrame transport -------------------------------------------
    def to_rows(self) -> list[tuple]:
        return list(zip(self.means, self.weights))

    @classmethod
    def from_rows(cls, rows, compression: int = 100) -> "TDigest":
        d = cls(compression)
        pairs = sorted((float(m), float(w)) for m, w in rows)
        if pairs:
            d._set_compressed(pairs)
        return d


def tdigest_build(df: DataFrame, value_col: str,
                  compression: int = 100, fan: int = 64) -> TDigest:
    """Distributed t-digest: one partial digest per partition
    (mapInPandas — each partition's values never leave the executor;
    only ~compression centroid rows do), tree-merged. When the input
    has more than ``fan`` partitions, an intermediate applyInPandas
    stage merges the partial centroid streams in groups keyed by
    ``spark_partition_id % fan`` (a shuffle of the TINY partial table
    only), so the driver collects at most fan * O(compression) centroid
    rows and folds once — driver work is bounded by ``fan`` regardless
    of partition count (at 10^12 rows / 10^5 partitions the pre-merge
    keeps ~10^7 centroid rows off the driver). Merging is the digest's
    own associative merge, so every tree shape honours the k-size
    invariant the rank bound rides on (merge-tree independence is
    pinned in tests/test_sketches.py)."""
    return _collect(df, value_col, [], _TDIGEST, compression, fan).get(
        (), TDigest(compression))


# ===========================================================================
# KLL (compactor-based quantiles; derandomized)
# ===========================================================================

class KLLSketch:
    """KLL-style compactor sketch (Karnin, Lang, Liberty 2016) with a
    DETERMINISTIC compaction coin: each level alternates keeping odd and
    even positions on successive compactions instead of flipping a
    random coin. This trades the randomized guarantee for run-to-run
    reproducibility (the property every other sketch here has); the
    deterministic alternation keeps the compaction unbiased over pairs
    of compactions, and the achieved rank error is property-tested
    against the published-order bound in tests/test_sketches.py.

    Level h holds items each representing 2^h inputs; compacting level h
    sorts it and promotes every other item to level h+1."""

    __slots__ = ("k", "levels", "parities", "n")

    def __init__(self, k: int = 256):
        self.k = int(k)
        self.levels: list[list[float]] = [[]]
        self.parities: list[int] = [0]
        self.n = 0

    def _capacity(self, h: int) -> int:
        # geometrically shrinking lower-level capacities (c = 2/3)
        top = len(self.levels) - 1
        return max(2, int(math.ceil(self.k * (2.0 / 3.0) ** (top - h))))

    def update(self, value: float) -> None:
        self.extend([value])

    def extend(self, values) -> None:
        import numpy as np

        # ndarray fast path: astype+tolist is a C-speed conversion —
        # the previous per-value float() genexpr was the last
        # row-at-a-time Python on the sketch ingestion path
        if isinstance(values, np.ndarray):
            vals = values.astype("float64", copy=False).tolist()
        else:
            vals = [float(v) for v in values]
        self.levels[0].extend(vals)
        self.n += len(vals)
        self._compress()

    def _compress(self) -> None:
        h = 0
        while h < len(self.levels):
            if len(self.levels[h]) > self._capacity(h):
                buf = sorted(self.levels[h])
                off = self.parities[h] & 1
                self.parities[h] += 1
                promoted = buf[off::2]
                self.levels[h] = []
                if h + 1 == len(self.levels):
                    self.levels.append([])
                    self.parities.append(0)
                self.levels[h + 1].extend(promoted)
            h += 1

    def merge(self, other: "KLLSketch") -> "KLLSketch":
        out = KLLSketch(max(self.k, other.k))
        depth = max(len(self.levels), len(other.levels))
        out.levels = [[] for _ in range(depth)]
        out.parities = [0] * depth
        for src in (self, other):
            for h, buf in enumerate(src.levels):
                out.levels[h].extend(buf)
        out.n = self.n + other.n
        out._compress()
        return out

    def _weighted(self):
        items = []
        for h, buf in enumerate(self.levels):
            w = 1 << h
            items.extend((v, w) for v in buf)
        items.sort()
        return items

    def rank(self, value: float) -> float:
        """Estimated fraction of inputs <= value."""
        if self.n == 0:
            raise ValueError("empty sketch")
        total = 0
        below = 0
        for v, w in self._weighted():
            total += w
            if v <= value:
                below += w
        return below / total

    def quantile(self, q: float) -> float:
        if self.n == 0:
            raise ValueError("empty sketch")
        items = self._weighted()
        total = sum(w for _, w in items)
        target = q * total
        cum = 0
        for v, w in items:
            cum += w
            if cum >= target:
                return v
        return items[-1][0]


def kll_partials(df: DataFrame, value_col: str, k: int = 256) -> DataFrame:
    """Per-partition KLL compactor rows (level, value) — the mergeable
    partial-state form (union of partial tables IS the KLL merge; a
    compaction pass restores the size bound). NULL values excluded."""
    return kll_partials_by(df, value_col, [], k)


def kll_compact_partials(df: DataFrame, k: int = 256) -> DataFrame:
    """Compact a compactor-row table back to <= O(k log n) rows: one
    rebuild-and-re-emit (union-then-compress IS the KLL merge). The
    streaming maintenance path runs this per micro-batch so state
    stays bounded regardless of stream length."""
    return kll_compact_partials_by(df, [], k)


def kll_build(df: DataFrame, value_col: str, k: int = 256,
              fan: int = 64) -> KLLSketch:
    """Distributed KLL: per-partition sketches via mapInPandas, tree-
    merged. The exchange is O(partitions * k * log) level rows; when
    the input has more than ``fan`` partitions an intermediate
    applyInPandas stage (keyed by ``spark_partition_id % fan``) merges
    the compactor rows in groups — KLL merge IS union-then-compress,
    so each group merge is the sketch's own associative merge — and
    the driver collects at most fan * O(k log) rows regardless of
    partition count. Merge-tree independence within the documented
    merged bound is pinned in tests/test_sketches.py."""
    return _collect(df, value_col, [], _KLL, k, fan).get((), KLLSketch(k))


_FAN = 64  # pre-merge fan-in of the grouped quantile paths (``fan``)


# ---------------------------------------------------------------------------
# grouped quantile pipeline (KLL and t-digest, per-group quantiles in one
# pass)
# ---------------------------------------------------------------------------
#
# Same sketch contract as kll_build / tdigest_build, independently PER
# GROUP — the quantile analogue of mg_partials_by/hll_registers_by. Scale
# shape: one mapInPandas pass keeping one sketch per group present in
# the partition and emitting its partial rows — KLL (by..., level, value)
# compactor rows, <= O(k log(n_g/k)) per group per partition; t-digest
# (by..., mean, weight) centroid rows, <= O(compression) — then, past
# the ``fan`` pre-merge, a group-keyed applyInPandas over that TINY
# partial table (one shuffle keyed by the group columns) rebuilds each
# group's sketch, so the driver never sees a single data value. KLL
# gives per-group rank error O(1/k) — vs the ~1/sqrt(k) of quantiles
# read off a grouped bottom-k sample of k keys; t-digest gives k1-scale
# tail resolution. Each family rides the pipeline through its
# ``_QuantileCodec``.


def _kll_from_level_rows(level_arr, value_arr, k: int) -> KLLSketch:
    """Rebuild a KLLSketch from (level, value) compactor rows — the
    shared merge step of ``kll_build`` (driver) and the grouped
    applyInPandas merge (executor): dump every row into its level, then
    one compress pass restores the capacity invariants."""
    out = KLLSketch(k)
    levels = [int(h) for h in level_arr]
    if not levels:
        return out
    depth = max(levels) + 1
    out.levels = [[] for _ in range(depth)]
    out.parities = [0] * depth
    for h, v in zip(levels, value_arr):
        out.levels[h].append(float(v))
    out.n = sum(len(buf) << h for h, buf in enumerate(out.levels))
    out._compress()
    return out


_TD_FLUSH = 1 << 18  # values buffered per group before folding into
#                      the running digest (256k * 8 B = 2 MB per group)


class _TDBuffer:
    """One group's t-digest ingestion state in the partial pass: values
    accumulate as numpy chunks and flush into a running digest every
    ``_TD_FLUSH`` values, so it holds O(compression + _TD_FLUSH)
    whatever the partition size."""

    __slots__ = ("compression", "digest", "chunks", "size")

    def __init__(self, compression: int):
        self.compression = compression
        self.digest: TDigest | None = None
        self.chunks: list = []
        self.size = 0

    def extend(self, values) -> None:
        if not values.size:
            return
        self.chunks.append(values)
        self.size += values.size
        if self.size >= _TD_FLUSH:
            self.finish()

    def finish(self) -> TDigest:
        """Flush the buffered values; the running digest."""
        import numpy as np

        if self.chunks:
            d = TDigest.from_values(np.concatenate(self.chunks),
                                    self.compression)
            self.digest = d if self.digest is None else self.digest.merge(d)
            self.chunks, self.size = [], 0
        return TDigest(self.compression) if self.digest is None \
            else self.digest


class _QuantileCodec(NamedTuple):
    """How one quantile family maps onto partial rows. ``start(size)``
    is a group's ingestion state in the partial pass: its ``extend``
    takes a float64 batch of values and ``finish(state)`` returns the
    sketch. ``from_rows(col0, col1, size)`` rebuilds a sketch from its
    partial rows and ``to_rows(sketch)`` gives those two columns back."""

    cols: tuple[str, str]  # partial-row columns
    ddl: str               # their DDL
    start: Callable
    finish: Callable
    from_rows: Callable
    to_rows: Callable
    min_k: int | None = None  # smallest valid size, if checked


_KLL = _QuantileCodec(
    ("level", "value"), "level int, value double", KLLSketch,
    lambda sk: sk, _kll_from_level_rows,
    lambda sk: ([h for h, buf in enumerate(sk.levels) for _ in buf],
                [v for buf in sk.levels for v in buf]),
    min_k=2)
_TDIGEST = _QuantileCodec(
    ("mean", "weight"), "mean double, weight double", _TDBuffer,
    _TDBuffer.finish, lambda m, w, c: TDigest.from_rows(zip(m, w), c),
    lambda d: (d.means, d.weights))


def _partials_by(df: DataFrame, value_col: str, by: list[str],
                 codec: _QuantileCodec, size: int) -> DataFrame:
    """Step 1, the data pass: per-partition partial rows (by...,
    *codec.cols) of one sketch per group the partition sees. Group
    columns are cast to string; rows with a NULL group key or NULL
    value are excluded."""
    if codec.min_k is not None and size < codec.min_k:
        raise ValueError(f"k must be >= {codec.min_k}, got {size}")

    import pandas as pd

    c0, c1 = codec.cols

    def _partial(batches):
        states: dict[tuple, object] = {}
        for batch in batches:
            for kt, grp in _pd_groups(batch, by):
                st = states.get(kt)
                if st is None:
                    states[kt] = st = codec.start(size)
                st.extend(grp["_v"].to_numpy(dtype="float64"))
        for kt, st in states.items():
            a, b = codec.to_rows(codec.finish(st))
            if not a:
                continue
            out = pd.DataFrame({c0: a, c1: b})
            for c, kv in zip(by, kt):
                out[c] = kv
            yield out[by + [c0, c1]]

    sel = _str_cols(by)
    sel.append(F.col(value_col).cast("double").alias("_v"))
    return df.where(_not_null(value_col, *by)).select(*sel).mapInPandas(
        _partial, _schema(by, codec.ddl))


def _premerge(partials: DataFrame, by: list[str], fan: int,
              codec: _QuantileCodec, size: int) -> DataFrame:
    """Step 2: bound the final merge of a partial table (one partial
    sketch per group per input partition): with more than ``fan``
    partitions, first merge the partials within
    (by..., spark_partition_id % fan) groups — a shuffle of the TINY
    partial table only — so each group's final merge folds at most
    ``fan`` partial sketches whatever the partition count. The merge is
    the sketch's own associative one (``_regroup``'s compaction)."""
    if partials.rdd.getNumPartitions() <= fan:
        return partials
    return _regroup(
        partials.withColumn(
            "_fan", (F.spark_partition_id() % fan).cast("string")),
        by + ["_fan"], codec, size).drop("_fan")


def _regroup(partials: DataFrame, by: list[str], codec: _QuantileCodec,
             size: int, qs: list[float] | None = None) -> DataFrame:
    """Step 3: one group-keyed applyInPandas that rebuilds each group's
    sketch from its partial rows and emits its (by..., q, est)
    estimates at ``qs`` or, without ``qs``, its compacted partial
    rows."""
    import pandas as pd

    c0, c1 = codec.cols
    if qs is None:
        tail, ddl = [c0, c1], codec.ddl
    else:
        qs = [float(q) for q in qs]
        tail, ddl = ["q", "est"], "q double, est double"

    def _merge(pdf: "pd.DataFrame") -> "pd.DataFrame":
        sk = codec.from_rows(pdf[c0], pdf[c1], size)
        cols = (codec.to_rows(sk) if qs is None
                else (qs, [sk.quantile(q) for q in qs]))
        out = pd.DataFrame(dict(zip(tail, cols)))
        for c in by:
            out[c] = pdf[c].iloc[0]
        return out[by + tail]

    return partials.groupBy(*by).applyInPandas(_merge, _schema(by, ddl))


def _quantiles_by(df: DataFrame, value_col: str, by: list[str],
                  qs: list[float], codec: _QuantileCodec,
                  size: int) -> DataFrame:
    """(by..., q, est) per group: the three steps end to end."""
    partials = _premerge(_partials_by(df, value_col, by, codec, size),
                         by, _FAN, codec, size)
    return _regroup(partials, by, codec, size, qs)


def _collect(df: DataFrame, value_col: str, by: list[str],
             codec: _QuantileCodec, size: int, fan: int) -> dict:
    """{group-tuple: sketch} on the driver: partials, the ``fan``
    pre-merge, one collect, one rebuild per group."""
    partials = _premerge(_partials_by(df, value_col, by, codec, size),
                         by, fan, codec, size)
    c0, c1 = codec.cols
    acc: dict[tuple, tuple[list, list]] = {}
    for r in partials.collect():
        a, b = acc.setdefault(tuple(r[c] for c in by), ([], []))
        a.append(r[c0])
        b.append(r[c1])
    return {g: codec.from_rows(a, b, size) for g, (a, b) in acc.items()}


def kll_partials_by(df: DataFrame, value_col: str, by,
                    k: int = 256) -> DataFrame:
    """Per-partition grouped KLL compactor rows (by..., level, value):
    each partition maintains an independent KLLSketch per group it
    sees. Group columns are cast to string; rows with a NULL group key
    or NULL value are excluded (same contract as the other grouped
    sketches)."""
    return _partials_by(df, value_col, _norm_by(by), _KLL, k)


def kll_build_by(df: DataFrame, value_col: str, by,
                 k: int = 256) -> dict[tuple, KLLSketch]:
    """Driver-side dict {group-tuple: KLLSketch} — the grouped twin of
    ``kll_build`` for callers that want the sketch OBJECTS (ad-hoc
    ranks, serialization). Driver work/memory is O(groups * k * log);
    for the common read-off-the-quantiles path use the fully
    distributed ``kll_quantiles_by``, whose merge runs on executors."""
    return _collect(df, value_col, _norm_by(by), _KLL, k, _FAN)


def kll_quantiles_by(df: DataFrame, value_col: str, by, qs: list[float],
                     k: int = 256) -> DataFrame:
    """(by..., q, est) per-group KLL quantile estimates, fully
    distributed: one data pass for the partials, one group-keyed
    shuffle of the tiny partial table, per-group merge + read-off
    inside applyInPandas. Rank error O(1/k) per group."""
    return _quantiles_by(df, value_col, _norm_by(by), qs, _KLL, k)


def kll_merge_partials_by(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two grouped partial tables built with the same (by, k):
    plain union — compactor rows at the same level combine by
    concatenation, and the next per-group merge's compress restores
    the invariants (KLL merge IS union-then-compress)."""
    return a.unionByName(b)


def kll_compact_partials_by(df: DataFrame, by, k: int = 256) -> DataFrame:
    """Per-group compaction of a grouped compactor-row table back to
    <= O(k log n_g) rows per group (the grouped twin of
    ``kll_compact_partials``; the streaming ``kll_by`` kind's state
    bound)."""
    return _regroup(df, _norm_by(by), _KLL, k)


def tdigest_partials_by(df: DataFrame, value_col: str, by,
                        compression: int = 100) -> DataFrame:
    """Per-partition grouped t-digest centroid rows (by..., mean,
    weight). Group columns are cast to string; rows with a NULL group
    key or NULL value are excluded (same contract as the other grouped
    sketches)."""
    return _partials_by(df, value_col, _norm_by(by), _TDIGEST, compression)


def tdigest_build_by(df: DataFrame, value_col: str, by,
                     compression: int = 100) -> dict[tuple, TDigest]:
    """Driver-side dict {group-tuple: TDigest} — the grouped twin of
    ``tdigest_build`` for callers that want the digest OBJECTS. Driver
    work/memory is O(groups * compression); for the read-off-the-
    quantiles path use the fully distributed ``tdigest_quantiles_by``,
    whose merge runs on executors."""
    return _collect(df, value_col, _norm_by(by), _TDIGEST, compression,
                    _FAN)


def tdigest_quantiles_by(df: DataFrame, value_col: str, by,
                         qs: list[float],
                         compression: int = 100) -> DataFrame:
    """(by..., q, est) per-group t-digest quantile estimates, fully
    distributed: one data pass for the centroid partials, one
    group-keyed shuffle of the tiny partial table, per-group merge +
    read-off inside applyInPandas (mirror of ``kll_quantiles_by``)."""
    return _quantiles_by(df, value_col, _norm_by(by), qs, _TDIGEST,
                         compression)


def tdigest_merge_partials_by(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two grouped centroid-row tables built with the same
    (by, compression): plain union — centroid streams concatenate, and
    the next per-group merge's compression pass restores the k-size
    invariant (t-digest merge IS concat-then-compress)."""
    return a.unionByName(b)


def tdigest_compact_partials_by(df: DataFrame, by,
                                compression: int = 100) -> DataFrame:
    """Per-group compaction of a grouped centroid-row table back to
    <= O(compression) rows per group (the grouped twin of the merge
    step; bounds state if partials accumulate across batches)."""
    return _regroup(df, _norm_by(by), _TDIGEST, compression)


# ===========================================================================
# bound-check queries (the oracle for the Python-kernel sketches)
# ===========================================================================

def quantile_bound_check(df: DataFrame, value_col: str,
                         qs: list[float], kind: str = "tdigest",
                         compression: int = 100, k: int = 256,
                         bound: float | None = None) -> DataFrame:
    """(q, ok) rows: does the sketch's quantile estimate sit within the
    documented rank-error bound of the exact quantile? This is the
    correctness gate for the non-SQL-expressible sketches: the DuckDB
    oracle for this query is the constant TRUE per q — any bound
    violation turns the gate red (same pattern as the ANN recall gate).

    Rank error is measured in rank space (fraction of values between the
    estimate and the exact quantile), the metric both papers bound:
    t-digest ~ eps proportional to q(1-q)/compression; KLL ~ O(1/k).
    The global group of ``quantile_bound_check_by``; no rows when no
    value is non-NULL."""
    if kind == "tdigest" and bound is None:
        # conservative engineering bound for the k1 merging digest:
        # observed max rank error is well under 6/compression at the
        # median and shrinks toward the tails
        bound = 6.0 / compression
    return quantile_bound_check_by(df, value_col, [], qs, k, bound, kind,
                                   compression)


def duckdb_quantile_bound_sql(qs: list[float]) -> str:
    """The oracle twin of ``quantile_bound_check``: TRUE per q."""
    qlit = ", ".join(f"CAST({float(q)!r} AS DOUBLE)" for q in qs)
    return f"SELECT q, TRUE AS ok FROM unnest([{qlit}]) AS t(q)"


def quantile_bound_check_by(df: DataFrame, value_col: str, by,
                            qs: list[float], k: int = 256,
                            bound: float | None = None,
                            kind: str = "kll",
                            compression: int = 100) -> DataFrame:
    """(by..., q, ok) — the grouped twin of ``quantile_bound_check``:
    per group, is the sketch's quantile estimate within its documented
    rank-error bound of that GROUP's exact quantile? ``kind`` selects
    the quantile kernel: "kll" (O(1/k) per-group rank error) or
    "tdigest" (k1-scale merging digest; default bound 8/compression —
    the merged-path constant pinned by
    tests/test_sketches.py::test_tdigest_merge_preserves_bound, since
    the per-group estimate merges per-partition partial digests).
    Oracle: ``duckdb_quantile_bound_by_sql`` — constant TRUE per
    (group, q).

    Fully distributed: the per-(group, q) estimates (a tiny
    groups x |qs| table) broadcast-join back to the data, and the
    exact tie-aware rank interval of each estimate comes out of ONE
    grouped conditional aggregate — rank_lt = |v < est| (bisect_left),
    rank_le = |v <= est| (bisect_right); the error is the distance
    from q to [rank_lt, rank_le]/n_g. No per-group sort, no value ever
    reaches the driver (``by=[]`` is the global checker)."""
    by = _norm_by(by)
    if kind == "kll":
        # 12/k: same property-tested constant as the global KLL gate
        # (quantile_bound_check)
        codec, size, scale = _KLL, k, 12.0
    elif kind == "tdigest":
        codec, size, scale = _TDIGEST, compression, 8.0
    else:
        raise ValueError(f"unknown sketch kind {kind!r}")
    if bound is None:
        bound = scale / size
    est = _quantiles_by(df, value_col, by, qs, codec, size)
    vals = df.where(_not_null(value_col, *by)).select(
        *_str_cols(by), F.col(value_col).cast("double").alias("_v"))
    # x|qs| row fan-out, map-side
    fan = _join_by(vals, F.broadcast(est), by)
    agg = fan.groupBy(*by, "q").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum((F.col("_v") < F.col("est")).cast("long")).alias("_lt"),
        F.sum((F.col("_v") <= F.col("est")).cast("long")).alias("_le"),
    )
    return agg.select(
        *by, "q",
        (F.greatest(
            F.lit(0.0),
            F.col("_lt") / F.col("_n") - F.col("q"),
            F.col("q") - F.col("_le") / F.col("_n"),
        ) <= F.lit(float(bound))).alias("ok"),
    )


def duckdb_quantile_bound_by_sql(by, qs: list[float], source: str,
                                 value_col: str) -> str:
    """Oracle twin of ``quantile_bound_check_by``: every group present
    in ``source`` (non-null group keys and value) x every q, TRUE."""
    by = _norm_by(by)
    qlit = ", ".join(f"CAST({float(q)!r} AS DOUBLE)" for q in qs)
    return f"""
        SELECT {_sql_keys(by, 'g.')}t.q, TRUE AS ok
        FROM (SELECT DISTINCT {_sql_str_keys(by)}1 AS _one FROM {source}
              WHERE {_sql_not_null(value_col, *by)}) g
        CROSS JOIN (SELECT q FROM unnest([{qlit}]) AS u(q)) t
    """


# ===========================================================================
# Misra-Gries frequent items (heavy hitters)
# ===========================================================================
#
# Summary representation: a DataFrame with schema
#   (item string, est long, err long)
# holding at most k data rows (item NOT NULL, err = 0) plus exactly one
# sentinel row (item NULL, est = 0) whose ``err`` is the summary's total
# error budget. Guarantee for every key x with true count c(x):
#   est(x) <= c(x) <= est(x) + err        (est(x) = 0 if x absent)
# and err <= n/(k+1) for n total rows — the classic Misra-Gries bound,
# which survives merging because every prune that subtracts t from the
# counters removes >= (k+1)*t of counter mass, and only n mass ever
# enters (Agarwal et al. 2012, "Mergeable Summaries").
#
# Scale shape: the only data-sized pass is one mapInPandas emitting
# <= k+1 rows per partition (pandas groupby counts — vectorized, no
# per-row Python); everything after operates on <= k*partitions + 1
# rows, and the final threshold select is an order-limit (TakeOrdered),
# never a full sort. Unlike the other SQL-expressible sketches the
# result is NOT a pure function of the input multiset (it depends on the
# partitioning, like any Misra-Gries run depends on arrival order), so
# its correctness gate is the guarantee itself: ``mg_bound_check`` emits
# per-heavy-item ok booleans whose oracle is constant TRUE (the
# t-digest/KLL/ANN-recall pattern).


def mg_partials(df: DataFrame, col: str, k: int = 256,
                weight_col: str | None = None) -> DataFrame:
    """The data-sized half of ``mg_summary``: per-partition Misra-Gries
    summaries via one vectorized mapInPandas pass, <= k+1 rows emitted
    per partition. Exposed separately so the plan (MapInPandas, no
    row-Python) stays auditable — ``mg_summary`` checkpoints this
    result, which hides the pass from its final plan."""
    return mg_partials_by(df, col, [], k, weight_col)


def mg_summary(df: DataFrame, col: str, k: int = 256,
               weight_col: str | None = None) -> DataFrame:
    """Misra-Gries frequent-items summary of ``col`` with k counters.

    Every key whose true count exceeds n/(k+1) is guaranteed present;
    estimates under-count by at most the summary's ``err`` (sentinel
    row), itself <= n/(k+1).

    With ``weight_col`` (non-negative integer weights — e.g. bytes per
    page), counts become weight sums: the guarantee is the weighted
    form, every key with total weight > W/(k+1) present, err <=
    W/(k+1) for W total weight. The prune accounting is identical —
    subtracting t from >= k+1 weighted counters removes >= (k+1)*t of
    the W mass that entered."""
    return mg_summary_by(df, col, [], k, weight_col)


def mg_merge(a: DataFrame, b: DataFrame, k: int = 256) -> DataFrame:
    """Merge two summaries built with the same k: sum common counters,
    prune back to k. Error budgets add (then gain the prune's
    subtraction), and the combined summary still satisfies
    err <= (n_a + n_b)/(k+1)."""
    return mg_merge_by(a, b, [], k)


def mg_estimates(summary: DataFrame) -> DataFrame:
    """The (item, est) data rows of a summary (sentinel dropped)."""
    return summary.where(F.col("item").isNotNull()).select("item", "est")


def mg_error(summary: DataFrame) -> DataFrame:
    """One row (err): the summary's total undercount budget."""
    return summary.agg(F.coalesce(F.sum("err"), F.lit(0))
                       .cast("long").alias("err"))


def mg_bound_check(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """(item, ok) per TRUE heavy hitter (true count * (k+1) > n): is the
    item present in the summary with its guarantee intact —
    est <= true <= est + err, and err within the published n/(k+1)
    bound? The DuckDB oracle (``duckdb_mg_heavy_sql``) recomputes the
    heavy set exactly and emits constant TRUE, so any guarantee
    violation turns the gate red."""
    return mg_bound_check_by(df, col, [], k)


def duckdb_mg_heavy_sql(col: str, k: int, source: str) -> str:
    """Oracle twin of ``mg_bound_check``: the exact heavy set with
    constant TRUE."""
    return duckdb_mg_heavy_by_sql(col, [], k, source)


# ---------------------------------------------------------------------------
# grouped Misra-Gries (per-group heavy hitters in one pass)
# ---------------------------------------------------------------------------
#
# Same summary contract as mg_summary, independently PER GROUP: for each
# group g, every key with count > n_g/(k+1) is present, estimates
# under-count by at most the group's err sentinel, err_g <= n_g/(k+1).
# Scale shape: one mapInPandas pass emitting <= (k+1) rows per group per
# partition (state is O(groups-in-partition * k), pruned per Arrow
# batch); the finalize works on that tiny table with a per-group
# window rank — per-language / per-domain top items without a second
# scan of the corpus.


def _mg_fold(batches, by: list[str], k: int, weighted: bool,
            counts=None):
    """The Misra-Gries per-batch fold of ``mg_partials_by`` and
    ``streaming.windowed_heavy_hitters``: each pandas batch's
    (by..., item) counts — sums of its ``wt`` column when ``weighted``
    — add into the running ``counts``, and every group is pruned after
    EVERY batch, not once at the end: the group's (k+1)-th largest
    counter is subtracted from all of its counters and the
    non-positives dropped. The running state stays O(k +
    batch-distinct) per group — a partition with 10^8 distinct keys
    never materializes them all — and each prune removes >= (k+1)*t_g
    of group g's counter mass, the accounting the n/(k+1) bound rides
    on.

    With no group columns a constant stand-in level ``_mg_all`` keeps
    the counter index a MultiIndex (group levels..., item). Returns
    (counts, t_tot): the int64 counters on that index and the total
    subtracted per group (both None if no batch came); ``counts`` may
    carry in a previous fold's counters."""
    keys = by or ["_mg_all"]
    glev = list(range(len(keys)))  # group levels of the (keys, item) index
    t_tot = None
    for b in batches:
        if not len(b):
            continue
        if not by:
            b = b.assign(_mg_all=0)
        if weighted:
            # drop null weights too: a null weight would become NaN in
            # the groupby sum and fail the int64 cast opaquely
            sub = b.dropna(subset=["item", "wt"])
            if (sub["wt"] < 0).any():
                raise ValueError("Misra-Gries weights must be non-negative")
            vc = sub.groupby(keys + ["item"])["wt"].sum()
        else:
            vc = b.dropna(subset=["item"]).groupby(keys + ["item"]).size()
        counts = vc if counts is None else counts.add(vc, fill_value=0)
        counts = counts.astype("int64")
        s = counts.sort_values(ascending=False)
        t = s[s.groupby(level=glev).cumcount() == k].droplevel(-1)
        if len(t):
            tvals = t.reindex(counts.index.droplevel(-1)).fillna(0)
            counts = counts - tvals.to_numpy().astype("int64")
            counts = counts[counts > 0]
        t_tot = t if t_tot is None else t_tot.add(t, fill_value=0)
    return counts, t_tot


def mg_partials_by(df: DataFrame, col: str, by, k: int = 256,
                   weight_col: str | None = None) -> DataFrame:
    """Per-partition grouped Misra-Gries summaries: <= k data rows plus
    one err-sentinel row per group per partition. Group columns are
    cast to string (same convention as the item column); rows with a
    NULL group key are excluded — a NULL key cannot round-trip through
    the finalize's equi-joins in either engine, so exclusion is part of
    the operator contract (mirrored in ``duckdb_mg_heavy_by_sql``)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    by = _norm_by(by)

    import pandas as pd

    keys = by or ["_mg_all"]

    def _partial(batches):
        counts, t_tot = _mg_fold(batches, by, k, weight_col is not None)
        if counts is None:
            return
        out = counts.reset_index()
        out.columns = keys + ["item", "est"]
        out["err"] = 0
        grp = counts.index.droplevel(-1).unique()
        if t_tot is not None and len(t_tot):
            grp = grp.union(t_tot.index.unique())
        sent = pd.Series(0, index=grp, dtype="int64") if t_tot is None \
            else t_tot.reindex(grp).fillna(0).astype("int64")
        sent = sent.reset_index()
        sent.columns = keys + ["err"]
        sent["item"] = None
        sent["est"] = 0
        if len(out) or len(sent):
            yield pd.concat([out[by + ["item", "est", "err"]],
                             sent[by + ["item", "est", "err"]]])

    sel = _str_cols(by)
    sel.append(F.col(col).cast("string").alias("item"))
    if weight_col is not None:
        sel.append(F.col(weight_col).cast("long").alias("wt"))
    return df.where(_not_null(col, *by)).select(*sel).mapInPandas(
        _partial, _schema(by, "item string, est long, err long"))


def _mg_finalize_by(unioned: DataFrame, by: list[str],
                    k: int) -> DataFrame:
    """Sum per-item estimates, prune each group to its k largest by
    subtracting the group's (k+1)-th largest count, and fold that
    subtraction into the group's sentinel error budget. ``unioned``
    rows follow the summary schema. The (k+1)-th largest comes from
    the tiny summed table: an order-limit globally (TakeOrdered, not a
    global sort), a window rank per group otherwise."""
    summed = (
        unioned.where(F.col("item").isNotNull())
        .groupBy(*by, "item").agg(F.sum("est").cast("long").alias("est"))
    )
    errs = unioned.groupBy(*by).agg(
        F.coalesce(F.sum("err"), F.lit(0)).cast("long").alias("_e"))
    t_val = _nth_row(summed, by, k + 1, F.desc("est"), "item").select(
        *by, F.col("est").alias("_t"))
    kept = (
        _join_by(summed, t_val, by, "left")
        .withColumn("_t", F.coalesce(F.col("_t"), F.lit(0)))
        .where(F.col("est") > F.col("_t"))
        .select(
            *by, "item",
            (F.col("est") - F.col("_t")).cast("long").alias("est"),
            F.lit(0).cast("long").alias("err"),
        )
    )
    sentinel = (
        _join_by(errs, t_val, by, "left")
        .select(
            *by, F.lit(None).cast("string").alias("item"),
            F.lit(0).cast("long").alias("est"),
            (F.col("_e") + F.coalesce(F.col("_t"), F.lit(0)))
            .cast("long").alias("err"),
        )
    )
    return kept.unionByName(sentinel)


def mg_summary_by(df: DataFrame, col: str, by, k: int = 256,
                  weight_col: str | None = None) -> DataFrame:
    """Per-group Misra-Gries frequent-items summary (k counters per
    group): the most common production slicing of the heavy-hitters
    sketch (top users per language, top shingles per domain) in ONE
    pass over the data — schema (by..., item, est, err) with one NULL-
    item err sentinel per group."""
    # materialize the tiny partial table exactly once: _mg_finalize_by
    # references it from several subtrees, and est/err must come from
    # the SAME Misra-Gries run (partitioning or task retry could
    # otherwise produce different prune amounts per subtree)
    partials = mg_partials_by(df, col, by, k, weight_col).localCheckpoint(
        eager=True)
    return _mg_finalize_by(partials, _norm_by(by), k)


def mg_merge_by(a: DataFrame, b: DataFrame, by, k: int = 256) -> DataFrame:
    """Merge two grouped summaries built with the same (by, k)."""
    return _mg_finalize_by(a.unionByName(b), _norm_by(by), k)


def mg_bound_check_by(df: DataFrame, col: str, by,
                      k: int = 256) -> DataFrame:
    """(by..., item, ok) per TRUE per-group heavy hitter: present in the
    group's summary with est <= true <= est + err_g and err_g within the
    per-group n_g/(k+1) bound. Oracle: ``duckdb_mg_heavy_by_sql`` —
    the exact per-group heavy set with constant TRUE."""
    by = _norm_by(by)
    sk = mg_summary_by(df, col, by, k)
    exact = (
        df.where(_not_null(col, *by))
        .select(*_str_cols(by), F.col(col).cast("string").alias("item"))
        .groupBy(*by, "item").agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    n_df = exact.groupBy(*by).agg(
        F.sum("true_cnt").cast("long").alias("_n"))
    heavy = (
        _join_by(exact, n_df, by)
        .where(F.col("true_cnt") * (k + 1) > F.col("_n"))
    )
    ests = sk.where(F.col("item").isNotNull()).select(*by, "item", "est")
    errs = sk.groupBy(*by).agg(
        F.coalesce(F.sum("err"), F.lit(0)).cast("long").alias("_err"))
    return (
        _join_by(heavy.join(F.broadcast(ests), by + ["item"], "left"),
                 F.broadcast(errs), by, "left")
        .select(
            *by, "item",
            (
                F.col("est").isNotNull()
                & (F.col("est") <= F.col("true_cnt"))
                & (F.col("true_cnt") <= F.col("est") + F.col("_err"))
                & (F.col("_err") * (k + 1) <= F.col("_n"))
            ).alias("ok"),
        )
    )


def duckdb_mg_heavy_by_sql(col: str, by, k: int, source: str) -> str:
    """Oracle twin of ``mg_bound_check_by``: the exact per-group heavy
    set with constant TRUE."""
    by = _norm_by(by)
    return f"""
        WITH e AS (
            SELECT {_sql_str_keys(by)}CAST({col} AS VARCHAR) AS item,
                   COUNT(*) AS c
            FROM {source} WHERE {_sql_not_null(col, *by)} GROUP BY ALL
        ),
        n AS (SELECT {_sql_keys(by)}SUM(c) AS n FROM e GROUP BY ALL)
        SELECT {_sql_keys(by, 'e.')}e.item, TRUE AS ok
        FROM e JOIN n {_sql_using(by)} WHERE e.c * {k + 1} > n.n
    """


# ===========================================================================
# checkpointing (lineage-carrying sketch tables)
# ===========================================================================

def checkpoint_sketch(df: DataFrame, path: str, kind: str,
                      snapshot: bool = False) -> int:
    """Write a sketch table (registers/counters/bits/sample) as parquet
    with lineage columns (sketch kind, build timestamp, code version) —
    the same resumability contract the CQF shard table has: a downstream
    job reads the checkpoint instead of rebuilding, and stale mixes are
    detectable by build_ts.

    ``snapshot=True`` versions the checkpoint instead of overwriting:
    each call commits the next version of the ``path`` log
    (``sources.commit_version``), giving parquet checkpoints the
    time-travel-over-build-lineage property an Iceberg deployment gets
    natively — ``read_sketch(..., version=...)`` reads any snapshot. Of
    two concurrent snapshots of one version, the later raises
    FileExistsError. Returns the version written (0 for a plain
    overwrite)."""
    import time as _time

    from . import __version__
    from .sources import commit_version, write_checkpoint

    ts = _time.time()
    stamped = (
        df.withColumn("sketch_kind", F.lit(kind))
        .withColumn("build_ts", F.lit(ts))
        .withColumn("code_version", F.lit(__version__))
    )
    if not snapshot:
        write_checkpoint(stamped, path, mode="overwrite")
        return 0
    v = max((e["version"] for e in sketch_versions(path)), default=0) + 1
    commit_version(stamped, path, v, kind=kind, build_ts=ts,
                   code_version=__version__)
    return v


def sketch_versions(path: str) -> list[dict]:
    """The snapshots of a checkpoint, oldest first (empty for
    unversioned checkpoints): those of a ``_versions.json`` manifest
    written before the commit log, then the log's entries."""
    import json as _json
    import os

    from .sources import log_versions

    if not os.path.exists(p := os.path.join(path, "_versions.json")):
        return log_versions(path)
    with open(p) as f:
        return _json.load(f) + log_versions(path)


def read_sketch(spark, path: str, version: int | None = None) -> DataFrame:
    """Read a sketch checkpoint; for snapshot checkpoints, the latest
    version by default or any retained ``version`` (time travel)."""
    import os

    from .sources import read_table

    by_v = {e["version"]: e for e in sketch_versions(path)}
    if by_v or version is not None:
        v = max(by_v) if version is None else version
        if v not in by_v:
            raise ValueError(
                f"no snapshot v={v} at {path}; have {sorted(by_v)}")
        path = os.path.join(path, by_v[v].get("dir", f"v={v}"))
    return read_table(spark, path).drop(
        "sketch_kind", "build_ts", "code_version")


# ===========================================================================
# KMV / theta-style set operations (bottom-k of distinct-key hashes)
# ===========================================================================

#: 2^HASH_BITS as an exact double literal shared by both engines
_KMV_RANGE = float(1 << HASH_BITS)


def kmv_sketch(df: DataFrame, col: str, k: int = 256,
               hash_scheme: str = "hash60") -> DataFrame:
    """(h) rows: the k smallest 60-bit hashes of the DISTINCT keys —
    the KMV / theta sketch (Bar-Yossef et al. 2002; the estimator
    behind the theta-sketch family). Executes as distinct + TakeOrdered
    (per-partition top-k, k-sized driver merge, no full sort).

    Merge = bottom-k of the union of sketches — exact, so merge ==
    rebuild row-identically like the other SQL-expressible sketches."""
    return kmv_sketch_by(df, col, [], k, hash_scheme)


def kmv_merge(a: DataFrame, b: DataFrame, k: int = 256) -> DataFrame:
    return kmv_merge_by(a, b, [], k)


#: registry of KMV set-ops sketch materializations. Strong references
#: on purpose (a persist lives in the JVM CacheManager until an
#: explicit unpersist; GC of the Python wrapper does NOT free it).
#: BOUNDED: past ``_SKETCH_CACHE_CAP`` entries the oldest is
#: auto-unpersisted (FIFO), so a long-lived session unaware of
#: ``release_sketch_caches()`` cannot accumulate blocks without bound
#: — the same contract as dedup's pair-cache registry. Eviction is
#: SAFE here because KMV sketches are deterministic (hash-derived
#: bottom-k): an evicted cache recomputes from lineage to the
#: identical rows, it just pays the sketch pass again. (Misra-Gries
#: partials deliberately do NOT use this registry: their result
#: depends on the physical run, so they localCheckpoint — est/err
#: must come from the SAME run.) Raise the cap for batch callers
#: holding many concurrent set-ops results.
_SKETCH_CACHES: list = []
_SKETCH_CACHE_CAP = 24


def _materialize_sketch(df: DataFrame) -> DataFrame:
    """Eagerly persist + materialize a tiny sketch table and track it
    in the bounded FIFO registry. 3 entries per kmv_set_ops[_by] call,
    so the default cap keeps the last ~8 calls warm."""
    df = df.persist()
    df.count()
    _SKETCH_CACHES.append(df)
    while len(_SKETCH_CACHES) > _SKETCH_CACHE_CAP:
        old = _SKETCH_CACHES.pop(0)
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass
    return df


def release_sketch_caches() -> int:
    """Unpersist every KMV set-ops sketch cache created since the last
    release — deterministic lifetime for long-lived sessions. Always
    safe: an unpersisted sketch recomputes from lineage to identical
    rows. Returns the number of caches released."""
    n = 0
    for df in _SKETCH_CACHES:
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            pass
    _SKETCH_CACHES.clear()
    return n


def kmv_set_ops(a_df: DataFrame, b_df: DataFrame, col: str,
                k: int = 256, hash_scheme: str = "hash60") -> DataFrame:
    """One row (est_a, est_b, est_union, jaccard, est_intersection,
    est_a_minus_b, est_b_minus_a): KMV distinct counts plus
    theta-sketch-style set algebra — the Jaccard is estimated DIRECTLY
    (fraction of the union's k smallest hashes present in both input
    sketches), so the intersection estimate degrades with the true
    Jaccard rather than with the union size (the weakness of HLL
    inclusion-exclusion, ``hll_set_ops``); the set DIFFERENCES use the
    same device (fraction of the union sample in exactly one side —
    the theta-sketch A-not-B estimator). All seven values
    deterministic; DuckDB reproduces them bit-for-bit."""
    return kmv_set_ops_by(a_df, b_df, col, [], k, hash_scheme)


def duckdb_kmv_set_ops_sql(col: str, k: int, source_a: str,
                           source_b: str) -> str:
    """Oracle twin of ``kmv_set_ops``."""
    return duckdb_kmv_set_ops_by_sql(col, [], k, source_a, source_b)


# ===========================================================================
# grouped bottom-k rollup (per-group samples / quantiles)
# ===========================================================================

def bottomk_sketch_by(df: DataFrame, key_col: str, value_col: str,
                      by: list[str], k: int = 512,
                      hash_scheme: str = "hash60") -> DataFrame:
    """(by..., h, key, value) per-group bottom-k sample: the k
    hash-smallest keys of EVERY ``by`` combination in one pass (window
    row_number per group — one shuffle keyed by the group columns; the
    grouped analogue of ``bottomk_sketch``'s TakeOrdered). Group
    columns keep their type; NULL group keys are excluded. Merge:
    union + re-apply (min-k per group, exact)."""
    by = _norm_by(by)
    rows = (
        df.where(_not_null(key_col, *by))
        .select(
            *by,
            F.expr(sketch_hash(key_col, hash_scheme)).alias("h"),
            F.col(key_col).alias("key"),
            F.col(value_col).alias("value"),
        )
    )
    # total order (h, key, value): same tie rule as bottomk_sketch
    return _top_rows(rows, by, k, "h", "key", "value")


def bottomk_merge_by(a: DataFrame, b: DataFrame, by: list[str],
                     k: int = 512) -> DataFrame:
    """Merge grouped bottom-k sketches: union + re-apply the per-group
    min-k (exact, like ``bottomk_merge``)."""
    return _top_rows(a.unionByName(b), _norm_by(by), k,
                     "h", "key", "value")


def bottomk_quantiles_by(sketch_df: DataFrame, by: list[str],
                         qs: list[float]) -> DataFrame:
    """(by..., q, est_value) per-group quantile estimates with the same
    explicit lower-interpolation rank arithmetic as
    ``bottomk_quantiles``."""
    by = _norm_by(by)
    # CAST each literal: Spark parses bare decimal literals as DECIMAL,
    # not DOUBLE, which changes the output type (and the rank arithmetic)
    qlit = ", ".join(f"CAST({float(q)!r} AS DOUBLE)" for q in qs)
    return (
        sketch_df.groupBy(*by)
        .agg(F.expr("sort_array(collect_list(CAST(value AS DOUBLE)))")
             .alias("vals"))
        .select(*by, F.explode(F.expr(f"array({qlit})")).alias("q"),
                "vals")
        .select(
            *by, "q",
            F.expr("vals[CAST(floor(q * (size(vals) - 1)) AS INT)]")
            .alias("est_value"),
        )
    )


def duckdb_bottomk_quantiles_by_sql(key_col: str, value_col: str,
                                    by: list[str], k: int,
                                    qs: list[float], source: str) -> str:
    by = _norm_by(by)
    h = duckdb_hash60(key_col)
    keys = _sql_keys(by)
    qlit = ", ".join(f"CAST({float(q)!r} AS DOUBLE)" for q in qs)
    return f"""
        WITH ranked AS (
            SELECT {keys}{h} AS h, {key_col} AS key,
                   CAST({value_col} AS DOUBLE) AS value,
                   row_number() OVER ({_sql_partition(by)}
                                      ORDER BY {h}, {key_col},
                                               CAST({value_col} AS DOUBLE))
                       AS rn
            FROM {source} WHERE {_sql_not_null(key_col, *by)}
        ),
        sk AS (SELECT * FROM ranked WHERE rn <= {k}),
        vals AS (
            SELECT {keys}list_sort(list(value)) AS vals
            FROM sk {_sql_group_by(by)}
        )
        SELECT {keys}q,
               vals[CAST(floor(q * (len(vals) - 1)) AS INT) + 1]
                   AS est_value
        FROM vals, unnest([{qlit}]) AS t(q)
    """


# ===========================================================================
# grouped KMV set operations (per-group Jaccard / intersection / A-not-B)
# ===========================================================================

def kmv_sketch_by(df: DataFrame, col: str, by, k: int = 256,
                  hash_scheme: str = "hash60") -> DataFrame:
    """(by..., h) per-group KMV sketch: the k smallest 60-bit hashes of
    each group's DISTINCT keys in one pass (distinct + window rank per
    group — one shuffle keyed by the group columns). Group columns cast
    to string, NULL group keys excluded (grouped-sketch contract).
    Merge: ``kmv_merge_by`` — per-group bottom-k of the union, exact."""
    by = _norm_by(by)
    h = sketch_hash(col, hash_scheme)
    hashes = (
        df.where(_not_null(col, *by))
        .select(*_str_cols(by), F.expr(h).alias("h"))
        .distinct()
    )
    return _top_rows(hashes, by, k, "h")


def kmv_merge_by(a: DataFrame, b: DataFrame, by, k: int = 256) -> DataFrame:
    """Merge grouped KMV sketches built with the same (by, k): per-group
    bottom-k of the distinct union — exact (merge == rebuild)."""
    return _top_rows(a.unionByName(b).distinct(), _norm_by(by), k, "h")


def _kmv_estimate(n: str, hk: str, k: int):
    """Distinct-count estimate of a KMV sample of ``n`` hashes with
    largest hash ``hk``: (k-1)/h_k scaled to the hash range, or the
    exact count when the sample holds fewer than k hashes."""
    return F.round(
        F.when(F.col(n) < k, F.col(n).cast("double"))
        .otherwise(F.lit(float(k - 1)) * F.lit(_KMV_RANGE) / F.col(hk)),
        1,
    )


def _kmv_est_by(sketch: DataFrame, by: list[str], k: int,
                out: str) -> DataFrame:
    """(by..., <out>): the per-group ``_kmv_estimate``."""
    return (
        sketch.groupBy(*by)
        .agg(F.count(F.lit(1)).alias("_n"), F.max("h").alias("_hk"))
        .select(*by, _kmv_estimate("_n", "_hk", k).alias(out))
    )


def kmv_set_ops_by(a_df: DataFrame, b_df: DataFrame, col: str, by,
                   k: int = 256,
                   hash_scheme: str = "hash60") -> DataFrame:
    """Per-group theta-sketch set algebra: one row per group present in
    EITHER side with (by..., est_a, est_b, est_union, jaccard,
    est_intersection, est_a_minus_b, est_b_minus_a) — the per-language
    crawl-overlap-between-snapshots query in one pass per side. Same
    estimators as ``kmv_set_ops`` (union-sample Jaccard and A-not-B;
    the intersection error degrades with the true Jaccard, not the
    union size), computed per group; a group absent from one side
    reports that side's estimate as 0. Deterministic — DuckDB
    reproduces every value bit-for-bit (``duckdb_kmv_set_ops_by_sql``).

    Scale shape: each grouped sketch is one shuffle of (group, h)
    DISTINCT pairs; the set algebra then runs entirely on the tiny
    (groups * k)-row sketch tables (ids-only joins keyed by
    (group, h))."""
    by = _norm_by(by)
    # materialize each (groups * k)-row sketch once: each feeds 3-4
    # plan subtrees and must not re-run its distinct + rank per
    # consumer. Registry-tracked eager persists — bounded lifetime,
    # eviction recomputes deterministically from lineage
    sa = _materialize_sketch(kmv_sketch_by(a_df, col, by, k, hash_scheme))
    sb = _materialize_sketch(kmv_sketch_by(b_df, col, by, k, hash_scheme))
    # membership flags + ONE grouped aggregate over the union sample
    # replace the old four semi/anti-join branches (match / a_only /
    # b_only / msize) and the separate est_union aggregate; `merged`
    # then has one consumer, so its eager materialization goes too
    merged = kmv_merge_by(sa, sb, by, k)
    key = by + ["h"]
    flags = (
        merged
        .join(sa.withColumn("_ina", F.lit(1)), key, "left")
        .join(sb.withColumn("_inb", F.lit(1)), key, "left")
    )
    ina = F.col("_ina").isNotNull()
    inb = F.col("_inb").isNotNull()
    stats = flags.groupBy(*by).agg(
        F.count(F.lit(1)).alias("_ms"),
        F.max("h").alias("_hk"),
        F.coalesce(F.sum((ina & inb).cast("long")), F.lit(0)).alias("_m"),
        F.coalesce(F.sum((ina & ~inb).cast("long")), F.lit(0)).alias("_ao"),
        F.coalesce(F.sum((~ina & inb).cast("long")), F.lit(0)).alias("_bo"),
    ).withColumn("est_union", _kmv_estimate("_ms", "_hk", k))

    def _frac_est(cnt: str, out: str):
        return F.round(
            F.round(F.coalesce(F.col(cnt), F.lit(0)) / F.col("_ms"), 6)
            * F.col("est_union"), 1
        ).alias(out)

    est_a = _join_by(stats, _kmv_est_by(sa, by, k, "est_a"), by, "left")
    return (
        _join_by(est_a, _kmv_est_by(sb, by, k, "est_b"), by, "left")
        .select(
            *by,
            F.coalesce(F.col("est_a"), F.lit(0.0)).alias("est_a"),
            F.coalesce(F.col("est_b"), F.lit(0.0)).alias("est_b"),
            "est_union",
            F.round(F.coalesce(F.col("_m"), F.lit(0)) / F.col("_ms"), 6)
            .alias("jaccard"),
            _frac_est("_m", "est_intersection"),
            _frac_est("_ao", "est_a_minus_b"),
            _frac_est("_bo", "est_b_minus_a"),
        )
    )


def duckdb_kmv_set_ops_by_sql(col: str, by, k: int, source_a: str,
                              source_b: str) -> str:
    """Oracle twin of ``kmv_set_ops_by``."""
    by = _norm_by(by)
    h = duckdb_hash60(col)
    rng = repr(_KMV_RANGE)
    keys = _sql_keys(by)

    def sk(src: str, name: str) -> str:
        return f"""{name} AS (
            SELECT {keys}h FROM (
                SELECT {keys}h,
                       row_number() OVER ({_sql_partition(by)}
                                          ORDER BY h) AS rn
                FROM (SELECT DISTINCT {_sql_str_keys(by)}{h} AS h
                      FROM {src} WHERE {_sql_not_null(col, *by)})
            ) WHERE rn <= {k}
        )"""

    def est(cte: str, name: str, out: str) -> str:
        return f"""{name} AS (
            SELECT {keys}
                   round(CASE WHEN COUNT(*) < {k}
                         THEN CAST(COUNT(*) AS DOUBLE)
                         ELSE {float(k - 1)!r} * {rng} / MAX(h) END, 1)
                       AS {out}
            FROM {cte} {_sql_group_by(by)}
        )"""

    def frac(cnt: str, out: str) -> str:
        return (f"round(round(COALESCE({cnt}, 0) / CAST(ms AS DOUBLE), 6)"
                f" * eu.est_union, 1) AS {out}")

    on = " AND ".join([f"x.{c} = m.{c}" for c in by] + ["x.h = m.h"])
    return f"""
        WITH {sk(source_a, 'sa')},
        {sk(source_b, 'sb')},
        merged AS (
            SELECT {keys}h FROM (
                SELECT {keys}h,
                       row_number() OVER ({_sql_partition(by)}
                                          ORDER BY h) AS rn
                FROM (SELECT {keys}h FROM sa
                      UNION SELECT {keys}h FROM sb)
            ) WHERE rn <= {k}
        ),
        {est('sa', 'ea', 'est_a')},
        {est('sb', 'eb', 'est_b')},
        {est('merged', 'eu', 'est_union')},
        mstats AS (
            SELECT {_sql_keys(by, 'm.')}COUNT(*) AS ms,
                   SUM(CASE WHEN EXISTS (SELECT 1 FROM sa x WHERE {on})
                            AND EXISTS (SELECT 1 FROM sb x WHERE {on})
                       THEN 1 ELSE 0 END) AS mm,
                   SUM(CASE WHEN EXISTS (SELECT 1 FROM sa x WHERE {on})
                            AND NOT EXISTS (SELECT 1 FROM sb x WHERE {on})
                       THEN 1 ELSE 0 END) AS ao,
                   SUM(CASE WHEN EXISTS (SELECT 1 FROM sb x WHERE {on})
                            AND NOT EXISTS (SELECT 1 FROM sa x WHERE {on})
                       THEN 1 ELSE 0 END) AS bo
            FROM merged m GROUP BY ALL
        )
        SELECT {_sql_keys(by, 'mst.')}
               COALESCE(ea.est_a, 0.0) AS est_a,
               COALESCE(eb.est_b, 0.0) AS est_b,
               eu.est_union,
               round(COALESCE(mm, 0) / CAST(ms AS DOUBLE), 6) AS jaccard,
               {frac('mm', 'est_intersection')},
               {frac('ao', 'est_a_minus_b')},
               {frac('bo', 'est_b_minus_a')}
        FROM mstats mst
        JOIN eu {_sql_using(by)}
        LEFT JOIN ea {_sql_using(by)}
        LEFT JOIN eb {_sql_using(by)}
    """


# ===========================================================================
# deterministic rate sampling (uniform + stratified-by-group)
# ===========================================================================

def rate_sample(df: DataFrame, key_col: str, rate: float,
                hash_scheme: str = "hash60") -> DataFrame:
    """Keep rows whose key's deterministic uniform u(key) =
    hash60(key)/2^60 falls below ``rate`` — a consistent uniform
    sample: stable across runs/hosts, NESTED (the rate-p sample is a
    subset of every rate-p' >= p sample — the property that lets a
    pipeline dial a corpus down without resampling churn), and exactly
    reproducible in DuckDB. Pure codegen filter: pushes to the scan,
    no shuffle, no RNG. All columns pass through; NULL keys excluded."""
    return rate_sample_by(df, key_col, [], {}, rate, hash_scheme)


def rate_sample_by(df: DataFrame, key_col: str, by, rates,
                   default_rate: float = 0.0,
                   hash_scheme: str = "hash60") -> DataFrame:
    """Stratified deterministic sampling: per-group keep rates — the
    corpus-rebalancing op (downsample dominant languages, keep the
    tail whole). ``rates`` maps a group value (single ``by`` column)
    or a chr(31)-joined group-value string (multi-column ``by``) to a
    rate; unlisted groups get ``default_rate``. The same consistent-
    hash u(key) serves every group, so per-group samples stay nested
    under rate changes. NULL group keys excluded.

    Two physical shapes, same semantics:
    * dict ``rates`` — pure codegen (CASE over the group columns +
      one hash compare); right for the usual dozens of strata.
    * DataFrame ``rates`` (columns: the ``by`` columns as strings +
      ``rate`` double) — broadcast join + hash compare; predicate
      size constant however many strata (thousands of domains), and
      the rate table can itself be computed in-pipeline (e.g. target
      counts / observed counts)."""
    by = _norm_by(by)
    if not (0.0 <= default_rate <= 1.0):
        raise ValueError(f"rate must be in [0, 1], got {default_rate}")
    h = sketch_hash(key_col, hash_scheme)
    pred = _not_null(key_col, *by)
    if isinstance(rates, DataFrame):
        if "rate" not in rates.columns:
            raise ValueError("rates DataFrame needs a 'rate' column")
        # collision-proof temp names: the caller's frame may already
        # carry columns named _cut/_rate
        cutc, ratec = "_cut", "_rate"
        while cutc in df.columns or ratec in df.columns:
            cutc, ratec = "_" + cutc, "_" + ratec
        # rate values are DATA here (not validated at call time like
        # the dict path's): clamp into [0, 1] so an out-of-range row
        # degrades to keep-none/keep-all instead of corrupting the
        # hash compare; dedupe on the group key (max rate wins — a
        # deterministic reduction; a plain dropDuplicates would pick
        # an arbitrary survivor and duplicate group rows in the rates
        # table would otherwise duplicate DATA rows through the join)
        rt = (rates.select(
                  *_str_cols(by),
                  F.least(F.greatest(F.col("rate").cast("double"),
                                     F.lit(0.0)),
                          F.lit(1.0)).alias(ratec))
              .groupBy(*by).agg(F.max(ratec).alias(ratec)))
        joined = (
            _join_by(df.where(pred).withColumn(cutc, F.expr(h)),
                     F.broadcast(rt), by, "left")
            .withColumn(ratec, F.coalesce(
                F.col(ratec), F.lit(float(default_rate))))
        )
        out = joined.where(
            F.col(cutc) < (F.col(ratec)
                           * F.lit(float(1 << HASH_BITS)))
            .cast("bigint")).drop(cutc, ratec)
        return out
    for r in rates.values():
        if not (0.0 <= r <= 1.0):
            raise ValueError(f"rate must be in [0, 1], got {r}")
    key_expr = (f"CAST({by[0]} AS STRING)" if len(by) == 1 else
                "concat_ws(chr(31), " +
                ", ".join(f"CAST({c} AS STRING)" for c in by) + ")")
    return df.where(pred & (F.expr(h) < F.expr(
        _rate_cut(key_expr, rates, default_rate))))


def _rate_cut(key_expr: str, rates: dict, default_rate: float) -> str:
    """SQL expression (Spark and DuckDB alike) for a row's hash cut-off:
    a CASE over the group key for the listed rates, the default rate's
    cut-off otherwise. Group values become quote-doubled literals."""
    def esc(v) -> str:
        return "'" + str(v).replace("'", "''") + "'"

    default = f"CAST({int(default_rate * (1 << HASH_BITS))} AS BIGINT)"
    if not rates:
        return default
    whens = " ".join(
        f"WHEN {esc(g)} THEN CAST({int(r * (1 << HASH_BITS))} AS BIGINT)"
        for g, r in sorted(rates.items(), key=lambda kv: str(kv[0])))
    return f"CASE {key_expr} {whens} ELSE {default} END"


def duckdb_rate_sample_by_sql(key_col: str, by, rates: dict,
                              default_rate: float, source: str,
                              select: str = "*") -> str:
    """Oracle twin of ``rate_sample_by`` (single-column ``by``)."""
    by = _norm_by(by)
    cut = _rate_cut(f"CAST({by[0]} AS VARCHAR)", rates, default_rate)
    return (f"SELECT {select} FROM {source} "
            f"WHERE {_sql_not_null(key_col, *by)} "
            f"AND {duckdb_hash60(key_col)} < {cut}")
