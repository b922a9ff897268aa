"""Deterministic cardinality/frequency sketches: HyperLogLog, KMV
(k-minimum-values), and Count-Min — the partial-mergeable summaries a
100 TB engine uses where exact DISTINCT/GROUP BY state would not fit.

The reference engine always counts exactly (SURVEY.md §2.4 A2/A6;
lib/sonardb.py:1552-1595 runs COUNT(DISTINCT ...) over sqlite) — fine
at millions of rows, not at 10^12.  Sketches are the scale path, and
the classic objection to testing them is that estimates are
implementation-defined.  This module removes that objection by
construction: every hash is the repo's portable md5-64 idiom
(operators/dedup.py:30-36) and every register update is INTEGER
arithmetic (max of rho, bit-shift sums, min of counters), so Spark and
DuckDB compute IDENTICAL sketch states and IDENTICAL estimates — the
estimates are value-checked against the oracle like any exact query,
and each query also returns the exact answer next to the estimate so
the error is visible.

Determinism details:
  * rho (HLL register) = index of the lowest set bit of the suffix,
    found via v & -v (a power of two) and log2 — log2 is exact on
    powers of two in IEEE doubles, so no boundary misrounding;
  * the HLL denominator Σ 2^(-M_j) is summed as Σ 2^(52-M_j) in
    BIGINT — exact and order-independent, unlike a float sum —
    and divided once at the end;
  * KMV uses the k-th smallest 60-bit hash (row_number over a total
    order), Count-Min takes integer minima over d=4 counter rows.

Scale notes (100 TB):
  * all three sketches are one-shuffle partial aggregates: HLL's
    (group, bucket) max merges map-side into ≤256 registers per
    group; Count-Min's counter table is d×w = 256 cells per group —
    both orders of magnitude smaller than exact distinct state;
  * KMV as written keeps a per-group distinct-hash set before the
    top-k — the demo form.  The production form replaces the distinct
    + row_number with a partial bounded min-heap per partition
    (Spark: groupBy + sort_array(slice(collect_set,...)) or an
    approx top-k accumulator); noted here because at 10^9 distinct
    keys the exact distinct shuffle is the thing the sketch exists
    to avoid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# portable 60-bit hash (15 hex chars of md5), same as operators/dedup.py:30
def _h60(col):
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


_H60_SQL = "CAST(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

HLL_M = 256  # 2^8 buckets
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def hll_registers(df: DataFrame, group_col: str, key_col) -> DataFrame:
    """(group, bucket, m) HLL register table — the MERGEABLE sketch
    state: registers from any partition of the data combine by MAX, so
    they union across batches/streams/partitions losslessly.  bucket =
    h % 256, rho = lowest-set-bit index of h//256 (capped at 52).
    h//256 must be INTEGER division — `/` goes through DOUBLE and
    loses the low bits for h > 2^53, exactly the bits rho reads."""
    h = _h60(F.col(key_col) if isinstance(key_col, str) else key_col)
    v = F.expr(f"h div {HLL_M}")
    rho = F.when(v == 0, F.lit(52)).otherwise(
        F.least(F.log2(v.bitwiseAND(-v)).cast("long") + 1, F.lit(52)))
    return (
        df.select(F.col(group_col).alias("grp"), h.alias("h"))
        .withColumn("bucket", F.pmod(F.col("h"), F.lit(HLL_M)))
        .withColumn("rho", rho)
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("m"))
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """(grp, hll_est) from a register table.  Denominator Σ 2^(-M) is
    summed exactly in BIGINT as Σ 2^(52-M); the linear-counting
    small-range branch is deterministic, so every engine/partition
    ordering computes the identical estimate."""
    per_group = regs.groupBy("grp").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(52 - m AS INT))"))
         .alias("present_sum"),
        F.count(F.lit(1)).alias("n_buckets"))
    denom = ((F.col("present_sum") / F.lit(2.0 ** 52))
             + (F.lit(HLL_M) - F.col("n_buckets")))
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / denom
    zeros = F.lit(HLL_M) - F.col("n_buckets")
    est = F.when((raw <= 2.5 * HLL_M) & (zeros > 0),
                 F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros)
                 ).otherwise(raw)
    return per_group.select("grp", F.round(est, 2).alias("hll_est"))


def sketch_hll_distinct(spark, sf_dir):
    """Deterministic HLL (m=256) estimate of distinct customers per
    order priority, next to the exact count (see hll_registers /
    hll_estimate — the same mergeable state backs the streaming
    variant in streaming/sketches.py)."""
    o = _t(spark, sf_dir, "orders")
    regs = hll_registers(o, "o_orderpriority", "o_custkey")
    exact = (o.groupBy("o_orderpriority")
             .agg(F.countDistinct("o_custkey").alias("exact_distinct")))
    return (
        hll_estimate(regs).withColumnRenamed("grp", "o_orderpriority")
        .join(exact, "o_orderpriority")
        .orderBy("o_orderpriority")
    )


def _hll_sql(table: str, group_col: str, key_col: str) -> str:
    """One-shot DuckDB HLL twin (identical register math) for any
    (table, group, key) — also the oracle for the STREAMING sketch,
    because max-merged per-batch registers equal the one-shot ones."""
    h = _H60_SQL.format(c=key_col)
    return f"""
WITH hashed AS (
  SELECT {group_col} AS grp, {h} AS h FROM {table}
), regs AS (
  SELECT grp, h % {HLL_M} AS bucket,
         max(CASE WHEN h // {HLL_M} = 0 THEN 52
             ELSE least(CAST(log2((h // {HLL_M}) & -(h // {HLL_M})) AS BIGINT) + 1, 52) END) AS m
  FROM hashed GROUP BY 1, 2
), per_group AS (
  SELECT grp,
         sum(1::BIGINT << CAST(52 - m AS INT)) AS present_sum,
         count(*) AS n_buckets
  FROM regs GROUP BY 1
), est AS (
  SELECT grp,
         CASE WHEN raw <= {2.5 * HLL_M} AND zeros > 0
              THEN {float(HLL_M)} * ln({float(HLL_M)} / zeros)
              ELSE raw END AS e
  FROM (SELECT grp,
               {HLL_ALPHA * HLL_M * HLL_M} / (present_sum / {2.0 ** 52} + ({HLL_M} - n_buckets)) AS raw,
               {HLL_M} - n_buckets AS zeros
        FROM per_group)
)
SELECT grp AS {group_col}, round(e, 2) AS hll_est, exact_distinct
FROM est JOIN (SELECT {group_col} AS grp, count(DISTINCT {key_col}) AS exact_distinct
               FROM {table} GROUP BY 1) USING (grp)
ORDER BY 1
"""


SKETCH_HLL_SQL = _hll_sql("orders", "o_orderpriority", "o_custkey")
STREAM_HLL_SQL = _hll_sql("events", "event_type", "user_id")


def sketch_hll_setops(spark, sf_dir):
    """HLL set algebra — the property that makes the sketch a 100 TB
    operator: register tables MERGE by per-bucket MAX, so the union
    cardinality of two sets costs one tiny merge of two 256-register
    states instead of a re-scan, and intersections follow by
    inclusion-exclusion (|A∩B| = |A| + |B| - |A∪B|).

    Sets here: customers holding 1-URGENT orders (A) vs 5-LOW orders
    (B).  Output rows A / B / A_union_B / A_intersect_B, each with the
    sketch estimate next to the exact answer.  Every path is integer
    register math on md5 hashes, so the DuckDB twin computes the
    identical registers and the estimates value-check exactly.
    """
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    # materialize the register table ONCE (≤ 2·256 rows): the set
    # algebra below references it three times, and without the
    # checkpoint each reference re-scans the fact — the exact re-scan
    # the mergeable sketch exists to avoid
    regs = hll_registers(o, "o_orderpriority", "o_custkey").localCheckpoint()
    union_regs = (regs.groupBy("bucket").agg(F.max("m").alias("m"))
                  .select(F.lit("A_union_B").alias("grp"), "bucket", "m"))
    named = regs.withColumn(
        "grp", F.when(F.col("grp") == "1-URGENT", "A").otherwise("B"))
    est = hll_estimate(named.unionByName(union_regs))
    inter_est = est.agg(
        (F.sum(F.when(F.col("grp") != "A_union_B", F.col("hll_est")))
         - F.sum(F.when(F.col("grp") == "A_union_B", F.col("hll_est"))))
        .alias("hll_est")).select(F.lit("A_intersect_B").alias("grp"),
                                  F.round("hll_est", 2).alias("hll_est"))
    per_cust = (o.groupBy("o_custkey").agg(
        F.max(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0)).alias("in_b")))
    exact = per_cust.agg(
        F.sum("in_a").alias("A"), F.sum("in_b").alias("B"),
        F.count(F.lit(1)).alias("A_union_B"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("A_intersect_B")
    ).selectExpr("stack(4, 'A', A, 'B', B, 'A_union_B', A_union_B, "
                 "'A_intersect_B', A_intersect_B) AS (grp, exact_distinct)")
    return (est.unionByName(inter_est)
            .join(exact, "grp")
            .select(F.col("grp").alias("set_expr"), "hll_est",
                    F.col("exact_distinct").cast("long").alias("exact_distinct"))
            .orderBy("set_expr"))


_SETOPS_H = _H60_SQL.format(c="o_custkey")
SKETCH_HLL_SETOPS_SQL = f"""
WITH src AS (
  SELECT o_orderpriority, o_custkey FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), hashed AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'A' ELSE 'B' END AS grp,
         {_SETOPS_H} AS h FROM src
), regs AS (
  SELECT grp, h % {HLL_M} AS bucket,
         max(CASE WHEN h // {HLL_M} = 0 THEN 52
             ELSE least(CAST(log2((h // {HLL_M}) & -(h // {HLL_M})) AS BIGINT) + 1, 52) END) AS m
  FROM hashed GROUP BY 1, 2
), all_regs AS (
  SELECT grp, bucket, m FROM regs
  UNION ALL
  SELECT 'A_union_B', bucket, max(m) FROM regs GROUP BY 2
), per_group AS (
  SELECT grp,
         sum(1::BIGINT << CAST(52 - m AS INT)) AS present_sum,
         count(*) AS n_buckets
  FROM all_regs GROUP BY 1
), est AS (
  SELECT grp,
         round(CASE WHEN raw <= {2.5 * HLL_M} AND zeros > 0
              THEN {float(HLL_M)} * ln({float(HLL_M)} / zeros)
              ELSE raw END, 2) AS hll_est
  FROM (SELECT grp,
               {HLL_ALPHA * HLL_M * HLL_M} / (present_sum / {2.0 ** 52} + ({HLL_M} - n_buckets)) AS raw,
               {HLL_M} - n_buckets AS zeros
        FROM per_group)
), est_all AS (
  SELECT grp, hll_est FROM est
  UNION ALL
  SELECT 'A_intersect_B',
         round(sum(CASE WHEN grp <> 'A_union_B' THEN hll_est ELSE 0 END)
               - sum(CASE WHEN grp = 'A_union_B' THEN hll_est ELSE 0 END), 2)
  FROM est
), per_cust AS (
  SELECT o_custkey,
         max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS in_b
  FROM src GROUP BY 1
), exact_wide AS (
  SELECT sum(in_a) AS a, sum(in_b) AS b, count(*) AS u,
         sum(in_a * in_b) AS i
  FROM per_cust
), exact AS (
  SELECT 'A' AS grp, a AS exact_distinct FROM exact_wide
  UNION ALL SELECT 'B', b FROM exact_wide
  UNION ALL SELECT 'A_union_B', u FROM exact_wide
  UNION ALL SELECT 'A_intersect_B', i FROM exact_wide
)
SELECT est_all.grp AS set_expr, hll_est,
       CAST(exact_distinct AS BIGINT) AS exact_distinct
FROM est_all JOIN exact ON est_all.grp = exact.grp
ORDER BY set_expr
"""


# ---------------------------------------------------------------------------
# KMV
# ---------------------------------------------------------------------------

KMV_K = 64


def sketch_kmv_distinct(spark, sf_dir):
    """K-minimum-values distinct estimate per order priority: the k-th
    smallest normalized 60-bit hash R gives est = (k-1)/R — an exact
    integer order statistic, deterministic in both engines.

    Two-phase bucketed form: hashes are bucketed (h % 64), each
    (group, bucket) set-aggregates its distinct hashes (map-side
    combine dedups early) and emits only its k smallest; the per-group
    k-th smallest is then taken from the ≤ 64·k survivors.  min-k is
    order-independent, so this equals the global sort without a full
    distinct shuffle + per-group row_number sort.  The true streaming
    form bounds the per-bucket state too (a min-k accumulator instead
    of collect_set) — the bucketing here is what makes that swap
    local."""
    o = _t(spark, sf_dir, "orders")
    hashed = o.select("o_orderpriority", _h60(F.col("o_custkey")).alias("h"))
    per_bucket = (
        hashed.groupBy("o_orderpriority", F.pmod(F.col("h"), F.lit(64)).alias("bk"))
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, KMV_K).alias("mins"))
    )
    kth = (
        per_bucket.groupBy("o_orderpriority")
        .agg(F.element_at(
            F.array_sort(F.flatten(F.collect_list("mins"))), KMV_K).alias("h"))
        .where(F.col("h").isNotNull())
    )
    est = F.lit(float(KMV_K - 1)) / (F.col("h") / F.lit(2.0 ** 60))
    exact = (o.groupBy("o_orderpriority")
             .agg(F.countDistinct("o_custkey").alias("exact_distinct")))
    return (
        kth.select("o_orderpriority", F.round(est, 2).alias("kmv_est"))
        .join(exact, "o_orderpriority")
        .orderBy("o_orderpriority")
    )


_H = _H60_SQL.format(c="o_custkey")
SKETCH_KMV_SQL = f"""
WITH hashed AS (
  SELECT DISTINCT o_orderpriority, {_H} AS h FROM orders
), kth AS (
  SELECT o_orderpriority, h FROM (
    SELECT o_orderpriority, h,
           row_number() OVER (PARTITION BY o_orderpriority ORDER BY h) AS rn
    FROM hashed) WHERE rn = {KMV_K}
)
SELECT o_orderpriority,
       round({float(KMV_K - 1)} / (h / {2.0 ** 60}), 2) AS kmv_est,
       exact_distinct
FROM kth JOIN (SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact_distinct
               FROM orders GROUP BY 1) USING (o_orderpriority)
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Count-Min
# ---------------------------------------------------------------------------

CM_D = 4
CM_W = 64


def cm_cells(df: DataFrame, key_col: str) -> DataFrame:
    """(i, bucket, cnt) Count-Min counter table — MERGEABLE state:
    counters from any partition of the data combine by SUM, so cells
    union across batches/streams losslessly (streaming/sketches.py
    builds on exactly this)."""
    rows = F.array(*[F.lit(i) for i in range(CM_D)])
    return (
        df.select(F.col(key_col).alias("key"))
        .withColumn("i", F.explode(rows))
        .withColumn("bucket", F.pmod(
            _h60(F.concat_ws(":", F.col("i"), F.col("key"))), F.lit(CM_W)))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_estimate(cells: DataFrame, keys: DataFrame) -> DataFrame:
    """(key, [carried...], cm_est) — min over the d counters each key
    hashes into.  ``keys`` is a frame of distinct keys to estimate;
    any EXTRA columns (functionally determined by key, e.g. the exact
    count the caller will report next to the estimate) ride through
    the probe aggregate as additional group keys — which lets callers
    that already aggregated the corpus once avoid a SECOND corpus
    scan + join-back just to re-attach those columns (the DuckDB twin
    always carried exact_count through its probe CTE this way; every
    probe row inner-matches a cell because the key's own occurrences
    put a count in every counter it hashes to).

    Row-multiplication hazard: an extra column that is NOT determined
    by key yields one output row per distinct (key, extra) combo.  An
    extra column named ``i``, ``bucket`` or ``cnt`` collides with the
    probe's own columns (overwritten, or joined on) and raises
    ``ValueError``."""
    extra = [c for c in keys.columns if c != "key"]
    clash = sorted({"i", "bucket", "cnt"} & set(extra))
    if clash:
        raise ValueError(
            f"cm_estimate: keys columns {clash} collide with the probe's "
            "(i, bucket, cnt) columns; rename them")
    rows = F.array(*[F.lit(i) for i in range(CM_D)])
    probes = (
        keys.withColumn("i", F.explode(rows))
        .withColumn("bucket", F.pmod(
            _h60(F.concat_ws(":", F.col("i"), F.col("key"))), F.lit(CM_W)))
    )
    return (probes.join(F.broadcast(cells), ["i", "bucket"])
            .groupBy("key", *extra).agg(F.min("cnt").alias("cm_est")))


def sketch_countmin(spark, sf_dir):
    """Count-Min (d=4, w=64) frequency estimates for every event type,
    next to exact counts.  Counter build: explode each row into d
    (row, bucket) cells — partial counts merge map-side, so the
    shuffled state is d×w cells, independent of input size.  Estimate:
    min over the d counters hit by each key (integer min — exact)."""
    ev = _t(spark, sf_dir, "events")
    cells = cm_cells(ev, "event_type")
    exact = (ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_count")))
    # exact_count rides through the probe aggregate (cm_estimate's
    # carried-columns path) instead of a second events scan + exact
    # aggregate + join-back — one corpus pass removed (guide §2.4);
    # the SQL twin's probe CTE has always been written this way
    return (
        cm_estimate(cells, exact.select(F.col("event_type").alias("key"),
                                        "exact_count"))
        .withColumnRenamed("key", "event_type")
        .select("event_type", "cm_est", "exact_count")
        .orderBy("event_type")
    )


_HK = _H60_SQL.format(c="i || ':' || event_type")
SKETCH_CM_SQL = f"""
WITH exploded AS (
  SELECT event_type, i, {_HK} % {CM_W} AS bucket
  FROM events CROSS JOIN (SELECT unnest(range(0, {CM_D})) AS i)
), cells AS (
  SELECT i, bucket, count(*) AS cnt FROM exploded GROUP BY 1, 2
), keys AS (
  SELECT event_type, exact_count, i, {_HK} % {CM_W} AS bucket
  FROM (SELECT event_type, count(*) AS exact_count FROM events GROUP BY 1)
  CROSS JOIN (SELECT unnest(range(0, {CM_D})) AS i)
)
SELECT event_type, min(cnt) AS cm_est, exact_count
FROM keys JOIN cells USING (i, bucket)
GROUP BY event_type, exact_count
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# equi-width histogram quantile (the mergeable quantile sketch)
# ---------------------------------------------------------------------------

HQ_BINS = 64


def histogram_quantile(df, group_col: str, val_col: str,
                       p: float = 0.5, bins: int = HQ_BINS):
    """Quantile estimation from a mergeable equi-width histogram — the
    quantile member of the sketch family (HLL=distinct, CM=frequency,
    this=order statistics): per-group state is ``bins`` integer
    counters that merge by SUM across partitions/batches/streams, vs
    the full value multiset an exact percentile needs.  Estimate =
    linear interpolation inside the bin where the cumulative count
    crosses p·n.

    Deterministic by construction: bin bounds come from the global
    min/max (broadcast one-row cross join), bin index is a single
    floor((x-lo)/width) — every step one IEEE operation on identical
    operands in both engines — and the interpolation is a fixed
    expression tree rounded once at the end, so the DuckDB twin
    value-checks the estimate exactly, like the other sketches."""
    from pyspark.sql import Window

    bounds = df.agg(F.min(val_col).alias("lo"), F.max(val_col).alias("hi"))
    width = (F.col("hi") - F.col("lo")) / F.lit(float(bins))
    cells = (
        df.select(F.col(group_col).alias("grp"), F.col(val_col).alias("x"))
        .where(F.col("x").isNotNull())   # nulls are not order statistics
        .crossJoin(F.broadcast(bounds))
        .withColumn("b", F.when(F.col("hi") == F.col("lo"), F.lit(0))
            .otherwise(F.least(
                F.floor((F.col("x") - F.col("lo")) / width).cast("long"),
                F.lit(bins - 1))))
        .groupBy("grp", "b")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.first("lo").alias("lo"), F.first("hi").alias("hi"))
    )
    wg = Window.partitionBy("grp")
    wc = Window.partitionBy("grp").orderBy("b")
    cum = (cells
           .withColumn("cum", F.sum("cnt").over(wc))
           .withColumn("n", F.sum("cnt").over(wg)))
    target = F.col("n") * F.lit(p)
    est = (F.col("lo") + width * F.col("b")
           + (target - (F.col("cum") - F.col("cnt"))) / F.col("cnt") * width)
    est = F.when(F.col("hi") == F.col("lo"), F.col("lo")).otherwise(est)
    return (cum.where((F.col("cum") >= target)
                      & ((F.col("cum") - F.col("cnt")) < target))
            .groupBy("grp")
            .agg(F.round(F.min(est), 4).alias("hist_quantile")))



def hist_cells(df, group_col: str, val_col: str,
               lo: float, hi: float, bins: int = HQ_BINS):
    """(grp, b, cnt) histogram cells with FIXED bounds — the mergeable
    form (cells SUM-merge across partitions/batches/streams).  The
    data-driven-bounds query above is the one-shot convenience; a
    stream must fix its bounds up front, which is what makes the
    per-batch state a pure additive sketch."""
    width = F.lit((hi - lo) / float(bins))
    return (df.select(F.col(group_col).alias("grp"),
                      F.col(val_col).alias("x"))
            .where(F.col("x").isNotNull())
            .withColumn("b", F.lit(0) if hi == lo else F.greatest(
                F.least(
                    F.floor((F.col("x") - F.lit(lo)) / width).cast("long"),
                    F.lit(bins - 1)),
                F.lit(0)))
            .groupBy("grp", "b")
            .agg(F.count(F.lit(1)).alias("cnt")))


def hist_quantile_from_cells(cells, lo: float, hi: float,
                             p: float = 0.5, bins: int = HQ_BINS):
    """(grp, hist_quantile) from fixed-bound cells — identical
    interpolation arithmetic to histogram_quantile."""
    from pyspark.sql import Window

    width = F.lit((hi - lo) / float(bins))
    wg = Window.partitionBy("grp")
    wc = Window.partitionBy("grp").orderBy("b")
    cum = (cells
           .withColumn("cum", F.sum("cnt").over(wc))
           .withColumn("n", F.sum("cnt").over(wg)))
    target = F.col("n") * F.lit(p)
    est = (F.lit(lo) + width * F.col("b")
           + (target - (F.col("cum") - F.col("cnt"))) / F.col("cnt") * width)
    est = F.when(F.lit(hi) == F.lit(lo), F.lit(lo)).otherwise(est)
    return (cum.where((F.col("cum") >= target)
                      & ((F.col("cum") - F.col("cnt")) < target))
            .groupBy("grp")
            .agg(F.round(F.min(est), 4).alias("hist_quantile")))


def sketch_histogram_quantile(spark, sf_dir):
    """Histogram-sketch median of order totalprice per priority, next
    to the exact percentile (rounded 4, the agg_percentiles idiom) —
    the bounded-state path for order statistics at 100 TB."""
    o = _t(spark, sf_dir, "orders")
    est = histogram_quantile(o, "o_orderpriority", "o_totalprice", p=0.5)
    exact = (o.groupBy("o_orderpriority")
             .agg(F.round(F.expr("percentile(o_totalprice, 0.5)"), 4)
                  .alias("exact_p50")))
    return (est.withColumnRenamed("grp", "o_orderpriority")
            .join(exact, "o_orderpriority")
            .select("o_orderpriority", F.col("hist_quantile").alias("hist_p50"),
                    "exact_p50")
            .orderBy("o_orderpriority"))


SKETCH_HISTQ_SQL = f"""
WITH bounds AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders),
cells AS (
  SELECT o_orderpriority AS grp,
         CASE WHEN hi = lo THEN 0 ELSE
           least(CAST(floor((o_totalprice - lo) / ((hi - lo) / {float(HQ_BINS)})) AS BIGINT),
                 {HQ_BINS - 1}) END AS b,
         count(*) AS cnt, min(lo) AS lo, min(hi) AS hi
  FROM orders CROSS JOIN bounds GROUP BY 1, 2),
cum AS (
  SELECT grp, b, cnt, lo, hi,
         sum(cnt) OVER (PARTITION BY grp ORDER BY b) AS cum,
         sum(cnt) OVER (PARTITION BY grp) AS n
  FROM cells),
est AS (
  SELECT grp,
         round(min(CASE WHEN hi = lo THEN lo
               ELSE lo + ((hi - lo) / {float(HQ_BINS)}) * b
                    + (n * 0.5 - (cum - cnt)) / cnt * ((hi - lo) / {float(HQ_BINS)})
               END), 4) AS hist_p50
  FROM cum WHERE cum >= n * 0.5 AND (cum - cnt) < n * 0.5
  GROUP BY grp)
SELECT grp AS o_orderpriority, hist_p50, exact_p50
FROM est JOIN (SELECT o_orderpriority AS grp,
                      round(quantile_cont(o_totalprice, 0.5), 4) AS exact_p50
               FROM orders GROUP BY 1) USING (grp)
ORDER BY o_orderpriority
"""


QUERIES = {
    "sketch_hll_distinct": (sketch_hll_distinct, SKETCH_HLL_SQL),
    "sketch_histogram_quantile": (sketch_histogram_quantile, SKETCH_HISTQ_SQL),
    "sketch_kmv_distinct": (sketch_kmv_distinct, SKETCH_KMV_SQL),
    "sketch_countmin": (sketch_countmin, SKETCH_CM_SQL),
}
