"""Analysis-only plan twins for queries that execute work at
plan-BUILD time.

The plan-audit / dtype-sweep tools call every registered query builder
to get a DataFrame whose plan and schema they inspect WITHOUT running
it. Two classes of queries break that assumption:

* streaming contract queries — calling them runs a real streaming job
  and returns a memory-sink scan that hides the aggregation plan
  (``STREAM_PLAN_BUILDERS`` in ``streaming.events``);
* driver-paced iterative queries (order_stat) — calling them pays the
  real scans eagerly and returns a trivial ``LocalTableScan``.

``ANALYSIS_PLAN_BUILDERS`` maps each such query to a lazy builder that
(a) has the exact output schema of the real query (the dtype sweep
compares it column-by-column against the oracle) and (b) exposes the
representative distributed plan shape (the audit scans it for
anti-patterns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def order_stat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy twin of ``q_order_stat`` (which is driver-paced: the real
    query runs a count plus ≤3 bounded histogram collects per statistic
    at build time, so its returned plan is a LocalTableScan).

    This twin builds ONE representative selection round — the
    column-pruned cents scan feeding a ≤ORDER_STAT_BUCKETS-cell
    partial-aggregating histogram — then folds the histogram into the
    real output schema (stat_name string, k long, value_cents long)
    via a second aggregate + a 2-element explode, all without a single
    driver job. The audit sees the plan shape that dominates the real
    query's cost; the dtype sweep sees the exact driver schema.
    """
    from ..functions.numeric import money_dec
    from ..operators.relational import ORDER_STAT_BUCKETS
    from ..sources.catalog import load_table

    cents = (
        load_table(spark, sf_dir, "lineitem")
        .select((money_dec("l_extendedprice") * 100).cast("long").alias("cents"))
    )
    hist = (
        cents.groupBy((F.col("cents") % ORDER_STAT_BUCKETS).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    summ = hist.agg(
        F.sum("n").alias("n_rows"), F.min("b").alias("bmin")
    )
    stat = lambda name, k: F.struct(  # noqa: E731 — local plan shaping
        F.lit(name).alias("stat_name"),
        k.cast("long").alias("k"),
        F.col("bmin").cast("long").alias("value_cents"),
    )
    n = F.col("n_rows")
    return (
        summ.select(
            F.explode(
                F.array(
                    stat("p50", (n + 1) / 2),
                    stat("p90", (9 * n + 9) / 10),
                )
            ).alias("s")
        )
        .select("s.*")
    )


def bloom_semi_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy twin of ``q_bloom_semi_join`` (which builds the broadcast
    bloom bitmap with one bounded JVM-folded word-aggregate collect —
    <=16384 (word, bits) rows — at build time). The twin substitutes
    an all-zeros bitmap literal — same
    probe-side plan (crossJoin of the broadcast 1-row bitmap, k
    md5-probe bit tests inside codegen, exact-verify join, final
    aggregate), same output schema, zero driver jobs."""
    from ..operators.relational import (
        BLOOM_K,
        BLOOM_M,
        _bloom_pos,
    )
    from ..session import local_frame
    from ..sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    sel = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    bm = local_frame(spark, [([0] * (BLOOM_M // 64),)], "bm: array<long>")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag"
    )
    probe = li.crossJoin(F.broadcast(bm))
    bit_ok = None
    for i in range(BLOOM_K):
        p = _bloom_pos(F.col("l_orderkey"), i)
        t = (
            F.element_at("bm", (p / 64).cast("int") + 1).bitwiseAND(
                F.call_function(
                "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
            )
            )
            != 0
        )
        bit_ok = t if bit_ok is None else (bit_ok & t)
    passed = probe.select(
        "l_orderkey", "l_returnflag", bit_ok.cast("int").alias("bloom_pass")
    )
    matched = passed.join(
        F.broadcast(sel.withColumn("is_match", F.lit(1))),
        passed.l_orderkey == F.col("o_orderkey"),
        "left",
    ).select(
        "l_returnflag",
        "bloom_pass",
        F.coalesce("is_match", F.lit(0)).alias("is_match"),
    )
    return matched.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum("bloom_pass").alias("n_bloom_pass"),
        F.sum("is_match").alias("n_match"),
        (F.sum("bloom_pass") - F.sum("is_match")).alias("n_false_pos"),
    )


def pca_power_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy twin of ``q_pca_power`` (which collects the bounded d²-row
    covariance at build time and iterates on the driver). The twin
    exposes the REAL distributed plan — the double-posexplode centered
    covariance build, the query's entire corpus-scale cost — folded
    into the exact output schema (pos int, v long, rayleigh double)
    without a driver job."""
    from ..operators.similarity import centered_cov_ints

    cov = centered_cov_ints(spark, sf_dir)
    summ = cov.agg(
        F.min("i").alias("p0"), F.count(F.lit(1)).alias("cnt")
    )
    return summ.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("p0").cast("int").alias("pos"),
                    F.col("cnt").cast("long").alias("v"),
                    F.lit(0.0).alias("rayleigh"),
                )
            )
        ).alias("s")
    ).select("s.*")


def dedup_suffix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy twin of ``q_dedup_suffix`` (which is driver-paced: the
    real query collects the 1-row corpus bounds, then materializes
    each prefix-doubling level with localCheckpoint — the bpe_train
    lineage-truncation class). The twin runs the SAME suffix_report
    tail with ONE doubling level, a fixed combine base, and
    checkpoint=False (scratch persists): exact output schema, the
    representative range-exchange/dense-rank/descent/island plan, no
    build-time jobs."""
    from ..functions.text import nonempty_tokens
    from ..operators.suffix import suffix_report
    from ..sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", nonempty_tokens("text").alias("t")
    ).where(F.size("t") >= 1)
    lens = toks.select(
        "doc_id", F.size("t").cast("long").alias("n_tokens")
    )
    pos = toks.select("doc_id", F.posexplode("t")).select(
        "doc_id",
        (F.col("pos") + 1).alias("pos"),
        F.col("col").alias("tok"),
    )
    return suffix_report(
        pos, lens, levels=1, n_positions=1 << 30, checkpoint=False,
        toks=toks,
    )


def analysis_plan_builders() -> dict:
    """Full name → lazy-builder map for the analysis tools (streaming
    twins + driver-paced twins)."""
    from ..streaming.events import STREAM_PLAN_BUILDERS
    from ..streaming.quality import stream_quality_gate_plan

    return {
        **STREAM_PLAN_BUILDERS,
        "stream_quality_gate": stream_quality_gate_plan,
        "order_stat": order_stat_plan,
        "dedup_suffix": dedup_suffix_plan,
        "bloom_semi_join": bloom_semi_join_plan,
        "pca_power": pca_power_plan,
    }
