"""AQE skew-join splitting — the runtime half of the skew story.

The pipeline's compile-time skew defense is the LSH bucket cap
(COVERAGE.md §2.11); this test proves the RUNTIME defense the session
enables (spark.sql.adaptive.skewJoin.enabled) actually fires: a hot
join key whose partition dwarfs the others is split by AQE into
multiple tasks (the executed plan marks the join `skew=true`), and the
join result is unchanged. At web scale this is what absorbs hot-domain
skew in a join.
"""

from pyspark.sql import functions as F


def _set_confs(spark, confs):
    prev = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    return prev


def _restore(spark, prev):
    for k, v in prev.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join(spark):
    confs = {
        # force a shuffle join (no broadcast short-circuit)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # make the tiny test partitions trip the skew detector
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
        "spark.sql.shuffle.partitions": "8",
    }
    prev = _set_confs(spark, confs)
    try:
        # one hot key (0) with 300k rows; 50 cold keys with ~20 rows each
        hot = spark.range(300_000).select(
            F.lit(0).alias("k"), F.col("id").alias("v"))
        cold = spark.range(1_000).select(
            (F.col("id") % 50 + 1).alias("k"), F.col("id").alias("v"))
        left = hot.unionAll(cold)
        right = spark.range(51).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
        joined = left.join(right, "k")
        # execute THIS DataFrame's own QueryExecution (an action on a
        # derived frame — or a write, which wraps the plan in a new QE —
        # would finalize a different adaptive plan and leave joined's
        # marked isFinalPlan=false)
        rows = joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan[:500]
        # the adaptive plan must have split the skewed side
        assert "skew=true" in plan, plan[:2000]
        # correctness under the split: hot key intact, cold keys intact
        from collections import Counter
        counts = Counter(r["k"] for r in rows)
        assert counts[0] == 300_000
        assert sum(counts.values()) == 301_000
    finally:
        _restore(spark, prev)
