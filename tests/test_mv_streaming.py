"""The incremental-MV algebra (mv_q) is the batch half of one story;
this test proves the SAME view maintained by Structured Streaming state
— base files processed first, delta files folded in by a later
micro-batch — lands on the identical final table. Together with the
gate's flat-recompute oracle this closes the triangle:

    flat recompute  ==  batch base+delta merge  ==  streaming fold
"""

from pyspark.sql import functions as F

from composable_logs_spark.queries import load
from composable_logs_spark.queries.mv_q import _CUTOFF, mv_incremental_merge


def test_streaming_fold_matches_batch_mv(spark, tmp_path, sf_dir):
    ev = load(spark, sf_dir, "events").select("event_type", "ts", "value")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # arrival order mirrors the MV's base/delta split
    base = ev.where(F.col("ts") < _CUTOFF)
    delta = ev.where(F.col("ts") >= _CUTOFF)
    base.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = (
        stream.groupBy(
            "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.expr("CAST(round(value * 1000000, 0) AS BIGINT)")
            ).alias("sum_micro"),
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("mv_stream")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        base_events = sum(
            r["n_events"] for r in spark.table("mv_stream").collect()
        )
        assert base_events > 0
        # the delta arrives later; streaming state folds it in
        delta.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        streamed = {
            (r["event_type"], r["day"]): (r["n_events"], r["sum_micro"])
            for r in spark.table("mv_stream").collect()
        }
    finally:
        q.stop()

    batch = mv_incremental_merge(spark, sf_dir).collect()
    assert len(batch) == len(streamed)
    for r in batch:
        n, sm = streamed[(r["event_type"], r["day"])]
        assert n == r["n_events"]
        # batch output money-rounds the micro sum; recompute the same
        # half-step to compare exactly
        sign = -1 if sm < 0 else 1
        assert r["sum_value"] == sign * ((abs(sm) + 5000) // 10000) / 100.0
    # the delta genuinely changed the view (not a no-op second batch)
    assert sum(n for n, _ in streamed.values()) > base_events
