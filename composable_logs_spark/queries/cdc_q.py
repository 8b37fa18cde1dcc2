"""CDC apply-changes — the lakehouse `MERGE INTO` / `APPLY CHANGES
INTO` shape: fold an ordered changelog of upserts and deletes into a
base snapshot with last-writer-wins semantics. This is the sibling of
``scd_q`` (which keeps every version as an interval); CDC apply keeps
only the LATEST state — the op every mirror-a-transactional-table-to-
the-lake pipeline runs per micro-batch.

Fixture (deterministic, both engines): the base is the customer table;
the changelog is derived from orders — each order is one change record
for its customer, sequenced by o_orderkey, op = DELETE for custkey
% 97 = 0 and UPSERT otherwise, the upsert setting the balance to the
order's total price in cents. A customer with no orders keeps the base
row untouched; a deleted customer disappears even if earlier changes
updated it (only the LAST change per key matters).

Semantics = Delta Lake's APPLY CHANGES: dedupe the changelog per key
by highest sequence number (row_number window, id tie-break is
unnecessary since o_orderkey is unique), then FULL OUTER join against
the base: change wins over base, DELETE removes, base survives
untouched keys.

100 TB design: one window partitioned by key over the changelog (the
shuffle), one shuffle join on the same key (exchange reuse), zero
windows over the base table. The output summarises the snapshot with exact integer balances so the
hash proves every surviving row and every tombstone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import QuerySpec, load


def apply_changes(base: DataFrame, changes: DataFrame) -> DataFrame:
    """Last-writer-wins CDC apply.

    base:    (key, bal_cents)
    changes: (key, seq, op['U'|'D'], new_bal_cents)
    returns  (key, bal_cents, src['base'|'upsert'])
    """
    w = W.partitionBy("key").orderBy(F.desc("seq"))
    last = (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("key", "op", "new_bal_cents")
    )
    joined = base.alias("b").join(last.alias("c"), "key", "full_outer")
    return (
        joined.where(F.col("c.op").isNull() | (F.col("c.op") != "D"))
        .select(
            "key",
            F.coalesce(F.col("c.new_bal_cents"), F.col("b.bal_cents")).alias(
                "bal_cents"
            ),
            F.when(F.col("c.op").isNull(), F.lit("base"))
            .otherwise(F.lit("upsert"))
            .alias("src"),
        )
    )


def cdc_apply_changes(spark: SparkSession, sf: str) -> DataFrame:
    base = load(spark, sf, "customer").select(
        F.col("c_custkey").alias("key"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_cents"),
    )
    changes = load(spark, sf, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_custkey") % 97 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("new_bal_cents"),
    )
    snap = apply_changes(base, changes)
    # per-(src, key-decile) summary: 10-20 rows whose exact totals pin
    # every surviving balance and every tombstone
    return snap.groupBy("src", (F.col("key") % 10).alias("key_mod")).agg(
        F.count("*").alias("n_rows"),
        F.sum("bal_cents").alias("total_cents"),
        F.min("key").alias("min_key"),
        F.max("key").alias("max_key"),
    ).orderBy("src", "key_mod")


_CDC_SQL = """
WITH base AS (
  SELECT c_custkey AS key,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
  FROM customer
),
changes AS (
  SELECT o_custkey AS key, o_orderkey AS seq,
         CASE WHEN o_custkey % 97 = 0 THEN 'D' ELSE 'U' END AS op,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS new_bal_cents
  FROM orders
),
last_chg AS (
  SELECT key, op, new_bal_cents FROM (
    SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
    FROM changes
  ) WHERE rn = 1
),
snap AS (
  SELECT coalesce(b.key, c.key) AS key,
         coalesce(c.new_bal_cents, b.bal_cents) AS bal_cents,
         CASE WHEN c.op IS NULL THEN 'base' ELSE 'upsert' END AS src
  FROM base b FULL OUTER JOIN last_chg c ON b.key = c.key
  WHERE c.op IS NULL OR c.op <> 'D'
)
SELECT src, key % 10 AS key_mod, COUNT(*) AS n_rows,
       CAST(SUM(bal_cents) AS BIGINT) AS total_cents,
       MIN(key) AS min_key, MAX(key) AS max_key
FROM snap GROUP BY 1, 2 ORDER BY src, key_mod
"""


QUERIES = {
    "cdc_apply_changes": QuerySpec(cdc_apply_changes, _CDC_SQL),
}
