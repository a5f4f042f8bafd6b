package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.BinaryType

/** The Bloom prescreen of the incremental-ingest operators
  * ([[Dedup.incrementalDedupBloom]], [[Frontier.frontierIngest]]): Spark's
  * own `BloomFilterAggregate` over an artifact's probe values, probed with
  * `BloomFilterMightContain` against the filter inlined as ONE binary plan
  * literal. Bloom filters have no false negatives, so a miss is
  * definitely new; hits are exact-confirmed by the caller's joins.
  */
private[graft] object Bloom {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.Bloom")

  /** The session conf `BloomFilterAggregate` clamps its item count to. */
  private val maxItemsKey = SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS.key

  /** Filter size for an artifact carrying `probesPerRow` values per row,
    * floored at `floor` so a near-empty artifact does not give a
    * degenerate filter, and capped at the session's
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` — the size
    * `BloomFilterAggregate` would silently clamp to; one WARN names the
    * derived size, the cap and the conf key when the cap applies. The
    * artifacts are eagerly checkpointed, so the count is a cheap
    * in-memory scan (catalog-table metadata at scale). A fixed size
    * saturates once the artifact outgrows it: verdicts stay correct (the
    * exact joins discharge every candidate), but every probe flags as a
    * candidate and the join bypass disappears.
    */
  def expectedItems(art: DataFrame, probesPerRow: Long, floor: Long): Long = {
    val derived = math.max(probesPerRow * art.count(), floor)
    val cap = art.sparkSession.conf.get(maxItemsKey).toLong
    if (derived > cap)
      log.warn(s"bloom filter sized at $cap items, not the derived $derived: " +
        s"capped by $maxItemsKey")
    math.min(derived, cap)
  }

  /** The filter over the `v` values of `df`, as driver-held bytes. */
  def build(df: DataFrame, v: Column, expectedItems: Long): Array[Byte] =
    df.agg(GraftColumnBridge.column(
        new BloomFilterAggregate(GraftColumnBridge.expression(v), expectedItems)
          .toAggregateExpression()).as("bloom"))
      .head().getAs[Array[Byte]]("bloom")

  /** True iff `v` might be in `bloom`; false for a NULL `v`. */
  def mightContain(bloom: Array[Byte], v: Column): Column =
    coalesce(GraftColumnBridge.column(
      BloomFilterMightContain(Literal(bloom, BinaryType), GraftColumnBridge.expression(v))),
      lit(false))
}
