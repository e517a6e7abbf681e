package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Typed (Dataset) co-processing surface — the `KeyValueGroupedDataset`
  * APIs beyond the single-input aggregator ([[graft.functions.VecMeanAggregator]]):
  * `cogroup` merges TWO keyed inputs in one shuffle round with arbitrary
  * per-key logic — the escape hatch for merge semantics a join cannot
  * express (per-key interleaving, asymmetric retention, stateful zips).
  *
  * The registered demonstration deliberately computes something a join
  * CAN express (per-customer order rollup with zero-order customers
  * preserved) so the typed path carries a plain-SQL oracle: both engines
  * must agree exactly, which pins the two determinism obligations typed
  * code takes on and declarative code gets free:
  *
  *  - group iterators arrive in NONDETERMINISTIC order → any
  *    order-sensitive fold must sort or use an order-free accumulator;
  *  - double summation is order-dependent → accumulate in BigDecimal at
  *    a fixed scale (the row-local mirror of [[Helpers.dsum]]).
  */
object Typed {

  /** Per-customer order rollup via typed cogroup: customers with no
    * orders survive with zero counts (the left-cogroup shape). One
    * shuffle on the key for each side, then a single row-local merge —
    * at 100 TB this is the same exchange plan as an outer join + agg,
    * with the merge logic open-coded.
    */
  def customerOrderRollup(customer: DataFrame, orders: DataFrame): DataFrame = {
    val spark = customer.sparkSession
    import spark.implicits._
    val custKeyed = customer.select(col("c_custkey")).as[Long]
      .groupByKey(identity)
    val orderKeyed = orders
      .select(col("o_custkey"), col("o_totalprice")).as[(Long, Double)]
      .groupByKey(_._1)
    custKeyed.cogroup(orderKeyed) { (key, custs, ords) =>
      // a key present only on the orders side has no customer row — skip
      // (referential integrity holds on the fixture; the guard makes the
      // semantics explicit rather than emitting orphan keys)
      if (custs.isEmpty) Iterator.empty
      else {
        var nOrders = 0L
        // exact decimal accumulation, order-independent — the group
        // iterator's order is not deterministic (see scaladoc)
        var total = java.math.BigDecimal.ZERO
        ords.foreach { case (_, price) =>
          nOrders += 1
          total = total.add(java.math.BigDecimal.valueOf(price)
            .setScale(4, java.math.RoundingMode.HALF_UP))
        }
        Iterator((key, nOrders, total.doubleValue()))
      }
    }.toDF("c_custkey", "n_orders", "total_price")
      .orderBy("c_custkey")
  }
}
