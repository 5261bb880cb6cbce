package graft.operators

import org.apache.spark.sql.DataFrame

/** The reference's core windowing semantic (src/step.ts:70-151): a
  * vector closes at whichever comes first of (a) `maxEvents` events,
  * or (b) `maxSeconds` elapsed since the vector's *first* event —
  * windows are anchored at each group's first event, not at aligned
  * bucket boundaries. Batch replay uses event time where the
  * reference used wall-clock arrival (SURVEY.md §2.6 "streaming
  * semantics").
  *
  * Implementation: repartition by key, sort within partitions by
  * (key, time, tiebreak), then a single streaming pass assigns
  * monotone `vec_id`s per key. No per-key state beyond three scalars,
  * no materialized buffers — the scan is O(rows) with one shuffle on
  * the key, so it holds at arbitrary scale as long as no single key's
  * *sort run* exceeds executor spill capacity (Spark's external sort
  * handles that by spilling).
  */
object HybridWindow {

  /** Assign `vec_id` per `keyCols` group via the first-class Catalyst
    * operator ([[graft.plans.AnchoredWindow]]): the planner sees the
    * operator's distribution/ordering requirements and partitioning
    * guarantee, so existing shuffles/sorts are reused and a downstream
    * groupBy on (key, vec_id) needs no new exchange. Registered on the
    * session's experimental strategies on first use (also injectable
    * via [[graft.plans.GraftExtensions]]).
    */
  def anchoredVectors(df: DataFrame, keyCols: Seq[String], tsMicrosCol: String,
                      tieCols: Seq[String], maxEvents: Int, maxSeconds: Double): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.LongType

    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(graft.plans.AnchoredWindowStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AnchoredWindowStrategy

    val analyzed = df.queryExecution.analyzed
    def attr(name: String) = analyzed.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"column '$name' not found"))
    val node = graft.plans.AnchoredWindow(
      keyCols.map(attr), attr(tsMicrosCol), tieCols.map(attr),
      if (maxEvents > 0) maxEvents.toLong else Long.MaxValue,
      if (maxSeconds > 0) (maxSeconds * 1e6).toLong else Long.MaxValue,
      AttributeReference("vec_id", LongType, nullable = false)(),
      analyzed)
    ColumnBridge.ofRows(spark, node)
  }
}
