package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (repo TESTDATA.md).
  *
  * All queries go through here so scale-dependent reading concerns live
  * in one place:
  *   - `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4 refuses
  *     by default; we flip `spark.sql.legacy.parquet.nanosAsLong` and
  *     materialize both an exact `ts_us` (unix microseconds, bigint —
  *     what oracle comparisons use) and a `ts` TIMESTAMP column.
  *   - nothing is cached here: at 100 TB these are scans, and callers
  *     should let Catalyst prune columns/partitions per query.
  */
object Tables {

  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  // driver-side row-count cache, keyed by table path. For parameter
  // auto-tuning (SemDedup.autoBits needs ~log2(n)) — the count is paid
  // once per table per session instead of once per query invocation.
  // Immutable driver test data; a real deployment with appending
  // tables would key this by snapshot/version instead.
  private val rowCounts = scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Exact row count of `dir/name.parquet`, cached on the driver. */
  def cachedCount(s: SparkSession, d: String, name: String): Long =
    rowCounts.getOrElseUpdate(s"$d/$name", read(s, d, name).count())

  /** Eager QUERY-SCOPED materialization — localCheckpoint, not
    * persist(): the storage blocks are freed by the ContextCleaner as
    * soon as the query's frames are GC'd, never a CacheManager entry
    * that outlives the query (the r19 §5 leak: five in-query persists
    * with no unpersist, accumulating across a long-lived session and
    * letting one bench rep read its predecessor's cache). Conf-gated
    * (default on): `graft.materialize=false` lets plan-shape specs
    * pin the UN-materialized plan (a checkpoint hides its upstream
    * behind `Scan ExistingRDD`) and makes the effect A/B-able inside
    * one session.
    */
  def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get("graft.materialize", "true") == "false") df
    // LAZY checkpoint: caches on first consumption exactly like
    // persist() (no separate eager job — measured +0.1–0.3 s per
    // sketch-sized frame at sf0.1 when eager), but through the RDD
    // cache, which the ContextCleaner frees on GC — never a
    // CacheManager entry.
    else df.localCheckpoint(eager = false)

  /** Fan a narrow scan out to the session's parallelism when the
    * source supplies fewer partitions than cores. The driver fixtures
    * are single-file, SINGLE-ROW-GROUP parquet, so Spark plans every
    * scan as ONE task and the whole pre-exchange stage (tokenize /
    * md5 / shingle / JSON-render — the expensive part of the text and
    * pipeline operators) runs on one core of 32 (guide §2.5: input
    * skew, "repartition immediately after the read"). Scale-adaptive
    * by construction: a production-sized table scans with >= cores
    * input partitions and passes through UNTOUCHED — no payload
    * shuffle is added at scale, the exchange exists exactly when the
    * input cannot feed the cores. Callers put this AFTER the narrow
    * column select so the exchange carries only needed columns, and
    * only on queries whose downstream order does not depend on
    * partition layout (everything oracle-checked orders its output).
    */
  def fanout(df: DataFrame): DataFrame = {
    // conf-gated (default on) so the effect is A/B-able INSIDE one
    // session — on a container with drifting external load, an
    // interleaved same-JVM toggle is the only honest comparison
    if (df.sparkSession.conf.get("graft.fanout", "true") == "false") return df
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // Scan width is estimated from the LEAF file bytes (the same
    // arithmetic FilePartition uses), NOT via df.rdd: .rdd forces a
    // full physical-planning pass — and under AQE finalizes the plan,
    // eagerly RUNNING any upstream query stages — at plan-construction
    // time, then repartition() replans. A frame whose leaves aren't
    // file scans (or that contains its own exchange already) passes
    // through untouched: fanout exists for narrow single-file scans.
    estScanPartitions(df) match {
      case Some(p) if p < cores => df.repartition(cores)
      case _                    => df
    }
  }

  /** Estimated scan-task count of a frame whose leaves are parquet
    * relations: Spark packs files into splits of
    * min(maxPartitionBytes, max(openCost, totalBytes/parallelism))
    * charging openCost per file — reproduced here from the analyzed
    * plan only, no physical planning. None when any leaf is not a
    * file relation (in-memory fixtures) or the plan already contains
    * a repartition/join/aggregate (fanout must only wrap exchange-free
    * scans — wrapping an exchange would re-run its upstream).
    */
  private def estScanPartitions(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = df.queryExecution.analyzed
    val shuffling = plan.collectFirst {
      case p @ (_: Join | _: Aggregate | _: Distinct | _: Repartition |
                _: RepartitionByExpression | _: Sort | _: GlobalLimit) => p
    }
    if (shuffling.nonEmpty) return None
    val conf = df.sparkSession.sessionState.conf
    val maxSplit = conf.filesMaxPartitionBytes
    val openCost = conf.filesOpenCostInBytes
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val leaves = plan.collectLeaves()
    var totalBytes = 0L
    var nFiles = 0L
    leaves.foreach {
      case rel: LogicalRelation if rel.relation.isInstanceOf[HadoopFsRelation] =>
        val files = rel.relation.asInstanceOf[HadoopFsRelation]
          .location.listFiles(Nil, Nil).flatMap(_.files)
        nFiles += files.length
        totalBytes += files.map(_.getLen).sum
      case _ => return None
    }
    if (nFiles == 0) return Some(1L)
    val padded = totalBytes + nFiles * openCost
    val split = math.min(maxSplit, math.max(openCost, padded / math.max(parallelism, 1)))
    Some(math.max(1L, (padded + split - 1) / math.max(split, 1L)))
  }

  /** The event-stream table. `ts` comes back as a proper TIMESTAMP
    * (microsecond precision) and `ts_us` as the raw unix microseconds
    * (bigint — what oracle comparisons use, `epoch_us(ts)` in DuckDB).
    *
    * Driver datasets have carried two physical encodings of `ts`
    * across rounds — TIMESTAMP(NANOS) (Spark 4 reads it as a nanos
    * long only under `nanosAsLong`) and plain TIMESTAMP_NTZ(us) — so
    * both are handled here by schema inspection. The NTZ path derives
    * micros by pure wall-clock arithmetic (`timestampdiff` between two
    * NTZ values) — timezone-INDEPENDENT, matching DuckDB's naive-UTC
    * read exactly no matter what session timezone the caller runs
    * under; this loader mutates no session timezone state. (Rendering
    * those timestamps as strings is still session-tz-dependent, as in
    * any Spark job — every shipped entrypoint pins UTC for that.)
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // nanos-as-long files
        raw.withColumn("ts_us", expr("ts div 1000"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType => // TIMESTAMP_NTZ(us) files
        raw.withColumn("ts_us",
            expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case _ => // proper TIMESTAMP (instant) files: unix_micros is tz-free
        raw.withColumn("ts_us", unix_micros(col("ts")))
    }
  }
}
