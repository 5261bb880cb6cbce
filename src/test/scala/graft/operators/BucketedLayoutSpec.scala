package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The bucketed-layout claim, proven on the plan: a join of two
  * co-bucketed tables must run WITHOUT a shuffle exchange (the write
  * paid it once), and produce exactly the rows of the plain join.
  */
class BucketedLayoutSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  // force a real SortMergeJoin: broadcasting would hide the exchange
  // question entirely. Suites share one session per JVM, so the
  // threshold is restored afterwards (a builder config would stay set
  // for every later suite and turn their broadcast joins into
  // sort-merge joins).
  private val BroadcastThreshold = "spark.sql.autoBroadcastJoinThreshold"
  private var priorThreshold: Option[String] = None

  override def beforeAll(): Unit = {
    priorThreshold = spark.conf.getOption(BroadcastThreshold)
    spark.conf.set(BroadcastThreshold, "-1")
  }

  override def afterAll(): Unit =
    priorThreshold.fold(spark.conf.unset(BroadcastThreshold))(spark.conf.set(BroadcastThreshold, _))

  test("co-bucketed join is exchange-free and row-identical to the plain join") {
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft-bucketed")
    val orders = graft.sources.Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = graft.sources.Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal")
      .withColumnRenamed("c_custkey", "o_custkey")
    RelationalQueries.writeBucketed(orders, "b_orders", base.resolve("o").toString,
      "o_custkey", buckets = 8)
    RelationalQueries.writeBucketed(customer, "b_customer", base.resolve("c").toString,
      "o_custkey", buckets = 8)
    try {
      val joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n${plan.take(1500)}")
      // parity with the plain (shuffled) join — same columns, set compare
      val plain = orders.join(customer, "o_custkey")
      val expected = plain.collect().map(_.toSeq).toSet
      val got = joined.select(plain.columns.toSeq.map(col): _*)
        .collect().map(_.toSeq).toSet
      assert(got == expected)
      // and the bucketed scan itself reports its layout
      assert(plan.contains("Bucketed: true"), plan.take(1500))
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("aggregation on the bucket key also skips the exchange") {
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft-bucketagg")
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity")
    RelationalQueries.writeBucketed(li, "b_lineitem", base.resolve("l").toString,
      "l_orderkey", buckets = 8)
    try {
      // exact DECIMAL sum: a raw double sum would differ in ulps
      // between the bucketed (pre-sorted) and shuffled orders
      def q(df: org.apache.spark.sql.DataFrame) = df.groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("q"))
      val agg = q(spark.table("b_lineitem"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucket-key aggregation must not shuffle:\n${plan.take(1500)}")
      val expected = q(li).collect().map(r => r.get(0) -> r.get(1)).toMap
      val got = agg.collect().map(r => r.get(0) -> r.get(1)).toMap
      assert(got == expected)
    } finally spark.sql("DROP TABLE IF EXISTS b_lineitem")
  }
}
