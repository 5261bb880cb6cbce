package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bucketed-layout claim, proven on the plan: a join of two
  * co-bucketed tables must run WITHOUT a shuffle exchange (the write
  * paid it once), and produce exactly the rows of the plain join.
  */
class LayoutOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    // force a real SortMergeJoin: broadcasting would hide the exchange
    // question entirely
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    .getOrCreate()

  test("co-bucketed join is exchange-free and row-identical to the plain join") {
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft-bucketed")
    val orders = graft.sources.Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = graft.sources.Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal")
      .withColumnRenamed("c_custkey", "o_custkey")
    LayoutOps.writeBucketed(orders, "b_orders", base.resolve("o").toString,
      "o_custkey", buckets = 8)
    LayoutOps.writeBucketed(customer, "b_customer", base.resolve("c").toString,
      "o_custkey", buckets = 8)
    try {
      val joined = LayoutOps.bucketedJoin(spark, "b_orders", "b_customer", "o_custkey")
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
    LayoutOps.writeBucketed(li, "b_lineitem", base.resolve("l").toString,
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

  test("morton interleave puts a's bits at even positions, b's at odd") {
    import spark.implicits._
    val rows = Seq((3L, 5L), (0L, 0L), (65535L, 0L), (0L, 65535L), (65535L, 65535L))
      .toDF("a", "b")
      .select(LayoutOps.mortonN(Seq(col("a"), col("b"))).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // spread(3)=0b101=5, spread(5)=0b10001=17 → 5 | 17<<1 = 39
    assert(rows == Seq(39L, 0L, 0x55555555L, 0xAAAAAAAAL, 0xFFFFFFFFL))
  }

  /** Rows the parquet readers actually emitted (after row-group
    * min/max pruning), summed over every file scan in the plan.
    */
  private def rowsScanned(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numOutputRows").value }
      .sum
  }

  test("z-ordered layout prunes row groups on BOTH dimensions; a z-scan reads a fraction") {
    val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val zDir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val rndDir = java.nio.file.Files.createTempDirectory("graft-zrand").toString
    LayoutOps.writeZOrderedN(li, Seq("l_partkey", "l_suppkey"), zDir)
    // control: same data, same file/row-group geometry, random order
    li.withColumn("__r", xxhash64(col("l_orderkey"), col("l_partkey")))
      .repartitionByRange(32, col("__r")).sortWithinPartitions("__r").drop("__r")
      .write.mode("overwrite").option("parquet.block.size", 64 * 1024).parquet(rndDir)

    def boxed(path: String) = spark.read.parquet(path)
      .filter(col("l_partkey").between(100, 180) && col("l_suppkey").between(2, 5))
    val zRows = rowsScanned(boxed(zDir))
    val rndRows = rowsScanned(boxed(rndDir))
    // parity first: the layout must not change the answer
    val a = boxed(zDir).collect().map(_.toString).sorted.toSeq
    val b = boxed(rndDir).collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
    // the z layout must skip most row groups; random order reads ~all
    assert(zRows * 3 <= rndRows,
      s"z-ordered scan read $zRows rows vs $rndRows random-order — no pruning win")
  }

  test("dynamic partition pruning fires on a partitioned fact joined to a filtered dim") {
    val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
        (col("l_partkey") % 16).as("pk_bucket"))
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    LayoutOps.writePartitioned(li, "pk_bucket", dir)
    val fact = spark.read.parquet(dir)
    // a dim whose FILTER selects 2 of 16 partitions; the fact's
    // partition column is only constrained THROUGH the join
    val dim = spark.range(16).select(col("id").as("pk_bucket"),
      (col("id") % 8).as("grp")).filter(col("grp") === 3)
    val joined = fact.join(dim, "pk_bucket")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruning PartitionFilter in:\n${plan.take(2000)}")
    // parity: DPP is an optimization, never a semantics change
    val expect = li.filter(col("pk_bucket").isin(3L, 11L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = joined.collect().map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got == expect && got.nonEmpty)
  }

  test("hilbert kernel: consecutive indexes are edge-adjacent cells (Z-order jumps; Hilbert never)") {
    import graft.functions.HilbertIndex2
    // top-level quadrant visit order: (3*rx)^ry gives 0,1,2,3 for
    // (lo,lo),(lo,hi),(hi,hi),(hi,lo) — the U shape of the curve
    val s = 1L << 15
    val corners = Seq((0L, 0L), (0L, s), (s, s), (s, 0L)).map {
      case (x, y) => HilbertIndex2.xy2d(x, y)
    }
    assert(corners == corners.sorted && corners.distinct.size == 4,
      s"quadrant visit order broken: $corners")
    // bijectivity + the defining locality property, exhaustive on the
    // 64x64 low corner: any two cells whose indexes are CONSECUTIVE
    // integers on the full curve must be edge-adjacent on the grid
    val cells = for (x <- 0 until 64; y <- 0 until 64)
      yield (HilbertIndex2.xy2d(x.toLong, y.toLong), x, y)
    assert(cells.map(_._1).distinct.size == cells.size, "xy2d not injective")
    val walk = cells.sortBy(_._1)
    val adjacentRuns = walk.zip(walk.tail).filter { case ((d1, _, _), (d2, _, _)) => d2 == d1 + 1 }
    assert(adjacentRuns.nonEmpty)
    assert(adjacentRuns.forall { case ((_, x1, y1), (_, x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) == 1
    }, "consecutive Hilbert indexes must be edge-adjacent")
  }

  test("hilbert-ordered layout prunes a box scan at least as well as random; parity holds") {
    val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val hDir = java.nio.file.Files.createTempDirectory("graft-hilbert").toString
    val rndDir = java.nio.file.Files.createTempDirectory("graft-hrand").toString
    LayoutOps.writeHilbertOrdered(li, "l_partkey", "l_suppkey", hDir)
    li.withColumn("__r", xxhash64(col("l_orderkey"), col("l_partkey")))
      .repartitionByRange(32, col("__r")).sortWithinPartitions("__r").drop("__r")
      .write.mode("overwrite").option("parquet.block.size", 64 * 1024).parquet(rndDir)
    def boxed(path: String) = spark.read.parquet(path)
      .filter(col("l_partkey").between(100, 180) && col("l_suppkey").between(2, 5))
    val hRows = rowsScanned(boxed(hDir))
    val rndRows = rowsScanned(boxed(rndDir))
    val a = boxed(hDir).collect().map(_.toString).sorted.toSeq
    val b = boxed(rndDir).collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
    assert(hRows * 3 <= rndRows,
      s"hilbert scan read $hRows rows vs $rndRows random-order — no pruning win")
  }

  test("hilbertN kernel: bijective with exact round-trip and edge-adjacent consecutive cells, per dimension count") {
    import graft.functions.HilbertN
    // exhaustive over the FULL curve at reduced order per n: every
    // index decodes, re-encodes to itself, and consecutive indexes are
    // Manhattan-distance-1 neighbors in exactly one axis — the
    // defining Hilbert property, in 2, 3, and 4 dimensions
    for ((n, bits) <- Seq((2, 8), (3, 5), (4, 3))) {
      val total = 1L << (n * bits)
      var d = 0L
      var prev = HilbertN.toAxes(bits, n, 0L)
      assert(HilbertN.toIndex(bits, prev.clone()) == 0L)
      d = 1L
      while (d < total) {
        val cur = HilbertN.toAxes(bits, n, d)
        assert(HilbertN.toIndex(bits, cur.clone()) == d, s"n=$n round-trip at d=$d")
        val diff = (0 until n).map(i => math.abs(cur(i) - prev(i))).sum
        assert(diff == 1, s"n=$n: d=${d - 1}->$d jumped distance $diff " +
          s"(${prev.mkString(",")}) -> (${cur.mkString(",")})")
        prev = cur
        d += 1
      }
    }
    // the interpreted eval and the codegen'd expression agree with the
    // static kernel through a real plan
    import spark.implicits._
    val df = (0L until 512L).map(i => (i % 8, (i / 8) % 8, i / 64)).toDF("a", "b", "c")
    val got = df.select(graft.functions.VectorExpressions
        .hilbertN(Seq(col("a"), col("b"), col("c")), 3).as("h"),
        col("a"), col("b"), col("c"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(0) ==
        HilbertN.toIndex(3, Array(r.getLong(1), r.getLong(2), r.getLong(3))))
    }
  }

  test("3-axis hilbert layout prunes a 3-axis box scan; parity holds") {
    val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val hDir = java.nio.file.Files.createTempDirectory("graft-hilbert3").toString
    val rndDir = java.nio.file.Files.createTempDirectory("graft-h3rand").toString
    LayoutOps.writeHilbertOrderedN(li, Seq("l_partkey", "l_suppkey", "l_quantity"), hDir)
    li.withColumn("__r", xxhash64(col("l_orderkey"), col("l_partkey")))
      .repartitionByRange(32, col("__r")).sortWithinPartitions("__r").drop("__r")
      .write.mode("overwrite").option("parquet.block.size", 64 * 1024).parquet(rndDir)
    def boxed(path: String) = spark.read.parquet(path)
      .filter(col("l_partkey").between(100, 400) &&
        col("l_suppkey").between(2, 20) && col("l_quantity").between(5, 30))
    val hRows = rowsScanned(boxed(hDir))
    val rndRows = rowsScanned(boxed(rndDir))
    val a = boxed(hDir).collect().map(_.toString).sorted.toSeq
    val b = boxed(rndDir).collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
    assert(hRows * 2 <= rndRows,
      s"3-axis hilbert scan read $hRows rows vs $rndRows random-order — no pruning win")
  }

  test("mortonN(3) puts column i's bits at positions ≡ i (mod 3)") {
    import spark.implicits._
    val rows = Seq(
      (1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L), (3L, 0L, 0L),
      (65535L, 0L, 0L), (0L, 65535L, 0L), (65535L, 65535L, 65535L))
      .toDF("a", "b", "c")
      .select(LayoutOps.mortonN(Seq(col("a"), col("b"), col("c"))).as("z"))
      .collect().map(_.getLong(0)).toSeq
    def spread3(x: Long): Long =
      (0 until 16).map(i => ((x >> i) & 1L) << (3 * i)).reduce(_ | _)
    val expected = Seq(
      1L, 2L, 4L, spread3(3L),
      spread3(65535L), spread3(65535L) << 1,
      spread3(65535L) * 7L) // a|b<<1|c<<2 over all-ones = every bit of 48
    assert(rows == expected, s"$rows != $expected")
  }

  test("mortonN(4) puts column i's bits at positions ≡ i (mod 4)") {
    import spark.implicits._
    val rows = Seq(
      (1L, 0L, 0L, 0L), (0L, 1L, 0L, 0L), (0L, 0L, 1L, 0L), (0L, 0L, 0L, 1L),
      (65535L, 0L, 0L, 0L), (65535L, 65535L, 65535L, 65535L))
      .toDF("a", "b", "c", "d")
      .select(LayoutOps.mortonN(
        Seq(col("a"), col("b"), col("c"), col("d"))).as("z"))
      .collect().map(_.getLong(0)).toSeq
    def spread4(x: Long): Long =
      (0 until 16).map(i => ((x >> i) & 1L) << (4 * i)).reduce(_ | _)
    assert(rows == Seq(1L, 2L, 4L, 8L, spread4(65535L), -1L),
      s"got $rows") // all-ones × 4 lanes fills all 64 bits = -1
  }

  test("3-column z-order prunes a 3-axis box scan; random order reads ~all") {
    val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val zDir = java.nio.file.Files.createTempDirectory("graft-zorder3").toString
    val rndDir = java.nio.file.Files.createTempDirectory("graft-zrand3").toString
    LayoutOps.writeZOrderedN(li, Seq("l_partkey", "l_suppkey", "l_quantity"), zDir)
    li.withColumn("__r", xxhash64(col("l_orderkey"), col("l_partkey")))
      .repartitionByRange(32, col("__r")).sortWithinPartitions("__r").drop("__r")
      .write.mode("overwrite").option("parquet.block.size", 64 * 1024).parquet(rndDir)

    def boxed(path: String) = spark.read.parquet(path)
      .filter(col("l_partkey").between(100, 300) &&
        col("l_suppkey").between(2, 8) && col("l_quantity").between(10, 30))
    val zRows = rowsScanned(boxed(zDir))
    val rndRows = rowsScanned(boxed(rndDir))
    val a = boxed(zDir).collect().map(_.toString).sorted.toSeq
    val b = boxed(rndDir).collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
    assert(zRows * 2 <= rndRows,
      s"3-col z-ordered scan read $zRows rows vs $rndRows random-order — no pruning win")
  }

  test("bloom manifest skips most files on a point lookup where zone maps prune nothing") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    LayoutOps.writeWithBloomManifest(docs, "doc_id", dir,
      files = 16, expectedPerFile = 1000L)

    // a present key: pruned probe == plain scan, reading few files
    val probe = docs.orderBy("doc_id").head().getLong(0) + 7
    val (pruned, survivors, total) = LayoutOps.readPrunedByBloom(
      spark, dir, "doc_id", probe)
    val expect = spark.read.parquet(dir).filter(col("doc_id") === probe)
      .collect().map(_.toString).sorted.toSeq
    val got = pruned.collect().map(_.toString).sorted.toSeq
    assert(got == expect && got.nonEmpty)
    assert(total == 16, s"bloom sidecar should carry all 16 files, had $total")
    // hash layout puts the key in exactly one file; fpp=1% could add
    // a false-positive file or two, never most of them
    assert(survivors <= 3,
      s"blooms kept $survivors/$total files for a point probe")

    // zone maps genuinely CANNOT prune this layout: every file's
    // [min, max] spans ~the whole doc_id domain (the reason blooms
    // exist). Build the range manifest over the same hash layout.
    val ids = spark.read.parquet(dir)
      .groupBy(input_file_name()).agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .collect()
    val domain = docs.agg(max("doc_id")).head().getLong(0)
    assert(ids.forall(r => r.getAs[Long]("hi") - r.getAs[Long]("lo") > domain / 2),
      "hash layout should spread every file across the key domain")

    // an absent key prunes to zero (or a rare false-positive) files,
    // and the probe returns nothing either way
    val (noneDf, s0, _) = LayoutOps.readPrunedByBloom(
      spark, dir, "doc_id", domain + 999983L)
    assert(s0 <= 1 && noneDf.count() == 0)
  }

  test("bloom manifest append adds filters for only the new files; probe parity holds") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-app").toString
    val half = docs.count() / 2
    LayoutOps.writeWithBloomManifest(docs.filter(col("doc_id") < half), "doc_id",
      dir, files = 4, expectedPerFile = 1000L)
    LayoutOps.appendWithBloomManifest(docs.filter(col("doc_id") >= half), "doc_id",
      dir, files = 4, expectedPerFile = 1000L)

    val sidecar = spark.read.parquet(s"$dir/_bloom").collect()
    assert(sidecar.length == 8, s"4 + 4 files, had ${sidecar.length}")
    assert(sidecar.map(_.getAs[Long]("rows")).sum == docs.count())

    // probe a key from the APPENDED half: parity + pruning
    val probe = half + 3
    val (pruned, survivors, total) = LayoutOps.readPrunedByBloom(
      spark, dir, "doc_id", probe)
    val expect = spark.read.parquet(dir).filter(col("doc_id") === probe)
      .collect().map(_.toString).sorted.toSeq
    assert(pruned.collect().map(_.toString).sorted.toSeq == expect && expect.nonEmpty)
    assert(total == 8 && survivors <= 2,
      s"blooms kept $survivors/$total files after append")
  }
}
