package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The commit stats pass's footer fast path must be ROW-IDENTICAL to
  * the distributed scan it replaces — same file-key strings (the
  * `input_file_name()` form every DV/rewrite comparison keys on),
  * same typed lo/hi, same row counts, same xs — on int, long
  * and string keys, across multi-file and clustered layouts, and it
  * must REFUSE (fall back) on types whose footer stats cannot prove
  * exact bounds (float/double: NaN poisons the stats contract).
  */
class FooterStatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.01")
    .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_returnflag")

  private def writtenFiles(dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq.filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.toUri.toString).sorted
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("footer stats == scan stats on a long key (multi-file write)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fstats").toString + "/t"
    li.repartitionByRange(4, col("l_orderkey")).sortWithinPartitions("l_orderkey")
      .write.parquet(dir)
    val files = writtenFiles(dir)
    val foot = ManifestLog.footerStats(spark, files, "l_orderkey", Seq.empty)
    assert(foot.isDefined, "footer path must handle a plain long key")
    assert(rowsOf(foot.get) == rowsOf(ManifestLog.statsOfScan(spark, files, "l_orderkey")))
    assert(foot.get.schema == ManifestLog.statsOfScan(spark, files, "l_orderkey").schema)
  }

  test("footer stats == scan stats on a string key") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fstats").toString + "/t"
    li.repartitionByRange(3, col("l_returnflag")).sortWithinPartitions("l_returnflag")
      .write.parquet(dir)
    val files = writtenFiles(dir)
    val foot = ManifestLog.footerStats(spark, files, "l_returnflag", Seq.empty)
    assert(foot.isDefined, "footer path must handle a string key")
    assert(rowsOf(foot.get) == rowsOf(ManifestLog.statsOfScan(spark, files, "l_returnflag")))
  }

  test("footer stats == scan stats on non-BMP strings (UTF-8 vs UTF-16 order)") {
    // Supplementary-plane code points order DIFFERENTLY under java's
    // UTF-16 code-unit comparison than under UTF-8 binary comparison:
    // U+FFFD (3-byte UTF-8, code unit 0xFFFD) sorts ABOVE U+1F600
    // (4-byte UTF-8, leading surrogate 0xD83D) in UTF-16 but BELOW it
    // in UTF-8. The scan path's min/max use UTF8String order, so the
    // footer merge must too — a UTF-16 merge records hi=U+FFFD and a
    // pruned read whose range tops out at that hi silently drops the
    // emoji row.
    import spark.implicits._
    val fffd = "\uFFFD"
    val emoji = "\uD83D\uDE00" // U+1F600
    val dir = java.nio.file.Files.createTempDirectory("graft-fstats").toString + "/t"
    Seq("a", fffd, emoji, "z" + fffd, "z" + emoji)
      .toDF("k").coalesce(1).write.parquet(dir)
    val files = writtenFiles(dir)
    val foot = ManifestLog.footerStats(spark, files, "k", Seq.empty)
    assert(foot.isDefined, "footer path must handle a non-BMP string key")
    assert(rowsOf(foot.get) == rowsOf(ManifestLog.statsOfScan(spark, files, "k")))
  }

  test("footer stats == scan stats with second axis and xs axes (clustered shape)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fstats").toString + "/t"
    li.repartitionByRange(4, col("l_orderkey")).sortWithinPartitions("l_orderkey")
      .write.parquet(dir)
    val files = writtenFiles(dir)
    val foot = ManifestLog.footerStats(spark, files, "l_orderkey",
      Seq("l_partkey", "l_suppkey"))
    assert(foot.isDefined)
    assert(rowsOf(foot.get) ==
      rowsOf(ManifestLog.statsOfScan(spark, files, "l_orderkey",
        Seq("l_partkey", "l_suppkey"))))
  }

  test("footer path refuses floating keys (falls back to the scan)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fstats").toString + "/t"
    li.withColumn("dq", col("l_quantity").cast("double"))
      .write.parquet(dir)
    val files = writtenFiles(dir)
    assert(ManifestLog.footerStats(spark, files, "dq", Seq.empty).isEmpty)
  }

  test("whole-commit parity: write() snapshot equals the scan-path snapshot") {
    // write through the REAL commit path (footer stats inside), then
    // recompute the same files' stats through the scan path — the
    // snapshot rows must match value-for-value including file keys
    val dir = java.nio.file.Files.createTempDirectory("graft-fstats").toString + "/t"
    ManifestLog.write(li, "l_orderkey", dir, files = 4)
    val snap = ManifestLog.snapshot(spark, dir).collect().map(_.toString).sorted.toSeq
    val files = ManifestLog.snapshot(spark, dir).collect().map(_.getString(0)).sorted
    val scan = ManifestLog.statsOfScan(spark, files.toSeq, "l_orderkey")
    assert(snap == rowsOf(scan))
    // and the DV path still keys correctly: MOR delete + read back
    val del = li.filter(col("l_orderkey") % 10 === 3).select("l_orderkey").distinct()
    ManifestLog.deleteMor(del, "l_orderkey", dir)
    val got = ManifestLog.read(spark, dir).agg(count(lit(1))).head().getLong(0)
    val want = li.filter(col("l_orderkey") % 10 =!= 3).count()
    assert(got == want)
  }
}
