package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental dedup probes a PERSISTED corpus index — the spec proves
  * (1) the index survives a real parquet round-trip (same verdicts
  * from the written-and-reread index as from the in-memory one), and
  * (2) the probe plan never shuffles the corpus-sized side: the index
  * parquet scan must not sit under any ShuffleExchange (the batch is
  * broadcast INTO the index scan; at 100 TB the index is scanned once
  * and moved never).
  */
class IncrementalDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def docsAll = spark.read.parquet(s"$sf/documents.parquet")
  private def batch = docsAll.filter(col("doc_id") % 10 < 3)
  private def corpus = docsAll.filter(col("doc_id") % 10 >= 3)

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-incdedup-$tag")
    d.toFile.deleteOnExit(); d.toString
  }

  /** Every FileSourceScan of `path` must be outside every
    * ShuffleExchange subtree.
    */
  private def indexScanNeverShuffled(df: org.apache.spark.sql.DataFrame,
                                     path: String): Unit = {
    val plan = df.queryExecution.executedPlan
    val shuffled = plan.collect { case e: ShuffleExchangeExec => e }.flatMap(
      _.collect { case s: FileSourceScanExec => s })
    val offenders = shuffled.filter(_.relation.location.rootPaths.exists(
      _.toString.contains(path)))
    assert(offenders.isEmpty,
      s"index scan under a ShuffleExchange:\n${plan.toString.take(1200)}")
  }

  test("exact index: parquet round-trip gives identical verdicts, index never shuffles") {
    val dir = tmpDir("exact")
    TextQueries.buildExactIndex(corpus).write.mode("overwrite").parquet(dir)
    val reread = spark.read.parquet(dir)
    val fromDisk = TextQueries.probeExactIndex(reread, batch)
    val inMem = TextQueries.probeExactIndex(TextQueries.buildExactIndex(corpus), batch)
    val a = fromDisk.collect().map(_.toString).sorted.toSeq
    val b = inMem.collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b)
    indexScanNeverShuffled(fromDisk, dir)
  }

  test("minhash index: parquet round-trip gives identical matches, index never shuffles") {
    val bandsDir = tmpDir("bands"); val sigsDir = tmpDir("sigs")
    val (bands, sigs) = TextQueries.buildMinhashIndex(corpus)
    bands.write.mode("overwrite").parquet(bandsDir)
    sigs.write.mode("overwrite").parquet(sigsDir)
    val fromDisk = TextQueries.probeMinhashIndex(
      spark.read.parquet(bandsDir), spark.read.parquet(sigsDir), batch)
    val inMem = TextQueries.probeMinhashIndex(bands, sigs, batch)
    val a = fromDisk.collect().map(_.toString).sorted.toSeq
    val b = inMem.collect().map(_.toString).sorted.toSeq
    assert(a == b)
    indexScanNeverShuffled(fromDisk, bandsDir)
    indexScanNeverShuffled(fromDisk, sigsDir)
  }

  test("chunk index: parquet round-trip gives identical verdicts, index never shuffles") {
    val dir = tmpDir("chunks")
    TextQueries.buildChunkIndex(corpus).write.mode("overwrite").parquet(dir)
    val reread = spark.read.parquet(dir)
    val fromDisk = TextQueries.probeChunkIndex(reread, TextQueries.chunkRows(batch))
    val inMem = TextQueries.probeChunkIndex(
      TextQueries.buildChunkIndex(corpus), TextQueries.chunkRows(batch))
    val a = fromDisk.collect().map(_.toString).sorted.toSeq
    val b = inMem.collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b)
    indexScanNeverShuffled(fromDisk, dir)
  }

  test("exact probe verdicts partition the batch and point at real keepers") {
    val out = TextQueries.probeExactIndex(TextQueries.buildExactIndex(corpus), batch)
    val n = batch.count()
    assert(out.count() == n) // one verdict per batch doc
    // corpus_dup points into the corpus, batch_dup into the batch,
    // unique nowhere
    assert(out.filter(col("verdict") === "corpus_dup" &&
      !(col("dup_of") % 10 >= 3)).count() == 0)
    assert(out.filter(col("verdict") === "batch_dup" &&
      !(col("dup_of") % 10 < 3)).count() == 0)
    assert(out.filter(col("verdict") === "unique" && col("dup_of").isNotNull).count() == 0)
  }
}
