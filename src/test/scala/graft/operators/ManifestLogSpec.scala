package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Versioned-manifest contract: time travel across appends and
  * compaction, snapshot-pinned pruning parity, crash-orphan
  * invisibility, and vacuum reclaiming exactly the unreferenced files.
  */
class ManifestLogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.01")
    .select("l_orderkey", "l_partkey", "l_quantity")

  test("append/compact write snapshots; every version time-travels exactly; vacuum reclaims") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog").toString
    val keys = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
    val stripe = (kHi - kLo) / 3 + 1
    def slice(i: Int) = li.filter(
      col("l_orderkey").between(kLo + i * stripe, kLo + (i + 1) * stripe - 1))
    def sliceRows(n: Int) = (0 until n).map(slice).reduce(_ union _)
      .collect().map(_.toString).sorted.toSeq

    ManifestLog.write(slice(0), "l_orderkey", dir, files = 4)
    ManifestLog.append(slice(1), "l_orderkey", dir, files = 4)
    ManifestLog.append(slice(2), "l_orderkey", dir, files = 4)
    assert(ManifestLog.versions(spark, dir) == Seq(1, 2, 3))
    // the snapshot's per-file row counts add up to the table
    assert(ManifestLog.snapshot(spark, dir).agg(sum("rows")).head().getLong(0) ==
      sliceRows(3).size)

    // time travel: version v sees exactly the first v slices
    for (v <- 1 to 3) {
      val (df, _, total) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey",
        kLo, kHi, version = v)
      assert(df.collect().map(_.toString).sorted.toSeq == sliceRows(v), s"v$v data")
      assert(total == 4 * v, s"v$v file count")
    }

    // pinned pruning: a narrow range at v2 skips most of v2's files
    val (pruned, survivors, total2) = ManifestLog.readPrunedAt(spark, dir,
      "l_orderkey", kLo, kLo + stripe / 5, version = 2)
    val expectNarrow = slice(0)
      .filter(col("l_orderkey") <= kLo + stripe / 5)
      .collect().map(_.toString).sorted.toSeq
    assert(pruned.collect().map(_.toString).sorted.toSeq == expectNarrow)
    assert(total2 == 8 && survivors * 3 <= total2, s"$survivors/$total2 survived")
    // a range past every file's keys prunes to zero files and zero rows
    val (none, s0, _) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey",
      kHi + 1000, kHi + 2000)
    assert(s0 == 0 && none.count() == 0)
    // a column with no zone map keeps every file: its predicate is
    // never checked against the key's bounds
    val (pk, pkSurv, pkTotal) = ManifestLog.readPrunedAt(spark, dir, "l_partkey", 1L, 50L)
    assert(pk.collect().map(_.toString).sorted.toSeq ==
      (0 until 3).map(slice).reduce(_ union _).filter(col("l_partkey").between(1L, 50L))
        .collect().map(_.toString).sorted.toSeq && pkSurv == pkTotal)

    // compaction: v4 swaps the 12 small files for 2, data identical to
    // v3; v3 still resolves because the originals stay on disk
    val target = li.count() / 2 + 1
    val (gone, born) = ManifestLog.compact(spark, dir, "l_orderkey", target)
    assert(gone == 12 && born == 2)
    val (v4, _, t4) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey", kLo, kHi)
    assert(v4.collect().map(_.toString).sorted.toSeq == sliceRows(3) && t4 == 2)
    val (v3, _, t3) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey", kLo, kHi, 3)
    assert(v3.collect().map(_.toString).sorted.toSeq == sliceRows(3) && t3 == 12)
    // the repack kept range clustering: a narrow range reads 1 of 2 files
    val (narrow4, s4, _) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey",
      kLo, kLo + stripe / 5)
    assert(narrow4.collect().map(_.toString).sorted.toSeq == expectNarrow && s4 == 1)
    // settled files are never rewritten: a tiny target compacts nothing
    assert(ManifestLog.compact(spark, dir, "l_orderkey", targetRows = 2) == ((0, 0)))

    // a crashed append = data files with no snapshot: invisible to the
    // latest reader, reclaimed by vacuum
    slice(0).limit(100).coalesce(1).write.mode("append").parquet(dir)
    val (afterOrphan, _, _) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey", kLo, kHi)
    assert(afterOrphan.collect().map(_.toString).sorted.toSeq == sliceRows(3),
      "orphan files leaked into a snapshot read")

    // vacuum(retain=1): the 12 originals + the orphan go; v4 survives
    val deleted = ManifestLog.vacuum(spark, dir, retain = 1, minAgeMs = 0L)
    assert(deleted == 13, s"deleted $deleted, expected 12 originals + 1 orphan")
    assert(ManifestLog.versions(spark, dir) == Seq(4))
    val (postVac, _, _) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey", kLo, kHi)
    assert(postVac.collect().map(_.toString).sorted.toSeq == sliceRows(3))
    // the vacuumed version is gone, loudly
    intercept[Exception] {
      ManifestLog.readPrunedAt(spark, dir, "l_orderkey", kLo, kHi, 3)._1.collect()
    }
  }

  test("merge rewrites only stat-affected files; upsert semantics exact; old version isolated") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge").toString
    ManifestLog.write(li, "l_orderkey", dir, files = 16)

    // updates: bump quantity for a NARROW key band + two brand-new keys
    val keys = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
    val bandHi = kLo + (kHi - kLo) / 16
    val changed = li.filter(col("l_orderkey").between(kLo, bandHi))
      .withColumn("l_quantity", col("l_quantity") + 1000.0)
    val inserted = spark.range(2)
      .select((col("id") + kHi + 1).as("l_orderkey"),
        lit(1L).as("l_partkey"), lit(7.0).as("l_quantity"))
    val updates = changed.unionByName(inserted)

    val beforeRows = li.collect().map(_.toString).sorted.toSeq
    val (rewritten, kept) = ManifestLog.merge(updates, "l_orderkey", dir, files = 2)
    // selectivity: the narrow band must NOT touch the whole table
    assert(rewritten >= 1 && kept >= 1, s"rewritten=$rewritten kept=$kept")
    assert(rewritten < rewritten + kept)

    // upsert semantics: old rows of updated keys gone, updates present,
    // untouched rows identical
    val expected = (li.join(updates.select("l_orderkey").distinct(),
        Seq("l_orderkey"), "left_anti").collect() ++ updates.collect())
      .map(_.toString).sorted.toSeq
    val got = ManifestLog.snapshot(spark, dir).collect().map(_.getString(0))
    val gotRows = spark.read.parquet(got.toIndexedSeq: _*)
      .collect().map(_.toString).sorted.toSeq
    assert(gotRows == expected)

    // time travel: v1 still reads the pre-merge table byte-for-byte
    val v1Files = ManifestLog.snapshot(spark, dir, 1).collect().map(_.getString(0))
    val v1Rows = spark.read.parquet(v1Files.toIndexedSeq: _*)
      .collect().map(_.toString).sorted.toSeq
    assert(v1Rows == beforeRows)

    // CDC: diff v1 -> v2 scans only the symmetric-difference files and
    // returns exactly (the updates, the replaced old rows)
    val (added, removed) = ManifestLog.diff(spark, dir, 1, 2)
    assert(added.collect().map(_.toString).sorted.toSeq ==
      updates.collect().map(_.toString).sorted.toSeq)
    assert(removed.collect().map(_.toString).sorted.toSeq ==
      li.filter(col("l_orderkey").between(kLo, bandHi))
        .collect().map(_.toString).sorted.toSeq)

    // vacuum to latest reclaims the replaced files
    val deleted = ManifestLog.vacuum(spark, dir, retain = 1, minAgeMs = 0L)
    assert(deleted == rewritten, s"deleted=$deleted rewritten=$rewritten")
    val after = spark.read.parquet(
      ManifestLog.snapshot(spark, dir).collect().map(_.getString(0)).toIndexedSeq: _*)
      .collect().map(_.toString).sorted.toSeq
    assert(after == expected)
  }

  test("streaming upsert cadence: foreachBatch merge per micro-batch equals sequential batch merges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = li
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-stream").toString
    ManifestLog.write(base, "l_orderkey", dir, files = 8)

    // three update waves: overlapping narrow key bands, bumped amounts
    val keys = base.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
    val span = (kHi - kLo) / 8 + 1
    def wave(i: Int) = base
      .filter(col("l_orderkey").between(kLo + i * span, kLo + (i + 1) * span - 1))
      .withColumn("l_quantity", col("l_quantity") + lit((i + 1) * 1000.0))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toIndexedSeq
    val waves = (0 until 3).map(wave)

    val mem = MemoryStream[(Long, Long, Double)]
    val q = mem.toDF().toDF("l_orderkey", "l_partkey", "l_quantity")
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        ManifestLog.merge(df, "l_orderkey", dir, files = 2); ()
      }
      .start()
    try waves.foreach { w => mem.addData(w); q.processAllAvailable() }
    finally q.stop()
    assert(ManifestLog.versions(spark, dir) == (1 to 4))

    // reference: the same three merges applied in batch mode
    val refDir = java.nio.file.Files.createTempDirectory("graft-merge-ref").toString
    ManifestLog.write(base, "l_orderkey", refDir, files = 8)
    waves.foreach(w => ManifestLog.merge(
      w.toDF("l_orderkey", "l_partkey", "l_quantity"), "l_orderkey", refDir, files = 2))
    def tableAt(p: String): Seq[String] =
      spark.read.parquet(ManifestLog.snapshot(spark, p).collect()
        .map(_.getString(0)).toIndexedSeq: _*)
        .collect().map(_.toString).sorted.toSeq
    assert(tableAt(dir) == tableAt(refDir))
  }

  test("streaming erasure cadence: foreachBatch delete per micro-batch equals sequential batch deletes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = li
    val dir = java.nio.file.Files.createTempDirectory("graft-del-stream").toString
    ManifestLog.write(base, "l_orderkey", dir, files = 8)

    // three erasure waves of disjoint narrow key bands (the takedown
    // queue a compliance pipeline drains)
    val keys = base.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
    val span = (kHi - kLo) / 12 + 1
    def wave(i: Int) = base.select("l_orderkey").distinct()
      .filter(col("l_orderkey").between(kLo + i * span, kLo + (i + 1) * span - 1))
      .collect().map(_.getLong(0)).toIndexedSeq
    val waves = (0 until 3).map(wave)

    val mem = MemoryStream[Long]
    val q = mem.toDF().toDF("l_orderkey")
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        ManifestLog.delete(df, "l_orderkey", dir, files = 2); ()
      }
      .start()
    try waves.foreach { w => mem.addData(w); q.processAllAvailable() }
    finally q.stop()
    assert(ManifestLog.versions(spark, dir) == (1 to 4))

    val refDir = java.nio.file.Files.createTempDirectory("graft-del-ref").toString
    ManifestLog.write(base, "l_orderkey", refDir, files = 8)
    waves.foreach(w => ManifestLog.delete(
      w.toDF("l_orderkey"), "l_orderkey", refDir, files = 2))
    def tableAt(p: String): Seq[String] =
      spark.read.parquet(ManifestLog.snapshot(spark, p).collect()
        .map(_.getString(0)).toIndexedSeq: _*)
        .collect().map(_.toString).sorted.toSeq
    val got = tableAt(dir)
    assert(got == tableAt(refDir))
    val erased = waves.flatten.toSet
    assert(got.nonEmpty && base.collect().count(r => erased(r.getLong(0))) > 0)
  }

  test("streaming MOR erasure cadence: foreachBatch deleteMor per micro-batch equals COW deletes; replay is a no-op; compact+vacuum finishes the erasure") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = li
    val dir = java.nio.file.Files.createTempDirectory("graft-mor-stream").toString
    ManifestLog.write(base, "l_orderkey", dir, files = 8)
    val keys = base.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
    val span = (kHi - kLo) / 12 + 1
    def wave(i: Int) = base.select("l_orderkey").distinct()
      .filter(col("l_orderkey").between(kLo + i * span, kLo + (i + 1) * span - 1))
      .collect().map(_.getLong(0)).toIndexedSeq
    val waves = (0 until 3).map(wave)

    val mem = MemoryStream[Long]
    val q = mem.toDF().toDF("l_orderkey")
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        ManifestLog.deleteMor(df, "l_orderkey", dir); ()
      }
      .start()
    try waves.foreach { w => mem.addData(w); q.processAllAvailable() }
    finally q.stop()
    // each wave is one metadata-only version; no data file ever rewrote
    assert(ManifestLog.versions(spark, dir) == (1 to 4))
    val filesNow = ManifestLog.snapshot(spark, dir).collect().map(_.getString(0)).toSet
    assert(filesNow == ManifestLog.snapshot(spark, dir, 1).collect()
      .map(_.getString(0)).toSet, "streamed MOR delete rewrote data files")
    // content equals the COW-erasure reference
    val refDir = java.nio.file.Files.createTempDirectory("graft-mor-ref").toString
    ManifestLog.write(base, "l_orderkey", refDir, files = 8)
    waves.foreach(w => ManifestLog.delete(
      w.toDF("l_orderkey"), "l_orderkey", refDir, files = 2))
    def content(p: String): Seq[String] =
      ManifestLog.read(spark, p).collect().map(_.toString).sorted.toSeq
    assert(content(dir) == content(refDir))
    // an at-least-once REPLAY of the last wave (mid-batch crash's
    // worst case) deletes 0 rows and publishes no version
    val vBefore = ManifestLog.versions(spark, dir)
    assert(ManifestLog.deleteMor(
      waves(2).toDF("l_orderkey"), "l_orderkey", dir) == ((0, 0L)))
    assert(ManifestLog.versions(spark, dir) == vBefore)
    // the compliance window closes: compact applies the tombstones,
    // vacuum destroys the bytes, content unchanged
    val before = content(dir)
    ManifestLog.compact(spark, dir, "l_orderkey", targetRows = 2L * base.count())
    assert(ManifestLog.vacuum(spark, dir, retain = 1, minAgeMs = 0L) > 0)
    assert(content(dir) == before)
    assert(ManifestLog.snapshot(spark, dir).collect().forall(_.getString(4) == null))
  }

  test("DML cadence survives kill/restart from checkpoint; a replayed wave is content-idempotent") {
    import java.nio.file.{Files, StandardCopyOption}
    val base = li
    val dir = Files.createTempDirectory("graft-dml-restart").toString
    ManifestLog.write(base, "l_orderkey", dir, files = 4)
    val keys = base.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
    val span = (kHi - kLo) / 8 + 1
    def wave(i: Int) = base
      .filter(col("l_orderkey").between(kLo + i * span, kLo + (i + 1) * span - 1))
      .withColumn("l_quantity", col("l_quantity") + lit((i + 1) * 1000.0))
    def lines(i: Int) = wave(i).collect().map(r =>
      s"""{"l_orderkey":${r.getLong(0)},"l_partkey":${r.getLong(1)},"l_quantity":${r.getDouble(2)}}""").toSeq

    val root = Files.createTempDirectory("graft-dml-src")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    val ckpt = root.resolve("ckpt").toString
    def publish(i: Int): Unit = {
      val tmp = root.resolve(s"c$i.tmp")
      Files.writeString(tmp, lines(i).mkString("", "\n", "\n"))
      Files.move(tmp, srcDir.resolve(s"c$i.json"), StandardCopyOption.ATOMIC_MOVE)
    }
    def startLife() = spark.readStream
      .schema("l_orderkey LONG, l_partkey LONG, l_quantity DOUBLE")
      .option("maxFilesPerTrigger", 1).json(srcDir.toString)
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        ManifestLog.merge(df, "l_orderkey", dir, files = 2); ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    publish(0); publish(1)
    val q1 = startLife(); q1.processAllAvailable(); q1.stop()
    publish(2); publish(3)
    val q2 = startLife(); q2.processAllAvailable(); q2.stop()

    def tableAt(p: String): Seq[String] =
      spark.read.parquet(ManifestLog.snapshot(spark, p).collect()
        .map(_.getString(0)).toIndexedSeq: _*)
        .collect().map(_.toString).sorted.toSeq
    // checkpoint resume applied each wave exactly once across the kill
    val refDir = Files.createTempDirectory("graft-dml-ref").toString
    ManifestLog.write(base, "l_orderkey", refDir, files = 4)
    (0 until 4).foreach(i => ManifestLog.merge(wave(i), "l_orderkey", refDir, files = 2))
    assert(ManifestLog.versions(spark, dir) == (1 to 5))
    assert(tableAt(dir) == tableAt(refDir))
    // and an at-least-once REPLAY of the last wave (a mid-batch crash's
    // worst case) is content-idempotent: a new version, the same rows
    val before = tableAt(dir)
    ManifestLog.merge(wave(3), "l_orderkey", dir, files = 2)
    assert(ManifestLog.currentVersion(spark, dir) == 6)
    assert(tableAt(dir) == before)
  }

  test("streaming foreachBatch appends write one snapshot per micro-batch; versions time-travel") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_quantity").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toIndexedSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-stream").toString
    val mem = MemoryStream[(Long, Double)]
    val q = mem.toDF().toDF("l_orderkey", "l_quantity")
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        if (bid == 0L) ManifestLog.write(df, "l_orderkey", dir, files = 4)
        else ManifestLog.append(df, "l_orderkey", dir, files = 4)
      }
      .start()
    val chunks = rows.grouped(rows.length / 3 + 1).toIndexedSeq
    try chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
    finally q.stop()
    assert(ManifestLog.versions(spark, dir) == (1 to chunks.length))
    // every micro-batch's snapshot still resolves to exactly its prefix,
    // and a narrow pruned read of it stays exact
    val narrowHi = rows.head._1 + (rows.last._1 - rows.head._1) / 10
    for (v <- 1 to chunks.length) {
      val (df, _, _) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey",
        rows.head._1, rows.last._1, version = v)
      assert(df.count() == chunks.take(v).map(_.size).sum, s"v$v prefix")
      val (narrow, _, _) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey",
        rows.head._1, narrowHi, version = v)
      assert(narrow.count() == chunks.take(v).flatten.count(_._1 <= narrowHi), s"v$v narrow")
    }
  }

  test("two concurrent appends both survive the version CAS; versions stay linear") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-cas").toString
    val base = li.filter(col("l_orderkey") % 3 === 0)
    val a = li.filter(col("l_orderkey") % 3 === 1)
    val b = li.filter(col("l_orderkey") % 3 === 2)
    ManifestLog.write(base, "l_orderkey", dir, files = 4)

    // interleave for real: both appenders race from v1 on two threads;
    // the CAS loser must re-read the winner's head and re-commit on top
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def appendTask(df: org.apache.spark.sql.DataFrame) = pool.submit(new Runnable {
      def run(): Unit = {
        gate.await()
        try ManifestLog.append(df, "l_orderkey", dir, files = 2)
        catch { case t: Throwable => errs.add(t) }
      }
    })
    val fa = appendTask(a)
    val fb = appendTask(b)
    gate.countDown()
    fa.get(); fb.get(); pool.shutdown()
    assert(errs.isEmpty, s"append threw: ${errs.peek()}")

    // linear versions, no lost update: v3 holds ALL of base∪a∪b
    assert(ManifestLog.versions(spark, dir) == Seq(1, 2, 3))
    val keys = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (v3, _, _) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey",
      keys.getLong(0), keys.getLong(1))
    assert(v3.count() == li.count(), "a concurrent append lost rows")
    // and the intermediate v2 is exactly base plus ONE of the batches
    val (v2, _, _) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey",
      keys.getLong(0), keys.getLong(1), version = 2)
    val n2 = v2.count()
    assert(n2 == base.count() + a.count() || n2 == base.count() + b.count())
  }

  test("four concurrent appenders all survive under CAS contention; versions linear, union exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-cas4").toString
    val parts = (0 until 5).map(i => li.filter(col("l_orderkey") % 5 === i))
    ManifestLog.write(parts(0), "l_orderkey", dir, files = 2)
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(4)
    val gate = new CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val fs = (1 to 4).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          gate.await()
          try ManifestLog.append(parts(i), "l_orderkey", dir, files = 2)
          catch { case t: Throwable => errs.add(t) }
        }
      })
    }
    gate.countDown(); fs.foreach(_.get()); pool.shutdown()
    assert(errs.isEmpty, s"append threw: ${errs.peek()}")
    assert(ManifestLog.versions(spark, dir) == Seq(1, 2, 3, 4, 5))
    val keys = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (head, _, _) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey",
      keys.getLong(0), keys.getLong(1))
    assert(head.count() == li.count(), "a batch was lost or duplicated under contention")
  }

  test("merge fan-out scales with rewrite volume; pruning parity preserved") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-fan").toString
    ManifestLog.write(li, "l_orderkey", dir, files = 4)
    // an upsert touching the whole key range with targetRows far below
    // the carried volume must fan out proportionally, not squeeze into
    // the legacy 8 files
    val updates = li.withColumn("l_quantity", col("l_quantity") + 1000.0)
    val target = li.count() / 16 + 1
    val (rewritten, _) = ManifestLog.merge(updates, "l_orderkey", dir,
      targetRows = target)
    assert(rewritten == 4)
    val snap = ManifestLog.snapshot(spark, dir).collect()
    assert(snap.length >= 12, s"merge wrote only ${snap.length} files for ~16 targets")
    // range clustering held: a narrow slice still prunes most files
    val keys = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
    val (pruned, survivors, total) = ManifestLog.readPrunedAt(spark, dir,
      "l_orderkey", kLo, kLo + (kHi - kLo) / 8)
    assert(survivors * 3 <= total, s"$survivors/$total survived a 1/8 slice")
    val expect = updates.filter(col("l_orderkey").between(kLo, kLo + (kHi - kLo) / 8))
    assert(pruned.count() == expect.count())
  }

  test("schema evolution: an appended column reads as NULL on old files; merge composes schemas; time travel keeps the old shape") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-evo").toString
    val base = li.select("l_orderkey", "l_quantity")
    ManifestLog.write(base.filter(col("l_orderkey") % 2 === 0), "l_orderkey", dir, files = 2)
    // v2 appends rows CARRYING A NEW COLUMN
    val widened = base.filter(col("l_orderkey") % 2 === 1)
      .withColumn("l_note", concat(lit("n"), col("l_orderkey")))
    ManifestLog.append(widened, "l_orderkey", dir, files = 2)

    val keys = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
    // latest read: the union schema, nulls on pre-evolution rows
    val (v2, _, _) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey", kLo, kHi)
    assert(v2.columns.toSet == Set("l_orderkey", "l_quantity", "l_note"))
    val byParity = v2.groupBy((col("l_orderkey") % 2).as("p"))
      .agg(count(lit(1)).as("n"), sum(col("l_note").isNull.cast("long")).as("nulls"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byParity(0)._1 == byParity(0)._2, "old rows must read NULL l_note")
    assert(byParity(1)._2 == 0L, "appended rows must keep their l_note")
    // time travel: v1 still has the ORIGINAL shape
    val (v1, _, _) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey", kLo, kHi, version = 1)
    assert(v1.columns.toSet == Set("l_orderkey", "l_quantity"))
    // CDC across the evolution boundary aligns schemas instead of erroring
    val (added, removed) = ManifestLog.diff(spark, dir, 1, 2)
    assert(added.count() == widened.count() && removed.count() == 0)
    // merge with the widened schema: rewritten v1 rows gain a NULL note
    val upd = base.filter(col("l_orderkey") % 2 === 0).limit(50)
      .withColumn("l_quantity", col("l_quantity") + 500.0)
      .withColumn("l_note", lit("upd"))
    ManifestLog.merge(upd, "l_orderkey", dir)
    val (v3, _, _) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey", kLo, kHi)
    assert(v3.filter(col("l_note") === "upd").count() == 50)
    // upsert-by-key: every pre-existing row of an updated key is gone
    val updKeys = upd.select("l_orderkey").distinct()
    val replaced = v2.join(updKeys, Seq("l_orderkey"), "left_semi").count()
    assert(v3.count() == v2.count() - replaced + 50)
    assert(v3.join(updKeys, Seq("l_orderkey"), "left_semi")
      .filter(col("l_note").isNull || col("l_note") =!= "upd").count() == 0)
  }

  test("schema evolution: widened types (int->long, float->double) align at read; time travel keeps old types; CDC aligns; lossy widening refused") {
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-widen").toString
    // v1: INT key, FLOAT measure (halves — exact in float AND double,
    // so the widening cast preserves every value bit-for-bit)
    ManifestLog.write((1 to 100).map(i => (i, i.toFloat / 2)).toDF("k", "x"),
      "k", dir, files = 2)
    // v2 appends rows with k LONG and x DOUBLE — the widened shape
    ManifestLog.append((101L to 200L).map(i => (i, i.toDouble / 2)).toDF("k", "x"),
      "k", dir, files = 2)
    // latest read: ONE widened schema; old int32/float files upcast in
    // place (no rewrite), every value preserved
    val (all, _, _) = ManifestLog.readPrunedAt(spark, dir, "k", 1L, 200L)
    assert(all.schema("k").dataType == LongType &&
      all.schema("x").dataType == DoubleType, all.schema.simpleString)
    assert(all.count() == 200)
    assert(all.agg(sum("k")).head().getLong(0) == (1L to 200L).sum)
    assert(all.agg(sum("x")).head().getDouble(0) == (1 to 200).map(_.toDouble / 2).sum)
    // time travel: v1 keeps the ORIGINAL types (one schema group —
    // the fast path never widens what it doesn't have to)
    val (v1r, _, _) = ManifestLog.readPrunedAt(spark, dir, "k", 1, 100, version = 1)
    assert(v1r.schema("k").dataType == IntegerType &&
      v1r.schema("x").dataType == FloatType, v1r.schema.simpleString)
    assert(v1r.count() == 100)
    // CDC across the widening boundary aligns instead of erroring
    val (added, removed) = ManifestLog.diff(spark, dir, 1, 2)
    assert(added.count() == 100 && removed.count() == 0)
    // merge with widened updates: rewrites a narrow file, composes the
    // manifest (mixed int/long lo-hi harmonize to long), upsert exact
    ManifestLog.merge(Seq((50L, 999.0)).toDF("k", "x"), "k", dir)
    val (v3r, _, _) = ManifestLog.readPrunedAt(spark, dir, "k", 1L, 200L)
    assert(v3r.filter(col("x") === 999.0).count() == 1 && v3r.count() == 200)
    // zone-map pruning still works over the mixed-type manifest
    val (pruned, surv, tot) = ManifestLog.readPrunedAt(spark, dir, "k", 150L, 160L)
    assert(pruned.count() == 11 && surv < tot, s"$surv/$tot survived")
    // long->double is LOSSY (integers past 2^53) — refused loudly,
    // like any other incompatible evolution
    intercept[Exception] {
      ManifestLog.append(Seq((300.5, 1.0)).toDF("k", "x"), "k", dir)
    }
    // the refusal left no new version behind
    assert(ManifestLog.versions(spark, dir) == Seq(1, 2, 3))
  }

  test("delete drops exactly the keyed rows file-locally; vacuum destroys the bytes; old version still resolves") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-del").toString
    ManifestLog.write(li, "l_orderkey", dir, files = 8)
    val keys = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
    // erase a narrow key band: only the files whose range holds it
    // rewrite, the rest carry by reference
    val band = li.select("l_orderkey").distinct()
      .filter(col("l_orderkey").between(kLo, kLo + (kHi - kLo) / 10))
    val bandRows = li.join(band, Seq("l_orderkey"), "left_semi").count()
    val total = li.count()
    val (rewritten, deleted) = ManifestLog.delete(band, "l_orderkey", dir)
    assert(deleted == bandRows && rewritten >= 1 && rewritten <= 3,
      s"rewrote $rewritten files, deleted $deleted of expected $bandRows")
    val (v2, _, _) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey", kLo, kHi)
    assert(v2.count() == total - bandRows)
    assert(v2.join(band, Seq("l_orderkey"), "left_semi").count() == 0,
      "deleted keys still readable at the head")
    // the pinned pre-delete version still sees them (until vacuum)
    val (v1, _, _) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey", kLo, kHi, version = 1)
    assert(v1.count() == total)
    // erasure completes with vacuum: pre-delete snapshots and their
    // bytes are gone, the head is untouched
    assert(ManifestLog.vacuum(spark, dir, retain = 1, minAgeMs = 0L) == rewritten)
    assert(ManifestLog.versions(spark, dir) == Seq(2))
    intercept[Exception] {
      ManifestLog.readPrunedAt(spark, dir, "l_orderkey", kLo, kHi, 1)._1.collect()
    }
    // deleting keys no file holds is a no-op (no new version)
    val none = spark.range(1).select((lit(kHi) + 100000L).as("l_orderkey"))
    assert(ManifestLog.delete(none, "l_orderkey", dir) == ((0, 0L)))
    assert(ManifestLog.versions(spark, dir) == Seq(2))
  }

  test("two concurrent merges on the same keys: one composes or the loser throws; no lost or duplicated rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-mm").toString
    ManifestLog.write(li, "l_orderkey", dir, files = 4)
    val keys = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
    val band = li.filter(col("l_orderkey").between(kLo, kLo + (kHi - kLo) / 10))
    val updA = band.withColumn("l_quantity", lit(111.0))
    val updB = band.withColumn("l_quantity", lit(222.0))
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def mergeTask(df: org.apache.spark.sql.DataFrame) = pool.submit(new Runnable {
      def run(): Unit = {
        gate.await()
        try ManifestLog.merge(df, "l_orderkey", dir)
        catch {
          case _: IllegalStateException => conflicts.incrementAndGet()
          case t: Throwable => errs.add(t)
        }
      }
    })
    val fa = mergeTask(updA)
    val fb = mergeTask(updB)
    gate.countDown()
    fa.get(); fb.get(); pool.shutdown()
    assert(errs.isEmpty, s"unexpected failure: ${errs.peek()}")
    // serializable outcomes only: both applied in some order, or the
    // loser detected the overlapping rewrite and threw the retryable
    // conflict — never a silent last-writer-wins
    val (head, _, _) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey", kLo, kHi)
    assert(head.count() == li.count(), "rows lost or duplicated")
    val qs = head.join(band.select("l_orderkey").distinct(), Seq("l_orderkey"), "left_semi")
      .select("l_quantity").distinct().collect().map(_.getDouble(0)).toSet
    if (conflicts.get() == 0) {
      assert(ManifestLog.versions(spark, dir) == Seq(1, 2, 3))
      assert(qs == Set(111.0) || qs == Set(222.0), s"mixed update values: $qs")
    } else {
      assert(conflicts.get() == 1, "both merges failed")
      assert(ManifestLog.versions(spark, dir) == Seq(1, 2))
      assert(qs == Set(111.0) || qs == Set(222.0), s"mixed update values: $qs")
    }
  }

  test("restore publishes an old snapshot as a new version; history intact; vacuum honors the restored head") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-restore").toString
    val keys = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
    ManifestLog.write(li, "l_orderkey", dir, files = 4)
    // v2: a destructive-looking merge bumps every quantity
    ManifestLog.merge(li.withColumn("l_quantity", col("l_quantity") + 9999.0),
      "l_orderkey", dir)
    def rows(v: Int) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey", kLo, kHi, v)
      ._1.collect().map(_.toString).sorted.toSeq
    val v1Rows = rows(1)
    assert(rows(2) != v1Rows)
    // v3 = restore to v1: pure metadata, the bad merge stays readable
    assert(ManifestLog.restore(spark, dir, 1) == 3)
    assert(ManifestLog.versions(spark, dir) == Seq(1, 2, 3))
    assert(rows(3) == v1Rows, "restored head must equal the target snapshot")
    assert(rows(2) != v1Rows, "history must not be rewritten")
    // vacuum(retain=1) keeps the restored head's files (they are v1's
    // original files, still referenced by the new head) and reclaims
    // the bad merge's rewrite
    val deleted = ManifestLog.vacuum(spark, dir, retain = 1, minAgeMs = 0L)
    assert(deleted > 0)
    assert(ManifestLog.readPrunedAt(spark, dir, "l_orderkey", kLo, kHi)
      ._1.collect().map(_.toString).sorted.toSeq == v1Rows)
  }

  test("merge rejects NULL keys and a mismatched stats column, loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-guard").toString
    ManifestLog.write(li, "l_orderkey", dir, files = 2)
    // null keys would silently duplicate on every merge — refused
    val withNull = li.limit(5)
      .withColumn("l_orderkey", when(col("l_partkey") % 2 === 0, col("l_orderkey")))
    intercept[IllegalArgumentException] {
      ManifestLog.merge(withNull, "l_orderkey", dir)
    }
    // keying a merge/append/compact on a different column than the
    // table was built with mis-detects affected files — refused
    intercept[IllegalArgumentException] {
      ManifestLog.merge(li.limit(5), "l_partkey", dir)
    }
    intercept[IllegalArgumentException] {
      ManifestLog.append(li.limit(5), "l_partkey", dir)
    }
    intercept[IllegalArgumentException] {
      ManifestLog.compact(spark, dir, "l_partkey", 10L)
    }
    // the table is untouched by all four refusals
    assert(ManifestLog.versions(spark, dir) == Seq(1))
  }

  test("vacuum retention window: young unreferenced files survive (in-flight commit safety); aged ones go") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-age").toString
    ManifestLog.write(li.limit(200), "l_orderkey", dir, files = 2)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a "crashed or in-flight commit": data batch + snapshot payload
    // that no pointer references — at vacuum time these are
    // indistinguishable from a commit whose pointer CAS is about to
    // land, so the default retention window must spare them
    li.limit(50).coalesce(1).write.parquet(s"$dir/b-inflight")
    li.limit(3).coalesce(1).write.parquet(s"$dir/_mlog/s-inflight")
    assert(ManifestLog.vacuum(spark, dir, retain = 1) == 0,
      "default retention reclaimed young unreferenced files")
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$dir/b-inflight")))
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$dir/_mlog/s-inflight")))
    // age everything unreferenced past the window; now it is a true
    // crash orphan and the same sweep reclaims data AND payload
    val old = System.currentTimeMillis() - ManifestLog.DefaultVacuumRetentionMs - 60000L
    def ageTree(p: org.apache.hadoop.fs.Path): Unit = {
      f.setTimes(p, old, -1)
      if (f.getFileStatus(p).isDirectory) f.listStatus(p).foreach(s => ageTree(s.getPath))
    }
    ageTree(new org.apache.hadoop.fs.Path(s"$dir/b-inflight"))
    ageTree(new org.apache.hadoop.fs.Path(s"$dir/_mlog/s-inflight"))
    assert(ManifestLog.vacuum(spark, dir, retain = 1) >= 1)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/b-inflight")))
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/_mlog/s-inflight")))
    // the table read is untouched throughout
    assert(ManifestLog.snapshot(spark, dir).count() >= 1)
  }

  test("vacuum with the default retention window is safe under a concurrent appender") {
    // the round-15 ADVICE scenario: vacuum racing an in-flight commit
    // must not delete the commit's just-written (unreferenced-for-a-
    // moment) data files. With the age window, young files are spared;
    // retain covers the appender's head reads.
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-race").toString
    ManifestLog.write(li.limit(300), "l_orderkey", dir, files = 2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t = new Thread(() => try {
      (1 to 5).foreach { _ =>
        ManifestLog.append(li.limit(40), "l_orderkey", dir, files = 1)
      }
    } catch { case e: Throwable => errs.add(e) })
    t.start()
    (1 to 5).foreach { _ =>
      ManifestLog.vacuum(spark, dir, retain = 3)
      Thread.sleep(15)
    }
    t.join()
    assert(errs.isEmpty, s"appender failed under concurrent vacuum: ${errs.peek()}")
    // no appended batch lost a file to the sweeps
    val total = ManifestLog.snapshot(spark, dir)
      .agg(sum("rows")).head().getLong(0)
    assert(total == 300L + 5 * 40, s"rows after race: $total")
    val table = spark.read.parquet(ManifestLog.snapshot(spark, dir)
      .collect().map(_.getString(0)).toIndexedSeq: _*)
    assert(table.count() == 300L + 5 * 40)
  }

  test("MOR delete: tombstones without rewriting, repeated deletes compose, CDC sees exactly the newly dead rows, compact purges, vacuum destroys") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-mor").toString
    ManifestLog.write(li, "l_orderkey", dir, files = 8)
    val keys = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
    val tenth = (kHi - kLo) / 10
    def band(i: Int) = li.select("l_orderkey").distinct()
      .filter(col("l_orderkey").between(kLo + i * tenth, kLo + (i + 1) * tenth - 1))
    def bandRows(i: Int) = li.join(band(i), Seq("l_orderkey"), "left_semi").count()
    val total = li.count()
    val filesV1 = ManifestLog.snapshot(spark, dir).collect().map(_.getString(0)).toSet

    val (repointed, deleted) = ManifestLog.deleteMor(band(0), "l_orderkey", dir)
    assert(deleted == bandRows(0) && repointed >= 1,
      s"repointed $repointed, deleted $deleted of expected ${bandRows(0)}")
    // NO data file was rewritten — that is the whole point
    val snapV2 = ManifestLog.snapshot(spark, dir).collect()
    assert(snapV2.map(_.getString(0)).toSet == filesV1, "MOR delete rewrote data files")
    assert(snapV2.count(_.getString(4) != null) == repointed)
    // reads apply the DV; the pinned pre-delete version does not
    assert(ManifestLog.read(spark, dir).count() == total - bandRows(0))
    assert(ManifestLog.read(spark, dir)
      .join(band(0), Seq("l_orderkey"), "left_semi").count() == 0)
    assert(ManifestLog.read(spark, dir, version = 1).count() == total)
    // pruned scan parity under DVs
    val (pruned, _, _) = ManifestLog.readPrunedAt(spark, dir, "l_orderkey", kLo, kHi)
    assert(pruned.count() == total - bandRows(0))
    // deleting the same keys again is a no-op: already-dead rows don't recount
    val vBefore = ManifestLog.versions(spark, dir)
    assert(ManifestLog.deleteMor(band(0), "l_orderkey", dir) == ((0, 0L)))
    assert(ManifestLog.versions(spark, dir) == vBefore)
    // a second band COMPOSES: cumulative tombstones, still no rewrite
    val (_, deleted2) = ManifestLog.deleteMor(band(2), "l_orderkey", dir)
    assert(deleted2 == bandRows(2))
    assert(ManifestLog.snapshot(spark, dir).collect()
      .map(_.getString(0)).toSet == filesV1)
    assert(ManifestLog.read(spark, dir).count() == total - bandRows(0) - bandRows(2))
    // CDC keyed on (file, dv): each boundary shows exactly ITS newly
    // dead rows as removed, nothing added, nothing recounted
    val (add1, rem1) = ManifestLog.diff(spark, dir, 1, 2)
    assert(add1.count() == 0 && rem1.count() == bandRows(0))
    val (add2, rem2) = ManifestLog.diff(spark, dir, 2, 3)
    assert(add2.count() == 0 && rem2.count() == bandRows(2))
    assert(rem2.join(band(0), Seq("l_orderkey"), "left_semi").count() == 0,
      "band-0 rows recounted in the band-2 CDC window")
    // compact turns the tombstones into a physical purge
    val headContent = ManifestLog.read(spark, dir).orderBy("l_orderkey", "l_partkey", "l_quantity")
      .collect().toSeq
    val (purged, written) = ManifestLog.compact(spark, dir, "l_orderkey", targetRows = 2L * total)
    assert(purged >= repointed && written >= 1)
    val snapAfter = ManifestLog.snapshot(spark, dir).collect()
    assert(snapAfter.forall(_.getString(4) == null), "compact left a dv pointer")
    // the RAW files (no DV applied) no longer hold the dead rows
    val raw = spark.read.parquet(snapAfter.map(_.getString(0)).toIndexedSeq: _*)
    assert(raw.count() == total - bandRows(0) - bandRows(2))
    assert(ManifestLog.read(spark, dir).orderBy("l_orderkey", "l_partkey", "l_quantity")
      .collect().toSeq == headContent, "compaction changed table content")
    // vacuum destroys the replaced bytes AND the now-unreferenced DV batches
    val dvDirs = snapV2.flatMap(r => Option(r.getString(4))).toSet ++
      ManifestLog.snapshot(spark, dir, 3).collect().flatMap(r => Option(r.getString(4)))
    assert(dvDirs.nonEmpty)
    assert(ManifestLog.vacuum(spark, dir, retain = 1, minAgeMs = 0L) > 0)
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    dvDirs.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      assert(!fsys.exists(p) ||
        !fsys.listStatus(p).exists(_.getPath.getName.endsWith(".parquet")),
        s"vacuum left tombstone bytes in $d")
    }
    assert(ManifestLog.read(spark, dir).count() == total - bandRows(0) - bandRows(2))
  }

  test("MOR delete interops with COW: merge and delete apply tombstones, dead rows never resurrect, restore revives them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-mor2").toString
    ManifestLog.write(li, "l_orderkey", dir, files = 4)
    val keys = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
    val tenth = (kHi - kLo) / 10
    def band(i: Int) = li.select("l_orderkey").distinct()
      .filter(col("l_orderkey").between(kLo + i * tenth, kLo + (i + 1) * tenth - 1))
    def bandRows(i: Int) = li.join(band(i), Seq("l_orderkey"), "left_semi").count()
    val total = li.count()
    ManifestLog.deleteMor(band(0), "l_orderkey", dir) // v2
    ManifestLog.deleteMor(band(5), "l_orderkey", dir) // v3 — mid-keyspace file
    // COW delete of band 1: with files=4 it shares a file with band
    // 0's tombstones — the rewrite must apply them, and the returned
    // count must not include already-dead rows
    val (_, cowDeleted) = ManifestLog.delete(band(1), "l_orderkey", dir) // v4
    assert(cowDeleted == bandRows(1), s"COW count $cowDeleted vs ${bandRows(1)}")
    val head = ManifestLog.read(spark, dir)
    assert(head.count() == total - bandRows(0) - bandRows(1) - bandRows(5))
    assert(head.join(band(0), Seq("l_orderkey"), "left_semi").count() == 0,
      "MOR-dead rows resurrected by the COW rewrite")
    // merge over keys ADJACENT to band 5: the rewrite hits the file
    // still carrying band 5's tombstones — upsert applies, the dead
    // rows stay dead
    val updKeys = li.select("l_orderkey").distinct()
      .filter(col("l_orderkey").between(kLo + 6 * tenth, kLo + 6 * tenth + tenth / 4))
    val upd = li.join(updKeys, Seq("l_orderkey"), "left_semi")
      .withColumn("l_quantity", lit(999.0))
    ManifestLog.merge(upd, "l_orderkey", dir) // v5
    val afterMerge = ManifestLog.read(spark, dir)
    assert(afterMerge.filter(col("l_quantity") === 999.0).count() == upd.count())
    assert(afterMerge.join(band(5), Seq("l_orderkey"), "left_semi").count() == 0,
      "MOR-dead rows resurrected by merge")
    assert(afterMerge.count() == total - bandRows(0) - bandRows(1) - bandRows(5))
    // restore to v1: everything is back — DVs are snapshot-scoped metadata
    ManifestLog.restore(spark, dir, 1)
    assert(ManifestLog.read(spark, dir).count() == total)
    // restore forward to v3: bands 0+5 dead again, via the RESTORED dv pointers
    ManifestLog.restore(spark, dir, 3)
    assert(ManifestLog.read(spark, dir).count() == total - bandRows(0) - bandRows(5))
  }

  test("two concurrent MOR deletes on overlapping files: the loser throws a retryable conflict; retries compose to both bands dead") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-mor3").toString
    // files=1: both deletes hit the SAME file, guaranteeing the dv
    // pointer race
    ManifestLog.write(li, "l_orderkey", dir, files = 1)
    val sub = li
    val keys = sub.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
    val tenth = (kHi - kLo) / 10
    def band(i: Int) = sub.select("l_orderkey").distinct()
      .filter(col("l_orderkey").between(kLo + i * tenth, kLo + (i + 1) * tenth - 1))
    val expect = (0 to 1).map(i =>
      sub.join(band(i), Seq("l_orderkey"), "left_semi").count()).sum
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def task(i: Int) = pool.submit(new Runnable {
      override def run(): Unit = {
        gate.await()
        var done = false
        var tries = 0
        // generous budget: under full-suite load a retry pass (scan +
        // DV write + CAS) can take long enough that the default-ish
        // bound starves spuriously
        while (!done && tries < 25) {
          tries += 1
          try { counts.add(ManifestLog.deleteMor(band(i), "l_orderkey", dir)._2); done = true }
          catch {
            case e: IllegalStateException if e.getMessage.contains("deleteMor conflict") =>
              Thread.sleep(25) // retryable: re-plan against the new head
            case e: Throwable => errs.add(e); done = true
          }
        }
        if (!done) errs.add(new IllegalStateException("deleteMor starved after 25 retries"))
      }
    })
    val (fa, fb) = (task(0), task(1))
    gate.countDown(); fa.get(); fb.get(); pool.shutdown()
    assert(errs.isEmpty, s"unexpected failure: ${errs.peek()}")
    val sum = {
      import scala.jdk.CollectionConverters._
      counts.asScala.map(_.toLong).sum
    }
    assert(counts.size == 2 && sum == expect,
      s"deleted counts $counts vs expected total $expect")
    assert(ManifestLog.read(spark, dir).count() == sub.count() - expect)
    assert(ManifestLog.read(spark, dir)
      .join(band(0).union(band(1)), Seq("l_orderkey"), "left_semi").count() == 0)
    val vs = ManifestLog.versions(spark, dir)
    assert(vs == (1 to vs.max), s"versions not linear: $vs")
  }

  test("CHECK constraints: adds validate existing data, violating writes publish nothing (no version, no orphans), drop re-opens") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-ck").toString
    ManifestLog.write(li, "l_orderkey", dir, files = 4)
    val total = li.count()
    // adding a constraint the head violates is refused
    val exAdd = intercept[IllegalArgumentException] {
      ManifestLog.addConstraint(spark, dir, "qty_huge", "l_quantity > 1000.0")
    }
    assert(exAdd.getMessage.contains("existing rows violate"), exAdd.getMessage)
    ManifestLog.addConstraint(spark, dir, "qty_pos", "l_quantity > 0.0")
    ManifestLog.addConstraint(spark, dir, "key_nn", "l_orderkey IS NOT NULL")
    assert(ManifestLog.constraints(spark, dir).map(_._1) == Seq("qty_pos", "key_nn"))
    // a violating append: exception names the constraint, NO new
    // version, NO orphan batch files on disk
    val vBefore = ManifestLog.versions(spark, dir)
    val filesBefore = ManifestLog.snapshot(spark, dir).count()
    val bad = li.limit(20).withColumn("l_quantity", lit(-1.0))
    val ex = intercept[IllegalArgumentException] {
      ManifestLog.append(bad, "l_orderkey", dir, files = 1)
    }
    assert(ex.getMessage.contains("qty_pos") && ex.getMessage.contains("CHECK"), ex.getMessage)
    assert(ManifestLog.versions(spark, dir) == vBefore)
    assert(ManifestLog.read(spark, dir).count() == total)
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphanDirs = fsys.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("b-"))
      .filter(s => fsys.listStatus(s.getPath).exists(_.getPath.getName.endsWith(".parquet")))
    assert(orphanDirs.isEmpty, s"violating append left data files: $orphanDirs")
    // a valid append passes; a violating MERGE is rejected the same way
    ManifestLog.append(li.limit(30), "l_orderkey", dir, files = 1)
    assert(ManifestLog.read(spark, dir).count() == total + 30)
    val exM = intercept[IllegalArgumentException] {
      ManifestLog.merge(bad, "l_orderkey", dir)
    }
    assert(exM.getMessage.contains("qty_pos"), exM.getMessage)
    assert(ManifestLog.read(spark, dir).count() == total + 30)
    // dropped constraint stops gating
    ManifestLog.dropConstraint(spark, dir, "qty_pos")
    ManifestLog.append(bad, "l_orderkey", dir, files = 1)
    assert(ManifestLog.read(spark, dir).filter(col("l_quantity") < 0).count() == 20)
  }

  test("AS OF timestamp: commit instants map to versions; pre-history throws; DVs apply") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-asof").toString
    val t0 = System.currentTimeMillis() - 5
    ManifestLog.write(li.limit(100), "l_orderkey", dir, files = 1) // v1
    Thread.sleep(1200)
    val t1 = System.currentTimeMillis() - 5
    ManifestLog.append(li.limit(150), "l_orderkey", dir, files = 1) // v2
    Thread.sleep(1200)
    val t2 = System.currentTimeMillis() - 5
    ManifestLog.append(li.limit(60), "l_orderkey", dir, files = 1) // v3
    assert(ManifestLog.versionAsOf(spark, dir, t1) == 1)
    assert(ManifestLog.versionAsOf(spark, dir, t2) == 2)
    assert(ManifestLog.versionAsOf(spark, dir, System.currentTimeMillis() + 1000) == 3)
    assert(ManifestLog.readAsOf(spark, dir, t1).count() == 100)
    assert(ManifestLog.readAsOf(spark, dir, t2).count() == 250)
    intercept[IllegalArgumentException] {
      ManifestLog.versionAsOf(spark, dir, t0)
    }
    // a MOR delete's commit instant time-travels like any other: the
    // as-of read right before it still sees the dead rows
    Thread.sleep(1200)
    val t3 = System.currentTimeMillis() - 5
    val keys = ManifestLog.read(spark, dir).select("l_orderkey").distinct().limit(5)
    val (_, deleted) = ManifestLog.deleteMor(keys, "l_orderkey", dir) // v4
    assert(deleted > 0)
    assert(ManifestLog.readAsOf(spark, dir, t3).count() == 310)
    assert(ManifestLog.readAsOf(spark, dir, System.currentTimeMillis() + 1000)
      .count() == 310 - deleted)
  }

  /** The snapshot columns every writer commits. */
  private val SnapCols = Seq("file", "lo", "hi", "rows", "dv", "xs")

  /** Columns of the payload the head pointer names — what the last
    * writer committed, before any read-side normalization.
    */
  private def headPayloadCols(dir: String): Seq[String] = {
    val v = ManifestLog.currentVersion(spark, dir)
    val ptr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$dir/_mlog/v$v%05d")), "UTF-8")
    spark.read.parquet(s"$dir/_mlog/${ptr.linesIterator.next().trim}").columns.toSeq
  }

  /** A snapshot row's zone map on clustered axis `c`, if it has one. */
  private def xsOf(r: org.apache.spark.sql.Row, c: String): Option[(Long, Long)] =
    Option(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("xs"))
      .flatMap(_.find(_.getString(0) == c)).map(e => (e.getLong(1), e.getLong(2)))

  /** Rewrite a clustered table into the on-disk layout of builds that
    * kept the second axis apart: every payload gets LONG `lo2`/`hi2`
    * columns holding the first `xs` entry (the rest stay in `xs`, NULL
    * when none), and the meta names the axis on a `statsCol2=` line
    * with `statsColsX=` listing only the axes after it.
    */
  private def toLegacyLayout(dir: String): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def put(file: String, body: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(file), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    ManifestLog.versions(spark, dir).foreach { v =>
      val snap = ManifestLog.snapshot(spark, dir, v)
      val rows = snap.collect().toSeq.map { r =>
        val xs = Option(r.getAs[scala.collection.Seq[Row]]("xs")).getOrElse(Seq.empty)
        val (lo2, hi2) = xs.headOption
          .map(e => (Long.box(e.getLong(1)), Long.box(e.getLong(2)))).getOrElse((null, null))
        Row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4), lo2, hi2,
          if (xs.size > 1) xs.tail.toSeq else null)
      }
      val schema = StructType(snap.schema.fields.take(5) ++ Seq(
        StructField("lo2", LongType), StructField("hi2", LongType), snap.schema("xs")))
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.parquet(s"$dir/_mlog/s-legacy-v$v")
      put(f"$dir/_mlog/v$v%05d", s"s-legacy-v$v")
    }
    val axes = ManifestLog.statsColumnsX(spark, dir)
    put(s"$dir/_mlog/_meta",
      (Seq(s"statsCol=${ManifestLog.statsColumn(spark, dir).get}", s"statsCol2=${axes.head}") ++
        (if (axes.size > 1) Seq(s"statsColsX=${axes.tail.mkString(",")}") else Seq.empty))
        .mkString("", "\n", "\n"))
  }

  test("clustered writes: two-column zone maps prune on either predicate; rewrites keep col2 stats (computed from the rows in hand)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-clu").toString
    val data = li // (l_orderkey, l_partkey, l_quantity)
    ManifestLog.writeClusteredN(data, Seq("l_orderkey", "l_partkey"), dir, files = 16)
    assert(headPayloadCols(dir) == SnapCols, "writeClusteredN payload shape")
    val r = data.agg(min("l_orderkey"), max("l_orderkey"),
      min("l_partkey"), max("l_partkey")).head()
    val (kLo, kHi, pLo, pHi) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val (kA, pA) = (kLo + (kHi - kLo) / 4, pLo + (pHi - pLo) / 4)
    def exact(k1: Long, k2: Long, p1: Long, p2: Long): Seq[String] =
      data.filter(col("l_orderkey").between(k1, k2) &&
        col("l_partkey").between(p1, p2))
        .collect().map(_.toString).sorted.toSeq
    def box(d: String, k1: Long, k2: Long, p1: Long, p2: Long) =
      ManifestLog.readPrunedN(spark, d, Seq(("l_orderkey", k1, k2), ("l_partkey", p1, p2)))
    // a box narrow in BOTH dims: exact parity + real skipping
    val (bdf, bSurv, bTotal) = box(dir, kLo, kA, pLo, pA)
    assert(bdf.collect().map(_.toString).sorted.toSeq == exact(kLo, kA, pLo, pA))
    assert(bTotal == 16 && bSurv * 2 <= bTotal, s"box scan kept $bSurv/$bTotal files")
    // a SECOND-column-only predicate prunes too (the dimension a
    // single-key layout cannot skip on)
    val (cdf, cSurv, _) = box(dir, kLo, kHi, pLo, pA)
    assert(cdf.collect().map(_.toString).sorted.toSeq == exact(kLo, kHi, pLo, pA))
    assert(cSurv < bTotal, s"col2-only scan kept $cSurv/$bTotal files")
    // clustered append: both-column stats on the fresh files, parity holds
    val extra = data.filter(col("l_orderkey").between(kLo, kLo + (kA - kLo) / 2))
    ManifestLog.appendClustered(extra, dir, files = 2)
    assert(headPayloadCols(dir) == SnapCols, "appendClustered payload shape")
    val snap = ManifestLog.snapshot(spark, dir).collect()
    assert(snap.length == 18 && snap.forall(xsOf(_, "l_partkey").isDefined),
      "appendClustered lost col2 stats")
    val (adf, _, aTotal) = box(dir, kLo, kA, pLo, pHi)
    val expectUnion = data.filter(col("l_orderkey").between(kLo, kA))
      .unionAll(extra.filter(col("l_orderkey").between(kLo, kA)))
      .collect().map(_.toString).sorted.toSeq
    assert(adf.collect().map(_.toString).sorted.toSeq == expectUnion)
    assert(aTotal == 18)
    // a COW delete rewrites some files: the rewriter has the rows in
    // hand, so the fresh files carry BOTH columns' stats — no file in
    // the head is ever stats-blind — and the pruned read stays exact
    val band = data.select("l_orderkey").distinct()
      .filter(col("l_orderkey").between(kLo, kLo + (kHi - kLo) / 10))
    ManifestLog.delete(band, "l_orderkey", dir)
    assert(headPayloadCols(dir) == SnapCols, "delete payload shape")
    val snapDel = ManifestLog.snapshot(spark, dir).collect()
    assert(snapDel.forall(xsOf(_, "l_partkey").isDefined),
      "a rewrite degraded col2 stats it could have computed")
    val postDel = data.unionAll(extra)
      .join(band, Seq("l_orderkey"), "left_anti")
      .filter(col("l_orderkey").between(kLo, kA) && col("l_partkey").between(pLo, pA))
      .collect().map(_.toString).sorted.toSeq
    val (ddf, dSurv, dTotal) = box(dir, kLo, kA, pLo, pA)
    assert(ddf.collect().map(_.toString).sorted.toSeq == postDel)
    assert(dSurv <= dTotal)
    // every other writer commits the same six-column snapshot shape
    ManifestLog.merge(data.limit(50).withColumn("l_quantity", lit(1.0)), "l_orderkey", dir)
    assert(headPayloadCols(dir) == SnapCols, "merge payload shape")
    ManifestLog.deleteMor(data.select("l_orderkey").limit(5), "l_orderkey", dir)
    assert(headPayloadCols(dir) == SnapCols, "deleteMor payload shape")
    ManifestLog.compact(spark, dir, "l_orderkey", targetRows = data.count() / 4 + 1)
    assert(headPayloadCols(dir) == SnapCols, "compact payload shape")
    ManifestLog.replace(data.limit(100), "l_orderkey", dir, files = 2)
    assert(headPayloadCols(dir) == SnapCols, "replace payload shape")
    val plain = java.nio.file.Files.createTempDirectory("graft-mlog-shape").toString
    ManifestLog.write(data.limit(100), "l_orderkey", plain, files = 2)
    assert(headPayloadCols(plain) == SnapCols, "write payload shape")
    ManifestLog.append(data.limit(50), "l_orderkey", plain, files = 1)
    assert(headPayloadCols(plain) == SnapCols, "append payload shape")

    // a table in the layout of builds that kept the second axis in
    // lo2/hi2 columns and a statsCol2= meta line reads the same: same
    // snapshots, same survivors and rows through readPrunedN and the
    // SQL face, and it takes an appendClustered and a compact on top
    val old = java.nio.file.Files.createTempDirectory("graft-mlog-legacy").toString
    ManifestLog.writeClusteredN(data, Seq("l_orderkey", "l_partkey"), old, files = 8)
    val fmt = classOf[graft.sources.ManifestBatchSource].getName
    def faceRun(): (Int, Seq[String]) = {
      val rows = spark.read.format(fmt).option("path", old).load()
        .filter(col("l_partkey") <= pA).collect().map(_.toString).sorted.toSeq
      (graft.sources.ManifestBatchSource.lastPlannedFiles.get(), rows)
    }
    def prunedRun() = {
      val (df, surv, total) = box(old, kLo, kA, pLo, pA)
      (df.collect().map(_.toString).sorted.toSeq, surv, total)
    }
    val snapBefore = ManifestLog.snapshot(spark, old).collect().map(_.toString).sorted.toSeq
    val (prunedBefore, faceBefore) = (prunedRun(), faceRun())
    toLegacyLayout(old)
    assert(spark.read.parquet(s"$old/_mlog/s-legacy-v1").columns.toSeq ==
      Seq("file", "lo", "hi", "rows", "dv", "lo2", "hi2", "xs"), "fixture layout")
    assert(ManifestLog.statsColumnsX(spark, old) == Seq("l_partkey"))
    assert(ManifestLog.snapshot(spark, old).collect().map(_.toString).sorted.toSeq == snapBefore)
    assert(prunedRun() == prunedBefore && prunedBefore._2 < prunedBefore._3)
    assert(faceRun() == faceBefore && faceBefore._1 < 8)
    val oldExtra = data.filter(col("l_orderkey").between(kLo, kA))
    ManifestLog.appendClustered(oldExtra, old, files = 2)                   // v2
    assert(headPayloadCols(old) == SnapCols)
    assert(ManifestLog.snapshot(spark, old).collect().forall(xsOf(_, "l_partkey").isDefined))
    val withExtra = data.unionAll(oldExtra)
      .filter(col("l_orderkey").between(kLo, kA) && col("l_partkey").between(pLo, pA))
      .collect().map(_.toString).sorted.toSeq
    assert(prunedRun()._1 == withExtra)
    ManifestLog.compact(spark, old, "l_orderkey", targetRows = data.count() / 4 + 1) // v3
    assert(prunedRun()._1 == withExtra)
    // time travel to the legacy version still resolves exactly
    assert(ManifestLog.snapshot(spark, old, 1).collect().map(_.toString).sorted.toSeq ==
      snapBefore)
    assert(ManifestLog.read(spark, old, 1).collect().map(_.toString).sorted.toSeq ==
      data.collect().map(_.toString).sorted.toSeq)
  }

  test("compact on a clustered table re-clusters: col2 stats survive maintenance and second-dimension file-skipping still prunes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-cluc").toString
    val data = li
    ManifestLog.writeClusteredN(data, Seq("l_orderkey", "l_partkey"), dir, files = 16)
    val r = data.agg(min("l_orderkey"), max("l_orderkey"),
      min("l_partkey"), max("l_partkey")).head()
    val (kLo, kHi, pLo, pHi) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val (kA, pA) = (kLo + (kHi - kLo) / 4, pLo + (pHi - pLo) / 4)
    def quarterBox() = ManifestLog.readPrunedN(spark, dir,
      Seq(("l_orderkey", kLo, kA), ("l_partkey", pLo, pA)))
    val (beforeDf, beforeSurv, beforeTotal) = quarterBox()
    val expect = beforeDf.collect().map(_.toString).sorted.toSeq
    assert(beforeSurv * 2 <= beforeTotal, s"pre-compact box kept $beforeSurv/$beforeTotal")
    // compact the whole table into ~4 files — a maintenance pass that
    // previously blinded the second dimension (NULL col2 stats)
    val (gone, born) = ManifestLog.compact(spark, dir, "l_orderkey",
      targetRows = data.count() / 4 + 1)
    assert(gone == 16 && born >= 2)
    val snap = ManifestLog.snapshot(spark, dir).collect()
    assert(snap.forall(xsOf(_, "l_partkey").isDefined), "compact degraded col2 stats")
    // same box: exact parity, and the compacted layout STILL skips
    // files on the two-dimensional predicate (Hilbert re-clustering)
    val (afterDf, afterSurv, afterTotal) = quarterBox()
    assert(afterDf.collect().map(_.toString).sorted.toSeq == expect)
    assert(afterTotal == born)
    assert(afterSurv < afterTotal,
      s"post-compact box kept every file ($afterSurv/$afterTotal) — second-dimension pruning lost")
    // a col2-only predicate also still prunes after maintenance
    val (c2df, c2Surv, _) = ManifestLog.readPrunedN(spark, dir,
      Seq(("l_orderkey", kLo, kHi), ("l_partkey", pLo, pA)))
    val exact2 = data.filter(col("l_partkey").between(pLo, pA))
      .collect().map(_.toString).sorted.toSeq
    assert(c2df.collect().map(_.toString).sorted.toSeq == exact2)
    assert(c2Surv < afterTotal, s"col2-only scan kept $c2Surv/$afterTotal files")

    // a 3-axis table: compaction re-clusters on EVERY axis, so a box on
    // the third axis still skips files afterwards (re-clustering on the
    // first two alone leaves each file spanning the whole third axis)
    val dir3 = java.nio.file.Files.createTempDirectory("graft-mlog-cluc3").toString
    val data3 = spark.read.parquet(li.inputFiles.toIndexedSeq: _*) // li's files, one more axis
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    ManifestLog.writeClusteredN(data3, Seq("l_orderkey", "l_partkey", "l_suppkey"),
      dir3, files = 16)
    val sr = data3.agg(min("l_suppkey"), max("l_suppkey")).head()
    val (sLo, sA) = (sr.getLong(0), sr.getLong(0) + (sr.getLong(1) - sr.getLong(0)) / 4)
    def suppBox() = ManifestLog.readPrunedN(spark, dir3, Seq(("l_suppkey", sLo, sA)))
    val exact3 = data3.filter(col("l_suppkey").between(sLo, sA))
      .collect().map(_.toString).sorted.toSeq
    val (gone3, born3) = ManifestLog.compact(spark, dir3, "l_orderkey",
      targetRows = data3.count() / 8 + 1)
    assert(gone3 == 16 && born3 >= 2)
    val (s3df, s3Surv, s3Total) = suppBox()
    assert(s3df.collect().map(_.toString).sorted.toSeq == exact3)
    assert(s3Total == born3 && s3Surv < s3Total,
      s"post-compact third-axis box kept every file ($s3Surv/$s3Total) — third-axis pruning lost")
  }

  test("history: one labeled row per version (write/append/rewrite/mor-delete/restore)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-hist").toString
    ManifestLog.write(li.limit(200), "l_orderkey", dir, files = 2)      // v1
    ManifestLog.append(li.limit(100), "l_orderkey", dir, files = 1)     // v2
    val keys = ManifestLog.read(spark, dir).select("l_orderkey").distinct().limit(4)
    ManifestLog.deleteMor(keys, "l_orderkey", dir)                      // v3
    ManifestLog.compact(spark, dir, "l_orderkey", targetRows = 100000L) // v4
    ManifestLog.restore(spark, dir, 2)                                  // v5
    val h = ManifestLog.history(spark, dir).orderBy("version").collect()
      .map(r => (r.getInt(0), r.getString(2), r.getInt(3), r.getInt(4), r.getInt(6)))
    assert(h.map(x => (x._1, x._2)).toSeq == Seq(
      (1, "write"), (2, "append"), (3, "mor-delete"), (4, "rewrite"),
      (5, "rewrite")), h.mkString(", "))
    assert(h(0)._3 == 2 && h(1)._3 == 1, "file-add counts")
    assert(h(2)._5 >= 1 && h(2)._3 == 0 && h(2)._4 == 0, "MOR delete is dv-only")
    assert(h(3)._4 >= 1, "compact removes files")
    // commit instants are monotone non-decreasing
    val ts = ManifestLog.history(spark, dir).orderBy("version")
      .collect().map(_.getTimestamp(1).getTime)
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
  }

  test("follow: appends deliver exactly once across restart, rewrites throw strict / skip with the flag, MOR deletes throw strict / consume with ignoreDeletes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-follow").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-follow-ckpt").toString
    ManifestLog.write(li.limit(100), "l_orderkey", dir, files = 1) // v1
    val got = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    def tail(skip: Boolean = false, ignoreDel: Boolean = false): Int =
      ManifestLog.follow(spark, dir, ckpt, skipRewrites = skip,
          ignoreDeletes = ignoreDel) {
        (df, v) => got += ((v, df.count()))
      }
    // a fresh checkpoint starts after the current head
    assert(tail() == 0 && got.isEmpty)
    ManifestLog.append(li.limit(150), "l_orderkey", dir, files = 1) // v2
    ManifestLog.append(li.limit(60), "l_orderkey", dir, files = 1)  // v3
    assert(tail() == 2)
    assert(got.toSeq == Seq((2, 150L), (3, 60L)))
    // nothing new -> nothing delivered; a fresh call object (a
    // "restart") resumes from the same cursor
    assert(tail() == 0)
    ManifestLog.append(li.limit(25), "l_orderkey", dir, files = 1)  // v4
    assert(tail() == 1 && got.last == ((4, 25L)))
    // full replay from a fresh checkpoint covers the whole table
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-follow-ckpt2").toString
    var replayed = 0L
    ManifestLog.follow(spark, dir, ckpt2, fromVersion = 1) {
      (df, _) => replayed += df.count()
    }
    assert(replayed == 100L + 150L + 60L + 25L)
    // a MOR delete THROWS in strict mode (the consumer would silently
    // keep deleted rows — Delta's change-commit rule) and does not
    // advance; ignoreDeletes consumes it, delivering nothing
    val keys = ManifestLog.read(spark, dir).select("l_orderkey").distinct().limit(3)
    ManifestLog.deleteMor(keys, "l_orderkey", dir) // v5
    val before = got.size
    val morEx = intercept[IllegalStateException] { tail() }
    assert(morEx.getMessage.contains("MOR delete at v5") &&
      morEx.getMessage.contains("ignoreDeletes"), morEx.getMessage)
    assert(tail(ignoreDel = true) == 1 && got.size == before)
    // a compact is a REWRITE: strict mode throws naming the version
    // and does not advance; skipRewrites consumes without delivering
    ManifestLog.compact(spark, dir, "l_orderkey", targetRows = 10000L) // v6
    val ex = intercept[IllegalStateException] { tail() }
    assert(ex.getMessage.contains("v6") && ex.getMessage.contains("skipRewrites"), ex.getMessage)
    assert(tail(skip = true) == 1 && got.size == before)
    // and the tail keeps flowing afterwards
    ManifestLog.append(li.limit(10), "l_orderkey", dir, files = 1) // v7
    assert(tail() == 1 && got.last == ((7, 10L)))
  }

  test("a crashed commit's empty pointer is repaired: reads recover, the version slot is reused by the next append") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-crash").toString
    ManifestLog.write(li.limit(100), "l_orderkey", dir, files = 2)
    ManifestLog.append(li.limit(150), "l_orderkey", dir, files = 2)
    val rowsV2 = ManifestLog.snapshot(spark, dir).agg(sum("rows")).head().getLong(0)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the committer died between create(pointer) and writing the
    // payload name: an empty v00003 — previously this bricked every
    // later read of the head with no repair path
    f.create(new org.apache.hadoop.fs.Path(s"$dir/_mlog/v00003"), false).close()
    assert(ManifestLog.versions(spark, dir) == Seq(1, 2, 3))
    // a head reader waits out the grace, repairs the pointer, reports
    // the crash loudly once — and the NEXT read resolves v2 normally
    intercept[Exception] { ManifestLog.snapshot(spark, dir).collect() }
    assert(ManifestLog.versions(spark, dir) == Seq(1, 2))
    assert(ManifestLog.snapshot(spark, dir)
      .agg(sum("rows")).head().getLong(0) == rowsV2)
    // crash again; an APPEND repairs inline inside its retry loop and
    // commits into the freed slot — versions stay linear
    f.create(new org.apache.hadoop.fs.Path(s"$dir/_mlog/v00003"), false).close()
    ManifestLog.append(li.limit(30), "l_orderkey", dir, files = 1)
    assert(ManifestLog.versions(spark, dir) == Seq(1, 2, 3))
    assert(ManifestLog.snapshot(spark, dir)
      .agg(sum("rows")).head().getLong(0) == rowsV2 + 30)
  }

  test("a rewrite whose replaced file's dv pointer moved underneath it throws; a fresh compact sees the new tombstones (no resurrection)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-dvrace").toString
    // ONE data file so any MOR delete and any compact contend on it
    ManifestLog.write(li, "l_orderkey", dir, files = 1)
    val keys = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
    val tenth = (kHi - kLo) / 10
    def band(i: Int) = li.select("l_orderkey").distinct()
      .filter(col("l_orderkey").between(kLo + i * tenth, kLo + (i + 1) * tenth - 1))
    ManifestLog.deleteMor(band(0), "l_orderkey", dir) // v2: file gains a DV
    // a compact/merge/COW-delete captures the head's (file -> dv)
    // state when it READS; model that read here...
    val readState = ManifestLog.snapshot(spark, dir).collect()
      .map(r => r.getString(0) -> r.getString(4)).toMap
    // ...then a concurrent MOR delete lands FIRST, moving the pointer
    val (_, freshDead) = ManifestLog.deleteMor(band(1), "l_orderkey", dir) // v3
    assert(freshDead > 0)
    // the stale rewrite must NOT compose: its output was built from
    // the v2 tombstone set, so publishing it would resurrect band(1)
    val schema = ManifestLog.snapshot(spark, dir).schema
    val exR = intercept[IllegalStateException] {
      ManifestLog.commitRewrite(spark, dir, readState, Seq.empty, schema, "compact")
    }
    assert(exR.getMessage.contains("moved a dv pointer"), exR.getMessage)
    val exK = intercept[IllegalStateException] {
      ManifestLog.commitKeyedRewrite(spark, dir, "merge", readState,
        readState.keySet, Seq.empty, schema, kLo, kHi)
    }
    assert(exK.getMessage.contains("moved a dv pointer"), exK.getMessage)
    assert(ManifestLog.versions(spark, dir) == Seq(1, 2, 3), "no stale version published")
    // the RETRY (a fresh compact against the new head) purges BOTH
    // bands — the rows band(1) tombstoned stay dead
    val expect = ManifestLog.read(spark, dir).count()
    ManifestLog.compact(spark, dir, "l_orderkey", targetRows = li.count())
    assert(ManifestLog.read(spark, dir).count() == expect)
    assert(ManifestLog.read(spark, dir)
      .join(band(0).union(band(1)), Seq("l_orderkey"), "left_semi").count() == 0,
      "MOR-deleted rows resurrected by the rewrite")
    // and the compacted head carries no dv pointers (physical purge)
    assert(ManifestLog.snapshot(spark, dir).filter(col("dv").isNotNull).count() == 0)
  }

  test("follow cursor commits are crash-atomic: no truncated cursor ever; an unparsable legacy cursor names its repair") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-cur").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mlog-cur-ck").toString
    ManifestLog.write(li.limit(100), "l_orderkey", dir, files = 1)
    var seen = Vector.empty[Int]
    ManifestLog.follow(spark, dir, ckpt, fromVersion = 1) { (_, v) => seen :+= v }
    ManifestLog.append(li.limit(50), "l_orderkey", dir, files = 1)
    ManifestLog.follow(spark, dir, ckpt) { (_, v) => seen :+= v }
    assert(seen == Vector(1, 2))
    val fsys = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the temp-then-rename commit leaves no .cursor-tmp-* litter
    val litter = fsys.listStatus(new org.apache.hadoop.fs.Path(ckpt)).toSeq
      .map(_.getPath.getName).filter(_.startsWith(".cursor-tmp-"))
    assert(litter.isEmpty, s"cursor temp files leaked: $litter")
    // a pre-fix checkpoint wedged by a crash mid-write (empty cursor):
    // the consumer now fails ACTIONABLY instead of NumberFormatException
    // forever — and crucially does NOT read as a fresh checkpoint
    // (which would silently skip to the head)
    val cur = new org.apache.hadoop.fs.Path(s"$ckpt/cursor")
    fsys.create(cur, true).close()
    val ex = intercept[IllegalStateException] {
      ManifestLog.follow(spark, dir, ckpt) { (_, _) => () }
    }
    assert(ex.getMessage.contains("repair"), ex.getMessage)
    // the named repair works: write the last consumed version back
    val out = fsys.create(cur, true)
    out.write("2".getBytes("UTF-8")); out.close()
    ManifestLog.append(li.limit(25), "l_orderkey", dir, files = 1)
    var tail = Vector.empty[Long]
    ManifestLog.follow(spark, dir, ckpt) { (df, _) => tail :+= df.count() }
    assert(tail == Vector(25L))
  }

  test("history after vacuum labels the oldest retained version truncated-history with NULL deltas, not a phantom initial write") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-hvac").toString
    ManifestLog.write(li.limit(100), "l_orderkey", dir, files = 2)
    ManifestLog.append(li.limit(40), "l_orderkey", dir, files = 1)
    ManifestLog.append(li.limit(20), "l_orderkey", dir, files = 1)
    ManifestLog.vacuum(spark, dir, retain = 2, minAgeMs = 0)
    assert(ManifestLog.versions(spark, dir) == Seq(2, 3))
    val h = ManifestLog.history(spark, dir).orderBy("version").collect()
    assert(h.map(_.getInt(0)).toSeq == Seq(2, 3))
    val v2 = h(0)
    // v2's predecessor is vacuumed: the deltas are UNKNOWABLE — they
    // must be NULL, and the label must say so (previously: 'write'
    // with the whole live file set counted as files_added)
    assert(v2.getString(2) == "truncated-history", v2.toString)
    assert(v2.isNullAt(3) && v2.isNullAt(4) && v2.isNullAt(5) && v2.isNullAt(6))
    val v3 = h(1)
    assert(v3.getString(2) == "append" && v3.getInt(3) == 1 && v3.getLong(5) == 20L)
  }

  test("log checkpoints bound chain walks: history/follow on a long chain read O(interval) payloads; semantics and vacuum unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-ckpt").toString
    val interval = ManifestLog.CheckpointInterval
    val nVersions = 2 * interval + interval / 2 // 40: two auto-ckpts + a tail
    ManifestLog.write(li.limit(10), "l_orderkey", dir, files = 1)
    (2 to nVersions).foreach { _ =>
      ManifestLog.append(li.limit(3), "l_orderkey", dir, files = 1)
    }
    assert(ManifestLog.versions(spark, dir).size == nVersions)
    // history: the 2·interval checkpointed versions come from ONE
    // checkpoint parquet; only the tail walks payloads
    ManifestLog.payloadReads.set(0L)
    val h = ManifestLog.history(spark, dir).orderBy("version").collect()
    val histReads = ManifestLog.payloadReads.get()
    assert(h.length == nVersions)
    assert(h.head.getString(2) == "write" && h.head.getInt(3) == 1)
    assert(h.tail.forall(r => r.getString(2) == "append" && r.getInt(3) == 1 &&
      r.getLong(5) == 3L), "checkpointed history rows lost their deltas")
    assert(histReads <= (nVersions - 2 * interval) + 2,
      s"history read $histReads payloads for a $nVersions-version chain " +
        s"(checkpoint covers ${2 * interval})")
    // follow rewound to v1: checkpointed versions deliver from the
    // checkpoint's (file, dv) deltas — payload reads stay O(tail)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mlog-ckpt-cur").toString
    ManifestLog.payloadReads.set(0L)
    var got = Vector.empty[(Int, Long)]
    val consumed = ManifestLog.follow(spark, dir, ckpt, fromVersion = 1) {
      (df, v) => got :+= (v, df.count())
    }
    val followReads = ManifestLog.payloadReads.get()
    assert(consumed == nVersions)
    assert(got.map(_._1) == (1 to nVersions).toVector)
    assert(got.head._2 == 10L && got.tail.forall(_._2 == 3L))
    assert(followReads <= (nVersions - 2 * interval) + 3,
      s"follow read $followReads payloads for a $nVersions-version replay")
    // explicit checkpointLog folds the tail; the next walk is O(1)
    assert(ManifestLog.checkpointLog(spark, dir) == nVersions)
    ManifestLog.payloadReads.set(0L)
    assert(ManifestLog.history(spark, dir).count() == nVersions)
    assert(ManifestLog.payloadReads.get() <= 1,
      "history after a fresh checkpoint still walked payloads")
    // time travel is untouched (payloads are full snapshots)
    assert(ManifestLog.read(spark, dir, version = 5).count() == 10 + 4 * 3)
    // vacuum: superseded checkpoints reclaim, the newest survives and
    // keeps serving history — covered versions keep REAL deltas even
    // though their predecessors' payloads are gone
    ManifestLog.vacuum(spark, dir, retain = 2, minAgeMs = 0)
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ckpts = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_mlog")).toSeq
      .map(_.getPath.getName).filter(_.startsWith("ckpt-"))
    assert(ckpts.size == 1 && ckpts.head.startsWith(f"ckpt-v$nVersions%05d-"),
      s"vacuum kept the wrong checkpoints: $ckpts")
    val hv = ManifestLog.history(spark, dir).orderBy("version").collect()
    assert(hv.map(_.getInt(0)).toSeq == Seq(nVersions - 1, nVersions))
    assert(hv.forall(r => r.getString(2) == "append" && r.getLong(5) == 3L),
      "checkpoint-covered history lost deltas after vacuum")
    assert(ManifestLog.read(spark, dir).count() == 10 + (nVersions - 1) * 3)
  }

  test("log checkpoints stay BOUNDED under vacuum: expired versions compress to one truncated marker each, so checkpoint size tracks churn-within-retention, not table age") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-ckbound").toString
    ManifestLog.write(li.limit(20), "l_orderkey", dir, files = 4)          // v1: 4 adds
    val cycles = 6
    (1 to cycles).foreach { _ =>
      ManifestLog.append(li.limit(9), "l_orderkey", dir, files = 3)
      ManifestLog.append(li.limit(9), "l_orderkey", dir, files = 3)
      ManifestLog.compact(spark, dir, "l_orderkey", targetRows = 1000000L) // rewrite churn
      ManifestLog.vacuum(spark, dir, retain = 2, minAgeMs = 0)
    }
    val nv = 1 + 3 * cycles // 19 versions ever committed
    val head = ManifestLog.checkpointLog(spark, dir)
    assert(head == nv)
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ckName = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_mlog")).toSeq
      .map(_.getPath.getName).filter(_.startsWith("ckpt-v"))
      .maxBy(n => "\\d+".r.findFirstIn(n.stripPrefix("ckpt-v")).get.toInt)
    val ck = spark.read.parquet(s"$dir/_mlog/$ckName").collect()
    val byV = ck.groupBy(_.getInt(0))
    val liveVs = ManifestLog.versions(spark, dir).toSet

    // every VACUUMED version that still has rows holds exactly ONE
    // truncated marker — its full delta history (6+ rows per compact
    // cycle) is gone from the fold
    val expired = byV.filter { case (v, _) => !liveVs(v) }
    assert(expired.nonEmpty, "scenario failed to expire any checkpointed versions")
    expired.foreach { case (v, rs) =>
      assert(rs.length == 1 && rs.head.getString(1) == "truncated",
        s"expired v$v kept ${rs.length} rows (${rs.map(_.getString(1)).toSet})")
    }
    // the whole checkpoint is O(versions + retained churn): the
    // UNBOUNDED fold would hold every historical add/remove — ~15 rows
    // per cycle (~90 here), growing forever with churn
    assert(ck.length <= nv + 16,
      s"checkpoint holds ${ck.length} rows for a $nv-version table — unbounded fold?")

    // semantics unchanged: history lists exactly the live versions,
    // the newest with REAL deltas; a rewound replay names the repair
    val hv = ManifestLog.history(spark, dir).orderBy("version").collect()
    assert(hv.map(_.getInt(0)).toSeq == liveVs.toSeq.sorted)
    assert(hv.last.getString(2) == "rewrite", s"head label: ${hv.last.getString(2)}")
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckbound-cur").toString
    val ex = intercept[IllegalStateException] {
      ManifestLog.follow(spark, dir, ckptDir, fromVersion = 1) { (_, _) => () }
    }
    assert(ex.getMessage.contains("restart from a fresh checkpoint"), ex.getMessage)
    // and the table itself reads exactly the head state
    assert(ManifestLog.read(spark, dir).count() == 20L + cycles * 18L)
  }

  test("changeFeed: tagged insert/delete rows per version across append, MOR delete, merge, restore; net equals the endpoint diff") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-cdf").toString
    val base = li.limit(200)
    ManifestLog.write(base, "l_orderkey", dir, files = 2)            // v1
    val extra = li.limit(240).except(li.limit(200))
    ManifestLog.append(extra, "l_orderkey", dir, files = 1)          // v2: +40
    val band = base.select("l_orderkey").distinct().limit(5)
    val (_, morDead) = ManifestLog.deleteMor(band, "l_orderkey", dir) // v3: -morDead
    val upd = base.join(band, Seq("l_orderkey"), "left_anti").limit(20)
      .withColumn("l_quantity", col("l_quantity") + 500.0)
    ManifestLog.merge(upd, "l_orderkey", dir)                        // v4: upsert
    ManifestLog.restore(spark, dir, 2)                               // v5: rollback

    val cdf = ManifestLog.changeFeed(spark, dir, 1, 5).persist()
    try {
      val byV = cdf.groupBy("_commit_version", "_change_type").count()
        .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      // v2: pure append — inserts only
      assert(byV.get((2, "insert")).contains(extra.count()) && !byV.contains((2, "delete")),
        s"v2 $byV")
      // v3: MOR delete — deletes only, exactly the tombstoned rows
      assert(byV.get((3, "delete")).contains(morDead) && !byV.contains((3, "insert")),
        s"v3 $byV")
      // v4: upsert — the 20 changed rows appear as delete+insert pairs
      assert(byV((4, "insert")) == 20L && byV((4, "delete")) == 20L, s"v4 $byV")
      // v4 inserts carry the updated quantity
      assert(cdf.filter(col("_commit_version") === 4 && col("_change_type") === "insert")
        .filter(col("l_quantity") < 500.0).count() == 0)
      // v5: restore back to v2 — the merge's rows revert and the MOR
      // tombstones resurrect
      assert(byV((5, "insert")) == 20L + morDead && byV((5, "delete")) == 20L, s"v5 $byV")
      // NET of the feed equals the endpoint diff: per row key set,
      // inserts minus deletes across v2..v5 == diff(v1, v5)
      val (addedEnd, removedEnd) = ManifestLog.diff(spark, dir, 1, 5)
      val cols = addedEnd.columns.map(col)
      val netIns = cdf.filter(col("_change_type") === "insert").select(cols: _*)
        .exceptAll(cdf.filter(col("_change_type") === "delete").select(cols: _*))
      val netDel = cdf.filter(col("_change_type") === "delete").select(cols: _*)
        .exceptAll(cdf.filter(col("_change_type") === "insert").select(cols: _*))
      assert(netIns.exceptAll(addedEnd).count() == 0 &&
        addedEnd.exceptAll(netIns).count() == 0, "net inserts != endpoint diff")
      assert(netDel.exceptAll(removedEnd).count() == 0 &&
        removedEnd.exceptAll(netDel).count() == 0, "net deletes != endpoint diff")
    } finally cdf.unpersist()
    // a vacuumed predecessor is refused loudly
    ManifestLog.vacuum(spark, dir, retain = 2, minAgeMs = 0)
    val ex = intercept[IllegalArgumentException] {
      ManifestLog.changeFeed(spark, dir, 1, 5)
    }
    assert(ex.getMessage.contains("vacuumed"), ex.getMessage)
  }

  test("diff DV fast path: MOR-delete versions read positionally; a DV-only RESTORE (resurrect) falls back to the pair-diff") {
    // same-file dv-move versions take the positional fast path (no
    // EXCEPT-ALL); this pins its multiset equality to first
    // principles AND the resurrect gate: a restore that repoints the
    // SAME files to a smaller DV must not be read positionally
    // (positional would gross up what EXCEPT-ALL nets) — the gate
    // detects old-dead ⊄ new-dead and falls back.
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-dvfast").toString
    val base = li.limit(300)
    ManifestLog.write(base, "l_orderkey", dir, files = 3)             // v1
    val band = base.select("l_orderkey").distinct().limit(7)
    val (_, morDead) = ManifestLog.deleteMor(band, "l_orderkey", dir) // v2: dv move only
    // v1→v2: fast path (dead set grew). added empty; removed == the
    // tombstoned rows, multiset-equal to a from-scratch EXCEPT-ALL.
    val (a12, r12) = ManifestLog.diff(spark, dir, 1, 2)
    assert(a12.count() == 0L)
    assert(r12.count() == morDead)
    val v1 = ManifestLog.read(spark, dir, 1)
    val v2 = ManifestLog.read(spark, dir, 2)
    val expect12 = v1.exceptAll(v2)
    assert(r12.exceptAll(expect12).count() == 0 &&
      expect12.exceptAll(r12).count() == 0, "fast-path removed != EXCEPT-ALL removed")
    // v3 = restore to v1: SAME file list, dv pointers revert — the
    // resurrect gate must route to the pair-diff and report the
    // tombstones as ADDED again.
    ManifestLog.restore(spark, dir, 1)                                // v3
    val (a23, r23) = ManifestLog.diff(spark, dir, 2, 3)
    assert(r23.count() == 0L, "restore diff invented deletes")
    assert(a23.count() == morDead, s"restore diff: ${a23.count()} != $morDead resurrected")
    val expect23 = v1.exceptAll(v2)
    assert(a23.exceptAll(expect23).count() == 0 &&
      expect23.exceptAll(a23).count() == 0, "resurrect added != EXCEPT-ALL added")
  }

  test("mergeInto clause semantics: conditional update, matched delete (delete wins), not-matched insert, pure-insert is append-shaped") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-mi").toString
    // unique-key target: one row per orderkey (sum of quantities)
    val tgt = li.groupBy("l_orderkey")
      .agg(sum("l_quantity").as("qty"), count(lit(1)).cast("long").as("n"))
    ManifestLog.write(tgt, "l_orderkey", dir, files = 4)
    val total = tgt.count()
    val keys = tgt.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
    val mid = (kLo + kHi) / 2

    // source: half existing keys (qty bumped +1000), plus brand-new keys
    val existingSrc = tgt.filter(col("l_orderkey") <= mid)
      .withColumn("qty", col("qty") + 1000.0)
    val newSrc = tgt.filter(col("l_orderkey") > mid)
      .select((col("l_orderkey") + kHi + 100).as("l_orderkey"),
        col("qty"), col("n"))
    val src = existingSrc.unionByName(newSrc)

    // UPDATE only where the target row is "small" (n <= 2); DELETE
    // where n >= 7; delete wins over update when both would match
    val (rw, del, upd, ins) = ManifestLog.mergeInto(src, "l_orderkey", dir,
      matchedUpdate = Some("n <= 2"),
      matchedDelete = Some("n >= 7"))
    val expDel = tgt.filter(col("l_orderkey") <= mid && col("n") >= 7).count()
    val expUpd = tgt.filter(col("l_orderkey") <= mid && col("n") <= 2).count()
    val expIns = newSrc.count()
    assert((del, upd, ins) == (expDel, expUpd, expIns), s"($del,$upd,$ins)")
    assert(rw > 0)
    val now = ManifestLog.read(spark, dir)
    assert(now.count() == total - expDel + expIns)
    // updated rows carry the source qty; kept matched rows the old one
    assert(now.filter(col("l_orderkey") <= mid && col("n") <= 2)
      .join(tgt.select(col("l_orderkey"), (col("qty") + 1000.0).as("want")),
        "l_orderkey")
      .filter(col("qty") =!= col("want")).count() == 0, "update missed rows")
    assert(now.filter(col("n") >= 7 && col("l_orderkey") <= mid).count() == 0,
      "deletes survived")
    assert(now.filter(col("l_orderkey") > mid && col("l_orderkey") <= kHi)
      .exceptAll(tgt.filter(col("l_orderkey") > mid)).count() == 0,
      "unmatched target rows changed")
    // duplicate source keys are refused (Delta's multiple-match error)
    val exDup = intercept[IllegalArgumentException] {
      ManifestLog.mergeInto(src.unionAll(src.limit(1)), "l_orderkey", dir)
    }
    assert(exDup.getMessage.contains("duplicate"), exDup.getMessage)
    // pure-insert outcome is APPEND-shaped: no file rewrites, history
    // says append, old version still time-travels
    val vBefore = ManifestLog.currentVersion(spark, dir)
    val fresh = newSrc.select((col("l_orderkey") + 1000000).as("l_orderkey"),
      col("qty"), col("n"))
    val (rw2, del2, upd2, ins2) = ManifestLog.mergeInto(fresh, "l_orderkey", dir,
      matchedUpdate = Some("n <= 2"))
    assert((rw2, del2, upd2) == (0, 0L, 0L) && ins2 == fresh.count())
    val h = ManifestLog.history(spark, dir).orderBy("version").collect().last
    assert(h.getInt(0) == vBefore + 1 && h.getString(2) == "append", h.toString)
    assert(ManifestLog.read(spark, dir, version = vBefore).count() ==
      total - expDel + expIns, "time travel broken by mergeInto")
    // delete-only mergeInto == delete() on a twin table
    val twin = java.nio.file.Files.createTempDirectory("graft-mlog-mi2").toString
    ManifestLog.write(tgt, "l_orderkey", twin, files = 4)
    val band = tgt.filter(col("l_orderkey") <= mid).select("l_orderkey")
    val (_, delOnly, u0, i0) = ManifestLog.mergeInto(band, "l_orderkey", twin,
      matchedDelete = Some("true"), insertNotMatched = false)
    assert((u0, i0) == (0L, 0L))
    assert(delOnly == band.count())
    assert(ManifestLog.read(spark, twin).collect().map(_.toString).sorted.toSeq ==
      tgt.filter(col("l_orderkey") > mid).collect().map(_.toString).sorted.toSeq)
  }

  test("auto-checkpoints under 3-appender CAS contention: versions linear across trigger boundaries, checkpointed history/follow equal ground truth") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-ckrace").toString
    val interval = ManifestLog.CheckpointInterval
    ManifestLog.write(li.limit(10), "l_orderkey", dir, files = 1)
    // 3 threads × 12 appends = 36 appends → 37 versions, crossing the
    // v16 and v32 auto-checkpoint triggers WHILE other committers race
    val perThread = (2 * interval + 4) / 3 // 12
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(3)
    val gate = new CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val fs = (0 until 3).map { t =>
      pool.submit(new Runnable {
        def run(): Unit = {
          gate.await()
          try (0 until perThread).foreach { i =>
            ManifestLog.append(li.limit(10 * (t * perThread + i) + 13)
              .except(li.limit(10 * (t * perThread + i) + 10)),
              "l_orderkey", dir, files = 1)
          } catch { case e: Throwable => errs.add(e) }
        }
      })
    }
    gate.countDown(); fs.foreach(_.get()); pool.shutdown()
    assert(errs.isEmpty, s"append threw under contention: ${errs.peek()}")
    val vs = ManifestLog.versions(spark, dir)
    assert(vs == (1 to (1 + 3 * perThread)), s"versions not linear: $vs")
    // at least one auto-checkpoint landed at a trigger boundary
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ckpts = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_mlog")).toSeq
      .map(_.getPath.getName).filter(_.startsWith("ckpt-"))
    assert(ckpts.nonEmpty, "no auto-checkpoint landed across two trigger boundaries")
    // checkpointed history equals a ground-truth recompute from the
    // raw snapshots — every version, every delta
    val hist = ManifestLog.history(spark, dir).orderBy("version").collect()
      .map(r => (r.getInt(0), r.getString(2), r.getInt(3), r.getLong(5)))
    val truth = vs.map { v =>
      val now = ManifestLog.snapshot(spark, dir, v).collect()
      val prev = if (v == 1) Array.empty[org.apache.spark.sql.Row]
        else ManifestLog.snapshot(spark, dir, v - 1).collect()
      val prevFiles = prev.map(_.getString(0)).toSet
      val added = now.count(r => !prevFiles(r.getString(0)))
      val op = if (v == 1) "write" else "append"
      (v, op, added, now.map(_.getLong(3)).sum - prev.map(_.getLong(3)).sum)
    }
    assert(hist.toSeq == truth, {
      val bad = hist.toSeq.zip(truth).filter(p => p._1 != p._2).take(3)
      s"checkpointed history diverged from snapshot ground truth: $bad"
    })
    // follow replay from v1 delivers exactly the table's rows
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-mlog-ckrace-cur").toString
    var total = 0L
    ManifestLog.follow(spark, dir, ckptDir, fromVersion = 1) { (df, _) => total += df.count() }
    assert(total == ManifestLog.read(spark, dir).count(),
      s"follow delivered $total rows vs table ${ManifestLog.read(spark, dir).count()}")
  }

  test("AS OF under non-monotonic pointer mtimes: effective timestamps are forced monotone, so AS OF t is a prefix of the chain") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlog-skew").toString
    ManifestLog.write(li.limit(100), "l_orderkey", dir, files = 1)
    ManifestLog.append(li.limit(40), "l_orderkey", dir, files = 1)
    ManifestLog.append(li.limit(20), "l_orderkey", dir, files = 1)
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def setT(v: Int, t: Long): Unit =
      fsys.setTimes(new org.apache.hadoop.fs.Path(f"$dir/_mlog/v$v%05d"), t, -1)
    // clock skew / restored log dir: v3's raw mtime PRECEDES v2's
    val base = 1700000000000L
    setT(1, base); setT(2, base + 5000); setT(3, base + 3000)
    // raw-mtime resolution would return v3 for t = base+4000 — a
    // version that committed AFTER v2 serving for an instant before
    // it; the monotone rule clamps v3's effective time to base+5000
    assert(ManifestLog.versionAsOf(spark, dir, base + 4000) == 1)
    assert(ManifestLog.versionAsOf(spark, dir, base + 5000) == 3)
    assert(ManifestLog.versionAsOf(spark, dir, base) == 1)
    assert(ManifestLog.readAsOf(spark, dir, base + 4000).count() == 100)
    assert(ManifestLog.readAsOf(spark, dir, base + 5000).count() == 160)
  }
}
