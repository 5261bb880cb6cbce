package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ManifestLog

/** The batch SQL face: `spark.read.format(ManifestBatchSource)` must
  * be value-for-value [[ManifestLog.read]] — latest, versionAsOf,
  * timestampAsOf — including MOR deletion vectors and add-column
  * schema evolution, and must plan one partition per live file.
  */
class ManifestBatchSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def li = Tables.lineitem(spark, "/root/testdata/sf0.01")
    .select("l_orderkey", "l_partkey", "l_quantity")

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
  }

  test("SQL read == ManifestLog.read value-for-value: latest with DVs applied, versionAsOf, timestampAsOf, evolved schema; SQL statements run against the view") {
    val dir = Files.createTempDirectory("mbs-tbl").toString
    ManifestLog.write(li.limit(100), "l_orderkey", dir, files = 2)        // v1
    ManifestLog.append(li.limit(140).except(li.limit(100)), "l_orderkey", dir, files = 2) // v2
    // v3: MOR delete — dv pointers, no rewrite
    val keys = ManifestLog.read(spark, dir).select("l_orderkey").distinct().limit(7)
    val (_, deleted) = ManifestLog.deleteMor(keys, "l_orderkey", dir)
    assert(deleted > 0L, "fixture: the MOR delete must tombstone rows")
    // v4: schema evolution — an added column, NULL on old files
    ManifestLog.append(
      li.limit(160).except(li.limit(140)).withColumn("source", lit("crawl-2")),
      "l_orderkey", dir, files = 1)

    // latest: DV'd + evolved
    val sqlLatest = ManifestBatchSource.read(spark, dir)
    assert(canon(sqlLatest) == canon(ManifestLog.read(spark, dir)),
      "latest SQL read diverged from ManifestLog.read")
    assert(sqlLatest.columns.contains("source"))
    assert(sqlLatest.filter(col("source").isNull).count() == 140 - deleted)

    // time travel by version: pre-delete, pre-evolution shape
    val sqlV2 = ManifestBatchSource.read(spark, dir, versionAsOf = 2)
    assert(canon(sqlV2) == canon(ManifestLog.read(spark, dir, version = 2)))
    assert(!sqlV2.columns.contains("source") && sqlV2.count() == 140)

    // time travel by timestamp: v2's commit instant maps back to v2
    val ts2 = ManifestLog.history(spark, dir)
      .filter(col("version") === 2).head().getTimestamp(1)
    val sqlTs = ManifestBatchSource.read(spark, dir, timestampAsOf = ts2.toString)
    assert(canon(sqlTs) == canon(ManifestLog.read(spark, dir, version = 2)))
    // epoch-millis form resolves identically
    assert(canon(ManifestBatchSource.read(spark, dir,
      timestampAsOf = ts2.getTime.toString)) == canon(sqlTs))

    // the point of the face: plain SQL from a registered view
    sqlLatest.createOrReplaceTempView("mbs_t")
    val viaSql = spark.sql(
      "SELECT count(*) AS n, count(source) AS tagged FROM mbs_t").head()
    assert(viaSql.getLong(0) == ManifestLog.read(spark, dir).count())
    assert(viaSql.getLong(1) == 20)

    // scale shape: one input partition per live data file
    val parts = new ManifestBatchScan(dir,
      ManifestLog.currentVersion(spark, dir), sqlLatest.schema).planInputPartitions()
    assert(parts.length == ManifestLog.snapshot(spark, dir).count(),
      "batch scan must fan out one partition per live file")

    // conflicting options are refused
    intercept[IllegalArgumentException] {
      spark.read.format(classOf[ManifestBatchSource].getName)
        .option("path", dir).option("versionAsOf", "1")
        .option("timestampAsOf", "12345").load()
    }
  }

  test("scale levers: SELECTed columns prune the scan output and key-range predicates skip whole files off the snapshot stats") {
    val dir = Files.createTempDirectory("mbs-prune").toString
    ManifestLog.write(li, "l_orderkey", dir, files = 8)

    // column pruning: the DSv2 scan's output is exactly the projection
    val narrow = ManifestBatchSource.read(spark, dir).select("l_quantity")
    val leafOut = narrow.queryExecution.executedPlan.collectLeaves()
      .head.output.map(_.name)
    assert(leafOut == Seq("l_quantity"), s"scan output not pruned: $leafOut")
    assert(narrow.count() == li.count())

    // file skipping: a selective key predicate plans a SUBSET of the
    // 8 range-clustered files, and row results are untouched
    val keys = li.select("l_orderkey").distinct()
      .orderBy("l_orderkey").limit(10).collect().map(_.getLong(0))
    val cut = keys.last
    val filtered = ManifestBatchSource.read(spark, dir)
      .filter(col("l_orderkey") <= cut)
    val expected = li.filter(col("l_orderkey") <= cut).count()
    assert(filtered.count() == expected)
    val planned = ManifestBatchSource.lastPlannedFiles.get()
    assert(planned >= 1 && planned < 8,
      s"key-range predicate should skip files: planned $planned of 8")
    // and an unconstrained scan still plans them all
    ManifestBatchSource.read(spark, dir).count()
    assert(ManifestBatchSource.lastPlannedFiles.get() == 8)
    // the pushed filter is visible in the plan (zone-map pruning is
    // discoverable, not silent)
    assert(filtered.queryExecution.executedPlan.toString.contains("PushedFilters") ||
      filtered.queryExecution.toString.contains("LessThanOrEqual"),
      "pushed key filter not surfaced in the plan")

    // IN lists skip on the key too
    val inCount = ManifestBatchSource.read(spark, dir)
      .filter(col("l_orderkey").isin(keys.take(3).map(Long.box): _*)).count()
    assert(inCount == li.filter(col("l_orderkey").isin(keys.take(3).map(Long.box): _*)).count())
    assert(ManifestBatchSource.lastPlannedFiles.get() < 8,
      "IN-list key predicate should skip files")

    // clustered tables skip on the SECOND zone-map dimension as well
    val cdir = Files.createTempDirectory("mbs-prune2").toString
    ManifestLog.writeClusteredN(li, Seq("l_orderkey", "l_partkey"), cdir, files = 8)
    val pkeys = li.select("l_partkey").distinct()
      .orderBy("l_partkey").limit(5).collect().map(_.getLong(0))
    val c2 = ManifestBatchSource.read(spark, cdir)
      .filter(col("l_partkey") <= pkeys.last)
    assert(c2.count() == li.filter(col("l_partkey") <= pkeys.last).count())
    assert(ManifestBatchSource.lastPlannedFiles.get() < 8,
      "second-dimension predicate should skip clustered files")

    // string keys skip in the engine's UTF-8 order: U+1F600 sorts
    // BELOW U+FFFD in UTF-16 code units but ABOVE it in UTF-8, so a
    // UTF-16 comparison against the file's hi (the emoji) would skip
    // the file and lose both matching rows
    import spark.implicits._
    val sdir = Files.createTempDirectory("mbs-prune-utf8").toString
    val (fffd, emoji) = ("\uFFFD", "\uD83D\uDE00")
    ManifestLog.write(Seq("a", fffd, emoji).toDF("k"), "k", sdir, files = 1)
    assert(ManifestBatchSource.read(spark, sdir).filter(col("k") >= fffd).count() == 2)
  }

  test("DV probe is O(own tombstones): after a broad MOR delete across 100 files, a 2-file probe footer-skips nearly every DV sidecar part") {
    val dir = Files.createTempDirectory("mbs-dv").toString
    ManifestLog.write(li, "l_orderkey", dir, files = 100)
    // broad erasure: every third order key — tombstones land in ALL files
    val keys = ManifestLog.read(spark, dir).select("l_orderkey")
      .distinct().filter(col("l_orderkey") % 3 === 0)
    val (repointed, deleted) = ManifestLog.deleteMor(keys, "l_orderkey", dir)
    assert(repointed == 100 && deleted > 0,
      s"fixture: the erasure must touch all 100 files, touched $repointed")
    // the DV batch fans out into range-clustered sidecar parts
    val dvDir = ManifestLog.snapshot(spark, dir).select("dv").head().getString(0)
    val dvParts = spark.read.parquet(dvDir).inputFiles.length
    assert(dvParts >= 32, s"broad erasure should fan the DV batch out, got $dvParts parts")

    // narrow probe: a key range the zone maps resolve to the 2 lowest files
    val hi2 = ManifestLog.snapshot(spark, dir).orderBy("lo").limit(2)
      .collect().map(_.get(2).toString.toLong).max
    ManifestBatchSource.dvPartReads.set(0)
    ManifestBatchSource.dvPartSkips.set(0)
    val probe = ManifestBatchSource.read(spark, dir).filter(col("l_orderkey") <= hi2)
    assert(canon(probe) ==
      canon(ManifestLog.read(spark, dir).filter(col("l_orderkey") <= hi2)),
      "DV-pruned probe diverged from ManifestLog.read")
    val plannedN = ManifestBatchSource.lastPlannedFiles.get()
    assert(plannedN >= 1 && plannedN <= 3, s"zone maps should plan ~2 files, got $plannedN")
    val reads = ManifestBatchSource.dvPartReads.get()
    val skips = ManifestBatchSource.dvPartSkips.get()
    // each planned partition's tombstones live in one contiguous slice:
    // at most 2 sidecar parts (a boundary split), everything else is a
    // footer-only skip — O(own DV bytes), not O(all)
    assert(reads <= 2 * plannedN,
      s"probe opened $reads DV parts for $plannedN files — reading foreign tombstones")
    assert(reads + skips == plannedN * dvParts,
      s"every DV part must be either skipped or read: $reads + $skips != $plannedN * $dvParts")
    assert(skips >= plannedN * dvParts - 2 * plannedN,
      s"footer pruning barely skipped anything: $skips of ${plannedN * dvParts}")
  }

  test("write face: df.write append bootstraps then composes versions, overwrite is a versioned replace, constraints still gate — all via the existing commit machinery") {
    val dir = Files.createTempDirectory("mbs-write").toString
    val fmt = classOf[ManifestBatchSource].getName

    // bootstrap: append on a fresh path needs the statsCol option
    li.limit(50).write.format(fmt)
      .option("path", dir).option("statsCol", "l_orderkey")
      .mode("append").save()
    assert(ManifestLog.currentVersion(spark, dir) == 1)
    assert(ManifestLog.statsColumn(spark, dir).contains("l_orderkey"))

    // subsequent append takes the key from table meta — no option
    li.limit(80).except(li.limit(50)).write.format(fmt)
      .option("path", dir).mode("append").save()
    assert(ManifestLog.currentVersion(spark, dir) == 2)
    assert(canon(ManifestBatchSource.read(spark, dir)) ==
      canon(ManifestLog.read(spark, dir)))
    assert(ManifestLog.read(spark, dir).count() == 80)

    // CHECK constraints gate face writes like native appends: the
    // violating batch publishes neither a version nor orphans
    ManifestLog.addConstraint(spark, dir, "qty_pos", "l_quantity > 0")
    val bad = spark.range(1).select(
      lit(999999L).as("l_orderkey"), lit(1L).as("l_partkey"),
      lit(-5.0).as("l_quantity"))
    intercept[Exception] {
      bad.write.format(fmt).option("path", dir).mode("append").save()
    }
    assert(ManifestLog.currentVersion(spark, dir) == 2,
      "a violating face write published a version")

    // overwrite = versioned REPLACE: head lists only the new rows,
    // every older version still time-travels
    li.limit(20).write.format(fmt)
      .option("path", dir).mode("overwrite").save()
    assert(ManifestLog.currentVersion(spark, dir) == 3)
    assert(ManifestBatchSource.read(spark, dir).count() == 20)
    assert(ManifestLog.read(spark, dir, version = 2).count() == 80)
    val label = ManifestLog.history(spark, dir)
      .filter(col("version") === 3).head().getString(2)
    assert(label == "rewrite", s"replace labeled '$label'")

    // a strict table-tailing consumer refuses the replace version by
    // name — rewritten data must never silently re-deliver
    val ck = Files.createTempDirectory("mbs-write-ck").toString
    val ex = intercept[IllegalStateException] {
      ManifestLog.follow(spark, dir, ck, fromVersion = 1) { (_, _) => () }
    }
    assert(ex.getMessage.contains("v3"), ex.getMessage)
  }

  test("3-axis Hilbert table file-skips on EVERY clustered axis through the SQL face: each single-axis predicate plans a strict subset, the quarter-box is tighter still, values match unpruned, appends keep the triples alive") {
    val dir = Files.createTempDirectory("mbs-3ax").toString
    val li3 = Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val axes = Seq("l_orderkey", "l_partkey", "l_suppkey")
    // 64 files = ~2 Hilbert bits per axis: every file's box spans about
    // a quarter of each axis, so a corner predicate genuinely prunes
    ManifestLog.writeClusteredN(li3.filter(col("l_orderkey") % 2 === 0),
      axes, dir, files = 64)
    val fmt = classOf[ManifestBatchSource].getName

    // quarter-box bounds: the bottom quarter of each axis
    val qs = axes.map(a => a ->
      ManifestLog.read(spark, dir).stat.approxQuantile(a, Array(0.25), 0.0))
    def face() = spark.read.format(fmt).option("path", dir).load()

    def plannedFor(pred: org.apache.spark.sql.Column): (Int, Seq[String]) = {
      ManifestBatchSource.lastPlannedFiles.set(-1)
      val rows = face().filter(pred).collect().map(_.toString).sorted.toSeq
      (ManifestBatchSource.lastPlannedFiles.get(), rows)
    }
    def check(tag: String, pred: org.apache.spark.sql.Column): Int = {
      val total = ManifestLog.snapshot(spark, dir).count().toInt
      val (planned, rows) = plannedFor(pred)
      assert(planned >= 1 && planned < total,
        s"$tag should zone-map-prune files: planned $planned of $total")
      val want = ManifestLog.read(spark, dir).filter(pred)
        .collect().map(_.toString).sorted.toSeq
      assert(rows == want, s"$tag pruned scan diverged from the unpruned read")
      planned
    }

    // each single-axis corner predicate prunes on ITS OWN zone map —
    // including the third axis, which lives in the xs triples
    val perAxis = qs.map { case (a, Array(q25)) =>
      check(s"axis $a", col(a) <= lit(q25.toLong))
    }
    // the quarter-box (all three at once) plans a subset no larger
    // than its tightest single axis
    val box = qs.map { case (a, Array(q25)) =>
      col(a) <= lit(q25.toLong) }.reduce(_ && _)
    val boxPlanned = check("quarter-box", box)
    assert(boxPlanned <= perAxis.min)

    // the Scala read path prunes identically (readPrunedN) — its
    // closed-interval predicates start at each axis's true minimum
    val mins = axes.map(a => ManifestLog.read(spark, dir)
      .agg(min(col(a)).cast("long")).head().getLong(0))
    val preds = axes.zip(mins).zip(qs).map { case ((a, lo), (_, Array(q25))) =>
      (a, lo: Any, q25.toLong: Any) }
    val (prunedDf, survivors, total) = ManifestLog.readPrunedN(spark, dir, preds)
    assert(survivors < total)
    assert(canon(prunedDf) == canon(face().filter(box)))

    // an appendClustered batch carries fresh xs triples — pruning
    // stays alive after maintenance, and the values still match
    ManifestLog.appendClustered(li3.filter(col("l_orderkey") % 2 === 1), dir, files = 4)
    ManifestLog.snapshot(spark, dir).collect().foreach { r =>
      val xs = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("xs")
      assert(xs != null && xs.map(_.getString(0)) == Seq("l_partkey", "l_suppkey"),
        "every file (initial + appended) must carry a triple per axis past the key")
    }
    qs.foreach { case (a, Array(q25)) =>
      check(s"post-append axis $a", col(a) <= lit(q25.toLong))
    }
  }

  test("readChangeFeed face == ManifestLog.changeFeed frame-for-frame across append/MOR-delete/merge/restore; startingVersion=1 bootstraps; net identity rebuilds the head") {
    val dir = Files.createTempDirectory("mbs-cdc").toString
    ManifestLog.write(li.limit(80), "l_orderkey", dir, files = 2)                          // v1
    ManifestLog.append(li.limit(120).except(li.limit(80)), "l_orderkey", dir, files = 2)   // v2
    val keys = ManifestLog.read(spark, dir).select("l_orderkey").distinct().limit(5)
    val (_, deleted) = ManifestLog.deleteMor(keys, "l_orderkey", dir)                      // v3
    assert(deleted > 0L, "fixture: the MOR delete must tombstone rows")
    val upd = ManifestLog.read(spark, dir)
      .orderBy("l_orderkey", "l_partkey").limit(3)
      .withColumn("l_quantity", col("l_quantity") * 2)
    val (rewrote, _) = ManifestLog.merge(upd, "l_orderkey", dir)                           // v4
    assert(rewrote > 0, "fixture: the merge must rewrite at least one file")
    ManifestLog.restore(spark, dir, 2)                                                     // v5
    val head = ManifestLog.currentVersion(spark, dir)
    assert(head == 5)

    // frame-for-frame vs the Scala feed, every version kind in range:
    // append (v2), MOR delete (v3), merge (v4), restore (v5)
    assert(canon(ManifestBatchSource.readChangeFeed(spark, dir, startingVersion = 2)) ==
      canon(ManifestLog.changeFeed(spark, dir, 1, head)),
      "face CDC diverged from ManifestLog.changeFeed over the full range")
    assert(canon(ManifestBatchSource.readChangeFeed(spark, dir, 3, endingVersion = 4)) ==
      canon(ManifestLog.changeFeed(spark, dir, 2, 4)),
      "face CDC diverged on a bounded subrange")

    // startingVersion = 1: the feed opens with v1's rows as inserts
    val boot = ManifestBatchSource.readChangeFeed(spark, dir, 1)
    val body = boot.columns.filterNot(
      c => c == "_change_type" || c == "_commit_version").toSeq
    assert(canon(boot.filter(col("_commit_version") === 1)
        .select(body.map(col): _*)) ==
      canon(ManifestLog.read(spark, dir, version = 1)),
      "bootstrap v1 inserts != v1 table state")
    assert(boot.filter(col("_commit_version") === 1 &&
      col("_change_type") === "delete").count() == 0)

    // net identity: inserts ∖ deletes (multiset) over the whole feed
    // rebuilds the head — the consumer-side replay guarantee
    val net = boot.filter(col("_change_type") === "insert").select(body.map(col): _*)
      .exceptAll(boot.filter(col("_change_type") === "delete").select(body.map(col): _*))
    assert(canon(net) == canon(ManifestLog.read(spark, dir)),
      "replaying the feed did not reconstruct the head")

    // the face is plain SQL from here
    boot.createOrReplaceTempView("graft_cdf_t")
    val byType = spark.sql(
      """SELECT _change_type, COUNT(*) AS n FROM graft_cdf_t
        |GROUP BY _change_type ORDER BY _change_type""".stripMargin).collect()
    assert(byType.map(_.getString(0)).toSeq == Seq("delete", "insert"))

    // option validation: startingVersion required; time travel excluded
    val fmt = classOf[ManifestBatchSource].getName
    intercept[IllegalArgumentException] {
      spark.read.format(fmt).option("path", dir)
        .option("readChangeFeed", "true").load()
    }
    intercept[IllegalArgumentException] {
      spark.read.format(fmt).option("path", dir)
        .option("readChangeFeed", "true").option("startingVersion", "2")
        .option("versionAsOf", "3").load()
    }
  }
}
