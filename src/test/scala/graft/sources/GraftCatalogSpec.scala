package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ManifestLog

/** The SQL DDL face: `CREATE TABLE graft.t USING manifest`,
  * `INSERT INTO`, `SELECT ... VERSION AS OF` must run from PURE SQL
  * and stay value-for-value with [[ManifestLog]] — including a DV'd
  * table after a MOR delete.
  */
class GraftCatalogSpec extends AnyFunSuite {

  private val warehouse = Files.createTempDirectory("graft-wh").toString

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.graft.warehouse", warehouse)
      .getOrCreate()
    // an existing shared session (suites share the local JVM) won't
    // have picked the builder confs up — set them on the live conf too
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
    s
  }

  private def li = Tables.lineitem(spark, "/root/testdata/sf0.01")
    .select("l_orderkey", "l_partkey", "l_quantity")

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
  }

  test("full SQL DDL round trip: CREATE/INSERT/SELECT/time travel/MOR-DV/INSERT OVERWRITE/SHOW/DROP — value-for-value vs ManifestLog") {
    li.limit(100).createOrReplaceTempView("li_src")

    spark.sql("""CREATE TABLE graft.docs (
                   l_orderkey BIGINT, l_partkey BIGINT, l_quantity DECIMAL(12,2))
                 USING manifest TBLPROPERTIES ('statsCol' = 'l_orderkey')""")
    assert(spark.sql("SHOW TABLES IN graft").collect()
      .exists(_.getString(1) == "docs"))
    // created-but-empty: readable, zero rows
    assert(spark.sql("SELECT * FROM graft.docs").count() == 0)

    spark.sql("INSERT INTO graft.docs SELECT * FROM li_src")              // v1
    val path = s"$warehouse/docs"
    assert(ManifestLog.currentVersion(spark, path) == 1)
    assert(canon(spark.table("graft.docs")) == canon(ManifestLog.read(spark, path)))
    assert(spark.sql("SELECT count(*) FROM graft.docs").head().getLong(0) == 100)

    li.limit(140).except(li.limit(100)).createOrReplaceTempView("li_more")
    spark.sql("INSERT INTO graft.docs SELECT * FROM li_more")             // v2
    assert(ManifestLog.currentVersion(spark, path) == 2)
    assert(spark.table("graft.docs").count() == 140)

    // v3: MOR delete — the SQL face must apply the DVs
    val keys = ManifestLog.read(spark, path).select("l_orderkey").distinct().limit(7)
    val (_, deleted) = ManifestLog.deleteMor(keys, "l_orderkey", path)
    assert(deleted > 0L, "fixture: the MOR delete must tombstone rows")
    assert(spark.table("graft.docs").count() == 140 - deleted)
    assert(canon(spark.table("graft.docs")) == canon(ManifestLog.read(spark, path)))

    // time travel from PURE SQL
    assert(spark.sql("SELECT count(*) FROM graft.docs VERSION AS OF 1").head().getLong(0) == 100)
    assert(canon(spark.sql("SELECT * FROM graft.docs VERSION AS OF 2")) ==
      canon(ManifestLog.read(spark, path, version = 2)))
    val ts2 = ManifestLog.history(spark, path)
      .filter(col("version") === 2).head().getTimestamp(1)
    assert(canon(spark.sql(s"SELECT * FROM graft.docs TIMESTAMP AS OF '$ts2'")) ==
      canon(ManifestLog.read(spark, path, version = 2)))

    // INSERT OVERWRITE = versioned replace; older versions still travel
    spark.sql("INSERT OVERWRITE graft.docs SELECT * FROM li_src")         // v4
    assert(spark.table("graft.docs").count() == 100)
    assert(spark.sql("SELECT count(*) FROM graft.docs VERSION AS OF 3")
      .head().getLong(0) == 140 - deleted)

    // predicates reach the manifest zone maps through the catalog face
    val hi = ManifestLog.snapshot(spark, path).orderBy("lo").limit(1)
      .head().get(2).toString.toLong
    ManifestBatchSource.lastPlannedFiles.set(-1)
    spark.sql(s"SELECT * FROM graft.docs WHERE l_orderkey <= $hi").collect()
    val planned = ManifestBatchSource.lastPlannedFiles.get()
    val total = ManifestLog.snapshot(spark, path).count()
    assert(planned >= 1 && planned < total,
      s"catalog scan should zone-map-prune files: planned $planned of $total")

    spark.sql("DROP TABLE graft.docs")
    assert(!spark.catalog.tableExists("graft.docs"))
    assert(!new java.io.File(path).exists(), "managed DROP must delete data")
  }

  test("external LOCATION registers an existing manifest dir; DROP unregisters without deleting; rename; namespaces") {
    val ext = Files.createTempDirectory("graft-ext").toString + "/t"
    ManifestLog.write(li.limit(50), "l_orderkey", ext, files = 2)

    spark.sql(s"CREATE TABLE graft.ext_t USING manifest LOCATION '$ext'")
    assert(spark.table("graft.ext_t").count() == 50)
    assert(canon(spark.table("graft.ext_t")) == canon(ManifestLog.read(spark, ext)))
    // writes through the catalog land in the external dir's log
    li.limit(60).except(li.limit(50)).createOrReplaceTempView("li_ext")
    spark.sql("INSERT INTO graft.ext_t SELECT * FROM li_ext")
    assert(ManifestLog.currentVersion(spark, ext) == 2)

    // RENAME TO takes the new name relative to the same catalog —
    // a "graft."-qualified target would parse as a NAMESPACE
    spark.sql("ALTER TABLE graft.ext_t RENAME TO ext_r")
    assert(spark.table("graft.ext_r").count() == 60)

    spark.sql("DROP TABLE graft.ext_r")
    assert(ManifestLog.currentVersion(spark, ext) == 2,
      "external DROP must NOT delete the data")

    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.raw")
    spark.sql("""CREATE TABLE graft.raw.nested (k BIGINT, v STRING)
                 USING manifest TBLPROPERTIES ('statsCol' = 'k')""")
    spark.sql("INSERT INTO graft.raw.nested VALUES (1, 'a'), (2, 'b')")
    assert(spark.table("graft.raw.nested").count() == 2)
    assert(spark.sql("SHOW TABLES IN graft.raw").collect()
      .exists(_.getString(1) == "nested"))
    spark.sql("DROP TABLE graft.raw.nested")
    spark.sql("DROP NAMESPACE graft.raw")
  }

  test("clustered tables from pure SQL DDL: statsCols declares 2-4 Hilbert axes, the first INSERT lays the layout down, every axis file-skips, appends keep the triples alive") {
    li.limit(2000).createOrReplaceTempView("cl_src")
    spark.sql("""CREATE TABLE graft.cl (
                   l_orderkey BIGINT, l_partkey BIGINT, l_quantity DECIMAL(12,2))
                 USING manifest TBLPROPERTIES ('statsCols' = 'l_orderkey,l_partkey')""")
    spark.sql("INSERT INTO graft.cl SELECT * FROM cl_src")                 // v1, clustered
    val path = s"$warehouse/cl"
    assert(ManifestLog.statsColumn(spark, path).contains("l_orderkey"))
    assert(ManifestLog.statsColumnsX(spark, path) == Seq("l_partkey"),
      "the DDL-declared second axis must register at first write")
    assert(canon(spark.table("graft.cl")) == canon(ManifestLog.read(spark, path)))

    // the SECOND axis prunes files from pure SQL
    val total = ManifestLog.snapshot(spark, path).count().toInt
    assert(total > 1)
    val q25 = ManifestLog.read(spark, path)
      .stat.approxQuantile("l_partkey", Array(0.25), 0.0).head.toLong
    ManifestBatchSource.lastPlannedFiles.set(-1)
    val got = spark.sql(s"SELECT * FROM graft.cl WHERE l_partkey <= $q25")
      .collect().map(_.toString).sorted.toSeq
    val planned = ManifestBatchSource.lastPlannedFiles.get()
    assert(planned >= 1 && planned < total,
      s"second-axis predicate should prune: planned $planned of $total")
    assert(got == ManifestLog.read(spark, path)
      .filter(col("l_partkey") <= q25).collect().map(_.toString).sorted.toSeq)

    // an INSERT INTO append routes through appendClustered — fresh
    // files carry second-axis stats, pruning stays alive at v2
    li.limit(2400).except(li.limit(2000)).createOrReplaceTempView("cl_more")
    spark.sql("INSERT INTO graft.cl SELECT * FROM cl_more")                // v2
    assert(ManifestLog.currentVersion(spark, path) == 2)
    ManifestLog.snapshot(spark, path).collect().foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("xs")),
        "every file (v1 + appended) must carry the second axis's zone map")
    }
    ManifestBatchSource.lastPlannedFiles.set(-1)
    spark.sql(s"SELECT * FROM graft.cl WHERE l_partkey <= $q25").collect()
    assert(ManifestBatchSource.lastPlannedFiles.get() <
      ManifestLog.snapshot(spark, path).count(),
      "post-append second-axis pruning regressed")

    // a non-integral clustering axis is refused at CREATE
    intercept[Exception] {
      spark.sql("""CREATE TABLE graft.cl_bad (a BIGINT, q DECIMAL(12,2))
                   USING manifest TBLPROPERTIES ('statsCols' = 'a,q')""")
    }
    spark.sql("DROP TABLE graft.cl")
  }

  test("streaming READ through the catalog: readStream.table follows INSERTs across triggers; version-pinned reads refuse to stream") {
    val base = Files.createTempDirectory("graft-cat-stream")
    spark.sql("""CREATE TABLE graft.s (k BIGINT, v STRING)
                 USING manifest TBLPROPERTIES ('statsCol' = 'k')""")
    spark.sql("INSERT INTO graft.s VALUES (1, 'a'), (2, 'b')")            // v1
    val q = spark.readStream.option("fromVersion", "1").table("graft.s")
      .writeStream.format("memory").queryName("graft_cat_stream")
      .option("checkpointLocation", base.resolve("ck").toString)
      .start()
    q.processAllAvailable()
    assert(spark.table("graft_cat_stream").count() == 2)
    // the next SQL INSERT arrives as the next micro-batch
    spark.sql("INSERT INTO graft.s VALUES (3, 'c'), (4, 'd')")            // v2
    q.processAllAvailable()
    assert(canon(spark.table("graft_cat_stream")) == canon(spark.table("graft.s")),
      "streamed rows diverged from the table")
    // a table's streaming schema IS the table schema — the
    // version-stamped face stays the dedicated follow format
    assert(!spark.table("graft_cat_stream").columns.contains("_commit_version"))
    q.stop()

    // a version-pinned read is one immutable snapshot — streaming it
    // is refused with a named error
    val ex = intercept[Exception] {
      val q2 = spark.readStream.format(classOf[ManifestBatchSource].getName)
        .option("path", s"$warehouse/s").option("versionAsOf", "1").load()
        .writeStream.format("memory").queryName("graft_cat_stream_pinned")
        .option("checkpointLocation", base.resolve("ck2").toString)
        .start()
      try q2.processAllAvailable() finally q2.stop()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => String.valueOf(m.getMessage)).mkString(" | ")
    assert(msgs.contains("version-pinned"), msgs.take(300))
    spark.sql("DROP TABLE graft.s")
  }
}
