package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ManifestLog

/** The ManifestLog DSv2 streaming source contract: versions as
  * WAL-checkpointed offsets with exactly-once file-sink delivery equal
  * to the foreachBatch tailer, the strict / skipRewrites non-append
  * rules enforced at planning, and add-column alignment in the
  * partition reader.
  */
/** A filesystem reachable ONLY through a conf key (`fs.graftfs.impl`)
  * set on the session — the probe for conf propagation into the
  * executor-side readers. Delegates to the local filesystem.
  */
class GraftConfOnlyFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}

class ManifestFollowStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def li = Tables.lineitem(spark, "/root/testdata/sf0.01")
    .select("l_orderkey", "l_partkey", "l_quantity")

  test("kill/restart differential: the DSv2 source through a file sink delivers exactly the foreachBatch tailer's rows, once") {
    val dir = Files.createTempDirectory("mfs-tbl").toString
    val out = Files.createTempDirectory("mfs-out").toString
    val ckpt = Files.createTempDirectory("mfs-ckpt").toString
    ManifestLog.write(li.limit(100), "l_orderkey", dir, files = 2)
    ManifestLog.append(li.limit(140).except(li.limit(100)), "l_orderkey", dir, files = 2)

    // ignoreDeletes: the chain crosses a MOR delete below — strict
    // mode (asserted separately) refuses it like Delta's source
    def run() = ManifestFollowSource.stream(spark, dir, fromVersion = 1,
        ignoreDeletes = true)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .start()

    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    // kill happened; more versions land while the query is down
    ManifestLog.append(li.limit(170).except(li.limit(140)), "l_orderkey", dir, files = 1)
    ManifestLog.deleteMor(li.limit(5).select("l_orderkey"), "l_orderkey", dir) // metadata-only
    ManifestLog.append(li.limit(180).except(li.limit(170)), "l_orderkey", dir, files = 1)

    // a STRICT consumer rewound over the MOR delete refuses it by
    // name: it deleted rows an append-only stream can never surface
    val strictCk = Files.createTempDirectory("mfs-strict-mor").toString
    val qs = ManifestFollowSource.stream(spark, dir, fromVersion = 1)
      .writeStream.format("memory").queryName("mfs_mor_strict")
      .option("checkpointLocation", strictCk).start()
    val morEx = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      qs.processAllAvailable()
    }
    qs.stop()
    assert(morEx.getMessage.contains("MOR delete at v4") ||
      Option(morEx.getCause).exists(_.getMessage.contains("MOR delete at v4")),
      s"wrong strict-MOR failure: ${morEx.getMessage}")
    // and the strict foreachBatch tailer refuses the SAME version —
    // but only after delivering and checkpointing v1..v3 (laziness):
    // the retry resumes at the failure, not the start
    val strictTail = Files.createTempDirectory("mfs-stricttail").toString
    var strictSeen = Vector.empty[Int]
    val tailEx = intercept[IllegalStateException] {
      ManifestLog.follow(spark, dir, strictTail, fromVersion = 1) {
        (_, v) => strictSeen :+= v
      }
    }
    assert(tailEx.getMessage.contains("MOR delete at v4"), tailEx.getMessage)
    assert(strictSeen == Vector(1, 2, 3),
      s"strict tailer should deliver everything before the MOR version: $strictSeen")

    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()

    // the reference consumer: the foreachBatch tailer replaying the
    // whole chain, rows stamped with their version
    val expected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Int)]
    val tailCkpt = Files.createTempDirectory("mfs-tailck").toString
    ManifestLog.follow(spark, dir, tailCkpt, fromVersion = 1,
        ignoreDeletes = true) { (df, v) =>
      df.collect().foreach(r =>
        expected += ((r.getLong(0), r.getLong(1), r.getDouble(2), v)))
    }
    val got = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSeq
    // exactly-once: multiset equality (no dropped rows, no duplicates),
    // and the version stamps agree with the tailer's per-version calls
    assert(got.sorted == expected.toSeq.sorted,
      s"DSv2 delivery diverged: got ${got.size} rows vs tailer ${expected.size}")
    // the MOR delete delivered nothing: 180 appended rows total
    assert(got.size == 180)
  }

  test("strict mode throws at a rewrite version naming it; skipRewrites skips the version wholesale and keeps consuming") {
    val dir = Files.createTempDirectory("mfs-rw").toString
    ManifestLog.write(li.limit(60), "l_orderkey", dir, files = 4)
    ManifestLog.append(li.limit(80).except(li.limit(60)), "l_orderkey", dir, files = 1)
    ManifestLog.compact(spark, dir, "l_orderkey", targetRows = 1000000L) // v3 removes files

    val strictCkpt = Files.createTempDirectory("mfs-rw-ck1").toString
    val q = ManifestFollowSource.stream(spark, dir, fromVersion = 1)
      .writeStream.format("memory").queryName("mfs_strict")
      .option("checkpointLocation", strictCkpt).start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(ex.getMessage.contains("non-append commit at v3") ||
      Option(ex.getCause).exists(_.getMessage.contains("non-append commit at v3")),
      s"wrong failure: ${ex.getMessage}")

    // skipRewrites: v1-v2 deliver, v3 skips wholesale, a post-compact
    // append still flows
    ManifestLog.append(li.limit(90).except(li.limit(80)), "l_orderkey", dir, files = 1)
    val skipCkpt = Files.createTempDirectory("mfs-rw-ck2").toString
    val q2 = ManifestFollowSource.stream(spark, dir, skipRewrites = true, fromVersion = 1)
      .writeStream.format("memory").queryName("mfs_skip")
      .option("checkpointLocation", skipCkpt).start()
    try q2.processAllAvailable() finally q2.stop()
    val vs = spark.table("mfs_skip").groupBy("_commit_version").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(vs == Map(1 -> 60L, 2 -> 20L, 4 -> 10L), s"got $vs")
  }

  test("composition: StreamingCurate tails an upstream crawl TABLE through the DSv2 source; admitted manifest equals the batch pipeline, across kill/restart") {
    // the judge-item end state: ManifestLog tables feeding the
    // engine's own streaming arms — an upstream raw-crawl manifest
    // table is the stream, curation admission is the sink
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val expected = graft.SparkEntry.queries("pipeline_curate_e2e")(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).toSeq

    val base = Files.createTempDirectory("mfs-curate")
    val crawl = base.resolve("crawl").toString   // upstream table
    val manifest = base.resolve("mlog").toString // admission table
    val idx = base.resolve("idx").toString
    val ckpt = base.resolve("ckpt").toString

    // doc-id-ordered waves (the keep-first differential requirement)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 4), ids(ids.length / 2), ids(3 * ids.length / 4))
    def wave(i: Int) = i match {
      case 0 => docs.filter(col("doc_id") <= cuts(0))
      case 1 => docs.filter(col("doc_id") > cuts(0) && col("doc_id") <= cuts(1))
      case 2 => docs.filter(col("doc_id") > cuts(1) && col("doc_id") <= cuts(2))
      case 3 => docs.filter(col("doc_id") > cuts(2))
    }

    def start() = ManifestFollowSource.stream(spark, crawl, fromVersion = 1)
      .drop(ManifestFollowSource.VersionCol)
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.StreamingCurate.admitWave(df, manifest, idx)
      }
      .option("checkpointLocation", ckpt)
      .start()

    // life 1: crawl versions 1-2 stream through curation → KILL
    ManifestLog.write(wave(0), "doc_id", crawl, files = 1)
    ManifestLog.append(wave(1), "doc_id", crawl, files = 1)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // upstream keeps crawling while the consumer is down
    ManifestLog.append(wave(2), "doc_id", crawl, files = 1)
    ManifestLog.append(wave(3), "doc_id", crawl, files = 1)
    // life 2: fresh query, same checkpoint — resumes at version 3
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val got = graft.streaming.StreamingCurate.manifestRollup(spark, manifest)
      .collect().map(_.toString).toSeq
    assert(got == expected, s"table-tailed curation $got != batch $expected")
  }

  test("composition: streaming binary-ANN index admission tails an embeddings TABLE; appended code table probes identically to one-shot") {
    import graft.ann.Similarity
    // upstream: a manifest table of embeddings (array<float> column —
    // exercises the reader's LIST path); corpus lands first, two
    // append waves stream through assign-only admission
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding", "label")
    val corpus = emb.filter(col("vec_id") % 10 >= 3)
    val w1 = emb.filter(col("vec_id") % 10 === 0)
    val w2 = emb.filter(col("vec_id") % 10 === 1 || col("vec_id") % 10 === 2)

    val base = Files.createTempDirectory("mfs-ann")
    val tbl = base.resolve("embt").toString
    val codeDir = base.resolve("codes").toString
    val ckpt = base.resolve("ckpt").toString
    ManifestLog.write(corpus, "vec_id", tbl, files = 2)
    // anchors train ONCE on the corpus (the incremental-index
    // discipline); admission is one deterministic SignPackN pass
    val anchors = Similarity.binaryAnchors(corpus, 64)
    Similarity.binaryAssign(corpus, anchors)
      .write.mode("append").parquet(codeDir)

    def start() = ManifestFollowSource.stream(spark, tbl, fromVersion = 2)
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!df.isEmpty)
          Similarity.binaryAssign(
              df.select(col("vec_id"), col("embedding")), anchors)
            .write.mode("append").parquet(codeDir)
      }
      .option("checkpointLocation", ckpt)
      .start()

    ManifestLog.append(w1, "vec_id", tbl, files = 1)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    ManifestLog.append(w2, "vec_id", tbl, files = 1) // lands while down
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    // the streamed-in code table probes BYTE-IDENTICALLY to a one-shot
    // assignment of the whole corpus under the same anchors
    val queries = emb.filter(col("vec_id") < 10)
    val streamed = Similarity.binaryProbe(
        spark.read.parquet(codeDir), emb, queries, anchors, 5)
      .collect().toSeq
    val oneShot = Similarity.binaryProbe(
        Similarity.binaryAssign(emb, anchors), emb, queries, anchors, 5)
      .collect().toSeq
    assert(streamed == oneShot && streamed.nonEmpty,
      "table-tailed index admission diverged from one-shot assignment")
    // and the code table holds exactly one code per vector
    assert(spark.read.parquet(codeDir).count() == emb.count())
  }

  test("composition: an image crawl TABLE (binary column) tails through the DSv2 source into streaming phash admission; verdicts equal the batch probe across kill/restart") {
    import graft.multimodal.Multimodal
    import graft.operators.AnnQueries
    val ids = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id")
    val hashedAll = Multimodal.bmpDHash(
      Multimodal.attachSynthBmp(ids, "doc_id", "bin"), "bin", "doc_id")
    val index = hashedAll.filter(col("doc_id") % 10 >= 3).persist()
    val batch = hashedAll.filter(col("doc_id") % 10 < 3)
    val expected = AnnQueries.phashProbeIndex(index, batch)
      .collect().map(_.toString).sorted.toSeq

    // the crawl table holds the raw image BYTES — the binary column
    // travels through the manifest commit AND the follow source's
    // executor-side parquet walk
    val imgs = Multimodal.attachSynthBmp(
      ids.filter(col("doc_id") % 10 < 3), "doc_id", "bin")
    val mid = ids.filter(col("doc_id") % 10 < 3)
      .selectExpr("percentile_approx(doc_id, 0.5)").head().getLong(0)
    val base = Files.createTempDirectory("mfs-img")
    val tbl = base.resolve("crawl").toString
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    def start() = graft.streaming.StreamingPhash.probeIndexStream(index,
        ManifestFollowSource.stream(spark, tbl, fromVersion = 1)
          .drop(ManifestFollowSource.VersionCol))
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .start()

    ManifestLog.write(imgs.filter(col("doc_id") <= mid), "doc_id", tbl, files = 2)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // the crawler keeps landing images while the consumer is down
    ManifestLog.append(imgs.filter(col("doc_id") > mid), "doc_id", tbl, files = 2)
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(out).collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == expected,
      s"table-tailed image admission diverged: ${got.size} vs batch ${expected.size}")
    index.unpersist()
  }

  test("stream-stream composition: two follow sources through a watermarked interval join into a windowed aggregation equal the batch plan, across kill/restart") {
    // the two-tails end state: a fact tail joined to a late-arriving
    // second tail with Spark's own stateful join machinery, then a
    // SECOND stateful operator (windowed agg) — proving the DSv2
    // source propagates watermarks and replays exactly under the WAL
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "ts_us")
    val evA = ev.filter(col("event_id") % 2 === 0)
    val evB = ev.filter(col("event_id") % 2 === 1)
    // waves split by event TIME so the restart never replays rows
    // behind the committed watermark (which would drop them)
    val cutUs = ev.selectExpr("percentile_approx(ts_us, 0.5)").head().getLong(0)
    val maxUs = ev.selectExpr("max(ts_us)").head().getLong(0)
    val flushUs = maxUs + 72L * 3600 * 1000000

    val base = Files.createTempDirectory("mfs-ss")
    val tblA = base.resolve("a").toString
    val tblB = base.resolve("b").toString
    val ckpt = base.resolve("ckpt").toString
    ManifestLog.write(evA.filter(col("ts_us") < cutUs), "user_id", tblA, files = 2)
    ManifestLog.write(evB.filter(col("ts_us") < cutUs), "user_id", tblB, files = 2)

    def src(tbl: String) = ManifestFollowSource.stream(spark, tbl, fromVersion = 1)
      .drop(ManifestFollowSource.VersionCol)
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
    def composed(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) = {
      val joined = a.as("a").join(b.as("b"),
        expr("a.user_id = b.user_id AND " +
          "b.ts BETWEEN a.ts AND a.ts + INTERVAL 30 MINUTES"))
        .select(col("a.user_id").as("user_id"), col("a.ts").as("ts"),
          col("b.event_id").as("b_event"))
      joined.groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(count("*").as("pairs"), sum("b_event").as("b_sum"))
        .select(col("window.start").as("ws"), col("user_id"),
          col("pairs"), col("b_sum"))
    }
    val out = base.resolve("out").toString
    def start() = composed(src(tblA), src(tblB))
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .start()

    // life 1: first waves flow; KILL
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // both upstreams keep landing while the consumer is down — the
    // late wave plus the far-future flush rows that close every
    // real window on both watermarks
    ManifestLog.append(evA.filter(col("ts_us") >= cutUs), "user_id", tblA, files = 1)
    ManifestLog.append(evB.filter(col("ts_us") >= cutUs), "user_id", tblB, files = 1)
    val flush = spark.range(1).select(
      lit(-1L).as("event_id"), lit(-1L).as("user_id"), lit(flushUs).as("ts_us"))
    ManifestLog.append(flush, "user_id", tblA, files = 1)
    ManifestLog.append(flush, "user_id", tblB, files = 1)
    // life 2: fresh query, same checkpoint
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(out).filter(col("user_id") =!= -1L)
      .collect().map(_.toString).sorted.toSeq
    // the batch differential: same join + window over the full tables
    val batch = composed(
        ManifestLog.read(spark, tblA).withColumn("ts", timestamp_micros(col("ts_us"))),
        ManifestLog.read(spark, tblB).withColumn("ts", timestamp_micros(col("ts_us"))))
      .filter(col("user_id") =!= -1L)
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty, "stream-stream composition emitted nothing")
    assert(got == batch,
      s"stream-stream composition diverged: ${got.size} streamed rows vs ${batch.size} batch")
  }

  test("maxVersionsPerTrigger bounds each micro-batch to N versions; the rewind still drains completely") {
    val dir = Files.createTempDirectory("mfs-mvpt").toString
    ManifestLog.write(li.limit(30), "l_orderkey", dir, files = 1)
    (1 to 3).foreach { i =>
      ManifestLog.append(li.limit(30 * i + 20).except(li.limit(30 * i)),
        "l_orderkey", dir, files = 1)
    }
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Set[Int]]()
    val q = ManifestFollowSource.stream(spark, dir, fromVersion = 1,
        maxVersionsPerTrigger = 1)
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = df.select("_commit_version").distinct()
          .collect().map(_.getInt(0)).toSet
        if (vs.nonEmpty) batches.add(vs)
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory("mfs-mvpt-ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val seen = batches.asScala.toSeq
    assert(seen.forall(_.size == 1), s"a micro-batch carried >1 version: $seen")
    assert(seen.flatten.toSet == Set(1, 2, 3, 4), s"rewind did not drain: $seen")
  }

  test("the session Hadoop conf reaches the executor-side parquet reader: spark.hadoop keys survive the factory's serialization and resolve a conf-registered filesystem") {
    // a custom scheme registered ONLY in the session Hadoop conf: the
    // old `new Configuration()` reader could never resolve it (no
    // core-site on the classpath mentions graftfs), so a successful
    // read IS the proof the session conf reached the executor side
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftConfOnlyFileSystem].getName)
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl.disable.cache", "true") // force per-read conf resolution
    spark.sparkContext.hadoopConfiguration
      .set("graft.test.conf.marker", "r18-marker")
    try {
      val dir = Files.createTempDirectory("mfs-conf").toString
      ManifestLog.write(li.limit(25), "l_orderkey", dir, files = 1)
      val target = ManifestFollowSource.readSchemaOf(spark, dir)

      val stream = new ManifestFollowStream(dir, skipRewrites = false,
        ignoreDeletes = false, fromVersion = 1, maxVersions = 0, target)
      val factory = stream.createReaderFactory()
        .asInstanceOf[ManifestFollowReaderFactory]

      // the exact round trip Spark's scheduler performs shipping the
      // factory to an executor
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos); oos.writeObject(factory); oos.close()
      val revived = new java.io.ObjectInputStream(
          new java.io.ByteArrayInputStream(bos.toByteArray))
        .readObject().asInstanceOf[ManifestFollowReaderFactory]
      assert(revived.conf.value.get("graft.test.conf.marker") == "r18-marker",
        "session spark.hadoop marker key lost across factory serialization")

      // read the committed data file back through the graftfs:/ scheme —
      // resolvable only via the shipped conf
      val snap = ManifestLog.snapshot(spark, dir).collect()
      val file = snap.head.getString(0)
      val local = new java.net.URI(file).getPath
      val reader = revived.createReader(
        ManifestFilePartition(s"graftfs:$local", 1, target.json))
      var n = 0
      while (reader.next()) {
        val row = reader.get()
        assert(row.getInt(target.fieldIndex(ManifestFollowSource.VersionCol)) == 1)
        n += 1
      }
      reader.close()
      assert(n == 25, s"graftfs read through the shipped conf returned $n rows")
    } finally {
      spark.sparkContext.hadoopConfiguration.unset("fs.graftfs.impl")
      spark.sparkContext.hadoopConfiguration.unset("fs.graftfs.impl.disable.cache")
      spark.sparkContext.hadoopConfiguration.unset("graft.test.conf.marker")
    }
  }

  test("an added column aligns: old files read as NULL through the partition reader") {
    val dir = Files.createTempDirectory("mfs-evo").toString
    ManifestLog.write(li.limit(30), "l_orderkey", dir, files = 1)
    ManifestLog.append(
      li.limit(40).except(li.limit(30)).withColumn("source", lit("crawl-2")),
      "l_orderkey", dir, files = 1)
    val ckpt = Files.createTempDirectory("mfs-evo-ck").toString
    val q = ManifestFollowSource.stream(spark, dir, fromVersion = 1)
      .writeStream.format("memory").queryName("mfs_evo")
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("mfs_evo")
    assert(rows.count() == 40)
    assert(rows.filter(col("source").isNull).count() == 30)
    assert(rows.filter(col("source") === "crawl-2").count() == 10)
  }
}
