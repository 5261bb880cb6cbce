package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned zone-map manifests: snapshot isolation and time travel
  * for manifest-tracked parquet tables — the lakehouse transaction-log
  * core (Delta/Iceberg snapshots) reduced to its data-skipping
  * essence, on vanilla parquet.
  *
  * Layout: the initial load lands flat under `path`; every later
  * MUTATION (append, compaction, merge) writes its data files into a
  * uniquely-named `path/b-*` batch dir (append-only; a writer never
  * mutates an existing data file, and unique dirs mean concurrent
  * writers can each identify their own files without racing on a
  * directory diff), and commits one SNAPSHOT — a pointer file
  * `path/_mlog/v%05d` naming a payload dir that holds one
  * (file, lo, hi, rows, dv, xs) row per file live at that version:
  * `lo`/`hi` bound the key column in its own type, `dv` names the
  * file's deletion vector and `xs` holds one LONG (column, lo, hi)
  * zone map per clustered axis past the key. Tables written before
  * the axes shared `xs` read as this shape through the legacy shim
  * ([[normalizeSnap]]). Readers resolve a
  * snapshot FIRST and read only its file list, never the directory:
  *  - a reader pinned at version N is untouched by later appends AND
  *    by compaction rewrites (old files stay on disk until vacuum);
  *  - the latest version is always a consistent view — a crashed
  *    append leaves orphan data files that no snapshot references
  *    (invisible to every reader, reclaimed by vacuum), never a
  *    half-visible table.
  * `vacuum(retain)` deletes data files referenced by NO retained
  * snapshot plus the expired snapshots themselves — the only
  * destructive operation, explicitly deferred like Delta's VACUUM.
  *
  * DELETES come in two disciplines: [[delete]] is copy-on-write
  * (affected files rewrite minus the keyed rows — pay the rewrite
  * now, reads stay plain scans) and [[deleteMor]] is merge-on-read
  * (affected files gain a DELETION VECTOR — a (file, row position)
  * parquet sidecar named by the snapshot's `dv` column; reads apply
  * it as one anti-join via [[read]], and the next [[compact]] of
  * those files turns the tombstones into a physical purge). At 100 TB
  * the MOR path is the only affordable frequent-erasure shape: a
  * daily right-to-be-forgotten batch touches kilobytes of sidecar
  * instead of rewriting every terabyte file that holds a match.
  *
  * CONCURRENCY: commits are optimistic. A snapshot's payload is
  * written to a uniquely-named dir first; publishing version v is ONE
  * atomic create-fails-if-exists of the pointer file `_mlog/v%05d`
  * (the version CAS — the same primitive Delta's log uses). Two
  * concurrent appends both survive: the loser re-reads the new head
  * and re-commits old∪new at head+1 (appends always compose).
  * Compact/merge re-validate on a lost race — the rewrite composes
  * iff every file it replaced is still live at the new head (and, for
  * merge, no concurrently-appended file overlaps the update keys);
  * otherwise they throw instead of silently dropping the other
  * writer's rows. A crashed commit leaves an unreferenced payload dir
  * (invisible; vacuum reclaims it once it ages past the retention
  * window), or — if the crash hit between creating the pointer and
  * writing the payload name into it — an empty pointer, which any
  * later reader repairs away after a 1 s grace (resolvePayload).
  *
  * The pointer CAS requires an ATOMIC-EXCLUSIVE create — true of
  * HDFS and ABFS `FileSystem.create(path, overwrite=false)`, NOT of
  * bare S3A (Delta needs an external LogStore there for the same
  * reason); on an S3-backed deployment front this log with such a
  * coordination layer. Hadoop's LOCAL filesystem create is
  * check-then-act (no O_EXCL), so on `file:` schemes the CAS uses
  * NIO `Files.createFile` instead (see tryCommit).
  *
  * Snapshots are kilobytes at any table size, so every planning
  * decision here is driver-side metadata work.
  */
object ManifestLog {

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(path: String) = s"$path/_mlog"

  private def vDir(path: String, v: Int) = f"${logDir(path)}/v$v%05d"

  private def metaPath(path: String) = s"${logDir(path)}/_meta"

  /** All snapshot versions present, ascending (empty = no table).
    * Pointer files are the CAS layout; directories are accepted for
    * tables written by pre-CAS builds.
    */
  def versions(spark: SparkSession, path: String): Seq[Int] = {
    val dir = new org.apache.hadoop.fs.Path(logDir(path))
    val f = fs(spark, path)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).iterator
      // \d+ not \d{5}: %05d PADS to 5 digits but prints 6+ past v99999 —
      // an anchored {5} would silently stop listing a long-lived table's
      // newest versions (and stop vacuuming its checkpoints)
      .flatMap(s => "^v(\\d+)$".r.findFirstMatchIn(s.getPath.getName).map(_.group(1).toInt))
      .toSeq.sorted
  }

  def currentVersion(spark: SparkSession, path: String): Int =
    versions(spark, path).lastOption.getOrElse(0)

  /** Resolve version v's payload dir: pointer file → named payload
    * (re-read briefly if the pointer was created but its content not
    * yet flushed by a concurrent committer); legacy directory → itself.
    * None = v is a CRASHED commit: the committer died between creating
    * the pointer and writing the payload name into it. After the retry
    * budget (~1 s, far past any create→write gap of a live committer)
    * the empty pointer is deleted — best-effort repair, so the version
    * slot frees up and later reads and commits proceed instead of
    * every reader of v (and vacuum) failing forever.
    */
  private def resolvePayload(spark: SparkSession, path: String, v: Int): Option[String] = {
    val marker = new org.apache.hadoop.fs.Path(vDir(path, v))
    val f = fs(spark, path)
    if (f.getFileStatus(marker).isDirectory) return Some(vDir(path, v))
    var tries = 0
    while (tries < 200) {
      val in = f.open(marker)
      val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      // line 1 = payload name; later lines carry commit metadata (the
      // streaming sink's txn marker) — never part of the payload path
      if (content.nonEmpty)
        return Some(s"${logDir(path)}/${content.linesIterator.next().trim}")
      tries += 1
      Thread.sleep(5)
    }
    try f.delete(marker, false) catch { case _: java.io.IOException => () }
    None
  }

  private def snapshotDir(spark: SparkSession, path: String, v: Int): String =
    resolvePayload(spark, path, v).getOrElse(sys.error(
      s"version $v under $path was a crashed commit (pointer created, payload name " +
        "never written) — the empty pointer has been repaired away; retry the read"))

  /** The stats snapshot at `version` (−1 = latest): one row per live
    * data file, (file, lo, hi, rows, dv, xs). `dv` is the deletion-vector
    * batch dir holding this file's dead row positions (NULL = none);
    * `xs` the file's zone maps on the clustered axes past the key
    * (NULL on unclustered tables).
    */
  def snapshot(spark: SparkSession, path: String, version: Int = -1): DataFrame = {
    val v = if (version > 0) version else currentVersion(spark, path)
    require(v > 0, s"no snapshots under $path")
    readPayloadDir(spark, path, snapshotDir(spark, path, v))
  }

  /** Snapshot type of the `xs` column: per-file (column, lo, hi)
    * zone-map triples for every clustered axis past the key — always
    * LONG bounds (integral clustering columns only, one canonical
    * manifest type). NULL array or missing entry = unknown = the
    * pruners keep the file.
    */
  private[operators] val XsSqlType = "array<struct<c:string,lo:bigint,hi:bigint>>"

  /** Bring a payload to the one snapshot shape (file, lo, hi, rows,
    * dv, xs). Payloads written before the MOR-delete era lack `dv` and
    * unclustered ones may lack `xs`: both normalize to NULL. A table
    * written before every clustered axis moved into `xs` maps through
    * [[legacyAxisPayload]], so it reads exactly like a new one.
    */
  private def normalizeSnap(spark: SparkSession, path: String, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    var out = legacyAxisPayload(spark, path, df)
    if (!out.columns.contains("dv"))
      out = out.withColumn("dv", lit(null).cast("string"))
    if (!out.columns.contains("xs"))
      out = out.withColumn("xs", lit(null).cast(XsSqlType))
    out.select("file", "lo", "hi", "rows", "dv", "xs")
  }

  // ---- legacy layout read shim ----
  //
  // Tables written before the clustered axes shared one encoding kept
  // the SECOND axis apart: LONG `lo2`/`hi2` payload columns (on every
  // payload of that era, NULL unless clustered) and a `statsCol2=` meta
  // line, with `statsColsX=` naming only the axes after it. Both read
  // here as the current layout — the second axis becomes the first
  // `xs` entry — so such a table prunes, appends, compacts and
  // time-travels like a new one, and its next commit writes the
  // six-column shape.

  /** The clustered axes past the key, in clustering order, from the
    * table's meta lines (empty = unclustered).
    */
  private def axesOf(lines: Seq[String]): Seq[String] = {
    def value(k: String) = lines.collectFirst { case l if l.startsWith(k) => l.stripPrefix(k).trim }
    value("statsCol2=").toSeq ++
      value("statsColsX=").toSeq.flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
  }

  /** A legacy payload's `lo2`/`hi2` as its first `xs` entry (a NULL
    * range stays unknown: no entry). Payloads without the columns pass
    * through; only legacy ones pay the meta read that names the axis.
    */
  private def legacyAxisPayload(spark: SparkSession, path: String, df: DataFrame): DataFrame = {
    if (!df.columns.contains("lo2")) return df
    import org.apache.spark.sql.functions._
    val xs = if (df.columns.contains("xs")) col("xs") else lit(null).cast(XsSqlType)
    val folded = axesOf(readMetaLines(spark, path)).headOption match {
      case Some(c2) =>
        when(col("lo2").isNull, xs).otherwise(concat(
          array(struct(lit(c2).as("c"), col("lo2").as("lo"), col("hi2").as("hi")))
            .cast(XsSqlType),
          coalesce(xs, array().cast(XsSqlType))))
      case None => xs
    }
    df.withColumn("xs", folded).drop("lo2", "hi2")
  }

  /** Payload parquet reads — the unit the log-checkpoint design
    * bounds: a chain walk (history/follow) must read O(versions since
    * the last checkpoint) payloads, not O(all versions). Test-visible
    * so the spec can count.
    */
  private[operators] val payloadReads = new java.util.concurrent.atomic.AtomicLong

  private def readPayloadDir(spark: SparkSession, path: String, dir: String): DataFrame = {
    payloadReads.incrementAndGet()
    readPayloadRowsDriver(spark, dir) match {
      case Some((rows, schema)) =>
        import scala.jdk.CollectionConverters._
        normalizeSnap(spark, path, spark.createDataFrame(rows.asJava, schema))
      case None => normalizeSnap(spark, path, spark.read.parquet(dir))
    }
  }

  // ---- driver-side payload parquet I/O ----
  //
  // A snapshot payload is KILOBYTES at any table size (one row per
  // live file; the class doc's "every planning decision here is
  // driver-side metadata work"). Routing it through spark.read /
  // DataFrame.write costs a schema-inference pass plus a distributed
  // job per access — the lake queries spent more wall time scheduling
  // metadata jobs than scanning data. Both directions now use the
  // parquet example Group API on the driver: reads return LocalRelation
  // frames (collect/join/broadcast without a cluster round trip),
  // commits write their payload file in driver microseconds. Any
  // payload outside the manifest type lattice (int/long/float/double/
  // string lo-hi, the standard 3-level xs list) falls back to the
  // Spark path unchanged — correctness never depends on the fast path.

  private val StringAnnotation =
    org.apache.parquet.schema.LogicalTypeAnnotation.stringType()

  /** Map a manifest-lattice parquet primitive to its Spark type; None
    * = outside the lattice (timestamps, decimals, dates — legacy or
    * exotic payloads) → the caller falls back to spark.read.
    */
  private def latticeType(t: org.apache.parquet.schema.Type)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    if (!t.isPrimitive) return None
    val p = t.asPrimitiveType()
    (p.getPrimitiveTypeName, p.getLogicalTypeAnnotation) match {
      case (INT32, null)              => Some(IntegerType)
      case (INT64, null)              => Some(LongType)
      case (FLOAT, null)              => Some(FloatType)
      case (DOUBLE, null)             => Some(DoubleType)
      case (BINARY, StringAnnotation) => Some(StringType)
      case _                          => None
    }
  }

  /** Read a payload dir's rows on the driver. None = fall back to the
    * Spark reader (unknown schema shape, unreadable file).
    */
  private def readPayloadRowsDriver(spark: SparkSession, dir: String)
      : Option[(Seq[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)] = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val conf = spark.sessionState.newHadoopConf()
      val f = p.getFileSystem(conf)
      val parts = f.listStatus(p).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
      if (parts.isEmpty) return None

      var schema: StructType = null
      var fields: Seq[(String, DataType)] = null
      val rows = Seq.newBuilder[org.apache.spark.sql.Row]
      for (part <- parts) {
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), part.getPath)
          .withConf(conf).build()
        try {
          var g = reader.read()
          // schema from the footer even when the part holds no rows
          val mt = org.apache.parquet.hadoop.ParquetFileReader
            .open(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(part.getPath, conf))
          val msgType = try mt.getFooter.getFileMetaData.getSchema finally mt.close()
          val partFields: Seq[(String, DataType)] = msgType.getFields.asScala.toSeq.map { t =>
            val dt: DataType =
              if (t.isPrimitive) latticeType(t).getOrElse(return None)
              else {
                // the xs list: optional group (LIST) { repeated group {
                // optional group { c: string, lo: int64, hi: int64 } } }
                if (t.asGroupType().getFieldCount != 1) return None
                val rep = t.asGroupType().getType(0)
                if (rep.isPrimitive || rep.asGroupType().getFieldCount != 1) return None
                val el = rep.asGroupType().getType(0)
                if (el.isPrimitive) return None
                val eg = el.asGroupType()
                val efs = eg.getFields.asScala.toSeq
                  .map(ft => StructField(ft.getName, latticeType(ft).getOrElse(return None)))
                ArrayType(StructType(efs))
              }
            t.getName -> dt
          }
          if (schema == null) {
            fields = partFields
            schema = StructType(partFields.map { case (n, dt) => StructField(n, dt) })
          } else if (partFields != fields) return None

          while (g != null) {
            val vals = fields.zipWithIndex.map { case ((name, dt), i) =>
              if (g.getFieldRepetitionCount(i) == 0) null
              else dt match {
                case IntegerType => g.getInteger(i, 0)
                case LongType    => g.getLong(i, 0)
                case FloatType   => g.getFloat(i, 0)
                case DoubleType  => g.getDouble(i, 0)
                case StringType  => g.getBinary(i, 0).toStringUsingUTF8
                case ArrayType(StructType(efs), _) =>
                  val lst = g.getGroup(i, 0)
                  (0 until lst.getFieldRepetitionCount(0)).map { j =>
                    val wrap = lst.getGroup(0, j)
                    val el = wrap.getGroup(0, 0)
                    org.apache.spark.sql.Row.fromSeq(efs.toSeq.zipWithIndex.map {
                      case (ef, k) =>
                        if (el.getFieldRepetitionCount(k) == 0) null
                        else ef.dataType match {
                          case LongType   => el.getLong(k, 0)
                          case IntegerType => el.getInteger(k, 0)
                          case StringType => el.getBinary(k, 0).toStringUsingUTF8
                          case _          => return None
                        }
                    })
                  }
                case _ => return None
              }
            }
            rows += org.apache.spark.sql.Row.fromSeq(vals)
            g = reader.read()
          }
        } finally reader.close()
      }
      Some((rows.result(), schema))
    } catch { case _: Exception => None }
  }

  /** Write a payload's rows as ONE parquet part on the driver. False =
    * schema outside the manifest lattice — caller uses the Spark
    * writer. The layout (standard 3-level xs list, string-annotated
    * binaries) is exactly what the Spark writer produces, so either
    * reader reads either writer's payloads.
    */
  private def writePayloadDriver(spark: SparkSession, dir: String,
                                 rows: Seq[org.apache.spark.sql.Row],
                                 schema: org.apache.spark.sql.types.StructType): Boolean = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def primOf(dt: DataType, name: String): Option[org.apache.parquet.schema.Type] = dt match {
      case IntegerType => Some(Types.optional(INT32).named(name))
      case LongType    => Some(Types.optional(INT64).named(name))
      case FloatType   => Some(Types.optional(FLOAT).named(name))
      case DoubleType  => Some(Types.optional(DOUBLE).named(name))
      case StringType  => Some(Types.optional(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(name))
      case _           => None
    }
    val fieldTypes = schema.fields.map { sf =>
      sf.dataType match {
        case ArrayType(StructType(efs), _) =>
          var eb = Types.optionalGroup()
          for (ef <- efs) eb = eb.addField(primOf(ef.dataType, ef.name).getOrElse(return false))
          Types.optionalList().element(eb.named("element")).named(sf.name)
        case dt => primOf(dt, sf.name).getOrElse(return false)
      }
    }
    val msgType = fieldTypes
      .foldLeft(Types.buildMessage()
        : Types.GroupBuilder[org.apache.parquet.schema.MessageType])(_.addField(_))
      .named("spark_schema")
    try {
      val conf = spark.sessionState.newHadoopConf()
      val dirPath = new org.apache.hadoop.fs.Path(dir)
      dirPath.getFileSystem(conf).mkdirs(dirPath)
      val file = new org.apache.hadoop.fs.Path(dir, "part-00000.parquet")
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
        .withConf(conf).withType(msgType).build()
      val fac = new org.apache.parquet.example.data.simple.SimpleGroupFactory(msgType)
      try {
        for (r <- rows) {
          val g = fac.newGroup()
          schema.fields.zipWithIndex.foreach { case (sf, i) =>
            val v = r.get(i)
            if (v != null) sf.dataType match {
              case IntegerType => g.add(sf.name, v.asInstanceOf[Int])
              case LongType    => g.add(sf.name, v.asInstanceOf[Number].longValue())
              case FloatType   => g.add(sf.name, v.asInstanceOf[Float])
              case DoubleType  => g.add(sf.name, v.asInstanceOf[Double])
              case StringType  => g.add(sf.name, v.asInstanceOf[String])
              case ArrayType(StructType(efs), _) =>
                val lg = g.addGroup(sf.name)
                v.asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]].foreach { er =>
                  val el = lg.addGroup(0).addGroup(0)
                  efs.toSeq.zipWithIndex.foreach { case (ef, k) =>
                    val ev = er.get(k)
                    if (ev != null) ef.dataType match {
                      case LongType    => el.add(ef.name, ev.asInstanceOf[Number].longValue())
                      case IntegerType => el.add(ef.name, ev.asInstanceOf[Int])
                      case StringType  => el.add(ef.name, ev.asInstanceOf[String])
                      case _           => ()
                    }
                  }
                }
              case _ => ()
            }
          }
          w.write(g)
        }
      } finally w.close()
      true
    } catch { case _: Exception => false }
  }

  /** Head snapshot rows for the commit retry loops: None = the head
    * pointer was a crashed commit (now repaired away) — the caller
    * re-reads the head and retries instead of surfacing the error.
    */
  private def headRows(spark: SparkSession, path: String,
                       v: Int): Option[Seq[org.apache.spark.sql.Row]] =
    resolvePayload(spark, path, v).map { dir =>
      readPayloadDir(spark, path, dir).collect().toSeq
    }

  /** Write the snapshot payload, then publish version `v` by the
    * atomic exclusive create of its pointer file. False = a concurrent
    * writer took v first (payload stays orphaned until vacuum).
    */
  private def tryCommit(spark: SparkSession, path: String, v: Int,
                        rows0: Seq[org.apache.spark.sql.Row],
                        schema0: org.apache.spark.sql.types.StructType,
                        txn: Option[(String, Long)] = None): Boolean = {
    val (rows, schema) = harmonize(rows0, schema0)
    val payload = "s-" + java.util.UUID.randomUUID().toString.take(12)
    // txn marker (streaming epoch idempotence) rides INSIDE the pointer
    // file, so it is exactly as atomic and exactly as durable as the
    // commit itself — no second write to crash between
    val body = payload + txn.map { case (app, e) => s"\ntxn:$app:$e" }.getOrElse("")
    // payload write is driver-side metadata work (kilobytes); the
    // Spark writer is the fallback for out-of-lattice schemas
    if (!writePayloadDriver(spark, s"${logDir(path)}/$payload", rows, schema))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"${logDir(path)}/$payload")
    val f = fs(spark, path)
    val marker = new org.apache.hadoop.fs.Path(vDir(path, v))
    try {
      // Hadoop's LOCAL create(overwrite=false) is check-then-act
      // (exists probe, then plain open — no O_EXCL): two racing
      // committers can BOTH pass the probe and both "win" the same
      // version, silently dropping one batch (observed once under
      // full-suite load in the 4-appender stress). On file: schemes
      // the CAS must be NIO createFile — O_CREAT|O_EXCL, genuinely
      // atomic on POSIX; HDFS/ABFS keep the Hadoop path (their
      // create IS atomic-exclusive server-side).
      if (f.getUri.getScheme == "file") {
        val local = java.nio.file.Paths.get(f.makeQualified(marker).toUri.getPath)
        java.nio.file.Files.createFile(local) // throws FileAlreadyExists atomically
        java.nio.file.Files.write(local,
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.WRITE)
      } else {
        val out = f.create(marker, false) // throws if v already exists
        try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
      // a committer stalled past resolvePayload's repair grace between
      // create and write may find its pointer repaired away — verify
      // it survived, and report a lost race (the caller retries, and
      // appends compose) instead of a phantom commit
      val ok = f.exists(marker)
      // every Nth commit folds the chain into a log checkpoint
      // (best-effort — a failed checkpoint never fails the commit; the
      // next trigger or an explicit checkpointLog catches up)
      if (ok && v % CheckpointInterval == 0)
        try checkpointUpTo(spark, path, v) catch { case _: Throwable => () }
      ok
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case e: java.io.IOException =>
        if (f.exists(marker)) false else throw e
    }
  }

  /** Persist / validate the stats column the table is keyed on — a
    * merge or append against a DIFFERENT column would compare its keys
    * to the wrong lo/hi ranges and silently corrupt upsert semantics.
    */
  private def writeMeta(spark: SparkSession, path: String, statsCol: String): Unit = {
    val f = fs(spark, path)
    val p = new org.apache.hadoop.fs.Path(metaPath(path))
    val out = f.create(p, true)
    try out.write(s"statsCol=$statsCol\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readMetaLines(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    val p = new org.apache.hadoop.fs.Path(metaPath(path))
    if (!f.exists(p)) return Seq.empty
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.linesIterator.toSeq
    finally in.close()
  }

  private def writeMetaLines(spark: SparkSession, path: String,
                             lines: Seq[String]): Unit = {
    val f = fs(spark, path)
    val out = f.create(new org.apache.hadoop.fs.Path(metaPath(path)), true)
    try out.write(lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  // ---- CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT) ----

  /** The table's CHECK constraints, (name, sql-predicate) in
    * registration order.
    */
  def constraints(spark: SparkSession, path: String): Seq[(String, String)] =
    readMetaLines(spark, path).collect {
      case l if l.startsWith("constraint.") =>
        val body = l.stripPrefix("constraint.")
        val i = body.indexOf('=')
        (body.take(i), body.drop(i + 1))
    }

  /** Register a CHECK constraint: every future append/merge batch
    * must satisfy `check` (standard CHECK semantics — a row violates
    * only when the predicate is FALSE; NULL passes, so NOT NULL is
    * spelled `col IS NOT NULL`). The EXISTING head is validated
    * first — like Delta, the ADD fails if current data violates.
    * Enforcement validates the WRITTEN batch files before the commit
    * publishes (one aggregate pass over the fresh files), so a
    * violating write leaves neither a new version nor orphan files.
    * Metadata op — run from the admin path, not concurrently with
    * another constraint change.
    */
  def addConstraint(spark: SparkSession, path: String,
                    name: String, check: String): Unit = {
    require(name.matches("[A-Za-z0-9_]+"), s"constraint name '$name': [A-Za-z0-9_]+ only")
    require(!check.contains("\n") && !check.contains("\r"),
      "constraint predicate must be one line")
    require(currentVersion(spark, path) > 0, s"addConstraint before write at $path")
    import org.apache.spark.sql.functions.{expr, not}
    val bad = read(spark, path).filter(not(expr(check))).count()
    require(bad == 0,
      s"cannot add constraint '$name': $bad existing rows violate CHECK ($check)")
    val kept = readMetaLines(spark, path)
      .filterNot(_.startsWith(s"constraint.$name="))
    writeMetaLines(spark, path, kept :+ s"constraint.$name=$check")
  }

  /** Remove a CHECK constraint (future writes stop validating it). */
  def dropConstraint(spark: SparkSession, path: String, name: String): Unit =
    writeMetaLines(spark, path,
      readMetaLines(spark, path).filterNot(_.startsWith(s"constraint.$name=")))

  /** Validate freshly-written batch files against the table's
    * constraints in ONE aggregate pass; throws naming the first
    * violated constraint. Callers delete the batch dir on failure —
    * validating the files as WRITTEN (not the input plan) means a
    * non-deterministic upstream can't pass the check and then write
    * different rows.
    */
  private def enforceConstraints(spark: SparkSession, path: String,
                                 files: Seq[String]): Unit = {
    val cs = constraints(spark, path)
    if (cs.isEmpty || files.isEmpty) return
    import org.apache.spark.sql.functions.{expr, lit, not, sum, when}
    val aggs = cs.map { case (n, s) =>
      sum(when(not(expr(s)), 1L).otherwise(0L)).as(n) }
    val row = readAligned(spark, files).agg(aggs.head, aggs.tail: _*).head()
    cs.zipWithIndex.foreach { case ((n, s), i) =>
      if (!row.isNullAt(i) && row.getLong(i) > 0)
        throw new IllegalArgumentException(
          s"constraint '$n' violated by ${row.getLong(i)} batch rows: CHECK ($s)")
    }
  }

  // ---- timestamp time travel (Delta's AS OF TIMESTAMP) ----

  /** The latest version whose COMMIT INSTANT is ≤ `tsMillis`. The raw
    * instant is the pointer file's modification time (the atomic
    * publish moment), but raw mtimes are not guaranteed monotonic with
    * version number (clock skew, restored log dirs, coarse FS mtime
    * granularity) — so each version's EFFECTIVE timestamp is adjusted
    * to max(own mtime, predecessor's effective timestamp), exactly
    * Delta's commit-timestamp monotonicity rule, which makes "AS OF t"
    * a prefix of the version chain rather than a scattered subset.
    * Vacuumed-away history throws rather than silently serving a
    * later snapshot.
    */
  def versionAsOf(spark: SparkSession, path: String, tsMillis: Long): Int = {
    val f = fs(spark, path)
    val vs = versions(spark, path)
    var eff = Long.MinValue
    val stamped = vs.flatMap { v =>
      try {
        val raw = f.getFileStatus(new org.apache.hadoop.fs.Path(vDir(path, v)))
          .getModificationTime
        eff = math.max(eff, raw)
        Some(v -> eff)
      } catch { case _: java.io.FileNotFoundException => None }
    }
    val ok = stamped.filter(_._2 <= tsMillis).map(_._1)
    require(ok.nonEmpty,
      s"no snapshot at or before timestamp $tsMillis under $path (earlier history may be vacuumed)")
    ok.max
  }

  /** The table AS OF a wall-clock instant, deletion vectors applied. */
  def readAsOf(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    read(spark, path, versionAsOf(spark, path, tsMillis))

  private def checkStatsCol(spark: SparkSession, path: String, statsCol: String): Unit = {
    val f = fs(spark, path)
    val p = new org.apache.hadoop.fs.Path(metaPath(path))
    if (!f.exists(p)) return // pre-meta table: nothing to validate against
    val in = f.open(p)
    val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val stored = content.linesIterator
      .collectFirst { case l if l.startsWith("statsCol=") => l.stripPrefix("statsCol=").trim }
    require(stored.forall(_ == statsCol),
      s"table at $path is keyed on '${stored.get}', not '$statsCol'")
  }

  /** Snapshot rows for fresh files: the key's typed lo/hi and one LONG
    * `xs` triple per clustered axis in `xsCols` (empty = `xs` NULL),
    * all from the ONE pass over the files the writer makes anyway.
    */
  private[operators] def statsOf(spark: SparkSession, files: Seq[String], statsCol: String,
                                 xsCols: Seq[String] = Seq.empty): DataFrame =
    footerStats(spark, files, statsCol, xsCols)
      .getOrElse(statsOfScan(spark, files, statsCol, xsCols))

  /** The distributed fallback stats pass: re-read the written files
    * and aggregate per file. Only runs when [[footerStats]] cannot
    * PROVE exact bounds from the parquet footers (exotic key type,
    * missing statistics) — for the common int/long/string keys the
    * footer path answers without re-reading a data byte.
    */
  private[operators] def statsOfScan(spark: SparkSession, files: Seq[String], statsCol: String,
                                     xsCols: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.functions._
    val xs =
      if (xsCols.isEmpty) lit(null)
      else array(xsCols.map(c => struct(lit(c).as("c"),
        min(col(c)).cast("long").as("lo"), max(col(c)).cast("long").as("hi"))): _*)
    spark.read.parquet(files: _*)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(statsCol)).as("lo"), max(col(statsCol)).as("hi"),
        count(lit(1)).as("rows"), xs.cast(XsSqlType).as("xs"))
      .select(col("file"), col("lo"), col("hi"), col("rows"),
        lit(null).cast("string").as("dv"), col("xs"))
  }

  /** Per-file commit stats from parquet FOOTERS — metadata reads on
    * the driver instead of a full distributed RE-READ of the bytes the
    * commit just wrote (at 100 TB the scan pass doubles every load's
    * I/O; the footers were written for exactly this). Exactness rules,
    * any failure → None and the caller falls back to [[statsOfScan]]:
    *
    *   - int32/int64/required-string columns only. parquet-mr writes
    *     column-chunk min/max untruncated by default and these types
    *     have total orders, so footer bounds ARE the exact min/max
    *     (float/double are refused: NaN poisons their stats contract);
    *   - every row group must carry statistics with a known null
    *     count; an all-null group contributes no bounds (the Spark
    *     aggregate's min/max skip nulls the same way);
    *   - `rows` is the footer row count — exact by definition.
    *
    * The per-file key is the same `input_file_name()` string the scan
    * path would produce (SparkPath.urlEncoded of the listed path), so
    * snapshot rows are byte-identical either way —
    * FooterStatsSpec pins footer rows == scan rows on written tables.
    * Each xs axis reads the same way (integral by construction —
    * initTable/writeClusteredN enforce it).
    */
  private[operators] def footerStats(spark: SparkSession, files: Seq[String],
                          statsCol: String, xsCols: Seq[String]): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    if (files.isEmpty) return None
    val conf = spark.sessionState.newHadoopConf()

    // (lo, hi) of one column across one file's row groups; Left(dt) on
    // the first unprovable footer makes the whole pass fall back
    def bounds(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
               col: String): Option[(Any, Any, DataType)] = {
      import scala.jdk.CollectionConverters._
      val mt = footer.getFileMetaData.getSchema
      if (!mt.containsField(col)) return None
      val tp = mt.getType(Seq(col): _*)
      if (!tp.isPrimitive) return None
      val prim = tp.asPrimitiveType()
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      val dt: DataType = prim.getPrimitiveTypeName match {
        case INT32 => IntegerType
        case INT64 => LongType
        case BINARY
            if prim.getLogicalTypeAnnotation ==
              org.apache.parquet.schema.LogicalTypeAnnotation.stringType() => StringType
        case _ => return None
      }
      var lo: Any = null
      var hi: Any = null
      for (b <- footer.getBlocks.asScala) {
        val cc = b.getColumns.asScala.find(_.getPath.toDotString == col)
          .getOrElse(return None)
        val st = cc.getStatistics
        if (st == null || st.isEmpty || st.isNumNullsSet == false) return None
        if (st.getNumNulls < b.getRowCount) {
          if (!st.hasNonNullValue) return None
          val (bLo, bHi) = dt match {
            case IntegerType =>
              val s = st.asInstanceOf[org.apache.parquet.column.statistics.IntStatistics]
              (s.getMin, s.getMax)
            case LongType =>
              val s = st.asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
              (s.getMin, s.getMax)
            case StringType =>
              val s = st.asInstanceOf[org.apache.parquet.column.statistics.BinaryStatistics]
              (s.genericGetMin.toStringUsingUTF8, s.genericGetMax.toStringUsingUTF8)
          }
          def cmpLt(a: Any, b: Any): Boolean = (a, b) match {
            case (x: Int, y: Int)       => x < y
            case (x: Long, y: Long)     => x < y
            // UTF-8 binary order, NOT String.compareTo: the scan path's
            // min/max order UTF8String bytes, and java's UTF-16 code-unit
            // order disagrees with it for supplementary-plane code points
            // (U+E000..U+FFFF sort above surrogate pairs in UTF-16 but
            // below 4-byte sequences in UTF-8) — a bound merged in the
            // wrong order would mis-prune readPruned filters
            case (x: String, y: String) => utf8Cmp(x, y) < 0
            case _                      => false
          }
          if (lo == null || cmpLt(bLo, lo)) lo = bLo
          if (hi == null || cmpLt(hi, bHi)) hi = bHi
        }
      }
      Some((lo, hi, dt))
    }

    def asLongOpt(v: Any): Option[Any] = v match {
      case null    => Some(null)
      case i: Int  => Some(i.toLong)
      case l: Long => Some(l)
      case _       => None
    }

    val rowsB = Seq.newBuilder[org.apache.spark.sql.Row]
    var keyDt: DataType = null
    for (f <- files) {
      val p = new org.apache.hadoop.fs.Path(f)
      val footer =
        try {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter finally r.close()
        } catch { case _: Exception => return None }
      import scala.jdk.CollectionConverters._
      val nRows = footer.getBlocks.asScala.map(_.getRowCount).sum
      val (lo, hi, dt) = bounds(footer, statsCol).getOrElse(return None)
      if (keyDt == null) keyDt = dt
      else if (keyDt != dt) return None // mixed physical types: let the scan widen
      val xs: Any =
        if (xsCols.isEmpty) null
        else xsCols.map { c =>
          val (l, h, _) = bounds(footer, c).getOrElse(return None)
          org.apache.spark.sql.Row(c,
            asLongOpt(l).getOrElse(return None), asLongOpt(h).getOrElse(return None))
        }
      // the same string the scan path's input_file_name() yields for
      // this file — snapshot keys must be form-identical either way
      val fileKey = org.apache.spark.paths.SparkPath
        .fromPath(p.getFileSystem(conf).makeQualified(p)).urlEncoded
      rowsB += org.apache.spark.sql.Row(fileKey, lo, hi, nRows, null, xs)
    }
    val xsDt = DataType.fromDDL(XsSqlType)
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("lo", keyDt),
      StructField("hi", keyDt),
      StructField("rows", LongType, nullable = false),
      StructField("dv", StringType),
      StructField("xs", xsDt)))
    import scala.jdk.CollectionConverters._
    Some(spark.createDataFrame(rowsB.result().asJava, schema))
  }

  /** The clustered axes past the key (empty on unclustered tables) —
    * the columns whose per-file (lo, hi) triples live in the
    * snapshot's `xs` column, in clustering order. The SQL face's scan
    * builder reads it to admit pushed predicates on every axis.
    */
  def statsColumnsX(spark: SparkSession, path: String): Seq[String] =
    axesOf(readMetaLines(spark, path))

  /** Fresh-file stats for a write into an existing table: on a
    * clustered table the writer has the rows in hand anyway, so it
    * computes every axis's lo/hi — pruning on the clustered axes
    * survives maintenance instead of degrading to no entry (=
    * kept-never-skipped) until a full re-clustering write. An axis the
    * output lacks (a schema-evolution edge) gets no entry — unknown
    * stays the safe answer.
    */
  private[operators] def statsOfRewrite(spark: SparkSession, path: String,
                             files: Seq[String], statsCol: String): DataFrame = {
    val axes = statsColumnsX(spark, path)
    if (axes.isEmpty) statsOf(spark, files, statsCol)
    else {
      val cols = spark.read.parquet(files: _*).columns
      statsOf(spark, files, statsCol, axes.filter(cols.contains))
    }
  }

  // ---- schema evolution: add-column AND type widening ----

  /** The sanctioned widenings (int→long, float→double, int→double) —
    * value-preserving casts only. long→double would silently lose
    * integers past 2^53, so it is refused like any other incompatible
    * evolution.
    */
  private def widenType(a: org.apache.spark.sql.types.DataType,
                        b: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    (a, b) match {
      case (x, y) if x == y => x
      case (IntegerType, LongType) | (LongType, IntegerType)     => LongType
      case (FloatType, DoubleType) | (DoubleType, FloatType)     => DoubleType
      case (IntegerType, DoubleType) | (DoubleType, IntegerType) => DoubleType
      case _ => throw new IllegalArgumentException(
        s"incompatible schema evolution: ${a.simpleString} vs ${b.simpleString} " +
          "(supported widenings: int->long, float->double, int->double)")
    }
  }

  /** Union of two file schemas under the widening lattice: common
    * columns widen, one-sided columns join as nullable (the
    * add-column rule).
    */
  private def mergeWiden(a: org.apache.spark.sql.types.StructType,
                         b: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val bMap = b.fields.map(f => f.name -> f).toMap
    val merged = a.fields.map { f =>
      bMap.get(f.name) match {
        case Some(g) => StructField(f.name, widenType(f.dataType, g.dataType),
          f.nullable || g.nullable)
        case None => f.copy(nullable = true)
      }
    }
    val extra = b.fields.filterNot(f => a.fieldNames.contains(f.name))
      .map(_.copy(nullable = true))
    StructType(merged ++ extra)
  }

  /** Read a snapshot's data files with evolution alignment. Fast path:
    * plain mergeSchema (handles add-column; zero overhead — the
    * overwhelmingly common case). A widened column makes mergeSchema
    * throw CANNOT_MERGE_SCHEMAS; then the union schema is computed
    * under the widening lattice (one driver footer read per file —
    * manifest file counts are bounded by the compaction discipline)
    * and ALL files are read under the explicit widened schema: the
    * parquet vectorized reader upcasts int32→int64 / float→double in
    * place and fills absent columns with NULL, so old files read AS
    * the new type with no rewrite — time travel to a pre-widening
    * version reads only old files, one schema group, and keeps the
    * old types.
    */
  // Driver-side footer-schema memo: data files are IMMUTABLE and their
  // paths are never reused (every write stamps task UUIDs into the part
  // names, every batch lands in a fresh b-<uuid> dir), so a file's
  // schema can be read once per session. Without it every readAligned
  // call re-ran the mergeSchema footer pass — a Spark job per call —
  // and one change-feed build calls readAligned on overlapping file
  // sets five times.
  private val fileSchemaCache =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]

  private[operators] def readAligned(spark: SparkSession, files: Seq[String]): DataFrame = {
    val schemas = files.map(f =>
      fileSchemaCache.getOrElseUpdate(f, spark.read.parquet(f).schema))
    // One schema group (the overwhelmingly common case): an explicit
    // schema read is byte-identical to the mergeSchema read and skips
    // its per-call footer-merge job.
    if (schemas.distinct.size == 1)
      spark.read.schema(schemas.head).parquet(files: _*)
    else try spark.read.option("mergeSchema", "true").parquet(files: _*)
    catch {
      case e: org.apache.spark.SparkException
          if e.getMessage != null && e.getMessage.contains("CANNOT_MERGE_SCHEMAS") =>
        val target = schemas.reduce(mergeWiden)
        spark.read.schema(target).parquet(files: _*)
    }
  }

  /** Read data files APPLYING their deletion vectors: rows whose
    * (file, position) appears in a referenced DV are filtered by one
    * anti-join against the union of the files' DV batches. Positions
    * come from the parquet reader's own `_metadata.row_index` (stable
    * because data files are immutable), so no key column is needed —
    * a DV can tombstone rows of any shape. DV batches are
    * deleted-row-sized (16 bytes a row), so the anti-join side is
    * tiny relative to the table and AQE broadcasts it in the common
    * case; file paths are globally unique (UUID batch dirs, never
    * reused), so a DV row can never leak onto a rewritten file.
    */
  private def readWithDv(spark: SparkSession,
                         fileDv: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = readAligned(spark, fileDv.map(_._1))
    val dvs = fileDv.flatMap(p => Option(p._2)).distinct.sorted
    if (dvs.isEmpty) base
    else {
      val dead = spark.read.parquet(dvs: _*)
        .select(col("file").as("__dv_file"), col("pos").as("__dv_pos"))
      base
        .withColumn("__file", input_file_name())
        .withColumn("__pos", col("_metadata.row_index"))
        .join(dead,
          col("__file") === col("__dv_file") && col("__pos") === col("__dv_pos"),
          "left_anti")
        .drop("__file", "__pos")
    }
  }

  /** The table AT a version (−1 = latest): the snapshot's file list
    * with deletion vectors applied — the one read entry point that is
    * correct across COW rewrites AND MOR deletes.
    */
  def read(spark: SparkSession, path: String, version: Int = -1): DataFrame = {
    val snap = snapshot(spark, path, version).collect()
    readWithDv(spark, snap.map(r => (r.getString(0), r.getString(4))).toSeq)
  }

  /** Harmonize manifest rows before a commit: composing an old
    * snapshot's (lo, hi) stats with a widened batch's mixes Int and
    * Long values under one declared type — coerce every value to the
    * widened common type so the snapshot parquet stays one schema.
    */
  private def harmonize(rows: Seq[org.apache.spark.sql.Row],
                        schema: org.apache.spark.sql.types.StructType)
      : (Seq[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType) = {
    import org.apache.spark.sql.types._
    def typeOf(v: Any): Option[DataType] = v match {
      case _: Int => Some(IntegerType)
      case _: Long => Some(LongType)
      case _: Float => Some(FloatType)
      case _: Double => Some(DoubleType)
      case _ => None
    }
    val declared = schema("lo").dataType
    val target = rows.iterator
      .flatMap(r => Iterator(r.get(1), r.get(2)).flatMap(typeOf))
      .foldLeft(declared)(widenType)
    def coerce(v: Any): Any = (v, target) match {
      case (null, _) => null
      case (x: Int, LongType) => x.toLong
      case (x: Int, DoubleType) => x.toDouble
      case (x: Float, DoubleType) => x.toDouble
      case _ => v
    }
    val needs = target != declared ||
      rows.exists(r => typeOf(r.get(1)).exists(_ != target) ||
        typeOf(r.get(2)).exists(_ != target))
    if (!needs) (rows, schema)
    else {
      // rebuild positionally so trailing fields (dv) survive coercion
      val out = rows.map { r =>
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq.updated(1, coerce(r.get(1))).updated(2, coerce(r.get(2))))
      }
      val fields = schema.fields.map {
        case f if f.name == "lo" || f.name == "hi" => f.copy(dataType = target)
        case f => f
      }
      (out, StructType(fields))
    }
  }

  /** All data files under `path`, recursing into batch subdirs (every
    * mutation writes its files into a UNIQUE `b-*` dir — claiming
    * "my new files" by directory diff would race with a concurrent
    * writer's files landing between the two listings).
    */
  private def listDataFiles(spark: SparkSession, path: String): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val f = fs(spark, path)
    if (!f.exists(root)) return Set.empty
    def walk(p: org.apache.hadoop.fs.Path): Iterator[org.apache.hadoop.fs.Path] =
      f.listStatus(p).iterator.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Iterator.empty
        else if (s.isFile) Iterator.single(s.getPath)
        else walk(s.getPath)
      }
    walk(root).map(_.toUri.toString).toSet
  }

  /** A fresh uniquely-named dir for one mutation's data files. */
  private def newBatchDir(path: String): String =
    s"$path/b-${java.util.UUID.randomUUID().toString.take(12)}"

  /** Initial load: range-clustered data files + snapshot v1. */
  def write(df: DataFrame, statsCol: String, path: String, files: Int = 32): Unit = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    df.repartitionByRange(files, col(statsCol))
      .sortWithinPartitions(statsCol)
      .write.mode("overwrite").parquet(path)
    writeMeta(spark, path, statsCol)
    val st = statsOf(spark, listDataFiles(spark, path).toSeq.sorted, statsCol)
    require(tryCommit(spark, path, 1, st.collect().toSeq, st.schema),
      s"concurrent initial write at $path")
  }

  /** Initial load clustered on the Hilbert curve of 2–4 axes —
    * MULTI-DIMENSIONAL data skipping under the versioned log (Delta's
    * Z-order + file-stats shape, on the better curve): the Hilbert
    * order gives every axis tight per-file ranges, and the manifest
    * records a zone map for each — the key keeps its typed lo/hi (it
    * still routes merge/delete; range overlap stays CORRECT under any
    * layout, clustering only trades its selectivity for the other
    * axes'), every further axis one LONG (col, lo, hi) triple in the
    * snapshot's `xs` column. A clustered predicate then file-skips
    * through BOTH read paths ([[readPrunedN]] and the SQL face's pushed
    * filters). Rewrites (compact/merge/COW delete) compute every axis's
    * stats for their fresh files ([[statsOfRewrite]]) and compaction
    * re-clusters on the full axis list, so pruning survives
    * maintenance. All axes past the first must be integral.
    */
  def writeClusteredN(df: DataFrame, statsCols: Seq[String],
                      path: String, files: Int = 32): Unit = {
    import org.apache.spark.sql.functions._
    require(statsCols.size >= 2 && statsCols.size <= 4,
      s"clustered tables take 2-4 axes, got ${statsCols.size}")
    require(statsCols.distinct.size == statsCols.size, "duplicate clustering axis")
    val spark = df.sparkSession
    df.withColumn("__h", LayoutOps.hilbertValueN(df, statsCols))
      .repartitionByRange(files, col("__h"))
      .sortWithinPartitions("__h")
      .drop("__h")
      .write.mode("overwrite").parquet(path)
    writeMetaLines(spark, path,
      Seq(s"statsCol=${statsCols.head}", s"statsColsX=${statsCols.tail.mkString(",")}"))
    val st = statsOf(spark, listDataFiles(spark, path).toSeq.sorted,
      statsCols.head, statsCols.tail)
    require(tryCommit(spark, path, 1, st.collect().toSeq, st.schema),
      s"concurrent initial write at $path")
  }

  /** Append a batch to a CLUSTERED table: the batch itself is
    * Hilbert-ordered (its own value ranges — local clustering, the
    * daily-crawl shape) and lands with every axis's stats; commits
    * compose exactly like [[append]].
    */
  def appendClustered(df: DataFrame, path: String, files: Int = 8): Unit = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    require(currentVersion(spark, path) > 0, s"appendClustered before write at $path")
    val statsCol = statsColumn(spark, path)
      .getOrElse(sys.error(s"no statsCol meta at $path"))
    val axes = statsColumnsX(spark, path)
    require(axes.nonEmpty, s"$path is not a clustered table (no clustered axes in its meta)")
    val batchDir = newBatchDir(path)
    df.withColumn("__h", LayoutOps.hilbertValueN(df, statsCol +: axes))
      .repartitionByRange(files, col("__h"))
      .sortWithinPartitions("__h")
      .drop("__h")
      .write.parquet(batchDir)
    val fresh = listDataFiles(spark, batchDir).toSeq.sorted
    try enforceConstraints(spark, path, fresh)
    catch { case e: Throwable =>
      fs(spark, path).delete(new org.apache.hadoop.fs.Path(batchDir), true)
      throw e
    }
    val st = statsOf(spark, fresh, statsCol, axes)
    val freshRows = st.collect().toSeq
    var committed = false
    while (!committed) {
      val v = currentVersion(spark, path)
      headRows(spark, path, v) match {
        case None      => ()
        case Some(old) =>
          committed = tryCommit(spark, path, v + 1, old ++ freshRows, st.schema)
      }
    }
  }

  /** N-predicate pruned scan at a version: a file survives iff EVERY
    * (column, lo, hi) predicate's range overlaps its zone map
    * ([[fileMayMatch]]: the key via its typed lo/hi, any clustered axis
    * via its `xs` triple; unknown stats keep the file). Residual
    * filters apply on top; DVs applied. Returns
    * (frame, survivors, total).
    */
  def readPrunedN(spark: SparkSession, path: String,
                  preds: Seq[(String, Any, Any)],
                  version: Int = -1): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    require(preds.nonEmpty, "readPrunedN needs at least one predicate")
    val key = statsColumn(spark, path)
    val filters = preds.flatMap { case (c, lo, hi) =>
      Seq(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi)) }
    val snap = snapshot(spark, path, version).collect()
    val survivors = snap.filter(r => fileMayMatch(r, key, filters))
      .sortBy(_.getString(0)).toSeq
    val residual = preds.map { case (c, lo, hi) =>
      col(c).between(lit(lo), lit(hi))
    }.reduce(_ && _)
    val df =
      if (survivors.isEmpty)
        readAligned(spark, snap.map(_.getString(0)).toSeq)
          .filter(lit(false))
      else readWithDv(spark, survivors.map(r => (r.getString(0), r.getString(4))))
        .filter(residual)
    (df, survivors.size, snap.length)
  }

  /** THE zone-map rule: may the file a snapshot row describes hold a
    * row that passes every filter (each on one column)? The key's
    * bounds are the row's typed lo/hi, any other clustered axis's its
    * `xs` triple. Unknown stats — NULL bounds, no `xs` entry, a column
    * with no zone map, an incomparable literal — keep the file:
    * pruning only shrinks the file list, correctness never depends on
    * it. Every pruned read decides here: [[readPrunedAt]],
    * [[readPrunedN]] and the SQL face's pushed filters.
    */
  private[graft] def fileMayMatch(r: org.apache.spark.sql.Row, key: Option[String],
                                  filters: Seq[org.apache.spark.sql.sources.Filter]): Boolean = {
    import org.apache.spark.sql.sources._
    lazy val xs: Map[String, (Any, Any)] =
      if (r.isNullAt(5)) Map.empty
      else r.getSeq[org.apache.spark.sql.Row](5)
        .map(e => e.getString(0) -> (e.get(1), e.get(2))).toMap
    // each comparison is consumed through forall: an incomparable
    // pair (None) keeps the file on every arm
    def atMost(a: Any, v: Any) = cmpOpt(a, v).forall(_ <= 0)
    def atLeast(a: Any, v: Any) = cmpOpt(a, v).forall(_ >= 0)
    filters.forall { f =>
      val c = f.references.head
      val bounds = if (key.contains(c)) Some((r.get(1), r.get(2))) else xs.get(c)
      bounds.forall { case (lo, hi) =>
        lo == null || hi == null || (f match {
          case EqualTo(_, v)            => atLeast(hi, v) && atMost(lo, v)
          case In(_, vs)                => vs.exists(v => atLeast(hi, v) && atMost(lo, v))
          case GreaterThan(_, v)        => cmpOpt(hi, v).forall(_ > 0)
          case GreaterThanOrEqual(_, v) => atLeast(hi, v)
          case LessThan(_, v)           => cmpOpt(lo, v).forall(_ < 0)
          case LessThanOrEqual(_, v)    => atMost(lo, v)
          case _                        => true
        })
      }
    }
  }

  /** Append a batch: new data files + snapshot v+1 = old ∪ new. A
    * reader at v is unaffected; the append becomes visible atomically
    * when its snapshot pointer lands. Appends COMPOSE: on a lost
    * version CAS the loser re-reads the new head and re-commits
    * head∪new — two interleaved appends both survive, versions stay
    * linear, no file list is ever lost.
    */
  def append(df: DataFrame, statsCol: String, path: String, files: Int = 8): Unit = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    require(currentVersion(spark, path) > 0, s"append before write at $path")
    checkStatsCol(spark, path, statsCol)
    val batchDir = newBatchDir(path)
    df.repartitionByRange(files, col(statsCol))
      .sortWithinPartitions(statsCol)
      .write.parquet(batchDir)
    val fresh = listDataFiles(spark, batchDir).toSeq.sorted
    // a constraint-violating batch leaves neither a version nor orphans
    try enforceConstraints(spark, path, fresh)
    catch { case e: Throwable =>
      fs(spark, path).delete(new org.apache.hadoop.fs.Path(batchDir), true)
      throw e
    }
    val st = statsOfRewrite(spark, path, fresh, statsCol)
    val freshRows = st.collect().toSeq
    var committed = false
    while (!committed) {
      val v = currentVersion(spark, path)
      headRows(spark, path, v) match {
        case None      => () // crashed head repaired — re-read and retry
        case Some(old) =>
          committed = tryCommit(spark, path, v + 1, old ++ freshRows, st.schema)
      }
    }
  }

  /** The most recent streaming epoch `appId` committed into this
    * table (Delta's SetTransaction/txnVersion discipline): walk the
    * version pointers head→1 and return the first txn marker naming
    * `appId`. Metadata-sized — one tiny pointer-file read per walked
    * version, and in steady state the marker sits at or near the head.
    * Markers expire WITH their versions at [[vacuum]], so epoch-replay
    * protection holds exactly as long as the table's vacuum retention
    * — the same lag contract [[follow]] already imposes on consumers.
    */
  def lastTxn(spark: SparkSession, path: String, appId: String): Option[Long] = {
    val f = fs(spark, path)
    versions(spark, path).reverseIterator.map { v =>
      val marker = new org.apache.hadoop.fs.Path(vDir(path, v))
      try {
        if (f.getFileStatus(marker).isDirectory) None // legacy dir version
        else {
          val in = f.open(marker)
          val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
          content.linesIterator.drop(1).collectFirst {
            case l if l.startsWith("txn:") =>
              val bodyTxn = l.stripPrefix("txn:")
              val i = bodyTxn.lastIndexOf(':')
              (bodyTxn.take(i), bodyTxn.drop(i + 1).trim.toLong)
          }.collect { case (app, e) if app == appId => e }
        }
      } catch { case _: java.io.FileNotFoundException => None }
    }.collectFirst { case Some(e) => e }
  }

  /** EPOCH-IDEMPOTENT append — the streaming write face's commit
    * primitive (`df.writeStream.format(manifest)` routes here, epoch =
    * the micro-batch id). Exactly [[append]] (bootstrapping the table
    * on first contact), except the commit carries a `(appId, epoch)`
    * txn marker and a replayed epoch is a VERSION-LEVEL NO-OP: if
    * `appId` has already committed `epoch` (or later), nothing is
    * written and no version is published — so foreachBatch's
    * at-least-once replays collapse to exactly-once table versions.
    * Returns true if the epoch committed, false for the no-op.
    *
    * The epoch screen re-runs INSIDE the CAS retry loop: two replays
    * of the same epoch racing each other serialize on the version
    * CAS, and the loser re-checks, sees the epoch recorded, deletes
    * its orphaned batch files and aborts — never a double-append.
    */
  def appendStream(df: DataFrame, statsCol: String, path: String,
                   files: Int, appId: String, epoch: Long): Boolean = {
    import org.apache.spark.sql.functions._
    require(appId.nonEmpty && !appId.contains('\n') && !appId.contains('\r'),
      "txn appId must be a non-empty single-line string")
    val spark = df.sparkSession
    if (lastTxn(spark, path, appId).exists(_ >= epoch)) return false
    if (currentVersion(spark, path) == 0) writeMeta(spark, path, statsCol)
    checkStatsCol(spark, path, statsCol)
    val batchDir = newBatchDir(path)
    df.repartitionByRange(files, col(statsCol))
      .sortWithinPartitions(statsCol)
      .write.parquet(batchDir)
    val fresh = listDataFiles(spark, batchDir).toSeq.sorted
    try enforceConstraints(spark, path, fresh)
    catch { case e: Throwable =>
      fs(spark, path).delete(new org.apache.hadoop.fs.Path(batchDir), true)
      throw e
    }
    val st = statsOfRewrite(spark, path, fresh, statsCol)
    val freshRows = st.collect().toSeq
    var committed = false
    while (!committed) {
      if (lastTxn(spark, path, appId).exists(_ >= epoch)) {
        fs(spark, path).delete(new org.apache.hadoop.fs.Path(batchDir), true)
        return false
      }
      val v = currentVersion(spark, path)
      val old =
        if (v == 0) Some(Seq.empty[org.apache.spark.sql.Row])
        else headRows(spark, path, v)
      old match {
        case None      => () // crashed head repaired — re-read and retry
        case Some(o) =>
          committed = tryCommit(spark, path, v + 1, o ++ freshRows, st.schema,
            txn = Some((appId, epoch)))
      }
    }
    true
  }

  /** Does a manifest table live at `path` — either data versions or a
    * DDL-declared (still empty) table? The SQL catalog's existence
    * probe.
    */
  def tableExists(spark: SparkSession, path: String): Boolean =
    currentVersion(spark, path) > 0 || readMetaLines(spark, path).nonEmpty

  /** DDL bootstrap (CREATE TABLE through the SQL catalog): declare the
    * schema and stats key BEFORE any data lands. The declared schema
    * serves reads/writes while the table is empty; the FIRST data
    * write supersedes it (schema then lives in the snapshots, evolving
    * under the widening lattice like any manifest table).
    */
  def initTable(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType,
                statsCol: String): Unit =
    initTable(spark, path, schema, Seq(statsCol))

  /** DDL bootstrap with DECLARED CLUSTERING: `statsCols.head` is the
    * primary key column; 2–4 axes declare a Hilbert-clustered table —
    * the FIRST data write through the SQL face then runs
    * [[writeClusteredN]] and every axis gets its manifest zone-map
    * dimension, so `CREATE TABLE ... TBLPROPERTIES('statsCols' =
    * 'a,b,c')` + `INSERT INTO` yields multi-dimensional file skipping
    * from pure SQL.
    */
  def initTable(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType,
                statsCols: Seq[String]): Unit = {
    require(currentVersion(spark, path) == 0,
      s"initTable on a table that already has data versions at $path")
    require(statsCols.nonEmpty && statsCols.size <= 4 &&
      statsCols.distinct.size == statsCols.size,
      s"statsCols takes 1-4 distinct columns, got ${statsCols.mkString(", ")}")
    statsCols.foreach(c => require(schema.fieldNames.contains(c),
      s"statsCols column '$c' is not a column of the declared schema " +
        s"(${schema.fieldNames.mkString(", ")})"))
    import org.apache.spark.sql.types._
    statsCols.drop(1).foreach { c =>
      val dt = schema(c).dataType
      require(dt == IntegerType || dt == LongType || dt == ShortType,
        s"clustering axis '$c' must be integral (one canonical LONG manifest type), " +
          s"got ${dt.simpleString}")
    }
    val kept = readMetaLines(spark, path)
      .filterNot(l => l.startsWith("statsCol=") || l.startsWith("ddlSchema=") ||
        l.startsWith("ddlStatsCols="))
    val cluster =
      if (statsCols.size >= 2) Seq(s"ddlStatsCols=${statsCols.mkString(",")}")
      else Seq.empty
    writeMetaLines(spark, path,
      (kept :+ s"statsCol=${statsCols.head}" :+ s"ddlSchema=${schema.json}") ++ cluster)
  }

  /** The DDL-declared clustering axes of a created-but-still-empty
    * table (empty once data lands — the clustering then lives in
    * the axis list [[writeClusteredN]] writes).
    */
  def ddlStatsCols(spark: SparkSession, path: String): Seq[String] =
    readMetaLines(spark, path).collectFirst {
      case l if l.startsWith("ddlStatsCols=") =>
        l.stripPrefix("ddlStatsCols=").split(',').map(_.trim).filter(_.nonEmpty).toSeq
    }.getOrElse(Seq.empty)

  /** The DDL-declared schema of a created-but-still-empty table. */
  def ddlSchema(spark: SparkSession,
                path: String): Option[org.apache.spark.sql.types.StructType] =
    readMetaLines(spark, path).collectFirst {
      case l if l.startsWith("ddlSchema=") =>
        org.apache.spark.sql.types.DataType
          .fromJson(l.stripPrefix("ddlSchema="))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
    }

  /** The stats column the table is keyed on (None = no table yet) —
    * the write face's way to key an append without the caller
    * restating it.
    */
  def statsColumn(spark: SparkSession, path: String): Option[String] =
    readMetaLines(spark, path).collectFirst {
      case l if l.startsWith("statsCol=") => l.stripPrefix("statsCol=").trim
    }

  /** REPLACE the table's contents as a NEW VERSION (Delta's
    * `mode("overwrite")` semantics): fresh range-clustered files,
    * snapshot head+1 lists ONLY them. History is never rewritten —
    * every older version still time-travels until [[vacuum]] reclaims
    * its files — and the commit composes under the same CAS retry as
    * [[append]]. A replace is a file-removing version, so strict
    * table-tailing consumers throw at it by design ([[follow]]).
    * On a path with no table yet this is exactly [[write]].
    */
  def replace(df: DataFrame, statsCol: String, path: String, files: Int = 32): Unit = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    if (currentVersion(spark, path) == 0) return write(df, statsCol, path, files)
    checkStatsCol(spark, path, statsCol)
    val batchDir = newBatchDir(path)
    df.repartitionByRange(files, col(statsCol))
      .sortWithinPartitions(statsCol)
      .write.parquet(batchDir)
    val fresh = listDataFiles(spark, batchDir).toSeq.sorted
    try enforceConstraints(spark, path, fresh)
    catch { case e: Throwable =>
      fs(spark, path).delete(new org.apache.hadoop.fs.Path(batchDir), true)
      throw e
    }
    val st = statsOfRewrite(spark, path, fresh, statsCol)
    val freshRows = st.collect().toSeq
    var committed = false
    while (!committed) {
      val v = currentVersion(spark, path)
      headRows(spark, path, v) match {
        case None    => () // crashed head repaired — re-read and retry
        case Some(_) => committed = tryCommit(spark, path, v + 1, freshRows, st.schema)
      }
    }
  }

  /** Compact the current version's sub-target files into
    * range-clustered outputs — snapshot v+1 swaps the small files for
    * the repacked ones, but the ORIGINALS STAY ON DISK so every older
    * snapshot still resolves ([[vacuum]] reclaims them). Returns
    * (#files compacted away, #files written).
    */
  def compact(spark: SparkSession, path: String, statsCol: String,
              targetRows: Long): (Int, Int) = {
    import org.apache.spark.sql.functions._
    val v = currentVersion(spark, path)
    require(v > 0, s"compact before write at $path")
    checkStatsCol(spark, path, statsCol)
    val cur = snapshot(spark, path, v).collect().toSeq
    // a DV'd file compacts regardless of size — compaction is where
    // MOR tombstones become a physical purge (read applies the DV,
    // the rewrite drops the pointer, vacuum reclaims the old bytes)
    val (small, keep) = cur.partition(r =>
      r.getLong(3) < targetRows || r.getString(4) != null)
    // one sub-target file with no DV has nothing to gain; one DV'd
    // file still rewrites (that IS the purge)
    if (small.isEmpty || (small.size == 1 && small.head.getString(4) == null))
      return (0, 0)
    val total = small.map(_.getLong(3)).sum
    val nOut = math.max(1L, (total + targetRows - 1) / targetRows).toInt
    val batchDir = newBatchDir(path)
    val out = readWithDv(spark, small.map(r => (r.getString(0), r.getString(4))))
    // compacting a CLUSTERED table re-clusters on the Hilbert curve of
    // EVERY axis — the rewrite pays the pass anyway, so maintenance
    // RESTORES multi-dimensional locality instead of eroding it to a
    // single-key layout (key lo/hi pruning is correct under any order)
    val axes = statsColumnsX(spark, path).filter(out.columns.contains)
    if (axes.nonEmpty)
      out.withColumn("__h", LayoutOps.hilbertValueN(out, statsCol +: axes))
        .repartitionByRange(nOut, col("__h"))
        .sortWithinPartitions("__h")
        .drop("__h")
        .write.parquet(batchDir)
    else
      out.repartitionByRange(nOut, col(statsCol))
        .sortWithinPartitions(statsCol)
        .write.parquet(batchDir)
    val fresh = listDataFiles(spark, batchDir).toSeq.sorted
    val st = statsOfRewrite(spark, path, fresh, statsCol)
    val freshRows = st.collect().toSeq
    commitRewrite(spark, path,
      small.map(r => r.getString(0) -> r.getString(4)).toMap, freshRows, st.schema,
      "compact")
    (small.size, fresh.size)
  }

  /** Commit a rewrite (compact/merge) under the version CAS: the
    * rewrite composes with concurrent APPENDS iff every file it
    * replaced is still live at the head WITH the dv pointer the
    * rewrite read — re-validate and re-commit on a lost race; a
    * concurrent rewrite of the same files, OR a concurrent MOR delete
    * that moved a replaced file's dv pointer (the rewrite's output
    * was built from the stale tombstone set — composing would
    * resurrect the newly deleted rows), cannot be composed and throws
    * (the caller retries the whole operation against the new head).
    * `replacedDv` is the (file -> dv) map AS READ by the rewrite.
    */
  private[operators] def commitRewrite(spark: SparkSession, path: String,
                            replacedDv: Map[String, String],
                            freshRows: Seq[org.apache.spark.sql.Row],
                            schema: org.apache.spark.sql.types.StructType,
                            op: String): Unit = {
    val replaced = replacedDv.keySet
    var committed = false
    while (!committed) {
      val v = currentVersion(spark, path)
      val headOpt = headRows(spark, path, v)
      if (headOpt.isEmpty) {
        // crashed head repaired — re-read and retry
      } else {
      val head = headOpt.get
      val live = head.map(_.getString(0)).toSet
      val gone = replaced -- live
      if (gone.nonEmpty)
        throw new IllegalStateException(
          s"$op conflict at $path v$v: concurrently rewritten files ${gone.take(3).mkString(", ")}; retry the $op")
      val dvMoved = head.filter(r => replaced(r.getString(0)) &&
        replacedDv(r.getString(0)) != r.getString(4))
      if (dvMoved.nonEmpty)
        throw new IllegalStateException(
          s"$op conflict at $path v$v: a concurrent delete moved a dv pointer on " +
            s"${dvMoved.take(3).map(_.getString(0)).mkString(", ")}; retry the $op")
      val keep = head.filterNot(r => replaced(r.getString(0)))
      committed = tryCommit(spark, path, v + 1, keep ++ freshRows, schema)
      }
    }
  }

  /** Copy-on-write MERGE (upsert by `statsCol` as the key): rows of
    * `updates` replace every same-key row; new keys are inserted. Only
    * data files whose [lo, hi] stats range CONTAINS at least one
    * update key are rewritten — affected files are found by joining
    * the update keys against the BROADCAST snapshot stats (one pass
    * over the updates, no key collect) — and the untouched majority of
    * the table carries into snapshot v+1 by reference. At 100 TB a
    * daily upsert rewrites the handful of range-clustered files its
    * keys land in, never the table; a reader pinned at v still sees
    * the pre-merge rows (old files stay until [[vacuum]]). Returns
    * (#files rewritten, #files carried untouched).
    */
  def merge(updates0: DataFrame, statsCol: String, path: String,
            files: Int = 8, targetRows: Long = 0L): (Int, Int) = {
    import org.apache.spark.sql.functions._
    val spark = updates0.sparkSession
    val v = currentVersion(spark, path)
    require(v > 0, s"merge before write at $path")
    checkStatsCol(spark, path, statsCol)
    // The updates plan is consumed several times (emptiness, null
    // screen, affected-files range join, the rewrite, the fan-out
    // count) — persist once so an expensive or non-deterministic
    // upstream (joins, sampling) can't recompute differently between
    // the key-detection and write passes.
    val updates = updates0.persist()
    try {
      val snapRows = snapshot(spark, path, v).collect().toSeq
      // empty batch: no rewrite, no new version (the compact() guard's
      // analogue — otherwise statsOf would read zero paths and throw)
      if (updates.isEmpty) return (0, snapRows.size)
      // a NULL key satisfies neither the [lo, hi] range join (stats
      // ignore nulls) nor the replacement anti-join — it would silently
      // re-insert on every merge instead of upserting; reject loudly
      require(updates.filter(col(statsCol).isNull).isEmpty,
        s"merge updates carry NULL '$statsCol' keys — upsert by a null key is undefined")
      val statsDf = snapshot(spark, path, v)
      val affected = updates.select(col(statsCol).as("__k")).distinct()
        .join(broadcast(statsDf),
          col("__k") >= col("lo") && col("__k") <= col("hi"))
        .select("file").distinct().collect().map(_.getString(0)).toSet
      val (touch, keep) = snapRows.partition(r => affected(r.getString(0)))
      val keys = updates.select(col(statsCol)).distinct()
      val out =
        if (touch.isEmpty) updates
        else readWithDv(spark, touch.map(r => (r.getString(0), r.getString(4))))
          .join(keys, Seq(statsCol), "left_anti")
          .unionByName(updates, allowMissingColumns = true)
      // size the rewrite fan-out from the volume it actually carries
      // (rewritten file rows + the update batch — the compact()
      // discipline), so a large upsert keeps range clustering instead
      // of squeezing into a fixed file count
      val nOut =
        if (targetRows > 0) {
          val vol = touch.map(_.getLong(3)).sum + updates.count()
          math.max(1L, (vol + targetRows - 1) / targetRows).toInt
        } else files
      val batchDir = newBatchDir(path)
      out.repartitionByRange(nOut, col(statsCol))
        .sortWithinPartitions(statsCol)
        .write.parquet(batchDir)
      val fresh = listDataFiles(spark, batchDir).toSeq.sorted
      // the rewrite carries pre-validated rows; a violation can only
      // come from the updates — reject before anything publishes
      try enforceConstraints(spark, path, fresh)
      catch { case e: Throwable =>
        fs(spark, path).delete(new org.apache.hadoop.fs.Path(batchDir), true)
        throw e
      }
      val st = statsOfRewrite(spark, path, fresh, statsCol)
      val freshRows = st.collect().toSeq
      // update-key bounds for the concurrent-append overlap re-check
      val Array(kmin, kmax) = updates
        .agg(min(col(statsCol)), max(col(statsCol))).head()
        .toSeq.toArray
      commitKeyedRewrite(spark, path, "merge",
        touch.map(r => r.getString(0) -> r.getString(4)).toMap,
        snapRows.map(_.getString(0)).toSet, freshRows, st.schema, kmin, kmax)
      (touch.size, keep.size)
    } finally updates.unpersist()
  }

  /** Full MERGE INTO clause semantics by `statsCol` as the join key —
    * the Delta `MERGE INTO target USING source` shape the plain
    * [[merge]] (unconditional upsert) specializes:
    *
    *   - `WHEN MATCHED AND <matchedDelete> THEN DELETE` — matched
    *     target rows satisfying the predicate drop;
    *   - `WHEN MATCHED AND <matchedUpdate> THEN UPDATE SET *` — each
    *     remaining matched target row is replaced by its source row
    *     (all columns; `None` = unconditional, like Delta's bare
    *     UPDATE). Delete wins when both predicates match, Delta's
    *     clause-order rule with DELETE listed first;
    *   - `WHEN NOT MATCHED THEN INSERT *` — source rows whose key
    *     exists nowhere in the table insert, unless
    *     `insertNotMatched = false`.
    *
    * Predicates are SQL strings over the joined row: target columns
    * by name, source columns as `src_<name>` — e.g.
    * `"src_l_quantity > l_quantity"`. Source rows must be unique per
    * key (enforced), matching Delta's multiple-source-match error; a
    * key matching N target rows applies its clause to each of the N.
    *
    * Same scale discipline as [[merge]]: only files whose stats range
    * contains a source key rewrite, the untouched majority carries by
    * reference, the commit re-validates under the version CAS with the
    * dv-aware keyed-rewrite conflict rules. Returns
    * (#files rewritten, #rows deleted, #rows updated, #rows inserted).
    */
  def mergeInto(source0: DataFrame, statsCol: String, path: String,
                matchedUpdate: Option[String] = None,
                matchedDelete: Option[String] = None,
                insertNotMatched: Boolean = true,
                files: Int = 8, targetRows: Long = 0L): (Int, Long, Long, Long) = {
    import org.apache.spark.sql.functions._
    val spark = source0.sparkSession
    val v = currentVersion(spark, path)
    require(v > 0, s"mergeInto before write at $path")
    checkStatsCol(spark, path, statsCol)
    val source = source0.persist()
    try {
      val snapRows = snapshot(spark, path, v).collect().toSeq
      if (source.isEmpty) return (0, 0L, 0L, 0L)
      require(source.filter(col(statsCol).isNull).isEmpty,
        s"mergeInto source carries NULL '$statsCol' keys")
      val dupKeys = source.groupBy(col(statsCol)).count().filter(col("count") > 1)
      require(dupKeys.isEmpty,
        s"mergeInto source has duplicate '$statsCol' keys — multiple source " +
          "matches per target row are ambiguous (Delta raises the same error)")
      val statsDf = snapshot(spark, path, v)
      val affected = source.select(col(statsCol).as("__k")).distinct()
        .join(broadcast(statsDf),
          col("__k") >= col("lo") && col("__k") <= col("hi"))
        .select("file").distinct().collect().map(_.getString(0)).toSet
      val (touch, keep) = snapRows.partition(r => affected(r.getString(0)))
      val tgtCols = if (touch.nonEmpty)
          readWithDv(spark, touch.map(r => (r.getString(0), r.getString(4)))).columns.toSeq
        else source.columns.toSeq
      val srcPrefixed = source.columns.foldLeft(source)((d, c) =>
        d.withColumnRenamed(c, s"src_$c"))
      // matched work happens only over the affected files' rows
      val joined =
        if (touch.isEmpty) null
        else readWithDv(spark, touch.map(r => (r.getString(0), r.getString(4))))
          .join(srcPrefixed, col(statsCol) === col(s"src_$statsCol"), "left")
      val matched = if (joined == null) null
        else joined.filter(col(s"src_$statsCol").isNotNull)
      val unmatchedTgt = if (joined == null) null
        else joined.filter(col(s"src_$statsCol").isNull).select(tgtCols.map(col): _*)
      // NULL-valued clause predicates mean "clause not taken" (SQL
      // three-valued logic would otherwise silently DROP a row from
      // the !delCond filter without counting it deleted)
      val delCond = coalesce(matchedDelete.map(expr).getOrElse(lit(false)), lit(false))
      val updCond = coalesce(matchedUpdate.map(expr).getOrElse(lit(true)), lit(false))
      // ONE aggregate pass over the matched rows for both clause
      // counts — separate .filter().count() jobs would re-scan the
      // affected files once per clause
      val (deleted, updated) =
        if (matched == null) (0L, 0L)
        else {
          val r = matched.agg(
            sum(when(delCond, 1L).otherwise(0L)),
            sum(when(!delCond && updCond, 1L).otherwise(0L))).head()
          (if (r.isNullAt(0)) 0L else r.getLong(0),
            if (r.isNullAt(1)) 0L else r.getLong(1))
        }
      val afterDelete = if (matched == null) null else matched.filter(!delCond)
      // updated rows take the SOURCE row (SET *); untouched matched keep
      val updatedRows = if (afterDelete == null) null
        else afterDelete.filter(updCond)
          .select(source.columns.toSeq.map(c => col(s"src_$c").as(c)): _*)
      val keptMatched = if (afterDelete == null) null
        else afterDelete.filter(!updCond).select(tgtCols.map(col): _*)
      // inserts: source keys matching NO target row anywhere (a key in
      // range of an affected file but absent still counts as new)
      val matchedKeys = if (matched == null)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            source.select(col(statsCol)).schema)
        else matched.select(col(s"src_$statsCol").as(statsCol)).distinct()
      val inserts =
        if (!insertNotMatched) source.limit(0)
        else source.join(matchedKeys, Seq(statsCol), "left_anti")
      val inserted = inserts.count()
      if (deleted == 0 && updated == 0 && inserted == 0) return (0, 0L, 0L, 0L)
      // pure-insert outcome: no matched row changed, so the touched
      // files carry by reference and only the inserts land (an
      // append-shaped commit, not a rewrite)
      val insertOnly = deleted == 0 && updated == 0
      val outParts =
        if (insertOnly) Seq(inserts)
        else Seq(Option(unmatchedTgt), Option(updatedRows),
          Option(keptMatched), Some(inserts)).flatten
      val out = outParts.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
      val nOut =
        if (targetRows > 0) {
          val vol = (if (insertOnly) 0L else touch.map(_.getLong(3)).sum) + inserted
          math.max(1L, (vol + targetRows - 1) / targetRows).toInt
        } else files
      val batchDir = newBatchDir(path)
      out.repartitionByRange(nOut, col(statsCol))
        .sortWithinPartitions(statsCol)
        .write.parquet(batchDir)
      val fresh = listDataFiles(spark, batchDir).toSeq.sorted
      try enforceConstraints(spark, path, fresh)
      catch { case e: Throwable =>
        fs(spark, path).delete(new org.apache.hadoop.fs.Path(batchDir), true)
        throw e
      }
      val freshRows =
        if (fresh.isEmpty) Seq.empty[org.apache.spark.sql.Row]
        else statsOfRewrite(spark, path, fresh, statsCol).collect().toSeq
      val Array(kmin, kmax) = source
        .agg(min(col(statsCol)), max(col(statsCol))).head().toSeq.toArray
      val schema = snapshot(spark, path, v).schema
      val replacedDv =
        if (insertOnly) Map.empty[String, String]
        else touch.map(r => r.getString(0) -> r.getString(4)).toMap
      commitKeyedRewrite(spark, path, "mergeInto", replacedDv,
        snapRows.map(_.getString(0)).toSet, freshRows, schema, kmin, kmax)
      (if (insertOnly) 0 else touch.size, deleted, updated, inserted)
    } finally source.unpersist()
  }

  /** Commit a KEYED rewrite (merge/delete) under the version CAS: the
    * rewrite composes with concurrent appends UNLESS a replaced file
    * vanished (a concurrent rewrite took it — composing would drop
    * that writer's rows), a replaced file's dv pointer moved (a
    * concurrent MOR delete — the rewrite's output carries the stale
    * tombstone state and would resurrect the newly deleted rows), or
    * a file that appeared after key detection overlaps the key range
    * (its same-key rows were never rewritten — composing would
    * resurrect them); all three throw a retryable conflict.
    * `affectedDv` is the (file -> dv) map AS READ by the rewrite.
    */
  private[operators] def commitKeyedRewrite(spark: SparkSession, path: String, op: String,
                                 affectedDv: Map[String, String], snapFiles: Set[String],
                                 freshRows: Seq[org.apache.spark.sql.Row],
                                 schema: org.apache.spark.sql.types.StructType,
                                 kmin: Any, kmax: Any): Unit = {
    val affected = affectedDv.keySet
    var committed = false
    while (!committed) {
      val head = currentVersion(spark, path)
      val headRows = snapshot(spark, path, head).collect().toSeq
      val live = headRows.map(_.getString(0)).toSet
      val gone = affected -- live
      if (gone.nonEmpty)
        throw new IllegalStateException(
          s"$op conflict at $path v$head: concurrently rewritten files ${gone.take(3).mkString(", ")}; retry the $op")
      val dvMoved = headRows.filter(r => affected(r.getString(0)) &&
        affectedDv(r.getString(0)) != r.getString(4))
      if (dvMoved.nonEmpty)
        throw new IllegalStateException(
          s"$op conflict at $path v$head: a concurrent delete moved a dv pointer on " +
            s"${dvMoved.take(3).map(_.getString(0)).mkString(", ")}; retry the $op")
      val lateOverlap = headRows.filter { r =>
        val file = r.getString(0)
        !snapFiles(file) && !freshRows.exists(_.getString(0) == file) &&
          cmp(r.get(2), kmin) >= 0 && cmp(r.get(1), kmax) <= 0
      }
      if (lateOverlap.nonEmpty)
        throw new IllegalStateException(
          s"$op conflict at $path v$head: concurrent append overlaps the keys (${lateOverlap.take(3).map(_.getString(0)).mkString(", ")}); retry the $op")
      val keepNow = headRows.filterNot(r => affected(r.getString(0)))
      committed = tryCommit(spark, path, head + 1, keepNow ++ freshRows, schema)
    }
  }

  /** Copy-on-write DELETE by key — the erasure pass a training-data
    * pipeline must run (right-to-be-forgotten, contaminated-document
    * removal): every row whose `statsCol` key appears in `keys0` is
    * dropped. Same file-local discipline as [[merge]]: only files
    * whose [lo, hi] range contains a delete key are rewritten (minus
    * the keyed rows), the untouched majority carries by reference,
    * fan-out sized from carried volume, commit under the version CAS
    * with the same conflict re-checks. Old files remain until
    * [[vacuum]] — a REAL erasure workflow runs delete() then
    * vacuum(retain = 1) so the bytes are physically destroyed.
    * Returns (#files rewritten, #rows deleted — exact, from the
    * before/after stats).
    */
  def delete(keys0: DataFrame, statsCol: String, path: String,
             files: Int = 8, targetRows: Long = 0L): (Int, Long) = {
    import org.apache.spark.sql.functions._
    val spark = keys0.sparkSession
    val v = currentVersion(spark, path)
    require(v > 0, s"delete before write at $path")
    checkStatsCol(spark, path, statsCol)
    val keys = keys0.select(col(statsCol)).distinct().persist()
    try {
      // one aggregate answers emptiness, the NULL-key screen AND the
      // key range (previously three separate driver actions over the
      // same frame); count(lit(1)) counts null keys too
      val kstats = keys.agg(count(lit(1)).as("n"),
        sum(when(col(statsCol).isNull, 1L).otherwise(0L)).as("nnull"),
        min(col(statsCol)).as("kmin"), max(col(statsCol)).as("kmax")).head()
      if (kstats.getLong(0) == 0L) return (0, 0L)
      require(kstats.getLong(1) == 0L,
        s"delete keys carry NULL '$statsCol' — a null key never matches any row")
      val snapRows = snapshot(spark, path, v).collect().toSeq
      val statsDf = snapshot(spark, path, v)
      val affected = keys.select(col(statsCol).as("__k"))
        .join(broadcast(statsDf),
          col("__k") >= col("lo") && col("__k") <= col("hi"))
        .select("file").distinct().collect().map(_.getString(0)).toSet
      val touch = snapRows.filter(r => affected(r.getString(0)))
      if (touch.isEmpty) return (0, 0L)
      val out = readWithDv(spark, touch.map(r => (r.getString(0), r.getString(4))))
        .join(keys, Seq(statsCol), "left_anti")
      // physical row counts minus rows ALREADY dead under a DV — so
      // the returned delete count stays exact when COW follows MOR
      val touchDvs = touch.flatMap(r => Option(r.getString(4))).distinct.sorted
      val touchSet = touch.map(_.getString(0))
      val dvDead =
        if (touchDvs.isEmpty) 0L
        else spark.read.parquet(touchDvs: _*)
          .filter(col("file").isin(touchSet: _*)).count()
      val touchRows = touch.map(_.getLong(3)).sum - dvDead
      val nOut =
        if (targetRows > 0) math.max(1L, (touchRows + targetRows - 1) / targetRows).toInt
        else files
      val batchDir = newBatchDir(path)
      out.repartitionByRange(nOut, col(statsCol))
        .sortWithinPartitions(statsCol)
        .write.parquet(batchDir)
      val fresh = listDataFiles(spark, batchDir).toSeq.sorted
      val freshRows =
        if (fresh.isEmpty) Seq.empty[org.apache.spark.sql.Row]
        else statsOfRewrite(spark, path, fresh, statsCol).collect().toSeq
      val (kmin, kmax) = (kstats.get(2), kstats.get(3))
      val schema = snapshot(spark, path, v).schema
      commitKeyedRewrite(spark, path, "delete",
        touch.map(r => r.getString(0) -> r.getString(4)).toMap,
        snapRows.map(_.getString(0)).toSet, freshRows, schema, kmin, kmax)
      (touch.size, touchRows - freshRows.map(_.getLong(3)).sum)
    } finally keys.unpersist()
  }

  /** Merge-on-read DELETE by key — the erasure shape for a 100 TB
    * table where copy-on-write would rewrite terabyte files to drop a
    * few rows each: instead of rewriting, the keyed rows' POSITIONS
    * (from `_metadata.row_index`) are written as a deletion-vector
    * batch (16 bytes a row) and the affected files' manifest rows are
    * repointed at it — a pure-metadata commit plus a kilobytes-scale
    * sidecar write (Delta's deletion vectors / Iceberg's v2 position
    * deletes). Readers apply DVs via [[read]]'s anti-join; the
    * physical purge is DEFERRED to the next [[compact]] of those
    * files (which reads DV-applied and drops the pointer) +
    * [[vacuum]] (which reclaims the replaced bytes) — so a real
    * right-to-be-forgotten pass is deleteMor() now, compact()+vacuum()
    * inside the compliance window.
    *
    * Repeated MOR deletes COMPOSE: each affected file's new DV is the
    * union of its old positions and the fresh hits, so one `dv`
    * pointer per file is always the complete tombstone set (time
    * travel to any version applies exactly that version's DVs).
    * Returns (#files repointed, #rows newly deleted — exact; rows
    * already dead under an earlier DV don't recount).
    *
    * Concurrency: composes with appends OUTSIDE the key range under
    * the same CAS retry as keyed rewrites; throws a retryable conflict
    * if an affected file was concurrently rewritten, if its dv pointer
    * moved (a racing MOR delete — composing would clobber its
    * positions), or if a late append overlaps the key range (its rows
    * were never scanned).
    */
  def deleteMor(keys0: DataFrame, statsCol: String, path: String): (Int, Long) = {
    import org.apache.spark.sql.functions._
    val spark = keys0.sparkSession
    val v = currentVersion(spark, path)
    require(v > 0, s"deleteMor before write at $path")
    checkStatsCol(spark, path, statsCol)
    val keys = keys0.select(col(statsCol)).distinct().persist()
    try {
      // one aggregate answers emptiness, the NULL-key screen AND the
      // key range (previously three separate driver actions over the
      // same frame); count(lit(1)) counts null keys too
      val kstats = keys.agg(count(lit(1)).as("n"),
        sum(when(col(statsCol).isNull, 1L).otherwise(0L)).as("nnull"),
        min(col(statsCol)).as("kmin"), max(col(statsCol)).as("kmax")).head()
      if (kstats.getLong(0) == 0L) return (0, 0L)
      require(kstats.getLong(1) == 0L,
        s"deleteMor keys carry NULL '$statsCol' — a null key never matches any row")
      val snapRows = snapshot(spark, path, v).collect().toSeq
      val statsDf = snapshot(spark, path, v)
      val affected = keys.select(col(statsCol).as("__k"))
        .join(broadcast(statsDf),
          col("__k") >= col("lo") && col("__k") <= col("hi"))
        .select("file").distinct().collect().map(_.getString(0)).toSet
      val touch = snapRows.filter(r => affected(r.getString(0)))
      if (touch.isEmpty) return (0, 0L)
      val touchFiles = touch.map(_.getString(0))
      // keyed row positions in the RAW affected files (one scan of
      // just those files — the untouched majority is never read)
      val hits = readAligned(spark, touchFiles)
        .select(input_file_name().as("file"),
          col("_metadata.row_index").as("pos"), col(statsCol).as("__k"))
        .join(keys.withColumnRenamed(statsCol, "__k"), Seq("__k"), "left_semi")
        .select("file", "pos")
      // positions already dead under the files' existing DVs: rows the
      // raw scan re-matches but this delete must not recount
      val oldDvs = touch.flatMap(r => Option(r.getString(4))).distinct.sorted
      val existing =
        if (oldDvs.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("file", org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("pos", org.apache.spark.sql.types.LongType))))
        else spark.read.parquet(oldDvs: _*).select("file", "pos")
          .filter(col("file").isin(touchFiles: _*))
      // first delete on these files: no existing tombstones, so the
      // EXCEPT-ALL (and the union∪distinct below) against a provably
      // empty side is the identity — skip the shuffles they would plan
      val freshDead = (if (oldDvs.isEmpty) hits else hits.exceptAll(existing)).persist()
      try {
        // one aggregate answers BOTH the tombstone count and (on the
        // no-existing-DV branch, where merged == freshDead) the set of
        // files that actually carry tombstones — the separate
        // select(file).distinct().collect() job below is then skipped.
        // The file set is bounded by the touched-file list (table
        // metadata the driver already holds), never row-sized.
        val dstats = freshDead.agg(count(lit(1)).as("n"),
          collect_set(col("file")).as("files")).head()
        val deleted = dstats.getLong(0)
        if (deleted == 0L) return (0, 0L)
        // one DV batch per commit: each touched file's COMPLETE
        // tombstone set (old ∪ fresh), RANGE-clustered by (file, pos)
        // — contiguous file ranges per part file keep the parquet
        // min/max stats on `file` tight, so the SQL face's
        // per-partition DV probe footer-skips every part file that
        // cannot hold its own tombstones (hash clustering would give
        // each part a lexicographically wide [min, max] and defeat
        // that pruning). Sized off BOTH the position count (a
        // billion-row erasure still fans out) and the touched-file
        // count (a broad erasure splits into per-few-files sidecars
        // the probe can skip), capped so a small delete on a
        // many-file table doesn't spray tiny files.
        // hits' (file, pos) rows are unique by construction (one scan
        // row per position, semi-join never duplicates), so with no
        // existing DVs the merged tombstone set IS freshDead
        val merged =
          if (oldDvs.isEmpty) freshDead
          else freshDead.unionByName(existing).distinct()
        val dvDir = newBatchDir(path)
        val nOut = math.max(
          math.max(1L, (deleted + 8000000L - 1) / 8000000L),
          math.min(touchFiles.size.toLong, 64L)).toInt
        merged.repartitionByRange(nOut, col("file"), col("pos"))
          .sortWithinPartitions("file", "pos")
          .write.parquet(dvDir)
        // only files that actually carry tombstones repoint (a file
        // whose stats range matched but held no key keeps its row
        // byte-identical, so CDC sees no phantom change). With no
        // existing DVs merged == freshDead, whose file set the count
        // aggregate above already collected; otherwise the merged set
        // needs its own pass.
        val withDead =
          if (oldDvs.isEmpty) dstats.getSeq[String](1).toSet
          else merged.select("file").distinct()
            .collect().map(_.getString(0)).toSet
        val plannedDv = touch.map(r => r.getString(0) -> r.getString(4)).toMap
        val (kmin, kmax) = (kstats.get(2), kstats.get(3))
        val snapFiles = snapRows.map(_.getString(0)).toSet
        val schema = snapshot(spark, path, v).schema
        var committed = false
        while (!committed) {
          val head = currentVersion(spark, path)
          headRows(spark, path, head) match {
            case None => () // crashed head repaired — re-read and retry
            case Some(hr) =>
              val live = hr.map(_.getString(0)).toSet
              val gone = affected -- live
              if (gone.nonEmpty)
                throw new IllegalStateException(
                  s"deleteMor conflict at $path v$head: concurrently rewritten files ${gone.take(3).mkString(", ")}; retry the deleteMor")
              val dvNow = hr.filter(r => affected(r.getString(0)))
                .map(r => r.getString(0) -> r.getString(4)).toMap
              if (dvNow != plannedDv)
                throw new IllegalStateException(
                  s"deleteMor conflict at $path v$head: a concurrent delete moved a dv pointer; retry the deleteMor")
              val lateOverlap = hr.filter { r =>
                val file = r.getString(0)
                !snapFiles(file) &&
                  cmp(r.get(2), kmin) >= 0 && cmp(r.get(1), kmax) <= 0
              }
              if (lateOverlap.nonEmpty)
                throw new IllegalStateException(
                  s"deleteMor conflict at $path v$head: concurrent append overlaps the keys (${lateOverlap.take(3).map(_.getString(0)).mkString(", ")}); retry the deleteMor")
              val updated = hr.map { r =>
                if (withDead(r.getString(0)))
                  org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(4, dvDir))
                else r
              }
              committed = tryCommit(spark, path, head + 1, updated, schema)
          }
        }
        (withDead.size, deleted)
      } finally freshDead.unpersist()
    } finally keys.unpersist()
  }

  /** RESTORE the table to an earlier snapshot — published as a NEW
    * version whose file list is exactly version `toVersion`'s (the
    * Delta RESTORE shape: history is never rewritten, the rollback is
    * itself a versioned, CAS-committed mutation, and the rolled-back
    * versions stay readable until vacuum). No data files move or
    * rewrite — this is pure snapshot metadata. Returns the new head
    * version.
    */
  def restore(spark: SparkSession, path: String, toVersion: Int): Int = {
    require(toVersion >= 1, s"restore needs an explicit version, got $toVersion")
    val target = snapshot(spark, path, toVersion).collect().toSeq
    val schema = snapshot(spark, path, toVersion).schema
    var head = currentVersion(spark, path)
    require(toVersion <= head, s"restore to v$toVersion but head is v$head")
    var committed = false
    while (!committed) {
      head = currentVersion(spark, path)
      committed = tryCommit(spark, path, head + 1, target, schema)
    }
    head + 1
  }

  /** Change-data-capture between two versions: (added, removed) row
    * frames. Data files are immutable, so rows can only change by file
    * replacement — the diff scans ONLY the symmetric difference of the
    * two file lists (a merge that rewrote 2 of 500 files diffs by
    * reading ~4 files, not the table) and resolves row-level identity
    * with two EXCEPT-ALL passes over those files. Multiset semantics:
    * duplicate rows count, a row moved between files cancels out.
    */
  def diff(spark: SparkSession, path: String, vFrom: Int,
           vTo: Int): (DataFrame, DataFrame) = {
    // explicit versions only — snapshot()'s v<=0 latest-fallback would
    // silently diff the wrong pair. vFrom = 0 is the EMPTY table (the
    // pre-creation state), so diff(0, v) is a bootstrap: added = all of
    // v's live rows, removed = nothing.
    require(vFrom >= 0 && vTo >= 1, s"diff needs explicit versions, got $vFrom -> $vTo")
    // identity is (file, dv): a MOR delete changes no file list, only
    // a dv pointer — the pair-diff reads that file on both sides (old
    // DV vs merged DV) and EXCEPT-ALL leaves exactly the newly dead
    // rows; unchanged (file, dv) pairs are never read
    def fileDvs(v: Int): Map[String, String] =
      if (v == 0) Map.empty
      else snapshot(spark, path, v).collect()
        .map(r => r.getString(0) -> r.getString(4)).toMap
    val from = fileDvs(vFrom)
    val to = fileDvs(vTo)
    val onlyFrom = from.toSeq
      .filterNot { case (f, d) => to.get(f).contains(d) }.sortBy(_._1)
    val onlyTo = to.toSeq
      .filterNot { case (f, d) => from.get(f).contains(d) }.sortBy(_._1)
    def readOr(pairs: Seq[(String, String)], like: Seq[String]): DataFrame =
      if (pairs.nonEmpty) readWithDv(spark, pairs)
      else readAligned(spark, like)
        .filter(org.apache.spark.sql.functions.lit(false))
    val allFiles = (from.keySet ++ to.keySet).toSeq.sorted
    // FAST PATH — DV-only repoints (the MOR-delete commit shape): when
    // the two versions hold the SAME file list and every changed pair
    // is a dv move whose dead set only GREW, the diff is computable
    // POSITIONALLY from the DV delta: removed = the rows at newly-dead
    // positions, added = nothing. That replaces two EXCEPT-ALL passes
    // (each a full shuffle+aggregate of every repointed file's live
    // rows, read twice) with ONE scan of the affected files joined to
    // the deleted-row-sized delta. Exactness: files are immutable, so
    // with no resurrected positions the multiset EXCEPT-ALL result is
    // exactly the union of per-file newly-dead rows (no cross-file
    // cancellation is possible when nothing is added); any resurrect
    // (a RESTORE repointing to an older, smaller DV) falls back to the
    // pair-diff below.
    if (from.keySet == to.keySet && onlyFrom.nonEmpty && onlyTo.nonEmpty) {
      dvDeltaDiff(spark, onlyFrom, onlyTo, allFiles) match {
        case Some(res) => return res
        case None      => () // resurrected positions — pair-diff below
      }
    }
    val oldRows = readOr(onlyFrom, allFiles)
    val newRows = readOr(onlyTo, allFiles)
    // a diff across a schema-evolution boundary compares frames with
    // different column sets (added columns) or widened types — align
    // on the union under the widening lattice (absent → NULL, narrow →
    // cast), so EXCEPT-ALL sees the evolution as row changes, not an
    // analysis error
    val allCols = mergeWiden(oldRows.schema, newRows.schema).fields.toSeq
    def align(df: DataFrame): DataFrame = {
      import org.apache.spark.sql.functions.{col, lit}
      df.select(allCols.map { f =>
        if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
    // a side with NO changed pairs is the empty frame by construction
    // (readOr's lit(false) filter) — EXCEPT-ALL against it is the
    // identity, so skip the shuffle it would otherwise plan: a pure
    // append's (and the v1 bootstrap's) feed frames are then plain
    // reads of the new files, and only a genuine rewrite/MOR version
    // pays the pair-diff
    if (onlyFrom.isEmpty || onlyTo.isEmpty)
      (align(newRows), align(oldRows))
    else
      (align(newRows).exceptAll(align(oldRows)),
        align(oldRows).exceptAll(align(newRows)))
  }

  /** The DV-delta positional diff behind [[diff]]'s fast path: both
    * pair lists must cover the SAME files (dv moves only). Returns
    * None when any old-dead position is missing from the new DV (a
    * resurrect — positional semantics would gross up what EXCEPT-ALL
    * nets out); otherwise (added = empty, removed = rows at newly-dead
    * positions), reading ONLY files that own newly-dead rows.
    */
  private def dvDeltaDiff(spark: SparkSession,
                          onlyFrom: Seq[(String, String)],
                          onlyTo: Seq[(String, String)],
                          allFiles: Seq[String]): Option[(DataFrame, DataFrame)] = {
    import org.apache.spark.sql.functions._
    val repointed = onlyTo.map(_._1)
    def deadOf(pairs: Seq[(String, String)]): DataFrame = {
      val dirs = pairs.flatMap(p => Option(p._2)).distinct.sorted
      if (dirs.isEmpty)
        spark.range(0).select(lit("").as("file"), lit(0L).as("pos")).filter(lit(false))
      else spark.read.parquet(dirs: _*).select(col("file"), col("pos"))
        .filter(col("file").isin(repointed: _*))
    }
    val oldDvDirs = onlyFrom.flatMap(p => Option(p._2))
    val newDead = deadOf(onlyTo)
    // the FIRST delete on these files (no old DV dirs at all): nothing
    // can have resurrected, the delta IS the new dead set, and it is a
    // direct parquet read of the deleted-row-sized sidecar — skip the
    // resurrect-gate job, the anti-join and the checkpoint (three
    // driver-blocking jobs at every scan build of this feed shape)
    val newly =
      if (oldDvDirs.isEmpty) newDead
      else {
        val oldDead = deadOf(onlyFrom)
        // resurrect gate: every old dead position must stay dead
        if (!oldDead.join(newDead, Seq("file", "pos"), "left_anti").isEmpty) return None
        // the delta is deleted-row-sized; materialize once (query-scoped
        // blocks) — it feeds both the file-pruning collect and the join
        newDead.join(oldDead, Seq("file", "pos"), "left_anti")
          .localCheckpoint()
      }
    val hitFiles = newly.select("file").distinct().collect()
      .map(_.getString(0)).sorted.toSeq
    val empty = readAligned(spark, allFiles).filter(lit(false))
    val removed =
      if (hitFiles.isEmpty) empty
      else readAligned(spark, hitFiles)
        .withColumn("__file", input_file_name())
        .withColumn("__pos", col("_metadata.row_index"))
        .join(newly.select(col("file").as("__file"), col("pos").as("__pos")),
          Seq("__file", "__pos"))
        .drop("__file", "__pos")
    Some((empty, removed))
  }

  /** CHANGE FEED over a version range (Delta's table_changes /
    * readChangeFeed shape): every row added or removed by each version
    * in **(afterVersion, toV] — EXCLUSIVE of `afterVersion`**, tagged
    * `_change_type` ('insert' | 'delete') and `_commit_version`.
    *
    * DIVERGENCE FROM DELTA, stated loudly: Delta's `startingVersion`
    * is INCLUSIVE (table_changes(2, 5) includes v2's changes); this
    * parameter is the version AFTER which changes flow —
    * `changeFeed(path, 2, 5)` covers v3..v5. The exclusive bound is
    * deliberate: it composes with [[diff]] (`diff(a, b)` is the net of
    * (a, b]) and with [[follow]]'s cursor ("everything after what I
    * consumed"), so the endpoint identity `changeFeed(a, b)` net ==
    * `diff(a, b)` holds with the same bounds on both sides. Port
    * Delta's table_changes(start, end) as `changeFeed(start - 1, end)`.
    *
    * Built on [[diff]]'s pair discipline, so each version reads ONLY
    * its changed (file, dv) pairs — an append costs its new files, a
    * MOR delete its repointed files (old DV vs merged DV, EXCEPT-ALL
    * leaves exactly the newly dead rows), and untouched versions cost
    * nothing. An upsert surfaces as delete+insert of the changed rows,
    * like Delta CDF without the update_pre/postimage refinement
    * (documented). Multiset semantics per version, same as diff.
    *
    * `afterVersion = 0` bootstraps from the EMPTY pre-creation state:
    * the feed then opens with v1's rows as inserts (Delta's
    * `startingVersion = 1`), so a consumer can build the table from
    * the feed alone — the SQL face ([[graft.sources.ManifestBatchSource]])
    * maps its inclusive `startingVersion` option straight onto this.
    */
  def changeFeed(spark: SparkSession, path: String,
                 afterVersion: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val fromV = afterVersion
    require(fromV >= 0 && toV >= fromV && toV >= 1,
      s"changeFeed needs 0 <= afterVersion <= toV, toV >= 1, got $fromV..$toV")
    val vs = versions(spark, path).filter(v => v > fromV && v <= toV)
    require(vs.nonEmpty || fromV == toV,
      s"no versions in ($fromV, $toV] under $path (vacuumed?)")
    val frames = vs.flatMap { v =>
      // v's predecessor is either the always-available empty table
      // (v = 1) or a still-live snapshot
      require(v == 1 || versions(spark, path).contains(v - 1),
        s"changeFeed cannot diff v$v: its predecessor was vacuumed")
      val (added, removed) = diff(spark, path, v - 1, v)
      Seq(
        added.withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(v)),
        removed.withColumn("_change_type", lit("delete"))
          .withColumn("_commit_version", lit(v)))
    }
    if (frames.isEmpty) {
      import org.apache.spark.sql.functions.lit
      read(spark, path, fromV).limit(0)
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0))
    } else frames.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** Scan `statsCol ∈ [lo, hi]` AT a version (−1 = latest): the
    * one-predicate [[readPrunedN]] — zone-map pruning inside the
    * snapshot's file list, residual filter on top, so results equal a
    * plain scan of exactly that version's files. Returns (frame,
    * surviving files, total files in the snapshot).
    */
  def readPrunedAt(spark: SparkSession, path: String, statsCol: String,
                   lo: Any, hi: Any, version: Int = -1): (DataFrame, Int, Int) =
    readPrunedN(spark, path, Seq((statsCol, lo, hi)), version)

  /** Order of two manifest bounds (None = incomparable). */
  private def cmpOpt(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long)     => Some(java.lang.Long.compare(x, y))
    case (x: Int, y: Int)       => Some(Integer.compare(x, y))
    case (x: Number, y: Number) => Some(java.lang.Double.compare(x.doubleValue(), y.doubleValue()))
    // same UTF-8 binary order as the engine's string comparisons —
    // these bounds drive file pruning against predicates the scan
    // evaluates in UTF8String order, so the two must agree exactly
    case (x: String, y: String) => Some(utf8Cmp(x, y))
    case _ => None
  }

  private def cmp(a: Any, b: Any): Int = cmpOpt(a, b).getOrElse(
    throw new IllegalArgumentException(s"incomparable manifest bounds: $a vs $b"))

  /** Unsigned lexicographic comparison of the UTF-8 encodings — the
    * exact order Spark's UTF8String (and parquet's binary stats)
    * comparisons use for strings.
    */
  private def utf8Cmp(x: String, y: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(x)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))

  // ---- log checkpoints (Delta's _last_checkpoint discipline) ----

  /** Every `CheckpointInterval`-th commit also writes a LOG CHECKPOINT
    * (best-effort, post-CAS): the per-version FILE DELTAS
    * (add/remove/dv-move) of every version up to the commit, folded
    * onto the previous checkpoint. [[history]] and [[follow]] then
    * read ONE checkpoint parquet plus only the payloads of versions
    * PAST it — a 1000-version table's chain walk costs O(interval)
    * payload reads instead of O(versions). Snapshot resolution itself
    * was never the problem (payloads are full snapshots, so
    * time-travel is O(1)); the checkpoint bounds the walks that need
    * every version's delta.
    */
  val CheckpointInterval = 16

  private val ckptRe = "^ckpt-v(\\d+)-.*$".r // \d+: names grow past 5 digits at v100000

  /** Newest checkpoint (version, payload dir), if any. Ties on version
    * (two racing maintenance calls) break deterministically by name.
    */
  private def latestCkpt(spark: SparkSession, path: String): Option[(Int, String)] = {
    val dir = new org.apache.hadoop.fs.Path(logDir(path))
    val f = fs(spark, path)
    if (!f.exists(dir)) return None
    f.listStatus(dir).iterator.flatMap { s =>
      ckptRe.findFirstMatchIn(s.getPath.getName)
        .map(m => (m.group(1).toInt, s"${logDir(path)}/${s.getPath.getName}"))
    }.toSeq.sorted.lastOption
  }

  private val ckptSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("version", org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("kind", org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("file", org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("dv", org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("rows", org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType, nullable = false)))

  /** Checkpoint the log up to the current head. Returns the
    * checkpointed version (the previous checkpoint's if already
    * current). Safe under races: each attempt writes a uniquely-named
    * dir and readers take the newest — a lost race costs an orphan
    * checkpoint that [[vacuum]] reclaims.
    */
  def checkpointLog(spark: SparkSession, path: String): Int =
    checkpointUpTo(spark, path, currentVersion(spark, path))

  private def checkpointUpTo(spark: SparkSession, path: String, head: Int): Int = {
    val prev = latestCkpt(spark, path)
    val startV = prev.map(_._1).getOrElse(0)
    if (head <= startV) return startV
    val prevRows0 = prev
      .map(p => readCkptRows(spark, p._2))
      .getOrElse(Seq.empty)
    val allVs = versions(spark, path)
    val live = allVs.filter(v => v > startV && v <= head)
    if (live.isEmpty) return startV
    // VACUUM-ALIGNED HORIZON: folding every predecessor's delta rows
    // forever makes the checkpoint O(total historical churn) — each
    // 16th commit would rewrite rows for file adds vacuumed years ago,
    // quadratic cumulative on a long-lived table. A version whose
    // pointer is GONE (vacuumed) can never be replayed anyway
    // (followDeltas throws, history never lists it), so its deltas
    // compress to ONE `truncated` marker — kept, not dropped, so a
    // rewound consumer gets the named restart-your-checkpoint error
    // instead of a FileNotFound from a payload probe. Checkpoint size
    // now tracks churn-within-retention + one row per expired version.
    val liveSet = allVs.toSet
    val prevRows = prevRows0.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .flatMap { case (v, rs) =>
        if (liveSet(v)) rs
        else Seq(org.apache.spark.sql.Row(
          v, "truncated", null, null, null, rs.map(_.getLong(5)).min))
      }
    val f = fs(spark, path)
    def ptrTs(v: Int): Long =
      try f.getFileStatus(new org.apache.hadoop.fs.Path(vDir(path, v))).getModificationTime
      catch { case _: java.io.FileNotFoundException => 0L }
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    import org.apache.spark.sql.Row
    // predecessor state for the first walked version: absent (vacuumed
    // or crash-gap) marks that version `truncated` — deltas unknowable
    var prevOpt: Option[Seq[Row]] =
      if (live.head == 1) Some(Seq.empty)
      else if (allVs.contains(live.head - 1))
        Some(snapshot(spark, path, live.head - 1).collect().toSeq)
      else None
    live.foreach { v =>
      val cur = snapshot(spark, path, v).collect().toSeq
      val ts = ptrTs(v)
      prevOpt match {
        case None =>
          buf += Row(v, "truncated", null, null, null, ts)
        case Some(prevS) =>
          val prevFiles = prevS.map(_.getString(0)).toSet
          val curFiles = cur.map(_.getString(0)).toSet
          val prevDv = prevS.map(r => r.getString(0) -> r.getString(4)).toMap
          var any = false
          cur.filterNot(r => prevFiles(r.getString(0))).foreach { r =>
            buf += Row(v, "add", r.getString(0), r.getString(4),
              r.getLong(3): java.lang.Long, ts); any = true
          }
          prevS.filterNot(r => curFiles(r.getString(0))).foreach { r =>
            buf += Row(v, "remove", r.getString(0), null,
              r.getLong(3): java.lang.Long, ts); any = true
          }
          cur.filter(r => prevFiles(r.getString(0)) &&
              prevDv(r.getString(0)) != r.getString(4)).foreach { r =>
            buf += Row(v, "dvmove", r.getString(0), r.getString(4), null, ts)
            any = true
          }
          if (!any) buf += Row(v, "none", null, null, null, ts)
      }
      prevOpt = Some(cur)
    }
    // write under a temp name, then PUBLISH by directory rename
    // (atomic on local FS and HDFS): a concurrent latestCkpt must
    // never list a half-written parquet dir and silently read half
    // the deltas — the same visibility discipline as the pointer CAS
    val name = f"ckpt-v${live.last}%05d-${java.util.UUID.randomUUID().toString.take(8)}"
    val tmp = s"${logDir(path)}/.tmp-$name"
    if (!writePayloadDriver(spark, tmp, (prevRows ++ buf).toSeq, ckptSchema))
      // overwrite: writePayloadDriver has already mkdirs'd tmp (and may
      // have left a partial part file if it failed mid-stream) — the
      // default ErrorIfExists would turn that into a spurious
      // path-already-exists failure; tmp is UUID-unique, so overwrite
      // can never clobber a concurrent writer
      spark.createDataFrame(
          spark.sparkContext.parallelize(prevRows ++ buf, 1), ckptSchema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    f.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(s"${logDir(path)}/$name"))
    live.last
  }

  /** Per-version deltas for the table-tailing consumers ([[follow]]
    * and the DSv2 streaming source): one entry per version in
    * (fromV, toV] — (version, #files removed, #dv pointers moved,
    * added (file, dv) pairs). Checkpoint-covered versions cost ONE
    * parquet read total; the tail walks payloads with the predecessor
    * (file → dv) map carried forward. Returns a LAZY iterator: a
    * truncated-predecessor throw at version v surfaces only when the
    * consumer REACHES v, so every deliverable version before it still
    * delivers (and [[follow]] still advances its cursor past them)
    * instead of the whole range aborting up front.
    */
  private[graft] def followDeltas(spark: SparkSession, path: String, fromV: Int,
                                  toV: Int): Iterator[(Int, Int, Int, Seq[(String, String)])] = {
    if (toV <= fromV) return Iterator.empty
    val ck = ckptByVersion(spark, path)
    lazy val liveVs = versions(spark, path).toSet
    var carryDvs: Option[(Int, Map[String, String])] = None
    ((fromV + 1) to toV).iterator.map { v =>
      ck.get(v) match {
        case None if !liveVs(v) =>
          // vacuumed with no checkpoint coverage at all: same named
          // repair as the truncated marker, not a payload FileNotFound
          throw new IllegalStateException(
            s"cannot replay $path v$v: it was vacuumed before any log " +
              "checkpoint covered it — restart from a fresh checkpoint")
        case Some(drs) if drs.exists(_.getString(1) == "truncated") =>
          throw new IllegalStateException(
            s"cannot replay $path v$v: its predecessor was vacuumed before " +
              "the log checkpoint covered it — restart from a fresh checkpoint")
        case Some(drs) =>
          (v, drs.count(_.getString(1) == "remove"),
            drs.count(_.getString(1) == "dvmove"),
            drs.filter(_.getString(1) == "add")
              .map(r => (r.getString(2), r.getString(3))))
        case None =>
          val prev: Map[String, String] =
            if (v == 1) Map.empty
            else carryDvs match {
              case Some((pv, m)) if pv == v - 1 => m
              case _ =>
                // the predecessor itself may sit exactly on the vacuum
                // horizon (v live, v−1 gone, no checkpoint coverage):
                // raise the SAME named restart-from-a-fresh-checkpoint
                // repair, not snapshotDir's misleading crashed-commit
                // error
                if (!liveVs(v - 1))
                  throw new IllegalStateException(
                    s"cannot replay $path v$v: its predecessor was vacuumed before " +
                      "any log checkpoint covered it — restart from a fresh checkpoint")
                snapshot(spark, path, v - 1).collect()
                  .map(r => r.getString(0) -> r.getString(4)).toMap
            }
          val now = snapshot(spark, path, v).collect()
          val nowMap = now.map(r => r.getString(0) -> r.getString(4)).toMap
          carryDvs = Some((v, nowMap))
          (v, (prev.keySet -- nowMap.keySet).size,
            now.count(r => prev.get(r.getString(0))
              .exists(_ != r.getString(4))),
            now.filter(r => !prev.contains(r.getString(0)))
              .map(r => (r.getString(0), r.getString(4))).toSeq)
      }
    }
  }

  /** Checkpoint rows grouped by version (one parquet read), for the
    * chain walks. Empty when no checkpoint exists.
    */
  /** Checkpoint rows, driver-side with the Spark reader as fallback
    * (same discipline as the snapshot payloads — a checkpoint is
    * churn-sized metadata, never worth a distributed job).
    */
  private def readCkptRows(spark: SparkSession,
                           dir: String): Seq[org.apache.spark.sql.Row] =
    readPayloadRowsDriver(spark, dir) match {
      case Some((rows, _)) => rows
      case None => spark.read.schema(ckptSchema).parquet(dir).collect().toSeq
    }

  private def ckptByVersion(spark: SparkSession,
                            path: String): Map[Int, Seq[org.apache.spark.sql.Row]] =
    latestCkpt(spark, path)
      .map(p => readCkptRows(spark, p._2).groupBy(_.getInt(0)))
      .getOrElse(Map.empty)

  /** DESCRIBE HISTORY: one row per version — commit instant (pointer
    * mtime), files added/removed vs the previous snapshot, physical
    * row delta, dv-pointer changes, and a derived operation label
    * (write/append/rewrite/mor-delete/restore-or-noop). Pure
    * metadata — snapshots are kilobytes at any table size. Vacuumed
    * history is simply absent — and the OLDEST retained version after
    * a vacuum (v > 1 with v−1 gone) is labeled `truncated-history`
    * with NULL deltas, not mislabeled as the initial `write` with the
    * whole live file set counted as additions.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val f = fs(spark, path)
    val vs = versions(spark, path)
    // versions covered by the log checkpoint take their deltas from
    // ONE parquet read; only versions past it read payloads (lazily,
    // each at most once) — O(interval) payload reads at any age
    val ck = ckptByVersion(spark, path)
    val snapCache = scala.collection.mutable.Map.empty[Int, Array[org.apache.spark.sql.Row]]
    def snapOf(v: Int): Array[org.apache.spark.sql.Row] =
      snapCache.getOrElseUpdate(v, snapshot(spark, path, v).collect())
    val rows = vs.map { v =>
      val ts = try f.getFileStatus(new org.apache.hadoop.fs.Path(vDir(path, v)))
        .getModificationTime
      catch { case _: java.io.FileNotFoundException => 0L }
      def label(v: Int, added: Int, removed: Int, dvChanged: Int): String =
        if (v == 1) "write"
        else if (removed > 0) "rewrite"
        else if (added > 0) "append"
        else if (dvChanged > 0) "mor-delete"
        else "restore-or-noop"
      ck.get(v) match {
        case Some(drs) if drs.exists(_.getString(1) == "truncated") =>
          org.apache.spark.sql.Row(v, new java.sql.Timestamp(ts),
            "truncated-history", null, null, null, null)
        case Some(drs) =>
          val added = drs.count(_.getString(1) == "add")
          val removed = drs.count(_.getString(1) == "remove")
          val dvChanged = drs.count(_.getString(1) == "dvmove")
          val rowDelta =
            drs.filter(_.getString(1) == "add").map(_.getLong(4)).sum -
              drs.filter(_.getString(1) == "remove").map(_.getLong(4)).sum
          val effTs = if (ts != 0L) ts else drs.head.getLong(5)
          org.apache.spark.sql.Row(v, new java.sql.Timestamp(effTs),
            label(v, added, removed, dvChanged), added, removed, rowDelta, dvChanged)
        case None if v > 1 && !vs.contains(v - 1) =>
          org.apache.spark.sql.Row(v, new java.sql.Timestamp(ts),
            "truncated-history", null, null, null, null)
        case None =>
          val now = snapOf(v)
          val prev = if (v == 1) Array.empty[org.apache.spark.sql.Row] else snapOf(v - 1)
          val prevFiles = prev.map(_.getString(0)).toSet
          val nowFiles = now.map(_.getString(0)).toSet
          val added = now.count(r => !prevFiles(r.getString(0)))
          val removed = prev.count(r => !nowFiles(r.getString(0)))
          val rowDelta = now.map(_.getLong(3)).sum - prev.map(_.getLong(3)).sum
          val prevDv = prev.map(r => r.getString(0) -> r.getString(4)).toMap
          val dvChanged = now.count(r =>
            prevFiles(r.getString(0)) && prevDv(r.getString(0)) != r.getString(4))
          org.apache.spark.sql.Row(v, new java.sql.Timestamp(ts),
            label(v, added, removed, dvChanged), added, removed, rowDelta, dvChanged)
      }
    }
    val schema = StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("commit_ts", TimestampType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("files_added", IntegerType, nullable = true),
      StructField("files_removed", IntegerType, nullable = true),
      StructField("rows_delta", LongType, nullable = true),
      StructField("dv_changes", IntegerType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  // ---- table tailing (the Delta-streaming-source shape) ----

  /** Follow a manifest table as an incremental consumer: deliver the
    * rows APPENDED by each new version since the checkpointed cursor,
    * one call to `f(batch, version)` per version, committing the
    * cursor AFTER `f` returns — at-least-once across crashes (pair
    * with an idempotent sink, e.g. a keyed [[merge]] or the dedup
    * indexes' anti-join admission). A fresh checkpoint starts AFTER
    * the current head (only future appends flow) unless
    * `fromVersion` rewinds it (1 replays the whole table).
    *
    * Non-append commits (compact/merge/COW delete — a version that
    * REMOVES files) are where every table-tailing design must choose:
    * their fresh files carry mostly OLD rows, so emitting them
    * re-delivers data. Strict mode (default) THROWS, naming the
    * version — the Delta-source default for the same reason; with
    * `skipRewrites = true` the version's files are skipped wholesale
    * (rewritten data is never re-delivered; rows INSERTED by a merge
    * are skipped with it — documented, like Delta's ignoreChanges).
    * A MOR-delete version (dv pointers moved, no files added) also
    * THROWS in strict mode: it deleted rows an append-only consumer
    * will never hear about — Delta's source likewise errors on change
    * commits unless opted out. `ignoreDeletes = true` (Delta's option
    * name) consumes such versions silently (delivering nothing — the
    * deletions are the caller's problem); `skipRewrites` implies it.
    * Restore-to-same and other no-op versions deliver nothing.
    *
    * Returns the number of versions CONSUMED this call (delivered,
    * skipped, or metadata-only). Single consumer per checkpoint path
    * (the cursor file is plain read/write); history older than the
    * vacuum retention throws when replayed, like any expired source —
    * versions BEFORE the truncation point still deliver and commit
    * the cursor first (followDeltas is lazy), so a later retry resumes
    * at the failure, not the start.
    *
    * LAG TOLERANCE is bounded by vacuum retention: once a version's
    * snapshot pointer is vacuumed, the log checkpoint compresses its
    * delta rows to a `truncated` marker (its added files may since
    * have been rewritten — replaying from checkpoint deltas could
    * deliver vanished or rewritten bytes), so a consumer whose cursor
    * has fallen behind the vacuum horizon always gets the named
    * restart-from-a-fresh-checkpoint error, even when a checkpoint
    * once covered those versions. Operate like a Kafka retention
    * window: keep consumer lag within `vacuum`'s retain setting, or
    * don't vacuum past your slowest consumer.
    */
  def follow(spark: SparkSession, path: String, checkpoint: String,
             skipRewrites: Boolean = false, fromVersion: Int = -1,
             ignoreDeletes: Boolean = false)
            (f: (DataFrame, Int) => Unit): Int = {
    val fsys = fs(spark, checkpoint)
    val cur = new org.apache.hadoop.fs.Path(s"$checkpoint/cursor")
    def readCursor(): Option[Int] =
      if (!fsys.exists(cur)) None
      else {
        val in = fsys.open(cur)
        val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        // an unparsable cursor must NOT read as "fresh checkpoint" —
        // that would silently restart the consumer at the head and
        // drop every version in between; name the repair instead
        content.toIntOption match {
          case Some(v) => Some(v)
          case None => throw new IllegalStateException(
            s"follow checkpoint cursor at $cur is unreadable (content: " +
              s"'${content.take(40)}') — repair by writing the last fully " +
              "consumed version number into it, or delete the checkpoint " +
              "dir to restart from the current head")
        }
      }
    // crash-safe cursor commit: write a uniquely-named temp file, then
    // atomically rename it over the cursor (FileContext rename with
    // OVERWRITE — atomic on HDFS and local FS). A crash mid-write
    // leaves the OLD cursor intact (at-least-once redelivery), never a
    // truncated cursor that wedges every later readCursor.
    lazy val fctx = org.apache.hadoop.fs.FileContext.getFileContext(
      cur.toUri, spark.sparkContext.hadoopConfiguration)
    def writeCursor(v: Int): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(
        s"$checkpoint/.cursor-tmp-${java.util.UUID.randomUUID().toString.take(12)}")
      val out = fsys.create(tmp, false)
      try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      fctx.rename(tmp, cur, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    val head = currentVersion(spark, path)
    var last = readCursor().getOrElse {
      val start = if (fromVersion >= 1) fromVersion - 1 else head
      writeCursor(start); start
    }
    var delivered = 0
    // one followDeltas pass: checkpoint-covered versions cost ONE
    // parquet read total; only the tail walks payloads — a rewind
    // replay of a long-lived table costs O(interval) payload reads
    followDeltas(spark, path, last, head).foreach { case (v, removedCount, dvMoved, added) =>
      if (removedCount > 0 && !skipRewrites)
        throw new IllegalStateException(
          s"follow($path) hit a non-append commit at v$v ($removedCount files rewritten); " +
            "restart from a fresh checkpoint or pass skipRewrites = true (rewritten data will not re-deliver)")
      if (removedCount == 0 && dvMoved > 0 && !skipRewrites && !ignoreDeletes)
        throw new IllegalStateException(
          s"follow($path) hit a MOR delete at v$v ($dvMoved deletion-vector pointers moved); " +
            "an append-only consumer would silently keep the deleted rows — pass " +
            "ignoreDeletes = true to consume past it, or restart from a fresh checkpoint")
      if (added.nonEmpty && removedCount == 0)
        f(readWithDv(spark, added), v)
      delivered += 1
      writeCursor(v)
      last = v
    }
    delivered
  }

  /** Default vacuum retention window (7 days — Delta's
    * `deletedFileRetentionDuration` default): unreferenced files and
    * payload dirs YOUNGER than this are presumed to belong to an
    * in-flight concurrent commit (data and payload land BEFORE the
    * pointer CAS, so for a moment they are indistinguishable from
    * crash orphans) and are skipped.
    */
  val DefaultVacuumRetentionMs: Long = 7L * 24 * 3600 * 1000

  /** Reclaim: keep the newest `retain` snapshots, delete every data
    * file referenced by NONE of them (including crashed-append
    * orphans no snapshot ever saw) and the expired snapshot dirs.
    * Returns the number of data files deleted.
    *
    * SAFE WITH CONCURRENT WRITERS via `minAgeMs`: an in-flight commit
    * writes its data files and snapshot payload first and publishes
    * the pointer last, so an unreferenced-but-young file may be a
    * commit about to land — only entries older than `minAgeMs` are
    * reclaimed. Pass `minAgeMs = 0` ONLY when no writer is running
    * (the single-writer maintenance window), where it reclaims
    * everything unreferenced immediately.
    */
  def vacuum(spark: SparkSession, path: String, retain: Int = 1,
             minAgeMs: Long = DefaultVacuumRetentionMs): Int = {
    require(retain >= 1, "must retain at least the latest snapshot")
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no snapshots under $path")
    val keepVs = vs.takeRight(retain)
    val f = fs(spark, path)
    val now = System.currentTimeMillis()
    def aged(p: org.apache.hadoop.fs.Path): Boolean =
      minAgeMs <= 0 || (try now - f.getFileStatus(p).getModificationTime >= minAgeMs
      catch { case _: java.io.FileNotFoundException => false })
    // a retained version that resolves to None was a crashed commit
    // (repaired by resolvePayload) — skip it rather than fail the sweep
    val keepDirs = keepVs.flatMap(v => resolvePayload(spark, path, v))
    val keepSnaps = keepDirs.map { dir =>
      import scala.jdk.CollectionConverters._
      readPayloadRowsDriver(spark, dir) match {
        case Some((rows, schema)) =>
          normalizeSnap(spark, path, spark.createDataFrame(rows.asJava, schema)).collect()
        case None => normalizeSnap(spark, path, spark.read.parquet(dir)).collect()
      }
    }
    val live: Set[String] = keepSnaps.flatten.map(_.getString(0)).toSet
    // deletion-vector batches referenced by a retained snapshot are as
    // live as the data files they tombstone — the dv column names the
    // batch DIR, so survival is a prefix test over its part files
    val liveDvDirs: Seq[String] = keepSnaps.flatten
      .flatMap(r => Option(r.getString(4))).distinct
      .map(d => f.makeQualified(new org.apache.hadoop.fs.Path(d)).toUri.toString)
    def underLiveDv(d: String) = liveDvDirs.exists(dv => d.startsWith(dv + "/"))
    val dead = (listDataFiles(spark, path) -- live).toSeq.sorted
      .filterNot(underLiveDv)
      .filter(d => aged(new org.apache.hadoop.fs.Path(new java.net.URI(d))))
    dead.foreach(d => f.delete(new org.apache.hadoop.fs.Path(new java.net.URI(d)), false))
    // retained payload dirs (by pointer), then expired pointers +
    // their payloads + orphan payloads from crashed/lost commits
    // payload dirs have globally-unique s-* basenames, so retained-set
    // membership compares by NAME (robust to relative-vs-URI paths)
    val keepPayloadNames = keepDirs
      .map(d => new org.apache.hadoop.fs.Path(d).getName)
      .toSet
    vs.dropRight(retain).foreach { v =>
      f.delete(new org.apache.hadoop.fs.Path(vDir(path, v)), true)
    }
    f.listStatus(new org.apache.hadoop.fs.Path(logDir(path))).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("s-"))
      .map(_.getPath)
      .filterNot(p => keepPayloadNames(p.getName))
      .filter(aged)
      .foreach(p => f.delete(p, true))
    // superseded log checkpoints: the newest is self-contained (it
    // folds every predecessor), so aged older ones reclaim like
    // expired payloads
    val newestCkptName = latestCkpt(spark, path)
      .map(p => new org.apache.hadoop.fs.Path(p._2).getName)
    f.listStatus(new org.apache.hadoop.fs.Path(logDir(path))).iterator
      .filter(s => s.isDirectory &&
        (ckptRe.findFirstMatchIn(s.getPath.getName).isDefined ||
          s.getPath.getName.startsWith(".tmp-ckpt-"))) // crashed publish
      .filterNot(s => newestCkptName.contains(s.getPath.getName))
      .filter(s => aged(s.getPath))
      .foreach(s => f.delete(s.getPath, true))
    // drop batch dirs whose files were all reclaimed — age-guarded
    // like everything else: an IN-FLIGHT write's b-dir holds only its
    // _temporary staging tree for a moment and would otherwise read as
    // "all reclaimed" (the race the concurrent-appender spec pins)
    f.listStatus(new org.apache.hadoop.fs.Path(path)).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("b-"))
      .filter { s =>
        val kids = f.listStatus(s.getPath)
        kids.forall(c => c.getPath.getName.startsWith("_") ||
          c.getPath.getName.startsWith(".")) &&
          // age the CHILDREN, not the dir: deleting reclaimed data
          // files above just bumped the dir's own mtime
          (if (kids.isEmpty) aged(s.getPath) else kids.forall(c => aged(c.getPath)))
      }
      .foreach(s => f.delete(s.getPath, true))
    dead.size
  }
}
