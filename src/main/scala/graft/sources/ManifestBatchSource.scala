package graft.sources

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.ManifestLog

/** The BATCH SQL face of a [[graft.operators.ManifestLog]] table — the
  * read AND write path for every non-Scala consumer (the Delta
  * `spark.read.format("delta").option("versionAsOf", …)` shape):
  *
  * {{{
  * spark.read.format("graft.sources.ManifestBatchSource")
  *   .option("path", dir)
  *   .option("versionAsOf", "3")        // or timestampAsOf
  *   .load()
  *   .createOrReplaceTempView("t")      // → plain SQL from here
  *
  * df.write.format("graft.sources.ManifestBatchSource")
  *   .option("path", dir)
  *   .option("statsCol", "doc_id")      // needed only for a NEW table
  *   .mode("append")                    // versioned append (or bootstrap)
  *   .save()                            // mode("overwrite") = versioned replace
  * }}}
  *
  * Writes go through the V1Write bridge into the EXISTING commit
  * machinery — range-clustered file writes, stats, constraint
  * enforcement, the pointer CAS with compose-on-conflict retries —
  * so a `df.write` append is byte-identical to [[ManifestLog.append]]
  * and `mode("overwrite")` is [[ManifestLog.replace]] (a new version
  * listing only the fresh files; older versions still time-travel).
  * The bridge hands the driver the whole DataFrame, which is exactly
  * where those operators start anyway — the heavy distributed write
  * inside them is Spark's own parquet path.
  *
  * Semantics are exactly [[ManifestLog.read]] / [[ManifestLog.readAsOf]]:
  * the chosen snapshot's file list, MOR deletion vectors APPLIED,
  * schema evolution aligned (added columns NULL on old files, widened
  * ints/floats promoted) — value-for-value parity is spec-pinned.
  *
  * Plan shape at scale: ONE input partition per live data file (plus
  * its dv pointer), so a 10k-file table reads with 10k-way
  * parallelism; each file's tombstone positions load once, executor-
  * side, from its OWN slice of the (file, pos)-range-clustered DV
  * batch — part files and row groups holding other files' tombstones
  * are skipped on footer stats, so a broad erasure never re-reads the
  * whole tombstone set per partition. Options resolve on the DRIVER
  * at `load()` (version
  * pinning is metadata), and the partition readers reuse the follow
  * source's aligning [[ManifestGroupRowReader]] with the session's
  * Hadoop configuration shipped along.
  *
  * `timestampAsOf` accepts epoch millis, `yyyy-MM-dd HH:mm:ss[.f]`
  * (session-zone-free SQL form) or ISO-8601 instants, mapped through
  * [[ManifestLog.versionAsOf]]'s monotone effective-timestamp rule.
  */
class ManifestBatchSource extends TableProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  /** The STREAMING write face: `df.writeStream.format(manifest)
    * .option("path", dir).option("checkpointLocation", ck)` — epoch-id
    * idempotent through [[ManifestLog.appendStream]] (a replayed
    * micro-batch is a version-level no-op, so at-least-once delivery
    * collapses to exactly-once table versions). Spark routes streaming
    * writes here because [[ManifestBatchTable]] deliberately does NOT
    * claim STREAMING_WRITE: a manifest commit is a driver-side
    * DataFrame operation (range-clustered write + stats + constraint
    * gate + pointer CAS), so the V1 Sink bridge — one whole-batch
    * DataFrame per epoch, the same cadence foreachBatch gives — is the
    * honest integration, exactly like the batch face's V1Write bridge.
    * Append mode only; Complete/Update want [[ManifestLog.replace]] /
    * [[ManifestLog.merge]] semantics a user should choose explicitly
    * via foreachBatch.
    */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"manifest streaming sink supports Append mode only, got $outputMode " +
        "(Complete = ManifestLog.replace, Update = ManifestLog.merge — choose via foreachBatch)")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("manifest streaming sink needs a 'path' option"))
    new ManifestStreamSink(path, parameters.get("statsCol"),
      parameters.get("files").map(_.toInt).getOrElse(8),
      parameters.get("txnAppId"))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    require(path != null && path.nonEmpty, "manifest batch source needs a 'path' option")
    val spark = SparkSession.active
    if (ManifestBatchSource.isChangeFeed(options)) {
      val (fromV, toV) = ManifestBatchSource.resolveCdcRange(spark, path, options)
      // plan-analysis only (no execution): the feed's schema carries
      // the widening-aligned union across the range + the CDF columns
      ManifestLog.changeFeed(spark, path, fromV, toV).schema
    } else ManifestLog.read(spark, path,
      ManifestBatchSource.resolveVersion(spark, path, options)).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = opts.get("path")
    val spark = SparkSession.active
    if (ManifestBatchSource.isChangeFeed(opts)) {
      val (fromV, toV) = ManifestBatchSource.resolveCdcRange(spark, path, opts)
      new ManifestChangeFeedTable(path, fromV, toV, schema)
    } else new ManifestBatchTable(path,
      ManifestBatchSource.resolveVersion(spark, path, opts), schema,
      Option(opts.get("statsCol")),
      Option(opts.get("files")).map(_.toInt),
      pinnedVersion = opts.get("versionAsOf") != null ||
        opts.get("timestampAsOf") != null)
  }

  // writes hand their schema in from the incoming DataFrame — a fresh
  // table has nothing to infer against
  override def supportsExternalMetadata(): Boolean = true
}

object ManifestBatchSource {

  /** Convenience handle: `read(spark, dir)`, `read(spark, dir, versionAsOf = 3)`. */
  def read(spark: SparkSession, path: String, versionAsOf: Int = -1,
           timestampAsOf: String = null): DataFrame = {
    var r = spark.read.format(classOf[ManifestBatchSource].getName)
      .option("path", path)
    if (versionAsOf >= 1) r = r.option("versionAsOf", versionAsOf.toString)
    if (timestampAsOf != null) r = r.option("timestampAsOf", timestampAsOf)
    r.load()
  }

  /** CDC through the face: `readChangeFeed(spark, dir, startingVersion = 2)`
    * (endingVersion −1 = head). Inclusive bounds, the Delta shape.
    */
  def readChangeFeed(spark: SparkSession, path: String, startingVersion: Int,
                     endingVersion: Int = -1): DataFrame = {
    var r = spark.read.format(classOf[ManifestBatchSource].getName)
      .option("path", path)
      .option("readChangeFeed", "true")
      .option("startingVersion", startingVersion.toString)
    if (endingVersion >= 1) r = r.option("endingVersion", endingVersion.toString)
    r.load()
  }

  private[sources] def isChangeFeed(opts: CaseInsensitiveStringMap): Boolean =
    "true".equalsIgnoreCase(opts.get("readChangeFeed"))

  /** Map the face's INCLUSIVE Delta-shaped `startingVersion` /
    * `endingVersion` options onto [[ManifestLog.changeFeed]]'s
    * exclusive-start cursor: (startingVersion − 1, endingVersion].
    * `startingVersion = 1` bootstraps from the empty table (v1's rows
    * arrive as inserts); `endingVersion` defaults to the current head.
    */
  private[sources] def resolveCdcRange(spark: SparkSession, path: String,
                                       opts: CaseInsensitiveStringMap): (Int, Int) = {
    require(opts.get("versionAsOf") == null && opts.get("timestampAsOf") == null,
      "readChangeFeed and versionAsOf/timestampAsOf are mutually exclusive " +
        "(the feed's range IS its version selection)")
    val start = Option(opts.get("startingVersion")).map(_.toInt).getOrElse(
      throw new IllegalArgumentException(
        "readChangeFeed needs a 'startingVersion' option (inclusive; 1 = from table creation)"))
    require(start >= 1, s"startingVersion must be >= 1, got $start")
    val end = Option(opts.get("endingVersion")).map(_.toInt)
      .getOrElse(ManifestLog.currentVersion(spark, path))
    require(end >= start,
      s"endingVersion $end precedes startingVersion $start")
    (start - 1, end)
  }

  private[sources] def resolveVersion(spark: SparkSession, path: String,
                                      opts: CaseInsensitiveStringMap): Int = {
    val v = Option(opts.get("versionAsOf"))
    val ts = Option(opts.get("timestampAsOf"))
    require(v.isEmpty || ts.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    v.map(_.toInt)
      .orElse(ts.map(s => ManifestLog.versionAsOf(spark, path, parseTsMillis(s))))
      .getOrElse(ManifestLog.currentVersion(spark, path))
  }

  private def parseTsMillis(s: String): Long =
    s.toLongOption.getOrElse {
      try java.sql.Timestamp.valueOf(s).getTime
      catch {
        case _: IllegalArgumentException => java.time.Instant.parse(s).toEpochMilli
      }
    }

  /** Planned-file count of the most recent batch scan — test-visible,
    * like ManifestLog.payloadReads, so specs can pin file skipping.
    */
  private[graft] val lastPlannedFiles = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Is `f` a range/equality predicate on the stats column with a
    * zone-map-comparable literal?
    */
  private[sources] def isKeyRangeFilter(f: org.apache.spark.sql.sources.Filter,
                                        key: String): Boolean = {
    import org.apache.spark.sql.sources._
    def comparable(v: Any): Boolean = v.isInstanceOf[Number] || v.isInstanceOf[String]
    f match {
      case EqualTo(a, v)            => a == key && comparable(v)
      case In(a, vs)                => a == key && vs.nonEmpty && vs.forall(comparable)
      case GreaterThan(a, v)        => a == key && comparable(v)
      case GreaterThanOrEqual(a, v) => a == key && comparable(v)
      case LessThan(a, v)           => a == key && comparable(v)
      case LessThanOrEqual(a, v)    => a == key && comparable(v)
      case _                        => false
    }
  }

  /** Test-visible counters for the executor-side DV probe: part files
    * actually opened for a data read vs skipped on footer stats alone
    * (the payloadReads discipline — specs pin that a narrow probe
    * after a broad erasure reads O(its own) DV bytes, not O(all)).
    */
  private[graft] val dvPartReads = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val dvPartSkips = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Characters a Hadoop `Path` → Spark `input_file_name()` round
    * trip carries verbatim (never percent-encoded). Only when every
    * char of a path is in this set do footer stats PROVE anything
    * about it — an unsafe path may be stored percent-encoded, where
    * lexicographic bounds on the stored form say nothing about the
    * decoded form.
    */
  private[sources] def uriSafe(s: String): Boolean =
    s.forall(c => (c.isLetterOrDigit && c < 128) || "/-_.~".contains(c))

  private def uriPathOf(s: String): String =
    try new java.net.URI(s).getPath catch { case _: Exception => null }

  /** Sound can-drop rule for a DV row group's `file` column stats:
    * true only when [minS, maxS] PROVABLY contains no string naming
    * `filePath`. The proof obligations, any failure → keep:
    *
    *   - `filePath` is URI-safe, so its `input_file_name()` form is
    *     `prefix + filePath` verbatim (Spark encodes only unsafe
    *     chars — a safe path is never stored encoded, so no encoded
    *     alias of it can hide inside the range);
    *   - min and max carry their own path components verbatim under
    *     ONE shared scheme prefix — then every string in [min, max]
    *     starts with that prefix (strings between two strings share
    *     their common prefix), and the candidate under it is unique.
    *
    * Then drop iff `prefix + filePath` sorts outside [minS, maxS].
    * (DV batches are written by [[graft.operators.ManifestLog.deleteMor]]
    * exclusively — every stored string IS an `input_file_name()`
    * output, the invariant the second obligation leans on.)
    */
  private[sources] def dvRangeCanDrop(minS: String, maxS: String,
                                      filePath: String): Boolean = {
    if (minS == null || maxS == null || filePath == null || !uriSafe(filePath))
      return false
    val pMin = uriPathOf(minS)
    val pMax = uriPathOf(maxS)
    if (pMin == null || pMax == null) return false
    if (!minS.endsWith(pMin) || !maxS.endsWith(pMax)) return false
    val prefix = minS.dropRight(pMin.length)
    if (prefix != maxS.dropRight(pMax.length)) return false
    val candidate = prefix + filePath
    candidate.compareTo(minS) < 0 || candidate.compareTo(maxS) > 0
  }
}

/** Row-group + record filter on the DV batch's `file` column: keep()
  * is the exact URI-path match (never wrong), canDrop() the provable
  * footer-stats rule — pushed into the parquet reader so a surviving
  * part file still skips the row groups that belong to OTHER files
  * (the DV batch is range-clustered by (file, pos), so those bounds
  * are tight).
  */
private[sources] class DvFilePredicate(filePath: String)
    extends org.apache.parquet.filter2.predicate.UserDefinedPredicate[org.apache.parquet.io.api.Binary]
    with Serializable {
  import org.apache.parquet.io.api.Binary

  override def keep(value: Binary): Boolean =
    value != null &&
      (try new java.net.URI(value.toStringUsingUTF8).getPath == filePath
       catch { case _: java.net.URISyntaxException => false })

  override def canDrop(
      stats: org.apache.parquet.filter2.predicate.Statistics[Binary]): Boolean =
    ManifestBatchSource.dvRangeCanDrop(
      stats.getMin.toStringUsingUTF8, stats.getMax.toStringUsingUTF8, filePath)

  override def inverseCanDrop(
      stats: org.apache.parquet.filter2.predicate.Statistics[Binary]): Boolean = false
}

private[sources] class ManifestBatchTable(path: String, version: Int,
                                          schema0: StructType,
                                          statsColOpt: Option[String],
                                          filesOpt: Option[Int],
                                          pinnedVersion: Boolean = false)
    extends Table with SupportsRead with SupportsWrite {
  require(path != null && path.nonEmpty, "manifest batch source needs a 'path' option")

  override def name(): String = s"manifest($path@v$version)"
  override def schema(): StructType = schema0
  // BATCH_WRITE is what DataFrameWriter.save gates the V2 path on;
  // the V1Write returned below still routes to the V1-bridge exec
  // (the JDBC-connector discipline), and TRUNCATE admits
  // mode("overwrite") as truncate+append. MICRO_BATCH_READ makes
  // `spark.readStream.table("graft.t")` / `.format(manifest)` follow
  // the table's appends through the SAME ManifestFollowStream the
  // follow face runs (version-granular offsets, one partition per
  // appended file) — minus the `_commit_version` stamp, which is not
  // part of the table's schema (the dedicated follow format keeps it).
  // STREAMING_WRITE stays deliberately absent: streaming writes route
  // through the V1 sink bridge (see ManifestStreamSink).
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ManifestBatchScanBuilder(path, version, schema0, pinnedVersion, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, legacyOverwrite: Boolean): Unit = {
              val spark = data.sparkSession
              val sc = statsColOpt
                .orElse(ManifestLog.statsColumn(spark, path))
                .getOrElse(throw new IllegalArgumentException(
                  s"writing a NEW manifest table at $path needs a 'statsCol' option " +
                    "(the range-clustering / upsert key column)"))
              if (overwrite || legacyOverwrite)
                ManifestLog.replace(data, sc, path, filesOpt.getOrElse(32))
              else if (ManifestLog.currentVersion(spark, path) == 0) {
                // a DDL-declared clustered table's FIRST write lays the
                // Hilbert order down and records every axis's zone map
                val axes = ManifestLog.ddlStatsCols(spark, path)
                if (axes.size >= 2)
                  ManifestLog.writeClusteredN(data, axes, path, filesOpt.getOrElse(32))
                else
                  ManifestLog.write(data, sc, path, filesOpt.getOrElse(32))
              } else if (ManifestLog.statsColumnsX(spark, path).nonEmpty)
                // appends into a clustered table keep the layout: the
                // batch Hilbert-orders over ALL registered axes and
                // lands with fresh per-axis stats
                ManifestLog.appendClustered(data, path, filesOpt.getOrElse(8))
              else
                ManifestLog.append(data, sc, path, filesOpt.getOrElse(8))
            }
          }
      }
    }
}

/** The CDC face (`option("readChangeFeed", "true")`): a read-only
  * table whose scan IS [[ManifestLog.changeFeed]], bridged through
  * [[org.apache.spark.sql.connector.read.V1Scan]] — the read-side
  * mirror of the write path's V1Write bridge. The bridge is the right
  * shape here because a change feed is not a per-file map: each
  * version's changes are an EXCEPT-ALL over its changed (file, dv)
  * pairs — a genuinely distributed plan that Spark should own, not a
  * partition-reader loop. buildScan hands back that plan's RDD
  * lazily; the only driver-side work is the metadata-sized version
  * walk changeFeed already does.
  *
  * Scale shape: cost is proportional to the CHANGED pairs in the
  * range (an append costs its new files, a MOR delete its repointed
  * files), never the table. No column pruning through this face —
  * CDC output is change-sized, and the feed's schema is the
  * widening-aligned union across the range, which pruning would
  * complicate for no scan savings (the underlying diff must read
  * full rows for identity anyway).
  */
private[sources] class ManifestChangeFeedTable(path: String, fromV: Int,
                                               toV: Int, schema0: StructType)
    extends Table with SupportsRead {
  import org.apache.spark.sql.SQLContext
  import org.apache.spark.sql.connector.read.V1Scan
  import org.apache.spark.sql.sources.{BaseRelation, TableScan}

  override def name(): String = s"manifest_cdf($path@(v$fromV,v$toV])"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = schema0
        override def description(): String = name()
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = schema0
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
              import org.apache.spark.sql.functions.col
              // reselect in declared order: V1 bridge zips rows with
              // readSchema positionally
              ManifestLog.changeFeed(context.sparkSession, path, fromV, toV)
                .select(schema0.fieldNames.toIndexedSeq.map(col): _*).rdd
            }
          }.asInstanceOf[T]
      }
    }
}

/** V1 streaming sink for manifest tables (the DeltaSink shape): one
  * whole-batch DataFrame per micro-batch, committed through
  * [[ManifestLog.appendStream]] with (queryId, batchId) as the txn key
  * — the epoch marker rides inside the version pointer, atomic with
  * the commit, so a crash anywhere between sink success and Spark's
  * offset commit replays into a version-level no-op. The incoming
  * frame is re-planned as a batch frame first (it arrives streaming-
  * flagged on the micro-batch's IncrementalExecution).
  */
private[sources] class ManifestStreamSink(path: String,
                                          statsColOpt: Option[String],
                                          files: Int,
                                          txnAppIdOpt: Option[String])
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    val spark = data.sparkSession
    // the query id is checkpoint-stable across restarts — exactly the
    // replay-identity the txn marker needs; txnAppId overrides for
    // several queries feeding one table (or direct use outside a query)
    val appId = txnAppIdOpt
      .orElse(Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId")))
      .getOrElse(throw new IllegalArgumentException(
        "manifest streaming sink: no streaming query id on this thread — pass a 'txnAppId' option"))
    val sc = statsColOpt
      .orElse(ManifestLog.statsColumn(spark, path))
      .getOrElse(throw new IllegalArgumentException(
        s"streaming into a NEW manifest table at $path needs a 'statsCol' option " +
          "(the range-clustering / upsert key column)"))
    val batch = org.apache.spark.sql.graftbridge.ColumnBridge.asBatch(data)
    ManifestLog.appendStream(batch, sc, path, files, appId, batchId)
  }

  override def toString: String = s"ManifestStreamSink[$path]"
}

/** Scan builder with the two scale levers a 100 TB table needs from
  * its SQL face:
  *
  *   - COLUMN PRUNING ([[SupportsPushDownRequiredColumns]]): the
  *     partition readers project each file to the requested columns
  *     by name (schema-evolution-safe), so a 2-column SELECT never
  *     decodes the other column chunks;
  *   - FILE SKIPPING ([[org.apache.spark.sql.connector.read.SupportsPushDownFilters]]):
  *     range/equality predicates on the table's key or any clustered
  *     axis prune whole files against the snapshot's zone maps BEFORE
  *     any partition is planned — the manifest zone maps surfacing
  *     through `spark.read`/SQL exactly like the Scala
  *     [[ManifestLog.readPrunedAt]]. Every filter stays residual
  *     (Spark still evaluates rows); pruning only shrinks the file
  *     list, so correctness never depends on it.
  */
private[sources] class ManifestBatchScanBuilder(path: String, version: Int,
                                                full: StructType,
                                                pinnedVersion: Boolean = false,
                                                options: CaseInsensitiveStringMap =
                                                  CaseInsensitiveStringMap.empty())
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  import org.apache.spark.sql.sources._

  private var required: StructType = full
  private var key: Option[String] = None
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(
      requiredSchema.fields.filter(f => full.fieldNames.contains(f.name)))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val spark = SparkSession.active
    key = ManifestLog.statsColumn(spark, path)
    // the key and every clustered axis carry a zone map — predicates
    // on any of them skip files
    val zoned = key.toSeq ++ ManifestLog.statsColumnsX(spark, path)
    pushed = filters.filter(f =>
      zoned.exists(c => ManifestBatchSource.isKeyRangeFilter(f, c)))
    filters // all residual — file skipping only, rows still filtered by Spark
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new Scan {
    override def readSchema(): StructType = required
    override def toBatch: Batch =
      new ManifestBatchScan(path, version, required, key, pushed)
    /** `spark.readStream.table("graft.t")` / `.format(manifest)`:
      * the SAME version-offset MicroBatchStream as the follow face
      * (one partition per appended file; follow-face options —
      * fromVersion, maxVersionsPerTrigger, skipRewrites,
      * ignoreDeletes — arrive as READ options), over the pruned
      * column set. `_commit_version` is absent from a table schema,
      * so the shared reader simply skips the stamp.
      */
    override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
      require(!pinnedVersion,
        s"cannot STREAM a version-pinned manifest table ($path@v$version): " +
          "versionAsOf/timestampAsOf select one immutable snapshot — stream the live table")
      new ManifestFollowStream(path,
        Option(options.get("skipRewrites")).exists(_.toBoolean),
        Option(options.get("ignoreDeletes")).exists(_.toBoolean),
        Option(options.get("fromVersion")).map(_.toInt).getOrElse(-1),
        Option(options.get("maxVersionsPerTrigger")).map(_.toInt).getOrElse(0),
        required)
    }
    // surfaced in explain/plan strings so zone-map file skipping is
    // discoverable, not silent
    override def description(): String =
      s"manifest($path@v$version) PushedFilters: [${pushed.mkString(", ")}]"
  }
}

private[sources] class ManifestBatchScan(path: String, version: Int,
                                         schema0: StructType,
                                         key: Option[String] = None,
                                         pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Batch {

  private def spark = SparkSession.active

  override def planInputPartitions(): Array[InputPartition] = {
    // a CREATE TABLE'd but never-written table has no snapshot yet
    if (version < 1) {
      ManifestBatchSource.lastPlannedFiles.set(0)
      return Array.empty
    }
    val kept = ManifestLog.snapshot(spark, path, version).collect()
      .filter(r => ManifestLog.fileMayMatch(r, key, pushed.toSeq))
    ManifestBatchSource.lastPlannedFiles.set(kept.length)
    kept.map(r => ManifestBatchPartition(r.getAs[String]("file"), r.getAs[String]("dv"),
      schema0.json): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ManifestBatchReaderFactory(
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
}

/** One live data file and its deletion-vector batch dir (null = none). */
case class ManifestBatchPartition(file: String, dv: String,
                                  schemaJson: String) extends InputPartition

case class ManifestBatchReaderFactory(conf: SerializableHadoopConf)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val ManifestBatchPartition(file, dv, schemaJson) =
      partition.asInstanceOf[ManifestBatchPartition]
    val target = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    new ManifestGroupRowReader(file, target, conf.value, -1, deadPositions(file, dv))
  }

  /** This file's tombstoned row indexes from its DV batch (executor-
    * side). DV rows name files by the scan-time `input_file_name()`
    * URI, the snapshot by the commit-time path — compare by
    * filesystem path component, which both share.
    *
    * Scale shape: the batch is range-clustered by (file, pos), so a
    * partition's own tombstones live in ONE contiguous slice of it.
    * Every part file is probed on its FOOTER stats first ([[dvPartCanSkip]])
    * and skipped without a data read when it provably holds none of
    * this file's rows; a surviving part is read WITH the same
    * predicate pushed ([[DvFilePredicate]]) so foreign row groups
    * inside it drop on their stats too. A broad `deleteMor` across F
    * files therefore costs each of the F partitions O(its own DV
    * slice) + O(parts) footer reads — not F re-reads of the whole
    * tombstone set.
    */
  private def deadPositions(file: String, dv: String): util.Set[java.lang.Long] = {
    if (dv == null) return null
    import org.apache.parquet.example.data.Group
    val filePath = new java.net.URI(file).getPath
    val dead = new util.HashSet[java.lang.Long]()
    val dvPath = new org.apache.hadoop.fs.Path(dv)
    val fs = dvPath.getFileSystem(conf.value)
    val filter = org.apache.parquet.filter2.compat.FilterCompat.get(
      org.apache.parquet.filter2.predicate.FilterApi.userDefined(
        org.apache.parquet.filter2.predicate.FilterApi.binaryColumn("file"),
        new DvFilePredicate(filePath)))
    fs.listStatus(dvPath).iterator
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .foreach { s =>
        if (dvPartCanSkip(s.getPath, filePath)) {
          ManifestBatchSource.dvPartSkips.incrementAndGet()
        } else {
          ManifestBatchSource.dvPartReads.incrementAndGet()
          val r = org.apache.parquet.hadoop.ParquetReader
            .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), s.getPath)
            .withConf(conf.value)
            .withFilter(filter)
            .build()
          try {
            var g: Group = r.read()
            while (g != null) {
              val gt = g.getType
              val fIdx = gt.getFieldIndex("file")
              val pIdx = gt.getFieldIndex("pos")
              if (g.getFieldRepetitionCount(fIdx) > 0 &&
                  g.getFieldRepetitionCount(pIdx) > 0) {
                val f = g.getBinary(fIdx, 0).toStringUsingUTF8
                if (new java.net.URI(f).getPath == filePath)
                  dead.add(g.getLong(pIdx, 0))
              }
              g = r.read()
            }
          } finally r.close()
        }
      }
    dead
  }

  /** Footer-stats probe: true when EVERY row group's `file` min/max
    * proves this partition's file is absent — the part file then
    * costs one footer read, never a data read. Missing or non-binary
    * stats keep the part (correctness never depends on pruning).
    */
  private def dvPartCanSkip(p: org.apache.hadoop.fs.Path, filePath: String): Boolean = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf.value)
    val fr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      fr.getFooter.getBlocks.asScala.forall { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == "file").exists { c =>
          c.getStatistics match {
            case s: org.apache.parquet.column.statistics.BinaryStatistics
                if !s.isEmpty && s.hasNonNullValue =>
              ManifestBatchSource.dvRangeCanDrop(
                s.genericGetMin.toStringUsingUTF8,
                s.genericGetMax.toStringUsingUTF8, filePath)
            case _ => false
          }
        }
      }
    } finally fr.close()
  }
}
