package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Physical-layout utilities for the 100-TB shapes SURVEY §2.6 claims:
  * bucketed tables make repeated equi-joins and aggregations on the
  * bucket key EXCHANGE-FREE — the shuffle is paid once at write time,
  * then every co-bucketed join reads matching buckets side by side.
  *
  * This matters exactly at the scale this engine targets: a fact
  * table joined nightly against the same dimension key re-shuffles
  * 100 TB every run unless the layout carries the partitioning.
  * Spark's bucketing (hash(key) mod n file groups + a sorted-by-key
  * file order) is the storage-level contract Catalyst recognizes —
  * `FileSourceScanExec` reports the bucket distribution, and the
  * planner drops both the Exchange and (with `sortBy`) the per-task
  * Sort under a SortMergeJoin. LayoutOpsSpec asserts the
  * exchange-free plan and row-for-row parity with the unbucketed
  * join.
  */
object LayoutOps {

  /** Write `df` as a bucketed, bucket-sorted managed table at `path`.
    * `buckets` should match across tables meant to co-join (Spark
    * requires equal bucket counts — or a multiple with
    * `spark.sql.bucketing.coalesceBucketsInJoin.enabled` — to elide
    * the exchange).
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    key: String, buckets: Int): Unit =
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", path)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)

  /** Join two co-bucketed tables on their bucket key — reads resolve
    * through the catalog so the bucket spec is visible to the planner.
    */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  // ---- Z-order (Morton) layout: multi-column scan pruning. A table
  // range-partitioned and sorted by ONE column prunes scans on that
  // column only; sorting by the interleaved bits of TWO columns keeps
  // each file (and each parquet row group) compact in BOTH value
  // ranges, so min/max stats prune selective predicates on either
  // column — the standard lakehouse layout for a 100-TB fact table
  // queried along more than one axis. Everything below is plain
  // codegen'd Column arithmetic; no UDFs. ----

  /** Spread the low 16 bits of `x` to the even bit positions (the
    * textbook mask-and-shift Morton expansion, 4 steps).
    */
  private def spread16(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    var v = x.cast("long").bitwiseAND(lit(0xFFFFL))
    v = (v.bitwiseOR(shiftleft(v, 8))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    v = (v.bitwiseOR(shiftleft(v, 4))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    v = (v.bitwiseOR(shiftleft(v, 2))).bitwiseAND(lit(0x3333333333333333L))
    (v.bitwiseOR(shiftleft(v, 1))).bitwiseAND(lit(0x5555555555555555L))
  }

  /** Spread the low 16 bits of `x` to every THIRD bit position (the
    * Morton-3D mask-and-shift, masks from the standard 21-bit form —
    * inputs here are ≤ 0xFFFF so the top bits stay clear).
    */
  private def spread16x3(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    var v = x.cast("long").bitwiseAND(lit(0xFFFFL))
    v = (v.bitwiseOR(shiftleft(v, 32))).bitwiseAND(lit(0x001F00000000FFFFL))
    v = (v.bitwiseOR(shiftleft(v, 16))).bitwiseAND(lit(0x001F0000FF0000FFL))
    v = (v.bitwiseOR(shiftleft(v, 8))).bitwiseAND(lit(0x100F00F00F00F00FL))
    v = (v.bitwiseOR(shiftleft(v, 4))).bitwiseAND(lit(0x10C30C30C30C30C3L))
    (v.bitwiseOR(shiftleft(v, 2))).bitwiseAND(lit(0x1249249249249249L))
  }

  /** Spread the low 16 bits of `x` to every FOURTH bit position. */
  private def spread16x4(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    var v = x.cast("long").bitwiseAND(lit(0xFFFFL))
    v = (v.bitwiseOR(shiftleft(v, 24))).bitwiseAND(lit(0x000000FF000000FFL))
    v = (v.bitwiseOR(shiftleft(v, 12))).bitwiseAND(lit(0x000F000F000F000FL))
    v = (v.bitwiseOR(shiftleft(v, 6))).bitwiseAND(lit(0x0303030303030303L))
    (v.bitwiseOR(shiftleft(v, 3))).bitwiseAND(lit(0x1111111111111111L))
  }

  /** Morton code of 2–4 16-bit bucket ids: column i's bits land at
    * positions ≡ i (mod n). All mask-and-shift Column arithmetic —
    * codegen'd, constant expression count per row (no per-bit loop
    * that would blow the whole-stage-codegen method budget).
    */
  def mortonN(cols: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val spread: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      cols.length match {
        case 2 => spread16
        case 3 => spread16x3
        case 4 => spread16x4
        case n => throw new IllegalArgumentException(s"mortonN supports 2-4 columns, got $n")
      }
    cols.zipWithIndex.map { case (c, i) => shiftleft(spread(c), i) }
      .reduce(_ bitwiseOR _)
  }

  /** Z-value of 2–4 numeric columns: each is min/max-scaled to a
    * 16-bit bucket id (ONE stats pass over all columns), then Morton-
    * interleaved. Monotone enough that a range predicate on any
    * source column maps to compact z ranges. Real layout decisions
    * need more than two axes (source × language × date), hence the
    * n-ary form; 16 bits per column keeps 4×16 = 64 bits in one long.
    */
  def zValueN(df: DataFrame, cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val r = df.agg(
      cols.flatMap(c => Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))).head,
      cols.flatMap(c => Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))).tail: _*
    ).head()
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      val lo = r.getDouble(2 * i); val hi = r.getDouble(2 * i + 1)
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      least(floor((col(c).cast("double") - lit(lo)) / lit(span) * 65536).cast("long"),
        lit(65535L))
    }
    mortonN(buckets)
  }

  /** Write `df` Z-ordered by 2–4 columns: range-partitioned on the
    * z-value into `files` output files, z-sorted within each, small
    * parquet row groups so the reader's min/max pruning has fine
    * granularity. The write pays one range exchange; every later scan
    * with a selective predicate on any interleaved column reads a
    * fraction of the row groups (LayoutOpsSpec measures the scan-rows
    * ratio against the same data laid out randomly).
    */
  def writeZOrderedN(df: DataFrame, cols: Seq[String], path: String,
                     files: Int = 32): Unit = {
    import org.apache.spark.sql.functions._
    df.withColumn("__z", zValueN(df, cols))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite")
      .option("parquet.block.size", 64 * 1024)
      .parquet(path)
  }

  /** Write `df` hive-partitioned on `partCol` — the directory layout
    * that turns partition-key predicates into LISTING-level pruning
    * (no file is even opened) and lets Catalyst inject dynamic
    * partition pruning into joins: a selective dimension filter
    * becomes a runtime IN-subquery on the fact scan's PartitionFilters,
    * so a 100-TB fact table joined to a filtered dim reads only the
    * matching partitions. LayoutOpsSpec pins the `dynamicpruning`
    * expression in the plan and row parity with the unpartitioned join.
    */
  def writePartitioned(df: DataFrame, partCol: String, path: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)

  /** Hilbert value of two numeric columns: the same one-pass min/max
    * 16-bit bucketing as [[zValueN]], but interleaved along the
    * order-16 Hilbert curve instead of Morton. Consecutive Hilbert
    * indexes are always edge-adjacent cells (no quadrant-seam jumps),
    * so a box predicate decomposes into fewer, longer index runs —
    * measurably fewer row groups per scan than Z-order on the same
    * data (LayoutOpsSpec measures both). The per-row cost is a 16-step
    * codegen'd kernel loop ([[graft.functions.HilbertIndex2]]).
    */
  def hilbertValue(df: DataFrame, c1: String, c2: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val r = df.agg(min(col(c1)).cast("double"), max(col(c1)).cast("double"),
      min(col(c2)).cast("double"), max(col(c2)).cast("double")).head()
    val buckets = Seq(c1, c2).zipWithIndex.map { case (c, i) =>
      val lo = r.getDouble(2 * i); val hi = r.getDouble(2 * i + 1)
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      least(floor((col(c).cast("double") - lit(lo)) / lit(span) * 65536).cast("long"),
        lit(65535L))
    }
    graft.functions.VectorExpressions.hilbert2(buckets(0), buckets(1))
  }

  /** Hilbert-ordered write — same layout contract as [[writeZOrderedN]]
    * (one range exchange at write time, small row groups for min/max
    * pruning), curve order instead of Z.
    */
  def writeHilbertOrdered(df: DataFrame, c1: String, c2: String, path: String,
                          files: Int = 32): Unit = {
    import org.apache.spark.sql.functions._
    df.withColumn("__h", hilbertValue(df, c1, c2))
      .repartitionByRange(files, col("__h"))
      .sortWithinPartitions("__h")
      .drop("__h")
      .write.mode("overwrite")
      .option("parquet.block.size", 64 * 1024)
      .parquet(path)
  }

  /** Hilbert value of 2–4 numeric columns — the n-ary twin of
    * [[zValueN]]: one stats pass min/max-scales each column to a cell
    * id, then the codegen'd Skilling kernel
    * ([[graft.functions.HilbertIndexN]]) interleaves along the
    * n-dimensional Hilbert curve. 16 bits per axis through 3 columns;
    * 15 at 4 so the index stays a non-negative long (60 bits) and
    * range ordering holds.
    */
  def hilbertValueN(df: DataFrame, cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(cols.length >= 2 && cols.length <= 4,
      s"hilbertValueN supports 2-4 columns, got ${cols.length}")
    val bits = if (cols.length == 4) 15 else 16
    val cells = 1L << bits
    val r = df.agg(
      cols.flatMap(c => Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))).head,
      cols.flatMap(c => Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))).tail: _*
    ).head()
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      val lo = r.getDouble(2 * i); val hi = r.getDouble(2 * i + 1)
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      least(floor((col(c).cast("double") - lit(lo)) / lit(span) * cells).cast("long"),
        lit(cells - 1))
    }
    graft.functions.VectorExpressions.hilbertN(buckets, bits)
  }

  /** Hilbert-ordered write over 2–4 axes (the [[writeHilbertOrdered]]
    * contract, n-ary).
    */
  def writeHilbertOrderedN(df: DataFrame, cols: Seq[String], path: String,
                           files: Int = 32): Unit = {
    import org.apache.spark.sql.functions._
    df.withColumn("__h", hilbertValueN(df, cols))
      .repartitionByRange(files, col("__h"))
      .sortWithinPartitions("__h")
      .drop("__h")
      .write.mode("overwrite")
      .option("parquet.block.size", 64 * 1024)
      .parquet(path)
  }

  /** Data files (not sidecars/markers) under `path`, as Hadoop URIs. */
  private def listDataFiles(spark: SparkSession, path: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).iterator
      .filter(_.isFile)
      .map(_.getPath)
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.toUri.toString)
      .toSet
  }

  // ---- Bloom-filter manifests: FILE skipping for point lookups on a
  // hash-distributed key, where [min, max] zone maps (ManifestLog's
  // snapshots) prune NOTHING (every file's range spans the whole
  // domain). Parquet footers already prune ROW GROUPS, but Spark still
  // lists, opens and plans a task for every file. The sidecar carries
  // one Bloom filter per data file; a point probe consults the blooms
  // (kilobytes on the driver) and reads only files that might contain
  // the key. False positives only ADD files — the residual filter
  // still applies, so results equal the plain scan exactly (the same
  // superset-prefilter contract as the zone maps). At 100 TB
  // this is "find document by id across the crawl" without touching
  // 99% of files. ----

  /** Per-file Bloom filter over a LONG key as a typed Aggregator
    * (string keys: xxhash64 upstream). Buffer is the live sketch
    * object (kryo at the exchange only); output is the serialized
    * filter for the sidecar.
    */
  private class BloomAgg(expected: Long, fpp: Double)
      extends org.apache.spark.sql.expressions.Aggregator[
        Long, org.apache.spark.util.sketch.BloomFilter, Array[Byte]] {
    import org.apache.spark.util.sketch.BloomFilter
    override def zero: BloomFilter = BloomFilter.create(expected, fpp)
    override def reduce(b: BloomFilter, x: Long): BloomFilter = { b.putLong(x); b }
    override def merge(a: BloomFilter, b: BloomFilter): BloomFilter = {
      a.mergeInPlace(b); a
    }
    override def finish(b: BloomFilter): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      b.writeTo(o); o.toByteArray
    }
    override def bufferEncoder =
      org.apache.spark.sql.Encoders.kryo[BloomFilter]
    override def outputEncoder = org.apache.spark.sql.Encoders.BINARY
  }

  /** Write `df` hash-partitioned on `keyCol` (the layout point lookups
    * get from an upsert/bucketing pipeline — and exactly the one zone
    * maps cannot prune) plus a `_bloom` sidecar of per-file
    * (bloom, rows) for the key.
    */
  def writeWithBloomManifest(df: DataFrame, keyCol: String, path: String,
                             files: Int = 32, expectedPerFile: Long = 1000000L,
                             fpp: Double = 0.01): Unit = {
    import org.apache.spark.sql.functions._
    df.repartition(files, col(keyCol))
      .write.mode("overwrite").parquet(path)
    val spark = df.sparkSession
    val bloomUdaf = udaf(new BloomAgg(expectedPerFile, fpp))
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(bloomUdaf(col(keyCol).cast("long")).as("bloom"),
        count(lit(1)).as("rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_bloom")
  }

  /** Append a batch to a bloom-tracked table: new files discovered by
    * listing diff get their own filters; existing sidecar rows are
    * untouched (Blooms never need rewriting on append; single-writer
    * cadence — the listing diff would race a concurrent writer).
    */
  def appendWithBloomManifest(df: DataFrame, keyCol: String, path: String,
                              files: Int = 8, expectedPerFile: Long = 1000000L,
                              fpp: Double = 0.01): Unit = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    val sidecar = s"$path/_bloom"
    val old = spark.read.parquet(sidecar)
      .select("file", "bloom", "rows").collect().toSeq
    val before = listDataFiles(spark, path)
    df.repartition(files, col(keyCol))
      .write.mode("append").parquet(path)
    val fresh = (listDataFiles(spark, path) -- before).toSeq.sorted
    val bloomUdaf = udaf(new BloomAgg(expectedPerFile, fpp))
    val freshStats = spark.read.parquet(fresh: _*)
      .groupBy(input_file_name().as("file"))
      .agg(bloomUdaf(col(keyCol).cast("long")).as("bloom"),
        count(lit(1)).as("rows"))
    val schema = freshStats.schema
    val merged = old ++ freshStats.collect()
    spark.createDataFrame(
        spark.sparkContext.parallelize(merged, 1), schema)
      .coalesce(1)
      .write.mode("overwrite").parquet(sidecar)
  }

  /** Point-probe `path` for `keyCol == key`, consulting the bloom
    * sidecar first: only files whose filter might contain the key
    * reach Spark's reader (residual equality filter still applies).
    * Returns the pruned frame plus (surviving, total) file counts.
    */
  def readPrunedByBloom(spark: SparkSession, path: String, keyCol: String,
                        key: Long): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions._
    val manifest = spark.read.parquet(s"$path/_bloom")
      .select("file", "bloom").collect()
    val survivors = manifest.filter { r =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
      bf.mightContainLong(key)
    }.map(_.getString(0))
    val pruned =
      if (survivors.isEmpty)
        spark.read.parquet(path).filter(col(keyCol) === lit(key) && lit(false))
      else spark.read.parquet(survivors.toIndexedSeq: _*)
        .filter(col(keyCol) === lit(key))
    (pruned, survivors.length, manifest.length)
  }

  /** SET probe of a bloom-manifested table: keep a file iff its filter
    * might contain ANY of `keys` — the incremental-admission shape
    * (probe a persisted dedup index with a crawl wave's hashes without
    * touching files that can't match). The key set is wave-bounded
    * (the same contract as the broadcast index probes) and the blooms
    * are kilobytes per file, so the pruning decision is driver-side
    * metadata work; false positives only ADD files, and the caller's
    * residual join keeps results exact. Returns (pruned frame,
    * surviving files, total files).
    */
  def readPrunedByBloomSet(spark: SparkSession, path: String, keyCol: String,
                           keys: Seq[Long]): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions._
    val manifest = spark.read.parquet(s"$path/_bloom")
      .select("file", "bloom").collect()
    val survivors = manifest.filter { r =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
      keys.exists(bf.mightContainLong)
    }.map(_.getString(0))
    val pruned =
      if (survivors.isEmpty) spark.read.parquet(path).filter(lit(false))
      else spark.read.parquet(survivors.toIndexedSeq: _*)
    (pruned, survivors.length, manifest.length)
  }
}
