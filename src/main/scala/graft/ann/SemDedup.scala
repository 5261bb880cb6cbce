package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): cluster the corpus in embedding space, then
  * inside each cluster mark items whose pairwise cosine exceeds a
  * threshold as semantic duplicates and keep ONE representative — the
  * member FARTHEST from the cluster centroid (the paper's
  * diversity-preserving choice; low centroid similarity wins).
  *
  * Spark-first shape, exactly oracle-mirrorable:
  *
  *  - The cluster proxy is a deterministic sign-LSH bucket over ±1
  *    hash-derived hyperplanes ([[graft.functions.SemDedupKey]]),
  *    computed together with the unit-normalized 1e6 fixed-point
  *    vector `u` in ONE kernel pass. K-means cells (the paper's
  *    clustering) would make the oracle untestable — trained
  *    centroids aren't SQL-mirrorable — while sign buckets give the
  *    same "only compare semantically close items" contraction with
  *    bit-exact cross-engine arithmetic; the trained-cell variant of
  *    the same pipeline is [[Similarity.ivfTopK]]'s cell routing.
  *  - Every similarity downstream of `u` is an INTEGER dot product
  *    (≤ dim·1e12 per pair), so threshold comparisons can never flip
  *    on a float ULP between engines.
  *  - Centroids are per-bucket component sums of `u` (order-invariant
  *    BIGINT aggregation, a bucket-count-sized shuffle with map-side
  *    partials); centroid similarity ranks by u·Σu — the same
  *    ordering as cosine-to-mean within a bucket (the 1/n and |x|=1
  *    normalizers are constant per member).
  *  - Duplicate resolution is pairwise dominance: x survives iff no
  *    same-bucket neighbor y with cos_fp(x,y) ≥ tauFp has a strictly
  *    lower (cscore, id). One bucket-keyed self-join + one anti join,
  *    no iterative propagation — the transitive connected-component
  *    form of the same edge set is `TextQueries.dedup_cluster_resolve`.
  *
  * 100-TB shape: the kernel pass is map-side; the centroid exchange
  * carries ≤ 2^bits·dim longs; the self-join co-partitions both sides
  * on `bucket` (bits scales like log2(n/target) so per-bucket pair
  * counts stay bounded — same growth policy as
  * [[Similarity.autoBits]]); the representative rule needs no global
  * state. Overflow headroom: |u_i| ≤ 1e6 ⇒ a pair dot ≤ dim·1e12 and
  * cscore ≤ dim·1e12·bucketSize — BIGINT-safe (and DuckDB-error-free)
  * up to ~10^5 rows per bucket, which the bits policy keeps far away.
  */
object SemDedup {

  /** Bucket-bit policy for the scale path: enough sign hyperplanes to
    * hold per-bucket membership near `target`, so the bucket self-join
    * stays ~linear in corpus size (fixed bits measured 10.5x wall at
    * 10x data — per-bucket pairs grow quadratically). Same shape as
    * [[Similarity.autoBits]]. The ORACLE query pins bits instead: the
    * sign-table literals in SQL can't vary with a runtime count.
    */
  def autoBits(n: Long, target: Int = 32): Int =
    math.max(4, math.ceil(
      math.log(math.max(n.toDouble / target, 1.0)) / math.log(2.0)).toInt)

  /** Per-item verdict: (id, bucket, cscore, kept), ordered by nothing
    * — callers order. `cscore` is the fixed-point centroid-similarity
    * rank key (u · Σ_bucket u).
    */
  def dedupSemantic(emb: DataFrame, dim: Int, bits: Int, tauFp: Long,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // One kernel pass materialized through an EXCHANGE on bucket — not
    // a persist (a cache here outlives the call: the caller holds only
    // the result plan and could never release the blocks) and not bare
    // lineage (projection collapse then re-inlines the kernel into
    // EVERY element_at, so the pair join re-derives the whole
    // O(dim·bits) kernel per array element per pair — measured 312x
    // wall at 100x data). The shuffle writes (id, u, bucket) once per
    // row, co-partitions the centroid aggregate AND both sides of the
    // bucket self-join on the same key (no further exchange for
    // either), and is exactly the bucketed layout (writeBucketed shape)
    // you'd write once and join repeatedly at 100 TB.
    val keyed = emb
      .select(col(idCol).as("id"),
        VectorExpressions.semDedupKey(col(vecCol), dim, bits).as("z"))
      .select(col("id"), col("z.u").as("u"), col("z.bucket").as("bucket"))
      .repartition(col("bucket"))

    val cent = keyed.groupBy("bucket")
      .agg(array((0 until dim).map(i => sum(col("u")(i))): _*).as("c"))

    // LongDot kernel, NOT a dim-term GetArrayItem chain: the chain
    // exceeds the whole-stage-codegen method budget and drops the
    // whole pair stage to interpreted evaluation (11 s vs sub-second
    // for 790k pairs at the 10x fixture). Exact integer either way.
    def dotLongs(a: String, b: String) =
      VectorExpressions.longDot(col(a), col(b))

    val scored = keyed.join(broadcast(cent), "bucket")
      .withColumn("cscore", dotLongs("u", "c"))
      .select("id", "bucket", "u", "cscore")

    val lhs = scored.select(col("bucket"), col("id").as("a"),
      col("u").as("ua"), col("cscore").as("sa"))
    val rhs = scored.select(col("bucket"), col("id").as("b"),
      col("u").as("ub"), col("cscore").as("sb"))
    val dropped = lhs.join(rhs, Seq("bucket"))
      .filter(col("a") =!= col("b"))
      .filter(dotLongs("ua", "ub") >= tauFp)
      .filter(col("sb") < col("sa") ||
        (col("sb") === col("sa") && col("b") < col("a")))
      .select(col("a").as("id"))
      .distinct()

    scored
      .join(dropped.withColumn("_d", lit(true)), Seq("id"), "left")
      .select(col("id"), col("bucket"), col("cscore"),
        col("_d").isNull.as("kept"))
  }

  /** The ADMISSION-ORDER twin of [[dedupSemantic]]: per bucket, items
    * fold in ascending id and x is kept iff no ALREADY-KEPT y has
    * cos_fp(x, y) ≥ tauFp — the greedy rule every incremental/online
    * pipeline actually runs (you can't un-admit a kept document when a
    * more central duplicate arrives later), and the batch reference
    * the streaming arm ([[graft.streaming.StreamingSemDedup]]) must
    * equal under any chopping. Differs from the dominance rule by
    * DESIGN: dominance may keep a later, more diverse representative;
    * admission keeps the first arrival.
    *
    * Scale shape: same single kernel pass and one bucket exchange; the
    * per-bucket fold is sequential but buckets are bounded by the
    * [[autoBits]] policy (~`target` members), so the fold is
    * embarrassingly parallel across 2^bits groups.
    */
  def dedupSemanticSequential(emb: DataFrame, dim: Int, bits: Int, tauFp: Long,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val keyed = emb
      .select(col(idCol).cast("long").as("id"),
        VectorExpressions.semDedupKey(col(vecCol), dim, bits).as("z"))
      .select(col("id"), col("z.u").as("u"), col("z.bucket").as("bucket"))
      .as[(Long, Seq[Long], Int)]
    keyed.groupByKey(_._3)
      .flatMapGroups { (bucket, rows) =>
        var kept = List.empty[Array[Long]]
        rows.toIndexedSeq.sortBy(_._1).iterator.map { case (id, u, _) =>
          val uv = u.toArray
          val dup = kept.exists(k => dotFp(uv, k) >= tauFp)
          if (!dup) kept = uv :: kept
          (id, bucket, !dup)
        }
      }
      .toDF("id", "bucket", "kept")
  }

  /** Fixed-point dot of two 1e6-scaled unit vectors (≥ tauFp = the
    * SemDeDup duplicate test) — the executor-side scalar form of the
    * LongDot kernel.
    */
  private[graft] def dotFp(a: Array[Long], b: Array[Long]): Long = {
    val n = math.min(a.length, b.length)
    var s = 0L
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }
}
