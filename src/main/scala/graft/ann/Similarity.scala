package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Cosine similarity is computed as an explicit left-to-right fold in
  * double precision (elements widened float→double first), which makes
  * the result bit-identical to a left-associated SQL sum over the same
  * parquet floats — the DuckDB oracle is exact, no tolerance needed.
  *
  * Three search paths:
  *   - [[bruteForceTopK]]: the correctness baseline — broadcast the
  *     (small) query set against every vector; one pass, no shuffle of
  *     the big side beyond the final per-query top-k.
  *   - [[lshTopK]]: a scale path — random-hyperplane signature
  *     buckets vectors so each only scores against its bucket. At 100
  *     TB the bucket join replaces the all-pairs cross product; recall
  *     is traded via the number of sign bits.
  *   - [[ivfTopK]]: the other standard scale path — a coarse spherical
  *     k-means quantizer (trained on a bounded driver-side sample)
  *     partitions vectors into `nlist` cells; each query scores only
  *     the vectors in its `nprobe` nearest cells. Data-adaptive where
  *     LSH is oblivious: clustered embeddings get tighter candidate
  *     sets at the same probe budget.
  */
object Similarity {

  /** Sequential left-to-right dot product in double precision —
    * native codegen'd expression (see
    * [[graft.functions.VectorExpressions.DotProduct]]); identical
    * IEEE operation sequence to [[dotHof]].
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot(a, b)

  /** Higher-order-function formulation — kept as the reference
    * implementation the native expression is tested against.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each query vector (queries broadcast). */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val v = vectors.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
    val scored = v.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("cos", cosine(col("qvec"), col("nvec")))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select("qid", "rnk", "nid", "cos")
  }

  /** Exact maximum-inner-product top-k for each query vector (queries
    * broadcast) — the retrieval scoring used when embeddings are NOT
    * length-normalized (recommendation / reward-model scoring), where
    * cosine and MIPS rank differently.
    */
  def mipsTopK(vectors: DataFrame, queries: DataFrame, k: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val v = vectors.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
    val scored = v.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("ip", dot(col("qvec"), col("nvec")))
    val w = Window.partitionBy("qid").orderBy(col("ip").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select("qid", "rnk", "nid", "ip")
  }

  /** Approximate MIPS via the norm-augmentation reduction (Bachrach et
    * al., RecSys'14; Neyshabur & Srebro, ICML'15): append to each corpus
    * vector the component √(M² − |x|²) (M = max corpus norm) and to
    * each query a 0 — in the (dim+1)-space every corpus vector has
    * norm M, so the query's cosine ordering there IS its inner-product
    * ordering in the original space, and the symmetric sign-LSH
    * machinery applies unchanged. Candidates come from multi-table
    * multi-probe bucket joins in the augmented space (query side tiny,
    * broadcast); scoring is the EXACT dot on the original vectors, so
    * augmentation costs nothing in score precision.
    *
    * Scale shape: M is one scalar aggregate; bucket assignment is
    * map-side; the per-table candidate join is qid-bounded (nQueries ×
    * bucket size); the top-k window partitions on qid (bounded groups).
    */
  def mipsLshTopK(vectors: DataFrame, k: Int, nQueries: Int, dim: Int,
                  bits: Int = 0, tables: Int = 16, probes: Int = 2,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  numRows: Long = -1L): DataFrame = {
    val b = vectors.select(col(idCol), col(vecCol))
    val n = if (numRows >= 0) numRows else b.count()
    val effBits = if (bits > 0) bits else autoBits(n)
    val m2 = b.agg(max(dot(col(vecCol), col(vecCol))).as("m2"))
    val aug = b.crossJoin(broadcast(m2)).withColumn("avec",
      concat(col(vecCol), array(
        sqrt(greatest(lit(0.0), col("m2") - dot(col(vecCol), col(vecCol))))
          .cast("float"))))
    val allPlanes = (0 until tables).flatMap(t => hyperplanes(effBits, dim + 1, seed = 7L + t))
    val width = probes + 1
    // corpus side: one bucket per table; query side: multi-probe.
    // NOT materialized (r20 interleaved A/B: checkpointing the corpus
    // bucket arrays measured ×1.24 SLOWER here — the augmented-space
    // kernel is cheap enough that the guard-pushdown re-evaluation
    // costs less than writing/reading the blocks; contrast
    // lshCandidates, where 16-table multi-probe buckets ARE worth it).
    val cBuckets = aug.withColumn("bs",
        graft.functions.VectorExpressions.lshBuckets(col("avec"), allPlanes, dim + 1, effBits, 0))
      .select(col(idCol).as("nid"), posexplode(col("bs")).as(Seq("tbl", "bucket")))
    val qAug = b.filter(col(idCol) < nQueries).withColumn("avec",
      concat(col(vecCol), array(lit(0.0f))))
    val qBuckets = qAug.withColumn("bs",
        graft.functions.VectorExpressions.lshBuckets(col("avec"), allPlanes, dim + 1, effBits, probes))
      .select(col(idCol).as("qid"), posexplode(col("bs")).as(Seq("i", "bucket")))
      .select(col("qid"), (col("i") / width).cast("int").as("tbl"), col("bucket"))
    val cand = cBuckets.join(broadcast(qBuckets), Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid").dropDuplicates("qid", "nid")
    val qSide = b.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .filter(col("qid") < nQueries)
    val nSide = b.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
    val scored = cand.join(broadcast(qSide), "qid")
      .join(nSide.hint("shuffle_hash"), "nid")
      .withColumn("ip", dot(col("qvec"), col("nvec")))
    val w = Window.partitionBy("qid").orderBy(col("ip").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select("qid", "rnk", "nid", "ip")
  }

  /** Binary sign-quantization ANN (1 bit per dimension): each vector
    * packs to ⌈dim/64⌉ longs ([[graft.functions.VectorExpressions.SignPackN]];
    * bit b of word w = sign of centered component 64w+b; the
    * per-dimension anchors are the component means of the bounded
    * deterministic training sample, so a biased embedding space still
    * splits ~50/50 per bit). The prefilter scans CODES ONLY — Hamming
    * is one codegen'd word-loop kernel
    * ([[graft.functions.VectorExpressions.CodeHamming]], Σ
    * bit_count(xor) per word) per (query, row), 32× less data than the
    * floats at any width: at 100 TB of 1024-dim vectors the prefilter
    * scans ~3 TB of codes and the floats never leave parquet until
    * rerank. It keeps the `cand` smallest Hamming distances per query
    * through a salted two-level top-C (never a #queries-partition
    * window over the corpus) and reranks the survivors with the exact
    * cosine. At dim ≤ 64 the code is one word.
    * Reference: cdp has no vector ops; §2.7 extension (the ANN scale
    * ladder: brute → LSH/IVF/PQ → binary codes).
    */
  def binaryTopK(vectors: DataFrame, k: Int, dim: Int, nQueries: Int,
                 cand: Int = 0, salts: Int = 32,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 numRows: Long = -1L, broadcastMaxRows: Long = 2_000_000L): DataFrame = {
    val b = vectors.select(col(idCol), col(vecCol))
    val n = if (numRows >= 0) numRows else b.count()
    val anchors = binaryAnchors(vectors, dim, idCol, vecCol)
    binaryProbe(binaryAssign(vectors, anchors, idCol, vecCol),
      vectors, vectors.filter(col(idCol) < nQueries), anchors, k,
      cand, salts, idCol, vecCol, n, broadcastMaxRows)
  }

  /** The trained sign anchors for a corpus (memoized like
    * centroids/codebooks — an INDEX artifact, deterministic).
    */
  def binaryAnchors(vectors: DataFrame, dim: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Seq[Double] = {
    val b = vectors.select(col(idCol), col(vecCol))
    memoTrain(b, s"bq-anchors-$dim")(trainAnchors(b, dim, idCol, vecCol))
  }

  /** Sign-code assignment under FIXED anchors — the binary index's
    * unit of append: once the anchors are trained, admitting a new
    * batch to the persisted code table is ONE codegen'd SignPackN pass
    * (deterministic, embarrassingly parallel), never a retrain and
    * never a corpus re-scan — the same append discipline as
    * [[ivfAssign]] and the dedup indexes.
    */
  def binaryAssign(vectors: DataFrame, anchors: Seq[Double],
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    vectors.select(col(idCol).as("nid"),
      graft.functions.VectorExpressions.signPackN(col(vecCol), anchors).as("code"))

  /** Probe a persisted code table: Hamming prefilter over CODES only
    * (query codes broadcast; one CodeHamming kernel call per pair —
    * the 32×-compressed scan), exact salted two-level top-C, exact
    * cosine rerank. Codes are pure functions of (vector, anchors), so
    * an incrementally-appended table probes IDENTICALLY to a one-shot
    * assignment of the union under the same anchors.
    */
  def binaryProbe(codes: DataFrame, vectors: DataFrame, queries: DataFrame,
                  anchors: Seq[Double], k: Int,
                  cand: Int = 0, salts: Int = 32,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  numRows: Long = -1L, broadcastMaxRows: Long = 2_000_000L): DataFrame = {
    val b = vectors.select(col(idCol), col(vecCol))
    val n = if (numRows >= 0) numRows else b.count()
    // Shortlist depth: 64-bit codes are COARSE (the fixture's dim is
    // 64, so one plane per dimension), so holding recall needs the
    // shortlist to track corpus size — n/8 measured recall@5
    // 0.84–0.98 across the fixtures (128 floor, 4096 cap: the rerank
    // stays id-join-sized). At production dims (768+) the Hamming
    // resolution sharpens and the oversample factor collapses toward
    // the fixed 4–8×k regime binary rerank is deployed with.
    val effCand = if (cand > 0) cand
      else math.max(128L, math.min(4096L, n / 8)).toInt
    val qC = queries.select(col(idCol).as("qid"),
      graft.functions.VectorExpressions.signPackN(col(vecCol), anchors).as("qcode"))
    val pairs = codes.join(broadcast(qC), col("qid") =!= col("nid"))
      .withColumn("ham",
        graft.functions.VectorExpressions.codeHamming(col("code"), col("qcode")))
      .select("qid", "nid", "ham")
    // exact top-C per query in two levels: per-salt top-C (salts ×
    // #queries groups — parallel), then top-C of the salts × C
    // survivors (bounded rows). Any global top-C row is top-C within
    // its salt, so the composition is exact, ties broken by nid.
    val w1 = Window.partitionBy("qid", "salt").orderBy(col("ham").asc, col("nid"))
    val lvl1 = pairs.withColumn("salt", pmod(hash(col("nid")), lit(salts)))
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= effCand)
    val w2 = Window.partitionBy("qid").orderBy(col("ham").asc, col("nid"))
    val candSet = lvl1.withColumn("r2", row_number().over(w2))
      .filter(col("r2") <= effCand).select("qid", "nid")
    scoreCandidates(candSet, b, k, idCol, vecCol, n, broadcastMaxRows)
  }

  /** Per-dimension component means over the deterministic hash-ordered
    * training sample — the SignPack anchors.
    */
  private def trainAnchors(vectors: DataFrame, dim: Int,
                           idCol: String, vecCol: String,
                           sampleN: Int = 4096): Seq[Double] = {
    val pts = vectors.select(col(vecCol), col(idCol))
      .orderBy(xxhash64(col(idCol)))
      .limit(sampleN)
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(pts.nonEmpty, "binaryTopK needs a non-empty corpus")
    val sums = new Array[Double](dim)
    pts.foreach { p =>
      var i = 0
      while (i < math.min(dim, p.length)) { sums(i) += p(i); i += 1 }
    }
    sums.map(_ / pts.length).toSeq
  }

  /** Deterministic pseudorandom hyperplanes (LCG, seed-fixed): `bits`
    * planes of dimension `dim`, components in [-1, 1).
    */
  def hyperplanes(bits: Int, dim: Int, seed: Long = 7L): Seq[Seq[Double]] = {
    var state = seed
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
    }
    Seq.fill(bits)(Seq.fill(dim)(next()))
  }

  /** Sign-bit bucket id from the hyperplane projections. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit): _*)
      when(dot(vec, plane) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bits for ~`targetBucket` expected vectors per bucket at table
    * size `n`: bits ≈ log₂(n / targetBucket), the auto-tuning that
    * keeps candidate volume flat as the table grows (at billions of
    * vectors this lands near 20+ bits instead of a hand-picked
    * constant that would produce mega-buckets). With auto bits the
    * per-query candidate count is ~tables × (probes+1) × targetBucket
    * — CONSTANT in n, so total LSH work stays linear (measured: fixed
    * bits=6 grew 16.4× on a 10× dataset; auto bits grow ~linearly).
    */
  def autoBits(n: Long, targetBucket: Int = 32): Int = {
    val b = math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt
    math.min(48, math.max(4, b))
  }

  /** Scale-tuned IVF defaults: `nlist ≈ √n` (per-cell lists stay
    * √n-sized; capped at 1024 while the codebook rides as plan
    * literals) and `nprobe = min(nlist/2, 24)` — at the oracle/bench
    * scales (n ≤ 2k) this IS the tuned half-probe recall point
    * (recall@5 0.84-0.89); beyond, nprobe pins at 24 so per-query
    * candidates grow ~√n (total n^1.5, the classic IVF balance)
    * instead of the quadratic n/2-per-query a fixed probe FRACTION
    * produces (measured: capped nlist=64 with nprobe=nlist/2 grew
    * 21.7× on a 10× dataset).
    */
  def autoIvfParams(n: Long): (Int, Int) = {
    val nlist = math.max(4, math.min(1024, math.ceil(math.sqrt(n.toDouble)).toInt))
    val nprobe = math.max(2, math.min((nlist + 1) / 2, 24))
    (nlist, nprobe)
  }

  /** Approximate all-vectors top-k via multi-table sign-LSH: `tables`
    * independent hash tables of `bits` sign bits each; a pair is a
    * candidate if it collides in ANY table. Candidates are scored
    * once (dedup on the pair), then per-query top-k.
    *
    * Scale shape: the cross product is replaced by `tables` bucket
    * joins; expected candidates per query ≈ tables × n / 2^bits, tuned
    * by (bits, tables) for the recall/cost point — the standard
    * E2LSH-style layout.
    *
    * `bits <= 0` auto-tunes to [[autoBits]] of the table's row count
    * (`numRows`, counted once if not supplied). The two vector-lookup
    * joins broadcast only while the table fits comfortably
    * (`numRows <= broadcastMaxRows`); beyond that they become
    * shuffle-hash joins bucketed on the id, so nothing table-sized
    * ever ships to every executor.
    *
    * `probes > 0` enables multi-probe (Lv et al., VLDB'07): the QUERY
    * side of each table's bucket join additionally probes the `probes`
    * buckets reached by flipping one weakest sign bit (smallest
    * |projection| — the perturbations most likely to hold a true
    * neighbor). Candidate volume grows ~×(1+probes) per table, so the
    * same recall is reachable with fewer tables — multi-probe's whole
    * point — and the bucket-assignment pass stays single.
    */
  def lshTopK(vectors: DataFrame, k: Int, bits: Int, dim: Int, tables: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding",
              numRows: Long = -1L, broadcastMaxRows: Long = 2_000_000L,
              probes: Int = 0): DataFrame = {
    val b = vectors.select(col(idCol), col(vecCol))
    val n = if (numRows >= 0) numRows else b.count()
    val effBits = if (bits > 0) bits else autoBits(n)
    lshCandidates(b, effBits, dim, tables, idCol, vecCol, probes)
      .transform(cand => scoreCandidates(cand, b, k, idCol, vecCol, n, broadcastMaxRows))
  }

  /** Candidate (qid, nid) pairs from the multi-table (multi-probe)
    * bucket joins — exposed for recall/candidate-volume tuning.
    */
  def lshCandidates(b: DataFrame, effBits: Int, dim: Int, tables: Int,
                    idCol: String, vecCol: String, probes: Int): DataFrame = {
    // all tables' buckets (and probe buckets) in one pass, then
    // posexplode to (table, bucket) rows. Candidate generation works
    // on ids only — the 64-float vectors do not ride through the
    // bucket join or the pair dedup shuffle; they join back once per
    // surviving pair.
    val allPlanes = (0 until tables).flatMap(t => hyperplanes(effBits, dim, seed = 7L + t))
    val width = probes + 1
    // the bucket kernel (tables × bits × dim mults per row) is
    // MATERIALIZED before the explode: the optimizer pushes the
    // generator's non-empty guard below the projection and re-inlines
    // the alias, so the un-materialized plan ran the kernel 3× per row
    // (size-guard + null-guard + projection — FilterExec has no CSE)
    // on EACH side of the bucket self-join (r19 plan: 6 lshbuckets
    // nodes). localCheckpoint: one kernel pass total, query-scoped
    // blocks of (id, tables×width ints) — narrow at any corpus size.
    val sigs = b.withColumn("bs",
        graft.functions.VectorExpressions.lshBuckets(col(vecCol), allPlanes, dim, effBits, probes))
      .select(col(idCol), col("bs"))
      .transform(graft.sources.Tables.materialize)
    val buckets = sigs
      .select(col(idCol), posexplode(col("bs")).as(Seq("i", "bucket")))
      .select(col(idCol), (col("i") / width).cast("int").as("tbl"),
        (col("i") % width).as("probe"), col("bucket"))
    val x = buckets.select(col("tbl"), col("bucket"), col(idCol).as("qid"))
    val y = buckets.filter(col("probe") === 0)
      .select(col("tbl"), col("bucket"), col(idCol).as("nid"))
    // ONE exchange serves both the pair dedup and the downstream
    // per-query top-k: hash(qid) satisfies the (qid, nid) dedup's
    // clustering (subset key) AND is exactly the scoring window's
    // required distribution, so the multiset pairs shuffle once —
    // the former dropDuplicates exchange keyed (qid, nid) plus a
    // second window exchange keyed qid shuffled the pair list twice
    // (guide §2.4, the agg_copurchase shape).
    x.join(y, Seq("tbl", "bucket")).filter(col("qid") =!= col("nid"))
      .select("qid", "nid")
      .repartition(col("qid"))
      .dropDuplicates("qid", "nid")
  }

  /** Score candidate id pairs and keep each query's top-k — the shared
    * tail of the LSH and IVF paths (broadcast-or-shuffle-hash gated
    * vector join-back).
    */
  private def scoreCandidates(cand: DataFrame, b: DataFrame, k: Int,
                              idCol: String, vecCol: String,
                              n: Long, broadcastMaxRows: Long): DataFrame = {
    val qSide = b.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val nSide = b.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
    val scored = (if (n <= broadcastMaxRows)
        cand.join(broadcast(qSide), "qid").join(broadcast(nSide), "nid")
      else
        cand.join(qSide.hint("shuffle_hash"), "qid")
          .join(nSide.hint("shuffle_hash"), "nid"))
      .withColumn("cos", cosine(col("qvec"), col("nvec")))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select("qid", "rnk", "nid", "cos")
  }

  /** Train `nlist` spherical k-means centroids on a deterministic
    * hash-ordered sample of at most `sampleN` vectors, collected to
    * the driver — the standard IVF coarse-quantizer training shape: at
    * 100 TB the sample stays bounded (training cost is
    * O(sampleN × nlist × dim × iters), never table-sized), and the
    * learned codebook broadcasts as plan literals. Deterministic:
    * hash-ordered sample, first-`nlist` init, fixed iteration count.
    */
  /** Trained-artifact memo: centroids/codebooks are INDEX artifacts —
    * trained once per corpus and reused by every query against it,
    * exactly how a production deployment persists them next to the
    * data. Keyed by the input plan's semantic hash + training params;
    * training is deterministic (hash-ordered sample, fixed init and
    * iteration count), so cached and fresh results are identical.
    */
  private val trainedCache =
    scala.collection.concurrent.TrieMap.empty[(Int, Int, String), AnyRef]
  private val TrainedCacheMax = 256

  /** Drop all memoized trained artifacts (tests / corpus rewrite). */
  def clearTrainedCache(): Unit = trainedCache.clear()

  /** Snapshot of the plan's leaf input files — folds DATA identity into
    * the memo key: Spark overwrite writes fresh part-UUID file names,
    * so rewriting a corpus at the same path changes the fingerprint
    * and retrains instead of serving a stale codebook. Non-file plans
    * (in-memory fixtures) fingerprint as 0 and fall back to the
    * plan-hash-only key.
    */
  private def dataFingerprint(vectors: DataFrame): Int =
    java.util.Arrays.hashCode(
      vectors.inputFiles.sorted.asInstanceOf[Array[AnyRef]])

  private def memoTrain[T <: AnyRef](vectors: DataFrame, tag: String)(train: => T): T = {
    if (trainedCache.size >= TrainedCacheMax) trainedCache.clear()
    trainedCache.getOrElseUpdate(
      (vectors.queryExecution.analyzed.semanticHash(), dataFingerprint(vectors), tag),
      train).asInstanceOf[T]
  }

  def ivfCentroids(vectors: DataFrame, nlist: Int, sampleN: Int = 4096, iters: Int = 8,
                   idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Seq[Double]] =
    memoTrain(vectors, s"ivf:$nlist:$sampleN:$iters:$idCol:$vecCol") {
      trainIvfCentroids(vectors, nlist, sampleN, iters, idCol, vecCol)
    }

  private def trainIvfCentroids(vectors: DataFrame, nlist: Int, sampleN: Int, iters: Int,
                                idCol: String, vecCol: String): Seq[Seq[Double]] = {
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val pts = vectors.select(col(vecCol), col(idCol))
      .orderBy(xxhash64(col(idCol)))
      .limit(sampleN)
      .collect()
      .map(r => unit(r.getSeq[Float](0).map(_.toDouble).toArray))
    require(pts.length >= nlist, s"need at least nlist=$nlist sample vectors, got ${pts.length}")
    val dim = pts.head.length
    var cents = pts.take(nlist).map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(nlist)(new Array[Double](dim))
      val counts = new Array[Long](nlist)
      pts.foreach { p =>
        var best = 0; var bestDot = Double.MinValue
        var c = 0
        while (c < nlist) {
          var d = 0.0; var i = 0
          while (i < dim) { d += p(i) * cents(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c) // empty cell keeps its centroid
        else unit(sums(c))
      }.toArray
    }
    cents.map(_.toSeq).toSeq
  }

  /** Product-quantization codebooks: the unit-normalized space splits
    * into `m` subspaces of dim/m dims; per subspace, plain L2 k-means
    * (`ksub` centroids) on the same bounded, hash-ordered driver
    * sample as [[ivfCentroids]] — deterministic init (first `ksub`
    * sub-vectors), fixed iteration count, empty cells keep their
    * centroid. Training cost O(sampleN × m × ksub × dim/m × iters),
    * never table-sized; the result ships as plan literals.
    *
    * Returns codebooks(sub)(code)(component).
    */
  def pqCodebooks(vectors: DataFrame, m: Int, ksub: Int, sampleN: Int = 4096,
                  iters: Int = 8, idCol: String = "vec_id",
                  vecCol: String = "embedding"): Seq[Seq[Seq[Double]]] =
    memoTrain(vectors, s"pq:$m:$ksub:$sampleN:$iters:$idCol:$vecCol") {
      trainPqCodebooks(vectors, m, ksub, sampleN, iters, idCol, vecCol)
    }

  private def trainPqCodebooks(vectors: DataFrame, m: Int, ksub: Int, sampleN: Int,
                               iters: Int, idCol: String,
                               vecCol: String): Seq[Seq[Seq[Double]]] = {
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val pts = vectors.select(col(vecCol), col(idCol))
      .orderBy(xxhash64(col(idCol)))
      .limit(sampleN)
      .collect()
      .map(r => unit(r.getSeq[Float](0).map(_.toDouble).toArray))
    require(pts.length >= ksub, s"need at least ksub=$ksub sample vectors, got ${pts.length}")
    val dim = pts.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val ds = dim / m
    (0 until m).map { mi =>
      val sub = pts.map(_.slice(mi * ds, (mi + 1) * ds))
      var cents = sub.take(ksub).map(_.clone())
      for (_ <- 0 until iters) {
        val sums = Array.fill(ksub)(new Array[Double](ds))
        val counts = new Array[Long](ksub)
        sub.foreach { p =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < ksub) {
            var d = 0.0; var i = 0
            while (i < ds) { val t = p(i) - cents(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < ds) { sums(best)(i) += p(i); i += 1 }
          counts(best) += 1
        }
        cents = cents.indices.map { c =>
          if (counts(c) == 0) cents(c)
          else sums(c).map(_ / counts(c))
        }.toArray
      }
      cents.map(_.toSeq).toSeq
    }
  }

  /** Approximate top-k for the first `nQueries` vectors via the
    * standard PQ pipeline: asymmetric-distance computation (ADC) over
    * compressed codes prunes to a per-query shortlist, then the
    * shortlist re-ranks with EXACT cosine on the raw vectors. Every
    * vector compresses to m sub-codes (m × log₂(ksub) bits); a query
    * precomputes its m × ksub distance table once, and each ADC
    * distance is m table lookups instead of a dim-term dot product.
    * Flat form: every code row is scanned per query ([[ivfPqTopK]] is
    * the cell-routed form that prunes the scan).
    */
  def pqTopK(vectors: DataFrame, k: Int, m: Int, ksub: Int, nQueries: Int,
             idCol: String = "vec_id", vecCol: String = "embedding",
             sampleN: Int = 4096, shortlist: Int = 50,
             numRows: Long = -1L, broadcastMaxRows: Long = 2_000_000L,
             maxLiteralQueries: Int = 128): DataFrame =
    pqSearch(vectors, k, m, ksub, nQueries, route = None,
      idCol, vecCol, sampleN, shortlist, numRows, broadcastMaxRows,
      maxLiteralQueries)

  /** IVF+PQ composed — the standard billion-scale ANN layout: a coarse
    * k-means quantizer routes vectors to cells ([[ivfCentroids]]), PQ
    * codes compress them 32×, and a query touches only its `nprobe`
    * best cells, ADC-scans their codes, and exact-re-ranks a
    * shortlist. At 100 TB the encoded table partitions by cell id, so
    * the probe filter is partition pruning and the exact re-rank
    * touches shortlist-sized sets — nothing table-sized moves.
    */
  def ivfPqTopK(vectors: DataFrame, k: Int, nlist: Int, nprobe: Int,
                m: Int, ksub: Int, nQueries: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                sampleN: Int = 4096, shortlist: Int = 50,
                numRows: Long = -1L, broadcastMaxRows: Long = 2_000_000L,
                maxLiteralQueries: Int = 128): DataFrame = {
    val cents = ivfCentroids(vectors, nlist, sampleN, idCol = idCol, vecCol = vecCol)
    pqSearch(vectors, k, m, ksub, nQueries, route = Some((cents, nprobe)),
      idCol, vecCol, sampleN, shortlist, numRows, broadcastMaxRows,
      maxLiteralQueries)
  }

  /** The shared PQ search core: encode once (map-side), ADC the
    * (optionally cell-routed) scan, shortlist, exact re-rank.
    * `route = Some((cells, nprobe))` adds the IVF cell assignment and
    * restricts each query to its nprobe best cells; `None` scans flat
    * (everything lives in one pseudo-cell).
    *
    * Two query-side shapes, chosen by `nQueries` vs
    * `maxLiteralQueries`:
    *
    *  - LITERAL (small query sets): query vectors collect to the
    *    driver and their probe lists + distance tables ship as ONE
    *    exploded plan literal — zero extra joins, right for ad-hoc
    *    top-k over ≤ ~100 queries, dead at 100 k (the literal inflates
    *    the plan and the driver).
    *  - BROADCAST (batch query sets): the distance table is computed
    *    per QUERY ROW as a native column against the codebook
    *    literals, and two broadcast joins attach queries to the
    *    encoded scan — a slim (qid, cell) probe list fans data rows to
    *    probing queries, then (qid, tab) attaches each query's m×ksub
    *    table exactly once (joining the exploded probes WITH the table
    *    would broadcast nprobe copies of every table). Broadcast
    *    volume is nQueries × ksub × m doubles (~2 KB per query at
    *    16×16) — fine to ~10⁵ queries; beyond that, batch the query
    *    set or shuffle-join on cell.
    *
    * Normalized arrays and encoded rows are materialized ONCE via
    * eager localCheckpoint — query-scoped storage blocks that the
    * ContextCleaner frees as soon as the query's frames become
    * unreachable, not CacheManager entries that would accumulate
    * across queries in a long-lived session.
    * MATERIALIZING the normalized array before encoding matters:
    * element_at on a computed `transform` column re-evaluates the
    * whole lambda (incl. the norm) per element — 1024 encoder terms
    * would each pay the full 64-element normalization (measured 17 s
    * vs 1 s on sf0.01).
    */
  private def pqSearch(vectors: DataFrame, k: Int, m: Int, ksub: Int,
                       nQueries: Int, route: Option[(Seq[Seq[Double]], Int)],
                       idCol: String, vecCol: String, sampleN: Int,
                       shortlist: Int, numRows: Long,
                       broadcastMaxRows: Long, maxLiteralQueries: Int): DataFrame = {
    val nRows = if (numRows >= 0) numRows else vectors.count()
    val cb = pqCodebooks(vectors, m, ksub, sampleN, idCol = idCol, vecCol = vecCol)
    val ds = cb.head.head.length
    // unit-normalize so L2 on codes ranks like cosine (2 - 2cos)
    val nrm = sqrt(dot(col(vecCol), col(vecCol)))
    val vnorm = transform(col(vecCol),
      x => when(nrm > 0, x.cast("double") / nrm).otherwise(lit(0.0)))
    // eager localCheckpoint, not persist: same single materialization
    // of the normalized arrays, but the blocks are query-scoped
    // (ContextCleaner frees them when the frames are GC'd) instead of
    // CacheManager entries that leak across queries — the r19 §5 flag.
    val normed = graft.sources.Tables.materialize(
      vectors.select(col(idCol).as("nid"), vnorm.as("vn")))
    // one encode pass: optional IVF cell assignment + PQ codes, both
    // map-side single-kernel expressions (TopCells / PqEncode — the
    // expression-tree formulation blew whole-stage-codegen limits and
    // fell back to interpreted eval, see VectorExpressions)
    val vx = graft.functions.VectorExpressions
    val encoded = (route match {
      case Some((cents, _)) => normed.select(col("nid"),
        element_at(vx.topCells(col("vn"), cents, 1), 1).as("cell"),
        vx.pqEncode(col("vn"), cb).as("codes"))
      case None => normed.select(col("nid"), lit(0).as("cell"),
        vx.pqEncode(col("vn"), cb).as("codes"))
    }).transform(graft.sources.Tables.materialize)

    val all = if (nQueries <= maxLiteralQueries) {
      val queries = normed.filter(col("nid") < nQueries)
        .select(col("nid"), col("vn")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      // (localCheckpoint blocks are freed by the ContextCleaner once
      // `normed` is unreachable — no explicit unpersist needed)
      // per query: its probe cells + its flattened m x ksub distance
      // table, tab(mi*ksub + j) = L2²(q_sub, c_mi_j)
      val qmeta = typedLit(queries.toSeq.map { case (qid, qv) =>
        val probes: Seq[Int] = route match {
          case Some((cents, nprobe)) =>
            cents.zipWithIndex.map { case (c, ci) =>
              (c.indices.map(i => qv(i) * c(i)).sum, ci)
            }.sortBy(t => (-t._1, t._2)).take(nprobe).map(_._2)
          case None => Seq(0)
        }
        val tab = (0 until m).flatMap { mi =>
          cb(mi).map { c =>
            (0 until ds).map { i =>
              val t = qv(mi * ds + i) - c(i); t * t
            }.sum
          }
        }
        (qid, probes, tab)
      })
      encoded
        .select(col("nid"), col("cell"), col("codes"), explode(qmeta).as("q"))
        .filter(col("q._1") =!= col("nid") && array_contains(col("q._2"), col("cell")))
        .select(col("q._1").as("qid"), col("nid"),
          vx.pqAdc(col("codes"), col("q._3"), m, ksub).as("adc"))
    } else {
      // distance table as a single-kernel column over the stored
      // normalized array (same IEEE op order as the driver-computed
      // literal: (x-c)² terms left-summed per entry)
      val qbase = normed.filter(col("nid") < nQueries)
      val qtab = qbase.select(col("nid").as("qid"),
        vx.pqDistTable(col("vn"), cb).as("tab"))
      val qprobes = route match {
        case Some((cents, nprobe)) => qbase.select(col("nid").as("qid"),
          explode(vx.topCells(col("vn"), cents, nprobe)).as("cell"))
        case None => qbase.select(col("nid").as("qid"), lit(0).as("cell"))
      }
      encoded.join(broadcast(qprobes), Seq("cell"))
        .join(broadcast(qtab), Seq("qid"))
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          vx.pqAdc(col("codes"), col("tab"), m, ksub).as("adc"))
    }
    val wAdc = Window.partitionBy("qid").orderBy(col("adc").asc, col("nid"))
    val cand = all.withColumn("srnk", row_number().over(wAdc))
      .filter(col("srnk") <= shortlist)
      .select("qid", "nid")
    // exact re-rank of the ADC shortlist on the raw vectors — the
    // shared gated join-back tail of the LSH/IVF paths
    scoreCandidates(cand, vectors.select(col(idCol), col(vecCol)), k,
      idCol, vecCol, nRows, broadcastMaxRows)
  }

  // Cell scoring note: ranking by raw dot against the unit centroids
  // ≡ ranking by cosine (the row's own norm is a positive per-row
  // constant), at half the arithmetic — the TopCells kernel
  // (functions/VectorExpressions) carries this for every IVF path.

  /** Approximate all-vectors top-k via IVF: assign every vector to its
    * nearest centroid cell (map-side, no shuffle), expand every query
    * to its `nprobe` best cells, join on the cell id, score the
    * candidates once, then per-query top-k.
    *
    * Scale shape: one shuffle keyed on the cell id; expected
    * candidates per query ≈ nprobe × n / nlist, tuned by
    * (nlist, nprobe) for the recall/cost point. With nlist ~ √n the
    * per-cell lists stay √n-sized, the classic IVF balance. The
    * vector join-back reuses [[lshTopK]]'s broadcast-or-shuffle-hash
    * gate, so nothing table-sized ships to every executor.
    */
  def ivfTopK(vectors: DataFrame, k: Int, nlist: Int, nprobe: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              sampleN: Int = 4096,
              numRows: Long = -1L, broadcastMaxRows: Long = 2_000_000L): DataFrame = {
    val b = vectors.select(col(idCol), col(vecCol))
    val n = if (numRows >= 0) numRows else b.count()
    val cents = ivfCentroids(vectors, nlist, sampleN, idCol = idCol, vecCol = vecCol)
    // one scoring pass: nlist dot products per row in a single kernel
    // (TopCells — same (score desc, cell desc) ordering the previous
    // struct array_sort produced), materialized as (id, top-nprobe
    // cells) — n x (8 + 4*nprobe) bytes, disk-spillable — so the
    // assigned and probe branches don't score the table twice
    val cells = b.select(col(idCol).as("id"),
        graft.functions.VectorExpressions.topCells(col(vecCol), cents, nprobe).as("top"))
      .transform(graft.sources.Tables.materialize) // query-scoped blocks
    val assigned = cells.select(col("id").as("nid"), element_at(col("top"), 1).as("cell"))
    val probes = cells.select(col("id").as("qid"), explode(col("top")).as("cell"))
    // No dedup needed (unlike LSH's multi-table union): a vector is
    // assigned to exactly ONE cell, so (qid, nid) arises at most once.
    // But the probe join leaves candidates partitioned BY CELL —
    // popular cells make straggler partitions — so re-key by qid: one
    // balanced shuffle that the per-query top-k window then reuses
    // (its own exchange disappears), where the previous
    // dropDuplicates paid a (qid,nid)-keyed shuffle AND an extra
    // aggregate for a dedup that could never fire.
    val cand = probes.join(assigned, "cell").filter(col("qid") =!= col("nid"))
      .select("qid", "nid").repartition(col("qid"))
    scoreCandidates(cand, b, k, idCol, vecCol, n, broadcastMaxRows)
  }

  /** Nearest-centroid assignment of every vector under FIXED
    * centroids — the incremental-IVF append path: once the coarse
    * quantizer is trained, admitting a new batch to the persisted
    * index is ONE broadcast kernel pass over the batch (deterministic,
    * embarrassingly parallel), never a retrain and never a corpus
    * re-scan — the ANN analogue of the exact/minhash/chunk dedup
    * indexes' append discipline. The returned (nid, cell) rows are the
    * index's unit of append.
    */
  def ivfAssign(vectors: DataFrame, cents: Seq[Seq[Double]],
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    vectors.select(col(idCol).as("nid"),
      element_at(graft.functions.VectorExpressions.topCells(col(vecCol), cents, 1), 1)
        .as("cell"))

  /** Probe a persisted IVF assignment table: top-`nprobe` cells per
    * query route into the index's cell lists (one equi-join on cell —
    * the index side is scanned, never widened), candidates re-key to
    * `qid` for balance, and the exact-cosine re-rank keeps the top
    * `k`. `vectors` supplies embeddings for both sides (the corpus the
    * index describes plus the queries). Deterministic given the
    * centroids: assignment and probe cells are pure functions of the
    * data, so an incrementally-appended index probes IDENTICALLY to a
    * one-shot assignment under the same quantizer.
    */
  def ivfProbe(assign: DataFrame, vectors: DataFrame, queries: DataFrame,
               cents: Seq[Seq[Double]], k: Int, nprobe: Int,
               idCol: String = "vec_id", vecCol: String = "embedding",
               numRows: Long = -1L, broadcastMaxRows: Long = 2_000_000L): DataFrame = {
    val b = vectors.select(col(idCol), col(vecCol))
    val n = if (numRows >= 0) numRows else b.count()
    val probes = queries.select(col(idCol).as("qid"),
      explode(graft.functions.VectorExpressions.topCells(col(vecCol), cents, nprobe))
        .as("cell"))
    val cand = probes.join(assign, "cell").filter(col("qid") =!= col("nid"))
      .select("qid", "nid").repartition(col("qid"))
    scoreCandidates(cand, b, k, idCol, vecCol, n, broadcastMaxRows)
  }
}
