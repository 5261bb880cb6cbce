package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.{Pca, SemDedup, Similarity}
import graft.functions.SemDedupKey
import graft.multimodal.Multimodal
import graft.sources.Tables

/** Similarity search over the `embeddings` table and multimodal-column
  * queries over `documents`.
  *
  * The brute-force top-k is the oracle-checked baseline: its cosine is
  * a left-associated double fold, mirrored termwise in the generated
  * DuckDB SQL, so scores match bit-for-bit. The LSH variant is the
  * scale path (bucketed join instead of cross product) and is
  * rows-only here — its recall against brute force is asserted in
  * AnnSpec.
  */
object AnnQueries {

  type Q = (SparkSession, String) => DataFrame

  val Dim = 64
  private val TopK = 5
  val NQueries = 10
  // bits auto-tune to ~log2(n/32) so per-query candidates stay
  // constant as the table grows (fixed bits=6 measured 16.4x growth on
  // a 10x dataset; auto bits ~linear). At the oracle/bench scales auto
  // resolves to 4-6 bits — the tuned recall point. probes=2
  // multi-probes the two weakest-margin sign flips per table: measured
  // recall@5 0.79-0.82 across sf0.001/0.01/0.1 (vs 0.52-0.60
  // single-probe) for ~1.7x the candidate volume.
  private val LshBits = 0 // auto: Similarity.autoBits(n)
  private val LshTables = 16
  private val LshProbes = 2
  // PQ geometry: 16 subspaces x 16 centroids = 64-bit codes on dim 64
  // (4 bits per 4-dim subspace; 32-bit codes measured recall@5 0.22 —
  // too lossy even with exact re-rank's shortlist).
  val PqM = 16
  val PqKsub = 16

  /** Principal components kept by `emb_pca_project`; Verify's
    * variance-match invariant derives from THIS constant.
    */
  val PcaK = 8

  /** Embedding dimensionality, shared with Verify's PCA invariant. */
  val EmbDim: Int = Dim

  /** Production-width binary-ANN fixture geometry: the 64-dim corpus
    * tiled to 256 dims (see [[wideEmbeddings]]).
    */
  val WideTiles = 4
  val WideDim: Int = Dim * WideTiles

  /** Perceptual-hash dedup (`mm_phash_dedup`): 64-bit dHash codes in
    * `MmPhashBands` bands of `MmPhashBandBits` bits; candidate pairs
    * from shared bands keep when Hamming ≤ `MmPhashHammingT`. The
    * fixture's 1-px-shifted near-duplicates measure Hamming avg 3.3 /
    * max 11 with ≥1 clean band in 1245/1250 images, its brightness
    * lifts exactly 0, and unrelated images ~32 bits apart
    * (MultimodalSpec pins the planted cases), so the threshold sits
    * with margin between the tiers. Band width is the LSH
    * recall/candidate-volume dial: candidates grow as n²/2^bits, so a
    * production corpus widens bands with log₂(n) (the SemDedup
    * autoBits policy) and pays recall via more bands or wider codes —
    * here it is a shipped constant because the oracle SQL is static.
    */
  val MmPhashBands = 8
  val MmPhashBandBits = 8
  val MmPhashHammingT = 10L

  /** The WIDE phash tier (`mm_phash_dedup_wide`): 128-bit codes
    * (dHash ‖ aHash) in 8 bands of 16 bits, threshold 16. Candidate
    * volume drops 256× vs the 64-bit tier's 8-bit bands (n²/2^16) —
    * the corpus-scale path — at a measured recall cost of 3/125
    * planted shifts missing every band (98.2% over 1250; the spec
    * pins ≥ 97%). Unrelated images measure ≥ 21 bits apart, planted
    * shifts ≤ 16, so the threshold separates cleanly.
    */
  val MmPhashWideHammingT = 16L

  /** Band-bits policy for the AUTO phash tier (`mm_phash_dedup_auto`)
    * — the SemDedup [[graft.ann.SemDedup.autoBits]] precedent applied
    * to the image family: random-pair candidates grow as n²·B/2^bits,
    * so bits = ⌈log₂ n⌉ holds the expected candidate count LINEAR in
    * n (≈ B·n) — the flat-at-scale invariant — with no hand-chosen
    * constant. Clamped to [8, 16]: 8 is the narrow tier's
    * recall-maximal width on a small corpus, 16 the widest slice the
    * 128-bit code yields 8 disjoint bands from, so from ~33 k images
    * the auto plan IS the measured-flat wide plan and below that it
    * buys recall with candidate volume the small corpus can afford
    * (the recall floor is Verify's standing invariant either way).
    */
  def phashAutoBits(n: Long): Int =
    math.max(8, math.min(16, math.ceil(
      math.log(math.max(n.toDouble, 2.0)) / math.log(2.0)).toInt))

  /** A `width`-bit slice of the 128-bit (ph1 ‖ ph2, ph1 low) code at
    * bit `offset` — the auto tier's band key. Offsets may straddle the
    * long boundary; all shifts are plan-time literals.
    */
  private[graft] def phashSlice128(ph1: org.apache.spark.sql.Column,
                                   ph2: org.apache.spark.sql.Column,
                                   offset: Int, width: Int): org.apache.spark.sql.Column = {
    require(offset >= 0 && width >= 1 && width <= 62 && offset + width <= 128)
    val mask = lit((1L << width) - 1)
    if (offset + width <= 64)
      shiftrightunsigned(ph1, offset).bitwiseAND(mask)
    else if (offset >= 64)
      shiftrightunsigned(ph2, offset - 64).bitwiseAND(mask)
    else
      shiftrightunsigned(ph1, offset)
        .bitwiseOR(shiftleft(ph2, 64 - offset)).bitwiseAND(mask)
  }

  /** Probe a (doc_id, phash) code index with a crawl batch's codes —
    * the image arm of the incremental-dedup family. Candidates come
    * from the 8×8 banded keys; the index side joins against a
    * BROADCAST of the (small) batch's band keys, so the admitted
    * index is scan-only at any corpus size; each batch doc admits as
    * 'dup' of its best (lowest Hamming, then lowest id) match within
    * [[MmPhashHammingT]], else 'fresh'.
    */
  /** One row per (doc, band): the LSH keys of a (doc_id, phash) code
    * frame — per-row explode, stream-safe.
    */
  private[graft] def phashBanded(df: DataFrame, idAs: String, phAs: String): DataFrame =
    df.select(col("doc_id").as(idAs), col("phash").as(phAs),
        explode(array((0 until MmPhashBands).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("phash"), MmPhashBandBits * b)
              .bitwiseAND(lit((1L << MmPhashBandBits) - 1)).as("bkey"))): _*)).as("bb"))
      .select(col(idAs), col(phAs), col("bb.band").as("band"), col("bb.bkey").as("bkey"))

  def phashProbeIndex(index: DataFrame, batch: DataFrame): DataFrame = {
    val cand = phashBanded(index, "cdoc", "cph")
      .join(broadcast(phashBanded(batch, "bdoc", "bph")), Seq("band", "bkey"))
      .select("bdoc", "bph", "cdoc", "cph").distinct()
    val best = cand
      .withColumn("hamming", graft.functions.VectorExpressions.codeHamming(
        array(col("bph")), array(col("cph"))).cast("long"))
      .filter(col("hamming") <= MmPhashHammingT)
      .groupBy("bdoc")
      .agg(min(struct(col("hamming"), col("cdoc"))).as("m"))
      .select(col("bdoc"), col("m.cdoc").as("dup_of"), col("m.hamming").as("hamming"))
    batch.select(col("doc_id"))
      .join(best, col("doc_id") === col("bdoc"), "left")
      .select(col("doc_id"),
        when(col("dup_of").isNull, lit("fresh")).otherwise(lit("dup")).as("status"),
        col("dup_of"), col("hamming"))
      .orderBy("doc_id")
  }

  /** Shared oracle CTE chain: doc_id → variant → md5 control grid →
    * bilinear pixels → block means → dHash bits → 8-bit band keys.
    * Interpolated into both phash oracles so they recompute the SAME
    * pixel pipeline.
    */
  private val phashBandsCte: String =
    s"""d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 4 = 3 THEN (doc_id // 4) * 1009 + 997
       |         ELSE doc_id // 4 END AS g,
       |    CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS dx,
       |    CASE WHEN doc_id % 4 = 2 THEN 5 ELSE 0 END AS bright
       |  FROM documents),
       |ctrl AS (
       |  SELECT doc_id, i, j,
       |    CAST(('0x'||substring(md5(g || ':' || i || ':' || j), 1, 8)) AS BIGINT) % 201 AS v
       |  FROM d CROSS JOIN range(0, 6) ri(i) CROSS JOIN range(0, 6) rj(j)),
       |px AS (
       |  SELECT p.doc_id, p.bx, p.by, p.x, p.y,
       |    SUM(c.v
       |      * CASE WHEN c.i = p.x // 9 THEN 9 - p.x % 9
       |             WHEN c.i = p.x // 9 + 1 THEN p.x % 9 ELSE 0 END
       |      * CASE WHEN c.j = p.y // 8 THEN 8 - p.y % 8
       |             WHEN c.j = p.y // 8 + 1 THEN p.y % 8 ELSE 0 END) // 72 AS gray
       |  FROM (
       |    SELECT doc_id, bx, by, bx*4+qx+dx AS x, by*4+qy AS y
       |    FROM d
       |    CROSS JOIN range(0, 9) r1(bx) CROSS JOIN range(0, 8) r2(by)
       |    CROSS JOIN range(0, 4) r3(qx) CROSS JOIN range(0, 4) r4(qy)) p
       |  JOIN ctrl c ON c.doc_id = p.doc_id
       |    AND c.i BETWEEN p.x // 9 AND p.x // 9 + 1
       |    AND c.j BETWEEN p.y // 8 AND p.y // 8 + 1
       |  GROUP BY p.doc_id, p.bx, p.by, p.x, p.y),
       |m AS (
       |  SELECT px.doc_id, bx, by,
       |    (SUM(gray) + 16 * MAX(d.bright)) // 16 AS m
       |  FROM px JOIN d ON d.doc_id = px.doc_id
       |  GROUP BY px.doc_id, bx, by),
       |bits AS (
       |  SELECT a.doc_id, a.by * 8 + a.bx AS i,
       |    CASE WHEN b.m > a.m THEN 1 ELSE 0 END AS bit
       |  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.by = b.by AND b.bx = a.bx + 1
       |  WHERE a.bx < 8),
       |bands AS (
       |  SELECT doc_id, i // 8 AS band,
       |    CAST(SUM(bit * (1 << (i % 8))) AS BIGINT) AS bkey
       |  FROM bits GROUP BY doc_id, i // 8)""".stripMargin

  /** A ≥256-dim embedding corpus DERIVED deterministically from the
    * 64-dim fixture, for the production-width (multi-long-code)
    * binary-ANN path: tile t's component j is `sign(t,j) ·
    * v[perm_t(j)]` with per-tile bijective index maps (odd multiplier
    * mod 64) and fixed ±1 signs. Each tile is a signed permutation,
    * so `<f(u), f(v)> = tiles · <u, v>` and `|f(v)|² = tiles · |v|²`
    * EXACTLY — cosine, and therefore every neighbor ordering and the
    * brute-force ground truth, is preserved from the base corpus
    * while the code path exercises real ⌈256/64⌉ = 4-word packing,
    * the word-loop Hamming kernel, and array-typed salted top-C.
    */
  def wideEmbeddings(s: SparkSession, d: String,
                     tiles: Int = WideTiles): DataFrame = {
    val mult = Array(1, 5, 9, 13, 17, 21, 25, 29)
    val idx: Seq[Int] = (0 until tiles).flatMap { t =>
      (0 until Dim).map(j => (mult(t % mult.length) * j + 7 * t) % Dim)
    }
    val sgn: Seq[Float] = (0 until tiles).flatMap { t =>
      (0 until Dim).map { j =>
        if ((((t * Dim + j) * 2654435761L) % 1000003L) % 2L == 0L) 1.0f else -1.0f
      }
    }
    val idxLit = array(idx.map(i => lit(i + 1)): _*) // element_at is 1-based
    val sgnLit = array(sgn.map(lit): _*)
    Tables.embeddings(s, d).withColumn("embedding",
      zip_with(idxLit, sgnLit,
        (p, sg) => (element_at(col("embedding"), p) * sg).cast("float")))
  }

  // SemDedup geometry: 5 sign-hyperplanes (32 buckets — ~16 members
  // per bucket at sf0.01, ~60 at sf0.1, far under the ~1e5 BIGINT
  // headroom bound in SemDedup's doc) and a 0.30-cosine duplicate
  // threshold in the 1e12 fixed-point dot scale — the same threshold
  // as dedup_embedding_cosine, so the two queries probe the same
  // similarity structure through the exact (cross-join) and the
  // bucketed (scale) paths.
  val SemBits = 5
  val SemTauFp = 300000000000L

  val queries: Map[String, Q] = Map(

    "emb_cosine_topk" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < NQueries), TopK)
        .orderBy("qid", "rnk")
    },

    "emb_ann_lsh" -> { (s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d), TopK, LshBits, Dim, LshTables,
          numRows = Tables.cachedCount(s, d, "embeddings"), probes = LshProbes)
        .orderBy("qid", "rnk")
    },

    // Hybrid retrieval with reciprocal-rank fusion — the production
    // RAG shape: a lexical arm (the BM25 top-50 under the fixed query
    // terms, reused from text_bm25_topk) and a vector arm (the exact
    // cosine top-50 for query vec 0) fused by RRF(k=60) on RANKS
    // alone. Rank-only fusion is what makes the shape scale-honest:
    // either arm swaps for its ANN/index variant (ivfProbe, the
    // binary-code path, a pruned BM25) without touching the fusion,
    // because no score crosses the arm boundary. Both arms and the
    // fusion are exactly mirrored in the DuckDB oracle (integer
    // ranks, identical IEEE 1/(60+r) sums) — hash-exact.
    "retrieval_hybrid_rrf" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val lex = TextQueries.queries("text_bm25_topk")(s, d)
        .withColumn("r_lex", row_number().over( // 50-row input (bm25 topk)
          Window.partitionBy(ParallelRank.constKey(col("doc_id")))
            .orderBy(col("bm25").desc, col("doc_id"))))
        .select("doc_id", "r_lex")
      val emb = Tables.embeddings(s, d)
      val vec = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") === 0), 50)
        .select(col("nid").as("doc_id"), col("rnk").as("r_vec"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)))
        .orderBy(col("rrf").desc, col("doc_id")).limit(20)
        .select("doc_id", "r_lex", "r_vec", "rrf")
    },

    // The same fusion with the vector arm SWAPPED for the binary-code
    // index probe — the "either arm swaps for its index variant"
    // claim as running code: lexical ranks and the RRF arithmetic are
    // untouched, only the rank source changed. Rows-only; Verify
    // gates top-10 overlap vs the exact-arm fusion.
    "retrieval_hybrid_rrf_ann" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val lex = TextQueries.queries("text_bm25_topk")(s, d)
        .withColumn("r_lex", row_number().over( // 50-row input (bm25 topk)
          Window.partitionBy(ParallelRank.constKey(col("doc_id")))
            .orderBy(col("bm25").desc, col("doc_id"))))
        .select("doc_id", "r_lex")
      val emb = Tables.embeddings(s, d)
      val n = Tables.cachedCount(s, d, "embeddings")
      val anchors = Similarity.binaryAnchors(emb, Dim)
      val vec = Similarity.binaryProbe(
          Similarity.binaryAssign(emb, anchors), emb,
          emb.filter(col("vec_id") === 0), anchors, 50, numRows = n)
        .select(col("nid").as("doc_id"), col("rnk").as("r_vec"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)))
        .orderBy(col("rrf").desc, col("doc_id")).limit(20)
        .select("doc_id", "r_lex", "r_vec", "rrf")
    },

    // Binary sign-quantization ANN: 1 bit per dimension (64 dims pack
    // into a one-word code), Hamming prefilter over codes only (the
    // CodeHamming kernel — a 32×-compressed corpus scan), exact
    // cosine rerank of the top-C survivors. Rows-only; recall floor +
    // prefilter-exactness are the Verify invariant.
    "emb_ann_binary" -> { (s, d) =>
      Similarity.binaryTopK(Tables.embeddings(s, d), TopK, Dim, NQueries,
          numRows = Tables.cachedCount(s, d, "embeddings"))
        .orderBy("qid", "rnk")
    },

    // Production-WIDTH binary ANN: the same 1-bit prefilter on a
    // 256-dim corpus (the derived wide fixture) — codes are 4-long
    // ARRAYS (SignPackN), Hamming is the native word-loop kernel
    // (CodeHamming), everything downstream (salted top-C, exact
    // cosine rerank) identical. This is the shape a real 768/1024-dim
    // embedding store runs; emb_ann_binary is the same call at 64
    // dims. Rows-only; recall floor + wide-fixture cosine
    // preservation are Verify invariants.
    "emb_ann_binary_wide" -> { (s, d) =>
      Similarity.binaryTopK(wideEmbeddings(s, d), TopK, WideDim, NQueries,
          numRows = Tables.cachedCount(s, d, "embeddings"))
        .orderBy("qid", "rnk")
    },

    // Metadata-FILTERED exact retrieval (the RAG shape: "top-k
    // neighbors WHERE label ∈ allowed"): the predicate applies to the
    // corpus side BEFORE scoring, so it pushes into the parquet scan
    // (plan-pinned) and the kernel only scores survivors — at 100 TB
    // a selective filter prunes at the reader, and the same
    // composition filters the IVF assign table for the approximate
    // tier. Exact cosine over the filtered corpus, hash-exact oracle.
    "emb_ann_filtered" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb.filter(col("label").isin(1, 5, 9)),
          emb.filter(col("vec_id") < NQueries), TopK)
        .orderBy("qid", "rnk")
    },

    // Embedding-space distribution drift (the vector-side sibling of
    // text_drift_tvd): per label, the squared L2 shift between the
    // incoming batch's mean vector and the corpus's. All arithmetic
    // exact until one guarded step: per-element values quantize to
    // 1e6 fixed point (long sums — exact), the per-dimension mean
    // difference is the INTEGER cross product sum_b·n_c − sum_c·n_b
    // (exact; bounds hold to n ≈ 1e9 per label side — past that,
    // pre-aggregate the corpus per shard), divided once in double and
    // re-quantized to 1e9 fixed point, so the final sum of squares is
    // BIGINT in both engines — hash-exact, no order-dependent float
    // summation anywhere. Shape: one posexplode (64 rows per vector)
    // into a (label, dim)-keyed conditional aggregate with map-side
    // partials — one exchange carrying labels×64 groups.
    "emb_drift" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .withColumn("is_batch", col("vec_id") % 10 < 3)
        .select(col("label"), col("is_batch"),
          posexplode(transform(col("embedding"),
            x => floor(x.cast("double") * lit(1000000.0) + lit(0.5)).cast("long")))
            .as(Seq("dim", "fp")))
      val perDim = emb.groupBy("label", "dim")
        .agg(sum(when(col("is_batch"), col("fp")).otherwise(0L)).as("sum_b"),
          sum(when(!col("is_batch"), col("fp")).otherwise(0L)).as("sum_c"),
          sum(when(col("is_batch"), 1L).otherwise(0L)).as("n_b"),
          sum(when(!col("is_batch"), 1L).otherwise(0L)).as("n_c"))
      perDim
        .withColumn("md_fp", floor(
          (col("sum_b") * col("n_c") - col("sum_c") * col("n_b")).cast("double") /
            (col("n_b") * col("n_c")).cast("double") * lit(1000.0) + lit(0.5))
          .cast("long"))
        .groupBy("label")
        .agg(max(col("n_b")).as("n_batch"), max(col("n_c")).as("n_corpus"),
          sum(col("md_fp") * col("md_fp")).as("l2sq_fp"))
        .orderBy("label")
    },

    // Exact maximum-inner-product top-k (un-normalized embeddings rank
    // differently under dot than under cosine — the recommendation /
    // reward-scoring retrieval mode). The dot is the same
    // left-associated double sequence in both engines → hash-exact.
    "emb_ann_mips" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.mipsTopK(emb, emb.filter(col("vec_id") < NQueries), TopK)
        .orderBy("qid", "rnk")
    },

    // Approximate MIPS via the norm-augmentation reduction to cosine
    // sign-LSH (every corpus vector lifted to norm M in dim+1 space,
    // queries augmented with 0, exact-dot re-rank). Rows-only by
    // design; Verify checks recall vs the exact MIPS top-k.
    "emb_ann_mips_lsh" -> { (s, d) =>
      Similarity.mipsLshTopK(Tables.embeddings(s, d), TopK, NQueries, Dim,
          numRows = Tables.cachedCount(s, d, "embeddings"))
        .orderBy("qid", "rnk")
    },

    // IVF ANN: coarse k-means cells — the data-adaptive scale path
    // next to LSH. Params from Similarity.autoIvfParams: nlist ~ sqrt(n),
    // nprobe = min(nlist/2, 24) — at the oracle/bench scales that is
    // the tuned half-probe point (recall@5 0.84-0.89, vs 0.59-0.69 at
    // nlist/4); beyond, the pinned nprobe keeps growth ~n^1.5 instead
    // of quadratic. Rows-only by design (driver-checked recall
    // invariant in Verify).
    "emb_ann_ivf" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val n = Tables.cachedCount(s, d, "embeddings")
      val (nlist, nprobe) = Similarity.autoIvfParams(n)
      Similarity.ivfTopK(emb, TopK, nlist, nprobe, numRows = n)
        .orderBy("qid", "rnk")
    },

    // Incremental IVF: the corpus (vec_id%10 >= 3) trains the coarse
    // quantizer and builds the assignment index; the new batch
    // (vec_id%10 < 3) is admitted ASSIGN-ONLY (one broadcast kernel
    // pass — no retrain, no corpus re-scan, the ANN analogue of the
    // dedup indexes' append discipline), then probes the merged index
    // for its top-k. Rows-only; Verify pins (1) EXACT probe equality
    // of the appended index vs a one-shot assignment under the same
    // quantizer and (2) recall vs brute force on the union.
    "emb_ann_ivf_incremental" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") % 10 >= 3)
      val batch = emb.filter(col("vec_id") % 10 < 3)
      val n = Tables.cachedCount(s, d, "embeddings")
      val (nlist, nprobe) = Similarity.autoIvfParams(n)
      val cents = Similarity.ivfCentroids(corpus, nlist)
      val idx = Similarity.ivfAssign(corpus, cents)
        .unionAll(Similarity.ivfAssign(batch, cents))
      Similarity.ivfProbe(idx, emb, batch, cents, TopK, nprobe, numRows = n)
        .orderBy("qid", "rnk")
    },

    // Incremental binary-code index: the corpus (vec_id%10 >= 3)
    // trains the sign anchors and builds the code table; the new
    // batch (vec_id%10 < 3) is admitted ASSIGN-ONLY (one codegen'd
    // SignPackN pass — no retrain, no corpus re-scan), then probes the
    // merged table for its top-k. Rows-only; Verify pins (1) EXACT
    // probe equality of the appended table vs a one-shot assignment
    // under the same anchors and (2) recall vs brute force on the
    // union.
    "emb_ann_binary_incremental" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") % 10 >= 3)
      val batch = emb.filter(col("vec_id") % 10 < 3)
      val anchors = Similarity.binaryAnchors(corpus, Dim)
      val idx = Similarity.binaryAssign(corpus, anchors)
        .unionAll(Similarity.binaryAssign(batch, anchors))
      // probe a FIXED query subset of the admitted batch: the append
      // differential is about the TABLE (assign-only admission), not
      // the query count — a batch-as-queries probe would grow the
      // query set with the corpus and go quadratic at scale
      Similarity.binaryProbe(idx, emb,
          batch.filter(col("vec_id") < NQueries * 4), anchors, TopK,
          numRows = Tables.cachedCount(s, d, "embeddings"))
        .orderBy("qid", "rnk")
    },

    // Metadata-FILTERED IVF probe — the approximate tier of the RAG
    // retrieval shape emb_ann_filtered runs exactly ("top-k neighbors
    // WHERE label ∈ allowed" over an index too big to brute-force).
    // The label predicate restricts the ASSIGN TABLE by a left-semi
    // join against the pushed-filter corpus scan (plan-pinned): the
    // index is NEVER rebuilt per filter — SimilaritySpec pins
    // index-row filtering == assigning only the allowed corpus under
    // the same quantizer, exactly — and the probe only scores
    // surviving cells' rows. Rows-only by design; Verify gates recall
    // vs the exact FILTERED brute force and re-checks the equality.
    "emb_ann_ivf_filtered" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val n = Tables.cachedCount(s, d, "embeddings")
      val (nlist, nprobe) = Similarity.autoIvfParams(n)
      val cents = Similarity.ivfCentroids(emb, nlist)
      val idx = Similarity.ivfAssign(emb, cents)
        .join(emb.filter(col("label").isin(1, 5, 9))
          .select(col("vec_id").as("nid")), Seq("nid"), "left_semi")
      Similarity.ivfProbe(idx, emb, emb.filter(col("vec_id") < NQueries), cents,
          TopK, nprobe, numRows = n)
        .orderBy("qid", "rnk")
    },

    // PQ top-k for the first 10 queries, the standard two-stage
    // pipeline: ADC over 64-bit codes (16 sub-codes x 16 centroids,
    // 32x smaller than raw floats) prunes to a 50-candidate shortlist,
    // then exact cosine re-ranks the shortlist. Rows-only (codebooks
    // are trained, not SQL-mirrorable); Verify asserts recall@5 vs
    // brute force. At 100 TB the ADC scan runs per IVF cell (IVF+PQ).
    "emb_ann_pq" -> { (s, d) =>
      Similarity.pqTopK(Tables.embeddings(s, d), TopK, m = PqM, ksub = PqKsub,
          nQueries = NQueries, numRows = Tables.cachedCount(s, d, "embeddings"))
        .orderBy("qid", "rnk")
    },

    // IVF+PQ composed (the billion-scale layout): coarse cells route
    // the probe, 64-bit PQ codes compress the scan, exact cosine
    // re-ranks the shortlist. Rows-only + Verify recall invariant.
    "emb_ann_ivfpq" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val n = Tables.cachedCount(s, d, "embeddings")
      val (nlist, nprobe) = Similarity.autoIvfParams(n)
      Similarity.ivfPqTopK(emb, TopK, nlist, nprobe, PqM, PqKsub, NQueries,
          numRows = n)
        .orderBy("qid", "rnk")
    },

    // Batch-query IVF+PQ: EVERY vector is a query (the offline
    // knn-graph / dedup-candidate build shape). nQueries = n exceeds
    // the literal-plan threshold, so the query side rides two
    // broadcast joins — a slim (qid, probe-cell) list and the
    // per-query ADC tables — instead of driver-collected plan
    // literals; the plan shows BroadcastExchange where the literal
    // path shows an exploded array. Rows-only + Verify recall
    // invariant, like its siblings.
    "emb_ann_pq_batch" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val n = Tables.cachedCount(s, d, "embeddings")
      val (nlist, nprobe) = Similarity.autoIvfParams(n)
      Similarity.ivfPqTopK(emb, TopK, nlist, nprobe, PqM, PqKsub,
          nQueries = n.toInt, numRows = n)
        .orderBy("qid", "rnk")
    },

    // PCA projection (dimensionality reduction for cheaper ANN
    // shortlists / whitening / drift monitors): one fixed-point
    // moment-aggregate pass fits the basis (deterministic to the bit
    // under any merge order), the driver eigendecomposes dim×dim, and
    // projection is k codegen'd dot products — see ann/Pca. Rows-only
    // (an eigenbasis is not SQL-mirrorable); Verify asserts
    // orthonormality, eigenvalue ordering, and per-component
    // projected-variance ≈ eigenvalue.
    "emb_pca_project" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val (_, basis) = Pca.fitBasis(emb, PcaK, Dim)
      Pca.project(emb, basis).orderBy("vec_id", "pc")
    },

    // Embedding-cosine near-dup: all pairs above a similarity
    // threshold on a bounded block (exact form; the LSH query above is
    // the scale path for the same predicate).
    "dedup_embedding_cosine" -> { (s, d) =>
      val base = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      val a = base.select(col("vec_id").as("a"), col("embedding").as("va"))
      val b = base.select(col("vec_id").as("b"), col("embedding").as("vb"))
      a.crossJoin(b).filter(col("a") < col("b"))
        .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
        .filter(col("cos") >= 0.3)
        .select("a", "b", "cos")
        .orderBy("a", "b")
    },

    // Symmetric int8 quantization (the embedding-store compression
    // layout: 4x smaller vectors, dot products in integer SIMD): per
    // vector, the max-magnitude component maps to ±127 and every
    // component rounds as floor(x*scale + 0.5) — explicit floor-based
    // rounding because engine round() half-way conventions differ,
    // floor arithmetic is bit-identical everywhere. Pure map-side
    // per-row work, zero shuffles.
    "emb_quantize_int8" -> { (s, d) =>
      // One scalar row per (vector, component) — posexplode of the
      // quantized array — so the dump has no list-typed cells; the
      // packed array layout is what a store would write, and callers
      // get it back with collect_list ordered by pos. Quantization is
      // the Int8Quantize kernel (one primitive pass; the former
      // greatest+transform tree ran interpreted past codegen limits).
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          graft.functions.VectorExpressions.int8Quantize(col("embedding")).as("z"))
        .selectExpr("vec_id", "z.scale AS scale", "posexplode(z.q) AS (pos, q)")
        .select("vec_id", "pos", "q", "scale")
        .orderBy("vec_id", "pos")
    },

    // Per-label centroids (IVF codebook refresh, class prototypes,
    // cluster drift monitors): posexplode to (label, pos, component)
    // and hash-aggregate — the explode is map-side and the partial
    // aggregate collapses each partition to ≤ labels×dim rows before
    // the exchange, so the shuffle is codebook-sized no matter how
    // many vectors feed it. Components are quantized to fixed-point
    // BIGINTs (floor(x·1e6 + 0.5)) before summing: integer sums are
    // bit-identical under any partitioning/merge order, where a raw
    // double sum would be addition-order-dependent and break exact
    // comparison (and reproducibility) across runs and engines.
    "emb_centroid" -> { (s, d) =>
      val Fp = 1e6
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .withColumn("v_fp", floor(col("v").cast("double") * Fp + 0.5).cast("long"))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n"), sum("v_fp").as("s_fp"))
        .select(col("label"), col("pos"), col("n"),
          (col("s_fp").cast("double") / (col("n") * Fp)).as("centroid"))
        .orderBy("label", "pos")
    },

    // Embedding outlier detection (mislabeled / low-quality vector
    // screening): squared distance of every vector to its label's
    // centroid, top-100. Centroids come from the same fixed-point
    // component sums as emb_centroid (exact rationals, so both engines
    // hold bit-identical centroid doubles); the distance is an explicit
    // left-associated 64-term sum mirrored termwise in the oracle (the
    // dotSql convention). Shape: one codebook-sized aggregate, a
    // broadcast join on label, a per-row map, and a top-k — the
    // quality-control pass you run over a whole embedding store.
    "emb_outliers" -> { (s, d) =>
      val fp = (i: Int) => floor(element_at(col("embedding"), i).cast("double")
        * 1000000.0 + 0.5).cast("long")
      val cent = Tables.embeddings(s, d)
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          (1 to Dim).map(i => sum(fp(i)).as(s"s$i")): _*)
        .select(col("label") +: (1 to Dim).map(i =>
          (col(s"s$i").cast("double") / (col("n") * 1000000.0)).as(s"c$i")): _*)
      val term = (i: Int) =>
        (element_at(col("embedding"), i).cast("double") - col(s"c$i")) *
          (element_at(col("embedding"), i).cast("double") - col(s"c$i"))
      Tables.embeddings(s, d)
        .join(broadcast(cent), "label")
        .withColumn("d2", (1 to Dim).map(term).reduce(_ + _))
        .orderBy(col("d2").desc, col("vec_id"))
        .limit(100)
        .select("vec_id", "label", "d2")
    },

    // SemDeDup-style semantic dedup (Abbas et al. 2023): sign-LSH
    // buckets contract the candidate space, integer fixed-point dots
    // decide duplicates, and the member FARTHEST from its bucket
    // centroid survives each duplicate pair (diversity-preserving
    // representative). Hash-exact oracle: every similarity downstream
    // of the kernel is BIGINT arithmetic — see ann/SemDedup.
    "dedup_semantic" -> { (s, d) =>
      SemDedup.dedupSemantic(Tables.embeddings(s, d), Dim, SemBits, SemTauFp)
        .orderBy("id")
    },

    // The PRODUCTION parameterization of the same operator: bucket
    // bits auto-tune to ~log2(n/32) so per-bucket pair counts stay
    // bounded as the corpus grows (the 100-TB shape; fixed bits
    // measured 10.5x wall at 10x data, auto ~linear). Rows-only here —
    // runtime-count-dependent sign tables aren't SQL-mirrorable — with
    // a full verdict-level reference invariant in Verify standing in
    // for the oracle, like the ANN recall floors.
    "dedup_semantic_auto" -> { (s, d) =>
      // n via the driver-cached count: one scan per session for the
      // parameter, not one per invocation (the dedup itself is the
      // query's only per-run scan)
      val n = Tables.cachedCount(s, d, "embeddings")
      SemDedup.dedupSemantic(Tables.embeddings(s, d), Dim, SemDedup.autoBits(n), SemTauFp)
        .orderBy("id")
    },

    // The ADMISSION-ORDER form of semantic dedup — the rule an
    // online/incremental pipeline actually runs (first arrival keeps;
    // a newcomer within tau of any already-kept representative drops;
    // you can't un-admit a kept doc when a more central duplicate
    // arrives later). Per-bucket greedy fold, buckets bounded by the
    // bits policy so the folds parallelize across 2^bits groups.
    // Rows-only; Verify's invariant RECHECKS the greedy rule verdict
    // by verdict from the fixed-point vectors, and the streaming arm
    // (StreamingSemDedup) is pinned equal under chopping/restart.
    "dedup_semantic_seq" -> { (s, d) =>
      SemDedup.dedupSemanticSequential(Tables.embeddings(s, d), Dim, SemBits, SemTauFp)
        .orderBy("id")
    },

    // Multimodal: spec-compliant synthetic PNG/JPEG/GIF binaries
    // (real header bytes, doc_id-derived dimensions) decoded by the
    // real header parsers in a partition-batched pass. The oracle
    // derives the same numbers arithmetically from doc_id, so a wrong
    // byte-order / segment-walk / channel mapping breaks the hash.
    "mm_decode_meta" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val withBin = Multimodal.attachSynthMedia(docs, "doc_id", "text", "bin")
      Multimodal.decodeMeta(withBin, "bin", "doc_id").orderBy("doc_id")
    },

    // Perceptual-hash image dedup — CONTENT-level multimodal work, not
    // header metadata: a real BMP pixel walk (no codec libs) → 9×8
    // block-mean downsample → 64-bit dHash, then near-dup pairs by the
    // banded-LSH discipline (MmPhashBands=8 bands × MmPhashBandBits=8
    // bits; the wide tier below runs 4×16: one shuffle on the
    // band key, candidates verified with the existing CodeHamming
    // kernel — never an all-pairs cross join). The fixture plants
    // shifted/brightened near-duplicates and unrelated images per
    // 4-doc group; the oracle recomputes every block mean, dHash bit,
    // band key and Hamming distance arithmetically from doc_id, so a
    // wrong stride / bottom-up flip / bit order breaks the hash.
    "mm_phash_dedup" -> { (s, d) =>
      val ids = Tables.documents(s, d).select("doc_id")
      // hashed is (doc_id, phash) — materialize so the BMP synth +
      // pixel walk runs ONCE, not once per self-join side (the r19
      // plan held two full MapPartitions image chains)
      val hashed = Multimodal.bmpDHash(
        Multimodal.attachSynthBmp(ids, "doc_id", "bin"), "bin", "doc_id")
        .transform(graft.sources.Tables.materialize)
      val banded = hashed.select(col("doc_id"), col("phash"),
          explode(array((0 until MmPhashBands).map(b =>
            struct(lit(b).as("band"),
              shiftrightunsigned(col("phash"), MmPhashBandBits * b)
                .bitwiseAND(lit((1L << MmPhashBandBits) - 1)).as("bkey"))): _*)).as("bb"))
        .select(col("doc_id"), col("phash"),
          col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.phash").as("ha"), col("b.phash").as("hb"))
        .distinct()
        .withColumn("hamming", graft.functions.VectorExpressions.codeHamming(
          array(col("ha")), array(col("hb"))).cast("long"))
        .filter(col("hamming") <= MmPhashHammingT)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    },

    "mm_frame_sample" -> { (s, d) =>
      val withBin = Tables.documents(s, d).filter(col("doc_id") < 500)
        .withColumn("bin", encode(col("text"), "UTF-8"))
      Multimodal.sampleFrames(withBin, "bin", "doc_id", 3).orderBy("doc_id", "frame_idx")
    },

    // WIDE perceptual-hash dedup — the corpus-scale tier: 128-bit
    // codes (dHash ‖ aHash over the same block means) let the LSH
    // bands widen to 16 bits, cutting candidate volume 256× (the
    // 64-bit tier's honest n²/2^8 growth term); Hamming is the SAME
    // multi-long CodeHamming word loop the binary-ANN wide tier uses.
    "mm_phash_dedup_wide" -> { (s, d) =>
      val ids = Tables.documents(s, d).select("doc_id")
      // (doc_id, ph1, ph2) materialized: one image chain, two readers
      val hashed = Multimodal.bmpDHash128(
        Multimodal.attachSynthBmp(ids, "doc_id", "bin"), "bin", "doc_id")
        .transform(graft.sources.Tables.materialize)
      def banded(idAs: String, p1: String, p2: String) =
        hashed.select(col("doc_id").as(idAs), col("ph1").as(p1), col("ph2").as(p2),
            explode(array((0 until 8).map(b =>
              struct(lit(b).as("band"),
                shiftrightunsigned(if (b < 4) col("ph1") else col("ph2"),
                  16 * (b % 4)).bitwiseAND(lit(65535L)).as("bkey"))): _*)).as("bb"))
          .select(col(idAs), col(p1), col(p2),
            col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      banded("doc_a", "a1", "a2").join(banded("doc_b", "b1", "b2"),
          Seq("band", "bkey"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "a1", "a2", "b1", "b2").distinct()
        .withColumn("hamming", graft.functions.VectorExpressions.codeHamming(
          array(col("a1"), col("a2")), array(col("b1"), col("b2"))).cast("long"))
        .filter(col("hamming") <= MmPhashWideHammingT)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    },

    // AUTO-BANDED perceptual-hash dedup — the PRODUCTION
    // parameterization of the family: band width auto-tunes to
    // ~log2(n/24) (phashAutoBits, the dedup_semantic_auto precedent),
    // so per-key candidate volume stays bounded as the corpus grows
    // WITHOUT the wide tier's hand-chosen constants. Bands are
    // floor(128/bits) disjoint bits-wide slices of the same
    // dHash‖aHash code (at bits=16 this IS the wide tier's banding);
    // candidates verify with the same multi-long CodeHamming at the
    // wide threshold. Rows-only by design — runtime-count-dependent
    // band offsets aren't SQL-mirrorable — with a pair-recall
    // invariant vs the PINNED wide tier in Verify standing in for
    // the oracle, like the ANN recall floors.
    "mm_phash_dedup_auto" -> { (s, d) =>
      val ids = Tables.documents(s, d).select("doc_id")
      val bits = phashAutoBits(Tables.cachedCount(s, d, "documents"))
      val bands = 128 / bits
      // (doc_id, ph1, ph2) materialized: one image chain, two readers
      val hashed = Multimodal.bmpDHash128(
        Multimodal.attachSynthBmp(ids, "doc_id", "bin"), "bin", "doc_id")
        .transform(graft.sources.Tables.materialize)
      def banded(idAs: String, p1: String, p2: String) =
        hashed.select(col("doc_id").as(idAs), col("ph1").as(p1), col("ph2").as(p2),
            explode(array((0 until bands).map(b =>
              struct(lit(b).as("band"),
                phashSlice128(col("ph1"), col("ph2"), b * bits, bits)
                  .as("bkey"))): _*)).as("bb"))
          .select(col(idAs), col(p1), col(p2),
            col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      banded("doc_a", "a1", "a2").join(banded("doc_b", "b1", "b2"),
          Seq("band", "bkey"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "a1", "a2", "b1", "b2").distinct()
        .withColumn("hamming", graft.functions.VectorExpressions.codeHamming(
          array(col("a1"), col("a2")), array(col("b1"), col("b2"))).cast("long"))
        .filter(col("hamming") <= MmPhashWideHammingT)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    },

    // Incremental perceptual-hash dedup — the image arm of the
    // incremental-index discipline (dedup_incremental /
    // dedup_incremental_minhash): the 30% of docs with doc_id%10<3
    // play the incoming crawl batch, the rest the admitted corpus
    // whose (doc_id, phash) code index is persisted in production
    // (MultimodalSpec pins the parquet round trip; the oracle needs
    // it in-query). Candidates come from the SAME 8×8 banded keys —
    // the corpus side joins against a BROADCAST of the batch's band
    // keys, so at 100 TB the admitted-code index is scan-only, never
    // shuffled — and each batch doc admits as 'dup' of its best
    // (lowest Hamming, then lowest id) corpus match within the
    // threshold, else 'fresh'.
    "mm_phash_incremental" -> { (s, d) =>
      val ids = Tables.documents(s, d).select("doc_id")
      // materialized: the probe references the hash table THREE times
      // (index bands, batch bands, batch id list) — one image chain
      val hashed = Multimodal.bmpDHash(
        Multimodal.attachSynthBmp(ids, "doc_id", "bin"), "bin", "doc_id")
        .transform(graft.sources.Tables.materialize)
      phashProbeIndex(hashed.filter(col("doc_id") % 10 >= 3),
        hashed.filter(col("doc_id") % 10 < 3))
    },

    // Multimodal audio: spec-compliant synthetic WAV/RIFF binaries
    // (channels/rate by doc_id arithmetic, every third with a LIST
    // chunk before fmt so the decoder must walk chunks) decoded by the
    // real RIFF parser; the oracle recomputes every field — including
    // the integer-division duration — arithmetically from doc_id.
    "mm_audio_meta" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val withBin = Multimodal.attachSynthAudio(docs, "doc_id", "text", "bin")
      Multimodal.decodeAudioMeta(withBin, "bin", "doc_id").orderBy("doc_id")
    },

    // Multimodal compressed audio: spec-compliant synthetic MP3
    // binaries (every third with an ID3v2 tag whose syncsafe size the
    // decoder must genuinely decode; bitrate/rate/mode by doc_id
    // arithmetic) parsed by the real frame-header walker; the oracle
    // recomputes every field — bitrate/rate table lookups and the
    // integer-division CBR duration — arithmetically from doc_id.
    "mm_mp3_meta" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val withBin = Multimodal.attachSynthMp3(docs, "doc_id", "text", "bin")
      Multimodal.decodeMp3Meta(withBin, "bin", "doc_id").orderBy("doc_id")
    },

    // Multimodal video: spec-compliant synthetic MP4 (ISO-BMFF)
    // binaries — ftyp + every-third `free` box + moov/mvhd + mdat —
    // decoded by the real box-walking parser; the oracle recomputes
    // box counts, byte lengths, and the integer-division duration
    // arithmetically from doc_id.
    "mm_video_meta" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val withBin = Multimodal.attachSynthVideo(docs, "doc_id", "text", "bin")
      Multimodal.decodeVideoMeta(withBin, "bin", "doc_id").orderBy("doc_id")
    },

    // Multimodal WebP: spec-compliant synthetic RIFF/WEBP binaries
    // covering all three image-chunk variants (lossy `VP8 ` with the
    // 9D 01 2A sync, lossless `VP8L` with the packed 14-bit bitstream
    // AND an odd payload exercising the RIFF pad byte, extended
    // `VP8X` + image chunk) decoded by the real chunk walker; the
    // oracle recomputes dims/alpha/layout arithmetically from doc_id.
    "mm_webp_meta" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val withBin = Multimodal.attachSynthWebp(docs, "doc_id", "bin")
      Multimodal.decodeWebpMeta(withBin, "bin", "doc_id").orderBy("doc_id")
    },

    // Multimodal lossless audio: spec-compliant synthetic FLAC
    // binaries (STREAMINFO with the genuinely bit-packed 20/3/5/36-bit
    // parameter field, every third doc chaining a VORBIS_COMMENT block
    // so the last-block flag carries signal) decoded by the real
    // metadata-block walker; the oracle recomputes rate/channels/
    // total-samples and the integer-division duration arithmetically
    // from doc_id.
    // Multimodal compressed-speech container: spec-compliant Ogg/Opus
    // binaries (real page walk with lacing tables, OpusHead in the BOS
    // page, 48 kHz granule arithmetic per RFC 7845) decoded by the
    // little-endian page walker; the oracle recomputes every field —
    // including the 255-run lacing overhead — from doc_id and the
    // payload length.
    "mm_ogg_meta" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val withBin = Multimodal.attachSynthOgg(docs, "doc_id", "text", "bin")
      Multimodal.decodeOggMeta(withBin, "bin", "doc_id").orderBy("doc_id")
    },

    "mm_flac_meta" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val withBin = Multimodal.attachSynthFlac(docs, "doc_id", "text", "bin")
      Multimodal.decodeFlacMeta(withBin, "bin", "doc_id").orderBy("doc_id")
    },

    // Multimodal Matroska/WebM: a real EBML walk (VINT ids/sizes,
    // unknown-size resolution, skip-by-size forward compatibility)
    // over spec-compliant fixtures — video dims, audio
    // channels/rate, cluster count, TimestampScale×Duration ms; the
    // oracle recomputes every field including the per-element framing
    // overhead from doc_id and the payload length.
    "mm_mkv_meta" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val withBin = Multimodal.attachSynthMkv(docs, "doc_id", "text", "bin")
      Multimodal.decodeMkvMeta(withBin, "bin", "doc_id").orderBy("doc_id")
    },

    // Multimodal TIFF: synthetic IFD chains whose byte order alternates
    // per doc (`II`/`MM` — the one per-file-endianness container), with
    // inline LONG dims + SHORT bits entries and an every-fourth-doc
    // second page; the oracle recomputes dims/bits/pages/byte-length
    // arithmetically from doc_id.
    "mm_tiff_meta" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val withBin = Multimodal.attachSynthTiff(docs, "doc_id", "text", "bin")
      Multimodal.decodeTiffMeta(withBin, "bin", "doc_id").orderBy("doc_id")
    }
  )

  // dot(a,b) as an explicit left-associated 64-term sum — identical
  // floating-point sequence to Similarity.dot's fold.
  private def dotSql(a: String, b: String): String =
    (1 to Dim).map(i => s"CAST($a[$i] AS DOUBLE)*CAST($b[$i] AS DOUBLE)").mkString(" + ")

  val oracleSql: Map[String, String] = Map(
    "emb_quantize_int8" -> {
      val maxAbsSql = (1 to Dim).map(i => s"abs(CAST(embedding[$i] AS DOUBLE))").mkString("greatest(", ", ", ")")
      s"""SELECT vec_id, i - 1 AS pos,
         |  CAST(floor(CAST(embedding[i] AS DOUBLE) * scale + 0.5) AS INT) AS q,
         |  scale
         |FROM (
         |  SELECT vec_id, embedding,
         |    CASE WHEN m > 0 THEN 127.0 / m ELSE 0.0 END AS scale
         |  FROM (SELECT vec_id, embedding, $maxAbsSql AS m FROM embeddings)),
         |  unnest(range(1, ${Dim + 1})) AS t(i)
         |ORDER BY vec_id, pos""".stripMargin
    },

    "emb_centroid" ->
      s"""SELECT label, i - 1 AS pos, COUNT(*) AS n,
         |  CAST(SUM(v_fp) AS DOUBLE) / (COUNT(*) * 1000000.0) AS centroid
         |FROM (
         |  SELECT label, i,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v_fp
         |  FROM embeddings, unnest(range(1, ${Dim + 1})) AS t(i))
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "emb_outliers" -> {
      val sums = (1 to Dim).map(i =>
        s"SUM(CAST(floor(CAST(embedding[$i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS s$i").mkString(",\n  ")
      val cs = (1 to Dim).map(i =>
        s"CAST(s$i AS DOUBLE) / (n * 1000000.0) AS c$i").mkString(",\n  ")
      val d2 = (1 to Dim).map(i =>
        s"(CAST(embedding[$i] AS DOUBLE) - c$i) * (CAST(embedding[$i] AS DOUBLE) - c$i)")
        .mkString(" + ")
      s"""WITH sums AS (
         |  SELECT label, COUNT(*) AS n,
         |  $sums
         |  FROM embeddings GROUP BY label),
         |cent AS (SELECT label,
         |  $cs
         |  FROM sums)
         |SELECT vec_id, label, ($d2) AS d2
         |FROM embeddings JOIN cent USING (label)
         |ORDER BY d2 DESC, vec_id LIMIT 100""".stripMargin
    },

    "dedup_embedding_cosine" ->
      s"""WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300)
         |SELECT x.vec_id AS a, y.vec_id AS b,
         |  (${dotSql("x.embedding", "y.embedding")}) /
         |    (sqrt(${dotSql("x.embedding", "x.embedding")}) * sqrt(${dotSql("y.embedding", "y.embedding")})) AS cos
         |FROM base x JOIN base y ON x.vec_id < y.vec_id
         |WHERE (${dotSql("x.embedding", "y.embedding")}) /
         |    (sqrt(${dotSql("x.embedding", "x.embedding")}) * sqrt(${dotSql("y.embedding", "y.embedding")})) >= 0.3
         |ORDER BY a, b""".stripMargin,

    "emb_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < $NQueries),
         |v AS (SELECT vec_id AS nid, embedding AS nvec FROM embeddings),
         |scored AS (
         |  SELECT qid, nid,
         |    (${dotSql("qvec", "nvec")}) /
         |      (sqrt(${dotSql("qvec", "qvec")}) * sqrt(${dotSql("nvec", "nvec")})) AS cos
         |  FROM q, v WHERE qid <> nid)
         |SELECT qid, rnk, nid, cos FROM (
         |  SELECT qid, nid, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
         |  FROM scored)
         |WHERE rnk <= $TopK ORDER BY qid, rnk""".stripMargin,

    // Hybrid RRF: the bm25 oracle rides in as a nested-CTE subquery;
    // the vector arm mirrors emb_cosine_topk's termwise cosine; ranks
    // cast to INT to match Spark's row_number type.
    "retrieval_hybrid_rrf" ->
      s"""WITH lex AS (${graft.operators.TextQueries.oracleSql("text_bm25_topk")}),
         |lexr AS (
         |  SELECT doc_id,
         |    CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS r_lex
         |  FROM lex),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |scored AS (
         |  SELECT vec_id AS doc_id,
         |    (${dotSql("qvec", "nvec")}) /
         |      (sqrt(${dotSql("qvec", "qvec")}) * sqrt(${dotSql("nvec", "nvec")})) AS cos
         |  FROM (SELECT vec_id, embedding AS nvec FROM embeddings), q
         |  WHERE vec_id <> 0),
         |vecr AS (
         |  SELECT doc_id, r_vec FROM (
         |    SELECT doc_id,
         |      CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INT) AS r_vec
         |    FROM scored)
         |  WHERE r_vec <= 50)
         |SELECT doc_id, r_lex, r_vec,
         |  COALESCE(1.0 / (60 + r_lex), 0.0) + COALESCE(1.0 / (60 + r_vec), 0.0) AS rrf
         |FROM lexr FULL OUTER JOIN vecr USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,

    "emb_drift" ->
      """WITH ex AS (
        |  SELECT label, vec_id % 10 < 3 AS is_batch,
        |    unnest(range(0, 64)) AS dim,
        |    unnest(list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))) AS fp
        |  FROM embeddings),
        |pd AS (
        |  SELECT label, dim,
        |    CAST(SUM(CASE WHEN is_batch THEN fp ELSE 0 END) AS BIGINT) AS sum_b,
        |    CAST(SUM(CASE WHEN is_batch THEN 0 ELSE fp END) AS BIGINT) AS sum_c,
        |    CAST(SUM(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN is_batch THEN 0 ELSE 1 END) AS BIGINT) AS n_c
        |  FROM ex GROUP BY label, dim),
        |md AS (
        |  SELECT label, n_b, n_c,
        |    CAST(floor(CAST(sum_b * n_c - sum_c * n_b AS DOUBLE) /
        |      CAST(n_b * n_c AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS md_fp
        |  FROM pd)
        |SELECT label, MAX(n_b) AS n_batch, MAX(n_c) AS n_corpus,
        |  CAST(SUM(md_fp * md_fp) AS BIGINT) AS l2sq_fp
        |FROM md GROUP BY label ORDER BY label""".stripMargin,

    "emb_ann_filtered" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < $NQueries),
         |v AS (SELECT vec_id AS nid, embedding AS nvec FROM embeddings WHERE label IN (1, 5, 9)),
         |scored AS (
         |  SELECT qid, nid,
         |    (${dotSql("qvec", "nvec")}) /
         |      (sqrt(${dotSql("qvec", "qvec")}) * sqrt(${dotSql("nvec", "nvec")})) AS cos
         |  FROM q, v WHERE qid <> nid)
         |SELECT qid, rnk, nid, cos FROM (
         |  SELECT qid, nid, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
         |  FROM scored)
         |WHERE rnk <= $TopK ORDER BY qid, rnk""".stripMargin,

    "emb_ann_mips" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < $NQueries),
         |v AS (SELECT vec_id AS nid, embedding AS nvec FROM embeddings),
         |scored AS (
         |  SELECT qid, nid, (${dotSql("qvec", "nvec")}) AS ip
         |  FROM q, v WHERE qid <> nid)
         |SELECT qid, rnk, nid, ip FROM (
         |  SELECT qid, nid, ip,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ip DESC, nid) AS rnk
         |  FROM scored)
         |WHERE rnk <= $TopK ORDER BY qid, rnk""".stripMargin,

    // Mirrors SemDedupKey + SemDedup.dedupSemantic termwise: the norm
    // is the same left-associated float-square sum, u_i the same
    // floor(v/|v|*1e6+0.5), the bucket bits the same ±1 sign sums
    // (signs emitted here from SemDedupKey.sign, so the hyperplanes
    // are literally identical), and every downstream comparison is
    // BIGINT — no float threshold can flip between engines.
    "dedup_semantic" -> {
      val sumsq = (1 to Dim).map(i =>
        s"CAST(embedding[$i] AS DOUBLE)*CAST(embedding[$i] AS DOUBLE)").mkString(" + ")
      val uDefs = (1 to Dim).map(i =>
        s"CASE WHEN nr = 0 THEN CAST(0 AS BIGINT) ELSE CAST(floor(CAST(embedding[$i] AS DOUBLE) / nr * 1000000.0 + 0.5) AS BIGINT) END AS u$i")
        .mkString(",\n  ")
      val bucket = (0 until SemBits).map { j =>
        val terms = (1 to Dim).map { i =>
          if (SemDedupKey.sign(j, i - 1, Dim) > 0) s"+ u$i" else s"- u$i"
        }.mkString(" ")
        s"CASE WHEN (0 $terms) >= 0 THEN ${1 << j} ELSE 0 END"
      }.mkString("\n    + ")
      val centSums = (1 to Dim).map(i => s"CAST(SUM(u$i) AS BIGINT) AS c$i").mkString(", ")
      val cscore = (1 to Dim).map(i => s"u$i*c$i").mkString(" + ")
      val pairDot = (1 to Dim).map(i => s"x.u$i*y.u$i").mkString(" + ")
      s"""WITH nrm AS (
         |  SELECT vec_id, embedding, sqrt($sumsq) AS nr FROM embeddings),
         |u AS (
         |  SELECT vec_id,
         |  $uDefs
         |  FROM nrm),
         |b AS (
         |  SELECT *, CAST($bucket AS INT) AS bucket FROM u),
         |cent AS (
         |  SELECT bucket, $centSums FROM b GROUP BY bucket),
         |scored AS (
         |  SELECT b.vec_id AS id, b.bucket, CAST($cscore AS BIGINT) AS cscore,
         |    ${(1 to Dim).map(i => s"b.u$i").mkString(", ")}
         |  FROM b JOIN cent USING (bucket)),
         |dropped AS (
         |  SELECT DISTINCT x.id AS id
         |  FROM scored x JOIN scored y
         |    ON x.bucket = y.bucket AND x.id <> y.id
         |  WHERE ($pairDot) >= $SemTauFp
         |    AND (y.cscore < x.cscore OR (y.cscore = x.cscore AND y.id < x.id)))
         |SELECT s.id, s.bucket, s.cscore, (d.id IS NULL) AS kept
         |FROM scored s LEFT JOIN dropped d ON s.id = d.id
         |ORDER BY s.id""".stripMargin
    },

    // Mirrors Multimodal.synthHeaderBytes arithmetically: header sizes
    // are the fixed container layouts (PNG 33 = sig 8 + IHDR chunk 25;
    // JPEG 42+3*ncomp = SOI 2 + APP0 18 + COM 12 + SOF 10+3n; GIF
    // 782 + 25/frame + trailer = sig+LSD 13 + GCT 768 + frame blocks
    // + 0x3B), so a parser that misreads any field — or miscounts the
    // GIF block walk — diverges from this independent computation.
    "mm_decode_meta" ->
      """SELECT doc_id,
        |  CAST(CASE doc_id % 3
        |    WHEN 0 THEN 33
        |    WHEN 1 THEN 42 + 3 * (CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END)
        |    ELSE 782 + 25 * (1 + doc_id % 4) END
        |    + octet_length(CAST(text AS BLOB)) AS BIGINT) AS bin_len,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
        |  CAST(16 + doc_id % 317 AS INT) AS width,
        |  CAST(16 + (doc_id * 7) % 211 AS INT) AS height,
        |  CAST(CASE doc_id % 3
        |    WHEN 0 THEN CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END
        |    WHEN 1 THEN CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END
        |    ELSE 3 END AS INT) AS channels,
        |  CAST(CASE doc_id % 3 WHEN 2 THEN 1 + doc_id % 4 ELSE 1 END AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_frame_sample" ->
      """SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |  md5(substring(text, i*16 + 1, 16)) AS frame_md5
        |FROM documents, unnest([0, 1, 2]) AS t(i)
        |WHERE doc_id < 500 AND i*16 < octet_length(CAST(text AS BLOB))
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // Mirrors Multimodal.bmpCtrl/bmpGray/bmpVariant/bmpDHash
    // arithmetically: md5 control grid, exact bilinear pixels (/72),
    // 4x4 block means (/16), dHash bit (by*8+bx) =
    // [mean(bx+1,by) > mean(bx,by)], 8-bit band keys, Hamming via
    // per-band xor bit_count — an independent recomputation of the
    // whole pixel pipeline from doc_id.
    "mm_phash_dedup" ->
      s"""WITH $phashBandsCte,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |ham AS (
         |  SELECT c.doc_a, c.doc_b,
         |    CAST(SUM(bit_count(xor(x.bkey, y.bkey))) AS BIGINT) AS hamming
         |  FROM cand c
         |  JOIN bands x ON x.doc_id = c.doc_a
         |  JOIN bands y ON y.doc_id = c.doc_b AND y.band = x.band
         |  GROUP BY c.doc_a, c.doc_b)
         |SELECT doc_a, doc_b, hamming FROM ham
         |WHERE hamming <= ${MmPhashHammingT}
         |ORDER BY doc_a, doc_b""".stripMargin,

    "mm_phash_dedup_wide" ->
      s"""WITH $phashBandsCte,
         |gmean AS (
         |  SELECT doc_id, SUM(m.m) // 72 AS mean FROM m GROUP BY doc_id),
         |abits AS (
         |  SELECT m.doc_id, m.by * 8 + m.bx AS i,
         |    CASE WHEN m.m > g.mean THEN 1 ELSE 0 END AS bit
         |  FROM m JOIN gmean g ON g.doc_id = m.doc_id
         |  WHERE m.bx < 8),
         |wbands AS (
         |  SELECT doc_id, i // 16 AS band,
         |    CAST(SUM(bit * (1 << (i % 16))) AS BIGINT) AS bkey
         |  FROM bits GROUP BY doc_id, i // 16
         |  UNION ALL
         |  SELECT doc_id, 4 + i // 16 AS band,
         |    CAST(SUM(bit * (1 << (i % 16))) AS BIGINT) AS bkey
         |  FROM abits GROUP BY doc_id, i // 16),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM wbands a JOIN wbands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |ham AS (
         |  SELECT c.doc_a, c.doc_b,
         |    CAST(SUM(bit_count(xor(x.bkey, y.bkey))) AS BIGINT) AS hamming
         |  FROM cand c
         |  JOIN wbands x ON x.doc_id = c.doc_a
         |  JOIN wbands y ON y.doc_id = c.doc_b AND y.band = x.band
         |  GROUP BY c.doc_a, c.doc_b)
         |SELECT doc_a, doc_b, hamming FROM ham
         |WHERE hamming <= ${MmPhashWideHammingT}
         |ORDER BY doc_a, doc_b""".stripMargin,

    "mm_phash_incremental" ->
      s"""WITH $phashBandsCte,
         |cand AS (
         |  SELECT DISTINCT b.doc_id AS bdoc, c.doc_id AS cdoc
         |  FROM bands b JOIN bands c
         |    ON b.band = c.band AND b.bkey = c.bkey
         |  WHERE b.doc_id % 10 < 3 AND c.doc_id % 10 >= 3),
         |ham AS (
         |  SELECT p.bdoc, p.cdoc,
         |    CAST(SUM(bit_count(xor(x.bkey, y.bkey))) AS BIGINT) AS hamming
         |  FROM cand p
         |  JOIN bands x ON x.doc_id = p.bdoc
         |  JOIN bands y ON y.doc_id = p.cdoc AND y.band = x.band
         |  GROUP BY p.bdoc, p.cdoc),
         |best AS (
         |  SELECT bdoc, cdoc, hamming,
         |    ROW_NUMBER() OVER (PARTITION BY bdoc ORDER BY hamming, cdoc) AS rn
         |  FROM ham WHERE hamming <= ${MmPhashHammingT})
         |SELECT d.doc_id,
         |  CASE WHEN s.cdoc IS NULL THEN 'fresh' ELSE 'dup' END AS status,
         |  s.cdoc AS dup_of, s.hamming
         |FROM documents d
         |LEFT JOIN (SELECT * FROM best WHERE rn = 1) s ON s.bdoc = d.doc_id
         |WHERE d.doc_id % 10 < 3
         |ORDER BY d.doc_id""".stripMargin,

    // WAV layout: RIFF(8) + WAVE(4) + optional LIST(20) + fmt(24) +
    // data header(8) + payload = 44 (+20) + payload bytes; duration is
    // the data length over the byte rate in integer milliseconds.
    "mm_audio_meta" ->
      """SELECT doc_id,
        |  CAST(44 + CASE WHEN doc_id % 3 = 0 THEN 20 ELSE 0 END
        |    + octet_length(CAST(text AS BLOB)) AS BIGINT) AS bin_len,
        |  'wav' AS format,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(8000 * (1 + doc_id % 5) AS INT) AS sample_rate,
        |  CAST(16 AS INT) AS bits,
        |  CAST(octet_length(CAST(text AS BLOB)) * 1000
        |    // (8000 * (1 + doc_id % 5) * (1 + doc_id % 2) * 2) AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,

    // MP3 layout: optional ID3v2 (10 + syncsafe size, every third doc,
    // size 130 + doc_id % 700) + 4-byte frame header + payload, and
    // every doc_id%5=2 doc carries a Xing VBR block (side info 17
    // mono / 32 stereo + 12 tag bytes) whose u32be frame count sets
    // duration = frames × 1152 × 1000 // rate; the rest are CBR:
    // audio bytes × 8 // kbps (kbps = bits per ms). Table lookups
    // mirror the MPEG-1 Layer III header indices.
    "mm_mp3_meta" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 10 + 130 + doc_id % 700 ELSE 0 END
        |    + 4
        |    + CASE WHEN doc_id % 5 = 2
        |        THEN CASE WHEN doc_id % 2 = 1 THEN 29 ELSE 44 END ELSE 0 END
        |    + octet_length(CAST(text AS BLOB)) AS BIGINT) AS bin_len,
        |  'mp3' AS format,
        |  CAST(3 AS INT) AS layer,
        |  CAST(list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
        |    CAST(1 + doc_id % 14 AS INT)) AS INT) AS bitrate_kbps,
        |  CAST(list_extract([44100,48000,32000], CAST(1 + doc_id % 3 AS INT)) AS INT)
        |    AS sample_rate,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS INT) AS channels,
        |  CAST(CASE WHEN doc_id % 5 = 2
        |    THEN (100 + doc_id % 977) * 1152 * 1000
        |      // list_extract([44100,48000,32000], CAST(1 + doc_id % 3 AS INT))
        |    ELSE (4 + CASE WHEN doc_id % 5 = 2
        |        THEN CASE WHEN doc_id % 2 = 1 THEN 29 ELSE 44 END ELSE 0 END
        |      + octet_length(CAST(text AS BLOB))) * 8
        |      // list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
        |           CAST(1 + doc_id % 14 AS INT)) END AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,

    // MP4 layout: ftyp(16) + optional free(16) + moov(8 + mvhd 108 v0
    // / 120 v1 — odd doc ids carry a version-1 header whose u64
    // duration starts past u32: ticks = 2^32·(doc_id%2) +
    // (doc_id%9999)*7 + 1000), timescale = 1000·(1 + doc_id%3),
    // duration in integer ms.
    "mm_video_meta" ->
      """SELECT doc_id,
        |  CAST(16 + CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 0 END
        |    + CASE WHEN doc_id % 2 = 1 THEN 128 ELSE 116 END + 8
        |    + octet_length(CAST(text AS BLOB)) AS BIGINT) AS bin_len,
        |  'mp4' AS format,
        |  CAST(1000 * (1 + doc_id % 3) AS INT) AS timescale,
        |  CAST(4294967296 * (doc_id % 2) + (doc_id % 9999) * 7 + 1000 AS BIGINT)
        |    AS duration_ticks,
        |  CAST((4294967296 * (doc_id % 2) + (doc_id % 9999) * 7 + 1000) * 1000
        |    // (1000 * (1 + doc_id % 3)) AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 3 END AS INT) AS n_boxes
        |FROM documents ORDER BY doc_id""".stripMargin,

    // WebP layout: RIFF(12) + per-variant chunks — lossy 8+10,
    // lossless 8+5+1 pad, extended (8+10) + (8+10); dims/alpha by
    // doc_id arithmetic (lossy carries no alpha hint).
    "mm_webp_meta" ->
      """SELECT doc_id,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 30 WHEN 1 THEN 26 ELSE 48 END AS BIGINT) AS bin_len,
        |  CASE doc_id % 3 WHEN 0 THEN 'webp-lossy' WHEN 1 THEN 'webp-lossless'
        |    ELSE 'webp-extended' END AS format,
        |  CAST(16 + doc_id % 1000 AS INT) AS width,
        |  CAST(16 + (doc_id * 3) % 800 AS INT) AS height,
        |  (doc_id % 3 <> 0 AND doc_id % 2 = 1) AS has_alpha,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 1 END AS INT) AS n_chunks
        |FROM documents ORDER BY doc_id""".stripMargin,

    // FLAC layout: "fLaC"(4) + STREAMINFO(4+34) + every-third
    // VORBIS_COMMENT(4 + 16 + doc_id%40) + payload; duration =
    // total_samples × 1000 // rate (rate from the 7-entry table).
    // Ogg/Opus layout: BOS page 47 (27 header + 1 lacing + 19
    // OpusHead) + every-third-doc OpusTags page 44 + EOS data page
    // 27 + ⌊len/255⌋+1 lacing + len; duration from the 48 kHz granule
    // minus pre-skip.
    "mm_ogg_meta" ->
      """SELECT doc_id,
        |  CAST(47 + CASE WHEN doc_id % 3 = 0 THEN 44 ELSE 0 END
        |    + 27 + (octet_length(CAST(text AS BLOB)) // 255 + 1)
        |    + octet_length(CAST(text AS BLOB)) AS BIGINT) AS bin_len,
        |  'opus' AS format,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(doc_id % 312 AS INT) AS pre_skip,
        |  CAST(list_extract([8000,12000,16000,24000,48000],
        |    CAST(1 + doc_id % 5 AS INT)) AS INT) AS input_rate,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS INT) AS n_pages,
        |  CAST(((doc_id % 100000) * 48 + 960) * 1000 // 48000 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_flac_meta" ->
      """SELECT doc_id,
        |  CAST(42 + CASE WHEN doc_id % 3 = 0 THEN 4 + 16 + doc_id % 40 ELSE 0 END
        |    + octet_length(CAST(text AS BLOB)) AS BIGINT) AS bin_len,
        |  'flac' AS format,
        |  CAST(list_extract([8000,16000,22050,24000,32000,44100,48000],
        |    CAST(1 + doc_id % 7 AS INT)) AS INT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(16 AS INT) AS bits,
        |  CAST((doc_id % 100000) * 441 + 1000 AS BIGINT) AS total_samples,
        |  CAST(((doc_id % 100000) * 441 + 1000) * 1000
        |    // list_extract([8000,16000,22050,24000,32000,44100,48000],
        |         CAST(1 + doc_id % 7 AS INT)) AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT) AS n_blocks
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Matroska/WebM layout: EBML header 8+doctype + Segment header 8
    // + Info 24 + Tracks header 5 + video TrackEntry 15 + audio
    // TrackEntry 20 on even docs + 20-byte cluster framing per
    // cluster (two clusters every fourth doc) + the payload.
    "mm_mkv_meta" ->
      """SELECT doc_id,
        |  CAST(8 + CASE WHEN doc_id % 5 = 0 THEN 8 ELSE 4 END + 8 + 24 + 5 + 15
        |    + CASE WHEN doc_id % 2 = 0 THEN 20 ELSE 0 END
        |    + CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END * 20
        |    + octet_length(CAST(text AS BLOB)) AS BIGINT) AS bin_len,
        |  CASE WHEN doc_id % 5 = 0 THEN 'matroska' ELSE 'webm' END AS format,
        |  CAST(160 + doc_id % 640 AS INT) AS width,
        |  CAST(120 + doc_id % 480 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 0 END AS INT) AS channels,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN list_extract([8000,16000,44100,48000],
        |    CAST(1 + doc_id % 4 AS INT)) ELSE 0 END AS INT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS INT) AS n_clusters,
        |  CAST(doc_id % 3600000 + 500 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,

    // TIFF layout: header(8) + 42-byte IFD per page (3 entries + next
    // pointer), two pages every fourth doc, then the payload.
    "mm_tiff_meta" ->
      """SELECT doc_id,
        |  CAST(8 + 42 * CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END
        |    + octet_length(CAST(text AS BLOB)) AS BIGINT) AS bin_len,
        |  'tiff' AS format,
        |  CAST(1 + doc_id % 4096 AS INT) AS width,
        |  CAST(1 + (doc_id * 5) % 2048 AS INT) AS height,
        |  CAST(8 * (1 + doc_id % 2) AS INT) AS bits,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS INT) AS n_pages
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
