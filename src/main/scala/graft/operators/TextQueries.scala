package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.Tables

/** Training-data text operators over the `documents` table: exact and
  * near deduplication (MinHash+LSH, SimHash, n-gram Jaccard), language
  * ID, quality scoring, token stats, fingerprinting.
  *
  * Every oracle below is *generated from the same constants* as the
  * Spark plan (hash family coefficients, stopword lists, band
  * layout), so DuckDB runs literally the same algorithm — near-dup
  * detection is hash-exact, not approximately compared.
  *
  * Scale notes: MinHash/SimHash signatures are per-row map-side work;
  * the only shuffles are the LSH band join (data-size-bounded by
  * collision rate) and final ORDER BYs. The exact-Jaccard query is
  * inherently quadratic, so it is blocked on (source, bounded id
  * range) — the honest scale path for near-dup at 100 TB is the LSH
  * query, not all-pairs.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  // MinHash family: k=16 signatures in 4 bands of 4 rows.
  private[graft] val K = 16
  private[graft] val Bands = 4
  private[graft] val R = 4
  private val coeffs = minhashCoeffs(K)
  private[graft] val JaccardT = 0.6

  /** Span length (tokens) for `text_dup_spans`. */
  val DupSpanLen = 16

  /** Chunk length (tokens) for `text_chunk_dedup` — the "paragraph"
    * unit of the CCNet-style exact-paragraph dedup; the oracle slices
    * with THIS constant (shipped-constant rule).
    */
  val ChunkDedupLen = 32

  /** Bloom admission-screen geometry (`dedup_bloom_screen`): M bits,
    * K salted positions per document. At the sf0.01 corpus (n=350)
    * the expected false-positive rate is (1−e^(−Kn/M))^K ≈ 1.6%.
    */
  private[operators] val BloomBits = 4096
  private[operators] val BloomK = 3

  /** The `text_blocklist` word list (C4-style bad-words screen) —
    * synthetic-corpus stand-ins; the oracle interpolates THIS constant.
    */
  val Blocklist: Seq[String] = Seq("error", "slow", "dup")

  /** Quality-classifier geometry (`text_quality_classifier`): hashed
    * unigram+bigram features in `QcBuckets` buckets, fixed-point
    * milli-unit weights `w(b) = (b·QcMult mod 2001) − 1000`, bias in
    * micro-units. The weight FORMULA stands in for a trained
    * fastText/DCLM checkpoint (shipped-constant rule — the oracle
    * interpolates the same formula); the inference path treats the
    * materialized array as opaque model data.
    */
  val QcBuckets = 4096
  val QcMult = 2654435761L
  val QcBiasMicro = -50000L
  private lazy val qcWeights: Array[Long] =
    Array.tabulate(QcBuckets)(b => (b.toLong * QcMult) % 2001L - 1000L)

  /** Misra-Gries counters per language for `text_heavy_hitters`;
    * Verify's invariant derives its error bound n/(k+1) from THIS
    * constant (shipped-constant rule).
    */
  val HHCounters = 16

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  /** DEFLATE output length at the default level — the compression
    * side of `text_compress_ratio`. Deterministic for a given input
    * (zlib with fixed level/strategy), which the Verify invariant
    * asserts run-over-run.
    */
  def deflateLen(bytes: Array[Byte]): Long = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  private def withToks(df: DataFrame): DataFrame = df.withColumn("toks", tokens(col("text")))

  /** The `pipeline_curate_e2e` admission screens — language → integer
    * quality screens (length / stopword density / type-token ratio) →
    * C4 blocklist → content hash — factored so the STREAMING admission
    * arm ([[graft.streaming.StreamingCurate]]) runs the byte-identical
    * expressions per micro-batch. Integer-form thresholds throughout:
    * no float comparison can flip between engines or between the batch
    * and streamed runs.
    */
  private[graft] def curateScreened(df: DataFrame): DataFrame = {
    val listCol = array(Blocklist.map(lit): _*)
    withToks(df.filter(col("lang") === "en"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop", listHits(col("toks"), stopwords.head._2))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("n_block",
        size(filter(col("toks"), t => array_contains(listCol, t))).cast("long"))
      .filter(col("n_tokens") >= 20 &&
        col("n_stop") * 50 >= col("n_tokens") &&
        col("n_distinct") * 100 >= col("n_tokens") * 30 &&
        col("n_block") === 0L)
      .withColumn("__h", md5(col("text")))
  }

  /** The leakage-consistent split of a dedup KEEPER id — the same
    * integer mix as the batch pipeline (and the oracle): paraphrase
    * groups collapse to their keeper before splitting, so near-dups
    * can never straddle train/test.
    */
  private[graft] def curateSplit(keeper: Column): Column = {
    val m = lit(CurationQueries.MixMod)
    val slot = ((keeper % m) * lit(CurationQueries.SampleMix)) % m % lit(100)
    when(slot < CurationQueries.SplitTrainPct, lit("train"))
      .when(slot < CurationQueries.SplitTrainPct + CurationQueries.SplitValPct,
        lit("validation"))
      .otherwise(lit("test"))
  }

  /** Connected components over an (a, b) pair DataFrame: one row per
    * member node, labeled with its component's min id. Driver
    * union-find while the pair list fits `maxDriverPairs` (near-dup
    * pair sets are duplicate-sized, not corpus-sized); distributed
    * min-label propagation beyond.
    */
  private[operators] def clusterResolve(pairs: DataFrame,
                                        maxDriverPairs: Long = 5_000_000L,
                                        checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val cached = pairs.persist()
    val n = cached.count()
    val out =
      if (n <= maxDriverPairs) {
        val es = cached.collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { // union by min root: representative = min id
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val nodes = es.flatMap { case (a, b) => Seq(a, b) }.distinct
        spark.createDataset(nodes.toSeq.map(id => (id, find(id))))
          .toDF("doc_id", "cluster_id")
      } else {
        // Alternating large-star/small-star contraction (Kiveris et
        // al., "Connected Components in MapReduce and Beyond", SoCC
        // 2014): each round rewires every edge toward its
        // neighborhood minimum, so components collapse to min-rooted
        // stars in O(log n) rounds REGARDLESS of diameter — plain
        // min-label propagation needs O(diameter) rounds and a chain-
        // shaped duplicate cluster at 100 TB can be thousands of hops
        // long. Edges stay canonically (a > b) throughout.
        //
        // large-star(u): every neighbor v > u re-points at
        // m = min(Γ(u) ∪ {u}).
        def largeStar(e: DataFrame): DataFrame = {
          val sym = e.select(col("a").as("u"), col("b").as("v"))
            .unionByName(e.select(col("b").as("u"), col("a").as("v")))
          val mins = sym.groupBy("u").agg(min("v").as("mv"))
            .select(col("u"), least(col("u"), col("mv")).as("m"))
          sym.filter(col("v") > col("u")).join(mins, "u")
            .select(col("v").as("a"), col("m").as("b"))
            .filter(col("a") =!= col("b")).distinct()
        }
        // small-star(u): u and every smaller neighbor re-point at
        // m = min of the smaller neighborhood.
        def smallStar(e: DataFrame): DataFrame = {
          val mins = e.groupBy(col("a").as("u")).agg(min("b").as("m"))
          e.join(mins, col("a") === col("u")).filter(col("b") =!= col("m"))
            .select(col("b").as("a"), col("m").as("b"))
            .unionByName(mins.select(col("u").as("a"), col("m").as("b")))
            .filter(col("a") =!= col("b")).distinct()
        }
        // Eager checkpoint per round, NOT persist: each star op embeds
        // its input's logical plan several times, so without lineage
        // truncation the plan grows ~12x per round and ANALYSIS time
        // explodes exponentially (measured 16 s to build round 2 on
        // 244 edges). The checkpoint materializes star-edge-sized
        // blocks and restarts the plan from them. Durability is the
        // caller's dial: with `checkpointDir` set, rounds go to a
        // RELIABLE checkpoint (HDFS/object store) that survives
        // executor death — the right mode for a 100-TB contraction
        // running long enough to see churn; unset falls back to
        // localCheckpoint (executor-local blocks, fastest, fine for
        // short single-node runs like the driver battery).
        checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
        def truncate(df: DataFrame): DataFrame =
          if (checkpointDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)
        var cur = truncate(cached.filter(col("a") =!= col("b"))
          .select(greatest(col("a"), col("b")).as("a"),
            least(col("a"), col("b")).as("b"))
          .distinct())
        var curCount = cur.count()
        var converged = curCount == 0
        var rounds = 0
        while (!converged && rounds < 50) {
          val next = truncate(smallStar(largeStar(cur)))
          val nextCount = next.count()
          // fixpoint = identical edge set (count equal + no new edges):
          // at the fixpoint every component is a star rooted at its min
          converged = nextCount == curCount &&
            next.join(cur, Seq("a", "b"), "left_anti").isEmpty
          cur = next
          curCount = nextCount
          rounds += 1
        }
        // at the fixpoint each component is a star (a -> root) plus
        // the root itself; the returned plan reads the checkpointed
        // star edges (tiny, lineage-free — released by the context
        // cleaner once callers drop the reference)
        cur.select(col("a").as("doc_id"), col("b").as("cluster_id"))
          .unionByName(cur.select(col("b").as("doc_id"), col("b").as("cluster_id")))
          .distinct()
      }
    cached.unpersist()
    out.orderBy("doc_id")
  }

  /** Per-document MinHash signature: `(doc_id, mh array(K))` — the
    * signature half of a persistable near-dup index. Explode + K
    * min-aggregates, so the heavy pass is map-side partial.
    */
  private def minhashSignatures(documents: DataFrame): DataFrame = {
    val hashed = documents
      .select(col("doc_id"),
        explode(graft.functions.TextExpressions.shingleHashes(col("text"), 3)).as("h"))
    val minExprs = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * lit(a) + lit(b)) % lit(graft.functions.TextFunctions.HashPrime)).as(s"m$i")
    }
    hashed.groupBy("doc_id")
      .agg(minExprs.head, minExprs.tail: _*)
      .select(col("doc_id"), array((0 until K).map(i => col(s"m$i")): _*).as("mh"))
  }

  /** LSH band rows `(doc_id, band, bkey)` of a signature table — the
    * bucket half of the index; docs sharing any (band, bkey) are
    * candidate near-dups.
    */
  private def minhashBands(mh: DataFrame): DataFrame =
    (0 until Bands).map { bi =>
      mh.select(col("doc_id"), lit(bi).as("band"),
        md5(concat_ws(",", (1 to R).map(j => element_at(col("mh"), bi * R + j)): _*)).as("bkey"))
    }.reduce(_ unionByName _)

  // ---- incremental dedup: a new crawl batch vs a persisted corpus
  // index. The 100-TB pattern is NOT "rescan the corpus per batch":
  // the index (content hashes, or minhash signatures + band buckets)
  // is built once, stored, and each incoming batch probes it. Every
  // probe below keeps the corpus-sized side SCAN-ONLY — the batch
  // (small by definition) is broadcast into the index scan, so no
  // corpus-sized shuffle ever happens; store the index bucketed by
  // its join key (RelationalQueries.writeBucketed) and the scan prunes too. ----

  /** Exact-dedup corpus index: one row per distinct content hash with
    * the keeper doc id. Built once per corpus, persisted, appended as
    * batches are admitted.
    */
  def buildExactIndex(corpus: DataFrame): DataFrame =
    corpus.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("index_doc"))

  /** One row per fixed-length token chunk of each document: (doc_id,
    * idx, chunk) — the explode is PER ROW (no aggregation), so the
    * same expression runs on a stream ([[chunkExplodeCols]]).
    */
  private[graft] def chunkRows(df: DataFrame): DataFrame =
    withToks(df).filter(size(col("toks")) > 0)
      .select(col("doc_id"), posexplode(chunkArrayExpr(col("toks"))))
      .toDF("doc_id", "idx", "chunk")

  /** The chunk array of a token array — `ChunkDedupLen`-token slices
    * joined back to strings. The last-chunk index is computed with the
    * subtract-remainder form, whose double division is exact (the
    * numerator is a multiple of L and IEEE division is correctly
    * rounded) — no floored-double misrounding at integer boundaries
    * (verify-skill note 10).
    */
  private[graft] def chunkArrayExpr(toks: Column): Column = {
    val L = ChunkDedupLen
    val n1 = size(toks) - 1
    val lastIdx = ((n1 - pmod(n1, lit(L))) / L).cast("int")
    transform(sequence(lit(0), lastIdx),
      j => array_join(slice(toks, j * L + 1, lit(L)), " "))
  }

  /** Chunk-granular exact index over a settled corpus: one row per
    * distinct chunk text (keyed by md5), carrying the (doc, idx)
    * keeper. The chunk analogue of [[buildExactIndex]].
    */
  def buildChunkIndex(corpus: DataFrame): DataFrame =
    chunkRows(corpus).groupBy(md5(col("chunk")).as("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("keeper"))
      .select(col("h"), col("keeper.doc_id").as("index_doc"),
        col("keeper.idx").as("index_idx"))

  /** Per-chunk verdicts for a new batch against a chunk index:
    * `corpus_dup` (chunk already admitted), `batch_dup` (an earlier
    * (doc, idx) instance IN THIS BATCH holds it), or `unique`. Same
    * probe discipline as [[probeExactIndex]]: the index side is probed
    * with a BROADCAST of the batch's distinct chunk hashes — the
    * corpus index is scanned once, shuffled never.
    */
  def probeChunkIndex(index: DataFrame, batchChunks: DataFrame): DataFrame = {
    val hashed = batchChunks.withColumn("h", md5(col("chunk")))
    val hits = index.join(broadcast(hashed.select("h").distinct()), "h")
    val firstIn = hashed.groupBy("h")
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
    hashed
      .join(firstIn, "h")
      .join(hits, Seq("h"), "left")
      .select(col("doc_id"), col("idx"),
        when(col("index_doc").isNotNull, lit("corpus_dup"))
          .when(col("doc_id") =!= col("f.doc_id") || col("idx") =!= col("f.idx"),
            lit("batch_dup"))
          .otherwise(lit("unique")).as("verdict"))
  }

  /** Verdict per batch document against an exact index: `corpus_dup`
    * (hash already admitted — `dup_of` = the index keeper),
    * `batch_dup` (first seen earlier IN THIS BATCH — `dup_of` = the
    * batch keeper), or `unique`. Plan shape: the index side is probed
    * with a BROADCAST of the batch's distinct hashes (inner join →
    * small `hits`), then everything else joins batch-sized tables —
    * the corpus index is scanned once, shuffled never.
    */
  def probeExactIndex(index: DataFrame, batch: DataFrame): DataFrame = {
    val hashed = batch.select(col("doc_id"), md5(col("text")).as("h"))
    val hits = index.join(broadcast(hashed.select("h").distinct()), "h")
    val firstIn = hashed.groupBy("h").agg(min("doc_id").as("first_in_batch"))
    hashed
      .join(firstIn, "h")
      .join(hits, Seq("h"), "left")
      .select(col("doc_id"),
        when(col("index_doc").isNotNull, lit("corpus_dup"))
          .when(col("doc_id") =!= col("first_in_batch"), lit("batch_dup"))
          .otherwise(lit("unique")).as("verdict"),
        when(col("index_doc").isNotNull, col("index_doc"))
          .when(col("doc_id") =!= col("first_in_batch"), col("first_in_batch"))
          .as("dup_of"))
  }

  /** Per-ROW MinHash signature — no aggregation, so it runs on a
    * STREAM (the batch [[minhashSignatures]] uses explode + K
    * min-aggregates for map-side partials; this form re-evaluates the
    * coefficient hash per transform, the right trade for micro-batch
    * probes). Identical values: min over the doc's own shingles.
    * Callers must filter docs with zero shingles first (the batch
    * pipeline drops them by construction).
    */
  private[graft] def minhashSignatureExpr(text: Column): Column = {
    val sh = graft.functions.TextExpressions.shingleHashes(text, 3)
    array(coeffs.map { case (a, b) =>
      array_min(transform(sh,
        h => (h * lit(a) + lit(b)) % lit(graft.functions.TextFunctions.HashPrime)))
    }: _*)
  }

  /** The band keys of a signature column — byte-identical to the keys
    * [[minhashBands]] stores in the persisted index.
    */
  private[graft] def minhashBandKeys(mh: Column): Seq[(Int, Column)] =
    (0 until Bands).map { bi =>
      bi -> md5(concat_ws(",", (1 to R).map(j => element_at(mh, bi * R + j)): _*))
    }

  /** Signature-estimated Jaccard — matching coordinates / K. */
  private[graft] def minhashEstJaccard(ma: Column, mb: Column): Column =
    (1 to K).map(i =>
      when(element_at(ma, i) === element_at(mb, i), 1).otherwise(0))
      .reduce(_ + _).cast("double") / K

  /** Near-dup (MinHash) corpus index: band-bucket rows + signatures,
    * both persistable. */
  def buildMinhashIndex(corpus: DataFrame): (DataFrame, DataFrame) = {
    val sigs = minhashSignatures(corpus)
    (minhashBands(sigs), sigs)
  }

  /** Probe a MinHash index with a new batch: batch band rows are
    * BROADCAST against the corpus band index (inner join — corpus side
    * scan-only), candidates join both signature sides (candidates are
    * batch-sized, broadcast again into the corpus signature scan), and
    * each batch doc keeps its best corpus match (highest estimated
    * Jaccard ≥ [[JaccardT]], ties to the lowest corpus doc id).
    * Returns `(doc_id, dup_of, est_jaccard)` for matched batch docs.
    */
  def probeMinhashIndex(indexBands: DataFrame, indexSigs: DataFrame,
                        batch: DataFrame): DataFrame = {
    val bSigs = minhashSignatures(batch)
    val bBands = minhashBands(bSigs)
    val cand = indexBands.as("c")
      .join(broadcast(bBands.as("n")), Seq("band", "bkey"))
      .select(col("n.doc_id").as("a"), col("c.doc_id").as("b"))
      .distinct()
    val est = (1 to K).map(i =>
      when(element_at(col("ma"), i) === element_at(col("mb"), i), 1).otherwise(0))
      .reduce(_ + _).cast("double") / K
    val scored = indexSigs.select(col("doc_id").as("b"), col("mh").as("mb"))
      .join(broadcast(cand), "b")
      .join(broadcast(bSigs.select(col("doc_id").as("a"), col("mh").as("ma"))), "a")
      .withColumn("est_jaccard", est)
      .filter(col("est_jaccard") >= JaccardT)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a").orderBy(col("est_jaccard").desc, col("b").asc)
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("a").as("doc_id"), col("b").as("dup_of"), col("est_jaccard"))
  }

  /** MinHash+LSH near-dup candidate pairs with their signature-
    * estimated Jaccard, filtered at [[JaccardT]] — shared by the pair
    * query and the cluster-resolution query.
    */
  private def minhashPairs(s: SparkSession, d: String): DataFrame = {
    // materialized: `mh` is
    // referenced by every band projection of the LSH self-join plus
    // both signature sides of the verify join — unmaterialized, the
    // static plan re-evaluates the signature pass 2·Bands+2 times.
    // Signatures are (doc_id, K longs) — corpus-row-sized, the
    // persistable index artifact this module stores elsewhere anyway.
    // localCheckpoint, not persist: the blocks are query-scoped
    // (ContextCleaner frees them once the frames are GC'd) instead of
    // a CacheManager entry that leaks across queries in a long-lived
    // session and lets one bench rep read its predecessor's cache.
    val mh = graft.sources.Tables.materialize(minhashSignatures(docs(s, d)))
    val bands = minhashBands(mh)

    val pairs = bands.as("x").join(bands.as("y"), Seq("band", "bkey"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()

    val ma = mh.select(col("doc_id").as("a"), col("mh").as("ma"))
    val mb = mh.select(col("doc_id").as("b"), col("mh").as("mb"))
    val est = (1 to K).map(i =>
      when(element_at(col("ma"), i) === element_at(col("mb"), i), 1).otherwise(0))
      .reduce(_ + _).cast("double") / K

    pairs.join(ma, "a").join(mb, "b")
      .withColumn("est_jaccard", est)
      .filter(col("est_jaccard") >= JaccardT)
      .select("a", "b", "est_jaccard")
  }

  val queries: Map[String, Q] = Map(

    // Token counting: whitespace tokens + distinct counts.
    "text_tokens" -> { (s, d) =>
      withToks(docs(s, d))
        .select(col("doc_id"), size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct"))
        .orderBy("doc_id")
    },

    // BPE-ish subword counting: a GPT-style lexer regex (letter runs,
    // digit runs, single punctuation) — identical regex both engines.
    "text_tokens_bpe" -> { (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          size(regexp_extract_all(lower(col("text")),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_subwords"))
        .orderBy("doc_id")
    },

    // Quality scoring: length stats, type-token ratio, stopword ratio.
    "text_quality" -> { (s, d) =>
      withToks(docs(s, d))
        .withColumn("sum_len", aggregate(col("toks"), lit(0L), (a, t) => a + length(t)))
        .withColumn("n_stop", listHits(col("toks"), stopwords.head._2))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          col("sum_len"),
          (col("sum_len").cast("double") / size(col("toks"))).as("avg_token_len"),
          (size(array_distinct(col("toks"))).cast("double") / size(col("toks"))).as("ttr"),
          (col("n_stop").cast("double") / size(col("toks"))).as("stop_ratio"))
        .orderBy("doc_id")
    },

    // Unicode NFC normalization (native codegen'd Expression — JDK
    // Normalizer, the same UAX #15 algorithm DuckDB's nfc_normalize
    // implements, so the oracle is exact). The corpus is ASCII, so a
    // decomposed suffix (e + U+0301) is appended to make every row
    // genuinely normalize: `changed` must be true and the char count
    // must shrink by exactly the composed pair.
    "text_normalize" -> { (s, d) =>
      val nfc = graft.functions.TextExpressions.nfcNormalize _
      val dirty = concat(col("text"), lit(" cafee\u0301")) // 'e' + combining acute (decomposed)
      docs(s, d).select(col("doc_id"),
        md5(nfc(dirty)).as("nfc_md5"),
        (length(nfc(dirty)) < length(dirty)).as("changed"),
        length(nfc(dirty)).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // Gopher-style composite quality FILTER (Rae et al. 2021's rule
    // family, public knowledge): the accept/reject decision face of
    // text_quality's scores. Ratio bounds compare via integer
    // cross-multiplication (sum_len ≥ 3n, 10·n_sym ≤ n) so the
    // booleans carry no float-edge risk across engines.
    "text_gopher_filter" -> { (s, d) =>
      withToks(docs(s, d))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("sum_len", aggregate(col("toks"), lit(0L), (a, t) => a + length(t)))
        .withColumn("n_stop", listHits(col("toks"), stopwords.head._2))
        .withColumn("n_sym", size(filter(col("toks"),
          t => t.startsWith("#") || t.contains("..."))).cast("long"))
        .select(col("doc_id"),
          col("n").as("n_tokens"),
          (col("n") >= 50 && col("n") <= 100000).as("r_words"),
          (col("sum_len") >= col("n") * 3 && col("sum_len") <= col("n") * 10).as("r_meanlen"),
          (col("n_sym") * 10 <= col("n")).as("r_symbol"),
          (col("n_stop") >= 2).as("r_stop"),
          ((col("n") >= 50 && col("n") <= 100000) &&
            (col("sum_len") >= col("n") * 3 && col("sum_len") <= col("n") * 10) &&
            (col("n_sym") * 10 <= col("n")) &&
            (col("n_stop") >= 2)).as("keep"))
        .orderBy("doc_id")
    },

    // Heuristic language ID (stopword-profile argmax) vs the labeled
    // lang column: confusion-matrix counts.
    "text_langid" -> { (s, d) =>
      withToks(docs(s, d))
        .withColumn("lang_pred", langId(col("toks")))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "lang_pred")
    },

    // Document fingerprint: min-hash of 4-gram shingles (k=1 winnowing
    // degenerate) + shingle count.
    "text_fingerprint" -> { (s, d) =>
      docs(s, d)
        .withColumn("sh4", graft.functions.TextExpressions.shingleHashes(col("text"), 4))
        .select(col("doc_id"),
          coalesce(array_min(col("sh4")), lit(-1L)).as("fp"),
          size(col("sh4")).as("n_shingles"))
        .orderBy("doc_id")
    },

    // Exact dedup: hash-groupBy on the full text, keep lowest id.
    "dedup_exact" -> { (s, d) =>
      docs(s, d).groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    },

    // Incremental exact dedup: the 30% of docs with doc_id%10<3 play
    // the incoming crawl batch, the rest the already-admitted corpus
    // whose hash index is persisted (built here in-query for the
    // oracle; IncrementalDedupSpec proves the parquet round-trip).
    "dedup_incremental" -> { (s, d) =>
      val all = docs(s, d)
      val batch = all.filter(col("doc_id") % 10 < 3)
      val corpus = all.filter(col("doc_id") % 10 >= 3)
      probeExactIndex(buildExactIndex(corpus), batch)
        .orderBy("doc_id")
    },

    // The WHOLE curation pipeline in ONE declarative plan — the
    // flagship composition a training run executes end-to-end:
    // language screen → quality screens (length / stopword density /
    // type-token ratio, all in INTEGER form — no float threshold can
    // flip between engines) → C4 blocklist screen → exact-dedup
    // keep-first → leakage-consistent split keyed on the dedup keeper
    // → the per-(split, source) training MANIFEST (doc and token
    // budgets). Catalyst fuses the screens into the one corpus scan
    // (pushed lang filter + codegen'd token arithmetic), the dedup
    // adds the single content-keyed exchange, and the rollup is a
    // ~splits×sources-group aggregate: a 100-TB curation pass is ONE
    // scan + two small shuffles, not five chained jobs.
    "pipeline_curate_e2e" -> { (s, d) =>
      val screened = curateScreened(docs(s, d))
      // keep-first WITHOUT a self-join: a min window over the content
      // hash (|distinct docs|-cardinality partitions) keeps the plan a
      // single corpus pass — the diamond-shaped groupBy+join-back form
      // would scan the corpus twice (ReuseExchange is not reliable
      // across pushed-filter specialization; the r10/r13 lesson)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("__h")
      screened
        .withColumn("keeper", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("keeper"))
        .withColumn("split", curateSplit(col("keeper")))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy("split", "source")
    },

    // C4-style blocklist screen (Raffel et al. 2020 drop pages
    // containing any "bad words" list entry): per doc, total flagged
    // token instances, distinct flagged words, and the clean verdict.
    // Shape: a pure narrow per-row pass — the list rides as a plan
    // literal (kilobytes at any real blocklist size), token membership
    // is a codegen'd array filter, no shuffle but the presentation
    // sort. The list here is synthetic-corpus words; swap the constant
    // for a real blocklist in production.
    "text_blocklist" -> { (s, d) =>
      val listCol = array(Blocklist.map(lit): _*)
      withToks(docs(s, d))
        .select(col("doc_id"),
          size(filter(col("toks"), t => array_contains(listCol, t)))
            .cast("long").as("n_hits"),
          size(filter(array_distinct(col("toks")), t => array_contains(listCol, t)))
            .cast("long").as("n_distinct_hits"))
        .withColumn("clean", col("n_hits") === 0L)
        .orderBy("doc_id")
    },

    // The REWRITE pass chunk dedup exists to feed: drop every
    // non-keeper chunk instance and re-materialize each surviving
    // document (kept chunks re-joined in idx order) — the corpus a
    // training run would actually read. Emits the rebuilt text's md5
    // (not the text itself — presentation-safe at any doc size) plus
    // kept/total token counts. Shape: the same two chunk-keyed
    // shuffles as text_chunk_dedup plus one per-doc ordered
    // reassembly — sort_array over the doc's own (idx, chunk) structs,
    // a per-GROUP array sort (bounded by doc length), never a
    // per-partition data sort.
    "text_dedup_rewrite" -> { (s, d) =>
      val chunks = chunkRows(docs(s, d))
        .withColumn("n_ctoks", size(split(col("chunk"), " ")).cast("long"))
      val firsts = chunks.groupBy("chunk")
        .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
      chunks.join(firsts, "chunk")
        .filter(col("doc_id") === col("f.doc_id") && col("idx") === col("f.idx"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("kept_chunks"),
          sum(col("n_ctoks")).as("kept_tokens"),
          md5(array_join(transform(
            sort_array(collect_list(struct(col("idx"), col("chunk")))),
            e => e.getField("chunk")), " ")).as("rebuilt_md5"))
        .select("doc_id", "kept_chunks", "kept_tokens", "rebuilt_md5")
        .orderBy("doc_id")
    },

    // SPAN-level dedup rewrite — the full Lee et al. ExactSubstr
    // operator: where text_dedup_rewrite drops fixed 32-token chunks,
    // this cuts exactly the tokens covered by a DUPLICATED 16-token
    // span (every occurrence after the global first, keep-first on
    // (doc_id, position)), so only the overlapping substring is
    // removed and the surrounding prose survives. Shape: one
    // ShingleHashes128 kernel pass (full 128-bit keys — collisions
    // impossible at corpus scale), a span-keyed exchange for the
    // first-occurrence min-struct (map-side partial), a ×SpanLen
    // position explode bounded by DUPLICATED volume only, one doc-keyed
    // anti-join, and the bounded per-doc ordered reassembly of
    // text_dedup_rewrite. No window over data-sized input anywhere.
    "text_dedup_rewrite_spans" -> { (s, d) =>
      val toked = withToks(docs(s, d)).filter(size(col("toks")) > 0)
      val spans = toked.select(col("doc_id"),
        posexplode(graft.functions.TextExpressions
          .shingleHashes128(col("text"), DupSpanLen)).as(Seq("p", "h")))
        .select(col("doc_id"), col("p"), col("h.h1").as("h1"), col("h.h2").as("h2"))
      // only spans seen >= 2 times matter downstream — the filter keeps
      // the join's build side to duplicated spans, not the corpus
      val firsts = spans.groupBy("h1", "h2")
        .agg(count(lit(1)).as("n_occ"),
          min(struct(col("doc_id"), col("p"))).as("f"))
        .filter(col("n_occ") >= 2)
      val removed = spans.join(firsts, Seq("h1", "h2"))
        .filter(!(col("doc_id") === col("f.doc_id") && col("p") === col("f.p")))
        .select(col("doc_id"),
          explode(sequence(col("p"), col("p") + lit(DupSpanLen - 1))).as("pos"))
        .distinct()
      val toksPos = toked.select(col("doc_id"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      val kept = toksPos.join(removed, Seq("doc_id", "pos"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("kept_tokens"),
          md5(array_join(transform(
            sort_array(collect_list(struct(col("pos"), col("tok")))),
            e => e.getField("tok")), " ")).as("rebuilt_md5"))
      toked.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
          coalesce(col("rebuilt_md5"), md5(lit(""))).as("rebuilt_md5"))
        .orderBy("doc_id")
    },

    // Incremental CHUNK dedup: the daily-batch shape at paragraph
    // granularity — the settled corpus's chunk index (one row per
    // distinct 32-token chunk, min-(doc,idx) keeper) is probed by the
    // incoming 30% split; per new document, how many of its chunks are
    // already in the corpus, duplicated earlier within the batch, or
    // genuinely new. Same scan-only-index discipline as
    // dedup_incremental: batch hashes broadcast INTO the index scan,
    // the corpus side never shuffles. Streaming arm:
    // streaming/StreamingDedup.probeChunkIndexStream.
    "dedup_incremental_chunks" -> { (s, d) =>
      val all = docs(s, d)
      val index = buildChunkIndex(all.filter(col("doc_id") % 10 >= 3))
      probeChunkIndex(index, chunkRows(all.filter(col("doc_id") % 10 < 3)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("verdict") === "corpus_dup", 1L).otherwise(0L)).as("n_corpus_dup"),
          sum(when(col("verdict") === "batch_dup", 1L).otherwise(0L)).as("n_batch_dup"),
          sum(when(col("verdict") === "unique", 1L).otherwise(0L)).as("n_unique"))
        .orderBy("doc_id")
    },

    // Bloom-filter admission screen — the cheap tier BEFORE the exact
    // index probe (the Dolma-style pattern): the corpus's content
    // Bloom bits are a ≤ BloomBits-row table (broadcast, kilobytes);
    // a batch doc probes its BloomK positions and is 'new' the moment
    // any misses. The one-sided guarantee is published next to the
    // ground truth so the oracle checks it row-by-row: every actual
    // duplicate is maybe_dup (NO false negatives, ever); false
    // positives are bounded by (1−e^(−Kn/M))^K. Positions use the
    // depth-salted portable md5 hash, so the DuckDB oracle builds the
    // identical filter — hash-exact, not a tolerance.
    "dedup_bloom_screen" -> { (s, d) =>
      val all = docs(s, d)
      val batch = all.filter(col("doc_id") % 10 < 3)
      val corpus = all.filter(col("doc_id") % 10 >= 3)
      def pos(k: Column, text: Column): Column =
        conv(substring(md5(concat(k.cast("string"), lit("|"), text)), 1, 8), 16, 10)
          .cast("long") % BloomBits
      val bits = corpus
        .select(explode(sequence(lit(0), lit(BloomK - 1))).as("k"), col("text"))
        .select(pos(col("k"), col("text")).as("pos")).distinct()
        .withColumn("hit", lit(1L))
      val maybe = batch
        .select(col("doc_id"), explode(sequence(lit(0), lit(BloomK - 1))).as("k"),
          col("text"))
        .withColumn("pos", pos(col("k"), col("text")))
        .join(broadcast(bits), Seq("pos"), "left")
        .groupBy("doc_id")
        .agg((sum(coalesce(col("hit"), lit(0L))) === lit(BloomK.toLong)).as("maybe"))
      val truth = batch.select(col("doc_id"), md5(col("text")).as("h"))
        .join(corpus.select(md5(col("text")).as("h")).distinct()
            .withColumn("dup", lit(true)),
          Seq("h"), "left")
        .select(col("doc_id"), coalesce(col("dup"), lit(false)).as("is_dup"))
      maybe.join(truth, "doc_id")
        .select(col("doc_id"),
          when(col("maybe"), lit("maybe_dup")).otherwise(lit("new")).as("verdict"),
          col("is_dup"))
        .orderBy("doc_id")
    },

    // Incremental NEAR-dup: the same batch/corpus split probing a
    // MinHash band+signature index — each batch doc's best corpus
    // match at est-Jaccard >= the LSH threshold. The corpus side is
    // scan-only (batch bands and candidates broadcast), the shape
    // that admits a daily crawl against a 100-TB corpus without
    // re-shuffling it.
    "dedup_incremental_minhash" -> { (s, d) =>
      val all = docs(s, d)
      val batch = all.filter(col("doc_id") % 10 < 3)
      val (idxBands, idxSigs) = buildMinhashIndex(all.filter(col("doc_id") % 10 >= 3))
      probeMinhashIndex(idxBands, idxSigs, batch)
        .orderBy("doc_id")
    },

    // Exact n-gram Jaccard near-dup on a bounded block (quadratic by
    // nature — LSH below is the scale path). Pairs within a source
    // block compare sorted shingle-sets directly; an inverted-index
    // (explode + join on shingle) variant was measured slower on this
    // corpus because the tiny vocabulary makes shingle collisions —
    // and thus join fan-out — enormous.
    "dedup_ngram_jaccard" -> { (s, d) =>
      // shingle hashes materialized ONCE: the pushed-down non-empty
      // guard re-inlined the kernel into the filter (no CSE), so the
      // un-materialized plan hashed every doc's shingles twice per
      // side (4× total across the self-join). Bounded block — the
      // checkpoint holds ≤2000 rows.
      val base = docs(s, d).filter(col("doc_id") < 2000)
        .withColumn("hs", sort_array(array_distinct(
          graft.functions.TextExpressions.shingleHashes(col("text"), 3))))
        .select("doc_id", "source", "hs")
        .transform(graft.sources.Tables.materialize)
        .filter(size(col("hs")) > 0)
      val a = base.select(col("doc_id").as("a"), col("source"), col("hs").as("hsa"))
      val b = base.select(col("doc_id").as("b"), col("source"), col("hs").as("hsb"))
      val icount = graft.functions.VectorExpressions
        .sortedIntersectCount(col("hsa"), col("hsb"))
      a.join(b, "source").filter(col("a") < col("b"))
        .withColumn("inter", icount)
        .withColumn("jac", col("inter").cast("double") /
          (size(col("hsa")) + size(col("hsb")) - col("inter")))
        .filter(col("jac") >= 0.5)
        .select("a", "b", "jac")
        .orderBy("a", "b")
    },

    // Containment near-dup: |A∩B| / min(|A|,|B|) — the asymmetric
    // measure that catches a SHORT document embedded in a longer one,
    // which symmetric Jaccard under-scores (inter/(na+nb−inter) → 0 as
    // the length gap grows while containment stays 1). Same bounded
    // quadratic block + sorted-intersection kernel as
    // dedup_ngram_jaccard; LSH remains the scale path.
    "dedup_containment" -> { (s, d) =>
      // shingle hashes materialized ONCE: the pushed-down non-empty
      // guard re-inlined the kernel into the filter (no CSE), so the
      // un-materialized plan hashed every doc's shingles twice per
      // side (4× total across the self-join). Bounded block — the
      // checkpoint holds ≤2000 rows.
      val base = docs(s, d).filter(col("doc_id") < 2000)
        .withColumn("hs", sort_array(array_distinct(
          graft.functions.TextExpressions.shingleHashes(col("text"), 3))))
        .select("doc_id", "source", "hs")
        .transform(graft.sources.Tables.materialize)
        .filter(size(col("hs")) > 0)
      val a = base.select(col("doc_id").as("a"), col("source"), col("hs").as("hsa"))
      val b = base.select(col("doc_id").as("b"), col("source"), col("hs").as("hsb"))
      val icount = graft.functions.VectorExpressions
        .sortedIntersectCount(col("hsa"), col("hsb"))
      a.join(b, "source").filter(col("a") < col("b"))
        .withColumn("inter", icount)
        .withColumn("cont", col("inter").cast("double") /
          least(size(col("hsa")), size(col("hsb"))))
        .filter(col("cont") >= 0.8)
        .select("a", "b", "cont")
        .orderBy("a", "b")
    },

    // MinHash + LSH near-dup: signature -> banded bucket join ->
    // candidate pairs -> signature-estimated Jaccard filter.
    // Signatures come from explode + 16 min-aggregates: one md5 per
    // shingle and map-side partial aggregation (the HOF formulation
    // re-evaluated the hash per coefficient — 16x the work).
    "dedup_minhash_lsh" -> { (s, d) =>
      minhashPairs(s, d).orderBy("a", "b")
    },

    // Duplicate-cluster resolution: connected components over the
    // near-dup pair graph, label = the component's min doc_id (the
    // kept representative; everything else is the drop set). Tiered
    // like the ANN joins: the pair list is the DUPLICATE set — orders
    // of magnitude smaller than the corpus — so under a row budget it
    // collects to the driver for a one-pass union-find (one Spark
    // job); past the budget, distributed min-label propagation (one
    // shuffle per round, labels only decrease, sum-of-labels fixpoint,
    // O(component diameter) rounds with per-round persist).
    "dedup_cluster_resolve" -> { (s, d) =>
      clusterResolve(minhashPairs(s, d).select("a", "b"))
    },

    // Quality-aware canonical selection: per near-dup cluster, KEEP
    // the longest member (n_chars, ties to the lowest id) instead of
    // the arbitrary min-id label — what real pipelines do (the best
    // duplicate survives, the rest drop). One broadcast-sized join of
    // the cluster labels to the documents' n_chars and a max_by
    // aggregate per cluster — the labels table is duplicate-sized, not
    // corpus-sized, so every stage here is small no matter the corpus.
    "dedup_cluster_keeper" -> { (s, d) =>
      val labels = clusterResolve(minhashPairs(s, d).select("a", "b"))
      labels.join(docs(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("negid"))).as("best"))
        .select(col("cluster_id"), col("n_members"),
          (-col("best.negid")).as("keeper_doc"), col("best.nc").as("keeper_chars"))
        .orderBy("cluster_id")
    },

    // Leakage-safe train/val/test split: near-identical documents
    // must never straddle the split boundary (the classic train/test
    // contamination source — a paraphrase of a test doc in train), so
    // the split key is the near-dup CLUSTER label, not the doc id:
    // every member of a cluster hashes to the same slot by
    // construction, singletons key on their own id. Shape: the
    // duplicate-sized labels table left-joins the corpus scan (labels
    // broadcast — near-dup volume, not corpus volume), then the same
    // multiplicative-mix slot arithmetic as sample_split; one scan,
    // no new shuffle on data-sized input.
    "sample_split_leakage_safe" -> { (s, d) =>
      val labels = clusterResolve(minhashPairs(s, d).select("a", "b"))
      val key = "((split_key % " + CurationQueries.MixMod + ") * " +
        CurationQueries.SampleMix + ") % " + CurationQueries.MixMod + " % 100"
      docs(s, d).select(col("doc_id"))
        .join(broadcast(labels), Seq("doc_id"), "left")
        .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("slot", expr(key))
        .withColumn("split",
          when(col("slot") < CurationQueries.SplitTrainPct, lit("train"))
            .when(col("slot") <
              CurationQueries.SplitTrainPct + CurationQueries.SplitValPct,
              lit("validation"))
            .otherwise(lit("test")))
        .select("doc_id", "split_key", "split")
        .orderBy("doc_id")
    },

    // The DISTRIBUTED tier of the same resolution, oracle-checked at
    // sf scale: budget forced to 0 so min-label propagation (the shape
    // that runs when the pair list exceeds driver memory at 100 TB)
    // produces the labels — same recursive-CTE oracle as the driver
    // tier, so the two tiers are proven equivalent on real data, not
    // just the toy spec graph.
    "dedup_cluster_resolve_dist" -> { (s, d) =>
      clusterResolve(minhashPairs(s, d).select("a", "b"), maxDriverPairs = 0L)
    },

    // SimHash near-dup pairs: two 16-bit band rotations (high half,
    // low half) — a pair is a candidate if it collides in EITHER band,
    // then exact hamming distance filters. Two bands both double
    // recall for diffs concentrated in one half and halve the largest
    // bucket's share of the candidate volume vs a single fixed band
    // (the multi-probe shape that holds at 100 TB).
    "dedup_simhash_pairs" -> { (s, d) =>
      val base = withToks(docs(s, d)).filter(col("doc_id") < 1000)
        .select(col("doc_id"),
          graft.functions.TextExpressions.simHash32(col("toks")).as("sh"))
      val bands = base.select(col("doc_id"), col("sh"),
          lit(0).as("band"), shiftright(col("sh"), 16).as("bucket"))
        .unionByName(base.select(col("doc_id"), col("sh"),
          lit(1).as("band"), col("sh").bitwiseAND(lit(0xFFFFL)).as("bucket")))
      val a = bands.select(col("band"), col("bucket"), col("doc_id").as("a"), col("sh").as("sha"))
      val b = bands.select(col("band"), col("bucket"), col("doc_id").as("b"), col("sh").as("shb"))
      a.join(b, Seq("band", "bucket")).filter(col("a") < col("b"))
        .select("a", "b", "sha", "shb").dropDuplicates("a", "b")
        .withColumn("dist", graft.functions.TextFunctions.hamming32(col("sha"), col("shb")))
        .filter(col("dist") <= 8)
        .select("a", "b", "dist")
        .orderBy("a", "b")
    },

    // SimHash fingerprints (bounded block for the oracle's sake).
    "dedup_simhash" -> { (s, d) =>
      withToks(docs(s, d)).filter(col("doc_id") < 1000)
        .select(col("doc_id"),
          graft.functions.TextExpressions.simHash32(col("toks")).as("simhash"))
        .withColumn("bucket", shiftright(col("simhash"), 16))
        .orderBy("doc_id")
    },

    // Corpus-level top-k: the 10 most frequent word-2grams per
    // language (vocabulary reports, contamination screens). EXACT
    // top-k in two levels: gram counts hash-aggregate (map-side
    // partial), then each gram competes inside its hash-salt bucket
    // and only bucket top-10s — ≤ 640 rows per language — reach the
    // per-language final sort. A global top-k must be top-k within its
    // bucket, so the two-level form is exact; the one-window
    // formulation would funnel every distinct gram of a language
    // through one task, which is the sort that dies at 100 TB.
    "text_ngram_topk" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val TopN = 10
      val Salt = 64
      val counts = withToks(docs(s, d))
        .select(col("lang"), explode(shingles(col("toks"), 2)).as("gram"))
        .groupBy("lang", "gram").agg(count(lit(1)).as("cnt"))
      val byBucket = Window.partitionBy(col("lang"), pmod(xxhash64(col("gram")), lit(Salt)))
        .orderBy(col("cnt").desc, col("gram"))
      val byLang = Window.partitionBy("lang").orderBy(col("cnt").desc, col("gram"))
      counts
        .withColumn("rb", row_number().over(byBucket)).filter(col("rb") <= TopN)
        .withColumn("rnk", row_number().over(byLang)).filter(col("rnk") <= TopN)
        .select("lang", "rnk", "gram", "cnt")
        .orderBy("lang", "rnk")
    },

    // Tokenizer-vocabulary coverage (the vocab-builder step): the
    // top-V tokens by frequency with each prefix's cumulative share
    // of the whole stream — "V entries cover X% of tokens", the
    // number that sizes a vocabulary. Same salted two-level top-K as
    // the other global ranks (no task ever sorts the vocabulary);
    // the cumulative window runs over V survivor rows only. Coverage
    // is one IEEE division of exact longs per row — hash-exact.
    "text_vocab_coverage" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val V = 20
      val Salt = 64
      val counts = withToks(docs(s, d))
        .select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum("cnt").as("total"))
      val byBucket = Window.partitionBy(pmod(xxhash64(col("tok")), lit(Salt)))
        .orderBy(col("cnt").desc, col("tok"))
      val global = Window.partitionBy(ParallelRank.constKey(col("tok")))
        .orderBy(col("cnt").desc, col("tok"))
      counts
        .withColumn("rb", row_number().over(byBucket)).filter(col("rb") <= V)
        .withColumn("rnk", row_number().over(global).cast("long")).filter(col("rnk") <= V)
        .crossJoin(broadcast(total))
        .withColumn("cum", sum("cnt").over(
          Window.partitionBy(ParallelRank.constKey(col("rnk"))).orderBy(col("rnk"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("rnk"), col("tok"), col("cnt"), col("cum"),
          (col("cum").cast("double") / col("total").cast("double")).as("coverage"))
        .orderBy("rnk")
    },

    // Exact duplicated-span detection (the substring-level dedup
    // signal of Lee et al.-style training pipelines: "this 16-token
    // span appears verbatim in k documents"): every token position
    // emits its span hash (one ShingleHashes kernel pass), then ONE
    // hash-keyed exchange with map-side partial aggregation counts
    // distinct docs per span. The plan at 100 TB is the same two
    // stages. The span key is the FULL 128-bit md5 (both halves as
    // signed longs, cross-engine-portable via hex-chunk assembly in
    // the oracle), so hash collisions are impossible at any practical
    // corpus size rather than merely engine-consistent — a 32-bit key
    // starts colliding at ~80k distinct spans (birthday bound), well
    // below one large document's span count.
    "text_dup_spans" -> { (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          explode(graft.functions.TextExpressions.shingleHashes128(col("text"), DupSpanLen))
            .as("h"))
        .select(col("doc_id"), col("h.h1").as("h1"), col("h.h2").as("h2"))
        .groupBy("h1", "h2")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_occurrences"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"))
        .filter(col("n_docs") >= 2)
        .select("h1", "h2", "n_docs", "n_occurrences", "first_doc", "last_doc")
        .orderBy("h1", "h2")
    },

    // Heavy-hitters token summary per language via the Misra-Gries
    // Aggregator (functions/HeavyHitters — the custom-UDAF surface):
    // one partial MG summary per partition, merged at a
    // language-keyed exchange that carries ≤ k counters per partition
    // per language — the sketch shape for "frequent tokens over 100
    // TB" where the exact groupBy above would carry every distinct
    // gram. Rows-only by design: MG guarantees (no overestimates,
    // undercount ≤ n/(k+1), every item above that threshold present)
    // are asserted in Verify's invariants against exact counts; WHICH
    // sub-threshold survivors appear depends on merge order, so the
    // dump is not hash-comparable (same exemption class as the GK
    // quantile sketch).
    "text_heavy_hitters" -> { (s, d) =>
      val hh = udaf(new graft.functions.HeavyHittersAgg(HHCounters))
      withToks(docs(s, d))
        .select(col("lang"), explode(col("toks")).as("tok"))
        .groupBy("lang").agg(hh(col("tok")).as("summary"))
        .select(col("lang"), explode(col("summary")).as(Seq("token", "approx_cnt")))
        .orderBy("lang", "token")
    },

    // tf-idf keyword extraction: top-5 terms per document. Ranking is
    // by the INTEGER product tf × idf_fp (idf quantized to fixed-point
    // once per vocabulary word), so ordering is exact — no float
    // comparison ever decides a rank. Shape: the same (doc, word) and
    // df hash aggregates as perplexity, a word-keyed join, then a
    // row_number window partitioned by doc_id — millions of tiny
    // per-doc partitions, embarrassingly parallel, no skew beyond a
    // single document's vocabulary.
    "text_tfidf_topk" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val base = withToks(docs(s, d)).filter(size(col("toks")) > 0)
      val dc = base.select(col("doc_id"), explode(col("toks")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      // every non-empty doc contributes >= 1 word, so the doc count is a
      // plain scan-level count — not a distinct over the corpus-vocabulary
      // relation
      val nd = base.agg(count(lit(1)).as("nd"))
      val idf = dc.groupBy("w").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nd))
        .select(col("w"), expr(TfIdfFpExpr).as("idf_fp"))
      val w5 = Window.partitionBy("doc_id")
        .orderBy((col("tf") * col("idf_fp")).desc, col("w"))
      dc.join(idf, "w")
        .withColumn("rnk", row_number().over(w5)).filter(col("rnk") <= 5)
        .select(col("doc_id"), col("rnk"), col("w").as("term"), col("tf"),
          ((col("tf") * col("idf_fp")).cast("double") / 1000000.0).as("tfidf"))
        .orderBy("doc_id", "rnk")
    },

    // BM25 ranked retrieval (k1=1.2, b=0.75, Robertson idf): score the
    // fixed query against every document, top-50. Only query-term
    // postings survive the first filter, so the join and the per-doc
    // reduce carry |query| rows per doc max — the inverted-index shape
    // without materializing one. All doubles feeding the final
    // quantization are bit-identical across engines (exact-integer
    // inputs + textually identical IEEE expression, see Bm25FpExpr),
    // and per-doc sums/ranking are pure integers.
    "text_bm25_topk" -> { (s, d) =>
      val base = withToks(docs(s, d)).filter(size(col("toks")) > 0)
      val dl = base.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      val stats = dl.agg(count(lit(1)).as("nd"), sum("dl").as("tt"))
      val dc = base.select(col("doc_id"), explode(col("toks")).as("w"))
        .filter(col("w").isin(Bm25Query: _*))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val idf = dc.groupBy("w").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(stats))
        .select(col("w"), expr(Bm25IdfFpExpr).as("idf_fp"))
      dc.join(broadcast(idf), "w")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("avgdl", col("tt").cast("double") / col("nd"))
        .withColumn("term_fp", expr(Bm25FpExpr))
        .groupBy("doc_id").agg(sum("term_fp").as("score_fp"))
        .orderBy(col("score_fp").desc, col("doc_id")).limit(50)
        .select(col("doc_id"), (col("score_fp").cast("double") / 1000000.0).as("bm25"))
    },

    // Compression-ratio quality signal (the Gopher-family heuristic:
    // text that deflates too well is boilerplate/repetition; text that
    // barely deflates is noise/binary). DEFLATE bytes have no DuckDB
    // counterpart, so the query is rows-only by design with a Verify
    // invariant gating (1) ratio bounds, (2) run-to-run determinism,
    // and (3) the signal itself — doubled text must compress strictly
    // better than single text (back-references across the copy).
    // Shape: embarrassingly parallel per-row work, no shuffle beyond
    // presentation; one Deflater per partition, reused.
    // Count-min sketch frequency estimates over the token stream
    // (CmsOps): the sketch is a ≤ Depth×Width cell table from ONE
    // map-side-combinable aggregate; probes broadcast it. True counts
    // computed alongside purely to publish the CMS guarantee the
    // oracle then re-derives bit-for-bit: overcount ≥ 0 always (CMS
    // never undercounts), bounded by εN in expectation. The sketch is
    // also an incremental index — CmsSpec pins merge-by-summation ==
    // one-shot, and StreamingCms maintains it under micro-batches.
    "text_cms_counts" -> { (s, d) =>
      val toks = withToks(docs(s, d)).select(explode(col("toks")).as("tok"))
      // vocabulary-sized and referenced three times (sketch build,
      // probe set, truth join) — materialized so the tokenize+explode
      // pass runs once; the sketch builds from the counts (one md5
      // per distinct token per depth, not per occurrence — identical
      // cells, see buildCmsFromCounts). localCheckpoint, not persist:
      // query-scoped blocks, no CacheManager leak across queries.
      val truec = graft.sources.Tables.materialize(
        toks.groupBy("tok").agg(count(lit(1)).as("true_cnt")))
      CmsOps.probeCms(
          CmsOps.buildCmsFromCounts(truec, col("tok"), col("true_cnt")),
          truec, col("tok"))
        .join(truec, "tok")
        .select(col("tok"), col("true_cnt"), col("est_cnt"),
          (col("est_cnt") - col("true_cnt")).as("overcount"))
        .orderBy("tok")
    },

    // CMS join-size estimation (the planner-grade cardinality
    // primitive): |A ⋈ B| on the token key estimated as the
    // min-over-depths INNER PRODUCT of two sketches — 4096-cell
    // tables joined on (d, cell), never the corpora. Upper-bounds the
    // true size (published alongside), with expected overcount
    // ≤ N_A·N_B/Width per depth. Hash-exact: both engines build the
    // identical sketches.
    "text_cms_join_size" -> { (s, d) =>
      val t = withToks(docs(s, d))
      val a = t.filter(col("doc_id") % 2 === 0).select(explode(col("toks")).as("tok"))
      val b = t.filter(col("doc_id") % 2 =!= 0).select(explode(col("toks")).as("tok"))
      // per-side token counts, NOT cached (r20 interleaved A/B:
      // materializing ca/cb measured ×1.23 SLOWER than recomputing the
      // half-corpus tokenize+count for the second reference — the r19
      // persist here was also a net loss once its cross-rep warm
      // flattery is removed); sketches build from the counts
      // (identical cells, md5 per distinct token — buildCmsFromCounts)
      val ca = a.groupBy("tok").agg(count(lit(1)).as("ca"))
      val cb = b.groupBy("tok").agg(count(lit(1)).as("cb"))
      val est = CmsOps.buildCmsFromCounts(ca, col("tok"), col("ca"))
        .join(CmsOps.buildCmsFromCounts(cb, col("tok"), col("cb"))
            .withColumnRenamed("cnt", "cntb"),
          Seq("d", "cell"))
        .groupBy("d").agg(sum(col("cnt") * col("cntb")).as("ip"))
        .agg(min("ip").as("est_size"))
      val truth = ca.join(cb, "tok")
        .agg(sum(col("ca") * col("cb")).as("true_size"))
      truth.crossJoin(est) // two single-row scalars
        .select(col("true_size"), col("est_size"),
          (col("est_size") - col("true_size")).as("overcount"))
    },

    // Distribution-drift screen between an incoming crawl batch and
    // the corpus (the data-quality gate next to novelty/dedup):
    // per-language TOTAL-VARIATION distance between add-1-smoothed
    // token distributions. Deliberately log-free (vs PSI/KL): the
    // numerator Σ|‖(c_new+1)·D_corp − (c_corp+1)·D_new‖ is EXACT
    // integer arithmetic and the distance is ONE correctly-rounded
    // IEEE division at the end — bit-identical across engines, no
    // libm. Shape: one conditional-count aggregate per (lang, token),
    // broadcast per-lang totals, one summing aggregate.
    "text_drift_tvd" -> { (s, d) =>
      val t = withToks(docs(s, d))
        .select(col("lang"), (col("doc_id") % 10 < 3).as("is_new"),
          explode(col("toks")).as("tok"))
      val counts = t.groupBy("lang", "tok").agg(
        sum(when(col("is_new"), 1L).otherwise(0L)).as("c_new"),
        sum(when(col("is_new"), 0L).otherwise(1L)).as("c_corp"))
      val totals = counts.groupBy("lang").agg(
        sum("c_new").as("n_new"), sum("c_corp").as("n_corp"),
        count(lit(1)).as("v"))
      counts.join(broadcast(totals), "lang")
        .withColumn("num",
          abs((col("c_new") + 1) * (col("n_corp") + col("v")) -
            (col("c_corp") + 1) * (col("n_new") + col("v"))))
        .groupBy("lang").agg(
          first("n_new").as("n_new"), first("n_corp").as("n_corp"),
          first("v").as("v"), sum("num").as("tvd_num"))
        .withColumn("tvd",
          col("tvd_num").cast("double") /
            (lit(2.0) * (col("n_new") + col("v")).cast("double") *
              (col("n_corp") + col("v")).cast("double")))
        .select("lang", "n_new", "n_corp", "v", "tvd_num", "tvd")
        .orderBy("lang")
    },

    "text_compress_ratio" -> { (s, d) =>
      import s.implicits._
      docs(s, d).select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, t) =>
            val bytes = t.getBytes("UTF-8")
            val z = deflateLen(bytes)
            (id, bytes.length.toLong, z, z.toDouble / math.max(bytes.length, 1))
          }
        }.toDF("doc_id", "n_bytes", "z_bytes", "ratio").orderBy("doc_id")
    },

    // N-gram novelty screen: for each NEW document (the incoming 30%
    // by the same doc_id split the incremental-dedup family models),
    // the fraction of its DISTINCT word-3grams absent from the corpus
    // (the other 70%) — the diversity/novelty signal curation
    // pipelines pair with dedup (near-zero novelty ⇒ boilerplate or
    // near-dup; high ⇒ new content). Shape at 100 TB: both gram sets
    // are map-side-combined distinct aggregates, then ONE equi-join on
    // the gram key (batch side grows with the increment, corpus side
    // scan-only) and a per-doc count — no all-pairs anything. The
    // ratio is one IEEE double division of exact integer counts,
    // bit-identical in both engines.
    "text_novelty" -> { (s, d) =>
      val t = withToks(docs(s, d))
      val bg = t.filter(col("doc_id") % 10 < 3)
        .select(col("doc_id"), explode(shingles(col("toks"), 3)).as("gram"))
        .distinct()
      val cg = t.filter(col("doc_id") % 10 >= 3)
        .select(explode(shingles(col("toks"), 3)).as("gram"))
        .distinct()
        .withColumn("known", lit(1))
      bg.join(cg, Seq("gram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty", col("n_novel").cast("double") / col("n_grams"))
        .select("doc_id", "n_grams", "n_novel", "novelty")
        .orderBy("doc_id")
    },

    // CCNet-style paragraph dedup (Wenzek et al. 2020 dedups exact
    // paragraphs corpus-wide before LM filtering): the corpus has no
    // newlines, so "paragraphs" are fixed 32-token chunks. Keep-first
    // semantics — a chunk instance survives iff it is the (doc_id,
    // idx)-minimal occurrence of its exact text. Per doc: chunk count,
    // dropped count, surviving token count, and the keep ratio (an
    // exact integer-ratio double). Shape at 100 TB: chunking is
    // map-side (one explode per doc, corpus-linear, NOT quadratic like
    // shingling all-pairs); the only shuffles are one hash aggregate
    // keyed on the chunk text (min(struct) is map-side combinable) and
    // one equi-join back on that same key — both data-sized, no
    // windows over unbounded groups, no driver state.
    "text_chunk_dedup" -> { (s, d) =>
      val chunks = chunkRows(docs(s, d))
        .withColumn("n_ctoks", size(split(col("chunk"), " ")).cast("long"))
      val firsts = chunks.groupBy("chunk")
        .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
      chunks.join(firsts, "chunk")
        .withColumn("kept",
          col("doc_id") === col("f.doc_id") && col("idx") === col("f.idx"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
          sum(when(col("kept"), col("n_ctoks")).otherwise(0L)).as("kept_tokens"))
        .withColumn("keep_ratio",
          (col("n_chunks") - col("n_dropped")).cast("double") / col("n_chunks"))
        .select("doc_id", "n_chunks", "n_dropped", "kept_tokens", "keep_ratio")
        .orderBy("doc_id")
    },

    // Collocation extraction: the 50 word-bigrams whose observed
    // count most exceeds what their unigram frequencies predict —
    // PMI-ranked via the monotone-equivalent ratio
    // c(x,y)·N / (c(x)·c(y)), kept in integer-exact double products
    // (no transcendentals, so the two engines agree bit-for-bit after
    // 1e-6 quantization). Shape at 100 TB: unigram + bigram counts are
    // map-side-combined hash aggregates; the MinCnt filter prunes the
    // long tail BEFORE the two vocab-keyed probe joins; the global
    // top-50 is TakeOrdered (per-partition heads merged on the
    // driver), never a single-task sort.
    "text_pmi_bigrams" -> { (s, d) =>
      val MinCnt = 5
      val toks = withToks(docs(s, d)).select(col("toks"))
      val uni = toks.select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val nb = toks.select(
        sum(when(size(col("toks")) >= 2, size(col("toks")) - 1).otherwise(0))
          .cast("long").as("nb"))
      toks.select(explode(shingles(col("toks"), 2)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("cxy"))
        .filter(col("cxy") >= MinCnt)
        .withColumn("x", substring_index(col("gram"), " ", 1))
        .withColumn("y", substring_index(col("gram"), " ", -1))
        .join(uni.select(col("w").as("x"), col("c").as("cx")), "x")
        .join(uni.select(col("w").as("y"), col("c").as("cy")), "y")
        .crossJoin(broadcast(nb))
        .withColumn("score", expr(
          "floor(((CAST(cxy AS DOUBLE) * CAST(nb AS DOUBLE)) / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))) * 1e6 + 0.5) / 1e6"))
        .orderBy(col("score").desc, col("gram")).limit(50)
        .select("gram", "cxy", "cx", "cy", "score")
    },

    // Unigram-LM perplexity scoring (the classic LM-quality filter —
    // report the mean negative log-likelihood; perplexity = e^avg_nll).
    // Token surprisals are quantized to fixed-point BIGINTs
    // (floor(1e6·ln(T/c) + 0.5)) so per-doc sums are exact integer
    // arithmetic — bit-identical under any shuffle/merge order in
    // either engine; a raw double sum would be addition-order-
    // dependent. Shape: (doc, word) counts and the vocabulary are both
    // hash aggregates; docs probe the vocab through a join keyed on
    // the word (broadcastable once the vocab is top-K-capped) and
    // reduce per doc_id. No driver state, no collects.
    "text_perplexity" -> { (s, d) =>
      val Fp = 1e6
      val dc = withToks(docs(s, d)).filter(size(col("toks")) > 0)
        .select(col("doc_id"), explode(col("toks")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      val vocab = dc.groupBy("w").agg(sum("c").as("cw"))
      val total = vocab.agg(sum("cw").as("t"))
      val vfp = vocab.crossJoin(broadcast(total))
        .select(col("w"),
          floor(log(col("t").cast("double") / col("cw")) * Fp + 0.5)
            .cast("long").as("lp_fp"))
      dc.join(vfp, "w")
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"), sum(col("c") * col("lp_fp")).as("nll_fp"))
        .select(col("doc_id"), col("n_tokens"),
          (col("nll_fp").cast("double") / (col("n_tokens") * Fp)).as("avg_nll"))
        .orderBy("doc_id")
    },

    // Per-document unigram entropy (the gibberish/boilerplate quality
    // signal next to compress_ratio: near-zero entropy = one token
    // repeated, high = diverse vocabulary). Same fixed-point discipline
    // as text_perplexity — per-(doc, word) surprisal ln(n_d/c) is
    // quantized to a BIGINT BEFORE the per-doc sum, so the aggregate is
    // exact integer arithmetic under any shuffle order; here the
    // distribution is the document's OWN token histogram, not the
    // corpus LM. Shape: one (doc, word) hash aggregate, a per-doc
    // total, and a join that reuses the doc_id partitioning.
    "text_entropy" -> { (s, d) =>
      val Fp = 1e6
      val dc = withToks(docs(s, d)).filter(size(col("toks")) > 0)
        .select(col("doc_id"), explode(col("toks")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      val nd = dc.groupBy("doc_id").agg(sum("c").as("n"))
      dc.join(nd, "doc_id")
        .withColumn("surp_fp",
          floor(log(col("n").cast("double") / col("c")) * Fp + 0.5).cast("long"))
        .groupBy("doc_id")
        .agg(first(col("n")).as("n_tokens"),
          sum(col("c") * col("surp_fp")).as("h_fp"))
        .select(col("doc_id"), col("n_tokens"), col("h_fp"),
          (col("h_fp").cast("double") / (col("n_tokens") * Fp)).as("entropy"))
        .orderBy("doc_id")
    },

    // Quality-classifier scoring — the fastText/DCLM tier of the
    // curation battery, next to the Gopher rules and the perplexity
    // proxy: a hashed-n-gram LINEAR model. Unigram + bigram features
    // hash into QcBuckets; the score is one per-row integer dot
    // against a fixed-point weight vector that ships WITH THE PLAN
    // (the broadcast-model inference shape: every executor holds the
    // whole weight array — 32 KB here, executor-memory-sized even at
    // fastText's 2M-bucket production width — and scoring is a single
    // array pass per document: no explode, no weight-table join, no
    // shuffle; the only shuffle in the plan is the output ORDER BY).
    // All-integer mean + ONE rounded sigmoid keeps score, probability
    // and verdict hash-exact cross-engine.
    "text_quality_classifier" -> { (s, d) =>
      val w = typedlit(qcWeights)
      // fanout: inference is pure per-row CPU (tokenize + one md5 per
      // feature) and the fixture scan is one task — spread the rows
      // across the cores first; at scale the scan already is
      graft.sources.Tables.fanout(docs(s, d))
        .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
        .withColumn("feats",
          concat(col("toks"), graft.functions.TextFunctions.shingles(col("toks"), 2)))
        .withColumn("n_feats", size(col("feats")).cast("long"))
        .withColumn("sum_w", aggregate(col("feats"), lit(0L),
          (acc, f) => acc + element_at(w,
            (graft.functions.TextFunctions.tokenHash(f) % QcBuckets).cast("int") + 1)))
        .withColumn("score_micro",
          when(col("n_feats") === 0, lit(-1000000L + QcBiasMicro))
            .otherwise(expr(
              s"((sum_w + 1000 * n_feats) * 1000) div n_feats - 1000000 + $QcBiasMicro"))
            .cast("long"))
        .withColumn("p_milli",
          floor(lit(1000.0) / (lit(1.0) + exp(-col("score_micro") / lit(1000000.0))) + 0.5)
            .cast("long"))
        .withColumn("verdict",
          when(col("score_micro") >= 0, lit("keep")).otherwise(lit("drop")))
        .select("doc_id", "n_feats", "score_micro", "p_milli", "verdict")
        .orderBy("doc_id")
    }
  )

  /** BM25 query terms (all present in the synthetic vocabulary). */
  private val Bm25Query = Seq("spark", "join", "window", "hash")

  /** Shared formula strings, interpolated verbatim into BOTH the Spark
    * plan (via `expr`) and the DuckDB oracle: the two engines parse the
    * same text into the same IEEE operation sequence, so +,-,*,/ (all
    * correctly-rounded) produce bit-identical doubles. The ONE
    * operation without that guarantee is `ln` — JVM Math.log and
    * libm log may differ by 1 ulp, which could flip the fixed-point
    * BIGINT if ln(x)*1e6 + 0.5 landed within ~1e-9 of an integer.
    * It does not: the corpus yields few distinct ln inputs (integer
    * ratios of vocabulary counts) and their measured minimum distance
    * to a quantization boundary is 1.0e-2 — seven orders above the
    * divergence scale (pinned by CorpusStatsSpec's margin test, so a
    * testdata change that erodes the margin fails loudly instead of
    * flaking the oracle gate).
    * Expects columns: nd, df (idf forms); idf_fp, tf, dl, avgdl (BM25).
    */
  private val TfIdfFpExpr =
    "CAST(floor(ln(CAST(nd AS DOUBLE) / df) * 1000000.0 + 0.5) AS BIGINT)"
  private val Bm25IdfFpExpr =
    "CAST(floor(ln((CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0) * 1000000.0 + 0.5) AS BIGINT)"
  private val Bm25FpExpr =
    "CAST(floor((CAST(idf_fp AS DOUBLE) / 1000000.0) * (CAST(tf AS DOUBLE) * 2.2) / " +
      "(CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) " +
      "* 1000000.0 + 0.5) AS BIGINT)"

  // ---- generated DuckDB oracles (same constants, same algorithm) ----

  private val toksSql =
    """list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '')"""

  private def thSql(x: String) =
    s"CAST(('0x'||substring(md5($x),1,8)) AS BIGINT)"

  /** One signed 64-bit half of md5(`x`): hex chars [off, off+16) as
    * two 32-bit chunks, assembled two's-complement — DuckDB's hex cast
    * cannot parse 16 hex chars into a signed BIGINT directly, but
    * `(hi − 2^32·[hi ≥ 2^31])·2^32 + lo` peaks at exactly BIGINT max,
    * so this never overflows and matches [[TextKernels.hash64]]
    * bit-for-bit.
    */
  private def th64Sql(x: String, off: Int) = {
    val hi = s"CAST(('0x'||substring(md5($x),$off,8)) AS BIGINT)"
    val lo = s"CAST(('0x'||substring(md5($x),${off + 8},8)) AS BIGINT)"
    s"($hi - CASE WHEN $hi >= 2147483648 THEN 4294967296 ELSE 0 END) * 4294967296 + $lo"
  }

  private def shinglesSql(n: Int) = {
    val parts = (1 to n).map(j => s"toks[i+$j]").mkString(", ")
    s"CASE WHEN len(toks) >= $n THEN list_transform(range(0, len(toks)-${n - 1}), i -> concat_ws(' ', $parts)) ELSE [] END"
  }

  private val mhSql: String = {
    val terms = coeffs.map { case (a, b) =>
      s"list_min(list_transform(sh, s -> (${a}::BIGINT * ${thSql("s")} + $b) % ${graft.functions.TextFunctions.HashPrime}))"
    }.mkString(", ")
    s"[$terms]"
  }

  private val stopSqlEn = stopwords.head._2.map(w => s"'$w'").mkString(", ")

  /** The MinHash+LSH pair pipeline (signatures → bands → candidate
    * pairs → Jaccard-filtered `filtered` CTE), shared by the pair and
    * cluster oracles.
    */
  private val minhashPairCtes: String = {
    val bandSelects = (0 until Bands).map { bi =>
      val ks = (1 to R).map(j => s"mh[${bi * R + j}]").mkString(", ")
      s"SELECT doc_id, $bi AS band, md5(concat_ws(',', $ks)) AS bkey FROM mh"
    }.mkString("\n  UNION ALL\n  ")
    val estTerms = (1 to K).map(i => s"CASE WHEN ma[$i] = mb[$i] THEN 1 ELSE 0 END").mkString(" + ")
    s"""sh AS (
       |  SELECT doc_id, sh FROM (
       |    SELECT doc_id, ${shinglesSql(3)} AS sh
       |    FROM (SELECT doc_id, $toksSql AS toks FROM documents))
       |  WHERE len(sh) > 0),
       |mh AS (SELECT doc_id, $mhSql AS mh FROM sh),
       |bands AS (
       |  $bandSelects),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
       |  WHERE x.doc_id < y.doc_id),
       |filtered AS (
       |  SELECT a, b, CAST($estTerms AS DOUBLE) / $K AS est_jaccard
       |  FROM pairs
       |    JOIN (SELECT doc_id AS a, mh AS ma FROM mh) USING (a)
       |    JOIN (SELECT doc_id AS b, mh AS mb FROM mh) USING (b)
       |  WHERE CAST($estTerms AS DOUBLE) / $K >= $JaccardT)""".stripMargin
  }

  /** Connected components over the minhash pair graph — shared ground
    * truth for BOTH clusterResolve tiers (driver union-find and
    * distributed min-label propagation).
    */
  /** The recursive-CTE prefix computing the `comp` (node, label)
    * closure — shared by the plain, distributed, and keeper oracles.
    */
  private val clusterLabelCtes: String =
    s"""WITH RECURSIVE $minhashPairCtes,
       |edges AS (
       |  SELECT a AS src, b AS dst FROM filtered
       |  UNION ALL SELECT b AS src, a AS dst FROM filtered),
       |comp AS (
       |  SELECT DISTINCT src AS node, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst AS node, c.lbl FROM comp c JOIN edges e ON e.src = c.node)""".stripMargin

  private val clusterResolveSql: String =
    s"""$clusterLabelCtes
       |SELECT node AS doc_id, MIN(lbl) AS cluster_id
       |FROM comp GROUP BY node ORDER BY doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "text_tokens" ->
      s"""SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct
         |FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "text_tokens_bpe" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"""SELECT doc_id, len(toks) AS n_tokens,
         |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len,
         |  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_token_len,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
         |  CAST(len(list_filter(toks, t -> t IN ($stopSqlEn))) AS DOUBLE) / len(toks) AS stop_ratio
         |FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "text_normalize" ->
      """SELECT doc_id,
        |  md5(nfc_normalize(text || ' cafe' || 'e' || chr(769))) AS nfc_md5,
        |  length(nfc_normalize(text || ' cafe' || 'e' || chr(769)))
        |    < length(text || ' cafe' || 'e' || chr(769)) AS changed,
        |  CAST(length(nfc_normalize(text || ' cafe' || 'e' || chr(769))) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_gopher_filter" ->
      s"""SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  len(toks) BETWEEN 50 AND 100000 AS r_words,
         |  COALESCE(sl, 0) >= len(toks)*3 AND COALESCE(sl, 0) <= len(toks)*10 AS r_meanlen,
         |  10 * len(list_filter(toks, t -> starts_with(t, '#') OR contains(t, '...'))) <= len(toks) AS r_symbol,
         |  len(list_filter(toks, t -> t IN ($stopSqlEn))) >= 2 AS r_stop,
         |  (len(toks) BETWEEN 50 AND 100000)
         |    AND (COALESCE(sl, 0) >= len(toks)*3 AND COALESCE(sl, 0) <= len(toks)*10)
         |    AND (10 * len(list_filter(toks, t -> starts_with(t, '#') OR contains(t, '...'))) <= len(toks))
         |    AND (len(list_filter(toks, t -> t IN ($stopSqlEn))) >= 2) AS keep
         |FROM (SELECT doc_id, toks,
         |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sl
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents))
         |ORDER BY doc_id""".stripMargin,

    "text_langid" -> {
      val scores = stopwords.map { case (lang, words) =>
        s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(", ")}))) AS s_$lang"
      }.mkString(",\n  ")
      val best = s"greatest(${stopwords.map("s_" + _._1).mkString(", ")})"
      val cases = stopwords.map { case (lang, _) =>
        s"WHEN s_$lang = $best AND $best > 0 THEN '$lang'"
      }.mkString(" ")
      s"""SELECT lang, lang_pred, COUNT(*) AS cnt FROM (
         |  SELECT lang, CASE $cases ELSE 'unknown' END AS lang_pred FROM (
         |    SELECT lang, $scores
         |    FROM (SELECT lang, $toksSql AS toks FROM documents)))
         |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin
    },

    "text_fingerprint" ->
      s"""SELECT doc_id,
         |  COALESCE(list_min(list_transform(sh4, s -> ${thSql("s")})), -1) AS fp,
         |  len(sh4) AS n_shingles
         |FROM (SELECT doc_id, ${shinglesSql(4).replace("toks", "toks")} AS sh4
         |      FROM (SELECT doc_id, $toksSql AS toks FROM documents))
         |ORDER BY doc_id""".stripMargin,

    "text_dup_spans" ->
      s"""SELECT h1, h2, n_docs, n_occurrences, first_doc, last_doc FROM (
         |  SELECT h1, h2, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences,
         |    MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |  FROM (
         |    SELECT doc_id, ${th64Sql("g", 1)} AS h1, ${th64Sql("g", 17)} AS h2 FROM (
         |      SELECT doc_id, unnest(${shinglesSql(DupSpanLen)}) AS g
         |      FROM (SELECT doc_id, $toksSql AS toks FROM documents)))
         |  GROUP BY h1, h2)
         |WHERE n_docs >= 2 ORDER BY h1, h2""".stripMargin,

    "dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "dedup_incremental" ->
      """WITH batch AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 < 3),
        |idx AS (SELECT md5(text) AS h, MIN(doc_id) AS index_doc
        |        FROM documents WHERE doc_id % 10 >= 3 GROUP BY 1),
        |firstb AS (SELECT h, MIN(doc_id) AS first_in_batch FROM batch GROUP BY h)
        |SELECT b.doc_id,
        |  CASE WHEN i.index_doc IS NOT NULL THEN 'corpus_dup'
        |       WHEN b.doc_id <> f.first_in_batch THEN 'batch_dup'
        |       ELSE 'unique' END AS verdict,
        |  CASE WHEN i.index_doc IS NOT NULL THEN i.index_doc
        |       WHEN b.doc_id <> f.first_in_batch THEN f.first_in_batch END AS dup_of
        |FROM batch b
        |  JOIN firstb f USING (h)
        |  LEFT JOIN idx i USING (h)
        |ORDER BY doc_id""".stripMargin,

    "dedup_bloom_screen" -> {
      def posSql(t: String) =
        s"CAST(('0x'||substring(md5(CAST(k AS VARCHAR)||'|'||$t),1,8)) AS BIGINT) % $BloomBits"
      s"""WITH ks AS (SELECT unnest(range(0, $BloomK)) AS k),
         |bits AS (SELECT DISTINCT ${posSql("text")} AS pos
         |         FROM (SELECT text FROM documents WHERE doc_id % 10 >= 3) CROSS JOIN ks),
         |probes AS (SELECT doc_id, ${posSql("text")} AS pos
         |           FROM (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 3) CROSS JOIN ks),
         |verd AS (SELECT doc_id,
         |    CAST(SUM(CASE WHEN bits.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) = $BloomK AS maybe
         |  FROM probes LEFT JOIN bits USING (pos) GROUP BY 1),
         |tru AS (SELECT doc_id,
         |    md5(text) IN (SELECT md5(text) FROM documents WHERE doc_id % 10 >= 3) AS is_dup
         |  FROM documents WHERE doc_id % 10 < 3)
         |SELECT doc_id, CASE WHEN maybe THEN 'maybe_dup' ELSE 'new' END AS verdict, is_dup
         |FROM verd JOIN tru USING (doc_id) ORDER BY doc_id""".stripMargin
    },

    "dedup_incremental_minhash" -> {
      val estTerms = (1 to K).map(i => s"CASE WHEN ma[$i] = mb[$i] THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $minhashPairCtes,
         |cand AS (
         |  SELECT DISTINCT n.doc_id AS a, c.doc_id AS b
         |  FROM bands n JOIN bands c ON n.band = c.band AND n.bkey = c.bkey
         |  WHERE n.doc_id % 10 < 3 AND c.doc_id % 10 >= 3),
         |scored AS (
         |  SELECT a, b, CAST($estTerms AS DOUBLE) / $K AS est_jaccard
         |  FROM cand
         |    JOIN (SELECT doc_id AS a, mh AS ma FROM mh) USING (a)
         |    JOIN (SELECT doc_id AS b, mh AS mb FROM mh) USING (b)
         |  WHERE CAST($estTerms AS DOUBLE) / $K >= $JaccardT)
         |SELECT a AS doc_id, b AS dup_of, est_jaccard FROM (
         |  SELECT a, b, est_jaccard,
         |    ROW_NUMBER() OVER (PARTITION BY a ORDER BY est_jaccard DESC, b) AS rn
         |  FROM scored)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin
    },

    "dedup_ngram_jaccard" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, list_distinct(list_transform(sh, s -> ${thSql("s")})) AS hs FROM (
         |    SELECT doc_id, source, ${shinglesSql(3)} AS sh
         |    FROM (SELECT doc_id, source, $toksSql AS toks FROM documents WHERE doc_id < 2000))
         |  WHERE len(sh) > 0)
         |SELECT a, b, CAST(inter AS DOUBLE) / (na + nb - inter) AS jac FROM (
         |  SELECT x.doc_id AS a, y.doc_id AS b, len(x.hs) AS na, len(y.hs) AS nb,
         |    len(list_intersect(x.hs, y.hs)) AS inter
         |  FROM base x JOIN base y ON x.source = y.source AND x.doc_id < y.doc_id)
         |WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
         |ORDER BY a, b""".stripMargin,

    "dedup_containment" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, list_distinct(list_transform(sh, s -> ${thSql("s")})) AS hs FROM (
         |    SELECT doc_id, source, ${shinglesSql(3)} AS sh
         |    FROM (SELECT doc_id, source, $toksSql AS toks FROM documents WHERE doc_id < 2000))
         |  WHERE len(sh) > 0)
         |SELECT a, b, CAST(inter AS DOUBLE) / LEAST(na, nb) AS cont FROM (
         |  SELECT x.doc_id AS a, y.doc_id AS b, len(x.hs) AS na, len(y.hs) AS nb,
         |    len(list_intersect(x.hs, y.hs)) AS inter
         |  FROM base x JOIN base y ON x.source = y.source AND x.doc_id < y.doc_id)
         |WHERE CAST(inter AS DOUBLE) / LEAST(na, nb) >= 0.8
         |ORDER BY a, b""".stripMargin,

    "dedup_minhash_lsh" -> s"""WITH $minhashPairCtes
         |SELECT a, b, est_jaccard FROM filtered ORDER BY a, b""".stripMargin,

    // connected components over the filtered near-dup pairs: the
    // recursive CTE enumerates (node, label-of-reachable-node) over
    // the undirected edges; MIN per node = the component's min doc_id
    "dedup_cluster_resolve" -> clusterResolveSql,
    // distributed min-label tier, same ground truth
    "dedup_cluster_resolve_dist" -> clusterResolveSql,

    "sample_split_leakage_safe" -> {
      val key = s"((split_key % ${CurationQueries.MixMod}) * " +
        s"${CurationQueries.SampleMix}) % ${CurationQueries.MixMod} % 100"
      s"""$clusterLabelCtes,
         |labels AS (
         |  SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM comp GROUP BY node),
         |keyed AS (
         |  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS split_key
         |  FROM documents d LEFT JOIN labels l USING (doc_id))
         |SELECT doc_id, split_key,
         |  CASE WHEN $key < ${CurationQueries.SplitTrainPct} THEN 'train'
         |       WHEN $key < ${CurationQueries.SplitTrainPct + CurationQueries.SplitValPct}
         |         THEN 'validation'
         |       ELSE 'test' END AS split
         |FROM keyed ORDER BY doc_id""".stripMargin
    },

    // longest-member canonical selection over the same cluster labels
    "dedup_cluster_keeper" ->
      s"""$clusterLabelCtes,
         |labels AS (
         |  SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM comp GROUP BY node),
         |ranked AS (
         |  SELECT cluster_id, doc_id, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY cluster_id
         |      ORDER BY n_chars DESC, doc_id) AS rk
         |  FROM labels JOIN documents USING (doc_id))
         |SELECT cluster_id, COUNT(*) AS n_members,
         |  CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS keeper_doc,
         |  CAST(MAX(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS keeper_chars
         |FROM ranked GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    "dedup_simhash_pairs" -> {
      val bitSums = (0 until 32).map { j =>
        s"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH sh AS (
         |  SELECT doc_id, CAST($bitSums AS BIGINT) AS sh
         |  FROM (SELECT doc_id, list_transform(toks, t -> ${thSql("t")}) AS hs
         |        FROM (SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id < 1000))),
         |bands AS (
         |  SELECT doc_id, sh, 0 AS band, sh >> 16 AS bucket FROM sh
         |  UNION ALL
         |  SELECT doc_id, sh, 1 AS band, sh & 65535 AS bucket FROM sh),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
         |  WHERE x.doc_id < y.doc_id)
         |SELECT a, b, CAST(bit_count(xor(xs.sh, ys.sh)) AS INT) AS dist
         |FROM pairs
         |  JOIN sh xs ON xs.doc_id = a
         |  JOIN sh ys ON ys.doc_id = b
         |WHERE bit_count(xor(xs.sh, ys.sh)) <= 8
         |ORDER BY a, b""".stripMargin
    },

    "dedup_simhash" -> {
      val bitSums = (0 until 32).map { j =>
        s"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      s"""SELECT doc_id, CAST($bitSums AS BIGINT) AS simhash,
         |  CAST($bitSums AS BIGINT) >> 16 AS bucket
         |FROM (SELECT doc_id, list_transform(toks, t -> ${thSql("t")}) AS hs
         |      FROM (SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id < 1000))
         |ORDER BY doc_id""".stripMargin
    },

    "text_cms_counts" -> {
      val cells = CmsOps.cellSql("d", "tok")
      val pcells = CmsOps.cellSql("dp.d", "t.tok")
      s"""WITH toks AS (SELECT unnest($toksSql) AS tok FROM documents),
         |depths AS (SELECT unnest(range(0, ${CmsOps.Depth})) AS d),
         |cells AS (
         |  SELECT d, $cells AS cell, COUNT(*) AS cnt
         |  FROM toks CROSS JOIN depths GROUP BY 1, 2),
         |truec AS (SELECT tok, COUNT(*) AS true_cnt FROM toks GROUP BY 1),
         |est AS (
         |  SELECT tok, MIN(COALESCE(cnt, 0)) AS est_cnt FROM (
         |    SELECT t.tok, dp.d, $pcells AS cell
         |    FROM (SELECT DISTINCT tok FROM toks) t CROSS JOIN depths dp) p
         |  LEFT JOIN cells USING (d, cell) GROUP BY tok)
         |SELECT tok, true_cnt, est_cnt, est_cnt - true_cnt AS overcount
         |FROM truec JOIN est USING (tok) ORDER BY tok""".stripMargin
    },

    "text_vocab_coverage" ->
      s"""WITH counts AS (SELECT tok, COUNT(*) AS cnt
         |  FROM (SELECT unnest($toksSql) AS tok FROM documents) GROUP BY 1),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
         |top AS (SELECT tok, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk
         |        FROM counts QUALIFY rnk <= 20)
         |SELECT rnk, tok, cnt,
         |  CAST(SUM(cnt) OVER w AS BIGINT) AS cum,
         |  CAST(CAST(SUM(cnt) OVER w AS BIGINT) AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
         |FROM top, tot
         |WINDOW w AS (ORDER BY rnk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY rnk""".stripMargin,

    "text_cms_join_size" -> {
      val ca = CmsOps.cellSql("d", "tok")
      s"""WITH ta AS (SELECT unnest($toksSql) AS tok FROM documents WHERE doc_id % 2 = 0),
         |tb AS (SELECT unnest($toksSql) AS tok FROM documents WHERE doc_id % 2 = 1),
         |depths AS (SELECT unnest(range(0, ${CmsOps.Depth})) AS d),
         |ca AS (SELECT d, $ca AS cell, COUNT(*) AS cnt
         |       FROM ta CROSS JOIN depths GROUP BY 1, 2),
         |cb AS (SELECT d, $ca AS cell, COUNT(*) AS cnt
         |       FROM tb CROSS JOIN depths GROUP BY 1, 2),
         |est AS (SELECT MIN(ip) AS est_size FROM (
         |  SELECT ca.d, CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS ip
         |  FROM ca JOIN cb USING (d, cell) GROUP BY 1)),
         |tru AS (SELECT CAST(SUM(a.c * b.c) AS BIGINT) AS true_size FROM
         |  (SELECT tok, COUNT(*) AS c FROM ta GROUP BY 1) a JOIN
         |  (SELECT tok, COUNT(*) AS c FROM tb GROUP BY 1) b USING (tok))
         |SELECT true_size, est_size, est_size - true_size AS overcount
         |FROM tru, est""".stripMargin
    },

    "text_drift_tvd" ->
      s"""WITH t AS (SELECT lang, doc_id % 10 < 3 AS is_new,
         |    unnest($toksSql) AS tok FROM documents),
         |counts AS (SELECT lang, tok,
         |  CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS c_new,
         |  CAST(SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS c_corp
         |  FROM t GROUP BY 1, 2),
         |totals AS (SELECT lang, CAST(SUM(c_new) AS BIGINT) AS n_new,
         |  CAST(SUM(c_corp) AS BIGINT) AS n_corp, COUNT(*) AS v
         |  FROM counts GROUP BY 1)
         |SELECT lang, n_new, n_corp, v,
         |  CAST(SUM(abs((c_new + 1) * (n_corp + v) - (c_corp + 1) * (n_new + v))) AS BIGINT) AS tvd_num,
         |  CAST(SUM(abs((c_new + 1) * (n_corp + v) - (c_corp + 1) * (n_new + v))) AS DOUBLE)
         |    / (2.0 * CAST(n_new + v AS DOUBLE) * CAST(n_corp + v AS DOUBLE)) AS tvd
         |FROM counts JOIN totals USING (lang)
         |GROUP BY lang, n_new, n_corp, v ORDER BY lang""".stripMargin,

    "text_novelty" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |bg AS (SELECT DISTINCT doc_id, gram FROM (
         |  SELECT doc_id, unnest(${shinglesSql(3)}) AS gram FROM t WHERE doc_id % 10 < 3)),
         |cg AS (SELECT DISTINCT gram FROM (
         |  SELECT unnest(${shinglesSql(3)}) AS gram FROM t WHERE doc_id % 10 >= 3))
         |SELECT doc_id, COUNT(*) AS n_grams,
         |  CAST(SUM(CASE WHEN cg.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  CAST(SUM(CASE WHEN cg.gram IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
         |FROM bg LEFT JOIN cg USING (gram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_chunk_dedup" -> {
      val L = ChunkDedupLen
      s"""WITH t AS (SELECT doc_id, toks FROM
         |    (SELECT doc_id, $toksSql AS toks FROM documents)
         |  WHERE len(toks) > 0),
         |c AS (SELECT doc_id,
         |    unnest(range(0, (len(toks)-1)//$L + 1)) AS idx,
         |    unnest(list_transform(range(0, (len(toks)-1)//$L + 1),
         |      i -> array_to_string(toks[i*$L+1 : i*$L+$L], ' '))) AS chunk,
         |    unnest(list_transform(range(0, (len(toks)-1)//$L + 1),
         |      i -> least($L, len(toks) - i*$L))) AS n_ctoks
         |  FROM t),
         |k AS (SELECT doc_id, idx, n_ctoks,
         |    ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, idx) = 1 AS kept
         |  FROM c)
         |SELECT doc_id, COUNT(*) AS n_chunks,
         |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
         |  CAST(SUM(CASE WHEN kept THEN n_ctoks ELSE 0 END) AS BIGINT) AS kept_tokens,
         |  CAST(COUNT(*) - SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS DOUBLE)
         |    / COUNT(*) AS keep_ratio
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "pipeline_curate_e2e" -> {
      val listSql = Blocklist.map(w => s"'$w'").mkString(", ")
      val mix = s"((keeper % ${CurationQueries.MixMod}) * " +
        s"${CurationQueries.SampleMix}) % ${CurationQueries.MixMod} % 100"
      s"""WITH t AS (
         |  SELECT doc_id, source, text, $toksSql AS toks
         |  FROM documents WHERE lang = 'en'),
         |sc AS (
         |  SELECT doc_id, source, text, len(toks) AS n_tokens
         |  FROM t
         |  WHERE len(toks) >= 20
         |    AND len(list_filter(toks, x -> x IN ($stopSqlEn))) * 50 >= len(toks)
         |    AND len(list_distinct(toks)) * 100 >= len(toks) * 30
         |    AND len(list_filter(toks, x -> x IN ($listSql))) = 0),
         |k AS (SELECT md5(text) AS h, MIN(doc_id) AS keeper FROM sc GROUP BY 1),
         |kept AS (
         |  SELECT sc.doc_id, sc.source, sc.n_tokens, k.keeper
         |  FROM sc JOIN k ON md5(sc.text) = k.h
         |  WHERE sc.doc_id = k.keeper)
         |SELECT
         |  CASE WHEN $mix < ${CurationQueries.SplitTrainPct} THEN 'train'
         |       WHEN $mix < ${CurationQueries.SplitTrainPct + CurationQueries.SplitValPct}
         |         THEN 'validation'
         |       ELSE 'test' END AS split,
         |  source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |FROM kept GROUP BY split, source ORDER BY split, source""".stripMargin
    },

    "text_blocklist" -> {
      val listSql = Blocklist.map(w => s"'$w'").mkString(", ")
      s"""SELECT doc_id,
         |  CAST(len(list_filter(toks, t -> t IN ($listSql))) AS BIGINT) AS n_hits,
         |  CAST(len(list_filter(list_distinct(toks), t -> t IN ($listSql))) AS BIGINT)
         |    AS n_distinct_hits,
         |  len(list_filter(toks, t -> t IN ($listSql))) = 0 AS clean
         |FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    "text_dedup_rewrite" -> {
      val L = ChunkDedupLen
      s"""WITH t AS (SELECT doc_id, toks FROM
         |    (SELECT doc_id, $toksSql AS toks FROM documents)
         |  WHERE len(toks) > 0),
         |c AS (SELECT doc_id,
         |    unnest(range(0, (len(toks)-1)//$L + 1)) AS idx,
         |    unnest(list_transform(range(0, (len(toks)-1)//$L + 1),
         |      i -> array_to_string(toks[i*$L+1 : i*$L+$L], ' '))) AS chunk,
         |    unnest(list_transform(range(0, (len(toks)-1)//$L + 1),
         |      i -> least($L, len(toks) - i*$L))) AS n_ctoks
         |  FROM t),
         |k AS (SELECT doc_id, idx, chunk, n_ctoks,
         |    ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, idx) = 1 AS kept
         |  FROM c)
         |SELECT doc_id, COUNT(*) AS kept_chunks,
         |  CAST(SUM(n_ctoks) AS BIGINT) AS kept_tokens,
         |  md5(string_agg(chunk, ' ' ORDER BY idx)) AS rebuilt_md5
         |FROM k WHERE kept GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "text_dedup_rewrite_spans" -> {
      val L = DupSpanLen
      s"""WITH t AS (SELECT doc_id, toks FROM
         |    (SELECT doc_id, $toksSql AS toks FROM documents)
         |  WHERE len(toks) > 0),
         |sh AS (SELECT doc_id, ${shinglesSql(L)} AS sh FROM t),
         |spans AS (SELECT doc_id,
         |    unnest(range(0, len(sh))) AS p,
         |    unnest(list_transform(sh, g -> ${th64Sql("g", 1)})) AS h1,
         |    unnest(list_transform(sh, g -> ${th64Sql("g", 17)})) AS h2
         |  FROM sh),
         |dup AS (SELECT doc_id, p FROM (
         |    SELECT doc_id, p,
         |      ROW_NUMBER() OVER (PARTITION BY h1, h2 ORDER BY doc_id, p) AS rn
         |    FROM spans) WHERE rn > 1),
         |rem AS (SELECT DISTINCT doc_id, p + o.o AS pos
         |  FROM dup, (SELECT unnest(range(0, $L)) AS o) o),
         |tp AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos,
         |    unnest(toks) AS tok FROM t),
         |k AS (SELECT tp.doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
         |    md5(string_agg(tok, ' ' ORDER BY tp.pos)) AS rebuilt_md5
         |  FROM tp LEFT JOIN rem ON tp.doc_id = rem.doc_id AND tp.pos = rem.pos
         |  WHERE rem.pos IS NULL GROUP BY tp.doc_id)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |  COALESCE(k.kept_tokens, 0) AS kept_tokens,
         |  COALESCE(k.rebuilt_md5, md5('')) AS rebuilt_md5
         |FROM t LEFT JOIN k USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    "dedup_incremental_chunks" -> {
      val L = ChunkDedupLen
      s"""WITH t AS (SELECT doc_id, toks FROM
         |    (SELECT doc_id, $toksSql AS toks FROM documents)
         |  WHERE len(toks) > 0),
         |c AS (SELECT doc_id,
         |    unnest(range(0, (len(toks)-1)//$L + 1)) AS idx,
         |    unnest(list_transform(range(0, (len(toks)-1)//$L + 1),
         |      i -> array_to_string(toks[i*$L+1 : i*$L+$L], ' '))) AS chunk
         |  FROM t),
         |k AS (SELECT DISTINCT chunk FROM c WHERE doc_id % 10 >= 3),
         |b AS (SELECT doc_id, idx, chunk,
         |    ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, idx) = 1 AS first_b
         |  FROM c WHERE doc_id % 10 < 3),
         |v AS (SELECT b.doc_id,
         |    CASE WHEN k.chunk IS NOT NULL THEN 'corpus_dup'
         |         WHEN NOT first_b THEN 'batch_dup' ELSE 'unique' END AS verdict
         |  FROM b LEFT JOIN k USING (chunk))
         |SELECT doc_id, COUNT(*) AS n_chunks,
         |  CAST(SUM(CASE WHEN verdict = 'corpus_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_corpus_dup,
         |  CAST(SUM(CASE WHEN verdict = 'batch_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_batch_dup,
         |  CAST(SUM(CASE WHEN verdict = 'unique' THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
         |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "text_pmi_bigrams" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |uni AS (SELECT w, COUNT(*) AS c FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
         |nbt AS (SELECT SUM(CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END) AS nb FROM t),
         |bi AS (SELECT gram, COUNT(*) AS cxy
         |       FROM (SELECT unnest(${shinglesSql(2)}) AS gram FROM t)
         |       GROUP BY 1 HAVING COUNT(*) >= 5)
         |SELECT gram, cxy, cx, cy,
         |  floor(((CAST(cxy AS DOUBLE) * CAST(nb AS DOUBLE)) / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS score
         |FROM (SELECT gram, cxy, split_part(gram, ' ', 1) AS x, split_part(gram, ' ', 2) AS y FROM bi)
         |JOIN (SELECT w AS x, c AS cx FROM uni) USING (x)
         |JOIN (SELECT w AS y, c AS cy FROM uni) USING (y), nbt
         |ORDER BY score DESC, gram LIMIT 50""".stripMargin,

    // the oracle skips the salt-bucket pre-reduction (it is exact by
    // construction) and ranks directly
    "text_ngram_topk" ->
      s"""SELECT lang, rnk, gram, cnt FROM (
         |  SELECT lang, gram, cnt,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS rnk
         |  FROM (
         |    SELECT lang, gram, COUNT(*) AS cnt FROM (
         |      SELECT lang, unnest(${shinglesSql(2)}) AS gram
         |      FROM (SELECT lang, $toksSql AS toks FROM documents))
         |    GROUP BY 1, 2))
         |WHERE rnk <= 10 ORDER BY lang, rnk""".stripMargin,

    "text_tfidf_topk" ->
      s"""WITH dc AS (
         |  SELECT doc_id, w, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest(toks) AS w
         |    FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |    WHERE len(toks) > 0)
         |  GROUP BY 1, 2),
         |nd AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM dc),
         |idf AS (
         |  SELECT w, $TfIdfFpExpr AS idf_fp
         |  FROM (SELECT w, COUNT(*) AS df FROM dc GROUP BY 1), nd)
         |SELECT doc_id, rnk, w AS term, tf,
         |  CAST(tf * idf_fp AS DOUBLE) / 1000000.0 AS tfidf
         |FROM (
         |  SELECT dc.doc_id, dc.w, dc.tf, idf.idf_fp,
         |    ROW_NUMBER() OVER (PARTITION BY dc.doc_id
         |                       ORDER BY dc.tf * idf.idf_fp DESC, dc.w) AS rnk
         |  FROM dc JOIN idf USING (w))
         |WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin,

    "text_bm25_topk" -> {
      val qList = Bm25Query.map(q => s"'$q'").mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id, toks
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |  WHERE len(toks) > 0),
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
         |stats AS (SELECT COUNT(*) AS nd, CAST(SUM(dl) AS BIGINT) AS tt FROM dl),
         |dc AS (
         |  SELECT doc_id, w, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS w FROM base)
         |  WHERE w IN ($qList) GROUP BY 1, 2),
         |idf AS (
         |  SELECT w, $Bm25IdfFpExpr AS idf_fp
         |  FROM (SELECT w, COUNT(*) AS df FROM dc GROUP BY 1), stats),
         |terms AS (
         |  SELECT doc_id, $Bm25FpExpr AS term_fp FROM (
         |    SELECT dc.doc_id, dc.tf, idf.idf_fp, dl.dl,
         |      CAST(stats.tt AS DOUBLE) / stats.nd AS avgdl
         |    FROM dc JOIN idf USING (w) JOIN dl USING (doc_id), stats))
         |SELECT doc_id, CAST(SUM(term_fp) AS DOUBLE) / 1000000.0 AS bm25
         |FROM terms GROUP BY doc_id
         |ORDER BY SUM(term_fp) DESC, doc_id LIMIT 50""".stripMargin
    },

    "text_perplexity" ->
      s"""WITH dc AS (
         |  SELECT doc_id, w, COUNT(*) AS c FROM (
         |    SELECT doc_id, unnest(toks) AS w
         |    FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |    WHERE len(toks) > 0)
         |  GROUP BY 1, 2),
         |vocab AS (SELECT w, SUM(c) AS cw FROM dc GROUP BY 1),
         |tot AS (SELECT SUM(cw) AS t FROM vocab),
         |vfp AS (
         |  SELECT w, CAST(floor(ln(CAST(t AS DOUBLE) / cw) * 1000000.0 + 0.5) AS BIGINT) AS lp_fp
         |  FROM vocab, tot)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |  CAST(SUM(c * lp_fp) AS DOUBLE) / (SUM(c) * 1000000.0) AS avg_nll
         |FROM dc JOIN vfp USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_entropy" ->
      s"""WITH dc AS (
         |  SELECT doc_id, w, COUNT(*) AS c FROM (
         |    SELECT doc_id, unnest(toks) AS w
         |    FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |    WHERE len(toks) > 0)
         |  GROUP BY 1, 2),
         |nd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM dc GROUP BY 1),
         |s AS (
         |  SELECT doc_id, c, n,
         |    CAST(floor(ln(CAST(n AS DOUBLE) / c) * 1000000.0 + 0.5) AS BIGINT) AS surp_fp
         |  FROM dc JOIN nd USING (doc_id))
         |SELECT doc_id, n AS n_tokens, CAST(SUM(c * surp_fp) AS BIGINT) AS h_fp,
         |  CAST(SUM(c * surp_fp) AS DOUBLE) / (n * 1000000.0) AS entropy
         |FROM s GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,

    "text_quality_classifier" ->
      s"""WITH f AS (
         |  SELECT doc_id, CAST(len(feats) AS BIGINT) AS n_feats,
         |    list_sum(list_transform(feats,
         |      s -> ((${thSql("s")} % $QcBuckets) * $QcMult) % 2001 - 1000)) AS sum_w
         |  FROM (SELECT doc_id, list_concat(toks, ${shinglesSql(2)}) AS feats
         |        FROM (SELECT doc_id, $toksSql AS toks FROM documents))),
         |sc AS (
         |  SELECT doc_id, n_feats,
         |    CAST(CASE WHEN n_feats = 0 THEN ${-1000000L + QcBiasMicro}
         |         ELSE ((sum_w + 1000 * n_feats) * 1000) // n_feats - 1000000 + $QcBiasMicro
         |         END AS BIGINT) AS score_micro
         |  FROM f)
         |SELECT doc_id, n_feats, score_micro,
         |  CAST(floor(1000.0 / (1.0 + exp(-score_micro / 1000000.0)) + 0.5) AS BIGINT) AS p_milli,
         |  CASE WHEN score_micro >= 0 THEN 'keep' ELSE 'drop' END AS verdict
         |FROM sc ORDER BY doc_id""".stripMargin
  )
}
