package graft.ann

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

class SimilaritySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("cosine of a vector with itself is 1.0 exactly for unit-safe folds") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val c = df.select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-15)
  }

  test("brute-force top-k: k rows per query, ranked by descending cosine") {
    val emb = Tables.embeddings(spark, dir)
    val res = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 5)
      .collect()
    assert(res.length == 25)
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("multi-table LSH reaches usable recall vs brute force (sf0.001)") {
    val emb = Tables.embeddings(spark, dir)
    val brute = Similarity.bruteForceTopK(emb, emb, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, 5, bits = 6, dim = 64, tables = 16)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.4, s"LSH recall too low: $recall")
    // and the LSH path must never invent pairs with better cosine than
    // brute force's floor for that query — structural sanity
    assert(lsh.forall { case (q, n) => q != n })
  }

  test("binary sign quantization: recall floor, exact salted top-C, deterministic, one-long codes") {
    val emb = Tables.embeddings(spark, dir)
    val brute = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bq = Similarity.binaryTopK(emb, 5, 64, 10)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(bq).size.toDouble / brute.size
    assert(recall >= 0.7, s"binary-code recall too low: $recall")
    // deterministic end-to-end (anchors from the hash-ordered sample,
    // ties by nid)
    assert(Similarity.binaryTopK(emb, 5, 64, 10).collect().toSeq ==
      Similarity.binaryTopK(emb, 5, 64, 10).collect().toSeq)
    // the salted two-level top-C is EXACT: forcing a single salt
    // (the naive global window) returns the identical result set
    assert(Similarity.binaryTopK(emb, 5, 64, 10, salts = 1).collect().toSeq ==
      Similarity.binaryTopK(emb, 5, 64, 10, salts = 32).collect().toSeq)
  }

  test("binary index append: corpus-assign + batch-append probes identically to one-shot; probe path == binaryTopK") {
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.filter(col("vec_id") % 10 >= 3)
    val batch = emb.filter(col("vec_id") % 10 < 3)
    val anchors = Similarity.binaryAnchors(corpus, 64)
    val inc = Similarity.binaryAssign(corpus, anchors)
      .unionAll(Similarity.binaryAssign(batch, anchors))
    val one = Similarity.binaryAssign(emb, anchors)
    val pInc = Similarity.binaryProbe(inc, emb, batch, anchors, 5).collect().toSeq
    val pOne = Similarity.binaryProbe(one, emb, batch, anchors, 5).collect().toSeq
    assert(pInc == pOne, "appended code table diverged from one-shot assignment")
    assert(pInc.nonEmpty)
    // the assign+probe split composes back to exactly binaryTopK
    val full = Similarity.binaryAnchors(emb, 64)
    val viaProbe = Similarity.binaryProbe(
      Similarity.binaryAssign(emb, full), emb,
      emb.filter(col("vec_id") < 10), full, 5).collect().toSeq
    assert(viaProbe == Similarity.binaryTopK(emb, 5, 64, 10).collect().toSeq)
  }

  test("SignPackN: word w bit b = dim 64w+b; word 0 of a wide code equals SignPack's one long; CodeHamming sums per-word bit_count") {
    import spark.implicits._
    // 70 dims: crosses the word boundary (dims 64..69 land in word 1)
    val v1 = (0 until 70).map(i => if (i % 3 == 0) 1.0f else -1.0f)
    val v2 = (0 until 70).map(i => if (i % 5 == 0) 1.0f else -1.0f)
    val df = Seq((1L, v1), (2L, v2)).toDF("vec_id", "embedding")
    val anchors = Seq.fill(70)(0.0)
    val codes = df.select(col("vec_id"),
        graft.functions.VectorExpressions.signPackN(col("embedding"), anchors).as("code"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes(1L).length == 2 && codes(2L).length == 2, "70 dims -> 2 words")
    // reference semantics straight from the definition
    def refCode(v: Seq[Float]): Seq[Long] = {
      val w = new Array[Long](2)
      v.indices.foreach(i => if (v(i) >= 0.0f) w(i >>> 6) |= (1L << (i & 63)))
      w.toSeq
    }
    assert(codes(1L) == refCode(v1) && codes(2L) == refCode(v2))
    // word 0 equals the one-long SignPack of the first 64 dims exactly
    val oneLong = df.select(col("vec_id"),
        graft.functions.VectorExpressions.signPack(col("embedding"), Seq.fill(64)(0.0)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(codes(1L).head == oneLong(1L) && codes(2L).head == oneLong(2L))
    // CodeHamming == sum of per-word xor bit_counts
    val expHam = codes(1L).zip(codes(2L))
      .map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum
    val ham = df.filter(col("vec_id") === 1L)
      .crossJoin(df.filter(col("vec_id") === 2L).select(col("embedding").as("e2")))
      .select(graft.functions.VectorExpressions.codeHamming(
        graft.functions.VectorExpressions.signPackN(col("embedding"), anchors),
        graft.functions.VectorExpressions.signPackN(col("e2"), anchors)).as("h"))
      .head().getInt(0)
    assert(ham == expHam, s"CodeHamming $ham vs reference $expHam")
    // unequal code widths: missing trailing words count as zero words
    val hamShort = df.filter(col("vec_id") === 1L)
      .select(graft.functions.VectorExpressions.codeHamming(
        graft.functions.VectorExpressions.signPackN(col("embedding"), anchors),
        graft.functions.VectorExpressions.signPackN(col("embedding"), anchors.take(64))).as("h"))
      .head().getInt(0)
    assert(hamShort == java.lang.Long.bitCount(codes(1L)(1)),
      s"short-vs-wide Hamming should count word 1 against zero, got $hamShort")
  }

  test("wide fixture preserves cosine structure exactly; binaryTopKN holds recall, determinism, salted exactness, append==one-shot") {
    val base = Tables.embeddings(spark, dir)
    val wide = graft.operators.AnnQueries.wideEmbeddings(spark, dir)
    assert(wide.select(size(col("embedding"))).head().getInt(0) == 256)
    // each tile is a signed permutation: <f(u),f(v)> = 4<u,v> and
    // |f(v)| = 2|v|, so cosine — and every neighbor ordering — is
    // IDENTICAL to the base corpus
    val qBase = Similarity.bruteForceTopK(base, base.filter(col("vec_id") < 10), 5)
      .select("qid", "rnk", "nid").collect().toSet
    val qWide = Similarity.bruteForceTopK(wide, wide.filter(col("vec_id") < 10), 5)
      .select("qid", "rnk", "nid").collect().toSet
    assert(qBase == qWide, "wide fixture changed the exact neighbor structure")
    // multi-word recall floor vs the wide brute force
    val brute = qWide.map(r => (r.getLong(0), r.getLong(2)))
    val bq = Similarity.binaryTopK(wide, 5, 256, 10)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(bq).size.toDouble / brute.size
    assert(recall >= 0.7, s"wide binary-code recall too low: $recall")
    // deterministic; salted two-level top-C exact at any salt count
    assert(Similarity.binaryTopK(wide, 5, 256, 10).collect().toSeq ==
      Similarity.binaryTopK(wide, 5, 256, 10).collect().toSeq)
    assert(Similarity.binaryTopK(wide, 5, 256, 10, salts = 1).collect().toSeq ==
      Similarity.binaryTopK(wide, 5, 256, 10, salts = 32).collect().toSeq)
    // assign-only append == one-shot under fixed anchors (multi-word)
    val corpus = wide.filter(col("vec_id") % 10 >= 3)
    val batch = wide.filter(col("vec_id") % 10 < 3)
    val anchors = Similarity.binaryAnchors(corpus, 256)
    assert(anchors.length == 256)
    val inc = Similarity.binaryAssign(corpus, anchors)
      .unionAll(Similarity.binaryAssign(batch, anchors))
    val one = Similarity.binaryAssign(wide, anchors)
    val pInc = Similarity.binaryProbe(inc, wide, batch, anchors, 5).collect().toSeq
    val pOne = Similarity.binaryProbe(one, wide, batch, anchors, 5).collect().toSeq
    assert(pInc == pOne && pInc.nonEmpty,
      "appended multi-word code table diverged from one-shot assignment")
    // the <=64-dim case is the one-word code: word 0 is SignPack's
    // long (pinned above), so a 64-dim corpus ranks as it did on the
    // one-long path
    assert(Similarity.binaryAssign(base, Similarity.binaryAnchors(base, 64))
      .select(size(col("code"))).distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("wide binary prefilter is codes-only: no top-C stage touches the float vectors") {
    val wide = graft.operators.AnnQueries.wideEmbeddings(spark, dir)
    val plan = Similarity.binaryTopK(wide, 5, 256, 10)
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.size >= 2, s"expected the two top-C windows, got ${windows.size}")
    windows.init.foreach { w =>
      assert(!w.inputSet.exists(_.name == "embedding"),
        s"a wide Hamming top-C stage carries the float vectors: $w")
    }
  }

  test("binary prefilter is codes-only: no top-C stage touches the float vectors") {
    // the 32×-compressed-scan claim as a plan property — the Hamming
    // top-C windows must see (id, code, ham) only; the 64-float
    // embedding column joins back exclusively at the exact rerank
    val emb = Tables.embeddings(spark, dir)
    val plan = Similarity.binaryTopK(emb, 5, 64, 10)
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.size >= 2, s"expected the two top-C windows, got ${windows.size}")
    windows.init.foreach { w => // the last window is the rerank's top-k
      assert(!w.inputSet.exists(_.name == "embedding"),
        s"a Hamming top-C stage carries the float vectors: $w")
    }
  }

  test("SignPack: bit i set iff component clears its anchor; Hamming via xor + bit_count") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, -1.0f, 0.5f, -0.5f)),
      (2L, Seq(1.0f, 1.0f, -0.5f, -0.5f))).toDF("vec_id", "embedding")
    val anchors = Seq(0.0, 0.0, 0.0, 0.0)
    val codes = df.select(col("vec_id"),
        graft.functions.VectorExpressions.signPack(col("embedding"), anchors).as("code"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(codes(1L) == 0x5L, s"expected 0b0101, got ${codes(1L).toBinaryString}") // bits 0,2
    assert(codes(2L) == 0x3L, s"expected 0b0011, got ${codes(2L).toBinaryString}") // bits 0,1
    assert(java.lang.Long.bitCount(codes(1L) ^ codes(2L)) == 2)
    // non-zero anchors shift the split point
    val c2 = df.select(graft.functions.VectorExpressions.signPack(
        col("embedding"), Seq(2.0, -2.0, 0.0, 0.0)).as("code"))
      .collect().map(_.getLong(0))
    assert(c2(0) == 0x6L) // 1.0 < 2.0 -> bit0 off; -1.0 >= -2.0 -> bit1 on; 0.5 -> bit2 on
  }

  test("MIPS: exact top-k ranks by raw inner product; norm-augmented LSH clears recall") {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val nQ = 10
    val exact = Similarity.mipsTopK(emb, emb.filter(col("vec_id") < nQ), 5).collect()
    // k rows per query, descending inner product, ties by nid
    exact.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.length == 5)
      val ips = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(ips.zip(ips.tail).forall { case (a, b) => a >= b })
    }
    val mipsSet = exact.map(r => (r.getLong(0), r.getLong(2))).toSet
    // MIPS genuinely differs from cosine when norms vary: on a
    // hand-built fixture a long near-miss vector beats a short perfectly
    // aligned one under dot, and loses under cosine
    locally {
      import spark.implicits._
      val fix = Seq(
        (0L, Array(1.0f, 0.0f)),  // query
        (1L, Array(0.9f, 0.0f)),  // aligned, short
        (2L, Array(5.0f, 3.0f))). // misaligned, long
        toDF("vec_id", "embedding")
      val q = fix.filter(col("vec_id") === 0L)
      val topDot = Similarity.mipsTopK(fix, q, 1).collect().head.getLong(2)
      val topCos = Similarity.bruteForceTopK(fix, q, 1).collect().head.getLong(2)
      assert(topDot == 2L && topCos == 1L, s"dot=$topDot cos=$topCos")
    }
    // the augmentation reduction: LSH in dim+1 space reaches the floor
    val approx = Similarity.mipsLshTopK(emb, 5, nQ, dim = 64, numRows = n)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = mipsSet.intersect(approx).size.toDouble / mipsSet.size
    assert(recall >= 0.7, s"MIPS LSH recall too low: $recall")
    assert(approx.forall { case (q, nb) => q != nb })
  }

  test("filtered IVF: restricting the assign table equals probing only the allowed corpus") {
    val emb = Tables.embeddings(spark, dir)
    val allowed = emb.filter(col("label").isin(1, 5, 9))
    val queries = emb.filter(col("vec_id") < 10)
    val n = emb.count()
    val (nlist, nprobe) = Similarity.autoIvfParams(n)
    val cents = Similarity.ivfCentroids(emb, nlist)
    // the RAG composition: filter the ASSIGN TABLE (index rows), never
    // rebuild the index per filter
    val filteredIdx = Similarity.ivfAssign(emb, cents)
      .join(allowed.select(col("vec_id").as("nid")), Seq("nid"), "left_semi")
    val got = Similarity.ivfProbe(filteredIdx, emb, queries, cents, 5, nprobe, numRows = n)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // identical to assigning only the allowed corpus under the same
    // quantizer (the index-filter is exact, not approximate)
    val direct = Similarity.ivfProbe(Similarity.ivfAssign(allowed, cents), emb,
        queries, cents, 5, nprobe, numRows = n)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == direct && got.nonEmpty)
    // every neighbor obeys the filter
    val allowedIds = allowed.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.forall { case (_, _, nid) => allowedIds(nid) })
    // and recall vs the exact FILTERED brute force clears the floor
    val brute = Similarity.bruteForceTopK(allowed, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val gotPairs = got.map { case (q, _, nid) => (q, nid) }
    val recall = brute.intersect(gotPairs).size.toDouble / brute.size
    assert(recall >= 0.4, s"filtered IVF recall too low: $recall")
  }

  test("IVF reaches usable recall vs brute force (sf0.001)") {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val nlist = math.max(4, math.min(64, math.ceil(math.sqrt(n.toDouble)).toInt))
    val brute = Similarity.bruteForceTopK(emb, emb, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, 5, nlist, nprobe = math.max(2, nlist / 4), numRows = n)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"IVF recall too low: $recall")
    assert(ivf.forall { case (q, nb) => q != nb })
  }

  test("PQ (ADC shortlist + exact re-rank) clears the 0.7 recall floor (sf0.001)") {
    val emb = Tables.embeddings(spark, dir)
    val brute = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb, 5,
        m = graft.operators.AnnQueries.PqM, ksub = graft.operators.AnnQueries.PqKsub,
        nQueries = 10)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(pq).size.toDouble / brute.size
    assert(recall >= 0.7, s"PQ recall too low: $recall")
    assert(pq.forall { case (q, n) => q != n })
    // deterministic end to end: trained codebooks + tie-broken ranks
    val again = Similarity.pqTopK(emb, 5,
        m = graft.operators.AnnQueries.PqM, ksub = graft.operators.AnnQueries.PqKsub,
        nQueries = 10)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == pq)
  }

  test("IVF+PQ composed clears the recall floor and probes fewer rows than flat ADC") {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val (nlist, nprobe) = Similarity.autoIvfParams(n)
    val brute = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = Similarity.ivfPqTopK(emb, 5, nlist, nprobe,
        m = graft.operators.AnnQueries.PqM, ksub = graft.operators.AnnQueries.PqKsub,
        nQueries = 10, numRows = n)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivfpq).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF+PQ recall too low at sf0.001: $recall")
    assert(ivfpq.forall { case (q, nb) => q != nb })
  }

  test("PQ batch path: broadcast query side matches the literal path, plan shows BroadcastExchange") {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val (nlist, nprobe) = Similarity.autoIvfParams(n)
    val m = graft.operators.AnnQueries.PqM
    val ksub = graft.operators.AnnQueries.PqKsub
    val viaLiteral = Similarity.ivfPqTopK(emb, 5, nlist, nprobe, m, ksub,
      nQueries = 10, numRows = n)
    val viaBroadcast = Similarity.ivfPqTopK(emb, 5, nlist, nprobe, m, ksub,
      nQueries = 10, numRows = n, maxLiteralQueries = 0) // force the batch shape
    val plan = viaBroadcast.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan.take(1500))
    val litSet = viaLiteral.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bcSet = viaBroadcast.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bcSet == litSet,
      s"broadcast path diverged: only-lit=${litSet -- bcSet} only-bc=${bcSet -- litSet}")
  }

  test("PQ codebooks: right geometry, deterministic training") {
    val emb = Tables.embeddings(spark, dir)
    val cb = Similarity.pqCodebooks(emb, m = 16, ksub = 16)
    assert(cb.length == 16 && cb.forall(_.length == 16) &&
      cb.forall(_.forall(_.length == 4)))
    val cb2 = Similarity.pqCodebooks(emb, m = 16, ksub = 16)
    assert(cb == cb2)
  }

  test("multi-probe LSH clears the tuned 0.7 recall floor (sf0.001)") {
    val emb = Tables.embeddings(spark, dir)
    val brute = Similarity.bruteForceTopK(emb, emb, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, 5, bits = 6, dim = 64, tables = 16, probes = 2)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.7, s"multi-probe LSH recall too low: $recall")
  }

  test("LshBuckets probe layout: assigned bucket first, probes flip exactly one bit") {
    import spark.implicits._
    val df = Seq((1L, Seq.tabulate(8)(i => (i + 1) * 0.5f))).toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(bits = 5, dim = 8) ++
      Similarity.hyperplanes(bits = 5, dim = 8, seed = 8L)
    def buckets(probes: Int): Seq[Long] = df.select(
      graft.functions.VectorExpressions.lshBuckets(col("embedding"), planes, 8, 5, probes).as("b")
    ).head().getSeq[Long](0)
    val base = buckets(0)
    val probed = buckets(2)
    assert(base.length == 2 && probed.length == 6)
    for (t <- 0 until 2) {
      // element t*(probes+1) is the assigned bucket — identical to the
      // probes=0 run — and each probe differs from it in exactly one bit
      assert(probed(t * 3) == base(t))
      val flips = Seq(probed(t * 3 + 1), probed(t * 3 + 2)).map(_ ^ base(t))
      assert(flips.forall(f => java.lang.Long.bitCount(f) == 1), s"flips=$flips")
      assert(flips.distinct.size == 2, "probes must flip distinct bits")
    }
    // deterministic
    assert(buckets(2) == probed)
  }

  test("IVF at nprobe=nlist/2 clears the tuned 0.7 recall floor (sf0.001)") {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val nlist = math.max(4, math.min(64, math.ceil(math.sqrt(n.toDouble)).toInt))
    val brute = Similarity.bruteForceTopK(emb, emb, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, 5, nlist, nprobe = math.max(2, nlist / 2), numRows = n)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.7, s"IVF recall too low: $recall")
  }

  test("IVF large mode: vector lookups are shuffle-hash joins, not broadcast") {
    val emb = Tables.embeddings(spark, dir)
    val large = Similarity.ivfTopK(emb, 5, nlist = 8, nprobe = 2,
      numRows = emb.count(), broadcastMaxRows = 0)
    val plan = large.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan.take(600))
    assert(!"BroadcastExchange[^\\n]*(qvec|nvec|embedding)".r.findFirstIn(plan).isDefined,
      plan.take(1200))
    // no all-pairs fallback anywhere in the IVF plan
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("IVF centroids are deterministic and unit-normalized") {
    val emb = Tables.embeddings(spark, dir)
    val c1 = Similarity.ivfCentroids(emb, nlist = 8)
    val c2 = Similarity.ivfCentroids(emb, nlist = 8)
    assert(c1 == c2)
    c1.foreach { c =>
      val norm = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-9)
    }
  }

  test("autoBits grows ~log2(n) and clamps to a sane range") {
    assert(Similarity.autoBits(0) == 4)
    assert(Similarity.autoBits(1000) == 5)        // 1000/32 -> ceil(log2(31.25))
    assert(Similarity.autoBits(1000000) == 15)
    assert(Similarity.autoBits(2000000000L) == 26) // ~2^26 buckets at 2B vectors
    assert(Similarity.autoBits(Long.MaxValue / 2) == 48) // upper clamp
    assert(Similarity.autoBits(1000000, targetBucket = 1024) == 10)
  }

  test("auto-tuned bits keep recall at small scale too") {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val brute = Similarity.bruteForceTopK(emb, emb, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, 5, bits = 0, dim = 64, tables = 16, numRows = n)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.4, s"auto-bits LSH recall too low: $recall")
  }

  test("large mode: vector lookups are shuffle-hash joins, not broadcast") {
    val emb = Tables.embeddings(spark, dir)
    // force large mode with a zero broadcast budget; bits pinned so the
    // plan doesn't depend on the table count
    val large = Similarity.lshTopK(emb, 5, bits = 6, dim = 64, tables = 4,
      numRows = emb.count(), broadcastMaxRows = 0)
    val plan = large.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan.take(600))
    // neither embedding lookup side may be broadcast in large mode: no
    // broadcast exchange carrying the embedding column
    assert(!"BroadcastExchange[^\\n]*(qvec|nvec|embedding)".r.findFirstIn(plan).isDefined,
      plan.take(1200))
    // small mode (default budget) still broadcasts the lookups
    val small = Similarity.lshTopK(emb, 5, bits = 6, dim = 64, tables = 4,
      numRows = emb.count())
    assert(small.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("emb_quantize_int8: max component maps to ±127, dequantization error bounded") {
    // scalar (vec_id, pos, q, scale) rows — regroup per vector
    val rows = graft.SparkEntry.queries("emb_quantize_int8")(spark, dir).collect()
    assert(rows.nonEmpty)
    val emb = Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val byVec = rows.groupBy(_.getAs[Long]("vec_id"))
    assert(byVec.nonEmpty)
    byVec.foreach { case (id, comps) =>
      val scale = comps.head.getAs[Double]("scale")
      val q = comps.sortBy(_.getAs[Int]("pos")).map(_.getAs[Int]("q")).toSeq
      assert(q.length == 64, s"vec $id must emit one row per component")
      assert(q.forall(v => v >= -127 && v <= 127), s"vec $id out of int8 range")
      assert(q.exists(v => math.abs(v) == 127), s"vec $id max component must hit ±127")
      // dequantized value within half a quantization step of the source
      val src = emb(id)
      q.zip(src).foreach { case (qi, x) =>
        assert(math.abs(qi / scale - x) <= 0.5 / scale + 1e-6,
          s"vec $id component error beyond half-step")
      }
    }
  }
}
