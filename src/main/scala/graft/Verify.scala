package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query-name filter for local
    // iteration (skips the invariant battery too). The driver always
    // passes exactly (sfDir, outDir) — full battery.
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, f) => (a, b, Some(f.split(',').toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop caches a query persisted for its own plan (PQ encoded
      // codes, IVF cell assignments) — they'd otherwise accumulate for
      // the session lifetime across the 90+ dumps and the invariant
      // recomputations below — and the ingest replays' memory-sink
      // tables, which hold their rows on the driver heap until dropped
      spark.catalog.clearCache()
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("tailrep_")).foreach(spark.catalog.dropTempView)
    }
    // Machine-checkable invariants for the declared rows-only queries
    // (no DuckDB oracle by design): the driver record carries a
    // pass/fail instead of a bare row count.
    //  - emb_ann_lsh / emb_ann_ivf: recall of the approximate top-k vs
    //    the brute-force top-k on the same data/params (floors mirror
    //    SimilaritySpec);
    //  - agg_approx_distinct: worst per-group relative error of the HLL
    //    estimate vs exact distinct counts (default rsd 0.05 -> 3-sigma
    //    ceiling 0.15).
    def invariantJson: String = {
      import org.apache.spark.sql.functions._
      val emb = graft.sources.Tables.embeddings(spark, sfDir)
      val brute = graft.ann.Similarity.bruteForceTopK(emb, emb, 5)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // the PRODUCTION parameter path, exactly as emb_ann_lsh /
      // emb_ann_ivf run it (AnnQueries: bits=0 -> autoBits(n), tables=16,
      // probes=2; autoIvfParams) — the recall gate must exercise what the
      // queries actually ship, not a pinned copy of last round's formula
      val lsh = graft.ann.Similarity.lshTopK(emb, 5, bits = 0, dim = 64, tables = 16,
          probes = 2)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = if (brute.isEmpty) 1.0 else brute.intersect(lsh).size.toDouble / brute.size
      val recallFloor = 0.7

      val nEmb = emb.count()
      val (nlist, nprobe) = graft.ann.Similarity.autoIvfParams(nEmb)
      val ivf = graft.ann.Similarity.ivfTopK(emb, 5, nlist, nprobe, numRows = nEmb)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ivfRecall = if (brute.isEmpty) 1.0 else brute.intersect(ivf).size.toDouble / brute.size

      // emb_ann_ivf_incremental: (1) EXACT probe equality — an index
      // built as corpus-assign + batch-append must probe identically
      // to a one-shot assignment of the union under the same quantizer
      // (assignment is deterministic given centroids, so append can't
      // drift); (2) recall floor vs brute force restricted to the
      // batch's queries.
      val (incIvfEq, incIvfRecall) = {
        import org.apache.spark.sql.DataFrame
        val corpus = emb.filter(col("vec_id") % 10 >= 3)
        val batch = emb.filter(col("vec_id") % 10 < 3)
        val cents = graft.ann.Similarity.ivfCentroids(corpus, nlist)
        val incIdx = graft.ann.Similarity.ivfAssign(corpus, cents)
          .unionAll(graft.ann.Similarity.ivfAssign(batch, cents))
        val oneIdx = graft.ann.Similarity.ivfAssign(emb, cents)
        def probe(idx: DataFrame): Set[(Long, Long)] =
          graft.ann.Similarity.ivfProbe(idx, emb, batch, cents, 5, nprobe, numRows = nEmb)
            .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val inc = probe(incIdx)
        val bq = brute.filter(_._1 % 10 < 3)
        val rec = if (bq.isEmpty) 1.0 else bq.intersect(inc).size.toDouble / bq.size
        (inc == probe(oneIdx), rec)
      }

      // emb_ann_ivf_filtered: (1) EXACT equality — filtering the assign
      // table's index rows (the RAG composition) must probe identically
      // to assigning only the allowed corpus under the same quantizer;
      // (2) recall floor vs the exact FILTERED brute force (the same
      // target emb_ann_filtered computes hash-exactly).
      val (filtIvfEq, filtIvfRecall) = {
        import org.apache.spark.sql.DataFrame
        val allowed = emb.filter(col("label").isin(1, 5, 9))
        val qs = emb.filter(col("vec_id") < graft.operators.AnnQueries.NQueries)
        val cents = graft.ann.Similarity.ivfCentroids(emb, nlist)
        val filtIdx = graft.ann.Similarity.ivfAssign(emb, cents)
          .join(allowed.select(col("vec_id").as("nid")), Seq("nid"), "left_semi")
        def probe(idx: DataFrame): Set[(Long, Long)] =
          graft.ann.Similarity.ivfProbe(idx, emb, qs, cents, 5, nprobe, numRows = nEmb)
            .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val got = probe(filtIdx)
        val direct = probe(graft.ann.Similarity.ivfAssign(allowed, cents))
        val bruteF = graft.ann.Similarity.bruteForceTopK(allowed, qs, 5)
          .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val rec = if (bruteF.isEmpty) 1.0
          else bruteF.intersect(got).size.toDouble / bruteF.size
        (got == direct, rec)
      }

      // emb_ann_pq: recall of the 64-bit-code ADC-shortlist + exact
      // re-rank top-5 vs brute force, on the query's own 10-query subset
      val nQ = graft.operators.AnnQueries.NQueries
      val pq = graft.ann.Similarity.pqTopK(emb, 5,
          m = graft.operators.AnnQueries.PqM, ksub = graft.operators.AnnQueries.PqKsub,
          nQueries = nQ)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute10 = brute.filter(_._1 < nQ)
      val pqRecall = if (brute10.isEmpty) 1.0
        else brute10.intersect(pq).size.toDouble / brute10.size
      val pqFloor = 0.7

      // emb_ann_ivfpq: the composed layout's recall on the same subset
      val ivfpq = graft.ann.Similarity.ivfPqTopK(emb, 5, nlist, nprobe,
          m = graft.operators.AnnQueries.PqM, ksub = graft.operators.AnnQueries.PqKsub,
          nQueries = nQ, numRows = nEmb)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ivfPqRecall = if (brute10.isEmpty) 1.0
        else brute10.intersect(ivfpq).size.toDouble / brute10.size
      // the composed layout trades probe misses for the pruned scan;
      // composed floor raised to match its siblings (r8 task: measured
      // 0.78 at sf0.01 against the old slack 0.6)
      val ivfPqFloor = 0.7

      // emb_ann_pq_batch: the broadcast-query-path composed layout —
      // EVERY vector is a query, so recall is judged against the FULL
      // brute-force top-5 set, not the 10-query subset
      val pqBatch = graft.ann.Similarity.ivfPqTopK(emb, 5, nlist, nprobe,
          m = graft.operators.AnnQueries.PqM, ksub = graft.operators.AnnQueries.PqKsub,
          nQueries = nEmb.toInt, numRows = nEmb)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pqBatchRecall = if (brute.isEmpty) 1.0
        else brute.intersect(pqBatch).size.toDouble / brute.size

      // emb_ann_mips_lsh: recall of the norm-augmentation LSH top-5 vs
      // the exact MIPS top-5 on the same 10-query subset (the ranking
      // target is the raw inner product, NOT cosine)
      val mipsExact = graft.ann.Similarity.mipsTopK(emb,
          emb.filter(col("vec_id") < nQ), 5)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val mipsLsh = graft.ann.Similarity.mipsLshTopK(emb, 5, nQ,
          dim = graft.operators.AnnQueries.Dim, numRows = nEmb)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val mipsRecall = if (mipsExact.isEmpty) 1.0
        else mipsExact.intersect(mipsLsh).size.toDouble / mipsExact.size

      // emb_ann_binary: recall of the 1-bit sign-code Hamming
      // prefilter + exact-rerank top-5 vs brute force on the same
      // 10-query subset (the 32×-compressed-scan path)
      val bruteQ = graft.ann.Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < nQ), 5)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val bq = graft.ann.Similarity.binaryTopK(emb, 5,
          graft.operators.AnnQueries.Dim, nQ, numRows = nEmb)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val bqRecall = if (bruteQ.isEmpty) 1.0
        else bruteQ.intersect(bq).size.toDouble / bruteQ.size

      // emb_ann_binary_wide: the production-WIDTH binary path — recall
      // of the multi-word (4×64-bit array<long>) sign-code prefilter
      // + exact rerank on the 256-dim derived fixture vs brute force
      // over the SAME fixture; plus the fixture's own exactness
      // guarantee (each tile is a signed permutation, so cosine and
      // therefore the brute-force top-k are IDENTICAL to the base
      // corpus — checked as set equality).
      val (bqWideRecall, wideFixtureExact) = {
        val wide = graft.operators.AnnQueries.wideEmbeddings(spark, sfDir)
        val bruteW = graft.ann.Similarity.bruteForceTopK(wide,
            wide.filter(col("vec_id") < nQ), 5)
          .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val bqW = graft.ann.Similarity.binaryTopK(wide, 5,
            graft.operators.AnnQueries.WideDim, nQ, numRows = nEmb)
          .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val rec = if (bruteW.isEmpty) 1.0
          else bruteW.intersect(bqW).size.toDouble / bruteW.size
        (rec, bruteW == bruteQ)
      }

      // emb_ann_binary_incremental: (1) EXACT probe equality — a code
      // table built as corpus-assign + batch-append must probe
      // identically to a one-shot assignment of the union under the
      // same anchors (SignPackN is deterministic given anchors);
      // (2) recall floor vs brute force restricted to the batch's
      // queries.
      val (incBqEq, incBqRecall) = {
        import org.apache.spark.sql.DataFrame
        val corpus = emb.filter(col("vec_id") % 10 >= 3)
        val batch = emb.filter(col("vec_id") % 10 < 3)
        val anchors = graft.ann.Similarity.binaryAnchors(corpus,
          graft.operators.AnnQueries.Dim)
        val incIdx = graft.ann.Similarity.binaryAssign(corpus, anchors)
          .unionAll(graft.ann.Similarity.binaryAssign(batch, anchors))
        val oneIdx = graft.ann.Similarity.binaryAssign(emb, anchors)
        val probeQ = batch.filter(col("vec_id") < nQ * 4) // the query's fixed subset
        def probe(idx: DataFrame): Set[(Long, Long)] =
          graft.ann.Similarity.binaryProbe(idx, emb, probeQ, anchors, 5, numRows = nEmb)
            .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val inc = probe(incIdx)
        val bqSub = brute.filter(p => p._1 % 10 < 3 && p._1 < nQ * 4)
        val rec = if (bqSub.isEmpty) 1.0 else bqSub.intersect(inc).size.toDouble / bqSub.size
        (inc == probe(oneIdx), rec)
      }

      // retrieval_hybrid_rrf_ann: swapping the vector arm for the
      // binary index must keep the fused HEAD stable — top-10 doc
      // overlap vs the exact-arm fusion (rank-only fusion means arm
      // noise attenuates through 1/(60+r))
      val hybridExact = graft.operators.AnnQueries.queries("retrieval_hybrid_rrf")(spark, sfDir)
        .limit(10).select("doc_id").collect().map(_.getLong(0)).toSet
      val hybridAnn = graft.operators.AnnQueries.queries("retrieval_hybrid_rrf_ann")(spark, sfDir)
        .limit(10).select("doc_id").collect().map(_.getLong(0)).toSet
      val hybridOverlap = hybridExact.intersect(hybridAnn).size / 10.0

      val li = graft.sources.Tables.lineitem(spark, sfDir)
      val errs = li.groupBy("l_returnflag")
        .agg(approx_count_distinct("l_partkey").as("approx"),
          countDistinct("l_partkey").as("exact"))
        .select((abs(col("approx") - col("exact")) / col("exact")).as("rel_err"))
        .collect().map(_.getDouble(0))
      val maxErr = if (errs.isEmpty) 0.0 else errs.max
      val errCeil = 0.15

      // agg_incremental_distinct: rows-only by design (DataSketches
      // estimates have no DuckDB counterpart). Two-part stand-in:
      // (1) the shipped union-of-shard-sketches estimate must TRACK a
      //     one-shot single-pass sketch over all rows within 1%. The
      //     r17 version demanded exact equality — true only while a
      //     group's sketch stays in coupon (LIST/SET) mode: once dense,
      //     a STREAMED sketch estimates with the HIP estimator while a
      //     UNION-merged one is out-of-order and uses the composite
      //     estimator, so the two legitimately differ by a fraction of
      //     a percent on identical registers (found by running this
      //     gate at sf0.1, where one event_type crosses dense; at
      //     sf0.01 every group is coupon-exact and the diff is 0);
      // (2) estimates track exact distinct counts within 5%.
      val (incUnionRelDiff, incMaxRelErr) = {
        val got = graft.SparkEntry.queries("agg_incremental_distinct")(spark, sfDir)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val evs = graft.sources.Tables.events(spark, sfDir)
        val oneShot = evs.groupBy("event_type")
          .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val unionDiff = oneShot.map { case (k, est) =>
          math.abs(got.getOrElse(k, 0L) - est).toDouble / math.max(est, 1L) }
        val exact = evs.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val rel = exact.map { case (k, n) =>
          math.abs(got.getOrElse(k, 0L) - n).toDouble / math.max(n, 1L) }
        (if (unionDiff.isEmpty) 0.0 else unionDiff.max,
          if (rel.isEmpty) 0.0 else rel.max)
      }
      val incUnionCeil = 0.01
      val incErrCeil = 0.05

      // agg_user_overlap: rows-only by design (theta estimates have no
      // DuckDB counterpart). Stand-in: every pair's estimated
      // intersection vs the exact distinct-user intersection, worst
      // relative error (sf distinct counts sit in the sketch's exact
      // range, so this is equality in practice; ceiling matches the
      // other sketch gates).
      val overlapMaxRelErr = {
        val evs = graft.sources.Tables.events(spark, sfDir)
        val got = graft.SparkEntry.queries("agg_user_overlap")(spark, sfDir)
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
        val users = evs.select(col("event_type").as("t"), col("user_id").as("u")).distinct()
        val exact = users.as("a").join(users.as("b"),
            col("a.u") === col("b.u") && col("a.t") < col("b.t"))
          .groupBy(col("a.t").as("ta"), col("b.t").as("tb"))
          .agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        val errs = got.map { case (pair, est) =>
          val ex = exact.getOrElse(pair, 0L)
          if (ex == 0L) (if (est == 0L) 0.0 else 1.0)
          else math.abs(est - ex).toDouble / ex
        }
        if (errs.isEmpty) 0.0 else errs.max
      }
      val overlapCeil = 0.05

      // agg_approx_quantile: worst RANK error of the sketch quantiles —
      // the fraction of rows <= the approximate quantile must sit within
      // the sketch's guaranteed 1/accuracy = 0.001 of the target rank
      // (ceiling 0.02 leaves slack for ties/boundary semantics).
      val qs = graft.operators.RelationalQueries.ApproxQs
      val apx = li.groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"), array(qs.map(lit): _*),
          lit(graft.operators.RelationalQueries.ApproxAccuracy)).as("aq"))
      val rankCols = qs.indices.map(i =>
        avg(when(col("l_extendedprice") <= element_at(col("aq"), i + 1), 1.0)
          .otherwise(0.0)).as(s"r$i"))
      val rankErrs = li.join(apx, "l_returnflag").groupBy("l_returnflag")
        .agg(rankCols.head, rankCols.tail: _*)
        .collect().flatMap(r => qs.indices.map(i =>
          math.abs(r.getAs[Double](s"r$i") - qs(i))))
      val maxRankErr = if (rankErrs.isEmpty) 0.0 else rankErrs.max
      val rankCeil = 0.02

      // text_heavy_hitters: Misra-Gries guarantees vs exact counts —
      // never overestimates, undercounts by at most n/(k+1), which
      // also forces every token above that threshold into the summary
      // (absent => approx 0 => undercount = exact). k read from the
      // SHIPPED constant, not a pinned copy.
      val hhK = graft.operators.TextQueries.HHCounters
      val toks = graft.sources.Tables.documents(spark, sfDir)
        .select(col("lang"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      val hhJoined = toks.groupBy("lang", "tok").agg(count(lit(1)).as("exact"))
        .join(toks.groupBy("lang").agg(count(lit(1)).as("n")), "lang")
        .join(graft.SparkEntry.queries("text_heavy_hitters")(spark, sfDir)
          .select(col("lang"), col("token").as("tok"), col("approx_cnt")),
          Seq("lang", "tok"), "left")
        .select(col("exact"), col("n"),
          coalesce(col("approx_cnt"), lit(0L)).as("approx"))
        .collect()
      val hhOver = hhJoined.count(r => r.getAs[Long]("approx") > r.getAs[Long]("exact"))
      val hhMaxUnderFrac = if (hhJoined.isEmpty) 0.0 else hhJoined.map { r =>
        (r.getAs[Long]("exact") - r.getAs[Long]("approx")).toDouble / r.getAs[Long]("n")
      }.max
      val hhCeil = 1.0 / (hhK + 1)
      val hhPass = hhOver == 0 && hhMaxUnderFrac <= hhCeil

      // dedup_semantic_auto: rows-only by design (the auto-bits sign
      // tables depend on a runtime count, not SQL-mirrorable), so the
      // stand-in for the oracle is a FULL verdict-level reference
      // check: recompute (bucket, cscore, kept) for every vector in
      // plain Scala with the same integer arithmetic and demand
      // id-for-id equality — oracle-strength, like SemDedupSpec's
      // reference but against the shipped query path at sf scale.
      val semMatch = {
        val dim = graft.operators.AnnQueries.EmbDim
        val tauFp = graft.operators.AnnQueries.SemTauFp
        val vecs = emb.collect().map(r => r.getAs[Long]("vec_id") ->
          r.getSeq[Float](r.fieldIndex("embedding")).toArray)
        val bits = graft.ann.SemDedup.autoBits(vecs.length.toLong)
        val keyed = vecs.map { case (id, v) =>
          var ss = 0.0
          var i = 0
          while (i < dim) { val x = v(i).toDouble; ss += x * x; i += 1 }
          val nr = math.sqrt(ss)
          val u = Array.tabulate(dim)(k =>
            if (nr == 0.0) 0L else math.floor(v(k).toDouble / nr * 1e6 + 0.5).toLong)
          var bucket = 0
          var j = 0
          while (j < bits) {
            var sgn = 0L
            var k = 0
            while (k < dim) { sgn += graft.functions.SemDedupKey.sign(j, k, dim) * u(k); k += 1 }
            if (sgn >= 0L) bucket |= (1 << j)
            j += 1
          }
          (id, u, bucket)
        }
        val cent = keyed.groupBy(_._3).map { case (b, ms) =>
          b -> Array.tabulate(dim)(i => ms.map(_._2(i)).sum)
        }
        def dot(a: Array[Long], b: Array[Long]): Long =
          (0 until dim).map(i => a(i) * b(i)).sum
        val scored = keyed.map { case (id, u, b) => (id, u, b, dot(u, cent(b))) }
        val want = scored.map { case (id, u, b, sc) =>
          val dropped = scored.exists { case (id2, u2, b2, sc2) =>
            id2 != id && b2 == b && dot(u, u2) >= tauFp &&
              (sc2 < sc || (sc2 == sc && id2 < id))
          }
          id -> ((b, sc, !dropped))
        }.toMap
        val got = graft.SparkEntry.queries("dedup_semantic_auto")(spark, sfDir)
          .collect()
          .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getBoolean(3))))
          .toMap
        got == want
      }

      // dedup_semantic_seq: the ADMISSION-ORDER verdicts rechecked
      // id-for-id against a driver-side greedy fold over the same
      // fixed-point vectors (first arrival keeps; a newcomer within
      // tau of any already-kept same-bucket rep drops) — the rule the
      // streaming arm equals under chopping/restart.
      val semSeqMatch = {
        val dim = graft.operators.AnnQueries.EmbDim
        val tauFp = graft.operators.AnnQueries.SemTauFp
        val bits = graft.operators.AnnQueries.SemBits
        val keyed = emb.select(col("vec_id"),
            graft.functions.VectorExpressions.semDedupKey(
              col("embedding"), dim, bits).as("z"))
          .select(col("vec_id"), col("z.u"), col("z.bucket"))
          .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getInt(2)))
        val want = keyed.groupBy(_._3).iterator.flatMap { case (b, ms) =>
          var kept = List.empty[Array[Long]]
          ms.sortBy(_._1).map { case (id, u, _) =>
            val dup = kept.exists(k => graft.ann.SemDedup.dotFp(u, k) >= tauFp)
            if (!dup) kept = u :: kept
            id -> ((b, !dup))
          }
        }.toMap
        val got = graft.SparkEntry.queries("dedup_semantic_seq")(spark, sfDir)
          .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
        got == want
      }

      // mm_phash_dedup_auto: rows-only by design (band offsets depend
      // on a runtime corpus count) — the oracle stand-in is PAIR
      // RECALL vs the PINNED wide tier (whose pairs ARE hash-checked
      // against DuckDB's arithmetic pixel pipeline): the auto banding
      // must re-find the oracle-checked near-dup set, and every pair
      // it reports must sit within the shared Hamming threshold.
      val (phashAutoRecall, phashAutoVerified, phashAutoBitsUsed) = {
        val auto = graft.SparkEntry.queries("mm_phash_dedup_auto")(spark, sfDir)
          .collect()
        val wide = graft.SparkEntry.queries("mm_phash_dedup_wide")(spark, sfDir)
          .collect()
        val autoPairs = auto.map(r => (r.getLong(0), r.getLong(1))).toSet
        val widePairs = wide.map(r => (r.getLong(0), r.getLong(1))).toSet
        val rec =
          if (widePairs.isEmpty) 1.0
          else widePairs.count(autoPairs).toDouble / widePairs.size
        val okT = auto.forall(
          _.getLong(2) <= graft.operators.AnnQueries.MmPhashWideHammingT)
        val bits = graft.operators.AnnQueries.phashAutoBits(
          graft.sources.Tables.cachedCount(spark, sfDir, "documents"))
        (rec, okT, bits)
      }
      val phashAutoFloor = 0.9

      // agg_corr: the hi/lo split's cross-engine agreement assumes
      // NON-NEGATIVE measures (Spark `div` truncates toward zero,
      // DuckDB `//` floors — identical only on non-negatives). The
      // driver's data encoding varies by round, so assert the
      // assumption here: a signed drop fails loudly instead of
      // hash-mismatching obscurely.
      val minMeasure = li.agg(
          least(min(col("l_quantity")), min(col("l_extendedprice")),
            min(col("l_discount"))).cast("double"))
        .head().getDouble(0)

      // emb_pca_project: the PCA contract — orthonormal basis,
      // eigenvalues descending, and each component's PROJECTED
      // variance over the data matching its eigenvalue (the
      // fixed-point moment pass vs the raw-float projection agree to
      // well under 1%; gate at 5% of the leading eigenvalue).
      // Constants from the shipped query path, not pinned copies.
      val (pcaEig, pcaBasis, pcaTrace) = graft.ann.Pca.fitBasisWithTrace(emb,
        graft.operators.AnnQueries.PcaK, graft.operators.AnnQueries.EmbDim)
      val orthoErr = (for {
        i <- pcaBasis.indices; j <- i until pcaBasis.length
      } yield {
        val d = pcaBasis(i).zip(pcaBasis(j)).map { case (a, b) => a * b }.sum
        math.abs(d - (if (i == j) 1.0 else 0.0))
      }).max
      val eigDesc = pcaEig.zip(pcaEig.tail).forall { case (a, b) => a >= b }
      val projVar = graft.ann.Pca.project(emb, pcaBasis)
        .groupBy("pc").agg(var_pop(col("value")).as("v"))
        .collect().map(r => r.getAs[Int]("pc") -> r.getAs[Double]("v")).toMap
      val varErr = pcaEig.indices.map(j =>
        math.abs(projVar(j) - pcaEig(j)) / math.max(pcaEig.head, 1e-12)).max
      val pcaCeil = 0.05
      // cumulative explained-variance ratio Σtop-k eig / trace: the
      // coverage contract for choosing k. Floors: sane (in (0,1]) and
      // the top PcaK=8 of 64 isotropic-ish synthetic dims must carry
      // at least their proportional share (k/dim) of total variance —
      // top-k eigenvalues below the mean would mean the "basis" is
      // noise, not structure.
      val pcaExplained = pcaEig.sum / pcaTrace
      val pcaExplFloor = pcaEig.length.toDouble / graft.operators.AnnQueries.EmbDim
      val pcaPass = orthoErr <= 1e-9 && eigDesc && varErr <= pcaCeil &&
        pcaExplained > pcaExplFloor && pcaExplained <= 1.0 + 1e-12

      // text_compress_ratio: rows-only by design (DEFLATE has no DuckDB
      // counterpart). Three-part stand-in: ratios bounded (real text is
      // neither incompressible past ~1.2× nor 100×-compressible),
      // run-to-run determinism (fixed zlib level ⇒ identical bytes),
      // and the SIGNAL — text+text must deflate strictly better than
      // text for every doc (back-references across the copy), which is
      // what makes the ratio a repetition detector.
      val (crBounded, crDeterministic, crDoubledBetterFrac) = {
        def run() = graft.SparkEntry.queries("text_compress_ratio")(spark, sfDir)
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
        val a = run()
        val b = run()
        val bounded = a.valuesIterator.forall { case (_, _, ratio) =>
          ratio > 0.01 && ratio < 1.2 }
        val doubled = graft.sources.Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("text")).collect()
          .map { r =>
            val t = r.getString(1)
            val single = a(r.getLong(0))._3
            val twice = graft.operators.TextQueries.deflateLen((t + t).getBytes("UTF-8"))
              .toDouble / math.max(2 * t.getBytes("UTF-8").length, 1)
            if (twice < single) 1 else 0
          }
        (bounded, a == b,
          if (doubled.isEmpty) 1.0 else doubled.sum.toDouble / doubled.length)
      }
      val crFloor = 0.99

      s"""{"text_compress_ratio": {"metric": "bounded_deterministic_doubled_compresses_better",
         | "bounded": $crBounded, "deterministic": $crDeterministic,
         | "doubled_better_frac": $crDoubledBetterFrac, "floor": $crFloor,
         | "pass": ${crBounded && crDeterministic && crDoubledBetterFrac >= crFloor}},
         | "emb_ann_lsh": {"metric": "recall_vs_brute_force_top5", "value": $recall,
         | "floor": $recallFloor, "pass": ${recall >= recallFloor}},
         | "emb_ann_ivf": {"metric": "recall_vs_brute_force_top5", "value": $ivfRecall,
         | "floor": $recallFloor, "pass": ${ivfRecall >= recallFloor}},
         | "emb_ann_ivf_incremental": {"metric": "append_probe_equals_one_shot_and_recall",
         | "equal": $incIvfEq, "recall": $incIvfRecall, "floor": $recallFloor,
         | "pass": ${incIvfEq && incIvfRecall >= recallFloor}},
         | "emb_ann_ivf_filtered": {"metric": "index_filter_equals_filtered_assign_and_recall",
         | "equal": $filtIvfEq, "recall": $filtIvfRecall, "floor": $recallFloor,
         | "pass": ${filtIvfEq && filtIvfRecall >= recallFloor}},
         | "emb_ann_binary": {"metric": "recall_vs_brute_force_top5", "value": $bqRecall,
         | "floor": $recallFloor, "pass": ${bqRecall >= recallFloor}},
         | "emb_ann_binary_incremental": {"metric": "append_probe_equals_one_shot_and_recall",
         | "equal": $incBqEq, "recall": $incBqRecall, "floor": $recallFloor,
         | "pass": ${incBqEq && incBqRecall >= recallFloor}},
         | "emb_ann_binary_wide": {"metric": "multiword_recall_vs_brute_force_top5_256dim",
         | "value": $bqWideRecall, "fixture_preserves_cosine": $wideFixtureExact,
         | "floor": $recallFloor,
         | "pass": ${wideFixtureExact && bqWideRecall >= recallFloor}},
         | "retrieval_hybrid_rrf_ann": {"metric": "top10_overlap_vs_exact_arm_fusion",
         | "value": $hybridOverlap, "floor": $recallFloor,
         | "pass": ${hybridOverlap >= recallFloor}},
         | "agg_approx_distinct": {"metric": "max_group_rel_err_vs_exact", "value": $maxErr,
         | "ceiling": $errCeil, "pass": ${maxErr <= errCeil}},
         | "agg_incremental_distinct": {"metric": "max_group_rel_err_vs_exact", "value": $incMaxRelErr,
         | "ceiling": $incErrCeil, "union_vs_one_shot_max_rel": $incUnionRelDiff,
         | "union_ceiling": $incUnionCeil,
         | "pass": ${incUnionRelDiff <= incUnionCeil && incMaxRelErr <= incErrCeil}},
         | "agg_user_overlap": {"metric": "max_pair_rel_err_vs_exact_intersection", "value": $overlapMaxRelErr,
         | "ceiling": $overlapCeil, "pass": ${overlapMaxRelErr <= overlapCeil}},
         | "agg_approx_quantile": {"metric": "max_rank_err_vs_target", "value": $maxRankErr,
         | "ceiling": $rankCeil, "pass": ${maxRankErr <= rankCeil}},
         | "emb_ann_pq": {"metric": "recall_vs_brute_force_top5", "value": $pqRecall,
         | "floor": $pqFloor, "pass": ${pqRecall >= pqFloor}},
         | "emb_ann_ivfpq": {"metric": "recall_vs_brute_force_top5", "value": $ivfPqRecall,
         | "floor": $ivfPqFloor, "pass": ${ivfPqRecall >= ivfPqFloor}},
         | "emb_ann_pq_batch": {"metric": "recall_vs_brute_force_top5_all_queries", "value": $pqBatchRecall,
         | "floor": $ivfPqFloor, "pass": ${pqBatchRecall >= ivfPqFloor}},
         | "emb_ann_mips_lsh": {"metric": "recall_vs_exact_mips_top5", "value": $mipsRecall,
         | "floor": $recallFloor, "pass": ${mipsRecall >= recallFloor}},
         | "text_heavy_hitters": {"metric": "max_undercount_frac_and_no_overestimates", "value": $hhMaxUnderFrac,
         | "ceiling": $hhCeil, "overestimates": $hhOver, "pass": $hhPass},
         | "agg_corr": {"metric": "min_measure_nonnegative", "value": $minMeasure,
         | "floor": 0.0, "pass": ${minMeasure >= 0.0}},
         | "dedup_semantic_auto": {"metric": "verdicts_equal_reference_id_for_id",
         | "pass": $semMatch},
         | "dedup_semantic_seq": {"metric": "admission_verdicts_equal_greedy_reference",
         | "pass": $semSeqMatch},
         | "mm_phash_dedup_auto": {"metric": "pair_recall_vs_pinned_wide_tier_and_threshold",
         | "value": $phashAutoRecall, "floor": $phashAutoFloor,
         | "auto_band_bits": $phashAutoBitsUsed, "all_within_threshold": $phashAutoVerified,
         | "pass": ${phashAutoRecall >= phashAutoFloor && phashAutoVerified}},
         | "emb_pca_project": {"metric": "max_projvar_vs_eigenvalue_err", "value": $varErr,
         | "ceiling": $pcaCeil, "ortho_err": $orthoErr, "eig_desc": $eigDesc,
         | "explained_variance_ratio": $pcaExplained, "explained_floor": $pcaExplFloor,
         | "pass": $pcaPass}}""".stripMargin.replace("\n", "")
    }
    if (only.isEmpty) try {
      val inv = invariantJson
      Files.writeString(Paths.get(s"$outDir/invariants.json"), inv)
      if (inv.contains("false")) System.err.println(s"[verify] INVARIANT FAILED: $inv")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] invariant computation failed: ${e.getMessage}")
    }

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
