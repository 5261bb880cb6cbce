package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native vector math for the similarity-search path.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * is evaluated interpretively — per-element lambda dispatch and
  * boxing — which dominates ANN run time once candidate pairs reach
  * the millions. [[DotProduct]] is a Catalyst `BinaryExpression` with
  * `doGenCode`: whole-stage codegen emits a tight primitive loop, no
  * allocation, and the plan stays inside one codegen stage.
  *
  * Floating-point contract: elements are widened to double and
  * accumulated left-to-right — the exact same IEEE operation sequence
  * as the HOF fold and the generated left-associated SQL oracles, so
  * swapping implementations never changes a ULP.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // children may be unresolved at construction; validate lazily on
  // first evaluation/codegen (AbstractDataType/ExpectsInputTypes are
  // private[sql], so the declarative form isn't available here)
  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _)  => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"DotProduct needs array<float|double> inputs, got $other")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.$lGet($i) * (double) $b.$rGet($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer dot product of two long arrays — one codegen'd primitive
  * loop, exact BIGINT arithmetic (order-free, so any evaluation order
  * matches the SQL oracle's term sum). The SemDedup pair predicate
  * runs this once per same-bucket candidate pair; the 2·dim-term
  * GetArrayItem chain it replaces blew past the whole-stage-codegen
  * method limit and fell back to interpreted evaluation — measured
  * 11 s for 790k pairs at the 10x fixture vs sub-second here.
  */
case class LongDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Hilbert-curve index of two 16-bit cell coordinates (order 16,
  * 65536×65536 grid → a 32-bit index in a long): the classic xy2d
  * rotate-and-reflect walk, 16 iterations in a codegen'd loop (the
  * per-bit conditional swaps don't unroll into Column arithmetic the
  * way Morton's mask-and-shift does — a loop keeps the generated
  * method tiny). Hilbert beats Morton on locality: CONSECUTIVE indexes
  * are always edge-adjacent cells (Z-order jumps at quadrant seams),
  * so range predicates on either source column map to fewer, longer
  * index runs — fewer row groups touched per scan.
  */
case class HilbertIndex2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HilbertIndex2.xy2d(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HilbertIndex2.xy2d($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** N-dimensional Hilbert index (Skilling's transpose algorithm,
  * "Programming the Hilbert curve", AIP 2004 — the standard public
  * construction): coordinates → transposed Hilbert axes (the
  * rotate/reflect walk as Gray-code bit surgery, O(n·bits)) → one
  * MSB-first bit interleave into a long. Generalizes [[HilbertIndex2]]
  * to the 3–4 real layout axes (source × language × date × size) that
  * [[graft.operators.ManifestLog.writeClusteredN]] clusters on, with
  * the locality win over Morton: consecutive indexes
  * are ALWAYS edge-adjacent cells in every dimension count
  * (exhaustively spec-pinned per n), so box predicates decompose into
  * fewer, longer index runs. `bits` per axis must keep n·bits ≤ 63 so
  * the index stays a non-negative long (ordering would break at the
  * sign bit — 16 bits for n ≤ 3, 15 for n = 4).
  */
case class HilbertIndexN(children: Seq[Expression], bits: Int) extends Expression {
  require(children.length >= 2 && children.length <= 4,
    s"HilbertIndexN supports 2-4 axes, got ${children.length}")
  require(bits >= 1, s"HilbertIndexN needs bits >= 1, got $bits " +
    "(bits = 0 would shift the cell mask into the sign bit)")
  require(children.length * bits <= 63, s"${children.length}x$bits bits overflow a long")

  // analysis-time rejection of non-long axes (a raw ClassCastException
  // at eval otherwise); callers cast explicitly like the Z-order face.
  // (The declarative ExpectsInputTypes form needs private[sql]
  // AbstractDataType, so the check is spelled out.)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    children.zipWithIndex.find(_._1.dataType != LongType) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some((c, i)) => TypeCheckResult.TypeCheckFailure(
        s"graft_hilbertn axes must be BIGINT; axis ${i + 1} is ${c.dataType.simpleString}")
    }
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)

  override def eval(input: InternalRow): Any = {
    val xs = new Array[Long](children.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      xs(i) = v.asInstanceOf[Long]
      i += 1
    }
    HilbertN.toIndex(bits, xs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evals = children.map(_.genCode(ctx))
    val xs = ctx.freshName("xs")
    val anyNull = evals.map(e => s"(${e.isNull})").mkString(" || ")
    val childCode = evals.map(_.code.toString).mkString("\n")
    ev.copy(code = code"""
      $childCode
      boolean ${ev.isNull} = $anyNull;
      long ${ev.value} = 0L;
      if (!${ev.isNull}) {
        long[] $xs = new long[]{${evals.map(_.value).mkString(", ")}};
        ${ev.value} = graft.functions.HilbertN.toIndex($bits, $xs);
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object HilbertN {
  /** Skilling transpose + interleave — static so generated code calls
    * it directly. `xs` is mutated in place (callers pass a fresh
    * per-row array).
    */
  def toIndex(bits: Int, xs: Array[Long]): Long = {
    val n = xs.length
    val mask = (1L << bits) - 1
    var i = 0
    while (i < n) { xs(i) &= mask; i += 1 }
    val m = 1L << (bits - 1)
    // inverse undo: top-down rotate/reflect
    var q = m
    while (q > 1) {
      val p = q - 1
      i = 0
      while (i < n) {
        if ((xs(i) & q) != 0) xs(0) ^= p
        else { val t = (xs(0) ^ xs(i)) & p; xs(0) ^= t; xs(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    // Gray encode
    i = 1
    while (i < n) { xs(i) ^= xs(i - 1); i += 1 }
    var t = 0L
    q = m
    while (q > 1) {
      if ((xs(n - 1) & q) != 0) t ^= q - 1
      q >>= 1
    }
    i = 0
    while (i < n) { xs(i) ^= t; i += 1 }
    // MSB-first interleave of the transposed axes
    var d = 0L
    var j = bits - 1
    while (j >= 0) {
      i = 0
      while (i < n) {
        d = (d << 1) | ((xs(i) >> j) & 1L)
        i += 1
      }
      j -= 1
    }
    d
  }

  /** Decode an index back to its cell coordinates (the spec-side
    * inverse for the exhaustive adjacency pins; not on any hot path).
    */
  def toAxes(bits: Int, n: Int, d: Long): Array[Long] = {
    val xs = new Array[Long](n)
    // de-interleave MSB-first
    var j = bits - 1
    var pos = n * bits - 1
    while (j >= 0) {
      var i = 0
      while (i < n) {
        xs(i) |= ((d >> pos) & 1L) << j
        pos -= 1
        i += 1
      }
      j -= 1
    }
    // Gray decode
    var t = xs(n - 1) >> 1
    var i = n - 1
    while (i > 0) { xs(i) ^= xs(i - 1); i -= 1 }
    xs(0) ^= t
    // undo the rotate/reflect bottom-up
    var q = 2L
    while (q != (1L << bits)) {
      val p = q - 1
      i = n - 1
      while (i >= 0) {
        if ((xs(i) & q) != 0) xs(0) ^= p
        else { val t2 = (xs(0) ^ xs(i)) & p; xs(0) ^= t2; xs(i) ^= t2 }
        i -= 1
      }
      q <<= 1
    }
    xs
  }
}

object HilbertIndex2 {
  /** The order-16 xy2d kernel — static so generated code calls it
    * directly (one non-virtual call per row).
    */
  def xy2d(x0: Long, y0: Long): Long = {
    var x = x0 & 0xffffL
    var y = y0 & 0xffffL
    var d = 0L
    var s = 1L << 15
    while (s > 0) {
      val rx = if ((x & s) != 0) 1L else 0L
      val ry = if ((y & s) != 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) { // rotate the quadrant
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

/** Count of common elements between two SORTED long arrays — a single
  * codegen'd merge walk, O(n+m) with no allocation. Used for set
  * similarity (Jaccard) over hashed shingle sets, where the generic
  * `array_intersect` pays per-element catalyst-value comparison and
  * set construction.
  *
  * Inputs must be sorted ascending and duplicate-free (callers use
  * `sort_array(array_distinct(...))`); behavior on unsorted input is
  * unspecified.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0L
    val n = x.numElements(); val m = y.numElements()
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val c = ctx.freshName("c"); val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; long $c = 0L;
         |int $n = $a.numElements(); int $m = $b.numElements();
         |while ($i < $n && $j < $m) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All LSH table buckets in one pass: for `tables × bits` hyperplanes
  * (flattened row-major into `planes`, each of length `dim`), emit one
  * bucket id per table — bit j of table t set iff
  * dot(vec, plane[t*bits+j]) >= 0.
  *
  * With `probes > 0`, each table additionally emits `probes`
  * multi-probe bucket ids: the assigned bucket with ONE sign bit
  * flipped, chosen in ascending order of |projection| (the planes the
  * vector sits closest to — the perturbations most likely to hold a
  * true neighbor, per Lv et al.'s multi-probe LSH). Output layout is
  * table-major: `[t0 assigned, t0 probe1, …, t0 probeP, t1 assigned,
  * …]`, so element index `i` belongs to table `i / (probes+1)` and is
  * the assigned bucket iff `i % (probes+1) == 0`.
  *
  * Replaces `tables × bits` separate literal-array dot-product
  * expressions, which evaluated interpretively per plane per row and
  * dominated ANN bucket assignment.
  *
  * Codegen calls the compiled `compute` kernel through a reference
  * object, so LSH bucket assignment stays inside the surrounding
  * whole-stage-codegen stage (no `CodegenFallback` row
  * materialization).
  */
case class LshBuckets(child: Expression, planes: Array[Double], dim: Int, bits: Int,
                      probes: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private val tables = planes.length / (dim * bits)
  require(probes >= 0 && probes < bits, s"probes must be in [0, bits=$bits), got $probes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def compute(v: ArrayData): ArrayData = {
    val n = math.min(v.numElements(), dim)
    val width = probes + 1
    val out = new Array[Long](tables * width)
    val projs = new Array[Double](bits)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var j = 0
      while (j < bits) {
        val base = (t * bits + j) * dim
        var s = 0.0
        var i = 0
        while (i < n) { s += planes(base + i) * v.getFloat(i); i += 1 }
        if (s >= 0) bucket |= (1L << j)
        projs(j) = s
        j += 1
      }
      out(t * width) = bucket
      // probe buckets: flip the `probes` bits with the smallest
      // |projection| (selection by repeated min — bits <= 48, probes
      // tiny, no sort allocation)
      var taken = 0L // bitmask of already-flipped plane indices
      var p = 0
      while (p < probes) {
        var best = -1
        var bestAbs = Double.MaxValue
        var q = 0
        while (q < bits) {
          if ((taken & (1L << q)) == 0) {
            val a = math.abs(projs(q))
            if (a < bestAbs) { bestAbs = a; best = q }
          }
          q += 1
        }
        taken |= (1L << best)
        out(t * width + p + 1) = bucket ^ (1L << best)
        p += 1
      }
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshBuckets", this, classOf[LshBuckets].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared float/double element access for vector kernels: embeddings
  * arrive as `array<float>` off parquet and as `array<double>` after
  * normalization; kernels accept both, widening floats exactly like
  * [[DotProduct]].
  */
private[functions] trait VectorInput { self: Expression =>
  protected def vecChild: Expression
  @transient protected lazy val vecIsFloat: Boolean = vecChild.dataType match {
    case ArrayType(FloatType, _)  => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"${self.getClass.getSimpleName} needs an array<float|double> vector, got $other")
  }
  protected final def elem(v: ArrayData, i: Int): Double =
    if (vecIsFloat) v.getFloat(i).toDouble else v.getDouble(i)
}

/** 1-bit sign quantization of a vector against per-dimension anchors
  * (the sampled component means): bit i is set iff v[i] >= anchor[i].
  * dim ≤ 64 packs the whole vector into ONE long, so the downstream
  * Hamming prefilter is xor + bit_count on an 8-byte code — 32×
  * smaller than the 64-float vector, the classic binary-quantization
  * compressed-scan deployment. One reference-object call per row
  * keeps the stage inside whole-stage codegen (a 64-term Column
  * conditional chain would blow the method budget, the TopCells
  * lesson).
  */
case class SignPack(child: Expression, anchors: Array[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with VectorInput {

  require(anchors.nonEmpty && anchors.length <= 64,
    s"SignPack packs into one long: 1..64 dims, got ${anchors.length}")

  override protected def vecChild: Expression = child

  override def dataType: DataType = LongType

  def compute(v: ArrayData): Long = {
    val n = math.min(v.numElements(), anchors.length)
    var code = 0L
    var i = 0
    while (i < n) {
      if (elem(v, i) >= anchors(i)) code |= (1L << i)
      i += 1
    }
    code
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("signPack", this, classOf[SignPack].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Multi-word 1-bit sign quantization — [[SignPack]] lifted past 64
  * dimensions to production embedding widths (768/1024/4096): the code
  * is `array<long>` of ⌈dim/64⌉ words, dimension d lands in word d/64
  * bit d%64 (word 0 holds dims 0–63, so a ≤64-dim code's single word
  * equals SignPack's long exactly). A 1024-dim float vector (4 KiB)
  * codes to 16 longs (128 B) — the same 32× compressed prefilter scan
  * at any width. One reference-object call per row keeps the stage
  * inside whole-stage codegen.
  */
case class SignPackN(child: Expression, anchors: Array[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with VectorInput {

  require(anchors.nonEmpty, "SignPackN needs at least one anchor dimension")

  private val words = (anchors.length + 63) / 64

  override protected def vecChild: Expression = child

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def compute(v: ArrayData): ArrayData = {
    val n = math.min(v.numElements(), anchors.length)
    val code = new Array[Long](words)
    var i = 0
    while (i < n) {
      if (elem(v, i) >= anchors(i)) code(i >>> 6) |= (1L << (i & 63))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(code)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("signPackN", this, classOf[SignPackN].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hamming distance between two multi-word binary codes
  * (`array<long>`): Σ over words of `bit_count(a ⊕ b)`. Missing
  * trailing words on either side count as zero words, so codes from
  * anchor sets of different (compatible-prefix) widths still compare.
  * This is THE hot kernel of the wide binary prefilter — it runs once
  * per (query, row) pair; a `zip_with`+`aggregate` formulation would
  * drop the stage out of whole-stage codegen (higher-order functions
  * are interpreted) and box per element, so it's a native expression
  * with a primitive word loop, like [[DotProduct]] vs `dotHof`.
  */
case class CodeHamming(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  private def checkType(e: Expression): Unit = e.dataType match {
    case ArrayType(LongType, _) => ()
    case other => throw new IllegalArgumentException(
      s"CodeHamming needs array<bigint> codes, got $other")
  }

  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    val shared = math.min(na, nb)
    var h = 0
    var i = 0
    while (i < shared) {
      h += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    while (i < na) { h += java.lang.Long.bitCount(a.getLong(i)); i += 1 }
    while (i < nb) { h += java.lang.Long.bitCount(b.getLong(i)); i += 1 }
    h
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    checkType(left); checkType(right)
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    checkType(left); checkType(right)
    val ref = ctx.addReferenceObj("codeHamming", this, classOf[CodeHamming].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Top `nprobe` IVF cells for a vector in ONE kernel pass: `nlist`
  * dot products against the flattened centroid matrix, then selection
  * by (score desc, cell desc) — byte-identical ordering to the
  * previous `slice(reverse(array_sort(cellScores)))` /
  * `array_max(cellScores)` struct-ordering idioms (largest score
  * first; exact-tie goes to the LARGER cell id, as lexicographic
  * struct comparison did).
  *
  * Replaces `nlist` separate dot-product expressions + a struct
  * array_sort: at nlist ≥ ~45 that projection blew the whole-stage
  * codegen field/size limits and the stage fell back to interpreted
  * eval (observed: "Whole-stage codegen disabled" on every PQ/IVF
  * encode stage). A single reference-object call keeps the stage
  * codegen'd and the inner loop primitive.
  */
case class TopCells(child: Expression, cents: Array[Double], dim: Int, nprobe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with VectorInput {

  private val nlist = cents.length / dim
  override protected def vecChild: Expression = child
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  def compute(v: ArrayData): ArrayData = {
    val n = math.min(v.numElements(), dim)
    val scores = new Array[Double](nlist)
    var c = 0
    while (c < nlist) {
      val base = c * dim
      var s = 0.0
      var i = 0
      while (i < n) { s += elem(v, i) * cents(base + i); i += 1 }
      scores(c) = s
      c += 1
    }
    val k = math.min(nprobe, nlist)
    val out = new Array[Int](k)
    var taken = new Array[Boolean](nlist)
    var p = 0
    while (p < k) {
      var best = -1
      var bestS = Double.NegativeInfinity
      var q = 0
      while (q < nlist) {
        // >= : equal scores resolve to the larger cell id, matching
        // lexicographic struct-max/sort-desc semantics
        if (!taken(q) && (best < 0 || scores(q) >= bestS)) { bestS = scores(q); best = q }
        q += 1
      }
      taken(best) = true
      out(p) = best
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("topCells", this, classOf[TopCells].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PQ encoder in one kernel pass: per subspace `mi`, the index of the
  * L2-nearest of `ksub` codebook entries (flattened row-major:
  * cb[(mi*ksub + j)*ds + i]). Squared distances accumulate
  * left-to-right per entry, argmin keeps the FIRST (lowest) index on
  * exact ties — identical to the previous `array_min` over
  * (distance, code) structs.
  */
case class PqEncode(child: Expression, cb: Array[Double], m: Int, ksub: Int, ds: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with VectorInput {

  override protected def vecChild: Expression = child
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  def compute(v: ArrayData): ArrayData = {
    val out = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      var bestJ = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < ksub) {
        val base = (mi * ksub + j) * ds
        var d = 0.0
        var i = 0
        while (i < ds) {
          val t = elem(v, mi * ds + i) - cb(base + i)
          d += t * t
          i += 1
        }
        if (d < bestD) { bestD = d; bestJ = j } // strict <: first index wins ties
        j += 1
      }
      out(mi) = bestJ
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-query ADC distance table in one kernel pass: entry
  * `mi*ksub + j` = squared L2 between the query's `mi`-th sub-vector
  * and codebook entry `j` — same flattened layout and the same
  * left-to-right per-entry accumulation as the driver-side literal
  * tables, so literal and broadcast PQ paths stay bit-identical.
  * Replaces an `array(...)` of m×ksub expression trees (1024 nodes at
  * 16×16) that disabled whole-stage codegen on the query side.
  */
case class PqDistTable(child: Expression, cb: Array[Double], m: Int, ksub: Int, ds: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with VectorInput {

  override protected def vecChild: Expression = child
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  def compute(v: ArrayData): ArrayData = {
    val out = new Array[Double](m * ksub)
    var mi = 0
    while (mi < m) {
      var j = 0
      while (j < ksub) {
        val base = (mi * ksub + j) * ds
        var d = 0.0
        var i = 0
        while (i < ds) {
          val t = elem(v, mi * ds + i) - cb(base + i)
          d += t * t
          i += 1
        }
        out(mi * ksub + j) = d
        j += 1
      }
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqDistTable", this, classOf[PqDistTable].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Asymmetric-distance sum: `Σ_mi tab[codes[mi] + mi*ksub]` — the PQ
  * scan's inner loop as one primitive kernel (left-to-right sum,
  * identical to the previous chain of 16 element_at adds). `codes` is
  * the data row's array<int>, `tab` the query's array<double> table.
  */
case class PqAdc(left: Expression, right: Expression, m: Int, ksub: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(codes: Any, tab: Any): Any = {
    val c = codes.asInstanceOf[ArrayData]
    val t = tab.asInstanceOf[ArrayData]
    var s = 0.0
    var mi = 0
    while (mi < m) {
      s += t.getDouble(c.getInt(mi) + mi * ksub)
      mi += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t) => {
      val i = ctx.freshName("mi")
      val s = ctx.freshName("s")
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $m; $i++) {
         |  $s += $t.getDouble($c.getInt($i) + $i * $ksub);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Symmetric int8 quantization in one kernel pass: the max-magnitude
  * component maps to ±127 (scale = 127/max|v_i|, 0 for the zero
  * vector) and every component rounds as floor(v_i·scale + 0.5) —
  * explicit floor rounding for cross-engine bit parity, identical
  * IEEE ops to the previous expression-tree formulation (a 64-term
  * `greatest` + a `transform` whose inlined scale sub-tree blew the
  * codegen limits and ran interpreted: measured 4.4 s → sub-second at
  * sf0.1). Returns struct(scale: double, q: array<int>).
  */
case class Int8Quantize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with VectorInput {

  override protected def vecChild: Expression = child
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q", ArrayType(IntegerType, containsNull = false), nullable = false)))

  def compute(v: ArrayData): InternalRow = {
    val n = v.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(elem(v, i))
      if (a > m) m = a
      i += 1
    }
    val scale = if (m > 0) 127.0 / m else 0.0
    val q = new Array[Int](n)
    i = 0
    while (i < n) {
      q(i) = math.floor(elem(v, i) * scale + 0.5).toInt
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](scale, new org.apache.spark.sql.catalyst.util.GenericArrayData(q)))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("int8Quantize", this, classOf[Int8Quantize].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SemDeDup cluster key (Abbas et al. 2023, arXiv:2303.09540) in one
  * kernel pass: the unit-normalized 1e6 fixed-point vector `u`
  * (u_i = floor(v_i / |v| · 1e6 + 0.5), all-zero for the zero vector)
  * plus a deterministic sign-LSH bucket — `bits` hyperplanes whose ±1
  * components come from an integer-hash parity
  * ([[SemDedupKey.sign]]), so the bucket, and every downstream cosine
  * (integer dots over `u`), is exactly mirrorable in the DuckDB
  * oracle with no float threshold flips. Returns
  * struct(u: array<bigint>, bucket: int).
  */
case class SemDedupKey(child: Expression, dim: Int, bits: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with VectorInput {

  override protected def vecChild: Expression = child
  override def dataType: DataType = StructType(Seq(
    StructField("u", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("bucket", IntegerType, nullable = false)))

  @transient private lazy val signs: Array[Int] = SemDedupKey.signTable(dim, bits)

  def compute(v: ArrayData): InternalRow = {
    val n = v.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) { val x = elem(v, i); ss += x * x; i += 1 }
    val nr = math.sqrt(ss)
    val u = new Array[Long](n)
    i = 0
    while (i < n) {
      u(i) = if (nr == 0.0) 0L else math.floor(elem(v, i) / nr * 1e6 + 0.5).toLong
      i += 1
    }
    var bucket = 0
    var j = 0
    while (j < bits) {
      var s = 0L
      i = 0
      while (i < n) { s += signs(j * dim + i) * u(i); i += 1 }
      if (s >= 0L) bucket |= (1 << j)
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new org.apache.spark.sql.catalyst.util.GenericArrayData(u), bucket))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("semDedupKey", this, classOf[SemDedupKey].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SemDedupKey {
  /** ±1 hyperplane component for bit `j`, dimension `i`: the parity of
    * ((j·dim+i)·2654435761) mod 1000003. The big-prime modulus comes
    * BEFORE the parity slice — the Knuth constant is ≡ 1 (mod small
    * bases), so a direct `% 2` would degenerate to the index's own
    * parity (the CurationQueries.mixSql rule).
    */
  def sign(j: Int, i: Int, dim: Int): Int =
    if ((((j.toLong * dim + i) * 2654435761L) % 1000003L) % 2L == 0L) 1 else -1

  def signTable(dim: Int, bits: Int): Array[Int] =
    Array.tabulate(bits * dim)(k => sign(k / dim, k % dim, dim))
}

object VectorExpressions {

  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** All multi-table LSH buckets for a float vector in one pass; with
    * `probes > 0` each table also emits its multi-probe buckets (see
    * [[LshBuckets]] for the layout).
    */
  def lshBuckets(vec: Column, planes: Seq[Seq[Double]], dim: Int, bits: Int,
                 probes: Int = 0): Column =
    ColumnBridge.column(LshBuckets(ColumnBridge.expression(vec), planes.flatten.toArray, dim, bits, probes))

  /** Column-level handle for [[DotProduct]]. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-level handle for [[LongDot]]. */
  def longDot(a: Column, b: Column): Column =
    ColumnBridge.column(LongDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-level handle for [[SignPack]]. */
  def signPack(vec: Column, anchors: Seq[Double]): Column =
    ColumnBridge.column(SignPack(ColumnBridge.expression(vec), anchors.toArray))

  /** Column-level handle for [[SignPackN]] (array<long> codes, any dim). */
  def signPackN(vec: Column, anchors: Seq[Double]): Column =
    ColumnBridge.column(SignPackN(ColumnBridge.expression(vec), anchors.toArray))

  /** Column-level handle for [[CodeHamming]]. */
  def codeHamming(a: Column, b: Column): Column =
    ColumnBridge.column(CodeHamming(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-level handle for [[SortedIntersectCount]]. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Top-`nprobe` IVF cells (0-based ids) by dot product, one kernel pass. */
  def topCells(vec: Column, cents: Seq[Seq[Double]], nprobe: Int): Column = {
    val dim = cents.head.length
    ColumnBridge.column(TopCells(ColumnBridge.expression(vec), cents.flatten.toArray, dim, nprobe))
  }

  /** PQ codes (array<int> of length m), one kernel pass. */
  def pqEncode(vec: Column, cb: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec),
      cb.flatten.flatten.toArray, cb.length, cb.head.length, cb.head.head.length))

  /** Per-query flattened m×ksub ADC distance table, one kernel pass. */
  def pqDistTable(vec: Column, cb: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(PqDistTable(ColumnBridge.expression(vec),
      cb.flatten.flatten.toArray, cb.length, cb.head.length, cb.head.head.length))

  /** ADC distance of a code row against a query's distance table. */
  def pqAdc(codes: Column, tab: Column, m: Int, ksub: Int): Column =
    ColumnBridge.column(PqAdc(ColumnBridge.expression(codes), ColumnBridge.expression(tab), m, ksub))

  /** Symmetric int8 quantization: struct(scale, q) in one kernel pass. */
  def int8Quantize(vec: Column): Column =
    ColumnBridge.column(Int8Quantize(ColumnBridge.expression(vec)))

  /** SemDeDup key: struct(u: array<bigint>, bucket: int) in one pass. */
  def semDedupKey(vec: Column, dim: Int, bits: Int): Column =
    ColumnBridge.column(SemDedupKey(ColumnBridge.expression(vec), dim, bits))

  /** Hilbert index of two 16-bit cell ids (order-16 curve). */
  def hilbert2(a: Column, b: Column): Column =
    ColumnBridge.column(HilbertIndex2(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** N-dimensional Hilbert index of 2–4 cell-id columns. */
  def hilbertN(cols: Seq[Column], bits: Int): Column =
    ColumnBridge.column(HilbertIndexN(cols.map(ColumnBridge.expression), bits))
}
