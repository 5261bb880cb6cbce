package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Hilbert kernels behind `graft_hilbert2` and `graft_hilbertn`:
  * bijective, and consecutive indexes are edge-adjacent cells.
  */
class HilbertKernelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("hilbert kernel: consecutive indexes are edge-adjacent cells (Z-order jumps; Hilbert never)") {
    import graft.functions.HilbertIndex2
    // top-level quadrant visit order: (3*rx)^ry gives 0,1,2,3 for
    // (lo,lo),(lo,hi),(hi,hi),(hi,lo) — the U shape of the curve
    val s = 1L << 15
    val corners = Seq((0L, 0L), (0L, s), (s, s), (s, 0L)).map {
      case (x, y) => HilbertIndex2.xy2d(x, y)
    }
    assert(corners == corners.sorted && corners.distinct.size == 4,
      s"quadrant visit order broken: $corners")
    // bijectivity + the defining locality property, exhaustive on the
    // 64x64 low corner: any two cells whose indexes are CONSECUTIVE
    // integers on the full curve must be edge-adjacent on the grid
    val cells = for (x <- 0 until 64; y <- 0 until 64)
      yield (HilbertIndex2.xy2d(x.toLong, y.toLong), x, y)
    assert(cells.map(_._1).distinct.size == cells.size, "xy2d not injective")
    val walk = cells.sortBy(_._1)
    val adjacentRuns = walk.zip(walk.tail).filter { case ((d1, _, _), (d2, _, _)) => d2 == d1 + 1 }
    assert(adjacentRuns.nonEmpty)
    assert(adjacentRuns.forall { case ((_, x1, y1), (_, x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) == 1
    }, "consecutive Hilbert indexes must be edge-adjacent")
  }

  test("hilbertN kernel: bijective with exact round-trip and edge-adjacent consecutive cells, per dimension count") {
    import graft.functions.HilbertN
    // exhaustive over the FULL curve at reduced order per n: every
    // index decodes, re-encodes to itself, and consecutive indexes are
    // Manhattan-distance-1 neighbors in exactly one axis — the
    // defining Hilbert property, in 2, 3, and 4 dimensions
    for ((n, bits) <- Seq((2, 8), (3, 5), (4, 3))) {
      val total = 1L << (n * bits)
      var d = 0L
      var prev = HilbertN.toAxes(bits, n, 0L)
      assert(HilbertN.toIndex(bits, prev.clone()) == 0L)
      d = 1L
      while (d < total) {
        val cur = HilbertN.toAxes(bits, n, d)
        assert(HilbertN.toIndex(bits, cur.clone()) == d, s"n=$n round-trip at d=$d")
        val diff = (0 until n).map(i => math.abs(cur(i) - prev(i))).sum
        assert(diff == 1, s"n=$n: d=${d - 1}->$d jumped distance $diff " +
          s"(${prev.mkString(",")}) -> (${cur.mkString(",")})")
        prev = cur
        d += 1
      }
    }
    // the interpreted eval and the codegen'd expression agree with the
    // static kernel through a real plan
    import spark.implicits._
    val df = (0L until 512L).map(i => (i % 8, (i / 8) % 8, i / 64)).toDF("a", "b", "c")
    val got = df.select(graft.functions.VectorExpressions
        .hilbertN(Seq(col("a"), col("b"), col("c")), 3).as("h"),
        col("a"), col("b"), col("c"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(0) ==
        HilbertN.toIndex(3, Array(r.getLong(1), r.getLong(2), r.getLong(3))))
    }
  }
}
