package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Relational capability battery: aggregation, joins, sorts, limits,
  * set ops, window functions — the categories of SURVEY.md §2.6, each
  * expressed as a declarative DataFrame plan (Catalyst handles
  * pushdown/pruning/join strategy; broadcast hints are explicit where
  * the dimension side is guaranteed small).
  *
  * Oracle-parity conventions (the driver hash-compares against DuckDB):
  *   - money/measure aggregates are computed in exact DECIMAL and cast
  *     to DOUBLE only at the end, so results are order-insensitive and
  *     bit-reproducible across engines;
  *   - every aggregate/computed column carries an explicit alias used
  *     verbatim in the oracle SQL;
  *   - every query has a total deterministic ORDER BY.
  */
object RelationalQueries {

  private def dec(c: String) = col(c).cast("decimal(18,2)")

  /** Quantiles for `agg_approx_quantile`; Verify's rank-error invariant
    * evaluates the same list.
    */
  val ApproxQs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)

  /** Sketch accuracy for `agg_approx_quantile` (rank error <= 1/this);
    * Verify's gate evaluates the same constant.
    */
  val ApproxAccuracy = 1000

  type Q = (SparkSession, String) => DataFrame

  /** Pearson correlation from double moment columns — interpolated
    * verbatim into BOTH the Spark plan and the DuckDB oracle so the
    * arithmetic matches operation-for-operation, then quantized to
    * 1e-12 (floor(x·1e12 + 0.5)/1e12). The quantization absorbs the
    * 1-2 ulp divergence the engines' DECIMAL→DOUBLE casts introduce
    * (measured ~3e-16 relative at sf0.01) while keeping 12 digits —
    * the established cross-engine-determinism pattern (see `agg_corr`).
    */
  private def CorrExpr(sx: String, sy: String, sxx: String, syy: String, sxy: String): String =
    // greatest(0, …) guards the variance terms: double rounding can push
    // a near-constant column's n·sxx − sx² slightly negative, where
    // DuckDB's sqrt ERRORS (killing the whole oracle run) while Spark
    // yields NaN. Clamped-to-zero variance → ÷0 → NULL in both engines.
    s"floor(((n * $sxy - $sx * $sy) / (sqrt(greatest(0, n * $sxx - $sx * $sx)) * sqrt(greatest(0, n * $syy - $sy * $sy)))) * 1e12 + 0.5) / 1e12"

  // ---- fixed-point money arithmetic (the agg_corr pattern, shared by
  // every revenue/price sum): cents-scaling is exact for the 2-decimal
  // TPC-H columns, keeps the per-row hot path on primitive longs
  // inside whole-stage codegen (a decimal(18,2)×decimal(18,2) product
  // widens past the compact Decimal representation — one BigDecimal
  // allocation per row, measured 2.4× slower on q1_agg), and the hi/lo
  // split at 1e7 keeps both long sums in range past ~9e11 rows per
  // group — ~6× a 100-TB lineitem's largest group. Sums recombine
  // hi·1e7 + lo IN DOUBLE, the identical IEEE ops the mirrored oracle
  // SQL runs, so hash-exactness survives the representation. ----

  private[operators] val FpHi = 10000000L

  /** Exact long cents of a 2-decimal-valued column. */
  private def cents(c: String) = round(col(c) * 100).cast("long")

  /** SUM of a fixed-point long column `v` (by NAME — the div/mod ride
    * `expr`), hi/lo split, recombined in double, scaled by `divisor`.
    */
  private def fpSum(v: String, divisor: Double): Column =
    (sum(expr(s"$v div $FpHi")).cast("double") * lit(FpHi.toDouble) +
      sum(expr(s"$v % $FpHi")).cast("double")) / lit(divisor)

  /** Three-lane fpSum for per-row values up to ~1e15 (the fourth-power
    * moment sums): a two-lane split at 1e7 leaves hi terms of ~6e7
    * that wrap the long sum at ~1.5e11 rows — plausible for a 100-TB
    * lineitem, where Spark wraps silently but DuckDB promotes to
    * HUGEINT and the engines diverge exactly at scale. hi/mid/lo at
    * 1e14/1e7 keeps every lane's term ≤ 1e7, pushing the wrap past
    * ~9e11 rows per group on all three lanes. Recombination is the
    * same mirrored IEEE op order as [[fpSum]].
    */
  private def fpSum3(v: String, divisor: Double): Column =
    (sum(expr(s"$v div ${FpHi * FpHi}")).cast("double") * lit((FpHi * FpHi).toDouble) +
      sum(expr(s"($v div $FpHi) % $FpHi")).cast("double") * lit(FpHi.toDouble) +
      sum(expr(s"$v % $FpHi")).cast("double")) / lit(divisor)

  /** price·(1−disc) as integer ten-thousandths: ec·(100−dc). */
  private def revCents = cents("l_extendedprice") * (lit(100L) - cents("l_discount"))

  /** Deterministic derived `partsupp` — the one TPC-H table the
    * shipped schema lacks (reference parity for Q2/Q11/Q20 needs it).
    * Exactly 4 supplier slots per part; every column is a pure integer
    * function of (p_partkey, slot, supplier count) mirrored TERMWISE
    * in [[PartsuppCte]], so both engines synthesize the identical
    * relation from the same parquet and the three hardest
    * join/subquery shapes land hash-exact. (ps_partkey, ps_suppkey) is
    * a true PK: 257·Δslot is never ≡ 0 mod the supplier count at any
    * shipped sf (10/100/1000). Generated, never stored: a 4-row
    * broadcast fan-out over the part scan — zero shuffles, and the
    * cost stays 4×|part| scan work at any scale. Supply cost is kept
    * as exact integer cents (`ps_costc`); the presentation double
    * divides by 100.0 only at the edge.
    */
  private[operators] def derivedPartsupp(s: SparkSession, d: String): DataFrame = {
    val nSupp = Tables.supplier(s, d).agg((max(col("s_suppkey")) + 1).as("__ns"))
    val slots = s.range(4).toDF("__slot")
    val sk = (col("p_partkey") * 11 + col("__slot") * 257) % col("__ns")
    Tables.part(s, d).select("p_partkey")
      .crossJoin(broadcast(slots))
      .crossJoin(broadcast(nSupp))
      .select(
        col("p_partkey").as("ps_partkey"),
        sk.as("ps_suppkey"),
        ((col("p_partkey") * 7 + col("__slot") * 13) % 9991 + 1).as("ps_availqty"),
        ((col("p_partkey") * 31 + sk * 17 + col("__slot") * 5) % 99900 + 100)
          .as("ps_costc"))
  }

  /** Write `df` as a bucketed, bucket-sorted managed table at `path`.
    * `buckets` should match across tables meant to co-join (Spark
    * requires equal bucket counts — or a multiple with
    * `spark.sql.bucketing.coalesceBucketsInJoin.enabled` — to elide
    * the exchange).
    */
  private[operators] def writeBucketed(df: DataFrame, table: String, path: String,
                                       key: String, buckets: Int): Unit =
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", path)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)

  /** Bucketed twins of the q12 join inputs, written ONCE per session:
    * the transport-columned lineitem and the (orderkey, priority)
    * orders projection, each as a bucketed bucket-sorted table on its
    * order key (hash(key) mod 8 file groups + in-file key order —
    * [[writeBucketed]]). The write pays the q12 shuffle at
    * LAYOUT time; every later equi-join on the key reads matching
    * buckets side by side with no Exchange on either side. Tables are
    * tagged by the sf dir so Verify/Bench/ScaleBench runs over
    * different data never collide; re-invocations inside one session
    * (bench warm runs) reuse the catalog entry, which is exactly the
    * amortization being demonstrated.
    */
  private def q12BucketedTables(s: SparkSession, d: String): (String, String) = {
    val tag = java.lang.Long.toHexString(d.hashCode.toLong & 0xffffffffL)
    val li = s"graft_bkt_li_$tag"
    val ord = s"graft_bkt_ord_$tag"
    synchronized {
      if (!s.catalog.tableExists(li) || !s.catalog.tableExists(ord)) {
        val base = java.nio.file.Files.createTempDirectory("graft-q12-bkt")
        writeBucketed(
          withTransportCols(Tables.lineitem(s, d))
            .select("l_orderkey", "l_shipmode", "l_shipdate",
              "l_commitdate", "l_receiptdate"),
          li, base.resolve("li").toString, "l_orderkey", buckets = 8)
        writeBucketed(
          Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
          ord, base.resolve("ord").toString, "o_orderkey", buckets = 8)
      }
    }
    (li, ord)
  }

  /** DuckDB mirror of [[derivedPartsupp]] (same terms, same order). */
  private val PartsuppCte: String =
    """partsupp AS (
      |  SELECT p_partkey AS ps_partkey,
      |    (p_partkey * 11 + s.slot * 257) % ns.n AS ps_suppkey,
      |    (p_partkey * 7 + s.slot * 13) % 9991 + 1 AS ps_availqty,
      |    (p_partkey * 31 + ((p_partkey * 11 + s.slot * 257) % ns.n) * 17 + s.slot * 5) % 99900 + 100 AS ps_costc
      |  FROM part,
      |    (VALUES (CAST(0 AS BIGINT)), (1), (2), (3)) AS s(slot),
      |    (SELECT MAX(s_suppkey) + 1 AS n FROM supplier) AS ns)""".stripMargin

  /** Derived Q12 transport columns — the schema ships no
    * l_shipmode/l_commitdate/l_receiptdate, so they are pure functions
    * of (l_orderkey, l_linenumber, l_shipdate), mirrored in the oracle
    * SQL: shipmode cycles 5 carriers on a key hash, commit/receipt are
    * day offsets off the ship date (commit can land up to 25 days
    * BEFORE shipping, so the `l_shipdate < l_commitdate` late-shipping
    * screen is selective in both directions).
    */
  private def withTransportCols(li: DataFrame): DataFrame = {
    val m = (col("l_orderkey") * 7 + col("l_linenumber")) % 5
    li.withColumn("l_shipmode",
        when(m === 0, "MAIL").when(m === 1, "SHIP").when(m === 2, "AIR")
          .when(m === 3, "RAIL").otherwise("TRUCK"))
      .withColumn("l_commitdate", expr(
        "timestampadd(DAY, CAST((l_orderkey * 5 + l_linenumber * 7) % 60 - 25 AS INT), l_shipdate)"))
      .withColumn("l_receiptdate", expr(
        "timestampadd(DAY, CAST((l_orderkey + l_linenumber * 3) % 30 + 1 AS INT), l_shipdate)"))
  }

  /** Exact interpolated per-group percentile of `v` at probability
    * `p`, as distributed order statistics: per-(group, value) counts
    * (map-side combined — the shuffle carries distinct values, not
    * rows), a segmented running count in value order
    * ([[ParallelRank.withRunningSum]] — parallelism grows with the
    * value range, never capped at the group count), then the two
    * bracketing order statistics k0 = ⌊p(n−1)⌋+1 and k1 = k0+1 joined
    * against broadcast group sizes. A value with cumulative count C
    * and multiplicity c occupies sorted positions (C−c, C], so the
    * k-th order statistic is the row with C−c < k ≤ C. Interpolation
    * is lower + frac·(upper−lower) — the built-in `percentile`'s (and
    * DuckDB `quantile_cont`'s) exact formula, applied to identical
    * doubles.
    */
  private def exactPercentile(df: DataFrame, g: String, v: String,
                              p: Double, out: String): DataFrame =
    // per-(group, value) counts, then the shared interpolation core
    // (HistogramIndex.percentileFromCounts — also the incremental
    // index probe's arithmetic, so both stay bit-identical)
    HistogramIndex.percentileFromCounts(
      df.groupBy(col(g), col(v).as("__pv")).agg(count(lit(1)).as("__pc")),
      g, p, out)

  val queries: Map[String, Q] = Map(

    // TPC-H Q3-style: selective fact-dim joins + top-k. The customer
    // filter is broadcast onto orders, orders onto lineitem under AQE;
    // top-k is a TakeOrderedAndProject, not a global sort.
    "q3_join_topk" -> { (s, d) =>
      val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .withColumn("rev4", revCents)
        .groupBy("l_orderkey")
        .agg(fpSum("rev4", 10000.0).as("revenue"),
          date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("o_orderdate"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // TPC-H Q5-style: 6-way snowflake join, dims broadcast, one shuffle
    // on the fact side.
    "q5_join_agg" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val cust = Tables.customer(s, d)
      val supp = Tables.supplier(s, d)
      val nat = Tables.nation(s, d)
      val reg = Tables.region(s, d).filter(col("r_name") === "ASIA")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .withColumn("rev4", revCents)
        .groupBy("n_name")
        .agg(fpSum("rev4", 10000.0).as("revenue"))
        .orderBy("n_name")
    },

    // TPC-H Q18 shape (large-volume customers): orders whose lineitem
    // quantity total clears a threshold, joined back to customer and
    // re-aggregated, global top-100. The HAVING aggregate is the
    // semi-join driver (tiny survivor set at any scale — the threshold
    // is the point), the join back to lineitem re-uses the orderkey
    // partitioning, customer broadcasts, and the top-100 is
    // TakeOrdered. Quantity sums are exact integral-cent longs.
    "q18_topn_agg" -> { (s, d) =>
      val QtyFloor = 150L
      val li = Tables.lineitem(s, d)
      val heavy = li.groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("decimal(18,2)") * 100)
          .cast("long").as("qty_c"))
        .filter(col("qty_c") > QtyFloor * 100)
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val cust = Tables.customer(s, d).select("c_custkey", "c_name")
      heavy.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), (col("qty_c").cast("double") / 100.0).as("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey")).limit(100)
    },

    // TPC-H Q10 shape (returned-item reporting): revenue lost to
    // returns per customer over a quarter, top 20. Fact filters push
    // to the scans, the customer/nation dims broadcast, revenue rides
    // the hi/lo fixed-point longs, and the top-20 is TakeOrdered.
    "q10_returned_topk" -> { (s, d) =>
      val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      val cust = Tables.customer(s, d).select("c_custkey", "c_name", "c_nationkey")
      val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .withColumn("rev4", revCents)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(fpSum("rev4", 10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // TPC-H Q4 shape (order-priority checking): orders in a quarter
    // with at least one late lineitem (shipped > 30 days after the
    // order date — adapted to this schema's columns), counted per
    // priority. The EXISTS is one orderkey-keyed left-semi join; the
    // priority count is a tiny hash aggregate.
    "q4_priority" -> { (s, d) =>
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
      val late = ord.join(li,
        ord("o_orderkey") === li("l_orderkey") &&
          col("l_shipdate") > date_add(col("o_orderdate"), 30),
        "left_semi")
      late.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    // TPC-H Q21 shape (suppliers who kept waiting), adapted to this
    // schema: per supplier, finished multi-supplier orders where THEIR
    // item shipped late (> 60 days past the order date) and NO other
    // supplier's item did — the sole-blame screen. The interesting
    // plan is the EXISTS + NOT-EXISTS pair against the SAME fact
    // table: one left-semi and one left-anti join, both orderkey-keyed
    // equi-joins reusing the fact partitioning (DuckDB plans the
    // correlated subqueries into exactly the same semi/anti pair).
    "q21_sole_blame" -> { (s, d) =>
      val LateDays = 60
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val l1 = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("late", col("l_shipdate") > date_add(col("o_orderdate"), LateDays))
      val mine = l1.filter(col("late"))
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      val others = li.select(col("l_orderkey").as("ok"), col("l_suppkey").as("osk"))
      val othersLate = l1.filter(col("late"))
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("osk"))
      val blamed = mine
        .join(others, mine("ok") === others("ok") && col("sk") =!= col("osk"),
          "left_semi")
        .join(othersLate,
          mine("ok") === othersLate("ok") && col("sk") =!= othersLate("osk"),
          "left_anti")
      val supp = Tables.supplier(s, d).select("s_suppkey", "s_name")
      blamed.join(broadcast(supp), col("sk") === col("s_suppkey"))
        .groupBy("s_name").agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(100)
    },

    // TPC-H Q7 shape (volume shipping): bilateral trade between two
    // nations per ship year. Both nation dims are filtered to the two
    // names BEFORE their broadcast joins (the inner joins then carry
    // the selectivity into the fact side); with exactly two surviving
    // nations the classic pair disjunction reduces to
    // supp_nation <> cust_nation.
    "q7_nation_volume" -> { (s, d) =>
      val natPair = Seq("NATION_1", "NATION_2")
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      val n1 = Tables.nation(s, d).filter(col("n_name").isin(natPair: _*))
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d).filter(col("n_name").isin(natPair: _*))
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .withColumn("rev4", revCents)
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(fpSum("rev4", 10000.0).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // TPC-H Q8 shape (national market share): of the ECONOMY-part
    // revenue sold to AMERICA-region customers per order year, the
    // fraction supplied by NATION_1. Numerator and denominator are both
    // hi/lo fixed-point sums recombined in double; the ratio is
    // quantized to 1e-12 (the agg_corr cross-engine pattern) so the
    // single double division can't flip a ulp between engines.
    "q8_market_share" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val prt = Tables.part(s, d).filter(col("p_type") === "ECONOMY")
        .select("p_partkey")
      val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      val natC = Tables.nation(s, d)
        .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
      val reg = Tables.region(s, d).filter(col("r_name") === "AMERICA")
      val natS = Tables.nation(s, d)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(natC), col("c_nationkey") === col("cn_key"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(natS), col("s_nationkey") === col("sn_key"))
        .withColumn("rev4", revCents)
        .withColumn("nrev4",
          when(col("supp_nation") === "NATION_1", col("rev4")).otherwise(lit(0L)))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((floor((fpSum("nrev4", 10000.0) / fpSum("rev4", 10000.0)) *
          lit(1e12) + lit(0.5)) / lit(1e12)).as("mkt_share"))
        .orderBy("o_year")
    },

    // TPC-H Q9 shape (product-type profit): revenue from red parts per
    // supplier nation per order year (no partsupp table in this schema,
    // so profit omits the supplycost term — documented adaptation). The
    // part screen broadcasts into the lineitem scan; orders joins on
    // the orderkey fact partitioning.
    "q9_product_profit" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val prt = Tables.part(s, d).filter(col("p_name").like("%red%"))
        .select("p_partkey")
      val ord = Tables.orders(s, d).select("o_orderkey", "o_orderdate")
      val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
      li.join(broadcast(prt), col("l_partkey") === col("p_partkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .withColumn("rev4", revCents)
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(fpSum("rev4", 10000.0).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },

    // TPC-H Q13 shape (customer order distribution): two-level
    // aggregate — orders per customer (left join keeps zero-order
    // customers), then customers per order count. The first aggregate
    // shuffles on custkey; the second is count-domain-sized (tiny).
    "q13_custdist" -> { (s, d) =>
      val ord = Tables.orders(s, d)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_orderkey", "o_custkey")
      Tables.customer(s, d).select("c_custkey")
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // TPC-H Q14 shape (promotion effect): percentage of one month's
    // revenue from PROMO-type parts. Part dim broadcasts; the two
    // revenue sums ride the hi/lo fixed-point longs and the final
    // percentage is 1e-12-quantized (one double division).
    "q14_promo_effect" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-02-01").cast("timestamp"))
      val prt = Tables.part(s, d).select("p_partkey", "p_type")
      li.join(broadcast(prt), col("l_partkey") === col("p_partkey"))
        .withColumn("rev4", revCents)
        .withColumn("prev4",
          when(col("p_type") === "PROMO", col("rev4")).otherwise(lit(0L)))
        .agg((floor((lit(100.0) * fpSum("prev4", 10000.0) /
          fpSum("rev4", 10000.0)) * lit(1e12) + lit(0.5)) / lit(1e12))
          .as("promo_revenue"))
    },

    // TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    // keep the max. Per-supplier revenue stays an EXACT long (integer
    // ten-thousandths — one supplier's quarter is nowhere near 2^63
    // even at 100 TB) so the argmax comparison is integral, not a
    // double ulp race; the scalar max broadcasts back over the
    // supplier-sized aggregate.
    "q15_top_supplier" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      val rev = li.withColumn("rev4", revCents)
        .groupBy("l_suppkey")
        .agg(sum(col("rev4")).as("revc"))
      val top = rev.agg(max(col("revc")).as("max_revc"))
      val supp = Tables.supplier(s, d).select("s_suppkey", "s_name")
      rev.crossJoin(broadcast(top))
        .filter(col("revc") === col("max_revc"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("revc").cast("double") / 10000.0).as("total_revenue"))
        .orderBy("s_suppkey")
    },

    // TPC-H Q16 shape (part-supplier relationship counts): distinct
    // suppliers per surviving (brand, type, size), linked through
    // lineitem (no partsupp table), excluding negative-balance
    // suppliers (the complaints-list stand-in) via a broadcast
    // left-anti. countDistinct plans the standard two-phase
    // expand-and-dedup aggregate on (group, suppkey).
    "q16_supplier_cnt" -> { (s, d) =>
      val prt = Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val bad = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
        .select("s_suppkey")
      Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
        .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },

    // TPC-H Q17 shape (small-quantity-order revenue): lineitems of one
    // brand's small parts whose quantity is below 20% of that part's
    // average. The correlated avg becomes a per-part aggregate joined
    // back (broadcast — it's part-dimension-sized), and the 20% screen
    // is the EXACT integral form 5·qty_c·cnt < sum_qty_c: no double
    // division anywhere until the final /7.0 presentation scale.
    "q17_small_qty" -> { (s, d) =>
      val prt = Tables.part(s, d)
        .filter(col("p_brand") === "Brand#1" && col("p_size") <= 10)
        .select("p_partkey")
      val li = Tables.lineitem(s, d)
        .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), cents("l_quantity").as("qc"),
          cents("l_extendedprice").as("ec"))
      val stats = li.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("qc")).as("sum_qc"), count(lit(1)).as("cnt"))
      li.join(broadcast(stats), col("l_partkey") === col("pk"))
        .filter(lit(5L) * col("qc") * col("cnt") < col("sum_qc"))
        .agg((sum(col("ec")).cast("double") / 700.0).as("avg_yearly"))
    },

    // TPC-H Q19 shape (discounted revenue, disjunctive predicate): an
    // OR of three (brand, size-range, quantity-range) conjunctions
    // evaluated after the broadcast part join — the classic test that
    // a disjunction over join-spanning columns still runs as one scan
    // + one broadcast probe, not three unioned subplans.
    "q19_disjunct_rev" -> { (s, d) =>
      val prt = Tables.part(s, d).select("p_partkey", "p_brand", "p_size")
      Tables.lineitem(s, d)
        .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .withColumn("rev4", revCents)
        .agg(fpSum("rev4", 10000.0).as("revenue"))
    },

    // TPC-H Q22 shape (global sales opportunity): rich-but-idle
    // customers — balance above the positive-balance average (the
    // scalar average compares in EXACT integral form bc·cnt > sum_bc),
    // no orders in the trailing two years (orderkey-keyed left-anti),
    // counted and summed per nation.
    "q22_idle_balance" -> { (s, d) =>
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), cents("c_acctbal").as("bc"))
      val pos = cust.filter(col("bc") > 0)
        .agg(sum(col("bc")).as("sum_bc"), count(lit(1)).as("cnt_pos"))
      val recent = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1999-08-01").cast("timestamp"))
        .select("o_custkey")
      val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
      cust.crossJoin(broadcast(pos))
        .filter(col("bc") * col("cnt_pos") > col("sum_bc"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("numcust"),
          (sum(col("bc")).cast("double") / 100.0).as("totacctbal"))
        .orderBy("n_name")
    },

    // TPC-H Q2 (minimum-cost supplier) over the derived partsupp: the
    // correlated min-cost subquery becomes a per-part window MIN over
    // the region-filtered candidates — ps_partkey is |part|-cardinality
    // so the window shuffle parallelizes fully, and each partition
    // holds ≤4 rows. Supplier⋈nation⋈region collapses to one broadcast
    // (it's supplier-dimension-sized), the part screen is applied
    // BEFORE the window (the min is per part, so dropping other parts
    // can't change it), and the min compares in exact integer cents.
    "q2_min_cost_supp" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val eur = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val supp = Tables.supplier(s, d)
        .join(broadcast(eur), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val prt = Tables.part(s, d)
        .filter(col("p_size") <= 25 && col("p_type") === "LARGE")
        .select("p_partkey", "p_brand")
      val w = Window.partitionBy("ps_partkey")
      derivedPartsupp(s, d)
        .join(broadcast(supp), col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(prt), col("ps_partkey") === col("p_partkey"))
        .withColumn("min_costc", min(col("ps_costc")).over(w))
        .filter(col("ps_costc") === col("min_costc"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("ps_partkey"), col("p_brand"),
          (col("ps_costc").cast("double") / 100.0).as("ps_supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("ps_partkey"))
        .limit(100)
    },

    // TPC-H Q11 (important stock by nation) over the derived partsupp:
    // per-part value sums against a global-share threshold. Values are
    // exact integer cents·qty longs — the per-part sum is ≤4 rows so a
    // plain long sum is exact forever; the GLOBAL sum rides the hi/lo
    // split (fpSum) so it cannot wrap at any scale — and the threshold
    // attaches as a broadcast scalar (the accepted crossJoin face).
    "q11_value_share" -> { (s, d) =>
      val supp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val vals = derivedPartsupp(s, d)
        .join(broadcast(supp), col("ps_suppkey") === col("s_suppkey"))
        .withColumn("vc", col("ps_costc") * col("ps_availqty"))
      val thresh = vals.agg((fpSum("vc", 100.0) * lit(0.0001)).as("thresh"))
      vals.groupBy("ps_partkey")
        .agg((sum(col("vc")).cast("double") / 100.0).as("value"))
        .crossJoin(broadcast(thresh))
        .filter(col("value") > col("thresh"))
        .select(col("ps_partkey"), col("value"))
        .orderBy(col("value").desc, col("ps_partkey"))
    },

    // TPC-H Q12 (shipmode vs priority) over the derived transport
    // columns: the late-commit/late-receipt screens run IN the
    // lineitem scan (pure key arithmetic — no dimension needed), then
    // one orderkey shuffle join against orders and a 2-wide
    // conditional aggregate.
    "q12_shipmode_prio" -> { (s, d) =>
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      withTransportCols(Tables.lineitem(s, d))
        .filter(col("l_shipmode").isin("MAIL", "SHIP") &&
          col("l_commitdate") < col("l_receiptdate") &&
          col("l_shipdate") < col("l_commitdate") &&
          col("l_receiptdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_receiptdate") < lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey", "l_shipmode")
        .join(Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_shipmode")
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_shipmode")
    },

    // The bucketed-layout twin of q12 — the battery's one honest
    // big-big shuffle, re-run over order-key-bucketed derivatives so
    // the lineitem⋈orders join is EXCHANGE-FREE on both sides: the
    // shuffle is paid once at layout-write time, and every repeated
    // run (the nightly-aggregate shape a 100-TB fact table amortizes)
    // reads matching buckets side by side. hint("merge") keeps the
    // plan a SortMergeJoin so the elision is the bucket spec's doing,
    // not a broadcast hiding the question (PlanSpec pins zero
    // Exchanges under the join). Values hash-identical to
    // q12_shipmode_prio — same oracle.
    "q12_bucketed" -> { (s, d) =>
      val (liT, ordT) = q12BucketedTables(s, d)
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      s.table(liT)
        .filter(col("l_shipmode").isin("MAIL", "SHIP") &&
          col("l_commitdate") < col("l_receiptdate") &&
          col("l_shipdate") < col("l_commitdate") &&
          col("l_receiptdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_receiptdate") < lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey", "l_shipmode")
        .join(s.table(ordT).hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_shipmode")
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_shipmode")
    },

    // TPC-H Q20 (excess availability) over the derived partsupp: the
    // nested semi-join chain — parts by name prefix (broadcast
    // left-semi into the generated partsupp), the correlated
    // half-of-shipped-quantity subquery as a (partkey, suppkey)
    // aggregate of the date-windowed lineitem scan (inner join ==
    // NULL-excluding correlated comparison), then a left-semi into the
    // nation-filtered supplier dim. Quantity sums are integer-valued
    // doubles (exact in IEEE far past 2^50 rows per pair).
    "q20_excess_avail" -> { (s, d) =>
      val prt = Tables.part(s, d).filter(col("p_name").like("small%"))
        .select("p_partkey")
      val shipped = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity")).as("qty"))
      val qualified = derivedPartsupp(s, d)
        .join(broadcast(prt), col("ps_partkey") === col("p_partkey"), "left_semi")
        .join(shipped, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty").cast("double") > lit(0.5) * col("qty"))
        .select("ps_suppkey")
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .join(qualified, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select("s_name").orderBy("s_name")
    },

    // Per-group OLS trend line (slope + intercept of order total vs
    // days since epoch start): the agg_corr discipline — exact integer
    // moment sums (hi/lo for the product term), ONE mirrored IEEE
    // formula per output, 1e-12-quantized. Slope is cents/day scaled
    // back to currency/day.
    "agg_regression" -> { (s, d) =>
      // epoch anchor (1970-01-01) keeps xd NON-NEGATIVE for any
      // plausible order date — the hi/lo split's documented
      // cross-engine precondition (Spark div truncates, the driver's
      // DuckDB floors; they agree only at xd*yc >= 0). Slope is
      // shift-invariant; intercept is the value AT the epoch anchor.
      val x = datediff(col("o_orderdate"), lit("1970-01-01").cast("timestamp"))
        .cast("long")
      val ords = Tables.orders(s, d)
        .select(col("o_orderpriority"), x.as("xd"), cents("o_totalprice").as("yc"))
        .withColumn("xy", col("xd") * col("yc"))
        .withColumn("xx", col("xd") * col("xd"))
      ords.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("xd").as("sx"), sum("yc").as("sy"),
          fpSum("xy", 1.0).as("sxy"), sum("xx").as("sxx"))
        .select(col("o_orderpriority") +: col("n") +:
          RegressionExprs.map { case (name, e) => expr(e).as(name) }: _*)
        .orderBy("o_orderpriority")
    },

    // Higher-moment statistics per group: mean, stddev, skewness and
    // excess kurtosis of quantity from EXACT integer power sums — qc^k
    // fits a long per row (qc ≤ 5000) and the k≥2 sums ride the hi/lo
    // split, so the only doubles are the final mirrored formula whose
    // ops (div/mul/sub/sqrt) are all correctly-rounded IEEE —
    // identical bits in both engines (pow is avoided: v·sqrt(v)
    // replaces power(v, 1.5) because libm pow is NOT
    // correctly-rounded). Standardized moments are scale-invariant, so
    // the cents scaling cancels in skew/kurt.
    "agg_moments" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag"), cents("l_quantity").as("qc"))
        .withColumn("q2", col("qc") * col("qc"))
        .withColumn("q3", col("qc") * col("qc") * col("qc"))
        .withColumn("q4", col("q2") * col("q2"))
      li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("qc").as("s1"),
          fpSum("q2", 1.0).as("s2"), fpSum("q3", 1.0).as("s3"),
          fpSum3("q4", 1.0).as("s4"))
        .select(col("l_returnflag") +: col("n") +:
          MomentExprs.map { case (name, e) => expr(e).as(name) }: _*)
        .orderBy("l_returnflag")
    },

    // Frequent-pair mining (the a-priori candidate step of
    // market-basket analysis): top-20 part pairs by co-order count.
    // The pair explosion is a SELF-JOIN ON THE ORDER KEY — fanout per
    // order is C(n,2) with n bounded by order size (single digits
    // here; a pathological mega-basket would be capped or salted), so
    // pair volume stays linear in orders. Both join sides share the
    // orderkey partitioning; the top-20 is TakeOrdered.
    "agg_copurchase" -> { (s, d) =>
      // the classic a⋈b plan deliberately: a collect_set +
      // in-array-C(n,2) variant was measured SLOWER at sf0.1 (1.7 s vs
      // 1.6 s — the object-hash set aggregate costs more than the
      // extra codegen'd exchange), and the join form carries no
      // per-group array memory at scale.
      // ONE exchange for distinct + self-join (§2.4): hash(ok) already
      // co-partitions the (ok, pk) groups — a subset of the clustering
      // keys satisfies the distinct's distribution — AND it is exactly
      // the join's required partitioning, so the explicit repartition
      // replaces what used to be an (ok, pk) exchange for the distinct
      // plus an ok exchange for the join (the pair fan-out then never
      // crosses the wire before its own (pa, pb) aggregate).
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .repartition(col("ok"))
        .distinct()
      val a = li.select(col("ok"), col("pk").as("pa"))
      val b = li.select(col("ok"), col("pk").as("pb"))
      a.join(b, Seq("ok")).filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("pa"), col("pb")).limit(20)
    },

    // Referential-integrity audit (the data-quality face of the star
    // schema): per FK relationship, child/orphan/parent/childless
    // counts from ONE full-outer join of per-key count aggregates —
    // both sides map-side combine to key cardinality before the join,
    // so each relationship costs one key-sized exchange pair, never a
    // row-sized one.
    "dq_referential" -> { (s, d) =>
      def audit(relName: String, child: DataFrame, ck: String,
                parent: DataFrame, pk: String): DataFrame = {
        val c = child.groupBy(col(ck).cast("long").as("k"))
          .agg(count(lit(1)).as("nc"))
        val p = parent.groupBy(col(pk).cast("long").as("k"))
          .agg(count(lit(1)).as("np"))
        c.join(p, Seq("k"), "full_outer")
          .agg(
            sum(coalesce(col("nc"), lit(0L))).as("n_child"),
            sum(when(col("np").isNull, col("nc")).otherwise(lit(0L))).as("n_orphan"),
            sum(coalesce(col("np"), lit(0L))).as("n_parent"),
            sum(when(col("nc").isNull && col("np").isNotNull, col("np"))
              .otherwise(lit(0L))).as("n_childless"))
          .select(lit(relName).as("relationship"), col("n_child"),
            col("n_orphan"), col("n_parent"), col("n_childless"))
      }
      val li = Tables.lineitem(s, d)
      audit("customer->nation", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey")
        .unionAll(audit("lineitem->orders", li, "l_orderkey",
          Tables.orders(s, d), "o_orderkey"))
        .unionAll(audit("lineitem->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey"))
        .unionAll(audit("lineitem->supplier", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"))
        .unionAll(audit("orders->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .orderBy("relationship")
    },

    // Left-semi: orders having at least one heavy lineitem (EXISTS).
    "join_semi" -> { (s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d).filter(col("l_quantity") >= 49),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey").orderBy("o_orderkey")
    },

    // Left-anti: customers with no order in 2001 (NOT EXISTS).
    "join_anti" -> { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")
    },

    // Left-outer join with aggregate over the nullable side.
    "join_outer_agg" -> { (s, d) =>
      val big = Tables.lineitem(s, d).filter(col("l_quantity") >= 45)
        .groupBy("l_orderkey").agg(count(lit(1)).as("big_items"))
      Tables.orders(s, d)
        .join(big, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"), coalesce(col("big_items"), lit(0L)).as("big_items"))
        .orderBy("o_orderkey")
    },

    // Broadcast dimension join: per-nation customer account stats.
    "join_broadcast_dim" -> { (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("cnt"),
          sum(dec("c_acctbal")).cast("double").as("sum_bal"))
        .orderBy("n_name")
    },

    // Global sort + limit: top-k by totalprice (TakeOrderedAndProject).
    "sort_limit" -> { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // Ranking/analytic window functions: top-3 suppliers per nation,
    // with the gap to the previous-ranked account balance. s_nationkey
    // has 25 values at EVERY scale factor, so a bare per-nation window
    // would sort 1/25th of a 100-TB supplier table on one task — the
    // same low-cardinality window killer fixed for the events family.
    // ParallelRank.withTopKRank salts the heavy rank into #keys×2p
    // buckets (exact: a global top-3 row is top-3 in its own bucket)
    // and the lag runs over the ≤ 3-per-nation survivors — bounded by
    // construction. Below the cutover the plain single-window plan
    // runs unchanged.
    "window_rank" -> { (s, d) =>
      val ord = Seq(col("s_acctbal").desc, col("s_suppkey").asc)
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy("s_nationkey").orderBy(ord: _*)
      ParallelRank.withTopKRank(Tables.supplier(s, d),
          Seq(col("s_nationkey")), ord, 3, xxhash64(col("s_suppkey")), "rnk",
          precomputedCount = Tables.cachedCount(s, d, "supplier"))
        .withColumn("rnk", col("rnk").cast("int"))
        .withColumn("prev_gap",
          (col("s_acctbal") - coalesce(lag("s_acctbal", 1).over(wTop), col("s_acctbal"))))
        .select("s_nationkey", "rnk", "s_suppkey", "s_acctbal", "prev_gap")
        .orderBy("s_nationkey", "rnk")
    },

    // NTILE quartiles per market segment — the bucket assignment rides
    // ParallelRank.withRowNumber (size-adaptive distributed prefix
    // ranks; parallelism grows with the value range, never capped at
    // the 5-segment cardinality) plus the EXACT SQL NTILE rule in
    // integer column math: the first cnt%n buckets take ⌈cnt/n⌉ rows,
    // the rest ⌊cnt/n⌋ — NOT the even-spread floor((rn−1)·n/cnt)
    // approximation, which differs whenever cnt % n != 0. Output is
    // per-bucket counts and acctbal bounds, so a misplaced boundary
    // row breaks the hash.
    "window_ntile" -> { (s, d) =>
      val n = 4
      val cust = Tables.customer(s, d)
      val rn = ParallelRank.withRowNumber(cust, Seq(col("c_mktsegment")),
        Seq(col("c_acctbal"), col("c_custkey")), "rn")
      val sizes = cust.groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
      // `div` = exact integral division (a floored double would
      // misround at integer boundaries on large counts)
      rn.join(broadcast(sizes), "c_mktsegment")
        .withColumn("q", expr(s"cnt div $n"))
        .withColumn("r", col("cnt") % n)
        .withColumn("big", (col("q") + 1) * col("r")) // rows in ⌈cnt/n⌉-sized buckets
        .withColumn("bucket",
          when(col("rn") <= col("big"), expr("(rn - 1) div (q + 1) + 1"))
            .otherwise(expr("r + (rn - big - 1) div q + 1"))
            .cast("int"))
        .groupBy("c_mktsegment", "bucket")
        .agg(count(lit(1)).as("n_rows"),
          min(col("c_acctbal").cast("double")).as("lo"),
          max(col("c_acctbal").cast("double")).as("hi"))
        .orderBy("c_mktsegment", "bucket")
    },

    // Distributed PERCENT_RANK / CUME_DIST: both are pure functions of
    // (row_number, group size) once the ordering is a total order
    // (ties broken by key), so they ride ParallelRank's segmented row
    // numbers + one broadcast count join — never a per-nation window
    // that would cap the stage at 25 tasks on a 100-TB customer table.
    // The divisions are the same (rn−1)/(n−1) and rn/n integer-operand
    // doubles DuckDB's builtins compute — bit-identical.
    "window_pct_rank" -> { (s, d) =>
      val cust = Tables.customer(s, d)
        .select("c_custkey", "c_nationkey", "c_acctbal")
      val rn = ParallelRank.withRowNumber(cust, Seq(col("c_nationkey")),
        Seq(col("c_acctbal"), col("c_custkey")), "rn")
      val sizes = cust.groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      rn.join(broadcast(sizes), "c_nationkey")
        .select(col("c_nationkey"), col("c_custkey"),
          when(col("n") === 1, lit(0.0))
            .otherwise((col("rn") - 1).cast("double") / (col("n") - 1).cast("double"))
            .as("pct_rank"),
          (col("rn").cast("double") / col("n").cast("double")).as("cdist"))
        .orderBy("c_nationkey", "c_custkey")
    },

    // Set operations (set semantics, like the reference's implicit
    // union upgraded to full algebra).
    "setop_intersect" -> { (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")
    },
    "setop_except" -> { (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .except(Tables.supplier(s, d).filter(col("s_acctbal") > 8000)
          .select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")
    },

    // Multiset set ops (the ALL forms — per-value count arithmetic,
    // not dedup): returned-line partkeys EXCEPT ALL / INTERSECT ALL
    // accepted-line partkeys, then a count per surviving key so the
    // multiset multiplicity is what's checked. Spark plans both as a
    // single count-difference aggregate plus a generate — one shuffle.
    "setop_except_all" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      li.filter(col("l_returnflag") === "R").select("l_partkey")
        .exceptAll(li.filter(col("l_returnflag") === "A").select("l_partkey"))
        .groupBy("l_partkey").agg(count(lit(1)).as("n"))
        .orderBy("l_partkey")
    },

    "setop_intersect_all" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      li.filter(col("l_returnflag") === "R").select("l_partkey")
        .intersectAll(li.filter(col("l_returnflag") === "A").select("l_partkey"))
        .groupBy("l_partkey").agg(count(lit(1)).as("n"))
        .orderBy("l_partkey")
    },

    // Navigation window functions over a HIGH-cardinality key (the
    // low-card segment trap doesn't apply: one window group per
    // order): first/second/last partkey and the lag/lead quantity
    // within each order's line sequence.
    "window_navigation" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // l_linenumber DUPLICATES within an order in this data — break
      // ties on (partkey, quantity) so navigation order is total and
      // engine-independent
      val w = Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey", "l_quantity")
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"))
        .withColumn("first_pk", first("l_partkey").over(w))
        .withColumn("second_pk", nth_value(col("l_partkey"), 2).over(wf))
        .withColumn("last_pk", last("l_partkey").over(wf))
        .withColumn("prev_qty", lag("l_quantity", 1).over(w))
        .withColumn("next_qty", lead("l_quantity", 1).over(w))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    },

    // Null-semantics battery: NULLIF-produced null keys flow through
    // grouping (the null group is a real group), COUNT(col) vs
    // COUNT(*) null-skipping, null-safe equality (<=> /
    // IS NOT DISTINCT FROM), and explicit NULLS FIRST ordering (the
    // engines' DEFAULTS differ: Spark sorts nulls first ASC, DuckDB
    // last — the explicit modifier is what makes the contract
    // portable).
    "scalar_nulls" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .withColumn("st", expr("nullif(o_orderstatus, 'O')"))
      o.groupBy("st")
        .agg(count(lit(1)).as("n"), count(col("st")).as("n_nonnull"),
          sum(when(col("st") <=> lit(null).cast("string"), 1L)
            .otherwise(0L)).as("n_nullsafe_null"))
        .orderBy(col("st").asc_nulls_first)
    },

    // Distinct aggregation (shuffle-dedup then agg).
    "agg_distinct" -> { (s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(countDistinct("l_suppkey").as("n_supp"),
          countDistinct("l_partkey").as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },

    // ROLLUP grouping sets with explicit ALL markers.
    "agg_rollup" -> { (s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          (sum(cents("l_quantity")).cast("double") / lit(100.0)).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("cnt"), col("sum_qty"))
        .orderBy("rf", "ls")
    },

    // CUBE: all four grouping combinations in one Expand-based
    // aggregate (rollup's sibling — same single-shuffle shape, 2^d
    // grouping sets fanned out map-side). Distinct grain from
    // agg_rollup: flag-only AND status-only marginals both appear.
    "agg_cube" -> { (s, d) =>
      Tables.lineitem(s, d)
        .withColumn("ec", cents("l_extendedprice"))
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          fpSum("ec", 100.0).as("sum_price"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("cnt"), col("sum_price"))
        .orderBy("rf", "ls")
    },

    // Explicit GROUPING SETS: a non-hierarchical set list (both
    // single-dimension marginals, NO pair grain and NO grand total) —
    // the shape neither rollup nor cube can express. Same Expand-based
    // single-shuffle plan: each input row fans out once per set
    // map-side, then one hash aggregate.
    "agg_grouping_sets" -> { (s, d) =>
      Tables.lineitem(s, d)
        .withColumn("ec", cents("l_extendedprice"))
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          fpSum("ec", 100.0).as("sum_price"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("cnt"), col("sum_price"))
        .orderBy("rf", "ls")
    },

    // RANGE window frame: each order's trailing-30-day spend for the
    // same customer — a value-range frame (all ties share one frame),
    // not a row-count frame. Partitioned by o_custkey, which GROWS
    // with the corpus (never a fixed-cardinality window cap); cents
    // stay primitive longs inside the frame sum.
    "window_range_frame" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("day"))
        .rangeBetween(-30, 0)
      Tables.orders(s, d)
        .withColumn("day", expr("datediff(o_orderdate, DATE '1970-01-01')").cast("long"))
        .withColumn("oc", cents("o_totalprice"))
        .withColumn("spend_30d", sum(col("oc")).over(w).cast("double") / lit(100.0))
        .select(col("o_orderkey"), col("o_custkey"), col("day"), col("spend_30d"))
        .orderBy("o_orderkey")
    },

    // HAVING: post-aggregation filter.
    "agg_having" -> { (s, d) =>
      Tables.orders(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          (sum(cents("o_totalprice")).cast("double") / lit(100.0)).as("total"))
        .filter(col("n_orders") >= 15)
        .orderBy("o_custkey")
    },

    // Scalar function battery: strings, dates, math, conditionals.
    "scalar_funcs" -> { (s, d) =>
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("uname"),
          substring(col("p_brand"), 1, 5).as("brand5"),
          length(col("p_name")).as("name_len"),
          concat_ws("|", col("p_type"), col("p_brand")).as("tb"),
          regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
          (col("p_size") % 7).as("size_mod"),
          abs(col("p_size") - 25).as("size_dist"),
          when(col("p_retailprice") > 1500.0, "premium")
            .when(col("p_retailprice") > 1000.0, "mid").otherwise("budget").as("tier"),
          floor(col("p_retailprice")).cast("long").as("price_floor"),
          ceil(col("p_retailprice")).cast("long").as("price_ceil"))
        .orderBy("p_partkey")
    },

    // Date/time battery over orders.
    "scalar_dates" -> { (s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          quarter(col("o_orderdate")).as("q"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("ymd"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).as("age_days"))
        .orderBy("o_orderkey")
    },

    // TPC-H Q6-style selective scan: every predicate pushed to parquet,
    // one exact-decimal sum — the minimal full-scan shape.
    "q6_selective" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
                col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .withColumn("rd4", cents("l_extendedprice") * cents("l_discount"))
        .agg(fpSum("rd4", 10000.0).as("revenue"))
    },

    // Exact interpolated percentiles (median & quartile) as DISTRIBUTED
    // order statistics — see [[exactPercentile]]. The built-in
    // `percentile` is an ObjectAggregate that merges a boxed
    // value→count map per group on #groups reducers: with 3 return
    // flags, a 100-TB lineitem would buffer ~1e8-distinct-price maps
    // on 3 tasks (and it runs outside whole-stage codegen — 1.35 s at
    // sf0.1 vs ~0.6 s for this shape). Interpolation is the identical
    // lower + frac·(upper−lower) the built-in computes, so the oracle
    // comparison is unchanged.
    // Size-adaptive — but at percentile's OWN cutover, not the generic
    // window one: the built-in's cost scales with per-group DISTINCT
    // VALUES (its buffer is a value→count map), not rows, so it stays
    // ahead well past the 512k generic threshold (measured 1.35 s
    // built-in vs 2.7 s distributed on sf0.1's 600k rows). The
    // distributed order-statistics plan takes over at 8M rows — where
    // a value map per group stops being buffer-friendly and the
    // 3-reducer merge becomes the bottleneck. The
    // `graft.window.smallInputRows` conf still overrides (how specs
    // and ScaleBench force the segmented path).
    "agg_percentile" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val thr = s.conf.getOption("graft.window.smallInputRows").map(_.toLong)
        .getOrElse(8L * 1024 * 1024)
      if (Tables.cachedCount(s, d, "lineitem") <= thr) {
        li.groupBy("l_returnflag")
          .agg(percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
            percentile(col("l_extendedprice"), lit(0.25)).as("p25_price"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag")
      } else {
        val med = exactPercentile(li, "l_returnflag", "l_quantity", 0.5, "median_qty")
        val p25 = exactPercentile(li, "l_returnflag", "l_extendedprice", 0.25, "p25_price")
        val n = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        med.join(p25, "l_returnflag").join(broadcast(n), "l_returnflag")
          .select("l_returnflag", "median_qty", "p25_price", "n")
          .orderBy("l_returnflag")
      }
    },

    // Exact Pearson correlations per group, from exact INTEGER moment
    // sums (count + 3 linear + 6 product sums — order-insensitive,
    // map-side-partial friendly, one exchange carrying ~16 cells per
    // group). All three measures are non-negative 2-decimal values, so
    // cents-scaling (×100 → long) is exact and keeps the whole per-row
    // hot path on primitive long arithmetic inside whole-stage codegen
    // (the previous decimal(38,6) moment sums ran one BigDecimal
    // multiply+add per cell per row — 2.6 s isolated at sf0.1; this
    // shape runs ~0.4 s). Each per-row product is ≤ ~1.2e14 (cents ≤
    // 1.1e7), and its hi/lo split at 1e7 (~sqrt of the max product)
    // BALANCES the two halves: hi ≤ 1.2e7 and lo < 1e7 per row, so
    // both long sums stay in range past ~7e11 rows per group — a
    // 100-TB lineitem is ~2e11 rows/group, inside the bound with
    // margin (the former 1e9 split left lo-sum wrapping silently
    // beyond ~9.2e9 rows/group, i.e. a few TB). The moments recombine
    // as hi·1e7 + lo IN DOUBLE — identical IEEE ops in both engines —
    // and since corr is scale-invariant the cents-scaled moments feed
    // the SAME CorrExpr string unchanged. Measures are assumed
    // non-negative (Spark div truncates, DuckDB // floors — they only
    // agree on non-negatives); Verify's invariant battery asserts
    // min(measure) >= 0 so a future signed data drop fails loudly
    // instead of hash-mismatching obscurely.
    "agg_corr" -> { (s, d) =>
      val HI = 10000000L
      def cents(c: String) = round(col(c) * 100).cast("long")
      def moment(hiC: String, loC: String) =
        (col(hiC).cast("double") * HI.toDouble + col(loC).cast("double"))
      val withParts = Seq(
        ("qq", "qc", "qc"), ("ee", "ec", "ec"), ("dd", "dc", "dc"),
        ("qe", "qc", "ec"), ("qd", "qc", "dc"), ("ed", "ec", "dc"))
      val base0 = Tables.lineitem(s, d)
        .select(col("l_returnflag"), cents("l_quantity").as("qc"),
          cents("l_extendedprice").as("ec"), cents("l_discount").as("dc"))
        .select(
          col("l_returnflag") +: col("qc") +: col("ec") +: col("dc") +:
          withParts.flatMap { case (nm, x, y) =>
            Seq(expr(s"($x * $y) div $HI").as(s"${nm}_hi"),
                expr(s"($x * $y) % $HI").as(s"${nm}_lo"))
          }: _*)
      val aggs: Seq[org.apache.spark.sql.Column] =
        count(lit(1)).cast("double").as("n") +:
        sum(col("qc")).cast("double").as("sq") +:
        sum(col("ec")).cast("double").as("se") +:
        sum(col("dc")).cast("double").as("sd") +:
        withParts.flatMap { case (nm, _, _) =>
          Seq(sum(col(s"${nm}_hi")).as(s"s${nm}_hi"),
              sum(col(s"${nm}_lo")).as(s"s${nm}_lo"))
        }
      val base = base0.groupBy("l_returnflag").agg(aggs.head, aggs.tail: _*)
      base.select(col("l_returnflag"), col("n").cast("long").as("n"),
          moment("sqq_hi", "sqq_lo").as("sqq"), moment("see_hi", "see_lo").as("see"),
          moment("sdd_hi", "sdd_lo").as("sdd"), moment("sqe_hi", "sqe_lo").as("sqe"),
          moment("sqd_hi", "sqd_lo").as("sqd"), moment("sed_hi", "sed_lo").as("sed"),
          col("sq"), col("se"), col("sd"))
        .select(col("l_returnflag"), col("n"),
          expr(CorrExpr("sq", "se", "sqq", "see", "sqe")).as("corr_qty_price"),
          expr(CorrExpr("sq", "sd", "sqq", "sdd", "sqd")).as("corr_qty_disc"),
          expr(CorrExpr("se", "sd", "see", "sdd", "sed")).as("corr_price_disc"))
        .orderBy("l_returnflag")
    },

    // Ordered string aggregation per group.
    // String aggregation (string_agg parity). The OUTPUT is O(input)
    // per group by the operator's own contract — every name lands in
    // one string — so the per-group materialization is inherent to
    // the semantics, not a plan defect; at fact-table scale the same
    // intent should bound the group (top-k names via withTopKRank)
    // or write the group's members as rows, both available here.
    "agg_stringagg" -> { (s, d) =>
      Tables.supplier(s, d).groupBy("s_nationkey")
        .agg(array_join(array_sort(collect_list(col("s_name"))), ",").as("names"))
        .orderBy("s_nationkey")
    },

    // Mode + exact median per group. Mode is argmax over a per-(group,
    // value) count table — the table is bounded by #groups × #distinct
    // segments, so the tie-break window rides a tiny two-level
    // survivor set, never the fact table (lexicographically-least
    // segment wins ties, pinned in both engines). Median rides the
    // shared exact-percentile core (value-histogram counts +
    // distributed prefix sum — the same bit-exact-vs-quantile_cont
    // arithmetic agg_incremental_percentile gates).
    "agg_mode_median" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val cust = Tables.customer(s, d)
      val cnts = cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("cnt"))
      val mode = cnts.withColumn("rn", row_number().over(
          Window.partitionBy("c_nationkey")
            .orderBy(col("cnt").desc, col("c_mktsegment"))))
        .filter(col("rn") === 1)
        .select(col("c_nationkey"), col("c_mktsegment").as("mode_seg"),
          col("cnt").as("mode_n"))
      val med = exactPercentile(cust, "c_nationkey", "c_acctbal", 0.5, "median_bal")
      val n = cust.groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      mode.join(med, "c_nationkey").join(broadcast(n), "c_nationkey")
        .select(col("c_nationkey"), col("mode_seg"), col("mode_n"),
          col("median_bal").cast("double").as("median_bal"), col("n"))
        .orderBy("c_nationkey")
    },

    // Uncorrelated scalar subquery: customers above the mean balance.
    "subquery_scalar" -> { (s, d) =>
      val cust = Tables.customer(s, d)
      val mean = cust.agg((sum(dec("c_acctbal")).cast("double") / count(lit(1))).as("m"))
      cust.crossJoin(broadcast(mean))
        .filter(col("c_acctbal") > col("m"))
        .select("c_custkey", "c_acctbal").orderBy("c_custkey")
    },

    // Analytic-function variants: ntile bucketing + first/last frame
    // values. c_mktsegment has FIVE values at every scale factor — a
    // bare per-segment window puts ~20% of a 100-TB customer table on
    // one task. Above the size cutover every analytic here is instead
    // assembled from the distributed rank (the order is total, so the
    // RANGE running count equals row_number), a broadcast per-segment
    // stats row, and arithmetic:
    //   cume     = rank (unique order => no peers),
    //   top_bal  = per-segment max(c_acctbal) (the first value in
    //              acctbal-desc order),
    //   quartile = ANSI NTILE(4) from (rank, segment count): q=N/4,
    //              rem=N%4, first rem buckets hold q+1 rows.
    // Below the cutover the original single-window plan runs.
    "window_analytics" -> { (s, d) =>
      val cust = Tables.customer(s, d)
      if (Tables.cachedCount(s, d, "customer") <= ParallelRank.resolveThreshold(cust, -1L)) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey"))
        cust
          .withColumn("quartile", ntile(4).over(w))
          .withColumn("top_bal", first(col("c_acctbal")).over(w))
          .withColumn("cume", count(lit(1)).over(w))
          .filter(col("c_custkey") % 50 === 0)
          .select("c_custkey", "c_mktsegment", "quartile", "top_bal", "cume")
          .orderBy("c_custkey")
      } else {
        val ranked = ParallelRank.withRowNumber(cust, Seq(col("c_mktsegment")),
          Seq(col("c_acctbal") * lit(-1), col("c_custkey")), "cume",
          smallThreshold = 0L)
        val stats = cust.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("__seg_n"), max(col("c_acctbal")).as("top_bal"))
        // Integral `div` (like window_ntile at :236) — a floored double
        // division can misround at exact integer boundaries once
        // per-segment counts get large.
        val r = col("cume")
        val q = expr("__seg_n div 4"); val rem = col("__seg_n") % lit(4)
        val thresh = (q + lit(1)) * rem
        val quartile = when(r <= thresh, expr("(cume - 1) div (__seg_n div 4 + 1)") + lit(1))
          .otherwise(rem + expr(
            "(cume - (__seg_n div 4 + 1) * (__seg_n % 4) - 1) div greatest(__seg_n div 4, 1)") + lit(1))
        ranked.join(broadcast(stats), "c_mktsegment")
          .filter(col("c_custkey") % 50 === 0)
          .withColumn("quartile", quartile.cast("int"))
          .select("c_custkey", "c_mktsegment", "quartile", "top_bal", "cume")
          .orderBy("c_custkey")
      }
    },

    // Conditional aggregation (filtered counts/sums in one pass).
    "agg_conditional" -> { (s, d) =>
      Tables.lineitem(s, d).groupBy("l_linestatus")
        .agg(
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"),
          (sum(when(col("l_discount") > 0.05, cents("l_quantity")).otherwise(lit(0L)))
            .cast("double") / lit(100.0)).as("qty_discounted"),
          count(lit(1)).as("n"))
        .orderBy("l_linestatus")
    },

    // Calendar rollup: revenue by order month.
    "agg_monthly" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(cents("o_totalprice")).cast("double") / lit(100.0)).as("revenue"))
        .orderBy("y", "m")
    },

    // Wide pivot: per-shipmode quantity totals fanned out by return
    // flag. Catalyst compiles `pivot` with explicit values to ONE hash
    // aggregate over the group key (each pivot value becomes a
    // conditional aggregate) — a single shuffle on the ship year,
    // partial aggregation map-side. Cells are exact long cents: |cell|
    // grows ~5.1e3·rows, so long overflow needs ~1.8e15 rows per
    // (year, flag) — ~2000× a 100-TB lineitem's share. A (year, flag)
    // combination with no rows is NULL from pivot and 0 from the
    // oracle's ELSE 0; coalesce aligns them.
    "agg_pivot" -> { (s, d) =>
      Tables.lineitem(s, d)
        .withColumn("ship_y", year(col("l_shipdate")))
        .groupBy("ship_y")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(cents("l_quantity")))
        .select(col("ship_y"),
          (coalesce(col("A"), lit(0L)).cast("double") / lit(100.0)).as("qty_a"),
          (coalesce(col("N"), lit(0L)).cast("double") / lit(100.0)).as("qty_n"),
          (coalesce(col("R"), lit(0L)).cast("double") / lit(100.0)).as("qty_r"))
        .orderBy("ship_y")
    },

    // Long-form melt: the four 2-decimal lineitem measures unpivoted
    // to (measure, cents) rows — Catalyst's Expand node, a 4× row
    // fan-out with NO shuffle — then one 4-group aggregate. The sums
    // ride the hi/lo split (extendedprice cents × a 100-TB lineitem's
    // ~8.6e11 rows only clears long range split at 1e7); the oracle
    // mirrors as UNION ALL + the identical recombination.
    "agg_unpivot" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select(cents("l_quantity").as("l_quantity"),
          cents("l_extendedprice").as("l_extendedprice"),
          cents("l_discount").as("l_discount"),
          cents("l_tax").as("l_tax"))
        .unpivot(Array.empty[Column],
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "m", "v")
        .groupBy("m")
        .agg(fpSum("v", 100.0).as("total"), count(lit(1)).as("n"))
        .orderBy("m")
    },

    // Array functions over the embedding column: size, slice, element
    // stats — exact termwise math, no aggregation ambiguity.
    "array_funcs" -> { (s, d) =>
      Tables.embeddings(s, d).filter(col("vec_id") < 100)
        .select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          element_at(col("embedding"), 1).cast("double").as("first_elem"),
          (element_at(col("embedding"), 1).cast("double") +
            element_at(col("embedding"), 64).cast("double")).as("ends_sum"),
          col("label"))
        .orderBy("vec_id")
    },

    // Approximate distinct (HLL) — no SQL oracle (estimates differ by
    // engine); the driver records a rows-only check, exactness is
    // asserted relative to countDistinct in unit tests.
    "agg_approx_distinct" -> { (s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(approx_count_distinct("l_partkey").as("approx_parts"))
        .orderBy("l_returnflag")
    },

    // Population overlap via theta sketches: estimated distinct-user
    // intersection/union for every event-type pair — the set algebra
    // HLL cannot express. Deterministic (fixed library seed, order-
    // independent retention), so rows-only for the driver with
    // Verify's invariant gating estimates against exact pair
    // intersections.
    "agg_user_overlap" -> { (s, d) =>
      ThetaOps.pairwiseOverlap(Tables.events(s, d), "event_type", col("user_id"))
    },

    // Incremental EXACT percentile over a persisted value-histogram
    // index: lineitem rows with l_orderkey%10>=3 play the ingested
    // corpus, summarized as per-(returnflag, ship-year) distinct-value
    // counts of l_quantity (50 values — the index is tiny and exact);
    // the rest play the day's batch. Counts merge by SUMMING, so the
    // incremental median is bit-identical to a full recompute and
    // hash-matches the quantile_cont oracle over ALL rows — the
    // mergeable-index property randomized quantile sketches lack.
    "agg_incremental_percentile" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val batch = li.filter(col("l_orderkey") % 10 < 3)
      val corpus = li.filter(col("l_orderkey") % 10 >= 3)
      val index = HistogramIndex.buildValueHistIndex(corpus, Seq("l_returnflag"),
        year(col("l_shipdate")), col("l_quantity"))
      HistogramIndex.percentileWithBatch(index, batch, "l_returnflag",
          col("l_quantity"), 0.5, "median_qty")
        .orderBy("l_returnflag")
    },

    // Incremental distinct over a persisted sketch index: events with
    // event_id%10>=3 play the already-ingested corpus, summarized as
    // per-(event_type, day) DataSketches HLL sketches (built here
    // in-query; IncrementalSketchSpec proves the parquet round-trip
    // and index-only probe plan); the rest play today's batch. The
    // estimate unions kilobytes of sketches — corpus rows are never
    // rescanned. No SQL oracle (DuckDB's approx sketch is a different
    // algorithm); Verify's invariant pins union-of-shards == one-shot
    // estimate AND relative error vs exact distinct.
    "agg_incremental_distinct" -> { (s, d) =>
      val all = Tables.events(s, d)
      val batch = all.filter(col("event_id") % 10 < 3)
      val corpus = all.filter(col("event_id") % 10 >= 3)
      val index = SketchIndex.buildDistinctIndex(corpus, Seq("event_type"),
        to_date(col("ts")).cast("string"), col("user_id"))
      SketchIndex.estimateWithBatch(index, batch, Seq("event_type"), col("user_id"))
        .orderBy("event_type")
    },

    // Approximate quantiles (Spark's mergeable percentile sketch,
    // accuracy 1000 => rank error <= 1/1000) — the second sketch
    // family next to HLL: partial sketches merge map-side, so the
    // shuffle carries one sketch per group, not the values. No SQL
    // oracle (sketch estimates are engine-specific); the driver's
    // invariants.json asserts the rank-error bound against the data,
    // and the driver records a rows-only check.
    "agg_approx_quantile" -> { (s, d) =>
      // Emitted as one scalar row per (group, quantile) — posexplode of
      // the sketch's array output — so the dump is checkable by any
      // row-oriented comparator; the array form is a one-liner away for
      // library callers. NOTE: percentile_approx's Greenwald-Khanna
      // summaries are merge-order-sensitive (unlike HLL, which is
      // commutative) — deterministic in practice under local[n] but NOT
      // guaranteed bit-stable under cluster shuffle-fetch order; the
      // Verify rank-error invariant is the real gate, not a hash compare.
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"),
            array(ApproxQs.map(lit): _*), lit(ApproxAccuracy)).as("approx_q"),
          count(lit(1)).as("n"))
        .selectExpr("l_returnflag", "n", "posexplode(approx_q) AS (q_idx, q)")
        .select("l_returnflag", "q_idx", "q", "n")
        .orderBy("l_returnflag", "q_idx")
    },
    // TPC-H Q1-style full-scan aggregation: partial aggregation map-side,
    // 6 groups total — the canonical "would hold at 100 TB" scan+agg
    // shape. Arithmetic is FIXED-POINT LONGS, the agg_corr pattern:
    // cents-scaling is exact for these 2-decimal columns, so
    // price·(1−disc) is the integer ten-thousandths value ec·(100−dc)
    // and ·(1+tax) the integer millionths — per-row primitive long
    // multiplies inside whole-stage codegen instead of the
    // beyond-18-digit decimal widening that falls off the compact
    // Decimal representation into one BigDecimal allocation per row
    // (measured 1.5 s → ~0.4 s at sf0.1). The product sums split
    // hi/lo at 1e7 (per-row c6 ≤ ~1.2e11 → hi ≤ 1.2e4, lo < 1e7),
    // keeping both long sums in range past ~9e11 rows per group —
    // ~6× the ~1.5e11 rows/group of a 100-TB lineitem. Sums
    // recombine hi·1e7 + lo IN DOUBLE, the identical IEEE ops the
    // mirrored oracle runs.
    "q1_agg" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"),
          cents("l_quantity").as("qc"), cents("l_extendedprice").as("ec"),
          cents("l_discount").as("dc"), cents("l_tax").as("tc"))
        .withColumn("d4", col("ec") * (lit(100L) - col("dc")))
        .withColumn("c6", col("d4") * (lit(100L) + col("tc")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          (sum("qc").cast("double") / lit(100.0)).as("sum_qty"),
          (sum("ec").cast("double") / lit(100.0)).as("sum_base_price"),
          fpSum("d4", 10000.0).as("sum_disc_price"),
          fpSum("c6", 1000000.0).as("sum_charge"),
          (sum("qc").cast("double") / lit(100.0) / count(lit(1))).as("avg_qty"),
          (sum("dc").cast("double") / lit(100.0) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }
  )

  private val revSql =
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))"

  /** DuckDB mirror of [[revCents]]: price·(1−disc) in integer
    * ten-thousandths.
    */
  private val rev4Sql =
    "(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)))"

  /** DuckDB mirror of [[fpSum]] — hi/lo split at 1e7, recombined in
    * DOUBLE with the identical IEEE ops, scaled by `divisor`.
    */
  private def fpSumSql(v: String, divisor: String): String =
    s"((CAST(SUM(($v) // $FpHi) AS DOUBLE) * ${FpHi.toDouble} + " +
      s"CAST(SUM(($v) % $FpHi) AS DOUBLE)) / $divisor)"

  /** DuckDB mirror of [[fpSum3]] — hi/mid/lo lanes at 1e14/1e7. */
  private def fpSum3Sql(v: String, divisor: String): String =
    s"((CAST(SUM(($v) // ${FpHi * FpHi}) AS DOUBLE) * ${(FpHi * FpHi).toDouble} + " +
      s"CAST(SUM((($v) // $FpHi) % $FpHi) AS DOUBLE) * ${FpHi.toDouble} + " +
      s"CAST(SUM(($v) % $FpHi) AS DOUBLE)) / $divisor)"

  /** `agg_regression` output formulas over the named moment sums
    * (n, sx, sy, sxx long; sxy an exact recombined double) — one
    * string per output, interpolated into BOTH engines; slope/
    * intercept convert cents to currency at the end.
    */
  private val RegressionExprs: Seq[(String, String)] = {
    val nD = "CAST(n AS DOUBLE)"
    val sxD = "CAST(sx AS DOUBLE)"
    val syD = "CAST(sy AS DOUBLE)"
    val sxxD = "CAST(sxx AS DOUBLE)"
    // denom = n·sxx − sx² ≥ 0 (Cauchy–Schwarz); == 0 when every x in
    // the group is identical — guard it: Spark yields NaN for 0/0
    // where DuckDB yields NULL, which would split the hash
    val denom = s"($nD * $sxxD - $sxD * $sxD)"
    val slope = s"((($nD * sxy - $sxD * $syD) / $denom))"
    def q(x: String) = s"floor(($x) * 1e12 + 0.5) / 1e12"
    def guarded(x: String, degenerate: String) =
      s"CASE WHEN $denom <= 0.0 THEN $degenerate ELSE $x END"
    Seq(
      "slope_per_day" -> q(guarded(s"$slope / 100.0", "0.0")),
      "intercept" -> q(guarded(s"(($syD - $slope * $sxD) / $nD) / 100.0",
        s"($syD / $nD) / 100.0")))
  }

  /** `agg_moments` output formulas over the named power sums
    * (n, s1 long; s2..s4 already recombined doubles) — ONE string per
    * measure, interpolated verbatim into both the Spark plan and the
    * DuckDB oracle (the CorrExpr pattern). Every op is
    * correctly-rounded IEEE (no pow), then 1e-12-quantized.
    */
  private val MomentExprs: Seq[(String, String)] = {
    val nD = "CAST(n AS DOUBLE)"
    val m = s"(CAST(s1 AS DOUBLE) / $nD)"
    val v = s"(s2 / $nD - $m * $m)"
    def q(x: String) = s"floor(($x) * 1e12 + 0.5) / 1e12"
    Seq(
      "mean_qty" -> q(s"$m / 100.0"),
      "sd_qty" -> q(s"sqrt(greatest(0.0, $v)) / 100.0"),
      // degenerate (constant) groups: v can land at or just below 0.0
      // in double — sqrt would make NaN (which greatest() can't catch:
      // NaN sorts greatest in both engines), so gate the whole formula
      // on v > 0 instead
      "skew_qty" -> q(s"CASE WHEN $v <= 0.0 THEN 0.0 ELSE " +
        s"(s3 / $nD - 3 * $m * (s2 / $nD) + 2 * $m * $m * $m)" +
        s" / ($v * sqrt($v)) END"),
      "kurt_qty" -> q(s"CASE WHEN $v <= 0.0 THEN 0.0 ELSE " +
        s"(s4 / $nD - 4 * $m * (s3 / $nD) + 6 * $m * $m * (s2 / $nD)" +
        s" - 3 * $m * $m * $m * $m) / ($v * $v) - 3 END"))
  }

  val oracleSql: Map[String, String] = Map(
    "window_analytics" ->
      """SELECT c_custkey, c_mktsegment, quartile, top_bal, cume FROM (
        |  SELECT c_custkey, c_mktsegment,
        |    NTILE(4) OVER w AS quartile,
        |    FIRST_VALUE(c_acctbal) OVER w AS top_bal,
        |    COUNT(*) OVER w AS cume
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey))
        |WHERE c_custkey % 50 = 0 ORDER BY c_custkey""".stripMargin,

    "agg_conditional" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
        |  CAST(SUM(CASE WHEN l_discount > 0.05 THEN CAST(round(l_quantity * 100) AS BIGINT) ELSE 0 END) AS DOUBLE) / 100.0 AS qty_discounted,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "agg_monthly" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM orders GROUP BY 1, 2 ORDER BY y, m""".stripMargin,

    "agg_pivot" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS ship_y,
        |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(round(l_quantity * 100) AS BIGINT) ELSE 0 END) AS DOUBLE) / 100.0 AS qty_a,
        |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(round(l_quantity * 100) AS BIGINT) ELSE 0 END) AS DOUBLE) / 100.0 AS qty_n,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(round(l_quantity * 100) AS BIGINT) ELSE 0 END) AS DOUBLE) / 100.0 AS qty_r
        |FROM lineitem GROUP BY 1 ORDER BY ship_y""".stripMargin,

    "agg_unpivot" ->
      """SELECT m,
        |  (CAST(SUM(v // 10000000) AS DOUBLE) * 10000000.0 + CAST(SUM(v % 10000000) AS DOUBLE)) / 100.0 AS total,
        |  COUNT(*) AS n
        |FROM (
        |  SELECT 'l_quantity' AS m, CAST(round(l_quantity * 100) AS BIGINT) AS v FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', CAST(round(l_extendedprice * 100) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'l_discount', CAST(round(l_discount * 100) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'l_tax', CAST(round(l_tax * 100) AS BIGINT) FROM lineitem
        |)
        |GROUP BY m ORDER BY m""".stripMargin,

    "array_funcs" ->
      """SELECT vec_id, len(embedding) AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS first_elem,
        |  CAST(embedding[1] AS DOUBLE) + CAST(embedding[64] AS DOUBLE) AS ends_sum,
        |  label
        |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin,

    "q2_min_cost_supp" ->
      s"""WITH $PartsuppCte
         |SELECT s_acctbal, s_name, n_name, ps_partkey, p_brand,
         |  CAST(ps_costc AS DOUBLE) / 100.0 AS ps_supplycost
         |FROM partsupp ps1, part, supplier, nation, region
         |WHERE ps1.ps_partkey = p_partkey AND ps1.ps_suppkey = s_suppkey
         |  AND p_size <= 25 AND p_type = 'LARGE'
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'EUROPE'
         |  AND ps_costc = (
         |    SELECT MIN(ps2.ps_costc)
         |    FROM partsupp ps2, supplier s2, nation n2, region r2
         |    WHERE ps2.ps_partkey = ps1.ps_partkey
         |      AND ps2.ps_suppkey = s2.s_suppkey
         |      AND s2.s_nationkey = n2.n_nationkey
         |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
         |ORDER BY s_acctbal DESC, n_name, s_name, ps_partkey LIMIT 100""".stripMargin,

    "q11_value_share" ->
      s"""WITH $PartsuppCte,
         |vals AS (
         |  SELECT ps_partkey, ps_costc * ps_availqty AS vc
         |  FROM partsupp, supplier, nation
         |  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
         |    AND n_name = 'NATION_7')
         |SELECT ps_partkey, CAST(SUM(vc) AS DOUBLE) / 100.0 AS value
         |FROM vals GROUP BY ps_partkey
         |HAVING CAST(SUM(vc) AS DOUBLE) / 100.0 >
         |  (SELECT ${fpSumSql("vc", "100.0")} * 0.0001 FROM vals)
         |ORDER BY value DESC, ps_partkey""".stripMargin,

    "q12_shipmode_prio" ->
      """SELECT l_shipmode,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM (
        |  SELECT l_orderkey,
        |    CASE (l_orderkey * 7 + l_linenumber) % 5
        |      WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR'
        |      WHEN 3 THEN 'RAIL' ELSE 'TRUCK' END AS l_shipmode,
        |    l_shipdate + INTERVAL ((l_orderkey * 5 + l_linenumber * 7) % 60 - 25) DAY AS l_commitdate,
        |    l_shipdate + INTERVAL ((l_orderkey + l_linenumber * 3) % 30 + 1) DAY AS l_receiptdate,
        |    l_shipdate
        |  FROM lineitem) li, orders
        |WHERE l_orderkey = o_orderkey
        |  AND l_shipmode IN ('MAIL', 'SHIP')
        |  AND l_commitdate < l_receiptdate AND l_shipdate < l_commitdate
        |  AND l_receiptdate >= TIMESTAMP '1996-01-01'
        |  AND l_receiptdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_shipmode ORDER BY l_shipmode""".stripMargin,

    // the bucketed twin computes the identical relation — layout, not
    // semantics, is what changes
    "q12_bucketed" ->
      """SELECT l_shipmode,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM (
        |  SELECT l_orderkey,
        |    CASE (l_orderkey * 7 + l_linenumber) % 5
        |      WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR'
        |      WHEN 3 THEN 'RAIL' ELSE 'TRUCK' END AS l_shipmode,
        |    l_shipdate + INTERVAL ((l_orderkey * 5 + l_linenumber * 7) % 60 - 25) DAY AS l_commitdate,
        |    l_shipdate + INTERVAL ((l_orderkey + l_linenumber * 3) % 30 + 1) DAY AS l_receiptdate,
        |    l_shipdate
        |  FROM lineitem) li, orders
        |WHERE l_orderkey = o_orderkey
        |  AND l_shipmode IN ('MAIL', 'SHIP')
        |  AND l_commitdate < l_receiptdate AND l_shipdate < l_commitdate
        |  AND l_receiptdate >= TIMESTAMP '1996-01-01'
        |  AND l_receiptdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_shipmode ORDER BY l_shipmode""".stripMargin,

    "q20_excess_avail" ->
      s"""WITH $PartsuppCte
         |SELECT s_name FROM supplier, nation
         |WHERE s_nationkey = n_nationkey AND n_name = 'NATION_7'
         |  AND s_suppkey IN (
         |    SELECT ps_suppkey FROM partsupp
         |    WHERE ps_partkey IN
         |      (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
         |      AND CAST(ps_availqty AS DOUBLE) > (
         |        SELECT 0.5 * SUM(l_quantity) FROM lineitem
         |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
         |          AND l_shipdate >= TIMESTAMP '1996-01-01'
         |          AND l_shipdate < TIMESTAMP '1997-01-01'))
         |ORDER BY s_name""".stripMargin,

    "q6_selective" ->
      """SELECT (CAST(SUM(rd4 // 10000000) AS DOUBLE) * 10000000.0 + CAST(SUM(rd4 % 10000000) AS DOUBLE)) / 10000.0 AS revenue
        |FROM (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT) AS rd4,
        |        l_shipdate, l_discount, l_quantity FROM lineitem)
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "agg_percentile" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_extendedprice, 0.25) AS p25_price, COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_incremental_percentile" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_stringagg" ->
      """SELECT s_nationkey, string_agg(s_name, ',' ORDER BY s_name) AS names
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "agg_mode_median" ->
      """WITH cnts AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt
        |  FROM customer GROUP BY 1, 2),
        |best AS (
        |  SELECT c_nationkey, c_mktsegment AS mode_seg, cnt AS mode_n FROM (
        |    SELECT c_nationkey, c_mktsegment, cnt, ROW_NUMBER() OVER (
        |      PARTITION BY c_nationkey ORDER BY cnt DESC, c_mktsegment) AS rn
        |    FROM cnts) WHERE rn = 1),
        |med AS (
        |  SELECT c_nationkey, CAST(quantile_cont(c_acctbal, 0.5) AS DOUBLE) AS median_bal,
        |    COUNT(*) AS n
        |  FROM customer GROUP BY 1)
        |SELECT c_nationkey, mode_seg, mode_n, median_bal, n
        |FROM best JOIN med USING (c_nationkey)
        |ORDER BY c_nationkey""".stripMargin,

    "agg_corr" -> {
      // Mirrors the Spark plan's exact-integer moment shape: cents-
      // scaled longs, per-row products hi/lo-split at 1e7, sums
      // recombined hi*1e7 + lo in DOUBLE (identical IEEE ops). DuckDB
      // sums BIGINT into HUGEINT — still the same exact integer, and
      // hugeint→double is correctly rounded like Spark's long→double.
      def m(nm: String, x: String, y: String) =
        s"CAST(SUM(($x * $y) // 10000000) AS DOUBLE) * 1e7 + CAST(SUM(($x * $y) % 10000000) AS DOUBLE) AS s$nm"
      s"""SELECT l_returnflag, CAST(n AS BIGINT) AS n,
         |  ${CorrExpr("sq", "se", "sqq", "see", "sqe")} AS corr_qty_price,
         |  ${CorrExpr("sq", "sd", "sqq", "sdd", "sqd")} AS corr_qty_disc,
         |  ${CorrExpr("se", "sd", "see", "sdd", "sed")} AS corr_price_disc
         |FROM (
         |  SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
         |    CAST(SUM(qc) AS DOUBLE) AS sq, CAST(SUM(ec) AS DOUBLE) AS se, CAST(SUM(dc) AS DOUBLE) AS sd,
         |    ${m("qq", "qc", "qc")}, ${m("ee", "ec", "ec")}, ${m("dd", "dc", "dc")},
         |    ${m("qe", "qc", "ec")}, ${m("qd", "qc", "dc")}, ${m("ed", "ec", "dc")}
         |  FROM (
         |    SELECT l_returnflag,
         |      CAST(round(l_quantity * 100) AS BIGINT) AS qc,
         |      CAST(round(l_extendedprice * 100) AS BIGINT) AS ec,
         |      CAST(round(l_discount * 100) AS BIGINT) AS dc
         |    FROM lineitem)
         |  GROUP BY l_returnflag)
         |ORDER BY l_returnflag""".stripMargin
    },

    "subquery_scalar" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM customer)
        |ORDER BY c_custkey""".stripMargin,

    "q3_join_topk" ->
      s"""SELECT l_orderkey, (CAST(SUM((CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) // 10000000) AS DOUBLE) * 10000000.0 + CAST(SUM((CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) % 10000000) AS DOUBLE)) / 10000.0 AS revenue,
         |  strftime(MIN(o_orderdate), '%Y-%m-%d') AS o_orderdate
         |FROM lineitem, orders, customer
         |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
         |  AND c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY l_orderkey
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_join_agg" ->
      s"""SELECT n_name, (CAST(SUM((CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) // 10000000) AS DOUBLE) * 10000000.0 + CAST(SUM((CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) % 10000000) AS DOUBLE)) / 10000.0 AS revenue
         |FROM lineitem, orders, customer, supplier, nation, region
         |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
         |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "join_semi" ->
      """SELECT o_orderkey FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin,

    "join_anti" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2001-01-01')
        |ORDER BY c_custkey""".stripMargin,

    "join_outer_agg" ->
      """SELECT o_orderkey, COALESCE(big_items, 0) AS big_items
        |FROM orders LEFT JOIN (
        |  SELECT l_orderkey, COUNT(*) AS big_items FROM lineitem
        |  WHERE l_quantity >= 45 GROUP BY l_orderkey) b
        |ON o_orderkey = b.l_orderkey
        |ORDER BY o_orderkey""".stripMargin,

    "join_broadcast_dim" ->
      """SELECT n_name, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "sort_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q10_returned_topk" ->
      s"""SELECT c_custkey, c_name, n_name,
         |  (CAST(SUM((CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) // 10000000) AS DOUBLE) * 10000000.0 + CAST(SUM((CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) % 10000000) AS DOUBLE)) / 10000.0 AS revenue
         |FROM lineitem, orders, customer, nation
         |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
         |  AND c_nationkey = n_nationkey
         |  AND l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1996-04-01'
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q4_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q21_sole_blame" ->
      """WITH l1 AS (
        |  SELECT l_orderkey AS ok, l_suppkey AS sk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM l1 JOIN supplier ON sk = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = ok AND l2.l_suppkey <> sk)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3 JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
        |    WHERE l3.l_orderkey = ok AND l3.l_suppkey <> sk
        |      AND o3.o_orderstatus = 'F'
        |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,

    "q18_topn_agg" ->
      """WITH heavy AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT) AS qty_c
        |  FROM lineitem GROUP BY 1 HAVING qty_c > 15000)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |  CAST(qty_c AS DOUBLE) / 100.0 AS total_qty
        |FROM heavy JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin,

    "agg_regression" -> {
      val outs = RegressionExprs.map { case (name, e) => s"  $e AS $name" }
        .mkString(",\n")
      s"""SELECT o_orderpriority, n,
         |$outs
         |FROM (
         |  SELECT o_orderpriority, COUNT(*) AS n,
         |    CAST(SUM(xd) AS BIGINT) AS sx, CAST(SUM(yc) AS BIGINT) AS sy,
         |    ${fpSumSql("xy", "1.0")} AS sxy,
         |    CAST(SUM(xx) AS BIGINT) AS sxx
         |  FROM (
         |    SELECT o_orderpriority, xd, yc, xd * yc AS xy, xd * xd AS xx
         |    FROM (
         |      SELECT o_orderpriority,
         |        CAST(date_diff('day', TIMESTAMP '1970-01-01', o_orderdate)
         |          AS BIGINT) AS xd,
         |        CAST(round(o_totalprice * 100) AS BIGINT) AS yc
         |      FROM orders))
         |  GROUP BY o_orderpriority)
         |ORDER BY o_orderpriority""".stripMargin
    },

    "agg_moments" -> {
      val outs = MomentExprs.map { case (name, e) => s"  $e AS $name" }
        .mkString(",\n")
      s"""SELECT l_returnflag, n,
         |$outs
         |FROM (
         |  SELECT l_returnflag, COUNT(*) AS n, CAST(SUM(qc) AS BIGINT) AS s1,
         |    ${fpSumSql("q2", "1.0")} AS s2,
         |    ${fpSumSql("q3", "1.0")} AS s3,
         |    ${fpSum3Sql("q4", "1.0")} AS s4
         |  FROM (
         |    SELECT l_returnflag, qc, qc * qc AS q2, qc * qc * qc AS q3,
         |      (qc * qc) * (qc * qc) AS q4
         |    FROM (SELECT l_returnflag,
         |            CAST(round(l_quantity * 100) AS BIGINT) AS qc
         |          FROM lineitem))
         |  GROUP BY l_returnflag)
         |ORDER BY l_returnflag""".stripMargin
    },

    "agg_copurchase" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem)
        |SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS n_orders
        |FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, pa, pb LIMIT 20""".stripMargin,

    "dq_referential" -> {
      def auditSql(relName: String, childTbl: String, ck: String,
                   parentTbl: String, pk: String): String =
        s"""SELECT '$relName' AS relationship,
           |  CAST(SUM(COALESCE(nc, 0)) AS BIGINT) AS n_child,
           |  CAST(SUM(CASE WHEN np IS NULL THEN nc ELSE 0 END) AS BIGINT) AS n_orphan,
           |  CAST(SUM(COALESCE(np, 0)) AS BIGINT) AS n_parent,
           |  CAST(SUM(CASE WHEN nc IS NULL AND np IS NOT NULL THEN np ELSE 0 END) AS BIGINT) AS n_childless
           |FROM (SELECT CAST($ck AS BIGINT) AS k, COUNT(*) AS nc
           |      FROM $childTbl GROUP BY 1) c
           |FULL JOIN (SELECT CAST($pk AS BIGINT) AS k, COUNT(*) AS np
           |           FROM $parentTbl GROUP BY 1) p USING (k)""".stripMargin
      Seq(
        auditSql("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        auditSql("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        auditSql("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        auditSql("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        auditSql("orders->customer", "orders", "o_custkey", "customer", "c_custkey"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY relationship")
    },

    "q7_nation_volume" ->
      s"""SELECT supp_nation, cust_nation, l_year,
         |  ${fpSumSql("rev4", "10000.0")} AS revenue
         |FROM (
         |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |    CAST(year(l_shipdate) AS INT) AS l_year, $rev4Sql AS rev4
         |  FROM lineitem
         |    JOIN orders ON l_orderkey = o_orderkey
         |    JOIN supplier ON l_suppkey = s_suppkey
         |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |    JOIN customer ON o_custkey = c_custkey
         |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1998-01-01'
         |    AND n1.n_name IN ('NATION_1', 'NATION_2')
         |    AND n2.n_name IN ('NATION_1', 'NATION_2')
         |    AND n1.n_name <> n2.n_name)
         |GROUP BY supp_nation, cust_nation, l_year
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q8_market_share" ->
      s"""SELECT o_year,
         |  floor((${fpSumSql("nrev4", "10000.0")} /
         |    ${fpSumSql("rev4", "10000.0")}) * 1e12 + 0.5) / 1e12 AS mkt_share
         |FROM (
         |  SELECT CAST(year(o_orderdate) AS INT) AS o_year, $rev4Sql AS rev4,
         |    CASE WHEN n1.n_name = 'NATION_1' THEN $rev4Sql ELSE 0 END AS nrev4
         |  FROM lineitem
         |    JOIN orders ON l_orderkey = o_orderkey
         |    JOIN part ON l_partkey = p_partkey
         |    JOIN customer ON o_custkey = c_custkey
         |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |    JOIN region ON n2.n_regionkey = r_regionkey
         |    JOIN supplier ON l_suppkey = s_suppkey
         |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         |    AND o_orderdate < TIMESTAMP '1998-01-01'
         |    AND p_type = 'ECONOMY' AND r_name = 'AMERICA')
         |GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q9_product_profit" ->
      s"""SELECT nation, o_year, ${fpSumSql("rev4", "10000.0")} AS sum_profit
         |FROM (
         |  SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
         |    $rev4Sql AS rev4
         |  FROM lineitem
         |    JOIN part ON l_partkey = p_partkey
         |    JOIN orders ON l_orderkey = o_orderkey
         |    JOIN supplier ON l_suppkey = s_suppkey
         |    JOIN nation ON s_nationkey = n_nationkey
         |  WHERE p_name LIKE '%red%')
         |GROUP BY nation, o_year
         |ORDER BY nation, o_year DESC""".stripMargin,

    "q13_custdist" ->
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q14_promo_effect" ->
      s"""SELECT floor((100.0 * ${fpSumSql("prev4", "10000.0")} /
         |    ${fpSumSql("rev4", "10000.0")}) * 1e12 + 0.5) / 1e12
         |  AS promo_revenue
         |FROM (
         |  SELECT $rev4Sql AS rev4,
         |    CASE WHEN p_type = 'PROMO' THEN $rev4Sql ELSE 0 END AS prev4
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-02-01')""".stripMargin,

    "q15_top_supplier" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, CAST(SUM($rev4Sql) AS BIGINT) AS revc
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, CAST(revc AS DOUBLE) / 10000.0 AS total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE revc = (SELECT MAX(revc) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,

    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND NOT EXISTS (SELECT 1 FROM supplier
        |                  WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q17_small_qty" ->
      """WITH j AS (
        |  SELECT l_partkey, CAST(round(l_quantity * 100) AS BIGINT) AS qc,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS ec
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#1' AND p_size <= 10),
        |st AS (
        |  SELECT l_partkey AS pk, CAST(SUM(qc) AS BIGINT) AS sum_qc,
        |    COUNT(*) AS cnt
        |  FROM j GROUP BY l_partkey)
        |SELECT CAST(SUM(ec) AS DOUBLE) / 700.0 AS avg_yearly
        |FROM j JOIN st ON l_partkey = pk
        |WHERE 5 * qc * cnt < sum_qc""".stripMargin,

    "q19_disjunct_rev" ->
      s"""SELECT ${fpSumSql("rev4", "10000.0")} AS revenue
         |FROM (
         |  SELECT $rev4Sql AS rev4
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
         |         AND l_quantity BETWEEN 1 AND 11)
         |     OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
         |         AND l_quantity BETWEEN 10 AND 20)
         |     OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
         |         AND l_quantity BETWEEN 20 AND 30))""".stripMargin,

    "q22_idle_balance" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bc
        |  FROM customer),
        |pos AS (
        |  SELECT CAST(SUM(bc) AS BIGINT) AS sum_bc, COUNT(*) AS cnt_pos
        |  FROM cust WHERE bc > 0)
        |SELECT n_name, COUNT(*) AS numcust,
        |  CAST(SUM(bc) AS DOUBLE) / 100.0 AS totacctbal
        |FROM cust, pos, nation
        |WHERE c_nationkey = n_nationkey
        |  AND bc * cnt_pos > sum_bc
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1999-08-01')
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "window_pct_rank" ->
      """SELECT c_nationkey, c_custkey,
        |  percent_rank() OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal, c_custkey) AS pct_rank,
        |  cume_dist() OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal, c_custkey) AS cdist
        |FROM customer ORDER BY c_nationkey, c_custkey""".stripMargin,

    "window_ntile" ->
      """SELECT c_mktsegment, bucket, COUNT(*) AS n_rows,
        |  MIN(CAST(c_acctbal AS DOUBLE)) AS lo, MAX(CAST(c_acctbal AS DOUBLE)) AS hi
        |FROM (
        |  SELECT c_mktsegment, c_acctbal,
        |    CAST(ntile(4) OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal, c_custkey) AS INT) AS bucket
        |  FROM customer)
        |GROUP BY 1, 2 ORDER BY c_mktsegment, bucket""".stripMargin,

    "window_rank" ->
      """SELECT s_nationkey, rnk, s_suppkey, s_acctbal, prev_gap FROM (
        |  SELECT s_nationkey, s_suppkey, s_acctbal,
        |    ROW_NUMBER() OVER w AS rnk,
        |    s_acctbal - COALESCE(LAG(s_acctbal, 1) OVER w, s_acctbal) AS prev_gap
        |  FROM supplier
        |  WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey))
        |WHERE rnk <= 3 ORDER BY s_nationkey, rnk""".stripMargin,

    "setop_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "scalar_nulls" ->
      """SELECT st, COUNT(*) AS n, COUNT(st) AS n_nonnull,
        |  CAST(SUM(CASE WHEN st IS NOT DISTINCT FROM NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_null
        |FROM (SELECT NULLIF(o_orderstatus, 'O') AS st FROM orders)
        |GROUP BY st ORDER BY st NULLS FIRST""".stripMargin,

    "setop_except_all" ->
      """SELECT l_partkey, COUNT(*) AS n FROM (
        |  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        |  EXCEPT ALL
        |  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A')
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,

    "setop_intersect_all" ->
      """SELECT l_partkey, COUNT(*) AS n FROM (
        |  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        |  INTERSECT ALL
        |  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A')
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,

    "window_navigation" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |  first_value(l_partkey) OVER w AS first_pk,
        |  nth_value(l_partkey, 2) OVER wf AS second_pk,
        |  last_value(l_partkey) OVER wf AS last_pk,
        |  lag(l_quantity, 1) OVER w AS prev_qty,
        |  lead(l_quantity, 1) OVER w AS next_qty
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_partkey, l_quantity),
        |  wf AS (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_partkey, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin,

    "setop_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 8000
        |ORDER BY nationkey""".stripMargin,

    "agg_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
        |  COUNT(DISTINCT l_partkey) AS n_part, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |  COUNT(*) AS cnt, CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "agg_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |  COUNT(*) AS cnt,
        |  (CAST(SUM(ec // 10000000) AS DOUBLE) * 10000000.0 + CAST(SUM(ec % 10000000) AS DOUBLE)) / 100.0 AS sum_price
        |FROM (SELECT l_returnflag, l_linestatus, CAST(round(l_extendedprice * 100) AS BIGINT) AS ec FROM lineitem)
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |  COUNT(*) AS cnt,
        |  (CAST(SUM(ec // 10000000) AS DOUBLE) * 10000000.0 + CAST(SUM(ec % 10000000) AS DOUBLE)) / 100.0 AS sum_price
        |FROM (SELECT l_returnflag, l_linestatus, CAST(round(l_extendedprice * 100) AS BIGINT) AS ec FROM lineitem)
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY rf, ls""".stripMargin,

    "window_range_frame" ->
      """SELECT o_orderkey, o_custkey, day,
        |  CAST(SUM(oc) OVER (PARTITION BY o_custkey ORDER BY day
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS spend_30d
        |FROM (SELECT o_orderkey, o_custkey,
        |        datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
        |        CAST(round(o_totalprice * 100) AS BIGINT) AS oc
        |      FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "agg_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
        |ORDER BY o_custkey""".stripMargin,

    "scalar_funcs" ->
      """SELECT p_partkey, UPPER(p_name) AS uname, SUBSTRING(p_brand, 1, 5) AS brand5,
        |  LENGTH(p_name) AS name_len, CONCAT_WS('|', p_type, p_brand) AS tb,
        |  COALESCE(regexp_extract(p_name, '^([a-z]+)', 1), '') AS first_word,
        |  p_size % 7 AS size_mod, ABS(p_size - 25) AS size_dist,
        |  CASE WHEN p_retailprice > 1500.0 THEN 'premium'
        |       WHEN p_retailprice > 1000.0 THEN 'mid' ELSE 'budget' END AS tier,
        |  CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
        |  CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil
        |FROM part ORDER BY p_partkey""".stripMargin,

    "scalar_dates" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(day(o_orderdate) AS INT) AS dom, CAST(quarter(o_orderdate) AS INT) AS q,
        |  strftime(o_orderdate, '%Y-%m-%d') AS ymd,
        |  datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS age_days
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // mirrors the Spark side's exact fixed-point arithmetic (cents →
    // longs, hi/lo split products, identical IEEE recombination)
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(qc) AS DOUBLE) / 100.0 AS sum_qty,
        |  CAST(SUM(ec) AS DOUBLE) / 100.0 AS sum_base_price,
        |  (CAST(SUM(d4 // 10000000) AS DOUBLE) * 10000000.0 + CAST(SUM(d4 % 10000000) AS DOUBLE)) / 10000.0 AS sum_disc_price,
        |  (CAST(SUM(c6 // 10000000) AS DOUBLE) * 10000000.0 + CAST(SUM(c6 % 10000000) AS DOUBLE)) / 1000000.0 AS sum_charge,
        |  CAST(SUM(qc) AS DOUBLE) / 100.0 / COUNT(*) AS avg_qty,
        |  CAST(SUM(dc) AS DOUBLE) / 100.0 / COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM (
        |  SELECT l_returnflag, l_linestatus, qc, ec, dc,
        |    ec * (100 - dc) AS d4, ec * (100 - dc) * (100 + tc) AS c6
        |  FROM (
        |    SELECT l_returnflag, l_linestatus,
        |      CAST(round(l_quantity * 100) AS BIGINT) AS qc,
        |      CAST(round(l_extendedprice * 100) AS BIGINT) AS ec,
        |      CAST(round(l_discount * 100) AS BIGINT) AS dc,
        |      CAST(round(l_tax * 100) AS BIGINT) AS tc
        |    FROM lineitem))
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
  )
}
