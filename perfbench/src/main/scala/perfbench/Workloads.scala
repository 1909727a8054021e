package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** One statement of an op, as SQL text for `Tables.sql`. `check` says
  * how its result is compared: "rows" (the full digest), "shape" (the
  * column list and whether rows came back, for plan listings whose text
  * differs between sessions) or "none" (a reset statement).
  */
final case class Stmt(text: String, check: String = "rows")

/** One op of a pass. An op without statements runs the inventory entry of
  * its name (`SparkEntry.queries`); an SQL op sends its statements, in
  * order, through `Tables.sql`. The ops of `dml_sf0.01` get a fresh
  * statement every pass from [[DmlMix]].
  */
final case class Op(name: String, stmts: Seq[Stmt] = Nil)

final case class Workload(name: String, sf: String, ops: Seq[Op])

object Workloads {
  val olap = Seq("tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9", "tpch_q18",
    "tpch_q21", "agg_multi_distinct", "win_topn_per_group", "evt_sessionize",
    "mr_funnel", "sketch_hll_merge", "tpcds_q67_rollup_rank", "tpcds_q95_multi_cte")

  val text = Seq("dedup_minhash_lsh", "dedup_jaccard_ppjoin", "sim_topk_brute",
    "sim_bm25_topk", "text_token_stats", "sim_tfidf_pairs_abscap")

  /** An SQL op file: statements separated by lines holding only `;`; a
    * statement may open with a `-- check: rows|shape|none` line.
    */
  def parseOp(name: String, body: String): Op = {
    val blocks = body.split("(?m)^;\\s*$").map(_.trim).filter(_.nonEmpty).toSeq
    Op(name, blocks.map { b =>
      val lines = b.linesIterator.toSeq
      lines.headOption.map(_.trim) match {
        case Some(l) if l.startsWith("-- check:") =>
          Stmt(lines.tail.mkString("\n").trim, l.stripPrefix("-- check:").trim)
        case _ => Stmt(b)
      }
    })
  }

  def sqlOps(dir: Path): Seq[Op] =
    Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".sql")).sortBy(_.getFileName.toString)
      .map(p => parseOp(p.getFileName.toString.stripSuffix(".sql"), Files.readString(p)))

  def apply(name: String, benchDir: Path): Workload = name match {
    case "olap_sf0.1" => Workload(name, "sf0.1", olap.map(Op(_)))
    case "text_sf0.1" => Workload(name, "sf0.1", text.map(Op(_)))
    case "sql_sf0.01" => Workload(name, "sf0.01", sqlOps(benchDir.resolve("sql")))
    case "dml_sf0.01" => Workload(name, "sf0.01", DmlMix.opNames.map(Op(_)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The seeded write/read mix of `dml_sf0.01` over copies of `orders` and
  * `lineitem`. Each pass draws a fresh key slice for every op; keys 0 to
  * 14,999 are the fixture's order keys, and inserted rows get keys above
  * them, distinct per pass, so no statement ever collides with another.
  */
object DmlMix {
  val setup = Seq(
    "CREATE TABLE orders_w AS SELECT * FROM orders",
    "CREATE TABLE lineitem_w AS SELECT * FROM lineitem")
  val tables = Seq("orders_w", "lineitem_w")

  val opNames = Seq("insert_orders", "update_orders", "delete_orders", "merge_orders",
    "update_lineitem", "delete_lineitem", "read_orders_agg", "read_lineitem_agg",
    "read_orders_range", "read_join_range")

  private val keys = 15000
  private val width = 120

  /** The statement of `op` in pass `pass`, its key slice drawn from `rng`. */
  def statement(op: String, pass: Int, rng: scala.util.Random): Stmt = {
    val lo = rng.nextInt(keys - width)
    val hi = lo + width - 1
    val fresh = 100000L * (pass + 1)
    op match {
      case "insert_orders" => Stmt(
        s"""INSERT INTO orders_w SELECT o_orderkey + $fresh AS o_orderkey, o_custkey,
           |'N' AS o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
           |FROM orders WHERE o_orderkey BETWEEN $lo AND $hi""".stripMargin)
      case "update_orders" => Stmt(
        s"""UPDATE orders_w SET o_totalprice = o_totalprice + 1.25, o_orderstatus = 'U'
           |WHERE o_orderkey BETWEEN $lo AND $hi""".stripMargin)
      case "delete_orders" => Stmt(
        s"DELETE FROM orders_w WHERE o_orderkey BETWEEN $lo AND $hi")
      // even keys of the slice match existing rows (unless deleted), odd
      // keys are moved to fresh keys, so both branches fire
      case "merge_orders" => Stmt(
        s"""MERGE INTO orders_w USING (SELECT CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey
           |ELSE o_orderkey + ${fresh + 50000} END AS k, o_custkey AS c,
           |o_totalprice * 2 AS p, o_orderdate AS d FROM orders
           |WHERE o_orderkey BETWEEN $lo AND $hi) s ON o_orderkey = s.k
           |WHEN MATCHED THEN UPDATE SET o_totalprice = s.p, o_orderstatus = 'M'
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus,
           |o_totalprice, o_orderdate, o_orderpriority) VALUES (s.k, s.c, 'M', s.p, s.d,
           |'3-MEDIUM')""".stripMargin)
      case "update_lineitem" => Stmt(
        s"""UPDATE lineitem_w SET l_tax = l_tax + 0.01, l_returnflag = 'U'
           |WHERE l_orderkey BETWEEN $lo AND $hi""".stripMargin)
      case "delete_lineitem" => Stmt(
        s"DELETE FROM lineitem_w WHERE l_orderkey BETWEEN $lo AND $hi")
      case "read_orders_agg" => Stmt(
        """SELECT o_orderstatus, count(*) AS n, sum(o_orderkey) AS keys,
          |sum(cast(round(o_totalprice * 100) AS bigint)) AS cents
          |FROM orders_w GROUP BY o_orderstatus""".stripMargin)
      case "read_lineitem_agg" => Stmt(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |sum(cast(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS bigint))
          |AS cents FROM lineitem_w GROUP BY l_returnflag, l_linestatus""".stripMargin)
      case "read_orders_range" => Stmt(
        s"""SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders_w
           |WHERE o_orderkey BETWEEN $lo AND $hi""".stripMargin)
      case "read_join_range" => Stmt(
        s"""SELECT o.o_orderkey, count(*) AS n, sum(l.l_quantity) AS q
           |FROM orders_w o JOIN lineitem_w l ON l.l_orderkey = o.o_orderkey
           |WHERE o.o_orderkey BETWEEN $lo AND $hi GROUP BY o.o_orderkey""".stripMargin)
    }
  }
}
