package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The TPC-H-shaped fixture tables the sampled TPC-H queries read
  * (`lineitem` … `region` of `graft.Tables.names`), generated inside the
  * benchmark's own build directory so a run reads nothing outside its
  * checkout.
  *
  * Same schemas as the engine's fixture dirs: projections of the engine's
  * own TPC-H generator (`TpchGen.table`), cast to the fixture types. Every
  * value is a pure function of (scale, row id), so the data never depends
  * on the run's seed or on the partition count.
  */
object Fixture {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem")

  /** Fixture view of one TPC-H generator table: the fixture's columns, with
    * integer keys, DOUBLE money and µs timestamps for dates. */
  private def tpch(spark: SparkSession, t: String, sf: Double, parts: Int): DataFrame = {
    val g = graft.gen.TpchGen.table(spark, t, sf, parts)
    def d(c: String) = col(c).cast(DoubleType).as(c)
    def i(c: String) = col(c).cast(IntegerType).as(c)
    def l(c: String) = col(c).cast(LongType).as(c)
    def ts(c: String) = col(c).cast(TimestampType).as(c)
    t match {
      case "region" => g.select(i("r_regionkey"), col("r_name"))
      case "nation" => g.select(i("n_nationkey"), col("n_name"), i("n_regionkey"))
      case "customer" => g.select(l("c_custkey"), col("c_name"), i("c_nationkey"),
        d("c_acctbal"), col("c_mktsegment"))
      case "supplier" => g.select(l("s_suppkey"), col("s_name"), i("s_nationkey"), d("s_acctbal"))
      case "part" => g.select(l("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
        i("p_size"), d("p_retailprice"))
      case "orders" => g.select(l("o_orderkey"), l("o_custkey"), col("o_orderstatus"),
        d("o_totalprice"), ts("o_orderdate"), col("o_orderpriority"))
      case "lineitem" => g.select(l("l_orderkey"), l("l_partkey"), l("l_suppkey"),
        i("l_linenumber"), d("l_quantity"), d("l_extendedprice"), d("l_discount"),
        d("l_tax"), col("l_returnflag"), col("l_linestatus"), ts("l_shipdate"))
    }
  }

  /** Write every fixture table as `<dir>/<table>.parquet`. */
  def write(spark: SparkSession, sf: Double, parts: Int, dir: String): Unit =
    tables.foreach(t => tpch(spark, t, sf, parts).write.parquet(s"$dir/$t.parquet"))
}
