package graftbench

import org.apache.spark.sql.SparkSession

/** The benchmark's workloads. Each runs as a closed loop with one client:
  * an operation starts when the previous one has returned. */
object Workloads {
  val names: Seq[String] = Seq("tpc", "gen-convert")

  /** Fixture and generated-data scale of `tpc`: it is bound by driver-side
    * work at any scale, so it runs at the scale where a run fits the most
    * queries (README "Sizing"). */
  val tpcSf = "sf0.01"
  /** TPC-H scale of one generate + convert operation. */
  val genConvertSf = 0.05

  /** The TPC-DS and TPC-H queries (pinned-scale proof twins excluded). */
  def tpcInventory: Seq[String] =
    graft.SparkEntry.queries.keys.toSeq
      .filter(n => n.startsWith("q_tpcds_") || n.startsWith("q_tpch_"))
      .filterNot(graft.SparkEntry.pinnedScaleProofs.contains).sorted

  /** Every 11th TPC query in name order, starting at the first. One pass
    * over the whole inventory takes longer than a run may last (README
    * "Sizing"), so a run measures this fixed, evenly spaced sample; the
    * same queries every run keep the runs comparable. */
  def tpcQueries: Seq[String] =
    tpcInventory.zipWithIndex.collect { case (n, i) if i % 11 == 0 => n }

  def queries(workload: String): Seq[String] =
    if (workload == "tpc") tpcQueries else Nil

  /** The seed's order of one round of operations. */
  def permuted[A](xs: Seq[A], seed: Long, round: Int): Seq[A] =
    new scala.util.Random(seed * 1000003L + round).shuffle(xs)

  /** Generated inputs of `tpc`, made once per checkout (the `prepare`
    * mode) and only read by runs: the TPC-H-shaped fixture tables, plus the
    * TPC-DS and full-schema TPC-H caches. */
  def prepare(spark: SparkSession, dataDir: String, cores: Int): Seq[(String, Double)] = {
    import java.nio.file.{Files, Paths}
    def timed(label: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime(); f; label -> (System.nanoTime() - t0) / 1e9
    }
    val tpc = s"$dataDir/$tpcSf"
    val tmp = s"$dataDir/.$tpcSf.tmp"
    Runner.deleteTree(tmp)
    Runner.deleteTree(tpc)
    val fixture = timed(s"fixture $tpcSf")(Fixture.write(spark, tpcSf.drop(2).toDouble, cores, tmp))
    Files.move(Paths.get(tmp), Paths.get(tpc))
    Seq(fixture, timed("tpcds")(graft.ops.Tpcds.ensure(spark, tpc)),
      timed("tpchfull")(graft.ops.TpchFull.ensure(spark, tpc)))
  }
}
