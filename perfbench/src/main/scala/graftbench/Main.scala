package graftbench

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Harness entry point; `perfbench/run.py` builds it and launches it.
  *
  *   --mode run      one measured run (needs the prepared data)
  *   --mode prepare  generate the `tpc` workload's inputs into --data-dir
  *   --mode expect   record expected outputs into --expected (see README)
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val cores = arg("cores").toInt
    arg("mode") match {
      case "run" =>
        val w = arg("workload")
        require(Workloads.names.contains(w), s"unknown workload $w")
        new Runner(w, arg("seed").toLong, arg("seconds").toInt, arg("trace") == "1", cores,
          arg("data-dir"), arg("run-dir"), arg("expected"), a.getOrElse("commit", "")).run()
      case "prepare" =>
        val spark = session(cores, arg("data-dir"), arg("run-dir"))
        val t = Workloads.prepare(spark, arg("data-dir"), cores)
        spark.stop()
        Json.writeFile(s"${arg("data-dir")}/prepare.json", ListMap(t: _*))
      case "expect" => expect(cores, arg("data-dir"), arg("run-dir"), arg("expected"))
    }
  }

  def session(cores: Int, dataDir: String, runDir: String): SparkSession = {
    val s = graft.plans.SessionDefaults.tuned(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.graft.cacheRoot", s"$dataDir/cache")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Record the expected output of every sampled `tpc` query (two
    * executions each) and the TPC-H generator's row counts. Run twice, in
    * two processes: on the second run a query whose digest differs from
    * the recorded one, in either process, moves to `rows_only`. */
  private def expect(cores: Int, dataDir: String, runDir: String, path: String): Unit = {
    val spark = session(cores, dataDir, runDir)
    val old = if (new java.io.File(path).exists) Some(Json.read(path)) else None
    val queries = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val rowsOnly = scala.collection.mutable.LinkedHashMap.empty[String, String]
    old.foreach(_.path("rows_only").properties.forEach(e =>
      rowsOnly(e.getKey) = e.getValue.asText))
    val fixture = s"$dataDir/${Workloads.tpcSf}"
    Workloads.tpcQueries.foreach { q =>
      try {
        val rs = (1 to 2).map(_ => Digest.of(graft.SparkEntry.queries(q)(spark, fixture)))
        val prev = old.map(_.path("queries").path(q)).filterNot(_.isMissingNode)
        val digests = (rs.map(_.digest) ++ prev.map(_.path("digest").asText)).distinct
        val rows = (rs.map(_.rows) ++ prev.map(_.path("rows").asLong)).distinct
        require(rows.size == 1, s"$q: row count differs between executions: $rows")
        if (digests.size > 1 && !rowsOnly.contains(q))
          rowsOnly(q) = "digest differs between executions; checked by row count"
        queries(q) = ListMap("rows" -> rows.head, "digest" -> rs.head.digest)
        println(s"[expect] $q rows=${rows.head} digests=${digests.mkString(",")}")
      } catch {
        case NonFatal(e) => System.err.println(s"[expect] $q FAILED: ${e.getMessage}"); throw e
      }
    }
    val b = graft.schema.Benchmark("tpch")
    val sf = Workloads.genConvertSf
    val genRows = Seq(sf.toString -> ListMap(b.tableNames.map(t =>
      t -> graft.gen.TpchGen.table(spark, t, sf, cores).count()): _*))
    spark.stop()
    Json.writeFile(path, ListMap(
      "tpc_scale" -> Workloads.tpcSf,
      "queries" -> queries, "rows_only" -> rowsOnly,
      "gen_convert_rows" -> ListMap(genRows: _*)))
  }
}
