package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, StringType}

/** The per-session parquet schema cache behind every query read
  * ([[Tables.parquet]]): a schemaless `spark.read.parquet` runs one
  * inference job per table, so an uncached build of TPC-DS q96 ran four
  * jobs before its plan existed. Pinned here: a warm build runs no job,
  * the cached read is the plain read (schema, plan and rows), and a
  * rewritten dir or a different reader conf never sees a stale schema. */
class TablesCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Spark jobs started while `f` runs. Listener events arrive on an async
    * bus in order, so a marker job run afterwards flushes every earlier
    * job start to the listener before the count is read. */
  private def jobsDuring(f: => Unit): Int = {
    val marker = s"graft-marker-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).map(_.getProperty("graft.marker", "")).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      spark.sparkContext.setLocalProperty("graft.marker", marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("graft.marker", null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "marker job never reached the listener")
      seen.toArray.takeWhile(_ != marker).length
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a second build of a TPC-DS and a fixture TPC-H query runs no Spark job") {
    for (name <- Seq("q_tpcds_q96", "q_tpch_q3")) {
      val build = () => SparkEntry.queries(name)(spark, TestSpark.sf0001)
      build() // generates (first use) and infers every table's schema
      assert(jobsDuring(build()) === 0, s"$name: warm build launched jobs")
    }
  }

  test("the cached read equals the plain read: schema, plan and rows") {
    val tpcds = graft.ops.Tpcds.ensure(spark, TestSpark.sf0001)
    for (path <- Seq(s"$tpcds/store_sales.parquet", s"$tpcds/item.parquet",
                     s"${TestSpark.sf001}/lineitem.parquet",
                     s"${TestSpark.sf001}/embeddings.parquet")) {
      Tables.parquet(spark, path) // first read fills the cache
      val cached = Tables.parquet(spark, path)
      assert(jobsDuring(Tables.parquet(spark, path)) === 0, path)
      val plain = spark.read.parquet(path)
      assert(cached.schema === plain.schema, path)
      assert(cached.queryExecution.optimizedPlan
        .sameResult(plain.queryExecution.optimizedPlan), path)
      assert(cached.collect().toSeq === plain.collect().toSeq, path)
    }
  }

  test("a table dir rewritten at the same path is re-inferred") {
    import spark.implicits._
    val path = s"${tmpDir("graft-schemacache-rewrite")}/t.parquet"
    Seq((1, 2L)).toDF("a", "b").write.parquet(path)
    assert(Tables.parquet(spark, path).columns.toSeq === Seq("a", "b"))
    Seq(("x", 3L, 4.0)).toDF("a", "c", "d").write.mode("overwrite").parquet(path)
    val df = Tables.parquet(spark, path)
    assert(df.columns.toSeq === Seq("a", "c", "d"))
    assert(df.schema("a").dataType === StringType)
    assert(df.collect().toSeq.map(_.toString) === Seq("[x,3,4.0]"))
  }

  test("invalidateSchemas re-infers a dir whose mtime did not move") {
    import spark.implicits._
    val parent = tmpDir("graft-schemacache-invalidate")
    val path = s"$parent/t.parquet"
    Seq(1).toDF("a").write.parquet(path)
    assert(Tables.parquet(spark, path).columns.toSeq === Seq("a"))
    val p = java.nio.file.Paths.get(path)
    val mtime = java.nio.file.Files.getLastModifiedTime(p)
    Seq("y").toDF("z").write.mode("overwrite").parquet(path)
    // a store with no directory mtime: the rewrite is invisible to the key
    java.nio.file.Files.setLastModifiedTime(p, mtime)
    Tables.invalidateSchemas(spark, parent) // what GenCache does after a sweep
    assert(Tables.parquet(spark, path).columns.toSeq === Seq("z"))
  }

  test("events read with nanosAsLong on and off do not share a cache entry") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // a TIMESTAMP(NANOS) events file, as one fixture generation stored it
    val dir = tmpDir("graft-schemacache-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1500000000123456789L))
    finally w.close()
    val path = s"$dir/events.parquet"
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables.parquet(spark, path).schema("ts").dataType === LongType)
      spark.conf.set(key, "false")
      // off: inference rejects the NANOS column instead of replaying LongType
      val off = scala.util.Try(Tables.parquet(spark, path).schema("ts").dataType)
      assert(off.isFailure, s"nanosAsLong=false read the cached schema: $off")
      // Tables.apply turns it on and normalizes ns → µs TimestampType
      val ts = Tables(spark, dir, "events").collect().head.getTimestamp(0)
      assert(ts.getTime === 1500000000123L)
      assert(ts.getNanos === 123456000)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
