package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-table loader (TESTDATA.md / FIXTURES.md).
  *
  * `events.ts` storage has shipped in two fixture generations: parquet
  * TIMESTAMP(NANOS) — which Spark's parquet reader rejects outright
  * ([PARQUET_TYPE_ILLEGAL]), so we read it via the `nanosAsLong` escape
  * hatch and floor-divide to microseconds — and native TIMESTAMP(MICROS)
  * without timezone, which Spark reads as TIMESTAMP_NTZ. Both normalize to
  * TimestampType at µs precision in the UTC session, which is exactly
  * DuckDB's `CAST(ts AS TIMESTAMP)` on the same file, so oracle comparisons
  * on event timestamps line up bit-for-bit either way.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize an events frame's `ts` to TimestampType (µs, UTC session):
    * ns-as-long legacy storage truncates ns→µs; TIMESTAMP_NTZ casts (a
    * wall-clock no-op in the UTC session); TimestampType passes through. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts",
        col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // partitions ∝ data for the fixture-read path too (LLM/dedup/text ops
    // never pass through Tpcds.ensure): derive the session's shuffle
    // count from the fixture dir's measured bytes. At every gate scale
    // the derived value equals the session floor (no behavior change);
    // at a 100 TB documents corpus the dedup/cluster shuffles get the
    // same scale-safe ceiling the generated-benchmark path got in r15.
    graft.plans.ShuffleScale.tuneFor(spark, dir)
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventTs(parquet(spark, s"$dir/events.parquet"))
    } else parquet(spark, s"$dir/$name.parquet")
  }

  /** Session confs that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  private val schemaCache = new scala.collection.concurrent.TrieMap[
    (String, Long, Seq[Option[String]]), org.apache.spark.sql.types.StructType]

  /** Read a parquet table dir, inferring its schema on the first read only.
    * A schemaless `spark.read.parquet` runs one Spark job per call (footer
    * inference, `SchemaMergeUtils.mergeSchemasInParallel`) — one job per
    * table per query build. Later reads pass the cached schema, which runs
    * no job and yields the same plan (it is what inference returned).
    * Keyed by the qualified dir, its modification time and the reader
    * confs above, so a rewritten dir or a different timestamp reading is
    * re-inferred; [[graft.gen.GenCache]] also [[invalidateSchemas]] after
    * it regenerates or sweeps a dir (stores without dir mtimes). A missing
    * path falls through to the plain read and its usual error. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val mtime = try Some(fs.getFileStatus(p).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    mtime match {
      case None => spark.read.parquet(path)
      case Some(m) =>
        val key = (graft.plans.ShuffleScale.qualified(path, conf), m,
          inferenceConfs.map(spark.conf.getOption))
        schemaCache.get(key) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemaCache.putIfAbsent(key, df.schema)
            df
        }
    }
  }

  /** Forget cached schemas of dirs at or under `path` (see [[parquet]]). */
  def invalidateSchemas(spark: SparkSession, path: String): Unit = {
    val norm = graft.plans.ShuffleScale
      .qualified(path, spark.sparkContext.hadoopConfiguration).stripSuffix("/")
    schemaCache.keys.foreach { k =>
      val kn = k._1.stripSuffix("/")
      if (kn == norm || kn.startsWith(norm + "/")) schemaCache.remove(k)
    }
  }

  /** Data files of a parquet table dir (skips _SUCCESS / hidden files).
    * RECURSIVE: a nested/hive-partitioned layout contributes every leaf
    * file, so footer-derived counts used by scale fences can never
    * undercount. Files under a hidden/_ directory (e.g. _temporary) are
    * excluded, matching Spark's own path filter. */
  private def parquetFiles(spark: SparkSession, path: String) = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val p = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    val it = fs.listFiles(p, true)
    val files = scala.collection.mutable.ListBuffer.empty[org.apache.hadoop.fs.Path]
    while (it.hasNext) {
      val f = it.next().getPath
      // every path component below the table root must be visible
      val visible = Iterator.iterate(f)(_.getParent)
        .takeWhile(q => q != null && q != p)
        .forall(q => !q.getName.startsWith("_") && !q.getName.startsWith("."))
      if (f.getName.endsWith(".parquet") && visible) files += f
    }
    (conf, files.toSeq)
  }

  private val rowCountCache = new scala.collection.concurrent.TrieMap[String, Long]

  /** Exact row count of a parquet table read driver-side from file footers —
    * NO Spark job (footer metadata only; a few KB per file). Used by scale
    * fences that must not add a job to the measured query path. Cached per
    * directory (fixture tables are immutable for a session's lifetime). */
  def footerRowCount(spark: SparkSession, dir: String, name: String): Long =
    rowCountCache.getOrElseUpdate(s"$dir/$name.parquet", {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val (conf, files) = parquetFiles(spark, s"$dir/$name.parquet")
      files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
    })

  private val rangeCache =
    new scala.collection.concurrent.TrieMap[String, Option[(Double, Double)]]

  /** Driver-side (min, max) of a DOUBLE column from parquet footer
    * statistics — NO Spark job. None if any footer lacks double stats for
    * the column (caller picks a fallback). A production deployment over a
    * catalog would take the same two numbers from table statistics; the
    * point is that value-range slicing reads METADATA, not data. */
  def footerDoubleRange(spark: SparkSession, dir: String, name: String,
                        column: String): Option[(Double, Double)] =
    rangeCache.getOrElseUpdate(s"$dir/$name.parquet#$column", {
      import org.apache.parquet.column.statistics.DoubleStatistics
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import scala.jdk.CollectionConverters._
      val (conf, files) = parquetFiles(spark, s"$dir/$name.parquet")
      val perBlock = files.flatMap { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try r.getFooter.getBlocks.asScala.toSeq.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == column)
            .map(_.getStatistics).collect {
              case ds: DoubleStatistics if !ds.isEmpty => (ds.getMin, ds.getMax)
            }
        } finally r.close()
      }
      if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
      else Some((perBlock.map(_.get._1).min, perBlock.map(_.get._2).max))
    })
}
