package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Dedup

/** Continuous-ingestion dedup: the streaming leg of the incremental shape
  * (`Dedup.minhashIncremental`). Documents arrive as file micro-batches;
  * each trigger is checked against the STATIC persisted history index — a
  * stream-static composition in which the corpus-sized index is read once
  * and never re-signed, exactly the deployed posture for a crawl pipeline
  * feeding a 100 TB deduplicated store.
  *
  * The batch-vs-index pipeline runs inside `foreachBatch`, so each
  * micro-batch gets FULL batch semantics (the candidate `distinct()` and
  * Jaccard verify of minhashIncremental, unchanged — no streaming-state
  * rewrite of the operator, no unbounded dedup state to watermark). Because
  * micro-batches partition the arriving docs and every pair the operator
  * emits is (arriving doc × history), the union of per-batch outputs equals
  * the one-shot batch result over the same docs — StreamingSpec asserts
  * that equality row-for-row.
  */
object DocStreams {

  /** File-source stream over a documents parquet dir; schema is declared
    * from the session's cached batch inference (the file source requires
    * it; [[graft.Tables.parquet]]). */
  def readDocs(spark: SparkSession, dir: String,
               filesPerTrigger: Int = 1): DataFrame = {
    val schema = graft.Tables.parquet(spark, dir).schema
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(dir)
  }

  /** Start the ingestion-dedup stream: every micro-batch of `docs` is run
    * through [[Dedup.minhashIncremental]] against the static index and the
    * verified (new_id, hist_id, jacc) pairs are handed to `onBatch`. */
  def incrementalDedup(docs: DataFrame, histIndex: DataFrame,
                       histShingles: DataFrame, threshold: Double = 0.5)
                      (onBatch: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        onBatch(
          Dedup.minhashIncremental(batch.toDF(), histIndex, histShingles,
            threshold),
          id)
      }
      .start()
}
