package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.gedcom.GedcomGraph

/** Streaming GEDCOM ingestion — the Spark-native form of the reference's
  * unbounded pipe (`gedcom.pipe(csvs)`, index.js:77): a watched directory
  * of arriving `.ged` files, each processed as a complete unit.
  *
  * `maxFilesPerTrigger = 1` makes every micro-batch exactly one whole file,
  * so record boundaries never straddle batches; inside the batch the
  * regular (shuffle-free) assembly runs via `foreachBatch` into
  * batchId-keyed parquet directories. The batchId-overwrite layout plus the
  * checkpoint gives exactly-once per file: a replayed batch rewrites its own
  * directory instead of appending duplicates.
  */
object GedcomStreamIngest {

  /** Start the ingestion query. Output layout: `<outDir>/nodes` and
    * `<outDir>/edges` parquet tables, `<outDir>/ckpt` checkpoint. */
  def start(spark: SparkSession, watchDir: String, outDir: String): StreamingQuery =
    spark.readStream
      .option("maxFilesPerTrigger", "1")
      .option("wholetext", "true") // one row per complete file
      .text(watchDir)
      .writeStream
      .option("checkpointLocation", s"$outDir/ckpt")
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // keep the file's natural line order — a repartition here would
        // shuffle lines and break record contiguity. CRLF/CR/LF all split
        // (batch must match what sc.textFile does for the batch path).
        // The line RDD is persisted for the batch: the assembly makes two
        // passes plus the emptiness probe, and the lineage re-reads and
        // re-splits the whole file otherwise. The batch's lease frees it
        // and the graph's row pin together.
        graft.Lease.scoped { l =>
          val lines = l.hold(batch.rdd
            .flatMap(_.getString(0).split("\\r\\n|\\r|\\n", -1)))
          if (!lines.isEmpty()) {
            val g = GedcomGraph.fromTextRdd(batch.sparkSession, lines, lease = l)
            // idempotent per-batch output: a replayed batch (crash between
            // the writes and the checkpoint commit) overwrites its own
            // directory instead of appending duplicates — this is what
            // makes the pipeline exactly-once rather than at-least-once
            g.nodes.write.mode("overwrite").parquet(s"$outDir/nodes/batch=$batchId")
            g.edges.write.mode("overwrite").parquet(s"$outDir/edges/batch=$batchId")
          }
        }
      }
      .start()
}
