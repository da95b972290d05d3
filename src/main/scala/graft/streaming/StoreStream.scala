package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Stream-triggered store maintenance: the reference's Kafka→warehouse
  * relay (kafka_hdfs_consumer.py — consume a file, load it into the
  * serving store) as ONE drain shared by every persisted store. Each
  * micro-batch is one parquet file of the source directory, handed to the
  * store's replay-safe apply, e.g.
  *
  * {{{
  * StoreStream.drainAvailableNow(spark, src, dir) { (batch, id) =>
  *   LmStore.lmAppendOrReplay(spark, batch, "doc_id", "text", dir, s"b$id")
  * }
  * }}}
  *
  * foreachBatch delivery is at-least-once and a replayed micro-batch is
  * byte-identical under the stream checkpoint, so an apply that writes
  * its generation under the caller-stable name `b<batchId>` with
  * OVERWRITE (the `xAppendOrReplay` entry points of [[graft.operators
  * .Indexing]], [[graft.operators.VectorStore]], [[graft.operators
  * .LmStore]], [[graft.operators.SpanStore]] and [[graft.operators
  * .DsirStore]]), or recognizes its already-stored rows
  * ([[graft.operators.ClusterStore.ccApplyOrReplay]],
  * [[graft.operators.History.scd2ApplyOrReplay]]), leaves the store
  * holding exactly-once content. Run a store's compaction only between
  * drains (single-writer contract), passing `keepGens` for any generation
  * whose batch the checkpoint has not committed.
  */
object StoreStream {

  /** Drain the parquet files under `srcDir` into the store at `storeDir`
    * (which must exist — the store's build; an empty build bootstraps a
    * from-scratch stream), one file per micro-batch, AvailableNow, calling
    * `apply(batch, batchId)` on each. The checkpoint lives at
    * `$storeDir/_checkpoint` — the store and its checkpoint are one
    * lifecycle unit — so re-running with the same checkpoint is a no-op.
    */
  def drainAvailableNow(spark: SparkSession, srcDir: String,
      storeDir: String)(apply: (DataFrame, Long) => Unit): Unit = {
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .foreachBatch(apply)
      .option("checkpointLocation", s"$storeDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }
}
