package graft.streaming

import graft.operators.Indexing
import org.apache.spark.sql.SparkSession

/** Stream-triggered inverted-index maintenance: [[StoreStream]] applied to
  * the retrieval index. Each micro-batch of documents is tokenized once
  * and written as its own index generation through
  * [[Indexing.indexAppendOrReplay]]: the batch's five surface writes all
  * target `gen=b<batchId>` directories with OVERWRITE, so a crash-replayed
  * batch — even one whose previous attempt committed only some of the
  * five writes — rewrites the same directories and converges; a batch
  * carrying doc ids some OTHER generation already ingested fails fast as
  * genuine re-ingestion. The store serves ([[Indexing.indexStats]],
  * [[graft.operators.Retrieval.bm25FromIndex]]) exactly-once content
  * under at-least-once delivery.
  */
object IndexStream {

  /** Drain the parquet document files under `srcDir` into the index store
    * at `indexDir` (which must exist — [[Indexing.indexBuild]]; an empty
    * corpus build bootstraps a from-scratch stream), one file per
    * micro-batch, AvailableNow. Re-running with the same checkpoint is a
    * no-op. Run [[Indexing.indexCompact]] only between drains, passing
    * `keepGens` for any generation whose batch the checkpoint has not
    * committed (see its concurrency contract).
    */
  def indexIngestAvailableNow(spark: SparkSession, srcDir: String,
      indexDir: String, idCol: String = "doc_id",
      textCol: String = "text"): Unit =
    StoreStream.drainAvailableNow(spark, srcDir, indexDir) { (batch, batchId) =>
      Indexing.indexAppendOrReplay(batch, idCol, textCol, indexDir,
        gen = s"b$batchId")
    }
}
