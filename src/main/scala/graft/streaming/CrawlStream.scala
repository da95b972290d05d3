package graft.streaming

import graft.io.WarcIngest
import graft.operators.{Generations, UrlOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming crawl ingest — the front-end stages (WARC walk, URL
  * canonicalization, re-crawl dedup) as a stream maintaining a persisted
  * URL-keyed corpus: each micro-batch of WARC blobs is parsed, its
  * responses keyed by the SCHEME-RELATIVE canonical URL, deduped within
  * the batch (first fetch wins) and against every PRIOR batch's keys
  * (anti-join on the persisted key surface — the old corpus is never
  * re-paired, a morning's crawl costs the morning's crawl), and the
  * fresh resources land as one generation: `docs/gen=<batch>` plus
  * `urls/gen=<batch>`, committed together by one [[Generations]]
  * manifest flip.
  *
  * Replay safety is [[DedupStream]]'s contract verbatim: a redelivered
  * batch reads only generations strictly below its own id (plus
  * compacted folds, which hold only watermark-covered batches), so it
  * re-cleans against exactly the state it saw first time instead of
  * meeting its own keys and dropping everything.
  */
object CrawlStream {

  private val surfaces = Seq("docs", "urls")

  /** Drain parquet WARC-blob drops (`file_id`, `payload`) under `srcDir`
    * into the URL-deduped crawl store at `stateDir`, one file per
    * micro-batch ([[StoreStream]]), AvailableNow. Re-running with the same
    * checkpoint is a no-op.
    */
  def crawlIngestAvailableNow(spark: SparkSession, srcDir: String,
      stateDir: String): Unit =
    StoreStream.drainAvailableNow(spark, srcDir, stateDir) { (batch, batchId) =>
      ingestBatch(spark, batch, batchId, stateDir)
    }

  /** One replay-safe micro-batch: parse → canonical key → in-batch
    * keep-first → anti-join against prior keys → one generation commit.
    * Package-private so the spec drives explicit batch ids directly.
    */
  private[graft] def ingestBatch(spark: SparkSession, blobs: DataFrame,
      batchId: Long, stateDir: String): Unit =
      Generations.withWriterLock(spark, stateDir) {
    val fetched = WarcIngest.warcResponsesBinary(spark, blobs)
      .withColumn("resource_key", UrlOps.resourceKey(col("target_uri")))
    val w = Window.partitionBy(col("resource_key")).orderBy(col("doc_id").asc)
    val inBatch = fetched
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("doc_id"), col("resource_key"), col("target_uri"),
        col("payload"))
    val priorGens = DedupStream.gensBelow(spark, stateDir, batchId)
    val fresh =
      (if (priorGens.isEmpty) inBatch
       else inBatch.join(
         Generations.readSurface(spark, stateDir, "urls", priorGens)
           .select(col("resource_key")),
         Seq("resource_key"), "left_anti"))
        // materialized once: docs and urls writes must not each re-run
        // the WARC walk + window + anti-join
        .localCheckpoint()
    fresh.write.mode("overwrite").parquet(s"$stateDir/docs/gen=$batchId")
    fresh.select(col("resource_key"))
      .write.mode("overwrite").parquet(s"$stateDir/urls/gen=$batchId")
    DedupStream.commitBatch(spark, stateDir, batchId)
    fresh.unpersist()
    ()
  }

  /** The URL-deduped crawl corpus accumulated so far (manifest-resolved:
    * a crashed batch's orphan directories are invisible).
    */
  def corpus(spark: SparkSession, stateDir: String): DataFrame =
    Generations.readSurface(spark, stateDir, "docs",
      Generations.live(spark, stateDir)).drop("gen")

  /** Fold generations strictly below `uptoBatch` (plus earlier folds)
    * into one `c<n>` generation per surface — [[DedupStream.compactState]]'s
    * contract for the crawl store: content unchanged, replay exclusion
    * preserved because folds only ever hold watermark-covered batches.
    */
  def compactState(spark: SparkSession, stateDir: String,
      uptoBatch: Long): Unit =
    DedupStream.compactBelow(spark, stateDir, surfaces, uptoBatch)
}
