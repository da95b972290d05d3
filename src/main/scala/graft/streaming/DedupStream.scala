package graft.streaming

import graft.operators.{Dedup, Generations}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming corpus dedup: the reference's stream-triggered batch
  * orchestration (kafka_hdfs_consumer.py:334-351 — consume a file, kick a
  * batch job over it) upgraded to the corpus layer. Every micro-batch of
  * documents is cleaned against the PERSISTED dedup state with
  * [[graft.operators.Dedup.dedupIncremental]] — the old corpus is never
  * re-paired with itself, only semi-join-pruned point lookups touch it —
  * then the survivors land in the corpus store and their band signatures
  * land beside them, one generation per micro-batch. State grows
  * append-only across batches; the morning's crawl costs the morning's
  * crawl, not the corpus.
  *
  * Committed through the [[Generations]] manifest (`_MANIFEST` under
  * `stateDir`): a micro-batch writes `corpus/gen=<id>` and
  * `bands/gen=<id>` and flips the manifest once, so the survivors and
  * their signatures become visible TOGETHER — no reader window where a
  * document exists without its band state. Exactly-once materialization:
  * each generation write is an overwrite of its own directory, so a
  * replayed micro-batch (foreachBatch is at-least-once under failure)
  * rewrites identical content instead of duplicating it — the file
  * source's batch composition is deterministic under the stream
  * checkpoint, and the dedup itself is deterministic by construction.
  *
  * Generation names: the numeric micro-batch id for stream writes,
  * `c<n>` for compacted generations (which only ever hold batches below
  * the committed watermark). A replayed batch `b` therefore excludes its
  * own and any later generation structurally: it reads numeric
  * generations `< b` plus every `c<n>`.
  */
object DedupStream {

  private val surfaces = Seq("corpus", "bands")

  /** Drain the parquet documents under `srcDir` through incremental dedup
    * into `stateDir` (`corpus/` survivors + `bands/` signature state), one
    * file per micro-batch ([[StoreStream]]), AvailableNow. Re-running with
    * the same checkpoint is a no-op (nothing new to ingest). The
    * checkpoint and the state share `stateDir` as one lifecycle unit —
    * batch ids namespace the state generations.
    */
  def dedupIngestAvailableNow(spark: SparkSession, srcDir: String,
      stateDir: String, idCol: String = "doc_id", textCol: String = "text",
      shingleN: Int = 3, threshold: Double = 0.7, k: Int = 32,
      bands: Int = 16): Unit =
    StoreStream.drainAvailableNow(spark, srcDir, stateDir) { (batch, batchId) =>
      ingestBatch(spark, batch, batchId, stateDir, idCol, textCol,
        shingleN, threshold, k, bands)
    }

  private def hasManifest(spark: SparkSession, stateDir: String): Boolean =
    Generations.fsOf(spark, stateDir)
      .exists(new org.apache.hadoop.fs.Path(stateDir, "_MANIFEST"))

  /** The committed generations a (possibly replayed) batch `b` may read:
    * numeric generations strictly below `b`, plus compacted folds — which
    * hold only batches below the committed watermark, itself at most any
    * replayable id. Empty before the first batch commits. Shared with
    * [[CrawlStream]], whose state follows the same replay contract. */
  private[streaming] def gensBelow(spark: SparkSession, stateDir: String,
      b: Long): Seq[String] =
    if (!hasManifest(spark, stateDir)) Nil
    else Generations.live(spark, stateDir)
      .filter(g => g.startsWith("c") || g.toLong < b)

  /** Commit batch `b`'s generation — one manifest flip for all of its
    * surfaces; the first batch creates the manifest. */
  private[streaming] def commitBatch(spark: SparkSession, stateDir: String,
      b: Long): Unit =
    if (!hasManifest(spark, stateDir))
      Generations.commit(spark, stateDir, Seq(b.toString))
    else Generations.add(spark, stateDir, b.toString)

  /** One micro-batch of the ingest, REPLAY-SAFE: the state read excludes
    * generation `batchId` and later, so a batch whose writes landed before
    * a crash re-cleans against exactly the state it saw the first time —
    * without the exclusion a replayed batch would meet its OWN signatures
    * in the store and drop every document as a self-duplicate. Exposed
    * package-private so the spec can exercise the replay path directly.
    */
  private[graft] def ingestBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, stateDir: String, idCol: String, textCol: String,
      shingleN: Int, threshold: Double, k: Int, bands: Int): Unit =
      Generations.withWriterLock(spark, stateDir) {
    val priorGens = gensBelow(spark, stateDir, batchId)
    val prior =
      if (priorGens.isEmpty) None
      else {
        val ob = Generations.readSurface(spark, stateDir, "bands", priorGens)
          .drop("gen")
        if (ob.isEmpty) None
        else Some((Generations.readSurface(spark, stateDir, "corpus", priorGens)
          .drop("gen"), ob))
      }
    val survivors =
      (prior match {
        case None =>
          Dedup.dedupCorpus(batch, idCol, textCol, shingleN, threshold, k, bands)
        case Some((oldDocs, oldBands)) =>
          Dedup.dedupIncremental(batch, oldDocs, oldBands,
            idCol, textCol, shingleN, threshold, k, bands)
      })
        // materialized once: the corpus write and the signature write
        // below must not each re-run the MinHash + candidate join
        .localCheckpoint()
    survivors.write.mode("overwrite")
      .parquet(s"$stateDir/corpus/gen=$batchId")
    Dedup.bandSignatures(survivors, idCol, textCol, shingleN, k, bands)
      .write.mode("overwrite").parquet(s"$stateDir/bands/gen=$batchId")
    // one manifest flip commits survivors + signatures together
    commitBatch(spark, stateDir, batchId)
    survivors.unpersist()
    ()
  }

  /** The deduped corpus accumulated so far (generation provenance
    * dropped; manifest-resolved, so a crashed batch's orphan directories
    * are invisible). */
  def corpus(spark: SparkSession, stateDir: String): DataFrame =
    Generations.readSurface(spark, stateDir, "corpus",
      Generations.live(spark, stateDir)).drop("gen")

  /** Fold the corpus/band generations STRICTLY BELOW `uptoBatch` (plus
    * any earlier folds) into a single `c<n>` generation per surface —
    * after N micro-batches the state otherwise holds N directories whose
    * listing and open cost grows linearly with ingest history. Content is
    * unchanged (generation rows are disjoint), and the replay contract is
    * preserved by construction: a replayed batch b >= uptoBatch still
    * excludes its own generation (it reads numeric generations < b and
    * the folds, all of which hold only batches < uptoBatch <= b) and
    * still owns its `gen=b` overwrite target untouched. `uptoBatch` must
    * therefore be at most the stream's committed watermark — a batch id
    * at or below it can no longer be redelivered under the checkpoint.
    *
    * Crash and concurrent-reader safety per the [[Generations]] manifest
    * protocol: the fold lands as a NEW generation, the manifest flip
    * commits it, folded directories survive one maintenance cycle for
    * readers holding the old manifest, and a crashed fold's orphan (or a
    * crashed batch's uncommitted write — its replay rewrites the
    * directory from scratch anyway) is swept at the next run. Single
    * writer: never run concurrently with an active ingest.
    */
  def compactState(spark: SparkSession, stateDir: String,
      uptoBatch: Long): Unit =
    compactBelow(spark, stateDir, surfaces, uptoBatch)

  /** [[compactState]] for any batch-id-named stream state (shared with
    * [[CrawlStream.compactState]]): one pass-through fold per surface. */
  private[streaming] def compactBelow(spark: SparkSession, stateDir: String,
      surfaces: Seq[String], uptoBatch: Long): Unit = {
    require(uptoBatch >= 1, "need uptoBatch >= 1")
    Generations.compact(spark, stateDir, surfaces,
      foldable = g => g.startsWith("c") || g.toLong < uptoBatch,
      skip = _.sizeIs <= 1) { (cGen, fold) =>
      for (surface <- surfaces)
        Generations.readSurface(spark, stateDir, surface, fold).drop("gen")
          .write.mode("overwrite").parquet(s"$stateDir/$surface/gen=$cGen")
    }
  }
}
