package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (type 2) history construction from a change
  * event stream — the warehouse side of CDC ingestion: collapse an
  * append-only event log into versioned validity intervals per entity
  * (one row per *run* of an unchanged attribute value, with
  * [valid_from, valid_to) bounds and a current flag).
  *
  * Scale shape: one shuffle on the entity key; everything else is two
  * windows over the already-partitioned data (change detection by lag,
  * then a run-length group-by and a lead for the closing bound). No
  * self-join against the full history — the classic O(n²) SCD2
  * anti-pattern — and no global order: windows are per-entity, so a
  * billion entities parallelize across the cluster.
  */
object History {

  /** Build SCD2 intervals for `attrCol` per `keyCol`, ordered by
    * (`tsCol`, `tieCol`). Consecutive events with the SAME attribute value
    * collapse into one version; a change opens a new one.
    *
    * Output: (key, version, attr, valid_from, valid_to, n_events,
    * is_current) — valid_to is null on the open (current) version.
    */
  def scd2(events: DataFrame, keyCol: String, attrCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val byTime = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    // 1 where the attribute differs from the previous event (first row: 1);
    // materialized as its own projection — Spark does not allow the lag()
    // window expression nested inside the running-sum window aggregate
    val changed = when(
      lag(col(attrCol), 1).over(byTime).isNull ||
        lag(col(attrCol), 1).over(byTime) =!= col(attrCol), 1).otherwise(0)
    val versioned = events
      .withColumn("__chg", changed)
      .withColumn("version",
        sum(col("__chg")).over(byTime.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).cast("long"))
    val runs = versioned
      .groupBy(col(keyCol), col("version"))
      .agg(max(col(attrCol)).as(attrCol), // constant within the run
        min(col(tsCol)).as("valid_from"),
        count(lit(1)).as("n_events"))
    val byVersion = Window.partitionBy(col(keyCol)).orderBy(col("version"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVersion))
      .withColumn("is_current", col("valid_to").isNull)
  }

  // ---------- persisted SCD2 store with incremental CDC merge ----------

  private def bucketOf(key: org.apache.spark.sql.Column, n: Int) =
    pmod(xxhash64(key.cast("string")), lit(n.toLong)).cast("int")

  private val surfaces = Seq("events")

  /** The committed event log — one `gen=<g>` directory per applied batch,
    * resolved through the [[Generations]] manifest so a crashed append's
    * orphan directory is invisible to every rebuild and guard. */
  private def readEvents(spark: SparkSession, path: String): DataFrame =
    Generations.readSurface(spark, path, "events",
      Generations.live(spark, path))

  /** Initialize a persisted SCD2 store under `path`: the raw event log at
    * `path/events` (one generation directory per applied batch, committed
    * through the [[Generations]] manifest) and the collapsed history at
    * `path/history`, both `partitionBy` a hash bucket of the entity key
    * (`nBuckets` dirs — the unit of incremental rewrite; size it so a
    * bucket's history fits an executor comfortably, e.g. 1024+ at
    * 100 TB). Keeping the event log is what makes the merge EXACT under
    * late data: an out-of-order event can split or re-chain old runs
    * arbitrarily, which no collapsed representation can replay.
    */
  def scd2Build(events: DataFrame, keyCol: String, attrCol: String,
      tsCol: String, tieCol: String, path: String, nBuckets: Int = 16): Unit = {
    require(nBuckets >= 1)
    val spark = events.sparkSession
    import spark.implicits._
    Generations.fsOf(spark, path)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    // repartition(__bucket) before every partitioned write: ONE file per
    // non-empty bucket dir (otherwise each upstream task writes into every
    // bucket dir it holds rows for — O(tasks x nBuckets) tiny files)
    events.withColumn("__bucket", bucketOf(col(keyCol), nBuckets))
      .repartition(col("__bucket"))
      .write.mode("overwrite").partitionBy("__bucket")
      .parquet(s"$path/events/gen=g0")
    Seq(nBuckets).toDF("n_buckets").write.mode("overwrite").parquet(s"$path/meta")
    Generations.commit(spark, path, Seq("g0"))
    scd2(readEvents(spark, path), keyCol, attrCol, tsCol, tieCol)
      .withColumn("__bucket", bucketOf(col(keyCol), nBuckets))
      .repartition(col("__bucket"))
      .write.mode("overwrite").partitionBy("__bucket").parquet(s"$path/history")
  }

  /** Apply a new CDC event batch to the persisted store WITHOUT a full
    * rebuild: the batch lands as one event-log GENERATION (committed by
    * the manifest flip — a crashed write's orphan directory is invisible
    * and sweeps at the next compaction), then history is recomputed for
    * the AFFECTED BUCKETS alone and dynamic-partition-overwritten —
    * untouched entities' files stay byte-identical (the
    * [[graft.io.Upsert]] contract). Affected bucket values are
    * driver-side by construction (bounded by nBuckets), so the event-log
    * scan is statically pruned. Law (HistorySpec):
    * apply(build(b1), b2) == scd2(b1 ∪ b2), including late events that
    * interleave or precede stored ones.
    */
  def scd2Apply(spark: SparkSession, path: String, batch: DataFrame,
      keyCol: String, attrCol: String, tsCol: String, tieCol: String): Unit =
    Generations.withWriterLock(spark, path) {
    withAlignedBatch(spark, path, batch, keyCol, tieCol) {
      (b, affected, nBuckets) =>
        // at-least-once CDC redelivery guard: an already-ingested
        // (key, tie) event would double n_events and reorder run versions
        // — fail fast (bucket-pruned semi-join, the indexAppend contract)
        // instead of silently corrupting history
        require(storedOverlap(spark, path, b, affected, keyCol, tieCol)
          .isEmpty,
          "scd2Apply: batch contains (key, tie) events already in the " +
            "store — redelivered CDC batches must be deduplicated before " +
            "apply (or use scd2ApplyOrReplay for checkpointed streams)")
        appendGeneration(spark, path, b)
        rebuildBuckets(spark, path, affected, nBuckets, keyCol, attrCol,
          tsCol, tieCol)
    }
    }

  /** Write the batch as a fresh event-log generation and flip the
    * manifest — the append's single commit point. */
  private def appendGeneration(spark: SparkSession, path: String,
      b: DataFrame): Unit = {
    val gen = Generations.nextName(spark, path, surfaces, 'g')
    b.repartition(col("__bucket"))
      .write.mode("overwrite").partitionBy("__bucket")
      .parquet(s"$path/events/gen=$gen")
    Generations.add(spark, path, gen)
  }

  /** Replay-safe apply for STREAM-triggered ingestion
    * ([[graft.streaming.StoreStream]]): foreachBatch delivery is
    * at-least-once, and a replayed micro-batch is byte-identical under the
    * stream checkpoint — so "every batch event already stored" means the
    * previous attempt's append committed and at most the (idempotent)
    * history rebuild is missing; re-run just that. A batch with NO stored
    * events takes the normal apply path with all its guards. A PARTIAL
    * overlap cannot arise from checkpointed replay (batch composition is
    * deterministic), so it fails fast as upstream corruption.
    */
  def scd2ApplyOrReplay(spark: SparkSession, path: String, batch: DataFrame,
      keyCol: String, attrCol: String, tsCol: String, tieCol: String): Unit =
    Generations.withWriterLock(spark, path) {
    withAlignedBatch(spark, path, batch, keyCol, tieCol) {
      (b, affected, nBuckets) =>
        val nStored = storedOverlap(spark, path, b, affected, keyCol, tieCol)
          .count()
        if (nStored == 0) {
          appendGeneration(spark, path, b)
          rebuildBuckets(spark, path, affected, nBuckets, keyCol, attrCol,
            tsCol, tieCol)
        } else if (nStored == b.count()) {
          // pure replay: append already landed — only the history rebuild
          // may have been lost between the two writes
          rebuildBuckets(spark, path, affected, nBuckets, keyCol, attrCol,
            tsCol, tieCol)
        } else {
          throw new IllegalStateException(
            s"scd2ApplyOrReplay: $nStored of ${b.count()} batch events are " +
              "already stored — a checkpointed replay is all-or-nothing, " +
              "so a partial overlap means upstream corruption")
        }
    }
    }

  /** Align the batch to the stored event schema, stamp its bucket, pin it
    * (one evaluation for the bucket collect, the guards and the writes),
    * run the identity guards, and hand (batch, affectedBuckets, nBuckets)
    * to `body`; the checkpoint is released on every path.
    */
  private def withAlignedBatch(spark: SparkSession, path: String,
      batch: DataFrame, keyCol: String, tieCol: String)(
      body: (DataFrame, Array[Int], Int) => Unit): Unit = {
    val nBuckets = spark.read.parquet(s"$path/meta").head().getInt(0)
    val evCols = readEvents(spark, path).columns
      .filterNot(c => c == "__bucket" || c == "gen")
    val b = batch.select(evCols.map(col).toIndexedSeq: _*)
      .withColumn("__bucket", bucketOf(col(keyCol), nBuckets))
      .localCheckpoint(true)
    try {
      // the (key, tie) identity must be total and unique WITHIN the batch:
      // a producer retry folded into one batch is a silent double-count,
      // and a null tie slips through the null-unsafe overlap join
      require(b.filter(col(keyCol).isNull || col(tieCol).isNull).isEmpty,
        "scd2Apply: batch has events with a null key or tie — the (key, " +
          "tie) identity must be total for the redelivery guard to hold")
      require(b.groupBy(col(keyCol), col(tieCol)).count()
        .filter(col("count") > 1).isEmpty,
        "scd2Apply: batch contains the same (key, tie) event more than " +
          "once — deduplicate the batch before apply")
      val affected = b.select(col("__bucket")).distinct().collect().map(_.getInt(0))
      body(b, affected, nBuckets)
    } finally b.unpersist() // also on failure paths — a DLQ-routing caller
    ()                      // must not accumulate checkpoint blocks
  }

  /** The committed event log restricted to `buckets`, pruned at the PATH
    * level: the read enumerates exactly the affected `gen=<g>/__bucket=<b>`
    * directories (generations × affected existence checks, driver-side,
    * bounded by the batch — the [[VectorStore.annSearch]] discipline), so
    * neither the guard nor a rebuild pays a discovery listing that grows
    * with nBuckets × generation count. */
  private def readEventsPruned(spark: SparkSession, path: String,
      buckets: Array[Int]): DataFrame = {
    val gens = Generations.live(spark, path)
    val fs = Generations.fsOf(spark, path)
    val paths = for {
      g <- gens
      bk <- buckets
      p = s"$path/events/gen=$g/__bucket=$bk"
      if fs.exists(new org.apache.hadoop.fs.Path(p))
    } yield p
    if (paths.isEmpty) readEvents(spark, path).filter(lit(false))
    else spark.read.option("basePath", s"$path/events").parquet(paths: _*)
  }

  /** Stored events matching the batch's (key, tie) identities —
    * path-pruned to the affected buckets' directories. */
  private def storedOverlap(spark: SparkSession, path: String, b: DataFrame,
      affected: Array[Int], keyCol: String, tieCol: String): DataFrame =
    readEventsPruned(spark, path, affected)
      .join(b.select(col(keyCol), col(tieCol)), Seq(keyCol, tieCol), "left_semi")

  /** Recompute the SCD2 history for `buckets` from the stored event log
    * (path-pruned scan) and dynamic-overwrite just those
    * directories. Idempotent: safe to re-run after a crash that appended
    * events but died before the history committed.
    */
  private[graft] def rebuildBuckets(spark: SparkSession, path: String,
      buckets: Array[Int], nBuckets: Int, keyCol: String, attrCol: String,
      tsCol: String, tieCol: String): Unit = {
    val evs = readEventsPruned(spark, path, buckets)
    scd2(evs, keyCol, attrCol, tsCol, tieCol)
      .withColumn("__bucket", bucketOf(col(keyCol), nBuckets))
      .repartition(col("__bucket"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bucket").parquet(s"$path/history")
  }

  /** Read the stored SCD2 history (every bucket), store column dropped. */
  def scd2Read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/history").drop("__bucket")

  /** The collapsed history as of a RETAINED snapshot commit
    * ([[Generations.liveAt]]). The history table itself is
    * dynamic-overwritten in place by applies, so time travel recomputes
    * the collapse from the immutable event log at that snapshot's
    * generation list — the same derivation every rebuild runs, so the
    * result is exactly what [[scd2Read]] served at that commit
    * (StoreLifecycleSpec law). Column parameters match the store's build
    * arguments (the store does not stamp them). */
  def scd2ReadAsOf(spark: SparkSession, path: String, snapshot: Int,
      keyCol: String, attrCol: String, tsCol: String,
      tieCol: String): DataFrame =
    scd2(Generations.readSurface(spark, path, "events",
        Generations.liveAt(spark, path, snapshot))
      .drop("gen", "__bucket"), keyCol, attrCol, tsCol, tieCol)

  /** Compact the event log's generations into one: every apply adds a
    * generation, so after N batches each rebuild's pruned scan pays N
    * directory opens per bucket — this folds them without changing a row
    * (the log is immutable history; only its file layout shrinks). The
    * history table needs no equivalent: rebuilds dynamic-overwrite whole
    * bucket directories, so its file count never grows with apply count.
    *
    * Crash and concurrent-reader safety per the [[Generations]] manifest
    * protocol: the folded log lands as a NEW `gen=c<n>` generation, the
    * manifest flips to it, and the folded directories survive one
    * maintenance cycle for readers that resolved the old manifest; a
    * crashed compaction's orphan is referenced by nothing and sweeps at
    * the next run. An already-folded store (a lone `c<n>` generation)
    * returns immediately, so repeated timed runs measure pure serving.
    * Single WRITER still required (never concurrent with an apply).
    */
  def scd2Compact(spark: SparkSession, path: String): Unit =
    Generations.compact(spark, path, surfaces) { (cGen, fold) =>
      // one shuffle partition per bucket value → one file per bucket dir
      Generations.readSurface(spark, path, "events", fold).drop("gen")
        .repartition(col("__bucket"))
        .write.mode("overwrite").partitionBy("__bucket")
        .parquet(s"$path/events/gen=$cGen")
    }
}
