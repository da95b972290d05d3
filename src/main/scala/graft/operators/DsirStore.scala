package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

/** Persisted DSIR fit — [[Sampling.dsirWeights]]' bucket distributions as
  * an on-disk, incrementally-maintained artifact (Xie et al. 2023 §2: the
  * hashed-ngram importance estimator is FIT once on target + raw-pool
  * samples, then applied to every candidate batch). The deployment shape
  * the dsirWeights scaladoc promises made real: at 100 TB a pipeline does
  * not re-scan the target and the whole raw pool per scoring call — it
  * fits the two nBuckets-row bucket distributions once, persists them,
  * and scores each incoming crawl batch for the cost of ONE pass over
  * that batch plus a broadcast of the (bounded-by-construction)
  * nBuckets-row weight table.
  *
  * This is the family's smallest store by a wide margin — the persisted
  * state is at most 2·nBuckets count rows regardless of how much text was
  * ever fitted — so it needs none of the shard/ck machinery: a single
  * surface, one file per generation, fold by sum.
  *
  * Layout (the [[Generations]] manifest protocol, like every store):
  *
  *   meta/                 one row (n_buckets, store_version)
  *   counts/gen=<g>/       (side ∈ {target, raw}, b, c) — fold by sum
  *
  * Generation names: "g<k>" for build/append (auto-numbered),
  * caller-chosen (e.g. "b<batchId>") for stream/replay appends, "c<n>"
  * for compactions. Append algebra: bucket counts over disjoint document
  * batches fold by plain sum, so a store appended batch-by-batch equals
  * one fit on the union (the LmStore count algebra) — the caller's
  * append-only contract is that batches are disjoint (re-appending the
  * same text double-counts its ngrams; for at-least-once delivery use
  * [[dsirAppendOrReplay]], whose named-generation overwrite converges).
  *
  * Smoothing (`alpha`) is a SCORE-time parameter: the store persists raw
  * counts, so one fit serves any smoothing choice.
  */
object DsirStore {

  /** Side tag for the target-domain sample's counts. */
  val SideTarget = "target"
  /** Side tag for the raw-pool sample's counts. */
  val SideRaw = "raw"

  private val surfaces = Seq("counts")

  private val countsSchema = new StructType()
    .add("side", StringType).add("b", IntegerType).add("c", LongType)
    .add("gen", StringType)

  /** Format version of THIS store (it carries no ck layout, so the shared
    * [[graft.functions.Pushdown.LayoutVersion]] does not apply; the stamp
    * serves the same loud-failure purpose for any future format change). */
  private val StoreVersion = 1

  private def readMeta(spark: SparkSession, dir: String): Int = {
    val m = spark.read.parquet(s"$dir/meta")
    // one fused head() job for the version guard and the bucket count
    require(m.columns.contains("store_version"),
      s"DSIR store $dir does not carry format version $StoreVersion — " +
        "it was written by a different layout; rebuild it with the " +
        "current code")
    val r = m.select(col("store_version"), col("n_buckets")).head()
    require(r.getInt(0) == StoreVersion,
      s"DSIR store $dir does not carry format version $StoreVersion — " +
        "it was written by a different layout; rebuild it with the " +
        "current code")
    r.getInt(1)
  }

  /** One (side, b, c) count row per touched bucket of `docs` — the
    * nBuckets-bounded statistic a generation persists. */
  private def bucketCounts(docs: DataFrame, textCol: String, nBuckets: Int,
      side: String): DataFrame =
    Sampling.ngramBuckets(docs, textCol, nBuckets)
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
      .select(lit(side).as("side"), col("b"), col("c"))

  /** Count one or both sides of a batch and write one generation: at most
    * 2·nBuckets rows → one file. OVERWRITE on the gen directory, so a
    * re-driven generation converges and stays invisible until the
    * manifest references it. */
  private def writeGeneration(target: Option[DataFrame],
      raw: Option[DataFrame], textCol: String, dir: String, gen: String,
      nBuckets: Int): Unit = {
    val sides = Seq(
      target.map(bucketCounts(_, textCol, nBuckets, SideTarget)),
      raw.map(bucketCounts(_, textCol, nBuckets, SideRaw))).flatten
    require(sides.nonEmpty, "dsir writeGeneration: nothing to write")
    sides.reduce(_ unionByName _).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/counts/gen=$gen")
  }

  /** Build a fresh persisted DSIR fit under `dir` from a target-domain
    * sample and a raw-pool sample (any previous store there is removed).
    * Each side costs one bucket-keyed count aggregation with map-side
    * partials over its input — the only time the fit inputs are ever
    * scanned. */
  def dsirBuild(target: DataFrame, rawPool: DataFrame, textCol: String,
      dir: String, nBuckets: Int = 256): Unit = {
    require(nBuckets >= 2 && nBuckets <= 65536,
      s"nBuckets must be in [2, 65536]: $nBuckets")
    val spark = target.sparkSession
    import spark.implicits._
    Generations.fsOf(spark, dir).delete(new Path(dir), true)
    writeGeneration(Some(target), Some(rawPool), textCol, dir, "g0", nBuckets)
    Seq((nBuckets, StoreVersion)).toDF("n_buckets", "store_version")
      .write.mode("overwrite").parquet(s"$dir/meta")
    Generations.commit(spark, dir, Seq("g0"))
  }

  /** Absorb a NEW disjoint batch into one side of the fit for the cost of
    * counting that batch: its bucket counts land as one generation and
    * readers fold by sum, so the folded fit equals one built on the union
    * of all ingested batches. `side` is [[SideTarget]] or [[SideRaw]]. */
  def dsirAppend(spark: SparkSession, batch: DataFrame, textCol: String,
      dir: String, side: String): Unit =
    ingest(spark, batch, textCol, dir, side, None)

  /** Replay-safe append for STREAM-triggered maintenance
    * ([[graft.streaming.StoreStream]]): the generation write targets
    * `gen=<gen>` with OVERWRITE, so an at-least-once redelivery rewrites
    * the same file and converges. `gen` must not collide with the batch
    * ("g<k>") or compaction ("c<n>") namespaces — use "b<batchId>". The
    * streamed side is usually [[SideRaw]] — the side a live crawl keeps
    * refreshing while the curated target sample stays fixed. */
  def dsirAppendOrReplay(spark: SparkSession, batch: DataFrame,
      textCol: String, dir: String, side: String, gen: String): Unit =
    ingest(spark, batch, textCol, dir, side, Some(gen))

  /** The one ingest body behind [[dsirAppend]] (auto-named) and
    * [[dsirAppendOrReplay]] (caller-named) — see [[Generations.ingest]]. */
  private def ingest(spark: SparkSession, batch: DataFrame, textCol: String,
      dir: String, side: String, gen: Option[String]): Unit = {
    val op = if (gen.isEmpty) "dsirAppend" else "dsirAppendOrReplay"
    require(side == SideTarget || side == SideRaw,
      s"$op: side must be '$SideTarget' or '$SideRaw': $side")
    Generations.ingest(spark, dir, surfaces, gen, op) { (name, _) =>
      writeGeneration(if (side == SideTarget) Some(batch) else None,
        if (side == SideRaw) Some(batch) else None, textCol, dir, name,
        readMeta(spark, dir))
    }
  }

  /** DSIR log importance weight of every document in `docs` against the
    * PERSISTED fit, without re-reading any fit input: the stored counts
    * fold by sum (a ≤ 2·nBuckets·gens-row scan — bounded by geometry and
    * compaction cadence, never by fitted data volume), smooth into the
    * full-domain log-ratio table (every bucket 0..nBuckets−1, so a batch
    * that hits a fit-unseen bucket scores the honest smoothing floor
    * rather than dropping the ngram), and BROADCAST back onto one pass
    * over the batch — the score is batch-bound by construction. Same
    * semantics as [[Sampling.dsirWeights]] when the store holds that
    * call's target/raw inputs and the scored batch is drawn from the
    * fitted pool (the q165 oracle law); 4-decimal parity round (the
    * summed-ln convention). */
  def dsirScore(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, dir: String, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be > 0: $alpha")
    val nBuckets = readMeta(spark, dir)
    val gens = Generations.live(spark, dir)
    // LAZY-pinned: ct and cr each feed BOTH the weight join and the
    // totals aggregate, so unpinned the counts surface is scanned 4× per
    // score (4 store reads + 4 fold aggregates in the q165 plan). The
    // fold is ≤ 2·nBuckets rows per generation — bounded by construction
    val folded = Generations
      .readSurfaceAs(spark, dir, "counts", gens, countsSchema)
      .groupBy(col("side"), col("b")).agg(sum(col("c")).as("c"))
      .localCheckpoint(false)
    val ct = folded.filter(col("side") === SideTarget)
      .select(col("b"), col("c").as("ct"))
    val cr = folded.filter(col("side") === SideRaw)
      .select(col("b"), col("c").as("cr"))
    // 1-row totals frame: plans as a broadcast nested-loop over one row,
    // never a data-sized cartesian
    val tot = ct.agg(coalesce(sum(col("ct")), lit(0L)).as("tt")).crossJoin(
      cr.agg(coalesce(sum(col("cr")), lit(0L)).as("tr")))
    val wt = spark.range(nBuckets).select(col("id").cast("int").as("b"))
      .join(ct, Seq("b"), "left_outer")
      .join(cr, Seq("b"), "left_outer")
      .crossJoin(tot)
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + alpha) /
            (col("tt") + alpha * nBuckets)) -
          log((coalesce(col("cr"), lit(0L)) + alpha) /
            (col("tr") + alpha * nBuckets))).as("lr"))
    Sampling.ngramBuckets(docs, textCol, nBuckets, col(idCol))
      .join(broadcast(wt), Seq("b"))
      .groupBy(col(idCol))
      .agg(graft.functions.ColumnFunctions.pround(sum(col("lr")), 4)
        .as("log_weight"))
  }

  /** The `k` documents of `docs` most target-like under the persisted
    * fit — [[Sampling.dsirSelect]]'s deterministic resampling served from
    * the store: a distributed TakeOrderedAndProject, never a
    * single-partition window. */
  def dsirSelectStored(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, dir: String, k: Int, alpha: Double = 1.0): DataFrame = {
    require(k >= 1)
    dsirScore(spark, docs, idCol, textCol, dir, alpha)
      .orderBy(col("log_weight").desc, col(idCol)).limit(k)
  }

  /** Compact the committed generations into one: counts merge by sum per
    * (side, bucket) — at most 2·nBuckets rows, one file. Correctness
    * never depends on compaction (readers fold); it bounds the
    * generation/file count. Crash and concurrent-reader safety per the
    * [[Generations]] manifest protocol. */
  def dsirCompact(spark: SparkSession, dir: String,
      keepGens: Set[String] = Set.empty): Unit =
    Generations.compact(spark, dir, surfaces, keepGens) { (cGen, fold) =>
      Generations.readSurfaceAs(spark, dir, "counts", fold, countsSchema)
        .groupBy(col("side"), col("b")).agg(sum(col("c")).as("c"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/counts/gen=$cGen")
    }
}
