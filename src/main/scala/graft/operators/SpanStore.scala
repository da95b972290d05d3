package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

/** Persisted EXACT-SUBSTRING state — the incremental half of
  * [[Dedup.duplicatedSpans]] (Lee et al. 2022 ExactSubstr): the corpus's
  * sliding-window hash counts live on disk so a new crawl batch finds its
  * duplicated ≥N-token spans against a 100 TB corpus by probing the
  * store, never by re-expanding the old corpus.
  *
  * Layout (the [[Generations]] manifest protocol shared by the index /
  * ANN / LM / CC / SCD2 stores — atomic commit, reader grace, orphan
  * sweep, snapshot history, enforced single writer):
  *
  *   _MANIFEST                   committed generation list
  *   meta/                       one row (window_n, n_shards)
  *   wins/gen=<g>/shard=<s>/     (h, c) — window-hash occurrence counts,
  *       folded by sum across generations; sharded by pmod(h) so a
  *       batch-bounded probe prunes to its touched shards
  *   docreg/gen=<g>/bucket=<b>/  (id, ck) — ingested-doc registry
  *       backing the append-only and serve-before-ingest contracts,
  *       bucketed by id hash and ck-sorted so the guards read only the
  *       batch ids' buckets and key ranges
  *
  * Serving cost shape: a batch probe reads only the probed shard
  * directories of the `wins` surface and joins on the 64-bit hash — the
  * shuffle is batch-bound (the store side is filtered by the batch's
  * broadcast hash set first), so scoring a fixed batch stays flat as
  * the corpus grows, the same contract the scale probe pins for the
  * other stores.
  */
object SpanStore {

  private def shardOf(h: Column, nShards: Int) =
    pmod(h, lit(nShards.toLong)).cast("int")

  private def bucketOf(id: Column, nShards: Int) =
    pmod(xxhash64(id.cast("string")), lit(nShards.toLong)).cast("int")

  private def readMeta(spark: SparkSession, dir: String): (Int, Int) = {
    val m = spark.read.parquet(s"$dir/meta")
    // pre-ck stores fail LOUDLY here instead of silently losing rows
    // behind the ck range pushdown; one fused head() job
    val r = graft.functions.Pushdown.metaRow(m, dir, "window_n", "n_shards")
    (r.getInt(0), r.getInt(1))
  }

  private val surfaces = Seq("wins", "docreg")

  private val winsSchema = new StructType()
    .add("h", LongType).add("c", LongType).add("ck", IntegerType)
    .add("gen", StringType).add("shard", IntegerType)
  private val docregSchema = new StructType()
    .add("id", StringType).add("ck", IntegerType)
    .add("gen", StringType).add("bucket", IntegerType)

  private def winsSurface(spark: SparkSession, dir: String,
      gens: Seq[String]): DataFrame =
    Generations.readSurfaceMixed(spark, dir, "wins", gens, winsSchema, "shard")

  private def winsPruned(spark: SparkSession, dir: String,
      gens: Seq[String], shards: Seq[Int]): DataFrame =
    Generations.readSurfacePruned(spark, dir, "wins", gens, winsSchema,
      "shard", shards)

  /** The doc registry pruned to the given id buckets — the LM registry
    * discipline: the append-only and serve-before-ingest guards read a
    * batch-shaped slice (probed buckets at the path level, the batch
    * ids' ck ranges at the reader) no matter how much was ever
    * ingested. */
  private def docregPruned(spark: SparkSession, dir: String,
      gens: Seq[String], buckets: Seq[Int]): DataFrame =
    Generations.readSurfacePruned(spark, dir, "docreg", gens, docregSchema,
      "bucket", buckets)

  /** One generation of both surfaces. Build/compaction generations are
    * shard-directory-partitioned (one file per shard); batch appends are
    * FLAT segments (shard stays a data column, file count tracks the
    * batch) — the same Lucene segment split as the other stores. */
  private def writeGeneration(wins: DataFrame, ids: DataFrame, dir: String,
      gen: String, nShards: Int, segment: Boolean): Unit = {
    writeWins(wins.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .withColumn("shard", shardOf(col("h"), nShards)), dir, gen, segment)
    writeDocreg(ids.select(col("id").cast("string").as("id"))
      .withColumn("bucket", bucketOf(col("id"), nShards))
      .withColumn("ck", graft.functions.Pushdown.ckOf(col("id"))),
      dir, gen, segment)
  }

  /** (h, c, shard) counts → one `wins` generation: ck-sorted files + small
    * pages, so probe scans push the batch's ck ranges and a probed shard
    * is read only around the batch's own hash ranges (the
    * [[graft.functions.Pushdown]] in-shard scan bound). */
  private def writeWins(counts: DataFrame, dir: String, gen: String,
      flat: Boolean): Unit =
    Generations.writeSurface(
      counts.withColumn("ck", graft.functions.Pushdown.ckOf(col("h"))),
      dir, "wins", gen, Seq("shard"), Seq("shard", "ck", "h"), flat)

  /** (id, bucket, ck) rows → one `docreg` generation, ck-sorted with the
    * page row cap only. */
  private def writeDocreg(reg: DataFrame, dir: String, gen: String,
      flat: Boolean): Unit =
    Generations.writeSurface(reg, dir, "docreg", gen, Seq("bucket"),
      Seq("bucket", "ck"), flat, serve = false)

  /** Build a fresh persisted span store under `dir` (any previous store
    * there is removed): the corpus's window-hash counts, sharded and
    * manifest-committed. */
  def spanStoreBuild(docs: DataFrame, idCol: String, textCol: String,
      dir: String, windowN: Int = 8, nShards: Int = 16): Unit = {
    require(windowN >= 2 && nShards >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    Generations.fsOf(spark, dir).delete(new Path(dir), true)
    writeGeneration(Dedup.windowRows(docs, idCol, textCol, windowN),
      docs.select(col(idCol).as("id")), dir, "g0", nShards, segment = false)
    Seq((windowN, nShards, graft.functions.Pushdown.LayoutVersion))
      .toDF("window_n", "n_shards", "layout_version")
      .write.mode("overwrite").parquet(s"$dir/meta")
    Generations.commit(spark, dir, Seq("g0"))
  }

  /** Absorb a new batch's window counts as a flat segment generation —
    * old files are never rewritten; readers fold. Append-only contract:
    * a doc id enters the store exactly once (re-ingesting would double
    * its window counts and fabricate duplicated spans). */
  def spanStoreAppend(batch: DataFrame, idCol: String, textCol: String,
      dir: String): Unit =
    ingest(batch.sparkSession, batch, idCol, textCol, dir, None)

  /** Replay-safe append for STREAM-triggered ingestion
    * ([[graft.streaming.StoreStream]]): both surface writes target
    * `gen=<gen>` with OVERWRITE, so an at-least-once redelivery — even
    * after a crash that committed only one of the two — rewrites the
    * same directories and converges; doc ids already ingested by a
    * DIFFERENT generation are genuine re-ingestion and fail fast. `gen`
    * must not collide with the batch ("g<k>") or compaction ("c<n>")
    * namespaces — use "b<batchId>".
    */
  def spanStoreAppendOrReplay(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, dir: String, gen: String): Unit =
    ingest(spark, batch, idCol, textCol, dir, Some(gen))

  /** The one ingest body behind [[spanStoreAppend]] (auto-named) and
    * [[spanStoreAppendOrReplay]] (caller-named) — see
    * [[Generations.ingest]]. */
  private def ingest(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, dir: String, gen: Option[String]): Unit = {
    val op = if (gen.isEmpty) "spanStoreAppend" else "spanStoreAppendOrReplay"
    Generations.ingest(spark, dir, surfaces, gen, op) { (name, live) =>
      val (windowN, nShards) = readMeta(spark, dir)
      val ids = batch.select(col(idCol).cast("string").as("id"))
      val (buckets, idCks) = graft.functions.Pushdown.footprint(ids,
        bucketOf(col("id"), nShards), graft.functions.Pushdown.ckOf(col("id")))
      val dupe = docregPruned(spark, dir, live, buckets.toIndexedSeq)
        .filter(graft.functions.Pushdown.ckFilter(idCks))
        .filter(col("gen") =!= name)
        .join(ids, Seq("id"), "left_semi")
      require(dupe.isEmpty,
        if (gen.isEmpty) "spanStoreAppend: batch contains doc ids already " +
          "in the store — the append-only contract forbids re-ingesting a " +
          "document"
        else "spanStoreAppendOrReplay: batch contains doc ids already " +
          "ingested by a DIFFERENT generation — genuine re-ingestion, not a " +
          "replay")
      writeGeneration(Dedup.windowRows(batch, idCol, textCol, windowN),
        batch.select(col(idCol).as("id")), dir, name, nShards, segment = true)
    }
  }

  /** The batch's duplicated spans against STORE ∪ BATCH, without
    * re-expanding the stored corpus: a batch window is duplicated iff
    * its hash occurs ≥ 2 times across the store's counts plus the
    * batch's own — exactly [[Dedup.duplicatedSpans]] over the full
    * corpus, restricted to the batch's documents (the incremental==batch
    * law SpanStoreSpec pins). Serve-only: the store is not mutated —
    * call [[spanStoreAppend]] to ingest the batch afterwards.
    *
    * Plan shape: the store read is path-pruned to the batch's touched
    * shards, then semi-filtered by the batch's broadcast hash set BEFORE
    * aggregation, so the join and shuffle are batch-bound; only the
    * probed shards' scan grows with the corpus. */
  def duplicatedSpansIncremental(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, dir: String,
      asOf: Option[Int] = None): DataFrame = {
    val (windowN, nShards) = readMeta(spark, dir)
    val bw = Dedup.windowRows(batch, idCol, textCol, windowN)
      .localCheckpoint()
    // ONE driver job collects all FOUR pruning footprints from the
    // checkpointed window rows — the wins scan's (shard, window-hash ck)
    // sets AND the serve guard's (bucket, id ck) sets. The guard then
    // costs only the registry read it must do; the r12 probe charged a
    // ~0.6 s/probe constant for running these as two separate jobs.
    // Every set is domain-bounded (nShards / CkDomain), never batch-bound.
    val fp = bw.select(shardOf(col("h"), nShards).as("s"),
        graft.functions.Pushdown.ckOf(col("h")).as("hk"),
        bucketOf(col("id"), nShards).as("b"),
        graft.functions.Pushdown.ckOf(col("id").cast("string")).as("ik"))
      .agg(collect_set(col("s")), collect_set(col("hk")),
        collect_set(col("b")), collect_set(col("ik")))
      .head()
    val probed = fp.getSeq[Int](0).toArray
    val cks = fp.getSeq[Int](1).toArray
    val pBuckets = fp.getSeq[Int](2).toArray
    val pCks = fp.getSeq[Int](3).toArray
    val gens = asOf.map(Generations.liveAt(spark, dir, _))
      .getOrElse(Generations.live(spark, dir))
    // serve-before-ingest contract, enforced like the append guard: a
    // batch doc already in the store would meet its own stored window
    // counts and every one of its windows would self-report as a
    // duplicated span. Bucket-pruned + ck-bounded like every registry
    // read — a batch-shaped slice, never the whole corpus id list. Ids
    // come from the CHECKPOINTED window rows (no batch-source re-scan);
    // only window-bearing docs can self-match, and a doc too short to
    // window is registered but can never fabricate a span
    val pids = bw.select(col("id").cast("string").as("id")).distinct()
    val dupe = docregPruned(spark, dir, gens, pBuckets.toIndexedSeq)
      .filter(graft.functions.Pushdown.ckFilter(pCks))
      .join(pids, Seq("id"), "left_semi")
    require(dupe.isEmpty,
      "duplicatedSpansIncremental: batch contains doc ids already in the " +
        "store — a stored doc self-matches its own window counts and " +
        "fabricates duplicated spans; probe BEFORE ingesting (serve-then-" +
        "append), or probe only fresh ids")
    val stored = winsPruned(spark, dir, gens, probed.toIndexedSeq)
      // ck ranges reach parquet below the semi-join (which can only
      // discard rows after they are read); superset by construction
      .filter(graft.functions.Pushdown.ckFilter(cks))
      .join(broadcast(bw.select(col("h")).distinct()), Seq("h"), "left_semi")
      .groupBy(col("h")).agg(sum(col("c")).as("c"))
    val batchCnt = bw.groupBy(col("h")).agg(count(lit(1)).as("bc"))
    val hot = batchCnt
      .join(stored, Seq("h"), "left")
      .filter(col("bc") + coalesce(col("c"), lit(0L)) >= 2)
      .select(col("h"))
    Dedup.spansFromHits(bw.join(hot, Seq("h")), windowN)
  }

  /** Fold the committed generations into one `c<n>` generation: window
    * counts merge by sum, the doc registry passes through (disjoint by
    * the append-only contract). Correctness never depends on compaction
    * (readers fold); it bounds generation and file counts. */
  def spanStoreCompact(spark: SparkSession, dir: String,
      keepGens: Set[String] = Set.empty): Unit =
    Generations.compact(spark, dir, surfaces, keepGens) { (cGen, fold) =>
      writeWins(winsSurface(spark, dir, fold).drop("gen")
        .groupBy(col("shard"), col("h")).agg(sum(col("c")).as("c")),
        dir, cGen, flat = false)
      writeDocreg(Generations.readSurfaceMixed(spark, dir, "docreg", fold,
        docregSchema, "bucket").drop("gen"), dir, cGen, flat = false)
    }
}
