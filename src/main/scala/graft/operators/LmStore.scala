package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

/** Persisted bigram language-model store — the count tables of
  * [[LanguageModel]] as an on-disk, incrementally-maintained artifact.
  * This is the store with the cleanest fold algebra of the family: every
  * statistic is a COUNT over disjoint document batches, so a generation
  * per ingested batch folds by plain sum at read and compaction is the
  * same sum written down. The production shape the LanguageModel scaladoc
  * promises ("count tables a pipeline would persist and reuse across
  * scoring runs") made real: train once, absorb each new crawl increment
  * for the cost of counting THAT batch, score any document set against
  * the frozen register without ever re-reading the training corpus.
  *
  * Layout (the index-store shape — one `gen=<g>` directory per ingested
  * batch, appends never rewrite old files, readers fold, compaction
  * merges; the `_MANIFEST` generation list is the single commit point,
  * [[Generations]]):
  *
  *   meta/                        one row (n_shards)
  *   bigrams/gen=<g>/shard=<s>/   (w1, w2, c) — fold by sum
  *   unigrams/gen=<g>/shard=<s>/  (w1, c) — bigram-context counts, fold
  *       by sum; sharded by the SAME key (w1) as bigrams so a scoring
  *       batch prunes both tables with one probed-shard set
  *   tokens/gen=<g>/shard=<s>/    (w) — this generation's distinct
  *       tokens, sharded by token hash: the ground truth V folds from,
  *       and — because shards PARTITION the vocabulary — the surface an
  *       append's novelty check prunes to its own batch's shards
  *   docreg/gen=<g>/bucket=<b>/   (id) — ingested-doc registry backing
  *       the append-only guard (re-ingesting a doc would double its
  *       counts), bucketed by id hash so the guard reads only the
  *       batch ids' own buckets
  *   vstat/gen=<g>/               (shard, v) — the count of this
  *       generation's NOVEL tokens per shard (tokens absent from every
  *       PRIOR committed generation). A token is counted exactly once,
  *       at the generation that introduced it, so total vocabulary size
  *       V = sum(v) over all generations — a constant-size scan at
  *       scoring time, and a SUMMABLE statistic that compaction folds
  *       like any other count. The novelty anti-join at append time is
  *       pruned to the batch vocabulary's own token shards: the write
  *       pays a batch-shaped cost, never a full-vocab distinct.
  *
  * Generation names: "g<k>" for batch build/append (auto-numbered),
  * caller-chosen "b<batchId>" for stream appends
  * ([[graft.streaming.StoreStream]] draining into [[lmAppendOrReplay]]),
  * "c<n>" for compacted generations.
  * Every generation write OVERWRITES its own gen directory, so
  * re-driving a generation converges — and stays invisible until the
  * manifest references it.
  *
  * 100 TB shape: appends cost one count pass over the batch plus a
  * batch-vocab-pruned membership probe; scoring prunes the count scans
  * to the shards of the scored batch's own vocab (probed driver-side,
  * bounded by nShards BY CONSTRUCTION); the shuffle in every stage is
  * keyed by token text with map-side partial combine. BELOW the shard
  * directory, every keyed surface row carries a fine cluster key
  * `ck = hash(key) mod 8192`, files are ck-sorted with 4 MB row groups /
  * 64 KB pages, and serving/guard scans push an OR-of-ranges over the
  * batch's own ck set — so even within a probed shard the bytes read are
  * bounded by the batch's key footprint × skip granularity, not by the
  * shard's corpus-grown size (the fixed-geometry scale-probe residual:
  * path pruning bounds FILES, ck ranges bound BYTES).
  */
object LmStore {

  private def shardOf(w: Column, nShards: Int) =
    pmod(xxhash64(w), lit(nShards.toLong)).cast("int")

  private def bucketOf(id: Column, nShards: Int) =
    pmod(xxhash64(id.cast("string")), lit(nShards.toLong)).cast("int")

  /** The FINE CLUSTER KEY that bounds serving scans BELOW the shard
    * directory: every bigram/token/registry row carries
    * `ck = hash1(key) mod 8192` (seeded independently of the shard hash so
    * the two don't correlate when nShards divides the domain), files are
    * SORTED by it, and a serving batch filters the scan with the
    * parquet-pushable OR-of-ranges over its own ck set
    * ([[graft.functions.Pushdown]]). With sorted files the reader's
    * row-group stats and page column indexes skip unprobed key ranges, so
    * the bytes a fixed batch reads are bounded by its own vocabulary ×
    * skip granularity — not by the shard's (corpus-growing) size. The ck
    * set is driver-bounded by the domain (8192) BY CONSTRUCTION.
    */
  private def ckOf(k: Column) = graft.functions.Pushdown.ckOf(k)
  private def footprint(df: DataFrame, part: Column, ck: Column) =
    graft.functions.Pushdown.footprint(df, part, ck)
  private def ckFilter(cks: Array[Int]): Column =
    graft.functions.Pushdown.ckFilter(cks)

  private def readMeta(spark: SparkSession, dir: String): Int = {
    val m = spark.read.parquet(s"$dir/meta")
    // pre-ck stores fail LOUDLY here instead of silently losing rows
    // behind the ck range pushdown; one fused head() job
    graft.functions.Pushdown.metaRow(m, dir, "n_shards").getInt(0)
  }

  private val surfaces = Seq("bigrams", "unigrams", "tokens", "docreg", "vstat")

  // every surface read carries its schema explicitly: no footer-based
  // inference, so a pruned read NEVER opens an unprobed shard/bucket even
  // at planning time (the batch-bound law in LmStoreSpec corrupts the
  // unprobed directories and the append must still succeed). Doc ids are
  // stored as strings so the registry schema is caller-type-free.
  private val bigramsSchema = new StructType()
    .add("w1", StringType).add("w2", StringType).add("c", LongType)
    .add("ck", IntegerType)
    .add("gen", StringType).add("shard", IntegerType)
  private val unigramsSchema = new StructType()
    .add("w1", StringType).add("c", LongType)
    .add("gen", StringType).add("shard", IntegerType)
  private val tokensSchema = new StructType()
    .add("w", StringType).add("ck", IntegerType)
    .add("gen", StringType).add("shard", IntegerType)
  private val docregSchema = new StructType()
    .add("id", StringType).add("ck", IntegerType)
    .add("gen", StringType).add("bucket", IntegerType)
  private val vstatSchema = new StructType()
    .add("shard", IntegerType).add("v", LongType).add("gen", StringType)
  private val schemaOf = Map("bigrams" -> bigramsSchema,
    "unigrams" -> unigramsSchema, "tokens" -> tokensSchema,
    "docreg" -> docregSchema, "vstat" -> vstatSchema)

  // bucket/shard dir-partitioned in build/compaction generations, a data
  // column in flat append segments ([[Generations.readSurfaceMixed]]);
  // vstat is flat in every generation
  private val partColOf = Map("bigrams" -> "shard", "unigrams" -> "shard",
    "tokens" -> "shard", "docreg" -> "bucket")

  private def surface(spark: SparkSession, dir: String, sub: String,
      gens: Seq[String]): DataFrame =
    partColOf.get(sub) match {
      case Some(pc) =>
        Generations.readSurfaceMixed(spark, dir, sub, gens, schemaOf(sub), pc)
      case None =>
        Generations.readSurfaceAs(spark, dir, sub, gens, schemaOf(sub))
    }

  /** A shard/bucket-partitioned surface pruned to the probed values at
    * the PATH level: the plan-time listing costs O(gens + touched dirs),
    * never O(gens × nShards) — at thousands of shards the discovery
    * listing otherwise dominates a batch-bounded read. Flat segment
    * generations fall back to the data filter (readSurfacePruned). */
  private def surfacePruned(spark: SparkSession, dir: String, sub: String,
      gens: Seq[String], values: Seq[Int]): DataFrame =
    Generations.readSurfacePruned(spark, dir, sub, gens, schemaOf(sub),
      partColOf(sub), values)

  /** The doc registry pruned to the given id buckets. */
  private def docregPruned(spark: SparkSession, dir: String,
      gens: Seq[String], buckets: Array[Int]): DataFrame =
    surfacePruned(spark, dir, "docreg", gens, buckets.toIndexedSeq)

  /** Count the batch once and write one generation of every surface.
    * `priorGens` is the committed generation list the novelty check runs
    * against — it must EXCLUDE `gen` itself (a replayed stream write
    * would otherwise find its own tokens "known" and undercount V).
    *
    * `segment = false` (corpus-sized builds; compaction writes its own
    * fold): shard/bucket dir-partitioned, repartitioned first so each
    * directory holds one file. `segment = true` (batch appends): FLAT
    * generations — shard/bucket stay data columns and the file count
    * tracks the batch, never the store's corpus-scaled shard count (a
    * per-append file per shard directory is an O(nShards) create cost the
    * r8 scale probe measured; the Lucene segment split removes it).
    * Readers fold both layouts behind the same filters
    * ([[Generations.readSurfaceMixed]]).
    */
  private def writeGeneration(batch: DataFrame, idCol: String,
      textCol: String, dir: String, gen: String, nShards: Int,
      priorGens: Seq[String], segment: Boolean): Unit = {
    val s = batch.sparkSession
    // every keyed surface is ck-SORTED inside its files and written in the
    // serve-optimized layout ([[Generations.writeSurface]]): range
    // pushdown on ck then skips at ~page granularity, so a fixed batch's
    // read is bounded by its vocab × 64 KB, not the shard's corpus-grown
    // size. The metadata overhead is a few stats entries per page —
    // noise against the count-table payload.
    def out(df: DataFrame, sub: String, pc: String,
        sorted: Boolean = true): Unit =
      Generations.writeSurface(df, dir, sub, gen, Seq(pc),
        if (sorted) Seq(pc, "ck") else Seq(pc), flat = segment)
    val bg = LanguageModel.bigramRows(batch, idCol, textCol)
      .withColumn("shard", shardOf(col("w1"), nShards))
      .localCheckpoint() // one tokenize+zip evaluation for the two count writes
    out(bg.groupBy(col("shard"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
      .withColumn("ck", ckOf(col("w1"))), "bigrams", "shard")
    out(bg.groupBy(col("shard"), col("w1")).agg(count(lit(1)).as("c")),
      "unigrams", "shard", sorted = false) // scoring never opens unigrams
    bg.unpersist()
    val toks = batch.select(explode(split(col(textCol), "\\s+")).as("w"))
      .distinct()
      .withColumn("shard", shardOf(col("w"), nShards))
      .withColumn("ck", ckOf(col("w")))
      .localCheckpoint() // one evaluation: token write + shard probe + novelty
    out(toks, "tokens", "shard")
    out(batch.select(col(idCol).cast("string").as("id")).distinct()
      .withColumn("bucket", bucketOf(col("id"), nShards))
      .withColumn("ck", ckOf(col("id"))), "docreg", "bucket")
    // the write pays V's delta — and only the delta: the batch's tokens
    // probe membership against the shards THEY hash to (driver-side int
    // set, bounded by nShards by construction), never the whole register.
    // Join DIRECTION matters at scale: the prior token surface is
    // vocabulary-sized, so it must only ever be SCANNED, never shuffled —
    // `known` semi-joins prior against the BROADCAST batch vocab (a
    // map-side probe over the scan; its result is ≤ the batch vocab, so
    // broadcastable by construction), then novel anti-joins against that
    // broadcast. Two broadcast hash joins of batch-sized sides; zero
    // exchange of the register — and the scan itself is ck-range-bounded,
    // so the bytes read track the batch vocabulary, not the stored vocab.
    val novel =
      if (priorGens.isEmpty) toks
      else {
        val (probed, cks) = footprint(toks, col("shard"), col("ck"))
        val known = surfacePruned(s, dir, "tokens", priorGens,
            probed.toIndexedSeq)
          .filter(ckFilter(cks))
          .select(col("w"))
          .join(broadcast(toks.select(col("w"))), Seq("w"), "left_semi")
          .distinct()
        toks.join(broadcast(known), Seq("w"), "left_anti")
      }
    novel.groupBy(col("shard")).agg(count(lit(1)).as("v"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/vstat/gen=$gen")
    toks.unpersist()
    ()
  }

  /** Build a fresh persisted LM store under `dir` from the training
    * corpus (any previous store there is removed). */
  def lmBuild(trainDocs: DataFrame, idCol: String, textCol: String,
      dir: String, nShards: Int = 16): Unit = {
    require(nShards >= 1)
    val spark = trainDocs.sparkSession
    import spark.implicits._
    Generations.fsOf(spark, dir).delete(new Path(dir), true)
    writeGeneration(trainDocs, idCol, textCol, dir, "g0", nShards, Nil,
      segment = false)
    Seq((nShards, graft.functions.Pushdown.LayoutVersion))
      .toDF("n_shards", "layout_version")
      .write.mode("overwrite").parquet(s"$dir/meta")
    // the manifest flip commits the build ([[Generations]])
    Generations.commit(spark, dir, Seq("g0"))
  }

  /** Absorb a NEW training batch for the cost of counting the batch: its
    * counts land as one generation; readers fold by sum, so the folded
    * register equals one trained on the union of all ingested batches.
    * Append-only contract: a doc id enters the register exactly once
    * (re-ingesting would double its counts), enforced against the stored
    * doc registry — pruned to the batch ids' own buckets, so the guard
    * reads a batch-shaped slice of the registry no matter how much was
    * ever ingested. For at-least-once stream delivery use
    * [[lmAppendOrReplay]] — a redelivered batch would trip this guard.
    */
  def lmAppend(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, dir: String): Unit =
    ingest(spark, batch, idCol, textCol, dir, None)

  /** Replay-safe append for STREAM-triggered ingestion
    * ([[graft.streaming.StoreStream]]): the batch's five surface writes all
    * target `gen=<gen>` with OVERWRITE, so an at-least-once redelivery —
    * even after a crash that committed only some of the five — rewrites
    * the same directories and converges; doc ids already ingested by a
    * DIFFERENT generation are genuine re-ingestion and fail fast (guard
    * pruned to the batch ids' buckets). `gen` must not collide with the
    * batch ("g<k>") or compaction ("c<n>") namespaces — use "b<batchId>".
    */
  def lmAppendOrReplay(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, dir: String, gen: String): Unit =
    ingest(spark, batch, idCol, textCol, dir, Some(gen))

  /** The one ingest body behind [[lmAppend]] (auto-named) and
    * [[lmAppendOrReplay]] (caller-named) — see [[Generations.ingest]]. The
    * novelty check runs against the live generations other than the one
    * being written, so a replay never finds its own tokens "known". */
  private def ingest(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, dir: String, gen: Option[String]): Unit = {
    val op = if (gen.isEmpty) "lmAppend" else "lmAppendOrReplay"
    Generations.ingest(spark, dir, surfaces, gen, op) { (name, live) =>
      val nShards = readMeta(spark, dir)
      val ids = batch.select(col(idCol).cast("string").as("id")).distinct()
        .localCheckpoint()
      try {
        val (buckets, cks) = footprint(ids, bucketOf(col("id"), nShards),
          ckOf(col("id")))
        val dupe = docregPruned(spark, dir, live, buckets)
          .filter(ckFilter(cks))
          .filter(col("gen") =!= name).select(col("id"))
          .join(ids, Seq("id"), "left_semi")
        require(dupe.isEmpty,
          if (gen.isEmpty) "lmAppend: batch contains doc ids already in the " +
            "register — the append-only contract forbids re-ingesting a document"
          else "lmAppendOrReplay: batch contains doc ids already ingested by " +
            "a DIFFERENT generation — genuine re-ingestion, not a replay")
      } finally ids.unpersist()
      writeGeneration(batch, idCol, textCol, dir, name, nShards,
        live.filterNot(_ == name), segment = true)
    }
  }

  /** Score a document set against the stored register WITHOUT re-reading
    * the training corpus: bigram/context counts fold the generations by
    * sum, V sums the per-generation novel-token stats (a constant-size
    * scan — never a vocab-sized distinct), unseen bigrams get the true
    * smoothing floor k/(k·V) ([[LanguageModel.bigramLogProbAgainst]]'s
    * semantics — and therefore [[LanguageModel.bigramLogProb]]'s when
    * `docs` IS the ingested corpus; q135's oracle). The count scans are
    * pruned to the shards of the scored batch's own vocabulary — probed
    * driver-side, bounded by nShards by construction, so a small scoring
    * batch reads a fraction of the register no matter how many batches
    * were ever ingested.
    */
  def lmScore(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, dir: String, k: Double = 1.0,
      asOf: Option[Int] = None): DataFrame =
    lmScoreImpl(spark, docs, idCol, textCol, dir, k, rounded = true, asOf)

  /** [[lmScore]] with the average log-prob UNROUNDED — for consumers that
    * compare scores (the q144 perplexity gate thresholds raw values, as
    * its oracle does; rounding first would gate on a different number
    * than the one published). */
  def lmScoreRaw(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, dir: String, k: Double = 1.0,
      asOf: Option[Int] = None): DataFrame =
    lmScoreImpl(spark, docs, idCol, textCol, dir, k, rounded = false, asOf)

  private def lmScoreImpl(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, dir: String, k: Double, rounded: Boolean,
      asOf: Option[Int] = None): DataFrame = {
    val nShards = readMeta(spark, dir)
    // one checkpointed evaluation serves the probe collect AND the scoring
    // join: a bigram whose shard went unprobed would left-join to null and
    // silently score as unseen, so the two sides must see the same rows.
    // pinLocal is wrong here (docs can be corpus-sized — this must stay an
    // executor-side frame); the checkpoint blocks are reclaimed by the
    // ContextCleaner when the returned frame is collected and dropped.
    // The probed-shard set itself is a distinct-shard aggregate — bounded
    // by nShards BY CONSTRUCTION, never by the batch
    // LAZY: the footprint collect below is the serve's one probe action —
    // it materializes the bigram blocks inside its own job instead of
    // paying a dedicated eager-checkpoint job first
    val bg = LanguageModel.bigramRows(docs, idCol, textCol)
      .localCheckpoint(false)
    // one driver job collects BOTH pruning footprints AND the batch size
    // (for the adaptive plan below): the probed shard set (path-level
    // pruning), the batch's ck set (in-file range pushdown) — each bounded
    // by its domain, never by the batch — and the bigram count, which
    // previously cost its own job
    val (probed, cks, nBg) = graft.functions.Pushdown.footprintAndCount(
      bg, shardOf(col("w1"), nShards), ckOf(col("w1")))
    // one manifest resolution — all three surfaces score the same
    // snapshot; `asOf` pins a RETAINED snapshot manifest instead of the
    // live one ([[Generations.liveAt]] — time travel for debugging a
    // compaction or reproducing a past scoring run)
    val gens = asOf.map(Generations.liveAt(spark, dir, _))
      .getOrElse(Generations.live(spark, dir))
    def pruned(sub: String) =
      surfacePruned(spark, dir, sub, gens, probed.toIndexedSeq)
    // Adaptive register plan, chosen on the EXACT batch size (one cheap
    // count over the checkpointed blocks, no shuffle): a FIXED serving
    // batch semi-joins the register scans against its own BROADCAST
    // bigram/context keys BELOW the groupBy, so the register is scanned
    // but never aggregated whole — the aggregation and its shuffle are
    // batch-bound, which is what keeps per-batch scoring cost flat as
    // the register grows (the scale probe's lm_score term was exactly
    // this register-sized aggregation). A corpus-scale batch (where the
    // key set itself is register-sized and the semi-join would filter
    // nothing while broadcasting gigabytes) keeps the
    // aggregate-then-join plan. Both paths compute identical counts;
    // the small-batch path is pinned by the LmStoreSpec serving laws,
    // the corpus path by the q98/q135/q139/q144 oracles.
    val smallBatch = nBg <= 200000L
    // ONE register surface serves both aggregates: the unigram context
    // count is the bigram table's own rollup (unigrams(w1) = Σ_w2
    // bigrams(w1,w2) — both count the same bigram occurrences, grouped
    // differently), so scoring never opens the unigrams surface at all.
    // The semi-join keys on w1 ALONE (not the (w1,w2) pair) exactly so
    // the kept rows carry every w2 of a probed w1 and the rollup is the
    // true context total; c12's extra (probed-w1, unprobed-w2) rows fall
    // out of the scoreTail join harmlessly. The c12 subtree appears
    // under both joins, and its scan+semijoin+agg is byte-identical in
    // each — Spark's ReusedExchange serves the rollup from the first
    // aggregation's shuffle output, so the register is scanned ONCE per
    // score no matter how many surfaces the store keeps. (Halving the
    // touched-file count is what keeps the fixed-geometry lm_score probe
    // flat: at serving scale the cost is file opens + probed-shard scan,
    // and both now pay a single surface.)
    // the ck-range filter rides BELOW the semi-join: it is the predicate
    // that actually reaches parquet (the semi-join can only discard rows
    // AFTER they are read), and with ck-sorted files it skips row
    // groups/pages whose key range the batch never touches — the scan
    // bound that keeps a fixed batch's read flat as shards grow. Superset
    // by construction (every batch w1's ck is in the set); the semi-join
    // above restores exactness. Corpus-scale batches skip both (their key
    // set IS the register).
    val scan = pruned("bigrams")
    val filtered =
      if (smallBatch)
        scan.filter(ckFilter(cks))
          .join(broadcast(bg.select(col("w1")).distinct()),
            Seq("w1"), "left_semi")
      else scan
    val c12 = filtered.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c")).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    // V folds the per-generation novel-token counts by sum: one tiny
    // scan, never a vocab-sized distinct at scoring time
    val vocab = surface(spark, dir, "vstat", gens)
      .agg(coalesce(sum(col("v")), lit(0L)).as("v"))
    LanguageModel.scoreTail(bg, c12, c1, vocab, k, rounded)
  }

  /** Compact the store's committed generations into one: bigram/context
    * counts merge by sum, token sets by distinct, the per-shard novelty
    * stats by sum (each token was counted exactly once, at the
    * generation that introduced it — the folded sum is that same count),
    * the doc registry passes through (disjoint across generations).
    * Correctness never depends on compaction (readers fold); it bounds
    * the generation and file count. Generations in `keepGens` stay
    * referenced untouched (a stream maintainer MUST keep every
    * generation its checkpoint has not committed — see
    * [[lmAppendOrReplay]]).
    *
    * Crash and concurrent-reader safety per the [[Generations]] manifest
    * protocol — fold to a new `gen=c<n>`, flip the manifest, sweep the
    * folded directories one cycle later; single WRITER still required.
    */
  def lmCompact(spark: SparkSession, dir: String,
      keepGens: Set[String] = Set.empty): Unit =
    Generations.compact(spark, dir, surfaces, keepGens) { (cGen, fold) =>
      def in(sub: String) = surface(spark, dir, sub, fold).drop("gen")
      // one shuffle partition per shard value → one file per shard dir;
      // keyed surfaces re-sort by ck so the compacted files keep the
      // range-skippable layout the serving scans depend on
      Generations.writeSurface(in("bigrams")
          .groupBy(col("shard"), col("w1"), col("w2")).agg(sum(col("c")).as("c"))
          .withColumn("ck", ckOf(col("w1"))),
        dir, "bigrams", cGen, Seq("shard"), Seq("shard", "ck"))
      Generations.writeSurface(in("unigrams")
          .groupBy(col("shard"), col("w1")).agg(sum(col("c")).as("c")),
        dir, "unigrams", cGen, Seq("shard"), Nil)
      Generations.writeSurface(in("tokens").distinct(), dir, "tokens", cGen,
        Seq("shard"), Seq("shard", "ck"))
      Generations.writeSurface(in("docreg"), dir, "docreg", cGen,
        Seq("bucket"), Seq("bucket", "ck"))
      Generations.writeSurface(in("vstat")
          .groupBy(col("shard")).agg(sum(col("v")).as("v")).coalesce(1),
        dir, "vstat", cGen, Nil, Nil)
    }
}
