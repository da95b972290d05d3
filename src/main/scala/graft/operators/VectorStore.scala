package graft.operators

import graft.functions.VectorFunctions._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN store on the PORTABLE coarse quantizer
  * ([[Similarity.ivfTopKPortable]]'s md5-order centroid draw) — the vector
  * sibling of the inverted-index store: the quantizer is frozen at build
  * time, every ingested batch lands as its own generation, readers fold
  * generations, compaction merges them, and serving reads ONLY the probed
  * cells' directories. The k-means store ([[Similarity.ivfBuild]]) keeps
  * the engine-native quantizer under recall laws; THIS store's entire
  * serve path is hash-checkable against a SQL oracle (q134), because the
  * centroid draw, assignment, probe selection, and top-k are all
  * deterministic engine-portable arithmetic.
  *
  * Layout (the index-store shape — appends never rewrite old files):
  *
  *   _MANIFEST                  the committed generation list — the
  *       store's single commit point ([[Generations]])
  *   centroids/                 (cell, v) — nCells rows, the frozen
  *       quantizer; doubles as the store's meta (nCells = row count)
  *   cells/gen=<g>/cell=<c>/    (id, v, nrm) — cell assignments; rows are
  *       disjoint across generations, so folding is a plain union and
  *       compaction is a pass-through rewrite that bounds the file count
  *
  * Generation names: "g<k>" for batch appends (auto-numbered), caller
  * chosen "b<batchId>" for stream appends ([[graft.streaming.StoreStream]]
  * draining into [[annAppendOrReplay]]), "c<n>" for compacted
  * generations. Every generation write OVERWRITES its own gen directory,
  * so re-driving a generation converges — and stays invisible until the
  * manifest references it.
  *
  * 100 TB shape: a query batch reads nProbe cells per query — the probed
  * cell set is bounded by nCells BY CONSTRUCTION, so a static IN on the
  * partition column prunes unconditionally; appends cost one batch
  * assignment against a literal centroid array (never a corpus rescan);
  * the append-only guard is a column-pruned id scan (parquet reads one
  * slim column, not the vectors).
  */
object VectorStore {

  /** Stored quantizer, ordered by cell index (= md5 draw rank). */
  private def loadCentroids(spark: SparkSession, dir: String): Array[Array[Double]] =
    spark.read.parquet(s"$dir/centroids")
      .orderBy(col("cell")).select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)

  private def cells(spark: SparkSession, dir: String,
      gens: Seq[String]): DataFrame =
    Generations.readSurface(spark, dir, "cells", gens)

  /** Assign a batch to the stored cells and overwrite generation `gen`. */
  private def writeGeneration(batch: DataFrame, idCol: String, vecCol: String,
      dir: String, centroids: Array[Array[Double]], gen: String): Unit =
    Similarity.assignCells(
        batch.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v")),
        centroids)
      .select(col("id"), col("v"), col("nrm"), col("cell"))
      // one file per non-empty cell dir per generation (vs one per
      // upstream task per cell); the extra shuffle is batch-sized
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/cells/gen=$gen")

  /** Build a fresh persisted ANN store under `dir` (any previous store
    * there is removed): draw the portable quantizer from THIS corpus
    * (md5-order, [[Similarity.portableCentroids]] — frozen for the store's
    * lifetime; periodic re-draws when drift degrades recall are a fresh
    * build), persist it, and write the corpus's assignments as generation
    * "g0". `corpus` must have at least `nCells` rows to draw from.
    */
  def annBuild(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, nCells: Int = 16): Unit = {
    require(nCells >= 1)
    val spark = corpus.sparkSession
    import spark.implicits._
    Generations.fsOf(spark, dir).delete(new Path(dir), true)
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val centroids = Similarity.portableCentroids(c, nCells)
    require(centroids.length == nCells,
      s"annBuild: corpus has only ${centroids.length} rows to draw " +
        s"$nCells centroids from")
    centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "v")
      .write.mode("overwrite").parquet(s"$dir/centroids")
    writeGeneration(corpus, idCol, vecCol, dir, centroids, "g0")
    // the manifest flip commits the build ([[Generations]])
    Generations.commit(spark, dir, Seq("g0"))
  }

  /** Absorb a NEW vector batch without rescanning the old corpus: assign
    * against the frozen quantizer and write one generation. Append-only
    * contract: a vector id enters the store exactly once (re-ingesting
    * would surface it twice in search results), enforced by a
    * column-pruned id lookup. For at-least-once stream delivery use
    * [[annAppendOrReplay]] — a redelivered batch would trip this guard.
    */
  def annAppend(spark: SparkSession, batch: DataFrame, idCol: String,
      vecCol: String, dir: String): Unit =
    ingest(spark, batch, idCol, vecCol, dir, None)

  /** Replay-safe append for STREAM-triggered ingestion
    * ([[graft.streaming.StoreStream]]): the batch writes its generation
    * under the caller-stable name `gen` with OVERWRITE, so an
    * at-least-once redelivery rewrites the same directory and converges;
    * ids already ingested by a DIFFERENT generation are genuine
    * re-ingestion and fail fast. `gen` must not collide with the batch
    * ("g<k>") or compaction ("c<n>") namespaces — use "b<batchId>".
    */
  def annAppendOrReplay(spark: SparkSession, batch: DataFrame, idCol: String,
      vecCol: String, dir: String, gen: String): Unit =
    ingest(spark, batch, idCol, vecCol, dir, Some(gen))

  /** The one ingest body behind [[annAppend]] (auto-named) and
    * [[annAppendOrReplay]] (caller-named) — see [[Generations.ingest]]. */
  private def ingest(spark: SparkSession, batch: DataFrame, idCol: String,
      vecCol: String, dir: String, gen: Option[String]): Unit = {
    val op = if (gen.isEmpty) "annAppend" else "annAppendOrReplay"
    Generations.ingest(spark, dir, Seq("cells"), gen, op) { (name, live) =>
      val dupe = cells(spark, dir, live)
        .filter(col("gen") =!= name).select(col("id"))
        .join(batch.select(col(idCol).as("id")), Seq("id"), "left_semi")
      require(dupe.isEmpty,
        if (gen.isEmpty) "annAppend: batch contains vector ids already in " +
          "the store — the append-only contract forbids re-ingesting a vector"
        else "annAppendOrReplay: batch contains vector ids already ingested " +
          "by a DIFFERENT generation — genuine re-ingestion, not a replay")
      writeGeneration(batch, idCol, vecCol, dir, loadCentroids(spark, dir),
        name)
    }
  }

  /** Serve top-k queries from the store: probe each query's nProbe nearest
    * stored centroids, scan ONLY the probed cells, score by cosine with
    * the stored norms. The probed set is driver-sized by construction
    * (bounded by nCells), and the scan is pruned at the PATH level — the
    * read enumerates exactly the probed `cell=` directories rather than
    * listing the whole cell store and filtering afterwards, so even the
    * driver-side file listing is O(probed), not O(nCells) (at thousands
    * of cells the discovery listing otherwise dominates a small query
    * batch). Same output shape as [[Similarity.bruteForceTopK]]; equals
    * [[Similarity.ivfTopKPortable]] when the store was built from the
    * whole corpus in one generation (VectorStoreSpec law; q134 oracle for
    * the multi-generation store).
    */
  def annSearch(spark: SparkSession, queries: DataFrame, idCol: String,
      vecCol: String, dir: String, k: Int, nProbe: Int = 4,
      asOf: Option[Int] = None): DataFrame = {
    require(k >= 1 && nProbe >= 1)
    // `asOf` pins a retained snapshot manifest ([[Generations.liveAt]]):
    // the search serves the store state of that commit — centroids are
    // build-time constants, so only the cell generation list time-travels
    val gens = asOf.map(Generations.liveAt(spark, dir, _))
      .getOrElse(Generations.live(spark, dir))
    // pinned local relation: the probed-cell collect and the scoring join
    // must see the SAME evaluation of the queries plan (the ivfSearch
    // rationale; driver-sized by construction — this side broadcasts)
    val q = graft.functions.Frames.pinLocal(
      Similarity.probeSide(loadCentroids(spark, dir), queries, idCol,
        vecCol, nProbe))
    val probed = q.select(col("cell")).distinct().collect()
      .map(_.getAs[Number](0).intValue())
    // gens × probed existence checks are driver-side and bounded by
    // generations × (queries × nProbe) — a cell a generation never wrote
    // simply has no directory
    val fs = Generations.fsOf(spark, dir)
    val paths = for {
      g <- gens
      c <- probed
      p = s"$dir/cells/gen=$g/cell=$c"
      if fs.exists(new Path(p))
    } yield p
    val stored =
      if (paths.isEmpty)
        cells(spark, dir, gens).filter(lit(false)) // schema-only empty
      else spark.read.option("basePath", s"$dir/cells").parquet(paths: _*)
    Similarity.scoreProbe(stored, q, k)
  }

  /** The recall-sweep serve (q142): ONE cell read and ONE scoring pass at
    * `max(probes)`, each candidate carrying its cell's probe rank — a
    * candidate's cosine is independent of nProbe, only the candidate SET
    * grows with it, so the per-nProbe top-k is a rank filter + window
    * over the shared scored set instead of `probes.size` independent
    * serve plans. Output (n_probe, query_id, rank, neighbor_id,
    * cos_sim); equals [[annSearch]] at every probed setting
    * (VectorStoreSpec law).
    */
  def annSearchSweep(spark: SparkSession, queries: DataFrame, idCol: String,
      vecCol: String, dir: String, k: Int, probes: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    require(k >= 1 && probes.nonEmpty && probes.forall(_ >= 1))
    require(probes.distinct == probes,
      s"annSearchSweep: duplicate nProbe settings in $probes would " +
        "duplicate output rows")
    val maxP = probes.max
    val gens = Generations.live(spark, dir)
    val centroids = loadCentroids(spark, dir)
    // probeSide with the probe RANK kept (posexplode of the sorted slice);
    // same two-step pin as probeSide — narrow projection pinned first,
    // the nCells×dim-literal distance projection then runs in ONE task
    // (its per-task setup cost must not fan across the query source's
    // partition count — the r11 ann_search knee)
    val q = graft.functions.Frames.pinLocal(
      graft.functions.Frames.pinLocal(
        queries.select(col(idCol).as("query_id"),
          graft.functions.VectorFunctions.asDouble(col(vecCol)).as("qv")))
        .coalesce(1)
        .withColumn("qnrm", graft.functions.VectorFunctions.l2Norm(col("qv")))
        .withColumn("cellDists", array(centroids.zipWithIndex.map {
          case (ctr, i) =>
            struct(graft.functions.VectorFunctions.l2Sq(col("qv"), lit(ctr))
              .as("d"), lit(i).as("cell"))
        }: _*))
        .select(col("query_id"), col("qv"), col("qnrm"),
          posexplode(slice(array_sort(col("cellDists")), 1, maxP))
            .as(Seq("p0", "pc")))
        .select(col("query_id"), col("qv"), col("qnrm"),
          (col("p0") + 1).as("probe_rank"), col("pc.cell").as("cell")))
    val probed = q.select(col("cell")).distinct().collect()
      .map(_.getAs[Number](0).intValue())
    val fs = Generations.fsOf(spark, dir)
    val paths = for {
      g <- gens; c <- probed
      p = s"$dir/cells/gen=$g/cell=$c"
      if fs.exists(new Path(p))
    } yield p
    val stored =
      if (paths.isEmpty) cells(spark, dir, gens).filter(lit(false))
      else spark.read.option("basePath", s"$dir/cells").parquet(paths: _*)
    val scored = stored.join(broadcast(q), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("cos", graft.functions.VectorFunctions.dot(col("v"), col("qv"))
        / (col("nrm") * col("qnrm")))
    scored
      .join(broadcast(probes.toDF("n_probe")),
        col("probe_rank") <= col("n_probe"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("n_probe"), col("query_id"))
          .orderBy(col("cos").desc, col("id"))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("n_probe"), col("query_id"), col("rank"),
        col("id").as("neighbor_id"),
        graft.functions.ColumnFunctions.pround(col("cos"), 6).as("cos_sim"))
  }

  /** Compact the store's committed generations into one: assignment rows
    * are disjoint across generations, so the merge is a pass-through
    * rewrite — correctness never depends on it; it bounds the generation
    * (and file) count, which otherwise grows linearly with append count.
    * Generations in `keepGens` stay referenced untouched (a stream
    * maintainer MUST keep every generation not yet committed by its
    * checkpoint, so a replay's overwrite target still exists — see
    * [[annAppendOrReplay]]).
    *
    * Crash and concurrent-reader safety per the [[Generations]] manifest
    * protocol — fold to a new `gen=c<n>`, flip the manifest, sweep the
    * folded directories one cycle later; single WRITER still required.
    */
  def annCompact(spark: SparkSession, dir: String,
      keepGens: Set[String] = Set.empty): Unit =
    Generations.compact(spark, dir, Seq("cells"), keepGens) { (cGen, fold) =>
      cells(spark, dir, fold).drop("gen")
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$dir/cells/gen=$cGen")
    }
}
