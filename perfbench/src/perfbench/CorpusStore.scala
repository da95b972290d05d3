package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import graft.SparkEntry
import graft.operators.{Generations, Indexing, Retrieval}
import graft.streaming.IndexStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The corpus side: writes beside reads on the inverted-index store, then
  * a slice of the operator suite over the same documents.
  *
  * Set-up builds generation g0 from the even documents. Each pass starts
  * from a copy of g0, drains the seeded batch file of odd documents
  * through the stream (`IndexStream.indexIngestAvailableNow`) and serves
  * `indexStats`, `indexLookup` and `Retrieval.bm25FromIndex` from the two
  * live generations; then it compacts them (`indexCompact`) and serves
  * the same three reads from the compacted store. Then it runs the suite
  * queries: each `SparkEntry.queries` call is timed as its eager frame
  * build, planning (forcing the executed plan, GraftExtensions rules
  * included) and execution (collecting the rows).
  *
  * Checks, outside the timed region, on both sets of reads: the served
  * stats equal `Indexing.invertedIndex` over the ingested documents, the
  * lookup equals the postings recomputed from them, and BM25 equals the
  * `Retrieval.bm25TopK` recompute, so a drain or compaction that lost or
  * doubled data fails; every query returns the same rows on every pass,
  * and the first pass's rows go to the DuckDB comparison against
  * `SparkEntry.oracleSql`, which the runner does after the JVM exits. */
final class CorpusStore(ctx: Ctx) extends Workload {
  private val MinDf = 2L
  private val K = 5

  private var g0 = ""
  private var storeDir = ""
  private def batchFile = s"${ctx.inputs}/batch.parquet"

  def inputBytes: Long = Files.size(Path.of(batchFile))

  private def docs(spark: SparkSession): DataFrame =
    spark.read.parquet(s"${ctx.inputs}/documents.parquet")
  /** The documents in the store once the batch is in. */
  private def ingested(spark: SparkSession): DataFrame =
    docs(spark).filter(col("doc_id") % 2 === 0).unionByName(spark.read.parquet(batchFile))
  /** Seeded BM25 query documents; the lookup probes words of the first. */
  private val queryIds: Seq[Long] = {
    val r = new scala.util.Random(ctx.seed * 31 + 5)
    Seq.fill(3)(r.nextInt(40).toLong)
  }
  private var lookupTokens = Seq.empty[String]
  private def queries(spark: SparkSession): DataFrame =
    docs(spark).filter(col("doc_id").isin(queryIds: _*)).select("doc_id", "text")

  def setup(spark: SparkSession, dir: String): Unit = {
    val d = docs(spark)
    lookupTokens = d.filter(col("doc_id") === queryIds.head).head().getAs[String]("text")
      .split("\\s+").distinct.take(3).toSeq
    g0 = s"$dir/g0"
    Indexing.indexBuild(d.filter(col("doc_id") % 2 === 0), "doc_id", "text", g0, nShards = 8)
  }

  /** Live generations, files and bytes of the store. */
  private def storeState(spark: SparkSession, step: String): StoreState = {
    val fs = Fs.files(storeDir)
    StoreState(step, Generations.live(spark, storeDir).size, fs.size.toLong,
      fs.map(Files.size(_)).sum)
  }

  /** Expected (stats, lookup, bm25) fingerprints once the batch is in. */
  private lazy val expected: (String, String, String) = {
    val spark = SparkSession.active
    val in = ingested(spark)
    val stats = Indexing.invertedIndex(in, "doc_id", "text", minDf = MinDf)
    val postings = in.select(col("doc_id").cast("long").as("id"),
        explode(split(col("text"), "\\s+")).as("token"))
      .filter(col("token").isin(lookupTokens: _*))
      .groupBy(col("token"), col("id")).agg(count(lit(1)).as("tf"))
      .select("token", "id", "tf")
    val bm25 = Retrieval.bm25TopK(in, queries(spark), "doc_id", "text", k = K)
    (Canon.rows(stats.collect().toSeq), Canon.rows(postings.collect().toSeq),
      Canon.rows(bm25.collect().toSeq))
  }

  /** The three served reads, as spans `operators.<read>.<step>`, each
    * checked against the recompute. */
  private def serveReads(spark: SparkSession, step: String): Unit = {
    val rec = ctx.rec
    val sc = spark.sparkContext
    val p = rec.pass
    val q = queries(spark)
    def read(name: String)(body: => DataFrame): Option[Seq[Row]] =
      rec.op(sc, s"operators.$name.$step", kind = "serve", key = s"store.$step")(
        body.collect().toSeq)
    val got = Seq(
      "indexStats" -> read("index_stats")(Indexing.indexStats(spark, storeDir, minDf = MinDf)),
      "indexLookup" -> read("index_lookup")(Indexing.indexLookup(spark, storeDir, lookupTokens)),
      "bm25FromIndex" -> read("bm25_served")(
        Retrieval.bm25FromIndex(spark, q, "doc_id", "text", storeDir, k = K)))
    ctx.untimed {
      val (ws, wl, wb) = expected
      for (((what, g), w) <- got.zip(Seq(ws, wl, wb)); h <- g.map(Canon.rows) if h != w)
        rec.failWhere(o => o.pass == p && o.key.startsWith("store"),
          s"$what ($step): $h != recompute $w")
    }
  }

  private val hashes = mutable.Map[(Int, String), String]()

  def pass(spark: SparkSession): Unit = {
    val rec = ctx.rec
    val sc = spark.sparkContext
    val p = rec.pass
    val base = s"${ctx.root}/store/p$p"
    val src = s"$base/src"
    ctx.untimed {
      storeDir = s"$base/idx"
      Fs.copyTree(g0, storeDir)
      Files.createDirectories(Path.of(src))
      ctx.scanCreated(storeDir); ctx.createdBytes = 0L
    }
    def state(step: String): Unit = ctx.untimed {
      ctx.scanCreated(storeDir)
      if (rec.spanning) ctx.storeSamples += storeState(spark, step)
    }
    ctx.untimed(Files.copy(Path.of(batchFile), Path.of(src, "batch.parquet")))
    rec.op(sc, "streaming.drain", key = "store")(
      IndexStream.indexIngestAvailableNow(spark, src, storeDir))
    state("after_drain")
    serveReads(spark, "after_drain")
    rec.op(sc, "operators.index_compact", key = "store")(Indexing.indexCompact(spark, storeDir))
    state("after_compact")
    serveReads(spark, "after_compact")

    for (name <- CorpusStore.Queries) {
      val short = name.takeWhile(_ != '_')
      rec.op(sc, s"queries.$short", key = name) {
        val df = rec.span(sc, s"queries.$short.build")(SparkEntry.queries(name)(spark, ctx.inputs))
        rec.span(sc, s"queries.$short.plan")(df.queryExecution.executedPlan)
        (df, rec.span(sc, s"queries.$short.execute")(df.collect().toSeq))
      }.foreach { case (df, rows) => ctx.untimed {
        val h = Canon.rows(rows)
        hashes((p, name)) = h
        if (p == 0)
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            .coalesce(1).write.parquet(s"${ctx.root}/check/$name")
        else if (!hashes.get((0, name)).contains(h))
          rec.failWhere(o => o.pass == p && o.key == name, s"$name differs from the first pass")
      }}
    }
    ctx.untimed(if (p > 0) Fs.deleteTree(s"${ctx.root}/store/p${p - 1}"))
  }

  override def finish(spark: SparkSession): Unit =
    Files.writeString(Path.of(ctx.root, "oracle_sql.json"), Json(
      CorpusStore.Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
}

object CorpusStore {
  /** CC fixpoint (frame-build heavy), Jaccard with the prefilter rule, LSH,
    * and a relational join-aggregate as the control. */
  val Queries: Seq[String] = Seq("q128_cc_incremental", "q44_token_jaccard",
    "q45_minhash_lsh", "q13_district_monthly")
}
