package graft

import graft.streaming.{DedupStream, EventStream}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming incremental dedup drops the planted cross-batch dup exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("graft_dstream_src").toString
    val state = Files.createTempDirectory("graft_dstream").toString + "/state"
    // single flat FILES (not parquet dirs) so the file source sees one file
    // per micro-batch, in mod-time order
    def writeOne(df: org.apache.spark.sql.DataFrame, dest: String, mtime: Long): Unit = {
      val tmp = Files.createTempDirectory("graft_dstream_w").toString + "/o"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, java.nio.file.Path.of(dest))
      new java.io.File(dest).setLastModified(mtime)
    }
    // batch file 1: doc 0 + within-batch near-dup 1 (one word changed) + fresh 2
    writeOne(Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy cat again and again today"),
      (2L, "a completely different document about distributed prefix sums ok yes"))
      .toDF("doc_id", "text"), s"$src/f1.parquet", 1000000L)
    // batch file 2: doc 10 = EXACT copy of doc 0 (the planted cross-batch
    // dup) + fresh 12
    writeOne(Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"),
      (12L, "yet another unrelated subject entirely new tokens for this corpus"))
      .toDF("doc_id", "text"), s"$src/f2.parquet", 2000000L)

    DedupStream.dedupIngestAvailableNow(spark, src, state, threshold = 0.5)
    val got = DedupStream.corpus(spark, state)
      .select("doc_id").as[Long].collect().toSet
    assert(got === Set(0L, 2L, 12L),
      "1 near-dups 0 within batch; 10 exact-dups 0 across batches")

    // state grew append-only: one signature generation per micro-batch
    val gens = new java.io.File(s"$state/bands").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(gens === Set("gen=0", "gen=1"))

    // replay with the same checkpoint: nothing new -> corpus unchanged
    DedupStream.dedupIngestAvailableNow(spark, src, state, threshold = 0.5)
    val replay = DedupStream.corpus(spark, state)
      .select("doc_id").as[Long].collect().toSet
    assert(replay === got)
  }

  test("dedup ingest micro-batch replay is idempotent (crash after state write)") {
    import spark.implicits._
    // foreachBatch is at-least-once: a batch can re-run AFTER its state
    // writes landed. The replay must re-clean against the PRIOR
    // generations only — meeting its own signatures would drop every doc
    // as a self-duplicate and empty the generation.
    val state = Files.createTempDirectory("graft_dstream_replay").toString + "/state"
    val b0 = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "a completely different document about distributed prefix sums ok yes"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"),
      (12L, "yet another unrelated subject entirely new tokens for this corpus"))
      .toDF("doc_id", "text")
    def ingest(df: org.apache.spark.sql.DataFrame, id: Long) =
      graft.streaming.DedupStream.ingestBatch(spark, df, id, state,
        "doc_id", "text", 3, 0.5, 32, 16)
    ingest(b0, 0L)
    ingest(b0, 0L) // replay of batch 0 with its own state already on disk
    ingest(b1, 1L)
    ingest(b1, 1L) // replay of batch 1 likewise
    val got = DedupStream.corpus(spark, state)
      .select("doc_id").as[Long].collect().toSet
    assert(got === Set(0L, 2L, 12L), s"replay corrupted the state: $got")
  }

  test("compactState folds dedup generations below the watermark; replay stays idempotent") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft_dstream_cmp").toString + "/state"
    def ingest(df: org.apache.spark.sql.DataFrame, id: Long) =
      DedupStream.ingestBatch(spark, df, id, state, "doc_id", "text", 3, 0.5, 32, 16)
    ingest(Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "a completely different document about distributed prefix sums ok yes"))
      .toDF("doc_id", "text"), 0L)
    ingest(Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"),
      (12L, "yet another unrelated subject entirely new tokens for this corpus"))
      .toDF("doc_id", "text"), 1L)
    val b2 = Seq(
      (20L, "fresh third batch material with an original topic of its own kind"),
      (22L, "a completely different document about distributed prefix sums ok yes"))
      .toDF("doc_id", "text")
    ingest(b2, 2L)
    def ids = DedupStream.corpus(spark, state)
      .select("doc_id").as[Long].collect().toSet
    val before = ids
    assert(before === Set(0L, 2L, 12L, 20L))

    // fold generations 0 and 1 (committed watermark = 2): the manifest
    // flips to [c0, 2]; the folded directories survive one cycle for
    // readers that resolved the old manifest
    DedupStream.compactState(spark, state, uptoBatch = 2L)
    assert(graft.operators.Generations.live(spark, state) === Seq("c0", "2"))
    def gens(surface: String) = new java.io.File(s"$state/$surface").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(gens("corpus") === Set("gen=0", "gen=1", "gen=2", "gen=c0"))
    assert(ids === before, "compaction must not change the corpus")

    // batch 2 is still replayable: own-generation exclusion reads the c0
    // fold (batches < 2) and its overwrite target is untouched
    ingest(b2, 2L)
    assert(ids === before, "replay after compaction corrupted the state")

    // and the stream keeps ingesting normally on top of the compacted state
    ingest(Seq((30L, "post compaction growth keeps flowing through the band index fine"))
      .toDF("doc_id", "text"), 3L)
    assert(ids === before + 30L)

    // the next compaction sweeps the lapsed generations (and any orphan of
    // a crashed fold) and folds c0 + batches < 4 into c1
    val stray = new java.io.File(s"$state/bands/gen=c9")
    assert(stray.mkdirs())
    DedupStream.compactState(spark, state, uptoBatch = 4L)
    assert(!stray.exists(), "an uncommitted partial fold must be swept")
    assert(graft.operators.Generations.live(spark, state) === Seq("c1"))
    assert(ids === before + 30L)
  }

  test("streaming CDC ingest maintains the SCD2 store exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("graft_cdc_src").toString
    val store = Files.createTempDirectory("graft_cdc").toString + "/store"
    def evDf(rows: (Long, Long, String, Long)*) =
      rows.toSeq.toDF("user_id", "event_id", "event_type", "ms")
        .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    def writeOne(df: org.apache.spark.sql.DataFrame, dest: String, mtime: Long): Unit = {
      val tmp = Files.createTempDirectory("graft_cdc_w").toString + "/o"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, java.nio.file.Path.of(dest))
      new java.io.File(dest).setLastModified(mtime)
    }
    val b0 = evDf((1L, 1L, "a", 1000L), (2L, 1L, "x", 1000L))
    val b1 = evDf((1L, 2L, "b", 500L), (3L, 1L, "p", 2000L)) // late event for user 1
    val b2 = evDf((2L, 2L, "y", 3000L))
    graft.operators.History.scd2Build(b0, "user_id", "event_type", "ts",
      "event_id", store, nBuckets = 4)
    writeOne(b1, s"$src/f1.parquet", 1000000L)
    writeOne(b2, s"$src/f2.parquet", 2000000L)
    graft.streaming.StoreStream.drainAvailableNow(spark, src, store) {
      (b, _) => graft.operators.History.scd2ApplyOrReplay(spark, store, b,
        "user_id", "event_type", "ts", "event_id")
    }
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("version"), col("event_type"),
        unix_millis(col("valid_from")), unix_millis(col("valid_to")),
        col("n_events"), col("is_current")).collect().map(_.toSeq).toSet
    val got = canon(graft.operators.History.scd2Read(spark, store))
    val want = canon(graft.operators.History.scd2(
      b0.unionByName(b1).unionByName(b2),
      "user_id", "event_type", "ts", "event_id"))
    assert(got === want, "streamed store must equal the batch rebuild")
    // replay with the same checkpoint: nothing new, store unchanged
    graft.streaming.StoreStream.drainAvailableNow(spark, src, store) {
      (b, _) => graft.operators.History.scd2ApplyOrReplay(spark, store, b,
        "user_id", "event_type", "ts", "event_id")
    }
    assert(canon(graft.operators.History.scd2Read(spark, store)) === got)
  }

  test("streaming cluster ingest maintains the dup-cluster store exactly-once") {
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("graft_ccstream_src").toString
    val store = Files.createTempDirectory("graft_ccstream").toString + "/store"
    def writeOne(df: org.apache.spark.sql.DataFrame, dest: String, mtime: Long): Unit = {
      val tmp = Files.createTempDirectory("graft_ccstream_w").toString + "/o"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, java.nio.file.Path.of(dest))
      new java.io.File(dest).setLastModified(mtime)
    }
    val docs = Tables.documents(spark, TestSpark.sf0001)
    graft.operators.ClusterStore.ccBuild(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", store)
    writeOne(docs.filter(col("doc_id") % 3 === 1), s"$src/f1.parquet", 1000000L)
    writeOne(docs.filter(col("doc_id") % 3 === 2), s"$src/f2.parquet", 2000000L)
    graft.streaming.StoreStream.drainAvailableNow(spark, src, store) {
      (b, _) => graft.operators.ClusterStore.ccApplyOrReplay(spark, store, b,
        "doc_id", "text")
    }
    def canon() = graft.operators.ClusterStore.ccRead(spark, store)
      .select("id", "cluster_id").collect().map(_.toSeq).toSet
    val got = canon()
    val want = graft.operators.Components.connectedComponents(
      docs.select(col("doc_id").as("id")),
      graft.operators.Components.fingerprintEdges(docs, "doc_id", "text"))
      .select("id", "cluster_id").collect().map(_.toSeq).toSet
    assert(got === want, "streamed store must equal the batch clustering")
    // replay with the same checkpoint: nothing new, store unchanged
    graft.streaming.StoreStream.drainAvailableNow(spark, src, store) {
      (b, _) => graft.operators.ClusterStore.ccApplyOrReplay(spark, store, b,
        "doc_id", "text")
    }
    assert(canon() === got)
  }

  test("streaming index ingest maintains the inverted-index store exactly-once") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_istream_src").toString
    val dir = Files.createTempDirectory("graft_istream").toString + "/idx"
    def writeOne(df: org.apache.spark.sql.DataFrame, dest: String, mtime: Long): Unit = {
      val tmp = Files.createTempDirectory("graft_istream_w").toString + "/o"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, java.nio.file.Path.of(dest))
      new java.io.File(dest).setLastModified(mtime)
    }
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val seed = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 0)
    val b1 = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 1)
    val b2 = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 2)
    graft.operators.Indexing.indexBuild(seed, "doc_id", "text", dir, nShards = 4)
    writeOne(b1, s"$src/f1.parquet", 1000000L)
    writeOne(b2, s"$src/f2.parquet", 2000000L)
    graft.streaming.IndexStream.indexIngestAvailableNow(spark, src, dir)
    val got = graft.operators.Indexing.indexStats(spark, dir, minDf = 5L)
      .orderBy("token").collect().toSeq
    val want = graft.operators.Indexing.invertedIndex(docs, "doc_id", "text",
      minDf = 5L).orderBy("token").collect().toSeq
    assert(got === want, "streamed index must equal the batch rebuild")
    // the stream generations landed under their batch ids
    val gens = new java.io.File(s"$dir/postings").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(gens === Set("gen=g0", "gen=b0", "gen=b1"))
    // replay with the same checkpoint: nothing new, store unchanged
    graft.streaming.IndexStream.indexIngestAvailableNow(spark, src, dir)
    val replay = graft.operators.Indexing.indexStats(spark, dir, minDf = 5L)
      .orderBy("token").collect().toSeq
    assert(replay === got)
  }

  test("streaming vector ingest maintains the ANN store exactly-once") {
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("graft_vstream_src").toString
    val dir = Files.createTempDirectory("graft_vstream").toString + "/store"
    def writeOne(df: org.apache.spark.sql.DataFrame, dest: String, mtime: Long): Unit = {
      val tmp = Files.createTempDirectory("graft_vstream_w").toString + "/o"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, java.nio.file.Path.of(dest))
      new java.io.File(dest).setLastModified(mtime)
    }
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val seed = emb.filter(col("vec_id") % 3 === 0)
    graft.operators.VectorStore.annBuild(seed, "vec_id", "embedding", dir,
      nCells = 16)
    writeOne(emb.filter(col("vec_id") % 3 === 1), s"$src/f1.parquet", 1000000L)
    writeOne(emb.filter(col("vec_id") % 3 === 2), s"$src/f2.parquet", 2000000L)
    graft.streaming.StoreStream.drainAvailableNow(spark, src, dir) {
      (b, id) => graft.operators.VectorStore.annAppendOrReplay(spark, b,
        "vec_id", "embedding", dir, s"b$id")
    }
    def results() = graft.operators.VectorStore.annSearch(spark,
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", dir,
      k = 10, nProbe = 4).orderBy("query_id", "rank")
      .collect().map(_.toString).toSeq
    val got = results()
    // same quantizer batch, whole corpus in one batch append: must agree
    val ref = Files.createTempDirectory("graft_vstream_ref").toString + "/store"
    graft.operators.VectorStore.annBuild(seed, "vec_id", "embedding", ref,
      nCells = 16)
    graft.operators.VectorStore.annAppend(spark, emb.filter(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", ref)
    val want = graft.operators.VectorStore.annSearch(spark,
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", ref,
      k = 10, nProbe = 4).orderBy("query_id", "rank")
      .collect().map(_.toString).toSeq
    assert(got === want, "streamed ANN store must equal the batch-built store")
    val gens = new java.io.File(s"$dir/cells").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(gens === Set("gen=g0", "gen=b0", "gen=b1"))
    // replay with the same checkpoint: nothing new, store unchanged
    graft.streaming.StoreStream.drainAvailableNow(spark, src, dir) {
      (b, id) => graft.operators.VectorStore.annAppendOrReplay(spark, b,
        "vec_id", "embedding", dir, s"b$id")
    }
    assert(results() === got)
  }

  test("streaming hourly rollup == batch hourly rollup (exactly-once)") {
    val streamed = EventStream.hourlyRollupAvailableNow(spark, TestSpark.sf0001)
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q27_events_hourly")(spark, TestSpark.sf0001)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  test("stream-stream interval join == batch interval join") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.clickPurchaseFunnelAvailableNow(spark, TestSpark.sf0001)
      .collect().map(_.toSeq).toSet
    val ev = Tables.events(spark, TestSpark.sf0001)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    val batch = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("interval 30 minutes"))
      .select(col("user_id"), unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"), col("purchase_value"))
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("routedIngest is exactly-once across restarts (checkpoint)") {
    val out = Files.createTempDirectory("graft_ingest").toString
    EventStream.routedIngest(spark, TestSpark.sf0001, out)
    val n1 = spark.read.parquet(out).count()
    // rerun with the same checkpoint: no new input -> no new rows
    EventStream.routedIngest(spark, TestSpark.sf0001, out)
    val n2 = spark.read.parquet(out).count()
    assert(n1 === Tables.events(spark, TestSpark.sf0001).count())
    assert(n2 === n1)
    // routing column materialized as partition dirs
    val types = spark.read.parquet(out).select("event_type").distinct().count()
    assert(types === 5)
  }
}
