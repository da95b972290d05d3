package graft

import graft.operators.{DsirStore, Generations, Sampling}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Laws for the persisted DSIR fit: scoring against a multi-generation
  * store equals the one-shot [[Sampling.dsirWeights]] recompute (bucket
  * counts of disjoint batches add), compaction folds to one generation
  * without changing scores, replayed named-generation appends converge,
  * the stored selection equals [[Sampling.dsirSelect]], the serving plan
  * broadcasts the weight table, and a fit-unseen bucket scores the
  * smoothing floor instead of dropping its ngrams.
  */
class DsirStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Tables.documents(spark, TestSpark.sf0001)
  private def target = docs.filter(col("source") === "src0")

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_dsir").toString + "/store"

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("doc_id").collect().map(_.toString).toSeq

  /** A two-generation store fit on (target = src0, raw = full corpus). */
  private def buildSplit(dir: String): Unit = {
    DsirStore.dsirBuild(target, docs.filter(col("doc_id") % 2 === 0),
      "text", dir, nBuckets = 256)
    DsirStore.dsirAppend(spark, docs.filter(col("doc_id") % 2 =!= 0),
      "text", dir, DsirStore.SideRaw)
  }

  test("two-generation fit scores exactly like the one-shot recompute") {
    val dir = tmp()
    buildSplit(dir)
    val served = DsirStore.dsirScore(spark, docs, "doc_id", "text", dir)
    val recomputed = Sampling.dsirWeights(docs, target, "doc_id", "text",
      nBuckets = 256, alpha = 1.0)
    assert(canon(served) === canon(recomputed))
    assert(Generations.live(spark, dir).size === 2)
  }

  test("target-side appends fold too: split target fit equals one-shot") {
    val dir = tmp()
    DsirStore.dsirBuild(target.filter(col("doc_id") % 3 === 0), docs,
      "text", dir, nBuckets = 128)
    DsirStore.dsirAppend(spark, target.filter(col("doc_id") % 3 =!= 0),
      "text", dir, DsirStore.SideTarget)
    val served = DsirStore.dsirScore(spark, docs, "doc_id", "text", dir)
    assert(canon(served) === canon(Sampling.dsirWeights(docs, target,
      "doc_id", "text", nBuckets = 128, alpha = 1.0)))
  }

  test("compaction folds to one generation without changing a score") {
    val dir = tmp()
    buildSplit(dir)
    val before = canon(DsirStore.dsirScore(spark, docs, "doc_id", "text", dir))
    DsirStore.dsirCompact(spark, dir)
    assert(Generations.live(spark, dir) === Seq("c0"))
    assert(canon(DsirStore.dsirScore(spark, docs, "doc_id", "text", dir))
      === before)
    // compacting again is a no-op (lone c<n> early-returns)
    DsirStore.dsirCompact(spark, dir)
    assert(Generations.live(spark, dir) === Seq("c0"))
  }

  test("replayed named-generation append converges; unnamed namespace is fenced") {
    val dir = tmp()
    DsirStore.dsirBuild(target, docs.filter(col("doc_id") % 2 === 0),
      "text", dir, nBuckets = 256)
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
    DsirStore.dsirAppendOrReplay(spark, batch, "text", dir,
      DsirStore.SideRaw, "b7")
    val once = canon(DsirStore.dsirScore(spark, docs, "doc_id", "text", dir))
    // at-least-once redelivery: same gen name, same batch → same store
    DsirStore.dsirAppendOrReplay(spark, batch, "text", dir,
      DsirStore.SideRaw, "b7")
    assert(Generations.live(spark, dir).count(_ == "b7") === 1)
    assert(canon(DsirStore.dsirScore(spark, docs, "doc_id", "text", dir))
      === once)
    intercept[IllegalArgumentException] {
      DsirStore.dsirAppendOrReplay(spark, batch, "text", dir,
        DsirStore.SideRaw, "g3")
    }
    intercept[IllegalArgumentException] {
      DsirStore.dsirAppend(spark, batch, "text", dir, "neither")
    }
  }

  test("stored selection equals dsirSelect and plans as TakeOrdered") {
    val dir = tmp()
    buildSplit(dir)
    val sel = DsirStore.dsirSelectStored(spark, docs, "doc_id", "text",
      dir, k = 20)
    assert(canon(sel) === canon(Sampling.dsirSelect(docs, target, "doc_id",
      "text", k = 20, nBuckets = 256, alpha = 1.0)))
    val ps = sel.queryExecution.executedPlan.toString
    assert(ps.contains("TakeOrderedAndProject"),
      "stored selection must be a distributed top-k: " + ps.take(2000))
  }

  test("serving plan broadcasts the weight table; no cartesian over data") {
    val dir = tmp()
    buildSplit(dir)
    val ps = DsirStore.dsirScore(spark, docs.filter(col("doc_id") < 50),
      "doc_id", "text", dir).queryExecution.executedPlan.toString
    assert(ps.contains("BroadcastHashJoin"),
      "weight table must broadcast: " + ps.take(3000))
    assert(!ps.contains("CartesianProduct"),
      "no data-sized cartesian: " + ps.take(3000))
  }

  test("fit-unseen buckets score the smoothing floor, not a dropped ngram") {
    val dir = tmp()
    // tiny asymmetric fit (tt ≠ tr) so no bucket's log-ratio is zero
    DsirStore.dsirBuild(
      Seq((1L, "alpha beta")).toDF("doc_id", "text"),
      Seq((2L, "alpha beta alpha beta")).toDF("doc_id", "text"), "text",
      dir, nBuckets = 64)
    // a doc whose every ngram is fit-unseen: were the weight table inner
    // to the STORED buckets (instead of the full 0..nBuckets−1 domain),
    // its ngrams would all drop and the doc would vanish from the output
    val out = DsirStore.dsirScore(spark,
      Seq((9L, "zebra quokka xylophone")).toDF("doc_id", "text"),
      "doc_id", "text", dir).collect()
    assert(out.length === 1, "a fully fit-unseen doc must still score")
    // and an unseen ngram CONTRIBUTES (floor lr = ln(tr+αn) − ln(tt+αn)
    // ≠ 0 here): appending one must move a seen doc's score
    def scoreOf(text: String): Double =
      DsirStore.dsirScore(spark, Seq((9L, text)).toDF("doc_id", "text"),
        "doc_id", "text", dir).collect().head.getDouble(1)
    assert(scoreOf("alpha beta zebra") !== scoreOf("alpha beta"),
      "an unseen ngram must contribute the smoothing floor")
  }

  test("streaming ingest maintains the fit exactly-once (stream == batch)") {
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_dsirstream_src").toString
    val dir = tmp()
    def writeOne(df: org.apache.spark.sql.DataFrame, dest: String,
        mtime: Long): Unit = {
      val t = java.nio.file.Files.createTempDirectory("graft_dsirstream_w")
        .toString + "/o"
      df.coalesce(1).write.parquet(t)
      val part = new java.io.File(t).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, java.nio.file.Path.of(dest))
      new java.io.File(dest).setLastModified(mtime)
    }
    // fit starts from a third of the raw pool; the stream drains the rest
    DsirStore.dsirBuild(target, docs.filter(col("doc_id") % 3 === 0),
      "text", dir, nBuckets = 256)
    writeOne(docs.filter(col("doc_id") % 3 === 1), s"$srcDir/f1.parquet",
      1000000L)
    writeOne(docs.filter(col("doc_id") % 3 === 2), s"$srcDir/f2.parquet",
      2000000L)
    graft.streaming.StoreStream.drainAvailableNow(spark, srcDir, dir) {
      (b, id) => DsirStore.dsirAppendOrReplay(spark, b, "text", dir,
        DsirStore.SideRaw, s"b$id")
    }
    val got = canon(DsirStore.dsirScore(spark, docs, "doc_id", "text", dir))
    assert(got === canon(Sampling.dsirWeights(docs, target, "doc_id",
      "text", nBuckets = 256, alpha = 1.0)),
      "streamed fit must equal the one-shot recompute")
    assert(Generations.live(spark, dir).toSet === Set("g0", "b0", "b1"))
    // replay with the same checkpoint: nothing new, fit unchanged
    graft.streaming.StoreStream.drainAvailableNow(spark, srcDir, dir) {
      (b, id) => DsirStore.dsirAppendOrReplay(spark, b, "text", dir,
        DsirStore.SideRaw, s"b$id")
    }
    assert(canon(DsirStore.dsirScore(spark, docs, "doc_id", "text", dir))
      === got)
  }

  test("a store without the format stamp fails loudly at open") {
    val dir = tmp()
    buildSplit(dir)
    // simulate a foreign/older layout: meta without store_version
    Seq(Tuple1(256)).toDF("n_buckets")
      .write.mode("overwrite").parquet(s"$dir/meta")
    val e = intercept[IllegalArgumentException] {
      DsirStore.dsirScore(spark, docs, "doc_id", "text", dir)
    }
    assert(e.getMessage.contains("format version"))
  }
}
