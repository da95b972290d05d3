package graft

import graft.operators.{Generations, LanguageModel, LmStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Laws for the persisted bigram-LM store: scoring the ingested corpus
  * against a multi-generation register equals the one-shot self-scoring
  * recompute (counts of disjoint batches add), scoring a held-out set
  * equals train-then-score, compaction folds to one generation without
  * changing scores, replayed stream appends converge, re-ingestion fails
  * fast, and the count scans prune to the scored batch's shards.
  */
class LmStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Tables.documents(spark, TestSpark.sf0001)

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_lm").toString + "/store"

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("id").collect().map(_.toString).toSeq

  private def genDirs(dir: String, surface: String): Seq[String] = {
    val d = new java.io.File(s"$dir/$surface")
    if (!d.exists()) Nil
    else d.listFiles().toSeq.map(_.getName).filter(_.startsWith("gen="))
  }

  test("lmScore's register plan adapts to the batch: semi-join gate for serving, aggregate-then-join for corpora") {
    val dir = tmp()
    LmStore.lmBuild(docs, "doc_id", "text", dir, nShards = 8)
    // a fixed SERVING batch: the register scans must be gated by a
    // broadcast LEFT-SEMI against the batch's own keys BELOW the
    // groupBy — the aggregation and its shuffle stay batch-bound as the
    // register grows (the scale-probe lm_score term)
    val small = LmStore.lmScore(spark, docs.filter($"doc_id" < 20),
      "doc_id", "text", dir)
    val ps = small.queryExecution.executedPlan.toString
    assert(ps.contains("BroadcastHashJoin") && ps.contains("LeftSemi"),
      "serving batch must gate the register scan: " + ps.take(3000))
    // results identical to the recompute regardless of the plan chosen
    assert(canon(small) === canon(LanguageModel.bigramLogProb(docs,
      "doc_id", "text").join(docs.filter($"doc_id" < 20)
        .select($"doc_id".as("id")), Seq("id"), "left_semi")))
    // a CORPUS-scale batch (> 200k bigram occurrences): broadcasting its
    // key set would ship the register's own vocabulary — the plan must
    // fall back to aggregate-then-join with NO semi gate
    val bigDoc = Seq((1L, (0 to 200001).map(i => "t" + (i % 50))
      .mkString(" "))).toDF("doc_id", "text")
    val pb = LmStore.lmScore(spark, bigDoc, "doc_id", "text", dir)
      .queryExecution.executedPlan.toString
    assert(!pb.contains("LeftSemi"),
      "corpus-scale batch must not broadcast its key set: " + pb.take(3000))
  }

  test("two-generation register scores the corpus exactly like the recompute") {
    val dir = tmp()
    LmStore.lmBuild(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", dir,
      nShards = 8)
    LmStore.lmAppend(spark, docs.filter($"doc_id" % 2 =!= 0), "doc_id",
      "text", dir)
    val served = canon(LmStore.lmScore(spark, docs, "doc_id", "text", dir))
    val recomputed = canon(LanguageModel.bigramLogProb(docs, "doc_id", "text"))
    assert(served === recomputed)
  }

  test("appends land as FLAT segments; compaction folds them back to shard dirs") {
    val dir = tmp()
    LmStore.lmBuild(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", dir,
      nShards = 8)
    LmStore.lmAppend(spark, docs.filter($"doc_id" % 2 =!= 0), "doc_id",
      "text", dir)
    def names(sub: String, gen: String): Seq[String] = {
      val d = new java.io.File(s"$dir/$sub/gen=$gen")
      if (d.exists()) d.listFiles().toSeq.map(_.getName) else Nil
    }
    assert(names("bigrams", "g0").exists(_.startsWith("shard=")),
      "build generation must be shard-partitioned")
    for ((sub, pc) <- Seq("bigrams" -> "shard", "unigrams" -> "shard",
        "tokens" -> "shard", "docreg" -> "bucket")) {
      val g1 = names(sub, "g1")
      assert(g1.nonEmpty && !g1.exists(_.startsWith(pc + "=")),
        s"$sub append must be a flat segment, found ${g1.mkString(",")}")
      assert(g1.count(_.endsWith(".parquet")) <= 4,
        s"$sub segment file count must track the batch")
    }
    val served = canon(LmStore.lmScore(spark, docs, "doc_id", "text", dir))
    LmStore.lmCompact(spark, dir)
    assert(names("bigrams", "c0").exists(_.startsWith("shard=")),
      "compaction must fold segments back into shard dirs")
    assert(canon(LmStore.lmScore(spark, docs, "doc_id", "text", dir))
      === served)
  }

  test("held-out scoring equals train-then-score (unseen bigrams floored)") {
    val dir = tmp()
    val train = docs.filter($"doc_id" % 3 =!= 0)
    val heldOut = docs.filter($"doc_id" % 3 === 0)
    LmStore.lmBuild(train, "doc_id", "text", dir, nShards = 8)
    val served = canon(LmStore.lmScore(spark, heldOut, "doc_id", "text", dir))
    val against = canon(LanguageModel.bigramLogProbAgainst(train, heldOut,
      "doc_id", "text"))
    assert(served === against)
  }

  test("compaction folds to one generation without changing scores") {
    val dir = tmp()
    LmStore.lmBuild(docs.filter($"doc_id" % 3 === 0), "doc_id", "text", dir,
      nShards = 8)
    LmStore.lmAppend(spark, docs.filter($"doc_id" % 3 === 1), "doc_id",
      "text", dir)
    LmStore.lmAppend(spark, docs.filter($"doc_id" % 3 === 2), "doc_id",
      "text", dir)
    val before = canon(LmStore.lmScore(spark, docs, "doc_id", "text", dir))
    // concurrent-reader grace: a plan resolved against the pre-compaction
    // manifest must still collect correctly after the flip
    val resolvedBefore = LmStore.lmScore(spark, docs, "doc_id", "text", dir)
    LmStore.lmCompact(spark, dir)
    assert(Generations.live(spark, dir) === Seq("c0"))
    for (s <- Seq("bigrams", "unigrams", "tokens", "docreg", "vstat"))
      assert(genDirs(dir, s).size === 4, s"$s: folded gens must survive one cycle")
    assert(canon(LmStore.lmScore(spark, docs, "doc_id", "text", dir)) === before)
    assert(canon(resolvedBefore) === before,
      "a reader holding the old manifest must survive the compaction")

    // a stray partial fold (crashed compaction) is referenced by nothing
    // and swept by the next cycle; the committed-then-folded generations
    // stay as long as a retained SNAPSHOT manifest references them — the
    // tunable reader-grace window (rotation-and-reclaim law: IndexingSpec;
    // time travel: StoreLifecycleSpec)
    val stray = new java.io.File(s"$dir/bigrams/gen=c1")
    assert(stray.mkdirs())
    LmStore.lmCompact(spark, dir)
    assert(!stray.exists(), "an uncommitted partial fold must be swept")
    for (s <- Seq("bigrams", "unigrams", "tokens", "docreg", "vstat"))
      assert(genDirs(dir, s).size === 4,
        s"$s: snapshot-referenced gens must survive")
    assert(canon(LmStore.lmScore(spark, docs, "doc_id", "text", dir)) === before)
  }

  test("keepGens passes the kept generation through untouched") {
    val dir = tmp()
    LmStore.lmBuild(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", dir,
      nShards = 8)
    LmStore.lmAppendOrReplay(spark, docs.filter($"doc_id" % 2 =!= 0),
      "doc_id", "text", dir, gen = "b5")
    val before = canon(LmStore.lmScore(spark, docs, "doc_id", "text", dir))
    LmStore.lmCompact(spark, dir, keepGens = Set("b5"))
    assert(Generations.live(spark, dir).toSet === Set("c0", "b5"))
    assert(canon(LmStore.lmScore(spark, docs, "doc_id", "text", dir)) === before)
    // the kept generation's overwrite target still exists: replay converges
    LmStore.lmAppendOrReplay(spark, docs.filter($"doc_id" % 2 =!= 0),
      "doc_id", "text", dir, gen = "b5")
    assert(canon(LmStore.lmScore(spark, docs, "doc_id", "text", dir)) === before)
  }

  test("vstat sums per-generation novelty to the true vocab count") {
    val dir = tmp()
    LmStore.lmBuild(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", dir,
      nShards = 8)
    LmStore.lmAppend(spark, docs.filter($"doc_id" % 2 =!= 0), "doc_id",
      "text", dir)
    val served = spark.read.parquet(s"$dir/vstat")
      .agg(sum(col("v"))).head().getLong(0)
    val truth = docs.select(explode(split($"text", "\\s+")).as("w"))
      .agg(countDistinct($"w")).head().getLong(0)
    assert(served === truth,
      "a token must be counted exactly once, at the generation that " +
        "introduced it")
    // at most nShards rows per generation — scoring's V read is
    // O(generations x shards), never vocab-sized
    assert(spark.read.parquet(s"$dir/vstat").count() <= 16L)
  }

  test("append guards and novelty read only the batch's buckets/shards") {
    val dir = tmp()
    LmStore.lmBuild(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", dir,
      nShards = 8)
    // a one-doc batch: its id hashes to one docreg bucket; its tokens
    // probe a few token shards
    val batch = Seq((999999L, "graftnoveltoken alpha")).toDF("doc_id", "text")
    val idBuckets = batch
      .select(pmod(xxhash64($"doc_id".cast("string")), lit(8L)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val tokShards = batch
      .select(explode(split($"text", "\\s+")).as("w"))
      .select(pmod(xxhash64($"w"), lit(8L)).cast("int").as("s"))
      .distinct().collect().map(_.getInt(0)).toSet
    // corrupt every docreg bucket and token shard the batch does NOT
    // touch: if the guard or the novelty check scanned them, the append
    // would die on unreadable parquet
    def corrupt(d: java.io.File): Unit =
      d.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.write(f.toPath, "not parquet".getBytes)
      }
    for (b <- 0 until 8 if !idBuckets(b)) {
      val d = new java.io.File(s"$dir/docreg/gen=g0/bucket=$b")
      if (d.exists()) corrupt(d)
    }
    for (s <- 0 until 8 if !tokShards(s)) {
      val d = new java.io.File(s"$dir/tokens/gen=g0/shard=$s")
      if (d.exists()) corrupt(d)
    }
    LmStore.lmAppend(spark, batch, "doc_id", "text", dir)
    // the novel token landed in vstat exactly once
    val v = spark.read.parquet(s"$dir/vstat")
      .filter(col("gen") === "g1").agg(sum(col("v"))).head()
    assert(!v.isNullAt(0) && v.getLong(0) >= 1L)
  }

  test("append-only guard and namespace collisions fail fast") {
    val dir = tmp()
    LmStore.lmBuild(docs.filter($"doc_id" < 50), "doc_id", "text", dir,
      nShards = 4)
    val e1 = intercept[IllegalArgumentException] {
      LmStore.lmAppend(spark, docs.filter($"doc_id" < 10), "doc_id", "text", dir)
    }
    assert(e1.getMessage.contains("append-only"))
    val e2 = intercept[IllegalArgumentException] {
      LmStore.lmAppendOrReplay(spark, docs.filter($"doc_id" < 10), "doc_id",
        "text", dir, gen = "b0")
    }
    assert(e2.getMessage.contains("DIFFERENT generation"))
    intercept[IllegalArgumentException] {
      LmStore.lmAppendOrReplay(spark, docs.filter($"doc_id" >= 50), "doc_id",
        "text", dir, gen = "g3")
    }
    intercept[IllegalArgumentException] {
      LmStore.lmAppendOrReplay(spark, docs.filter($"doc_id" >= 50), "doc_id",
        "text", dir, gen = "c0")
    }
  }

  test("in-shard ck ranges bound the bigram rows a small batch reads") {
    val dir = tmp()
    // ONE shard, so directory pruning cannot help — the scan bound must
    // come from the in-file ck-range pushdown over the ck-sorted file
    // (64 KB pages): the reader's page column index skips key ranges the
    // batch never touches. Synthetic corpus: ~44k distinct bigrams so the
    // single shard file spans many pages.
    val corpus = spark.range(0, 4000).select($"id".as("doc_id"),
      concat_ws(" ", (0 until 12).map(j =>
        concat(lit("tok"), pmod($"id" * 12 + lit(j), lit(40000)))): _*)
        .as("text"))
    LmStore.lmBuild(corpus, "doc_id", "text", dir, nShards = 1)
    val total = spark.read.parquet(s"$dir/bigrams/gen=g0").count()
    val batch = Seq((999999L, "tok17 tok18 tok19 tok20")).toDF("doc_id", "text")
    val sc = LmStore.lmScore(spark, batch, "doc_id", "text", dir)
    // collect() (not count()) so the inspected queryExecution is the one
    // that actually ran and carries the scan metrics
    assert(sc.collect().length === 1)
    // the executed plan's bigram scan must have returned a small fraction
    // of the register: pages outside the batch's ck ranges were skipped
    // at the reader (without the pushed ranges this reads 100%)
    val bigramScans = scans(sc.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "w2"))
    assert(bigramScans.nonEmpty, sc.queryExecution.executedPlan.toString.take(3000))
    // max, not sum: the c12/c1 rollup pair can surface the same scan
    // subtree twice in the traversal
    val readRows = bigramScans.map(_.metrics("numOutputRows").value).max
    assert(readRows > 0 && readRows < total / 2,
      s"ck ranges must skip most of the $total-row single-shard register, read $readRows")
    // and the ranges are genuinely PUSHED, not a post-scan filter
    val meta = bigramScans.head.metadata.getOrElse("PushedFilters", "")
    assert(meta.contains("GreaterThanOrEqual(ck") || meta.contains("EqualTo(ck"),
      s"ck ranges missing from PushedFilters: $meta")
  }

  private def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }

  test("scoring scans only the scored batch's shards") {
    val dir = tmp()
    LmStore.lmBuild(docs, "doc_id", "text", dir, nShards = 16)
    // one two-token doc: exactly one bigram, one w1 → one probed shard
    val one = Seq((999999L, "alpha beta")).toDF("doc_id", "text")
    val sc = LmStore.lmScore(spark, one, "doc_id", "text", dir)
    assert(sc.count() === 1L)
    // the served plan is checkpointed; assert the probe bound structurally:
    // one distinct w1 can hash to at most one shard of the 16
    val probedBigrams = spark.read.parquet(s"$dir/bigrams")
      .filter(col("shard") === pmod(xxhash64(lit("alpha")), lit(16L)).cast("int"))
    assert(probedBigrams.count() < spark.read.parquet(s"$dir/bigrams").count())
  }

  test("streaming LM ingest maintains the register exactly-once") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_lmstream_src").toString
    val dir = tmp()
    def writeOne(df: org.apache.spark.sql.DataFrame, dest: String, mtime: Long): Unit = {
      val t = java.nio.file.Files.createTempDirectory("graft_lmstream_w").toString + "/o"
      df.coalesce(1).write.parquet(t)
      val part = new java.io.File(t).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, java.nio.file.Path.of(dest))
      new java.io.File(dest).setLastModified(mtime)
    }
    LmStore.lmBuild(docs.filter($"doc_id" % 3 === 0), "doc_id", "text", dir,
      nShards = 8)
    writeOne(docs.filter($"doc_id" % 3 === 1), s"$srcDir/f1.parquet", 1000000L)
    writeOne(docs.filter($"doc_id" % 3 === 2), s"$srcDir/f2.parquet", 2000000L)
    graft.streaming.StoreStream.drainAvailableNow(spark, srcDir, dir) {
      (b, id) => LmStore.lmAppendOrReplay(spark, b, "doc_id", "text", dir,
        s"b$id")
    }
    val got = canon(LmStore.lmScore(spark, docs, "doc_id", "text", dir))
    val want = canon(LanguageModel.bigramLogProb(docs, "doc_id", "text"))
    assert(got === want, "streamed register must equal the batch recompute")
    assert(genDirs(dir, "bigrams").toSet === Set("gen=g0", "gen=b0", "gen=b1"))
    // replay with the same checkpoint: nothing new, register unchanged
    graft.streaming.StoreStream.drainAvailableNow(spark, srcDir, dir) {
      (b, id) => LmStore.lmAppendOrReplay(spark, b, "doc_id", "text", dir,
        s"b$id")
    }
    assert(canon(LmStore.lmScore(spark, docs, "doc_id", "text", dir)) === got)
  }

  test("a pre-ck store (no layout_version in meta) fails loudly at open") {
    val dir = tmp()
    LmStore.lmBuild(docs, "doc_id", "text", dir, nShards = 8)
    // simulate a store built before the ck layout: meta without the
    // version stamp. Reads must fail LOUDLY — under the explicit surface
    // schemas such a store's generations read ck as null and the range
    // pushdown would silently drop every old row (and the append-only
    // guard would silently pass for already-ingested ids).
    Seq(8).toDF("n_shards").write.mode("overwrite").parquet(s"$dir/meta")
    val e = intercept[IllegalArgumentException] {
      LmStore.lmScore(spark, docs.limit(5), "doc_id", "text", dir).collect()
    }
    assert(e.getMessage.contains("no layout_version stamp"), e.getMessage)
    // and a FUTURE version is equally refused (forward compat is not
    // silently assumed)
    Seq((8, graft.functions.Pushdown.LayoutVersion + 1))
      .toDF("n_shards", "layout_version")
      .write.mode("overwrite").parquet(s"$dir/meta")
    val e2 = intercept[IllegalArgumentException] {
      LmStore.lmAppend(spark,
        docs.limit(3).select(($"doc_id" + 100000).as("doc_id"), $"text"),
        "doc_id", "text", dir)
    }
    assert(e2.getMessage.contains("layout_version"), e2.getMessage)
  }
}
