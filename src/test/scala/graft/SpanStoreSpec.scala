package graft

import graft.operators.{Dedup, Generations, SpanStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle laws for the persisted exact-substring (window-hash) store:
  * serving the store must be indistinguishable from recomputing
  * [[Dedup.duplicatedSpans]] over the full corpus — segmented, compacted,
  * or at a retained snapshot.
  */
class SpanStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_span").toString + "/store"

  // old corpus: two docs share a 9-token run (one maximal span); one doc
  // carries a run the BATCH will duplicate; one unique doc
  private lazy val oldDocs = Seq(
    (1L, "a1 a2 a3 a4 a5 a6 a7 a8 a9"),
    (2L, "a1 a2 a3 a4 a5 a6 a7 a8 a9"),
    (3L, "s1 s2 s3 s4 s5 s6 s7 s8 tail1 tail2"),
    (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
  ).toDF("doc_id", "text")

  // batch: doc 22 duplicates doc 3's run; doc 33 self-repeats; doc 44 is
  // novel (must report NOTHING even though the old corpus has dups)
  private lazy val batch = Seq(
    (22L, "pre1 s1 s2 s3 s4 s5 s6 s7 s8 post1"),
    (33L, "b1 b2 b3 b4 b5 b6 b7 b8 Z b1 b2 b3 b4 b5 b6 b7 b8"),
    (44L, "n1 n2 n3 n4 n5 n6 n7 n8 n9"),
  ).toDF("doc_id", "text")

  private def rows(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  private def fullRestricted(): Set[(Long, Long, Long, Long)] =
    rows(Dedup.duplicatedSpans(oldDocs.unionByName(batch), "doc_id", "text",
        windowN = 8)
      .filter(col("doc_id").isin(22L, 33L, 44L)))

  test("incremental == batch: spans vs the store equal the full-corpus " +
      "recompute restricted to the batch, across two segments") {
    val dir = tmp()
    SpanStore.spanStoreBuild(oldDocs.filter($"doc_id" <= 2), "doc_id", "text",
      dir, windowN = 8, nShards = 4)
    SpanStore.spanStoreAppend(oldDocs.filter($"doc_id" > 2), "doc_id", "text",
      dir)
    val served = rows(SpanStore.duplicatedSpansIncremental(spark, batch,
      "doc_id", "text", dir))
    assert(served === fullRestricted())
    // and the law is not vacuous: the cross-store dup and the self-repeat
    // both report, the novel doc stays silent
    assert(served.exists(_._1 == 22L))
    assert(served.count(_._1 == 33L) === 2)
    assert(!served.exists(_._1 == 44L))
  }

  test("append-only contract: re-ingesting a doc id fails fast") {
    val dir = tmp()
    SpanStore.spanStoreBuild(oldDocs, "doc_id", "text", dir,
      windowN = 8, nShards = 4)
    val e = intercept[IllegalArgumentException] {
      SpanStore.spanStoreAppend(oldDocs.filter($"doc_id" === 1), "doc_id",
        "text", dir)
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("probing with already-stored ids fails fast (serve-before-ingest)") {
    val dir = tmp()
    SpanStore.spanStoreBuild(oldDocs, "doc_id", "text", dir,
      windowN = 8, nShards = 4)
    val e = intercept[IllegalArgumentException] {
      SpanStore.duplicatedSpansIncremental(spark,
        oldDocs.filter($"doc_id" === 1), "doc_id", "text", dir)
    }
    assert(e.getMessage.contains("self-match"))
  }

  test("compaction is serve-invariant and the pre-compaction snapshot " +
      "still answers") {
    val dir = tmp()
    SpanStore.spanStoreBuild(oldDocs.filter($"doc_id" <= 2), "doc_id", "text",
      dir, windowN = 8, nShards = 4)
    SpanStore.spanStoreAppend(oldDocs.filter($"doc_id" > 2), "doc_id", "text",
      dir)
    val before = rows(SpanStore.duplicatedSpansIncremental(spark, batch,
      "doc_id", "text", dir))
    SpanStore.spanStoreCompact(spark, dir)
    val after = rows(SpanStore.duplicatedSpansIncremental(spark, batch,
      "doc_id", "text", dir))
    assert(after === before)
    assert(after === fullRestricted())
    // time travel: the newest RETAINED snapshot predates the compaction
    // flip and must serve the identical (fold-by-read) answer
    val snap = Generations.snapshotIds(spark, dir).max
    val asOf = rows(SpanStore.duplicatedSpansIncremental(spark, batch,
      "doc_id", "text", dir, asOf = Some(snap)))
    assert(asOf === before)
  }

  test("replay-safe append converges: redelivery rewrites the same " +
      "generation; a different generation re-ingesting fails fast") {
    val dir = tmp()
    SpanStore.spanStoreBuild(oldDocs.filter($"doc_id" <= 2), "doc_id", "text",
      dir, windowN = 8, nShards = 4)
    val tail = oldDocs.filter($"doc_id" > 2)
    SpanStore.spanStoreAppendOrReplay(spark, tail, "doc_id", "text", dir, "b0")
    val once = rows(SpanStore.duplicatedSpansIncremental(spark, batch,
      "doc_id", "text", dir))
    assert(once === fullRestricted())
    // at-least-once redelivery of the SAME batch into the SAME generation
    // rewrites the directories in place — counts must not double
    SpanStore.spanStoreAppendOrReplay(spark, tail, "doc_id", "text", dir, "b0")
    assert(rows(SpanStore.duplicatedSpansIncremental(spark, batch,
      "doc_id", "text", dir)) === once)
    // the same ids arriving under a DIFFERENT generation is genuine
    // re-ingestion, not a replay
    val e = intercept[IllegalArgumentException] {
      SpanStore.spanStoreAppendOrReplay(spark, tail, "doc_id", "text", dir,
        "b1")
    }
    assert(e.getMessage.contains("DIFFERENT generation"))
    // the batch ("g<k>") and compaction ("c<n>") namespaces are fenced off
    for (reserved <- Seq("g3", "c0")) {
      val e2 = intercept[IllegalArgumentException] {
        SpanStore.spanStoreAppendOrReplay(spark, tail, "doc_id", "text", dir,
          reserved)
      }
      assert(e2.getMessage.contains("namespace"))
    }
  }

  test("streaming span ingest maintains the store exactly-once") {
    val srcDir =
      java.nio.file.Files.createTempDirectory("graft_spanstream_src").toString
    val dir = tmp()
    def writeOne(df: DataFrame, dest: String, mtime: Long): Unit = {
      val t = java.nio.file.Files.createTempDirectory("graft_spanstream_w")
        .toString + "/o"
      df.coalesce(1).write.parquet(t)
      val part = new java.io.File(t).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, java.nio.file.Path.of(dest))
      new java.io.File(dest).setLastModified(mtime)
    }
    SpanStore.spanStoreBuild(oldDocs.filter($"doc_id" <= 2), "doc_id", "text",
      dir, windowN = 8, nShards = 4)
    writeOne(oldDocs.filter($"doc_id" === 3), s"$srcDir/f1.parquet", 1000000L)
    writeOne(oldDocs.filter($"doc_id" === 4), s"$srcDir/f2.parquet", 2000000L)
    graft.streaming.StoreStream.drainAvailableNow(spark, srcDir, dir) {
      (b, id) => SpanStore.spanStoreAppendOrReplay(spark, b, "doc_id", "text",
        dir, s"b$id")
    }
    val got = rows(SpanStore.duplicatedSpansIncremental(spark, batch,
      "doc_id", "text", dir))
    assert(got === fullRestricted(),
      "streamed store must equal the batch recompute")
    // re-running with the same checkpoint is a no-op
    graft.streaming.StoreStream.drainAvailableNow(spark, srcDir, dir) {
      (b, id) => SpanStore.spanStoreAppendOrReplay(spark, b, "doc_id", "text",
        dir, s"b$id")
    }
    assert(rows(SpanStore.duplicatedSpansIncremental(spark, batch,
      "doc_id", "text", dir)) === got)
  }

  test("in-shard ck ranges bound the window-count rows a probe reads") {
    // ONE shard: the probe's scan bound must come from the ck-range
    // pushdown over the ck-sorted wins file, not directory pruning
    val big = spark.range(0, 3000).select($"id".as("doc_id"),
      concat_ws(" ", (0 until 16).map(j =>
        concat(lit("w"), $"id" * 16 + lit(j))): _*).as("text"))
    val dir = tmp()
    SpanStore.spanStoreBuild(big, "doc_id", "text", dir,
      windowN = 8, nShards = 1)
    val total = spark.read.parquet(s"$dir/wins/gen=g0").count()
    // a fresh one-doc batch duplicating doc 7's text: its windows hit the
    // store, everything else's key ranges must be skipped at the reader
    val batch = big.filter($"doc_id" === 7)
      .select(lit(999999L).as("doc_id"), $"text")
    val probe = SpanStore.duplicatedSpansIncremental(spark, batch,
      "doc_id", "text", dir)
    assert(probe.collect().nonEmpty)
    val winScans = scans(probe.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "c"))
    assert(winScans.nonEmpty)
    val readRows = winScans.map(_.metrics("numOutputRows").value).max
    assert(readRows > 0 && readRows < total / 2,
      s"ck ranges must skip most of the $total-row single-shard wins store, read $readRows")
  }

  private def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
}
