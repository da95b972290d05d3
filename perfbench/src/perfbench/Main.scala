package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** A benchmark workload: set-up, one pass, and the output checks.
  * Everything a pass does is timed through [[Recorder.op]]; harness work
  * inside a pass (copying input files, fingerprinting results) runs inside
  * [[Ctx.untimed]] and is subtracted from the pass wall. Every pass,
  * the first included, does the same work. */
trait Workload {
  /** One set-up repetition, into the fresh directory `dir`. */
  def setup(spark: SparkSession, dir: String): Unit
  def pass(spark: SparkSession): Unit
  /** Untimed work after the last pass: reference results and the checks
    * against them, files the runner's checks read. */
  def finish(spark: SparkSession): Unit = ()
  /** Input bytes one pass consumes, for write amplification. */
  def inputBytes: Long
}

/** Run-wide context handed to workloads. */
final class Ctx(val root: String, val inputs: String, val seed: Long,
    val smoke: Boolean, val rec: Recorder) {
  private var untimedNs = 0L
  def resetUntimed(): Long = synchronized { val u = untimedNs; untimedNs = 0L; u }
  /** Harness work inside a pass, excluded from the pass wall. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally synchronized { untimedNs += System.nanoTime() - t0 }
  }

  /** Store state after each step of the current pass; recorded in traced
    * passes. */
  val storeSamples = scala.collection.mutable.ArrayBuffer[StoreState]()
  /** Bytes of files the current pass created, found by [[scanCreated]]. */
  var createdBytes = 0L
  private var seenFiles = Set.empty[String]

  def newPass(): Unit = { storeSamples.clear(); createdBytes = 0L; seenFiles = Set.empty }

  /** Walk `dir` and count the bytes of files not seen before in this pass. */
  def scanCreated(dir: String): Unit = untimed {
    for (f <- Fs.files(dir) if !seenFiles(f.toString)) {
      seenFiles += f.toString; createdBytes += Files.size(f)
    }
  }
}

/** The store after one step of a pass. */
final case class StoreState(step: String, liveGens: Int, files: Long, bytes: Long)

/** File-tree helpers. */
object Fs {
  def files(dir: String): Seq[Path] = {
    val p = Path.of(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  def bytes(dir: String): Long = files(dir).map(Files.size(_)).sum

  def copyTree(from: String, to: String): Unit = {
    val src = Path.of(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val t = Path.of(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def deleteTree(dir: String): Unit = {
    val p = Path.of(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}

object Main {
  def session(root: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$root/local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // per-pass JIT compilation time: a warm pass still compiles, and the
  // slow runs are the ones that compile most
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Progress to stderr, stamped with JVM uptime. */
  private def log(msg: String): Unit = System.err.println(
    f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s] $msg")

  def main(args: Array[String]): Unit = {
    log("start")
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = kv("root")
    val seconds = kv("seconds").toDouble
    val trace = kv("trace") == "1"
    val smoke = kv.get("smoke").contains("1")
    val rec = new Recorder
    val ctx = new Ctx(root, kv("inputs"), kv("seed").toLong, smoke, rec)
    val wl: Workload = kv("workload") match {
      case "weather_batch" => new WeatherBatch(ctx)
      case "corpus_store" => new CorpusStore(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, repeated in fresh sessions and directories; the last one's
    // state is what the passes use
    val setupReps = if (smoke) 1 else 3
    var spark: SparkSession = null
    val setupS = (1 to setupReps).map { i =>
      if (spark != null) {
        spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(root)
      wl.setup(spark, s"$root/setup$i")
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    log(s"set-up ${setupS.map(x => f"$x%.2f").mkString(" ")} s")

    // the cold pass, then warm passes for `seconds` of pass time: at least
    // one, and in a traced run at least one traced and one untraced
    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val minPasses = if (trace) 3 else 2
    var warmS = 0.0
    var p = 0
    while (p < minPasses || warmS < seconds) {
      rec.pass = p
      // traced runs trace the cold pass and every odd warm pass; the even
      // warm passes run untraced, which gives the tracing overhead
      rec.spanning = trace && (p == 0 || p % 2 == 1)
      // nothing a previous pass (or set-up) persisted serves this one
      spark.catalog.clearCache()
      if (rec.spanning) sc.addSparkListener(rec.listener)
      ctx.newPass()
      ctx.resetUntimed()
      val gc0 = gcMs
      val jit0 = jitMs
      val t0 = System.nanoTime()
      wl.pass(spark)
      val wall = (System.nanoTime() - t0 - ctx.resetUntimed()) / 1e9
      var row = Map[String, Any]("pass" -> p, "wall_s" -> wall, "gc_s" -> (gcMs - gc0) / 1e3,
        "jit_s" -> (jitMs - jit0) / 1e3, "traced" -> rec.spanning, "created_bytes" -> ctx.createdBytes,
        "input_bytes" -> wl.inputBytes)
      if (rec.spanning) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(rec.listener)
        row += "spans" -> rec.spanRows(p)
        if (ctx.storeSamples.nonEmpty) row += "store" -> ctx.storeSamples.toSeq.map(s =>
          Map("step" -> s.step, "live_gens" -> s.liveGens, "files" -> s.files, "bytes" -> s.bytes))
      }
      // housekeeping between passes, outside the timed region: the heap
      // figure is post-GC occupancy, and no pass inherits the previous
      // pass's garbage
      System.gc()
      row += "heap_mb" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      passes += row
      log(f"pass $p: $wall%.2f s timed")
      if (p > 0) warmS += wall
      p += 1
    }
    rec.pass = -1
    rec.spanning = false
    spark.catalog.clearCache()
    wl.finish(spark)
    log("finish")
    spark.stop()
    log("stop")

    val out = Map[String, Any](
      "setup_s" -> setupS,
      "passes" -> passes.toSeq,
      "ops" -> rec.ops.asScala.toSeq.map(o => Map("pass" -> o.pass, "span" -> o.span,
        "kind" -> o.kind, "key" -> o.key, "ms" -> o.ms, "ok" -> o.ok, "err" -> o.err)))
    Files.writeString(Path.of(root, "result.json"), Json(out))
    log("done")
  }
}

/** JSON for the result files (Scala maps and sequences). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
