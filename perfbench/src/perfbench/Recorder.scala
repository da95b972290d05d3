package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `kind` is "serve" for a user-visible read
  * (dashboard request, served index read, suite query) and "work" for
  * everything else; `key` names what a later output check verifies, so a
  * failed check can mark exactly the ops it covers. */
final class Op(val pass: Int, val span: String, val kind: String,
    val key: String, val ms: Double, @volatile var ok: Boolean,
    @volatile var err: String)

/** One span instance: a layer call (or a phase inside one) opened by the
  * benchmark. Jobs carry the innermost open span's id in the Spark local
  * property [[Recorder.SpanProp]]; local properties are inheritable, so
  * jobs that Spark submits from its own threads (stream execution,
  * broadcast and subquery pools) carry it too. */
final class Span(val id: Long, val name: String, val parent: Long,
    val pass: Int, val startMs: Double) {
  @volatile var endMs: Double = 0.0
}

/** Per-job record built by [[JobListener]]. */
final class JobRec(val spanId: Long, val startMs: Long) {
  @volatile var endMs: Long = -1L
}

/** Summed task metrics of one stage. */
final class StageAgg {
  var runMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
}

/** Attributes Spark jobs and their tasks to benchmark spans. Registered
  * for traced passes only. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  /** Stage → the first job that listed it: the one that runs its tasks
    * (later jobs reuse its shuffle output and skip it). */
  val stageOwner = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Recorder.SpanProp))).map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobRec(span, e.time))
    e.stageIds.foreach(stageOwner.putIfAbsent(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.runMs += m.executorRunTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }
  }
}

/** Records ops and spans. Timing uses `System.nanoTime`; span
  * bounds are converted to the listener's epoch-millisecond clock so job
  * intervals and span intervals can be intersected. */
final class Recorder {
  import Recorder._
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  @volatile var pass: Int = -1
  /** Whether the current pass records spans (traced runs alternate). */
  @volatile var spanning: Boolean = false
  val listener = new JobListener

  /** Run `body` as span `name` (child of the calling thread's open span). */
  def span[T](sc: SparkContext, name: String)(body: => T): T = {
    if (!spanning) return body
    val parent = Option(sc.getLocalProperty(SpanProp)).map(_.toLong).getOrElse(0L)
    val s = new Span(nextId.getAndIncrement(), name, parent, pass, nowMs)
    spans.add(s)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      sc.setLocalProperty(SpanProp, if (parent == 0L) null else parent.toString)
    }
  }

  /** Time one layer call. A throw is recorded as a failed op and never
    * escapes; the caller gets `None`. */
  def op[T](sc: SparkContext, name: String, kind: String = "work",
      key: String = "")(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = try Right(span(sc, name)(body)) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    r match {
      case Right(v) =>
        ops.add(new Op(pass, name, kind, key, ms, true, null)); Some(v)
      case Left(e) =>
        System.err.println(s"[perfbench] $name${if (key.isEmpty) "" else s" ($key)"} " +
          s"failed: $e")
        ops.add(new Op(pass, name, kind, key, ms, false, String.valueOf(e))); None
    }
  }

  /** Mark the ops an output check covers as failed. */
  def failWhere(covers: Op => Boolean, why: String): Unit = {
    System.err.println(s"[perfbench] check failed: $why")
    ops.asScala.filter(covers).foreach { o => o.ok = false; o.err = s"check: $why" }
  }

  /** Per-span-instance trace rows of one pass: wall, self (wall minus the
    * union of child spans), jobs, task seconds and driver gap (wall minus
    * the union of its own jobs' intervals). Call after the listener bus
    * drained. */
  def spanRows(p: Int): Seq[Map[String, Any]] = {
    val mine = spans.asScala.filter(_.pass == p).toSeq
    val byParent = mine.groupBy(_.parent)
    val jobsBySpan = listener.jobs.asScala.toSeq.groupBy(_._2.spanId)
    val stagesByJob = listener.stageOwner.asScala.toSeq.groupBy(_._2)
    mine.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      val own = jobsBySpan.getOrElse(s.id, Nil)
      val ivs = own.map { case (_, j) => (j.startMs.toDouble, math.max(j.endMs, j.startMs).toDouble) }
      val st = own.flatMap { case (id, _) => stagesByJob.getOrElse(id, Nil) }
        .flatMap { case (stage, _) => Option(listener.stages.get(stage)) }
      val wall = s.endMs - s.startMs
      Map("pass" -> p, "name" -> s.name, "top" -> (s.parent == 0L), "wall_ms" -> wall,
        "self_ms" -> (wall - covered(kids, s.startMs, s.endMs)),
        "gap_ms" -> (wall - covered(ivs, s.startMs, s.endMs)),
        "jobs" -> own.size,
        "task_ms" -> st.map(_.runMs).sum,
        "shuffle_bytes" -> st.map(_.shuffleBytes).sum,
        "spill_bytes" -> st.map(_.spillBytes).sum)
    }
  }
}

object Recorder {
  val SpanProp = "perfbench.span"

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0; var end = lo
    for ((a0, b0) <- ivs.sortBy(_._1)) {
      val a = math.max(a0, end); val b = math.min(b0, hi)
      if (b > a) { total += b - a; end = b }
    }
    total
  }
}
