package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval: name, start, end, the span that caused it, and
  * the run it belongs to. Times are on the `System.nanoTime` axis. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are opened around the benchmark's
  * calls into each layer and written out once, when the run ends.
  * While a span is open its id rides on the Spark job-local property
  * [[Tracer.SpanProp]], so the stage listener can parent every Spark
  * stage under the call that submitted it. A disabled tracer runs the
  * body and records nothing. */
final class Tracer(val runId: String, enabled: Boolean, sc: SparkContext) {
  private val done = ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var nextId = 1
  /** Offset that maps epoch milliseconds (Spark's stage times) onto the
    * nanoTime axis the spans use. */
  private val epochToNanoNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val parent = open.headOption.getOrElse(0)
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      open = id :: open
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
        synchronized { done += Span(id, parent, name, t0, t1) }
      }
    }

  /** Records an interval measured elsewhere (a Spark stage) in epoch ms. */
  def addEpochMs(name: String, parent: Int, startMs: Long, endMs: Long): Unit =
    if (enabled) synchronized {
      val id = nextId; nextId += 1
      done += Span(id, parent, name,
        startMs * 1000000L + epochToNanoNs, endMs * 1000000L + epochToNanoNs)
    }

  def spans: Seq[Span] = synchronized(done.toSeq)

  /** Self time of `s`: its duration minus the part of its interval that
    * the union of its children's intervals covers. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    s.durNs - covered
  }

  /** Writes every span as one JSON line (with its self time). */
  def write(path: String): Unit = if (enabled) {
    val all = spans.sortBy(_.startNs)
    val kids = all.groupBy(_.parent)
    val sb = new StringBuilder
    all.foreach { s =>
      sb.append(s"""{"run":"${runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""")
        .append(s""""start_ns":${s.startNs},"end_ns":${s.endNs},""")
        .append(s""""self_ns":${selfNs(s, kids.getOrElse(s.id, Nil))}}""").append('\n')
    }
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, sb.toString.getBytes(UTF_8))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Task metrics of one completed stage, tagged with the span whose call
  * submitted it and the layer it belongs to. */
final case class StageRec(
    span: Int, layer: String,
    runMs: Long, cpuNs: Long, inputRecords: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, gcMs: Long,
    taskMs: Seq[Long]) {
  /** max / median task time — the skew trigger DS2 uses. */
  def skew: Double = {
    val s = taskMs.sorted
    if (s.isEmpty) 0.0
    else {
      val med = Stats.median(s.map(_.toDouble))
      if (med <= 0) 1.0 else s.last / med
    }
  }
}

/** Spark listener that aggregates `TaskMetrics` per stage of the jobs
  * submitted under a span (jobs that carry [[Tracer.SpanProp]]; an
  * untraced call sets none, so its stages are ignored). Each stage is assigned to a layer by the call site
  * of the action that ran it: the innermost `graft.` method and the Spark
  * API it called (`StageInfo.details`, or for stages that adaptive
  * execution submits from its own threads, the details of their SQL
  * execution), refined by the stage's shape where one call runs several
  * stages — never by line number. */
final class StageLedger(tracer: Tracer) extends SparkListener {
  private val recs = ArrayBuffer[StageRec]()
  private val jobsBySpan = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)
  private val stageSpan = scala.collection.mutable.Map[Int, Int]()
  private val stageExec = scala.collection.mutable.Map[Int, Long]()
  private val execDetails = scala.collection.mutable.Map[Long, String]()
  private val taskMs = scala.collection.mutable.Map[Int, ArrayBuffer[Long]]()

  private def prop(props: java.util.Properties, key: String): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(key)))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(execDetails(s.executionId) = s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    prop(e.properties, Tracer.SpanProp).map(_.toInt).foreach { sp =>
      val exec = prop(e.properties, "spark.sql.execution.id").map(_.toLong)
      jobsBySpan(sp) += 1
      e.stageIds.foreach { id =>
        stageSpan(id) = sp
        exec.foreach(stageExec(id) = _)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageSpan.contains(e.stageId) && e.taskInfo != null)
      taskMs.getOrElseUpdate(e.stageId, ArrayBuffer[Long]()) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageSpan.get(info.stageId).foreach { sp =>
      val m = info.taskMetrics
      val start = info.submissionTime.getOrElse(0L)
      val end = info.completionTime.getOrElse(start)
      val details = stageExec.get(info.stageId).flatMap(execDetails.get)
        .filter(d => StageLedger.site(d)._1.nonEmpty).getOrElse(info.details)
      val rec = StageRec(
        span = sp,
        layer = StageLedger.layerOf(StageLedger.site(details),
          hasInput = m.inputMetrics.recordsRead > 0,
          hasShuffleRead = m.shuffleReadMetrics.totalBytesRead > 0,
          hasShuffleWrite = m.shuffleWriteMetrics.bytesWritten > 0),
        runMs = m.executorRunTime, cpuNs = m.executorCpuTime,
        inputRecords = m.inputMetrics.recordsRead,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled, gcMs = m.jvmGCTime,
        taskMs = taskMs.remove(info.stageId).map(_.toSeq).getOrElse(Nil))
      recs += rec
      tracer.addEpochMs(s"stage.${rec.layer}", sp, start, end)
    }
  }

  /** Stages and job counts submitted under span `sp`, after draining
    * the listener bus. */
  def forSpan(sc: SparkContext, sp: Int): (Seq[StageRec], Int) = {
    org.apache.spark.BusDrain(sc)
    synchronized((recs.filter(_.span == sp).toSeq, jobsBySpan(sp)))
  }
}

object StageLedger {
  private val Frame = """^\s*(?:at\s+)?([A-Za-z0-9_.$]+)\.([A-Za-z0-9_$<>]+)\(.*""".r

  private def short(cls: String, meth: String): String =
    cls.split('.').last.stripSuffix("$") + "." + meth.stripPrefix("$anonfun$").takeWhile(_ != '$')

  /** (graft method, Spark API it called) of a long-form call site, as
    * ("ExtractJob.commitSnapshot", "DataFrameWriter.parquet"): the
    * innermost frame of a `graft.` class and the frame above it.
    * Anonymous-function frames resolve to their enclosing method.
    * ("", "") when no graft frame is on the stack. */
  def site(details: String): (String, String) = {
    val frames = details.split('\n').toSeq.map(_.trim).collect { case Frame(c, m) => (c, m) }
    val i = frames.indexWhere(_._1.startsWith("graft."))
    if (i < 0) ("", "")
    else (short(frames(i)._1, frames(i)._2),
      if (i == 0) "" else short(frames(i - 1)._1, frames(i - 1)._2))
  }

  /** Layer of one stage of `ExtractJob` (others map to their object's
    * name). Within the snapshot write: the stage that scans the pages
    * and runs the extraction writes the salted-host exchange; the stage
    * that reads the exchange writes the snapshot; a scan that feeds
    * neither is the resume anti-join reading committed urls. */
  def layerOf(site: (String, String), hasInput: Boolean, hasShuffleRead: Boolean,
              hasShuffleWrite: Boolean): String = site match {
    case ("ExtractJob.commitSnapshot", "DataFrameWriter.parquet") =>
      if (hasShuffleRead) "write"
      else if (hasInput && hasShuffleWrite) "scan_extract"
      else if (hasInput) "resume"
      else "write"
    case ("ExtractJob.commitSnapshot", _) => "lineage"
    case ("ExtractJob.writeArtifacts", _) => "artifacts"
    case ("ExtractJob.emitEvents", _) => "events"
    case ("ExtractJob.run", _) => "listing"
    case (m, _) if m.nonEmpty => m.takeWhile(_ != '.')
    case _ => "other"
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.toVector.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 90th percentile by nearest rank. */
  def p90(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    s(math.max(0, math.ceil(0.9 * s.length).toInt - 1))
  }
}
