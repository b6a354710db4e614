package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.job.GraftSession

/** Benchmark entry point, one workload per process:
  *
  *   perfbench.Main --workload fresh|increment|curate --seed N --seconds S
  *     --trace 0|1 --cores C --work DIR --spans DIR --golden FILE
  *     [--t0-ms EPOCH_MS] [--size full|tiny] [--corrupt flip-byte|drop-url]
  *
  * Set-up (inputs from the seed, base commits) runs `Sizes.rounds`
  * times, then a JIT warm-up; then the timed window runs the workload's
  * operation for S seconds, at least twice; then the outputs are
  * checked. The last stdout line is the result object. With `--trace 0`
  * it holds the end-to-end metrics; with `--trace 1` the per-layer
  * metrics of a traced run, in which traced and untraced operations
  * alternate so the tracing overhead is measured in the same process. */
object Main {
  final case class Sizes(rounds: Int, freshRows: Long, baseRows: Long, batchRows: Long,
                         warmBatches: Int, curateRows: Long, perHostCap: Int, kernelSample: Int)
  val Full = Sizes(3, 25000, 15000, 1000, 2, 4000, 20, 2000)
  val Tiny = Sizes(1, 600, 400, 100, 1, 600, 10, 200)

  val Units: Map[String, String] = Map(
    "setup_s" -> "s", "docs_per_s" -> "docs/s", "commit_s_p50" -> "s",
    "out_bytes_per_doc" -> "B/doc", "live_heap_mib" -> "MiB")

  def unitOf(metric: String): String = Units.getOrElse(metric, metric match {
    case m if m.contains("docs_per_s") => "docs/s"
    case m if m.endsWith("_us_per_doc") => "us/doc"
    case m if m.endsWith("_us_per_kib") => "us/KiB"
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_bytes") => "B"
    case m if m.endsWith("_per_doc") => "B/doc"
    case m if m.endsWith("_frac") || m.endsWith("_share") || m.endsWith("_skew") ||
              m.endsWith("_precision") => "ratio"
    case _ => "count"
  })

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val cores = arg("cores").toInt
    val work = arg("work")
    val t0Ms = a.get("t0-ms").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val sizes = if (a.getOrElse("size", "full") == "tiny") Tiny else Full
    val runId = s"$workload-s$seed-t${if (trace) 1 else 0}-${ProcessHandle.current().pid()}"

    val spark = GraftSession.local(cores.toString)
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1e3
    val tracer = new Tracer(runId, trace, sc)
    val ledger = new StageLedger(tracer)
    if (trace) sc.addSparkListener(ledger)
    val off = new Tracer(runId, false, sc)

    val w: Workload = workload match {
      case "fresh" => new Fresh(spark, seed, work, sizes.freshRows)
      case "increment" => new Increment(spark, seed, work, sizes.baseRows, sizes.batchRows, sizes.warmBatches)
      case "curate" => new Curate(spark, seed, work, sizes.curateRows, sizes.perHostCap)
      case other => sys.error(s"unknown workload $other")
    }

    // ---- set-up, repeated; the median round counts ----
    val roundS = (1 to sizes.rounds).map { r =>
      Workload.timed(tracer.span("setup.round")(w.setup(r)))._1
    }
    val (warmS, _) = Workload.timed(tracer.span("setup.warm_up")(w.warmUp()))
    val setupS = sessionS + Stats.median(roundS) + warmS

    // ---- timed window ----
    // the window starts from the live set, not from set-up's garbage
    System.gc()
    val gcs = new GcWatch
    val iters = ArrayBuffer[(Iter, Boolean, Int)]() // (result, traced, job span)
    var thrown = 0
    var attempts = 0
    val start = System.nanoTime()
    val windowStartMs = ManagementFactory.getRuntimeMXBean.getUptime
    def elapsed = (System.nanoTime() - start) / 1e9
    // whole operations, at least two, until `seconds` have passed
    while (elapsed < seconds || attempts < 2) {
      val traced = trace && attempts % 2 == 1
      try {
        val it = w.iteration(attempts, if (traced) tracer else off)
        val jobSpan = if (traced) tracer.spans.filter(_.name == "job.run").last.id else 0
        iters += ((it, traced, jobSpan))
      } catch {
        case e: Exception =>
          thrown += 1
          System.err.println(s"[perfbench] attempt $attempts threw: $e")
      }
      attempts += 1
      if (thrown > 3 && iters.isEmpty) sys.error("every timed attempt threw")
    }
    val windowS = elapsed
    val windowEndMs = ManagementFactory.getRuntimeMXBean.getUptime
    val heapAtEnd = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    // earlier rounds' copies are deleted only now: deletes just before
    // the window stall its first writes
    (1 until sizes.rounds).foreach(r => Workload.rm(s"$work/round-$r"))
    w.tidy()

    // ---- checks, outside the window ----
    a.get("corrupt").foreach(w.corrupt)
    val ck = new Checker(spark, arg("golden"))
    ck.attempted += attempts
    ck.failed += thrown
    val (checkS, _) = Workload.timed(tracer.span("checks")(w.check(ck)))
    // read after the checks, so the window's last GC notifications have arrived
    val windowGcs = gcs.between(windowStartMs, windowEndMs)
    gcs.close()
    val mib = (b: Double) => b / (1024.0 * 1024.0)
    val liveHeapMiB = mib(if (windowGcs.isEmpty) heapAtEnd else windowGcs.min)

    val ok = iters.map(_._1)
    val secs = ok.map(_.seconds)
    val docsPerS =
      if (workload == "increment") ok.map(_.docs).sum / secs.sum
      else Stats.median(ok.map(i => i.docs / i.seconds))
    val detail = ArrayBuffer[(String, Any)](
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "trace" -> trace,
      "failed_frac" -> Map("value" -> ck.failed.toDouble / ck.attempted, "unit" -> "ratio"),
      "commit_s_tail" -> Map("value" -> Stats.p90(secs), "unit" -> "s"),
      "commit_s_tail_percentile" -> 90, "samples" -> secs.size,
      "window_s" -> windowS, "session_s" -> sessionS, "setup_round_s" -> roundS, "warm_up_s" -> warmS, "check_s" -> checkS,
      "gcs_in_window" -> windowGcs.size,
      "heap_after_gc_max_mib" -> mib(if (windowGcs.isEmpty) heapAtEnd else windowGcs.max),
      "docs_per_op" -> ok.map(_.docs).distinct, "latencies_s" -> secs.toSeq, "check_failures" -> ck.notes.toSeq)

    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> setupS,
        "docs_per_s" -> docsPerS,
        "commit_s_p50" -> Stats.median(secs.toSeq),
        "out_bytes_per_doc" -> ok.map(_.outBytes).sum.toDouble / math.max(1L, ok.map(_.outDocs).sum),
        "live_heap_mib" -> liveHeapMiB)
      else {
        val (lo, hi) = w.extractedIdx
        val kernels = Kernels.run(Kernels.sample(seed, lo, hi, sizes.kernelSample), tracer)
        val extra = w.traceExtra(tracer)
        val perRun = ok.indices.filter(i => iters(i)._2).map { i =>
          val (it, _, sp) = iters(i)
          Layers.perRun(ledger.forSpan(sc, sp), tracer, sp, it, workload)
        }
        val layer = perRun.flatMap(_.keys).distinct.map(k => k -> Stats.median(perRun.map(_(k))))
        val kernelShare =
          if (workload == "curate") 0.0
          else kernels("core.extract_us_per_doc") * 1e-6 * Stats.median(ok.map(_.docs.toDouble)) /
            (cores * Stats.median(secs.toSeq))
        val dps = (t: Boolean) => Stats.median(ok.indices.filter(i => iters(i)._2 == t)
          .map(i => ok(i).docs / ok(i).seconds))
        val (tr, un) = (dps(true), dps(false))
        (Layers.Optional.map(_ -> 0.0).toMap ++ kernels ++ layer ++ extra ++ Map(
          "core.kernel_share" -> kernelShare,
          "trace.docs_per_s" -> tr, "trace.docs_per_s_untraced" -> un,
          "trace.overhead_frac" -> (1.0 - tr / un))).toSeq.sortBy(_._1)
      }
    tracer.write(s"${arg("spans")}/$runId.jsonl")
    spark.stop()

    println("""{"detail":""" + Json.render(detail.toSeq) + "}")
    val m = metrics.map { case (k, v) =>
      s""""$k":{"value":${Json.num(v)},"unit":"${unitOf(k)}"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":${ck.failed == 0},"attempted":${ck.attempted},"failed":${ck.failed},"metrics":$m}""")
  }
}

/** Records, for every garbage collection, when it started (JVM uptime
  * ms) and the heap used right after it: the live set plus what that
  * collection left for later ones. Unlike the pools' peak usage, it does
  * not follow how far G1 lets eden grow before it collects. */
final class GcWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val events = ArrayBuffer[(Long, Long)]() // (start uptime ms, heap used after)
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null); e
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      val after = gc.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed
      }.sum
      synchronized(events += ((gc.getStartTime, after)))
    }

  /** Heap used after each collection that started in [fromMs, toMs]. */
  def between(fromMs: Long, toMs: Long): Seq[Long] =
    synchronized(events.collect { case (t, u) if t >= fromMs && t <= toMs => u }.toSeq)

  def close(): Unit = emitters.foreach(_.removeNotificationListener(this))
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric is not a number: $v")
    java.math.BigDecimal.valueOf(v).toPlainString
  }
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def value(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else num(d)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => render(m.toSeq.map { case (k, x) => (k.toString, x) })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def render(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
