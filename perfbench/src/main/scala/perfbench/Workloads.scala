package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.job.{CurateJob, ExtractJob, SnapshotStore}

/** Outcome of one timed operation: its latency, the docs it processed,
  * and the bytes it added under its outRoot with the docs they hold. */
final case class Iter(seconds: Double, docs: Long, outBytes: Long, outDocs: Long)

/** A workload: a set-up that can be repeated, one timed operation, and
  * the output checks. The `span` tracer passed in wraps each call into a
  * layer (it records nothing in untraced operations). */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String) {
  /** Runs the complete set-up (inputs, base commits) into a directory of
    * its own; the timed operations use the last round's state. */
  def setup(round: Int): Unit
  /** JIT warm-up beyond what the set-up rounds already ran; runs once. */
  def warmUp(): Unit = ()
  /** One timed operation. */
  def iteration(i: Int, span: Tracer): Iter
  /** Output checks, run after the timed window. */
  def check(ck: Checker): Unit
  /** Damages the committed output (for the benchmark's own tests). */
  def corrupt(mode: String): Unit
  /** Index range [lo, hi) of the generated pages the timed jobs extract. */
  def extractedIdx: (Long, Long)
  /** Removes what the timed operations left behind except the output
    * the checks read; runs after the window. */
  def tidy(): Unit = ()
  /** Layer metrics that need direct calls after the window (traced run). */
  def traceExtra(span: Tracer): Map[String, Double] = Map.empty

  protected def dir(name: String): String = s"$work/$name"
  protected def roundDir(r: Int): String = dir(s"round-$r")
}

object Workload {
  def du(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  def rm(path: String): Unit = SnapshotStore.deleteRecursively(path)

  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Rewrites a parquet directory with one row damaged: "flip-byte"
    * flips the low bit of the first character of the committed text of
    * the row with the smallest url that has text; "drop-url" removes
    * that row. `partitionBy` keeps a partitioned layout. */
  def corruptDir(spark: SparkSession, path: String, mode: String,
                 partitionBy: Seq[String] = Nil): Unit = {
    val df = spark.read.parquet(path)
    val victim = df.filter(length(col("extracted_text")) > 0)
      .agg(min(col("url"))).head().getString(0)
    val flip = udf((s: String) => ((s.charAt(0) ^ 1).toChar).toString + s.substring(1))
    val damaged = mode match {
      case "flip-byte" => df.withColumn("extracted_text",
        when(col("url") === victim, flip(col("extracted_text"))).otherwise(col("extracted_text")))
      case "drop-url" => df.filter(col("url") =!= victim)
      case other => throw new IllegalArgumentException(s"unknown corruption $other")
    }
    val tmp = path + ".corrupt"
    damaged.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(tmp)
    rm(path)
    Files.move(Paths.get(tmp), Paths.get(path))
  }
}

import Workload._

/** Flagship ingest: one pages table extracted into a new outRoot. */
final class Fresh(spark: SparkSession, seed: Long, work: String, rows: Long)
    extends Workload(spark, seed, work) {
  private var pages = ""
  private val outs = scala.collection.mutable.ArrayBuffer[String]()
  private def lastOut = outs.last

  def setup(round: Int): Unit = {
    pages = s"${roundDir(round)}/pages"
    ExtractJob.generatePages(spark, rows, pages, seed)
    val warm = s"${roundDir(round)}/warm-out"
    ExtractJob.run(spark, pages, warm)
    rm(warm)
  }

  def iteration(i: Int, span: Tracer): Iter = {
    val out = dir(s"fresh-out-$i")
    val (s, snap) = timed(span.span("job.run")(ExtractJob.run(spark, pages, out)))
    outs += out
    Iter(s, snap.rowCount, du(out), snap.rowCount)
  }

  override def tidy(): Unit = outs.init.foreach(rm)

  def check(ck: Checker): Unit =
    ck.extraction(lastOut, pages, seed, 0L, rows, singleSnapshot = true)

  def corrupt(mode: String): Unit =
    corruptDir(spark, SnapshotStore.dataDirs(lastOut).last, mode)

  def extractedIdx: (Long, Long) = (0L, rows)
}

/** Small batches appended as new files and committed one by one onto a
  * growing table: per-commit fixed costs dominate. */
final class Increment(spark: SparkSession, seed: Long, work: String,
                      baseRows: Long, batchRows: Long, warmBatches: Int)
    extends Workload(spark, seed, work) {
  private var pages = ""
  private var out = ""
  private var next = 0L
  private var firstTimedIdx = -1L

  private def appendBatch(): Unit = {
    ExtractJob.generatePages(spark, next + batchRows, pages, seed,
      partitions = 1, start = next, append = true)
    next += batchRows
  }

  def setup(round: Int): Unit = {
    pages = s"${roundDir(round)}/pages"
    out = s"${roundDir(round)}/out"
    ExtractJob.generatePages(spark, baseRows, pages, seed)
    next = baseRows
    ExtractJob.run(spark, pages, out)
    (1 to warmBatches).foreach { _ => appendBatch(); ExtractJob.run(spark, pages, out) }
  }

  def iteration(i: Int, span: Tracer): Iter = {
    appendBatch()
    if (firstTimedIdx < 0) firstTimedIdx = next - batchRows
    val before = du(out)
    val (s, snap) = timed(span.span("job.run")(ExtractJob.run(spark, pages, out)))
    val added = du(out) - before
    Iter(s, snap.rowCount, added, snap.rowCount)
  }

  /** Direct store calls on the grown chain, median of five each. */
  override def traceExtra(span: Tracer): Map[String, Double] = {
    def ms(name: String)(body: => Any): (String, Double) =
      s"store.${name}_ms" -> Stats.median((1 to 5).map(_ => timed(span.span(s"store.$name")(body))._1 * 1e3))
    Map(
      ms("committed_input_files")(SnapshotStore.committedInputFiles(out)),
      ms("data_dirs")(SnapshotStore.dataDirs(out)),
      ms("chain_identity")(SnapshotStore.chainIdentity(out)),
      "store.manifests" -> SnapshotStore.currentSequence(out).toDouble)
  }

  def check(ck: Checker): Unit =
    ck.extraction(out, pages, seed, 0L, next, singleSnapshot = false)

  def corrupt(mode: String): Unit =
    corruptDir(spark, SnapshotStore.dataDirs(out).last, mode)

  def extractedIdx: (Long, Long) =
    (if (firstTimedIdx < 0) baseRows else firstTimedIdx, next)
}

/** Curation of an extracted corpus into a new outRoot: the `graft.ops`
  * shuffles dominate and the extraction kernel does no work. */
final class Curate(spark: SparkSession, seed: Long, work: String,
                   rows: Long, perHostCap: Int)
    extends Workload(spark, seed, work) {
  private var extracted = ""
  private val outs = scala.collection.mutable.ArrayBuffer[String]()
  private def lastOut = outs.last
  private val funnels = scala.collection.mutable.ArrayBuffer[CurateJob.Funnel]()

  def setup(round: Int): Unit = {
    val pages = s"${roundDir(round)}/pages"
    extracted = s"${roundDir(round)}/extracted"
    ExtractJob.generatePages(spark, rows, pages, seed)
    ExtractJob.run(spark, pages, extracted)
  }

  /** One untimed run: the first CurateJob run of a JVM is still
    * compiling the plans of its ~100 Spark jobs. Its funnel joins the
    * determinism check. */
  override def warmUp(): Unit = {
    val warm = dir("warm-curated")
    funnels += CurateJob.run(spark, extracted, warm, perHostCap = perHostCap)
    rm(warm)
  }

  def iteration(i: Int, span: Tracer): Iter = {
    val out = dir(s"curated-$i")
    val (s, f) = timed(span.span("job.run")(CurateJob.run(spark, extracted, out, perHostCap = perHostCap)))
    funnels += f
    outs += out
    Iter(s, f.extracted, du(out), f.kept)
  }

  override def tidy(): Unit = outs.init.foreach(rm)

  override def traceExtra(span: Tracer): Map[String, Double] =
    OpsProbe.run(spark, extracted, perHostCap, span)

  def check(ck: Checker): Unit = ck.curation(lastOut, extracted, perHostCap, funnels.toSeq)

  def corrupt(mode: String): Unit = corruptDir(spark, s"$lastOut/data", mode, Seq("split"))

  def extractedIdx: (Long, Long) = (0L, rows)
}
