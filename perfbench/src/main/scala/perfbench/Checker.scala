package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.Extract
import graft.gen.PageGen
import graft.job.{CurateJob, ExtractJob, SnapshotStore}

/** Output checks. Every check adds to `attempted`; every failure adds
  * to `failed` and keeps a short note of what failed. */
final class Checker(spark: SparkSession, goldenPath: String) {
  var attempted = 0L
  var failed = 0L
  val notes = scala.collection.mutable.ArrayBuffer[String]()

  /** Counts `n` checks of which `bad` failed. */
  def expect(n: Long, bad: Long, what: => String): Unit = {
    attempted += n
    if (bad > 0) { failed += bad; notes += s"$what ($bad of $n)" }
  }
  def expect(ok: Boolean, what: => String): Unit = expect(1, if (ok) 0 else 1, what)

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  /** The extraction table under `outRoot` against a single-threaded
    * oracle over generated pages [lo, hi): one row per url, each text
    * byte-identical, manifests in agreement with the data. */
  def extraction(outRoot: String, pagesPath: String, seed: Long, lo: Long, hi: Long,
                 singleSnapshot: Boolean): Unit = {
    import spark.implicits._
    // oracle: sha256 of Extract(genRow(seed, idx)) per url, plus the junk count
    val oracle = java.util.stream.LongStream.range(lo, hi).parallel()
      .mapToObj[(String, (String, String))] { idx =>
        val g = PageGen.genRow(seed, idx)
        (g.page.url, (sha256(Extract(g.page).extracted_text), g.kind))
      }.iterator().asScala.toMap
    val junk = oracle.values.count(_._2 == "junk")

    val dirs = SnapshotStore.dataDirs(outRoot)
    val live = spark.read.parquet(dirs: _*)
      .select(col("url"), sha2(coalesce(col("extracted_text"), lit("")), 256).as("sha"),
        col("partition_id"), col("error").isNotNull.as("err"),
        regexp_extract(input_file_name(), "/(snap-[0-9]+)/", 1).as("snap"))
      .as[(String, String, Int, Boolean, String)].collect()

    // each generated url exactly once, nothing else
    val byUrl = live.groupBy(_._1)
    expect(oracle.size.toLong, oracle.keysIterator.count(u => !byUrl.contains(u)).toLong,
      "generated url missing from the live table")
    expect(byUrl.size.toLong, byUrl.count(_._2.length > 1).toLong, "url committed more than once")
    expect(byUrl.size.toLong, byUrl.keysIterator.count(u => !oracle.contains(u)).toLong,
      "url in the live table that was never generated")
    // byte-identical text per url
    expect(oracle.size.toLong, oracle.count { case (u, (sha, _)) =>
      byUrl.get(u).exists(_.exists(_._2 != sha))
    }.toLong, "extracted_text sha256 differs from single-threaded Extract")

    // golden fixture (read only): first 300 rows of seed 42
    if (seed == PageGen.DefaultSeed && Files.exists(Paths.get(goldenPath))) {
      val golden = Files.readAllLines(Paths.get(goldenPath), UTF_8).asScala
        .map(_.split('\t')).filter(_.length == 4)
        .map(a => (a(0).toLong, a(3))).filter { case (i, _) => i >= lo && i < hi }
      val bad = golden.count { case (i, sha) =>
        val url = PageGen.genRow(seed, i).page.url
        !byUrl.get(url).exists(_.forall(_._2 == sha))
      }
      expect(golden.size.toLong, bad.toLong, "golden_sha256.tsv row differs")
    }

    // manifests agree with the data
    val mapper = new ObjectMapper()
    val cur = SnapshotStore.currentSequence(outRoot)
    val dataBySnap = live.groupBy(_._5)
    var manifestErrors = 0L
    val consumed = scala.collection.mutable.ArrayBuffer[String]()
    (1 to cur).foreach { seq =>
      val m = mapper.readTree(SnapshotStore.readManifest(outRoot, seq))
      val snapName = Paths.get(m.get("data_dir").asText).getFileName.toString
      val rows = dataBySnap.getOrElse(snapName, Array.empty)
      val parts = m.get("partitions").elements().asScala.toSeq
      val dataParts = rows.groupBy(_._3)
      expect(m.get("row_count").asLong == rows.length &&
        parts.map(_.get("row_count").asLong).sum == rows.length,
        s"manifest v$seq row_count disagrees with its data")
      expect(parts.size.toLong, parts.count { p =>
        val d = dataParts.getOrElse(p.get("partition_id").asInt, Array.empty)
        d.length != p.get("row_count").asLong || d.count(_._4) != p.get("error_count").asLong
      }.toLong, s"manifest v$seq partition lineage disagrees with its data")
      expect(dataParts.keySet.subsetOf(parts.map(_.get("partition_id").asInt).toSet),
        s"data of v$seq holds partitions its manifest does not list")
      manifestErrors += parts.map(_.get("error_count").asLong).sum
      consumed ++= m.get("input_files").elements().asScala.map(_.asText)
    }
    expect(manifestErrors == junk, s"manifest error_count $manifestErrors != junk rows $junk")
    val files = spark.read.parquet(pagesPath).inputFiles.toSeq
    expect(consumed.toSet == files.toSet, "manifest input_files differ from the input files")
    expect(consumed.distinct.size == consumed.size, "an input file is consumed by two snapshots")
    if (singleSnapshot) expect(cur == 1, s"expected one snapshot, found $cur")
  }

  /** The curated output under `outRoot` against the extraction table. */
  def curation(outRoot: String, extractRoot: String, perHostCap: Int,
               funnels: Seq[CurateJob.Funnel]): Unit = {
    val f = funnels.last
    val stages = Seq(f.extracted, f.html, f.urlFiltered, f.deduped, f.fuzzyDeduped,
      f.semanticDeduped, f.gated, f.kept)
    expect(stages.zip(stages.tail).forall { case (a, b) => a >= b } && f.kept > 0,
      s"funnel is not non-increasing: $f")
    expect(funnels.size.toLong, funnels.count(_ != funnels.head).toLong,
      "funnel differs between runs of the same seed")

    val data = spark.read.parquet(s"$outRoot/data")
    val n = data.count()
    expect(n == f.kept, s"funnel kept ${f.kept} != $n rows in data")
    expect(data.select("url").distinct().count() == n, "curated urls are not unique")
    expect(data.select(md5(col("extracted_text"))).distinct().count() == n,
      "two kept texts share an md5")
    val maxHost = data.groupBy("host").count().agg(max(col("count"))).head()
    expect(maxHost.isNullAt(0) || maxHost.getLong(0) <= perHostCap,
      s"a host exceeds the cap $perHostCap")
    val ext = ExtractJob.readExtracted(spark, extractRoot)
      .select(col("url"), col("extracted_text").as("ext_text"))
    val differs = data.select("url", "extracted_text").join(ext, Seq("url"), "left")
      .filter(col("ext_text").isNull || col("ext_text") =!= col("extracted_text")).count()
    expect(n, differs, "kept text differs from its extracted text")
  }
}
