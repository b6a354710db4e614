package graft.job

import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** Publish-once staged directories: the one crash- and race-safe way a
  * build-once, read-many table (the generated pages table, a query
  * dump, a fixture store) becomes visible at its path.
  *
  * The protocol of [[publishDir]]:
  *  1. a dir at `path` that holds [[Marker]] is complete — nothing runs;
  *  2. otherwise `build` writes into a pid-suffixed temp dir beside
  *     `path`; a build that throws publishes nothing and its temp dir is
  *     deleted;
  *  3. [[Marker]] is written only after `build` returns, so everything
  *     the build wrote — data and sidecars (audits) alike — is covered;
  *  4. the temp dir is ATOMIC_MOVEd to `path`. If another process
  *     published first, the winner's copy is kept and ours deleted; a
  *     leftover dir without the marker (a crashed in-place writer) is
  *     replaced.
  *
  * Builds within one JVM are serialized on this object. The lock is
  * re-entrant, so a build may publish the dirs it reads from. */
object Staged {

  /** The completeness marker — Spark's own commit file, so a dump a
    * DataFrame writer produced already carries it. */
  val Marker = "_SUCCESS"

  def isPublished(path: String): Boolean = Files.exists(Paths.get(path, Marker))

  def publishDir(path: String)(build: String => Unit): Unit = synchronized {
    if (!isPublished(path)) {
      val dest = Paths.get(path)
      val tmp = path + ".tmp-" + ProcessHandle.current().pid()
      // false iff `path` holds a leftover without the marker. A taken
      // target surfaces as a plain FileSystemException ("Directory not
      // empty") on Linux, not as one of its named subclasses.
      def moveIn(): Boolean =
        try { Files.move(Paths.get(tmp), dest, StandardCopyOption.ATOMIC_MOVE); true }
        catch { case _: FileSystemException if Files.exists(dest) => isPublished(path) }
      SnapshotStore.deleteRecursively(tmp)
      try {
        build(tmp)
        Files.createDirectories(Paths.get(tmp))
        Files.write(Paths.get(tmp, Marker), Array.emptyByteArray)
        Files.createDirectories(dest.getParent)
        if (!moveIn()) {
          SnapshotStore.deleteRecursively(path)
          require(moveIn(), s"a leftover without $Marker reappeared at $path while publishing")
        }
      } finally SnapshotStore.deleteRecursively(tmp) // nothing left once moved
    }
  }

  /** The generated pages table of `rows` rows (PageGen seed, row i is
    * page i), shared by every entry point that needs one. */
  def pagesPath(rows: Long): String =
    s"/tmp/graft_pages_cache/g${graft.gen.PageGen.GenVersion}-rows$rows"

  def pages(spark: SparkSession, rows: Long): String = {
    val path = pagesPath(rows)
    publishDir(path)(ExtractJob.generatePages(spark, rows, _))
    path
  }
}
