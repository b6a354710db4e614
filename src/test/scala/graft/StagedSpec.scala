package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.job.Staged

/** The publish-once protocol every staged dump goes through: a failed
  * build publishes nothing, a published dir is never rebuilt, a
  * marker-less leftover is replaced, a racing writer's copy wins, and
  * whatever the build wrote (sidecars included) appears together with
  * the marker. */
class StagedSpec extends AnyFunSuite {

  private def dest(): String =
    Files.createTempDirectory("stagedspec").resolve("dump").toString

  private def write(dir: String, name: String, body: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, name), body)
  }

  /** Everything beside `path` whose name starts with it: the published
    * dir plus any temp dirs left behind. */
  private def siblings(path: String): Seq[String] = {
    val p = Paths.get(path)
    Option(p.getParent.toFile.listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith(p.getFileName.toString)).sorted
  }

  private def read(p: Path): String = Files.readString(p)

  test("a build that throws publishes nothing, leaves no temp dir, and the next call builds") {
    val path = dest()
    val err = intercept[IllegalStateException] {
      Staged.publishDir(path) { tmp =>
        write(tmp, "part-0", "half")
        throw new IllegalStateException("build failed")
      }
    }
    assert(err.getMessage == "build failed")
    assert(!Staged.isPublished(path))
    assert(siblings(path).isEmpty)
    Staged.publishDir(path)(tmp => write(tmp, "part-0", "whole"))
    assert(Staged.isPublished(path))
    assert(read(Paths.get(path, "part-0")) == "whole")
    assert(siblings(path) == Seq("dump"))
  }

  test("a published dir is not rebuilt") {
    val path = dest()
    var builds = 0
    (1 to 3).foreach { _ =>
      Staged.publishDir(path) { tmp => builds += 1; write(tmp, "part-0", s"build $builds") }
    }
    assert(builds == 1)
    assert(read(Paths.get(path, "part-0")) == "build 1")
  }

  test("a leftover dir without the marker is replaced") {
    val path = dest()
    write(path, "part-0", "torn")
    write(path, "part-1", "stale")
    Staged.publishDir(path)(tmp => write(tmp, "part-0", "fresh"))
    assert(Staged.isPublished(path))
    assert(read(Paths.get(path, "part-0")) == "fresh")
    assert(!Files.exists(Paths.get(path, "part-1")))
    assert(siblings(path) == Seq("dump"))
  }

  test("a copy another writer published first is kept") {
    val path = dest()
    Staged.publishDir(path) { tmp =>
      write(tmp, "part-0", "ours")
      // the other writer completes its publish while ours is building
      write(path, "part-0", "theirs")
      write(path, Staged.Marker, "")
    }
    assert(read(Paths.get(path, "part-0")) == "theirs")
    assert(siblings(path) == Seq("dump"))
  }

  test("a sidecar written inside the build is present once the marker is") {
    val path = dest()
    Staged.publishDir(path) { tmp =>
      write(tmp, "part-0", "rows")
      assert(!Staged.isPublished(tmp))
      write(tmp, "_audit.json", """{"dropped":0}""")
    }
    assert(Staged.isPublished(path))
    assert(read(Paths.get(path, "_audit.json")) == """{"dropped":0}""")
  }

  test("a build may publish the dirs it reads from") {
    val base = dest()
    val derived = base + "-derived"
    Staged.publishDir(derived) { tmp =>
      Staged.publishDir(base)(write(_, "part-0", "base"))
      write(tmp, "part-0", read(Paths.get(base, "part-0")) + "+derived")
    }
    assert(read(Paths.get(derived, "part-0")) == "base+derived")
  }
}
