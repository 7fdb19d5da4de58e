package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Store

/** The persisted-store helper on a tiny fixture directory: a store is
  * built once per key, is either complete or absent, and its key moves
  * with the build parameters, the recipe version and the fixture. */
class StoreSpec extends AnyFunSuite {
  private def fixture(): String = {
    val d = Files.createTempDirectory("store_fixture")
    Files.write(d.resolve("docs.parquet"), "ab".getBytes("UTF-8"))
    d.toString
  }

  /** A build that writes one part file under its directory. */
  private def writePart(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "part-0"), "rows".getBytes("UTF-8"))
  }

  /** Every entry under `target/` of the store `name` on fixture `d`,
    * temporary build directories included. */
  private def entries(d: String, name: String): Seq[Path] = {
    val fixtureDir = Paths.get(d).getFileName.toString
    val st = Files.list(Paths.get("target"))
    try st.toArray.toSeq.map(_.asInstanceOf[Path]).filter { p =>
      val f = p.getFileName.toString
      f.startsWith(s"${name}_v1_") && f.contains(fixtureDir)
    }
    finally st.close()
  }

  private def deleteTree(p: String): Unit = {
    val st = Files.walk(Paths.get(p))
    try st.toArray.toSeq.map(_.asInstanceOf[Path]).reverse.foreach(Files.delete)
    finally st.close()
  }

  test("a second ensure reuses the store without running the build") {
    val d = fixture()
    var builds = 0
    def ensure() = Store.ensure(d, "spec_once", 1, Seq("docs"), 7) { dir =>
      builds += 1; writePart(dir)
    }
    val p = ensure()
    assert(ensure() == p)
    assert(builds == 1)
    assert(Files.exists(Paths.get(p, "part-0")))
    deleteTree(p)
  }

  test("a build that throws leaves nothing at the store path; the next call rebuilds") {
    val d = fixture()
    val e = intercept[IllegalStateException] {
      Store.ensure(d, "spec_fail", 1, Seq("docs")) { dir =>
        writePart(dir); throw new IllegalStateException("interrupted")
      }
    }
    assert(e.getMessage == "interrupted")
    assert(entries(d, "spec_fail").isEmpty,
      "neither the store nor its temporary directory may remain")
    var builds = 0
    val p = Store.ensure(d, "spec_fail", 1, Seq("docs")) { dir =>
      builds += 1; writePart(dir)
    }
    assert(builds == 1)
    assert(entries(d, "spec_fail") == Seq(Paths.get(p)))
    deleteTree(p)
  }

  test("a copy published by another builder first is kept") {
    val d = fixture()
    def ensure(body: String) = Store.ensure(d, "spec_race", 1, Seq("docs")) {
      dir =>
        Files.createDirectories(Paths.get(dir))
        Files.write(Paths.get(dir, "part-0"), body.getBytes("UTF-8"))
    }
    // the outer build publishes last: the inner one has already won
    val p = Store.ensure(d, "spec_race", 1, Seq("docs")) { dir =>
      ensure("first"); writePart(dir)
    }
    assert(new String(Files.readAllBytes(Paths.get(p, "part-0")), "UTF-8") == "first")
    assert(entries(d, "spec_race") == Seq(Paths.get(p)))
    deleteTree(p)
  }

  test("the key changes with a build parameter, the version and the fixture") {
    val d = fixture()
    def path(version: Int, param: Int) =
      Store.ensure(d, "spec_key", version, Seq("docs"), param)(writePart)
    val base = path(1, 20)
    assert(path(1, 20) == base)
    val byParam = path(1, 21)
    val byVersion = path(2, 20)
    Files.write(Paths.get(d, "docs.parquet"), "abc".getBytes("UTF-8"))
    val byFixture = path(1, 20)
    assert(Set(base, byParam, byVersion, byFixture).size == 4)
    Seq(base, byParam, byVersion, byFixture).foreach(deleteTree)
  }
}
