package graft.core

import java.nio.file.{Files, FileSystemException, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Build-once persisted stores under `target/`: derived tables (staged
  * corpora, indexes, trained models) that a first caller builds and
  * every later query reads back.
  *
  * This object alone decides the two things every store needs:
  * - **the key** — store name, recipe version, build parameters and the
  *   fingerprint of every fixture table the store reads. Changing any of
  *   them names a different directory, so the store rebuilds with no
  *   manual delete; a store built under an older key is never reused.
  * - **completeness** — the build writes into a temporary directory
  *   beside the final path, which is renamed into place only after the
  *   whole build returns. A store is therefore complete or absent; no
  *   table's own `_SUCCESS` marker is consulted, since Spark reads a
  *   parquet directory without checking it.
  */
object Store {
  private val Root = Paths.get("target")

  /** The store `name` at `version`, built from the fixture `tables` of
    * sf-dir `d` with `params`: returns its path, first running `build`
    * on a not-yet-created directory path when no complete copy exists. */
  def ensure(d: String, name: String, version: Int, tables: Seq[String],
      params: Any*)(build: String => Unit): String = {
    val path = Root.resolve(key(d, name, version, tables, params))
    if (!Files.isDirectory(path)) {
      val tmp = Root.resolve(
        s"${path.getFileName}.tmp-${java.util.UUID.randomUUID}")
      try {
        build(tmp.toString)
        try Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
        catch {
          // a concurrent builder published first: keep its copy
          case _: FileSystemException if Files.isDirectory(path) =>
        }
      } finally deleteTree(tmp)
    }
    path.toString
  }

  private def key(d: String, name: String, version: Int,
      tables: Seq[String], params: Seq[Any]): String = {
    val tag = d.replaceAll("[^A-Za-z0-9.]", "_")
    val inputs = params.mkString(",") +:
      tables.map(t => s"$t=${fixtureFp(d, t)}")
    s"${name}_v${version}_${tag}_${md5(inputs.mkString("|"))}"
  }

  /** name:size:mtime fingerprint of a fixture table's data files, so a
    * changed fixture abandons the stale store and rebuilds instead of
    * silently reusing it (which would surface only as a confusing
    * oracle mismatch). */
  private def fixtureFp(d: String, table: String): String = {
    val src = Paths.get(d, s"$table.parquet")
    val files =
      if (Files.isDirectory(src)) {
        val st = Files.walk(src)
        try st.iterator().asScala.filter(Files.isRegularFile(_)).toVector
        finally st.close()
      } else Vector(src)
    md5(files.map(p => s"${p.getFileName}:${Files.size(p)}:" +
        s"${Files.getLastModifiedTime(p).toMillis}")
      .sorted.mkString("|"))
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toVector.reverse.foreach(Files.delete)
      finally st.close()
    }
}
