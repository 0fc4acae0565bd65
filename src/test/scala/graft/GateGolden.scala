package graft

import java.io.File
import java.net.URLClassLoader
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

/** The per-gate golden file `src/test/resources/gate_golden.tsv`: one row
  * per gate of `SparkEntry.gates`, `gate` then `oracle_sha256` (the SHA-256
  * of the gate's DuckDB oracle text), sorted by gate name under a header
  * row. A change to any oracle's text — a shared SQL builder edited, a gate
  * added or removed — shows up as a named row diff.
  *
  * Regenerate after an intended oracle change (then prove the changed rows'
  * results equal with `tools/oracle_diff.py`):
  * {{{
  * sbt -batch "Test/runMain graft.GateGolden"
  * }}}
  */
object GateGolden {
  val Path = "src/test/resources/gate_golden.tsv"
  val Header = "gate\toracle_sha256"

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** gate name → oracle hash of the registry this JVM loaded. */
  def current: Map[String, String] =
    SparkEntry.gates.map(g => g.name -> sha256(g.oracle)).toMap

  /** The rows of the checked-in file (header dropped). */
  def read(): Map[String, String] =
    Files.readAllLines(Paths.get(Path), UTF_8).toArray(Array.empty[String]).toSeq
      .drop(1).filter(_.nonEmpty).map { line =>
        val Array(gate, hash) = line.split("\t")
        gate -> hash
      }.toMap

  def render(rows: Map[String, String]): String =
    (Header +: rows.toSeq.sorted.map { case (g, h) => s"$g\t$h" }).mkString("", "\n", "\n")

  /** name → oracle text of `SparkEntry.gates` built afresh in a separate
    * class loader over this JVM's class path: every gate family object is
    * initialized a second time, independently of the copy this JVM already
    * holds. The classes are foreign to this loader, so the values are read
    * reflectively. */
  def isolatedOracles(): Map[String, String] = {
    val urls = System.getProperty("java.class.path").split(File.pathSeparator)
      .map(p => new File(p).toURI.toURL)
    val loader = new URLClassLoader(urls, ClassLoader.getPlatformClassLoader)
    try {
      def call(o: AnyRef, m: String): AnyRef = {
        val method = o.getClass.getMethod(m)
        method.setAccessible(true)
        method.invoke(o)
      }
      val entry = loader.loadClass("graft.SparkEntry$").getField("MODULE$").get(null)
      val it = call(call(entry, "gates"), "iterator")
      val out = Map.newBuilder[String, String]
      while (call(it, "hasNext").asInstanceOf[java.lang.Boolean]) {
        val g = call(it, "next")
        out += call(g, "name").asInstanceOf[String] -> call(g, "oracle").asInstanceOf[String]
      }
      out.result()
    } finally loader.close()
  }

  def main(args: Array[String]): Unit = {
    Files.writeString(Paths.get(Path), render(current), UTF_8)
    println(s"wrote ${SparkEntry.gates.size} gates to $Path")
  }
}
