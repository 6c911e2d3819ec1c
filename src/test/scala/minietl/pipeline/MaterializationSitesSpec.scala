package minietl.pipeline

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: under `src/main/scala/minietl`, only `RunCaches`
  * materializes a frame (`.persist(`, `.cache()`, `localCheckpoint(`).
  * Kernels call [[RunCaches.checkpoint]]. The one exception is
  * `Winnow.fixpointLoop`'s two RDD checkpoints, which store and count the
  * hot fingerprints in one job; a frame checkpoint followed by a count
  * would run a second job per round.
  */
class MaterializationSitesSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/minietl")

  /** The allowlist: files that materialize by themselves, and how many
    * sites each has.
    */
  private val rddCheckpoints: Map[String, Int] = Map("dedup/Winnow.scala" -> 2)

  private val materializes = """\.persist\(|\.cache\(\)|localCheckpoint\(""".r

  /** The code on a line: scaladoc and block-comment lines and `//` tails
    * do not count.
    */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) "" else line.split("//", 2).head
  }

  private def sitesIn(rel: String, lines: Seq[String]): Seq[String] =
    lines.zipWithIndex.collect {
      case (l, i) if materializes.findFirstIn(code(l)).nonEmpty => s"$rel:${i + 1}"
    }

  private def sites: Seq[String] =
    Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f).toString -> f)
      .filterNot(_._1 == "pipeline/RunCaches.scala")
      .flatMap { case (rel, f: Path) => sitesIn(rel, Files.readAllLines(f).asScala.toSeq) }

  test("the scan sees each materializing call and skips comments") {
    val lines = Seq(
      "val a = df.persist()",
      "val b = df.persist(StorageLevel.MEMORY_AND_DISK)",
      "val c = df.cache()",
      "val d = df.localCheckpoint(true)",
      "rdd.localCheckpoint()",
      "  * an eager `localCheckpoint(eager = true)` in scaladoc",
      "// df.persist() in a comment",
      "val e = RunCaches.checkpoint(df) // not localCheckpoint(")
    assert(sitesIn("x.scala", lines) === (1 to 5).map(i => s"x.scala:$i"))
  }

  test("kernels materialize only through RunCaches, apart from the allowlisted sites") {
    val byFile = sites.groupBy(_.takeWhile(_ != ':'))
    val unexpected = byFile.filter { case (f, ss) => ss.size != rddCheckpoints.getOrElse(f, 0) }
    val stale = rddCheckpoints.keySet.filterNot(byFile.contains).toSeq.sorted
    assert(unexpected.isEmpty,
      s"materializing calls outside RunCaches (use RunCaches.checkpoint): " +
        unexpected.values.flatten.toSeq.sorted.mkString(", "))
    assert(stale.isEmpty,
      s"allowlisted files that no longer materialize (drop them): ${stale.mkString(", ")}")
  }
}
