package minietl.pipeline

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: under `src/main/scala/minietl`, only `RunCaches`
  * materializes a frame (`.persist(`, `.cache()`, `localCheckpoint(`).
  * Kernels call [[RunCaches.checkpoint]]. The allowlist names every site not
  * converted yet, by file and line, with the reason it stays; it may only
  * shrink.
  */
class MaterializationSitesSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/minietl")

  /** "file:line" under `root` -> why the site still materializes itself. */
  private val allowed: Map[String, String] = Map(
    "graph/PageRank.scala:80" -> "iteration cache, unpersisted by the kernel once its output is checkpointed",
    "graph/PageRank.scala:82" -> "iteration cache, unpersisted by the kernel once its output is checkpointed",
    "graph/PageRank.scala:124" -> "iteration cache, unpersisted by the kernel once its output is checkpointed",
    "text/TextAnalysis.scala:331" -> "tfidf stays lazy: the caller's action fills its term frequencies; off the curate path",
    "text/TextAnalysis.scala:357" -> "bm25 stays lazy: the caller's action fills its term frequencies; off the curate path",
    "text/Decontaminate.scala:123" -> "bloom decontamination's bench grams, read by the sketch job and the verify join; off the curate path",
    "multimodal/PerceptualAudio.scala:142" -> "decoded audio hashes for the census and the undecodable branch; media loop pins follow it",
    "multimodal/PerceptualHash.scala:167" -> "decoded image hashes for the census and the undecodable branch; media loop pins follow it",
    "multimodal/PerceptualHash.scala:208" -> "media near-dup hashes; the media ingest loop's job pins follow it",
    "multimodal/PerceptualHash.scala:214" -> "media near-dup hash groups; the media ingest loop's job pins follow it",
    "dedup/Dedup.scala:696" -> "ngramJaccardPairs stays lazy: its shingle base is filled by the caller's action",
    "dedup/Dedup.scala:741" -> "ngramContainmentPairs stays lazy: its shingle base is filled by the caller's action",
    "dedup/Dedup.scala:751" -> "ngramContainmentPairs stays lazy: its capped postings are filled by the caller's action",
    "dedup/Winnow.scala:489" -> "RDD checkpoint that stores and counts the hot fingerprints in one job",
    "dedup/Winnow.scala:499" -> "RDD checkpoint that stores and counts the hot fingerprints in one job",
    "sim/Similarity.scala:197" -> "cosine near-dup vectors, neither registered nor unpersisted (ROADMAP direction 1)",
    "sim/Similarity.scala:302" -> "prepared corpus vectors, unpersisted by semanticDecontaminateEager",
    "sim/Ivf.scala:95" -> "training input cache, unpersisted when train returns",
    "sim/SemDedup.scala:120" -> "SemDeDup's prepared vectors; lazy kernel, off the curate path",
    "sim/SemDedup.scala:131" -> "SemDeDup's over-cap rows of one recluster round; off the curate path",
    "sim/SemDedup.scala:175" -> "SemDeDup's re-keyed frame; lazy kernel, off the curate path",
    "sketch/Sketches.scala:139" -> "token counts read by the sketch and the exact join; off the curate path",
    "io/IO.scala:169" -> "MultiLoader's fan-out cache, unpersisted when the sinks finish")

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
    val found = sites.toSet
    val unexpected = (found -- allowed.keySet).toSeq.sorted
    val stale = (allowed.keySet -- found).toSeq.sorted
    assert(unexpected.isEmpty,
      s"materializing calls outside RunCaches (use RunCaches.checkpoint): ${unexpected.mkString(", ")}")
    assert(stale.isEmpty,
      s"allowlisted sites that no longer materialize (drop them, or fix the line): ${stale.mkString(", ")}")
  }
}
