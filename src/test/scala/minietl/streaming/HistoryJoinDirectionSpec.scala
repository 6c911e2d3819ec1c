package minietl.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import minietl.SparkTestBase

/** Plan contract for the ingest-dedup history checks (VERDICT r10 Next #5):
  * at steady state the digest dwarfs every micro-batch, so the executed
  * per-batch plan must STREAM the digest and BUILD/BROADCAST the batch side.
  * A digest-side build is the quiet scale killer — it hashes the entire
  * history into executor memory on every drain and only gets worse as the
  * loop runs. These specs drive a real drain against a digest planted well
  * above the (lowered) broadcast threshold and read the executed plans the
  * way EntryContractSpec reads pushdown: the nearest join above the digest
  * scan must never have the digest on its build side, and at least one
  * broadcast hash join must stream the digest against a broadcast batch.
  */
class HistoryJoinDirectionSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** All nodes of an executed plan, descending through adaptive wrappers,
    * materialized query stages, and cached-plan boundaries.
    */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case im: InMemoryTableScanExec => Seq(im.relation.cachedPlan)
      case other => other.children
    }
    p +: kids.flatMap(flatten)
  }

  private def isJoin(p: SparkPlan): Boolean = p match {
    case _: BroadcastHashJoinExec | _: ShuffledHashJoinExec |
        _: SortMergeJoinExec | _: BroadcastNestedLoopJoinExec => true
    case _ => false
  }

  /** True when a scan of `pathPart` is reachable from `p` WITHOUT crossing
    * another join — i.e. `p` is a join side that directly owns the digest
    * scan (a join deeper down that already reduced the digest to a
    * batch-sized result does not count against its ancestors).
    */
  private def ownsScan(p: SparkPlan, pathPart: String): Boolean = p match {
    case j if isJoin(j) => false
    case f: FileSourceScanExec =>
      f.relation.location.rootPaths.exists(_.toString.contains(pathPart))
    case a: AdaptiveSparkPlanExec => ownsScan(a.executedPlan, pathPart)
    case q: QueryStageExec => ownsScan(q.plan, pathPart)
    case im: InMemoryTableScanExec => ownsScan(im.relation.cachedPlan, pathPart)
    case other => other.children.exists(ownsScan(_, pathPart))
  }

  /** Drive `drain` with the broadcast threshold lowered to 1 MiB, capturing
    * every query execution it runs; assert the digest-scan join contract
    * over the captured plans.
    */
  private def assertDigestStreamed(pathPart: String)(drain: => Unit): Unit = {
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        captured.add(qe); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val threshKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevThresh = spark.conf.get(threshKey)
    spark.conf.set(threshKey, (1 << 20).toString) // digest must exceed 1 MiB
    spark.listenerManager.register(listener)
    try {
      drain
      // QueryExecutionListener delivery is async on the listener bus — poll
      // until the digest-owning broadcast join shows up (or time out)
      def digestJoins() = {
        import scala.jdk.CollectionConverters._
        captured.asScala.toSeq
          .flatMap(qe => flatten(qe.executedPlan))
          .filter(isJoin)
          .map {
            case b: BroadcastHashJoinExec =>
              val (build, streamed) = b.buildSide match {
                case BuildRight => (b.right, b.left)
                case BuildLeft => (b.left, b.right)
              }
              ("broadcast", ownsScan(build, pathPart), ownsScan(streamed, pathPart))
            case s: ShuffledHashJoinExec =>
              val (build, streamed) = s.buildSide match {
                case BuildRight => (s.right, s.left)
                case BuildLeft => (s.left, s.right)
              }
              ("shuffled_hash", ownsScan(build, pathPart), ownsScan(streamed, pathPart))
            case nl: BroadcastNestedLoopJoinExec =>
              val (build, streamed) = nl.buildSide match {
                case BuildRight => (nl.right, nl.left)
                case BuildLeft => (nl.left, nl.right)
              }
              ("nested_loop", ownsScan(build, pathPart), ownsScan(streamed, pathPart))
            case m: SortMergeJoinExec =>
              // SMJ has no build asymmetry; digest on either side only costs
              // a sort, not a full-history hash build — record, never fail
              ("sort_merge", false, ownsScan(m.left, pathPart) || ownsScan(m.right, pathPart))
          }
          .filter(t => t._2 || t._3)
      }
      val deadline = System.nanoTime() + 15000000000L
      var joins = digestJoins()
      while (System.nanoTime() < deadline &&
             !joins.exists(t => t._1 == "broadcast" && t._3)) {
        Thread.sleep(200)
        joins = digestJoins()
      }
      assert(joins.nonEmpty, "no join over the digest was captured at all")
      val digestBuilt = joins.filter(_._2)
      assert(digestBuilt.isEmpty,
        s"the digest landed on a hash-join BUILD side ($digestBuilt): at " +
          "steady state this hashes the whole history per micro-batch")
      assert(joins.exists(t => t._1 == "broadcast" && t._3),
        s"expected at least one broadcast hash join STREAMING the digest " +
          s"against a broadcast batch side; saw $joins")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set(threshKey, prevThresh)
    }
  }

  test("exact ingest loop streams the digest and broadcasts the batch") {
    val dir = Files.createTempDirectory("minietl-joindir-exact")
    val hist = s"$dir/digest_exact"
    // plant a prior-drain digest ~10 MB (well past the 1 MiB threshold);
    // batch=99 so the fresh drain's batchId 0 cannot delete it. One batch
    // fingerprint ("fp-x2") is planted too: a real collision keeps the
    // history join in the FINAL adaptive plan — with zero matches, AQE's
    // empty-relation propagation erases the join before it can be asserted
    // (observed: the executed plan collapses to the dropDuplicates agg).
    spark.range(300000)
      .select(md5(col("id").cast("string")).as("fp"))
      .union(Seq("fp-x2").toDF("fp"))
      .coalesce(1)
      .write.parquet(Streaming.batchOutputPath(hist, 99L))
    val in = s"$dir/in"
    Seq((1L, "fp-x1"), (2L, "fp-x2"), (3L, "fp-x3"))
      .toDF("id", "fp").coalesce(1).write.parquet(in)
    assertDigestStreamed("digest_exact") {
      val q = Streaming.dedupAndRecordHistory(
        spark.readStream.schema("id LONG, fp STRING").parquet(in),
        "fp", hist, s"$dir/chk") { (batch, _) => batch.count(); () }
      try q.processAllAvailable() finally q.stop()
    }
  }

  test("near-dup collision loop streams the band digest and broadcasts the batch") {
    val dir = Files.createTempDirectory("minietl-joindir-neardup")
    val hist = s"$dir/digest_bands"
    // planted band digest: ~400k synthetic (band, key) rows ≈ 4-6 MB on
    // disk, PLUS doc 1's real band keys (computed with the same expressions
    // the loop uses) — the genuine collision keeps the history join in the
    // final adaptive plan (see the exact-loop test for why)
    import minietl.dedup.Dedup
    val doc1 = (1 to 20).map(w => s"tok1$w").mkString(" ")
    // same family as the loop's ONE signature base (r18: the digest bands
    // now come off the shared native shingle-hash base, not a second
    // string-hash signature pass)
    val doc1Bands = Seq(doc1).toDF("text")
      .select(explode(minietl.functions.HashFamily.Production.bandKeys(
        Dedup.minhashFromHashes(
          Dedup.shingleHashesSorted(col("text"), 3), 128), 32, 128)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"))
    spark.range(400000)
      .select(pmod(col("id"), lit(32)).cast("int").as("band"),
        xxhash64(col("id")).as("key"))
      .union(doc1Bands)
      .coalesce(1)
      .write.parquet(Streaming.batchOutputPath(hist, 99L))
    val in = s"$dir/in"
    (1 to 4).map(i => (i.toLong, (1 to 20).map(w => s"tok$i$w").mkString(" ")))
      .toDF("id", "text").coalesce(1).write.parquet(in)
    assertDigestStreamed("digest_bands") {
      val q = Streaming.nearDupDedupAndRecordHistory(
        spark.readStream.schema("id LONG, text STRING").parquet(in),
        "id", "text", hist, s"$dir/chk") { (batch, _) => batch.count(); () }
      try q.processAllAvailable() finally q.stop()
    }
  }
}
