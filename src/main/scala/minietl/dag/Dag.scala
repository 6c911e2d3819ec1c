package minietl.dag

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import minietl.pipeline.RunCaches

/** Graph-shaped pipelines (reference: mini_etl/core/dag.py:80-416).
  *
  * The reference DAG executor materializes every node's full output in a
  * dict (dag.py:324) — losing the streaming property it was built for. Here
  * the DAG compiles to DataFrame composition: node "outputs" are lazy
  * DataFrames and Catalyst plans the whole graph at once. During [[run]]
  * a frame read by several nodes is cached once instead of recomputed per
  * reader; transform closures apply to their input as it is, and a kernel
  * that re-reads its input checkpoints it
  * ([[minietl.pipeline.RunCaches.checkpoint]]). [[frame]] caches nothing.
  *
  * Two reference stubs are implemented for real:
  *  - MergeStrategy.UNION ("concat + dedupe", declared dag.py:60 but never
  *    executed) → unionByName + dropDuplicates;
  *  - BRANCH (pass-through stub, dag.py:367-374) → routes the predicate's
  *    true/false splits along labeled ports.
  */
object MergeStrategy {
  sealed trait T
  /** union-all aligning columns by name, missing filled null (dag.py:56-58). */
  case object Concat extends T
  /** fold with outer equi-join on keys (dag.py:59, 356-365). */
  final case class Join(keys: Seq[String], joinType: String = "full_outer") extends T
  /** concat + dedupe (dag.py:60 — the declared-only strategy, made real). */
  case object Union extends T
}

final class PipelineDAG {

  private sealed trait Node
  private final case class SourceNode(f: SparkSession => DataFrame) extends Node
  private final case class TransformNode(f: DataFrame => DataFrame) extends Node
  private final case class MergeNode(strategy: MergeStrategy.T) extends Node
  private final case class BranchNode(predicate: Column) extends Node
  private final case class SinkNode(f: DataFrame => Unit) extends Node

  private val nodes = mutable.LinkedHashMap.empty[String, Node]
  // (from, fromPort, to) — port is "" except for branch outputs ("true"/"false")
  private val edges = mutable.ListBuffer.empty[(String, String, String)]

  private def register(id: String, n: Node): this.type = {
    require(!nodes.contains(id), s"duplicate node id: $id")
    nodes(id) = n
    this
  }

  def addSource(id: String, f: SparkSession => DataFrame): this.type = register(id, SourceNode(f))
  def addTransform(id: String, f: DataFrame => DataFrame): this.type = register(id, TransformNode(f))
  def addMerge(id: String, strategy: MergeStrategy.T): this.type = register(id, MergeNode(strategy))
  def addBranch(id: String, predicate: Column): this.type = register(id, BranchNode(predicate))
  def addSink(id: String, f: DataFrame => Unit): this.type = register(id, SinkNode(f))

  /** Connect `from` → `to`; for a branch upstream, `port` selects the
    * "true" or "false" split (default "true").
    */
  def connect(from: String, to: String, port: String = ""): this.type = {
    require(nodes.contains(from), s"unknown node: $from")
    require(nodes.contains(to), s"unknown node: $to")
    val p = nodes(from) match {
      case _: BranchNode =>
        val eff = if (port.isEmpty) "true" else port
        require(eff == "true" || eff == "false", s"branch port must be true/false, got $port")
        eff
      case _ =>
        require(port.isEmpty, s"only branch nodes have ports ($from)")
        ""
    }
    edges += ((from, p, to))
    this
  }

  private def inputsOf(id: String): Seq[(String, String)] =
    edges.collect { case (f, p, t) if t == id => (f, p) }.toSeq
  private def outputsOf(id: String): Seq[String] =
    edges.collect { case (f, _, t) if f == id => t }.toSeq

  /** Structural validation (dag.py:213-244) + cycle check (dag.py:246-269).
    * Returns an error list like the reference, not an exception.
    */
  def validate(): Seq[String] = {
    val structural = nodes.flatMap { case (id, n) =>
      val in = inputsOf(id).size
      val out = outputsOf(id).size
      n match {
        case _: SourceNode if in > 0 => Seq(s"source $id has inputs")
        case _: SourceNode if out == 0 => Seq(s"source $id has no outputs")
        case _: SinkNode if out > 0 => Seq(s"sink $id has outputs")
        case _: SinkNode if in != 1 => Seq(s"sink $id needs exactly one input")
        case _: MergeNode if in < 2 => Seq(s"merge $id needs at least 2 inputs")
        case _: TransformNode if in != 1 => Seq(s"transform $id needs exactly one input")
        case _: BranchNode if in != 1 => Seq(s"branch $id needs exactly one input")
        case _ => Nil
      }
    }.toSeq
    structural ++ (if (findCycle()) Seq("graph contains a cycle") else Nil)
  }

  private def findCycle(): Boolean = {
    val WHITE = 0; val GRAY = 1; val BLACK = 2
    val color = mutable.Map(nodes.keys.map(_ -> WHITE).toSeq: _*)
    def dfs(u: String): Boolean = {
      color(u) = GRAY
      val bad = outputsOf(u).exists { v =>
        color(v) == GRAY || (color(v) == WHITE && dfs(v))
      }
      color(u) = BLACK
      bad
    }
    nodes.keys.exists(k => color(k) == WHITE && dfs(k))
  }

  /** Kahn topological order (dag.py:271-298). */
  def topologicalOrder: Seq[String] = {
    val indeg = mutable.Map(nodes.keys.map(k => k -> inputsOf(k).size).toSeq: _*)
    val queue = mutable.Queue(nodes.keys.filter(indeg(_) == 0).toSeq: _*)
    val order = mutable.ListBuffer.empty[String]
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      order += u
      outputsOf(u).foreach { v =>
        indeg(v) -= 1
        if (indeg(v) == 0) queue.enqueue(v)
      }
    }
    require(order.size == nodes.size, "graph contains a cycle")
    order.toSeq
  }

  /** Compile every node to its (lazy) output frame(s), keyed by node id and
    * output port. Inside a run scope, frames consumed by more than one
    * downstream node are cached for the run; outside one (embedding via
    * [[frame]]) nothing is cached.
    */
  private def compile(spark: SparkSession): mutable.Map[String, Map[String, DataFrame]] = {
    // frame-only compilation tolerates missing sinks / unconsumed outputs
    val errs = validate().filterNot(e => e.contains("sink") || e.contains("no outputs"))
    require(errs.isEmpty, s"invalid DAG: ${errs.mkString("; ")}")

    val out = mutable.Map.empty[String, Map[String, DataFrame]]
    def fanOut(id: String, df: DataFrame): DataFrame =
      if (outputsOf(id).size > 1) RunCaches.cacheForRun(df) else df

    def inputFrame(id: String): DataFrame = {
      val Seq((from, port)) = inputsOf(id)
      out(from)(port)
    }

    topologicalOrder.foreach { id =>
      nodes(id) match {
        case SourceNode(f) =>
          out(id) = Map("" -> fanOut(id, f(spark)))
        case TransformNode(f) =>
          out(id) = Map("" -> fanOut(id, f(inputFrame(id))))
        case MergeNode(strategy) =>
          val ins = inputsOf(id).map { case (f, p) => out(f)(p) }
          val merged = strategy match {
            case MergeStrategy.Concat =>
              ins.reduce(_.unionByName(_, allowMissingColumns = true))
            case MergeStrategy.Union =>
              ins.reduce(_.unionByName(_, allowMissingColumns = true)).dropDuplicates()
            case MergeStrategy.Join(keys, joinType) =>
              ins.reduce((a, b) => a.join(b, keys, joinType))
          }
          out(id) = Map("" -> fanOut(id, merged))
        case BranchNode(pred) =>
          // both splits read the same upstream; cache it once when executing
          val src = RunCaches.cacheForRun(inputFrame(id))
          out(id) = Map("true" -> src.filter(pred), "false" -> src.filter(!pred))
        case SinkNode(_) => ()
      }
    }
    out
  }

  /** One node's lazy output frame without executing any sink — lets a DAG be
    * embedded as a stage of a larger plan. Branch ports are addressed as
    * "id.true" / "id.false".
    */
  def frame(spark: SparkSession, nodeId: String): DataFrame = {
    val (id, port) = nodeId.split('.') match {
      case Array(i) => (i, "")
      case Array(i, p) => (i, p)
      case _ => throw new IllegalArgumentException(s"bad node ref: $nodeId")
    }
    compile(spark)
      .getOrElse(id, throw new IllegalArgumentException(s"unknown node: $id"))
      .getOrElse(port, throw new IllegalArgumentException(s"unknown port '$port' on $id"))
  }

  /** Compile and run every sink. Returns each sink's input row count (the
    * executor-side analog of the reference's node_outputs sizes), observed
    * from the sink's own action.
    */
  def run(spark: SparkSession): Map[String, Long] = {
    val errs = validate()
    require(errs.isEmpty, s"invalid DAG: ${errs.mkString("; ")}")
    // RunCaches scope covers COMPILE as well as the sink actions: fan-out
    // caches and the checkpoints the transform kernels take
    // (semantic_decontaminate, lm_surprise, the dedup stages) are all tracked
    // inside compile(), so the scope must already be open there; it
    // releases them after every sink has consumed the data, or threw
    RunCaches.scoped {
      val out = compile(spark)

      def inputFrame(id: String): DataFrame = {
        val Seq((from, port)) = inputsOf(id)
        out(from)(port)
      }

      nodes.collect { case (id, SinkNode(f)) =>
        val obs = org.apache.spark.sql.Observation(
          s"dag_${id}_${java.util.UUID.randomUUID().toString.take(8)}")
        val observed = inputFrame(id).observe(obs,
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("rows"))
        f(observed)
        id -> obs.get("rows").asInstanceOf[Long]
      }.toMap
    }
  }

  /** ASCII rendering (dag.py:392-416). */
  def visualize(): String = {
    val sb = new StringBuilder("PipelineDAG:\n")
    nodes.foreach { case (id, n) =>
      val kind = n match {
        case _: SourceNode => "SOURCE"
        case _: TransformNode => "TRANSFORM"
        case _: MergeNode => "MERGE"
        case _: BranchNode => "BRANCH"
        case _: SinkNode => "SINK"
      }
      val outs = edges.collect { case (f, p, t) if f == id =>
        if (p.isEmpty) t else s"$t[$p]" }
      sb.append(f"  $kind%-9s $id${if (outs.nonEmpty) " -> " + outs.mkString(", ") else ""}\n")
    }
    sb.toString
  }
}
