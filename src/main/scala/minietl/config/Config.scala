package minietl.config

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import minietl.config.Endpoints.{EndpointDef, Role, streamSinkOpts, streamSourceOpts}
import minietl.pipeline.{Pipeline, PipelineBuilder}
import minietl.schema.{ColumnSpec, TableSchema}

/** The YAML/JSON pipeline config surface (reference: mini_etl/core/config.py).
  *
  * Types come from two registries, as the reference keeps one per component
  * kind (config.py:72-87, 264-378):
  *  - sources and sinks: [[Endpoints]], one definition per type with its
  *    batch source, batch sink, stream source and stream sink forms;
  *  - stages: [[Stages]], the `transformers:` list of the linear form, the
  *    `transform:` of a DAG node and the `stages:` of the stream form (the
  *    reference's transformers, the training-data curation stages and the
  *    stream-only stages).
  * Each type declares its options, defaults and checks once; the validate,
  * warnings and build paths of all three forms read them there. `minietl
  * info` lists both registries.
  *
  * Beyond the reference's single linear pipeline, a `dag:` root key
  * describes a multi-source PipelineDAG (sources / transform / merge /
  * branch nodes / sinks) — see [[parseDag]] — closing the asymmetry where
  * DAGs existed only in code.
  *
  * Env-var interpolation `${VAR}` / `$VAR` in the raw text before parsing
  * (config.py:103,158-168).
  */
object Config {

  final case class ComponentConfig(typ: String, options: Map[String, Any])
  /** A parsed config of one of the three forms. */
  sealed trait AnyConfig { def name: String }
  final case class PipelineConfig(
      name: String,
      source: ComponentConfig,
      transformers: Seq[ComponentConfig],
      sink: ComponentConfig,
      schema: Option[TableSchema] = None) extends AnyConfig

  private val EnvBrace: Regex = """\$\{([A-Za-z_][A-Za-z0-9_]*)\}""".r
  private val EnvBare: Regex = """\$([A-Za-z_][A-Za-z0-9_]*)""".r

  /** `${VAR}` / `$VAR` replaced from the environment; unknown vars are left
    * verbatim (matching the reference's `os.path.expandvars` behavior).
    */
  def substituteEnv(text: String, env: Map[String, String] = sys.env): String = {
    val braced = EnvBrace.replaceAllIn(text,
      m => Regex.quoteReplacement(env.getOrElse(m.group(1), m.matched)))
    EnvBare.replaceAllIn(braced,
      m => Regex.quoteReplacement(env.getOrElse(m.group(1), m.matched)))
  }

  // ------------------------------------------------------------- parsing
  private def asScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, vv) => k.toString -> asScala(vv) }.toMap
    case l: java.util.List[_] => l.asScala.map(asScala).toList
    case other => other
  }

  private def component(m: Map[String, Any], what: String): ComponentConfig = {
    val typ = m.getOrElse("type",
      throw new IllegalArgumentException(s"$what is missing 'type'")).toString
    ComponentConfig(typ.toLowerCase, m - "type")
  }

  /** The mapping at `key`, else an error saying `message`. */
  private def mappingAt(raw: Map[String, Any], key: String, message: String): Map[String, Any] =
    raw.get(key) match {
      case Some(m: Map[String, Any] @unchecked) => m
      case _ => throw new IllegalArgumentException(message)
    }

  /** The list of components at `key` (none when absent). */
  private def componentsAt(raw: Map[String, Any], key: String, what: String, entry: String): Seq[ComponentConfig] =
    raw.get(key) match {
      case Some(l: List[Any] @unchecked) => l.map {
        case m: Map[String, Any] @unchecked => component(m, what)
        case other => throw new IllegalArgumentException(s"$entry must be a mapping: $other")
      }
      case None => Nil
      case other => throw new IllegalArgumentException(s"'$key' must be a list: $other")
    }

  /** The root mapping of YAML text (JSON is a YAML subset). */
  private def root(text: String, env: Map[String, String]): Map[String, Any] =
    asScala(new org.yaml.snakeyaml.Yaml().load[Any](substituteEnv(text, env))) match {
      case m: Map[String, Any] @unchecked => m
      case other => throw new IllegalArgumentException(s"config root must be a mapping, got $other")
    }

  /** Parse a config of any form: a `stream:` root key is the stream form, a
    * `dag:` one the DAG form, anything else the linear form.
    */
  def parseAny(text: String, env: Map[String, String] = sys.env): AnyConfig = {
    val raw = root(text, env)
    if (raw.contains("stream")) streamOf(raw) else if (raw.contains("dag")) dagOf(raw) else pipelineOf(raw)
  }

  /** Parse the linear form into the config model. */
  def parse(text: String, env: Map[String, String] = sys.env): PipelineConfig =
    pipelineOf(root(text, env))

  private def pipelineOf(raw: Map[String, Any]): PipelineConfig = {
    val name = raw.getOrElse("name", "pipeline").toString
    val source = component(mappingAt(raw, "source", "config needs a 'source' mapping"), "source")
    val sink = component(mappingAt(raw, "sink", "config needs a 'sink' mapping"), "sink")
    val transformers = componentsAt(raw, "transformers", "transformer", "transformer entry")
    val schema = raw.get("schema") match {
      case Some(m: Map[String, Any] @unchecked) =>
        val strict = m.get("strict").exists(_.toString.toBoolean)
        val cols = m.get("columns") match {
          case Some(l: List[Any] @unchecked) => l.map {
            case cm: Map[String, Any] @unchecked =>
              ColumnSpec(
                cm("name").toString, cm.getOrElse("dtype", "string").toString,
                cm.get("nullable").forall(_.toString.toBoolean),
                cm.get("default"))
            case other => throw new IllegalArgumentException(s"schema column must be a mapping: $other")
          }
          case _ => Nil
        }
        Some(TableSchema(cols, strict))
      case _ => None
    }
    PipelineConfig(name, source, transformers, sink, schema)
  }

  // ---------------------------------------------------------- validation
  /** Error list, not an exception — mirrors config.validate()
    * (config.py:63-88).
    */
  def validate(c: PipelineConfig): Seq[String] = {
    val srcErrs = endpointErrors(c.source, "source", _.source)
    val sinkErrs = endpointErrors(c.sink, "sink", _.sink)
    val tErrs = c.transformers.zipWithIndex.flatMap { case (t, i) =>
      checkTransformer(t, s"transformer[$i]")
    }
    srcErrs ++ sinkErrs ++ tErrs
  }

  /** Default feature-hash width for the `dsir_select` stage — 1024, not
    * the 64 other hashed-feature stages default to, because the selection
    * ranking is the output and it is strongly dim-sensitive (see
    * [[warnings]] and [[minietl.text.Dsir]]'s sizing scaladoc).
    */
  val DsirDefaultDim: Int = 1024

  /** Advisory findings a config is ALLOWED to ship with (unlike
    * [[validate]]'s errors): configurations that are semantically valid
    * but measurably fragile, from each stage definition's `advice` in
    * [[Stages]] — a `dsir_select` dim below 512 (DSIR's ranking is strongly
    * dim-sensitive; naive Bayes routing is not, hence no warning there), and
    * the EXACT per-group percentile stages, whose SQL `percentile` buffers
    * every distinct value per group on one reducer where the mergeable
    * sketch twin streams in O(buckets).
    */
  def warnings(c: PipelineConfig): Seq[String] =
    c.transformers.zipWithIndex.flatMap { case (t, i) =>
      Stages.find(t.typ).filter(_.batch).toSeq
        .flatMap(d => d.advice(d.opts(t.options), s"transformer[$i] ${t.typ}"))
    }

  /** Source or sink check, shared by the linear and DAG validators: `what`
    * is "source" or "sink", suffixed with the DAG node id.
    */
  private def endpointErrors(cc: ComponentConfig, what: String, role: EndpointDef => Option[Role[_]]): Seq[String] =
    Endpoints.find(cc.typ).flatMap(role) match {
      case Some(r) => r.errors(cc.options, s"$what ${cc.typ}")
      case None => Seq(s"unknown ${what.takeWhile(_ != ' ')} type '${cc.typ}' ($what)")
    }

  /** Transformer component check, shared by the linear and DAG validators. */
  private def checkTransformer(t: ComponentConfig, at: String): Seq[String] =
    Stages.find(t.typ).filter(_.batch) match {
      case Some(d) => d.errors(t.options, s"$at ${t.typ}")
      case None => Seq(s"$at: unknown type '${t.typ}'")
    }

  // ------------------------------------------------------------ building
  private[config] def strSeq(v: Any): Seq[String] = v match {
    case l: List[Any] @unchecked => l.map(_.toString)
    case s => Seq(s.toString)
  }
  private[config] def strMap(v: Any): Map[String, String] = v match {
    case m: Map[String, Any] @unchecked => m.map { case (k, vv) => k -> vv.toString }
  }

  /** A validated source's reader and sink's writer, for [[build]] and [[buildDag]]. */
  private def reader(cc: ComponentConfig): Endpoints.Reader =
    Endpoints.find(cc.typ).flatMap(_.source).get.make(cc.options)
  private def writer(cc: ComponentConfig): Endpoints.Writer =
    Endpoints.find(cc.typ).flatMap(_.sink).get.make(cc.options)

  /** Config → runnable [[Pipeline]] (mirrors build_pipeline,
    * config.py:231-378). Fails on validation errors.
    */
  def build(c: PipelineConfig): Pipeline = {
    val errs = validate(c)
    require(errs.isEmpty, s"invalid config: ${errs.mkString("; ")}")
    val b = new PipelineBuilder(c.name)
    b.fromSource(reader(c.source))
    c.transformers.foreach { t =>
      val d = Stages.find(t.typ).get
      b.add(d.frame(t.options), d.stageLabel)
    }
    c.schema.foreach(b.withSchema)
    b.toSink(writer(c.sink))
    b.build()
  }

  /** One-call load: YAML text → runnable pipeline. */
  def load(text: String, env: Map[String, String] = sys.env): Pipeline =
    build(parse(text, env))

  // ------------------------------------------------------------- DAG form
  /** One interior node of a `dag:` config: exactly one of `transform`,
    * `merge`, `branch` is set; `inputs` are upstream node refs (a branch
    * output is addressed as `id.true` / `id.false`).
    */
  final case class DagNodeConfig(
      id: String,
      inputs: Seq[String],
      transform: Option[ComponentConfig],
      merge: Option[Map[String, Any]],
      branch: Option[String])

  final case class DagConfig(
      name: String,
      sources: Seq[(String, ComponentConfig)],
      nodes: Seq[DagNodeConfig],
      sinks: Seq[(String, String, ComponentConfig)]) // (id, input ref, sink)
      extends AnyConfig

  /** Parse the `dag:` YAML form:
    * {{{
    * name: my_dag
    * dag:
    *   sources:
    *     orders:   {type: parquet, path: /data/orders.parquet}
    *     customer: {type: parquet, path: /data/customer.parquet}
    *   nodes:
    *     - id: big
    *       input: orders
    *       transform: {type: filter, condition: "o_totalprice > 1000"}
    *     - id: joined
    *       inputs: [big, customer]
    *       merge: {strategy: join, keys: [o_custkey], how: inner}
    *     - id: split
    *       input: joined
    *       branch: {condition: "c_acctbal > 0"}
    *   sinks:
    *     rich: {input: split.true,  type: parquet, path: /out/rich}
    *     poor: {input: split.false, type: parquet, path: /out/poor}
    * }}}
    * Node order in the YAML is declaration order only — execution order is
    * the DAG's topological sort.
    */
  def parseDag(text: String, env: Map[String, String] = sys.env): DagConfig =
    dagOf(root(text, env))

  private def dagOf(raw: Map[String, Any]): DagConfig = {
    val name = raw.getOrElse("name", "dag").toString
    val dag = mappingAt(raw, "dag", "dag config needs a 'dag' mapping")
    def section(key: String): Seq[(String, Map[String, Any])] = dag.get(key) match {
      case Some(m: Map[String, Any] @unchecked) => m.toSeq.sortBy(_._1).map {
        case (id, mm: Map[String, Any] @unchecked) => id -> mm
        case (id, other) => throw new IllegalArgumentException(s"$key '$id' must be a mapping: $other")
      }
      case None => Nil
      case other => throw new IllegalArgumentException(s"'$key' must be a mapping: $other")
    }
    val sources = section("sources").map { case (id, m) => id -> component(m, s"source $id") }
    require(sources.nonEmpty, "dag config needs at least one source")
    val nodes = dag.get("nodes") match {
      case Some(l: List[Any] @unchecked) => l.map {
        case m: Map[String, Any] @unchecked =>
          val id = m.getOrElse("id",
            throw new IllegalArgumentException("dag node is missing 'id'")).toString
          val inputs = (m.get("inputs"), m.get("input")) match {
            case (Some(l2: List[Any] @unchecked), _) => l2.map(_.toString)
            case (_, Some(s)) => Seq(s.toString)
            case _ => Nil
          }
          val transform = m.get("transform").map {
            case tm: Map[String, Any] @unchecked => component(tm, s"node $id transform")
            case other => throw new IllegalArgumentException(s"node $id 'transform' must be a mapping: $other")
          }
          val merge = m.get("merge").map {
            case mm: Map[String, Any] @unchecked => mm
            case other => throw new IllegalArgumentException(s"node $id 'merge' must be a mapping: $other")
          }
          val branch = m.get("branch").map {
            case bm: Map[String, Any] @unchecked => bm.getOrElse("condition",
              throw new IllegalArgumentException(s"node $id branch needs 'condition'")).toString
            case other => other.toString // `branch: "cond"` shorthand
          }
          DagNodeConfig(id, inputs, transform, merge, branch)
        case other => throw new IllegalArgumentException(s"dag node must be a mapping: $other")
      }
      case None => Nil
      case other => throw new IllegalArgumentException(s"'nodes' must be a list: $other")
    }
    val sinks = section("sinks").map { case (id, m) =>
      val input = m.getOrElse("input",
        throw new IllegalArgumentException(s"sink $id needs 'input'")).toString
      (id, input, component(m - "input", s"sink $id"))
    }
    require(sinks.nonEmpty, "dag config needs at least one sink")
    DagConfig(name, sources, nodes, sinks)
  }

  /** Error list for the DAG form: component-level checks here (shared with
    * the linear validator), structural checks (ports, arity, cycles) by
    * [[minietl.dag.PipelineDAG.validate]] after assembly in [[buildDag]].
    */
  def validateDag(c: DagConfig): Seq[String] = {
    val ids = c.sources.map(_._1) ++ c.nodes.map(_.id) ++ c.sinks.map(_._1)
    val dupErrs = ids.groupBy(identity).collect {
      case (id, occ) if occ.size > 1 => s"duplicate dag node id: $id"
    }.toSeq
    // '.' is the input-ref port separator ("branchId.true"), so a dotted id
    // would be misparsed into (from, port) by connectRef — reject at parse
    val dotErrs = ids.collect {
      case id if id.contains('.') =>
        s"dag node id may not contain '.': '$id' ('.' separates a branch " +
          "port in input refs)"
    }
    val srcErrs = c.sources.flatMap { case (id, cc) => endpointErrors(cc, s"source $id", _.source) }
    val nodeErrs = c.nodes.flatMap { n =>
      val kinds = Seq(n.transform.isDefined, n.merge.isDefined, n.branch.isDefined).count(identity)
      val shape =
        if (kinds != 1) Seq(s"node ${n.id}: exactly one of transform/merge/branch required")
        else Nil
      val tErrs = n.transform.toSeq.flatMap(t => checkTransformer(t, s"node ${n.id}"))
      val mErrs = n.merge.toSeq.flatMap { m =>
        m.getOrElse("strategy", "concat").toString.toLowerCase match {
          case "concat" | "union" => Nil
          case "join" =>
            if (m.get("keys").map(strSeq).exists(_.nonEmpty)) Nil
            else Seq(s"node ${n.id}: merge join needs 'keys'")
          case other => Seq(s"node ${n.id}: unknown merge strategy '$other'")
        }
      }
      val inErrs =
        if (n.merge.isDefined && n.inputs.size < 2)
          Seq(s"node ${n.id}: merge needs at least 2 inputs")
        else if (n.merge.isEmpty && n.inputs.size != 1)
          Seq(s"node ${n.id}: needs exactly one input")
        else Nil
      shape ++ tErrs ++ mErrs ++ inErrs
    }
    val sinkErrs = c.sinks.flatMap { case (id, _, cc) => endpointErrors(cc, s"sink $id", _.sink) }
    dupErrs ++ dotErrs ++ srcErrs ++ nodeErrs ++ sinkErrs
  }

  /** DagConfig → assembled [[minietl.dag.PipelineDAG]]. Component semantics
    * are identical to the linear build (same [[Endpoints]] and [[Stages]]);
    * the DAG contributes topology: merges (concat / union / equi-join fold),
    * true/false branch ports, many sources, many sinks. Run with
    * `dag.run(spark)` or embed one node via `dag.frame(spark, "id")`.
    */
  def buildDag(c: DagConfig): minietl.dag.PipelineDAG = {
    val errs = validateDag(c)
    require(errs.isEmpty, s"invalid dag config: ${errs.mkString("; ")}")
    val dag = new minietl.dag.PipelineDAG
    c.sources.foreach { case (id, cc) => dag.addSource(id, reader(cc)) }
    c.nodes.foreach { n =>
      n.transform.foreach(t => dag.addTransform(n.id, Stages.find(t.typ).get.frame(t.options)))
      n.merge.foreach { m =>
        val strategy = m.getOrElse("strategy", "concat").toString.toLowerCase match {
          case "concat" => minietl.dag.MergeStrategy.Concat
          case "union" => minietl.dag.MergeStrategy.Union
          case "join" => minietl.dag.MergeStrategy.Join(strSeq(m("keys")),
            m.getOrElse("how", "full_outer").toString)
        }
        dag.addMerge(n.id, strategy)
      }
      n.branch.foreach(cond =>
        dag.addBranch(n.id, org.apache.spark.sql.functions.expr(
          minietl.ops.ExpressionDialect.translate(cond))))
    }
    c.sinks.foreach { case (id, _, cc) => dag.addSink(id, writer(cc)) }
    def connectRef(ref: String, to: String): Unit = ref.split('.') match {
      case Array(from) => dag.connect(from, to); ()
      case Array(from, port) if port == "true" || port == "false" =>
        dag.connect(from, to, port); ()
      case Array(_, port) => throw new IllegalArgumentException(
        s"bad input ref '$ref': port must be 'true' or 'false', got '$port'")
      case _ => throw new IllegalArgumentException(s"bad input ref: $ref")
    }
    c.nodes.foreach(n => n.inputs.foreach(connectRef(_, n.id)))
    c.sinks.foreach { case (id, input, _) => connectRef(input, id) }
    val structural = dag.validate()
    require(structural.isEmpty, s"invalid dag structure: ${structural.mkString("; ")}")
    dag
  }

  /** One-call load of the `dag:` form: YAML text → assembled DAG. */
  def loadDag(text: String, env: Map[String, String] = sys.env): minietl.dag.PipelineDAG =
    buildDag(parseDag(text, env))

  // ---------------------------------------------------------- stream form
  /** The `stream:` YAML form — the config-level analog of the reference
    * Scheduler (SURVEY §2.9) done the Structured-Streaming way: instead of
    * a cron loop re-running a bounded pipeline, an unbounded file-stream
    * source with a trigger. Compiles onto the existing
    * [[minietl.streaming.Streaming]] helpers:
    * {{{
    * name: clicks
    * stream:
    *   source:
    *     type: parquet              # a stream source of [[Endpoints]]: a
    *                                #  file format, or rate | socket (fixed
    *                                #  schema, no path/schema keys; rate
    *                                #  options e.g. {rowsPerSecond: 100},
    *                                #  socket needs {host, port})
    *     path: /data/incoming
    *     schema:                    # REQUIRED: readStream never infers
    *       - {name: ts, dtype: timestamp}
    *       - {name: event_type, dtype: string}
    *       - {name: value, dtype: float64}
    *   watermark: {column: ts, delay: 10 minutes}
    *   stages:
    *     - {type: filter, condition: "value > 0"}       # any scan-side stage
    *     - type: window_agg                             # tumbling (or + slide:)
    *       window: 5 minutes
    *       keys: [event_type]
    *       aggregations: {value: [sum, count]}
    *   sink:
    *     type: parquet              # a file format, or memory
    *     path: /data/out            # memory: query_name instead
    *     checkpoint: /chk/clicks    # optional (scratch default)
    *     output_mode: append        # append | complete | update
    *     trigger: available_now     # or an interval: "30s", "5m"
    * }}}
    * Stream stages are the stream-only [[Stages]] (the watermarked ones
    * need the `watermark:` block; a history stage must be the last one and
    * needs a file sink, which it writes idempotently per micro-batch as
    * `path/batch=<id>` subdirectories, so reading the sink directory
    * surfaces an extra `batch` partition column) and the stateless
    * scan-side batch stages ([[streamableStageTypes]]), which apply
    * verbatim — the `DataFrame => DataFrame` contract is source-agnostic.
    */
  final case class StreamConfig(
      name: String,
      source: ComponentConfig,
      watermark: Option[(String, String)], // (column, delay)
      stages: Seq[ComponentConfig],
      sink: ComponentConfig) extends AnyConfig

  /** An assembled streaming pipeline: `frame` is the unstarted transformed
    * stream (compose further, or test its plan); `start` launches the
    * writeStream; `runAvailableNow` drains everything currently staged and
    * blocks until done (the bounded-replay path the reference Scheduler's
    * one-shot runs map to).
    */
  final case class StreamPipeline(
      name: String,
      frame: SparkSession => DataFrame,
      startWith: (SparkSession, Option[Trigger]) => StreamingQuery,
      afterDrain: Option[SparkSession => Unit] = None) {
    /** Launch the writeStream with the CONFIG's trigger. `afterDrain`
      * maintenance (digest compaction) does NOT run on this path — it is
      * only safe once the query has terminated.
      */
    def start(spark: SparkSession): StreamingQuery = startWith(spark, None)
    /** Drain everything currently staged and block until done — the
      * bounded-replay path the reference Scheduler's one-shot runs map to.
      * OVERRIDES the config's trigger with AvailableNow: an interval
      * trigger would never terminate, so `minietl run` on an interval
      * config would block in awaitTermination forever. Runs `afterDrain`
      * (e.g. `dedup_history`'s `compact_after`) once the drain has
      * terminated — the single-writer window compaction requires.
      */
    def runAvailableNow(spark: SparkSession): Unit = {
      startWith(spark, Some(minietl.streaming.Streaming.availableNowTrigger)).awaitTermination()
      afterDrain.foreach(f => f(spark))
    }
  }

  /** Batch transformer types that apply verbatim to an unbounded frame:
    * scan-side, stateless, no global sort/window/aggregate. (The stateful
    * ones have streaming-specific spellings — e.g. `dedupe` → `dedup`,
    * `aggregate` → `window_agg` — because unbounded semantics need a
    * watermark contract, not silent adoption.)
    */
  lazy val streamableStageTypes: Set[String] = Stages.all.flatMap { d =>
    d.form match {
      case Stages.Batch(_, true) => d.typ +: d.aliases
      case _ => Nil
    }
  }.toSet

  private def isHistory(typ: String): Boolean = Stages.find(typ).exists(_.history)

  /** Parse the `stream:` YAML form (see [[StreamConfig]]). */
  def parseStream(text: String, env: Map[String, String] = sys.env): StreamConfig =
    streamOf(root(text, env))

  private def streamOf(raw: Map[String, Any]): StreamConfig = {
    val name = raw.getOrElse("name", "stream").toString
    val st = mappingAt(raw, "stream", "stream config needs a 'stream' mapping")
    val source = component(mappingAt(st, "source", "stream config needs a 'source' mapping"), "stream source")
    val sink = component(mappingAt(st, "sink", "stream config needs a 'sink' mapping"), "stream sink")
    val watermark = st.get("watermark").map {
      case m: Map[String, Any] @unchecked =>
        (m.getOrElse("column",
          throw new IllegalArgumentException("watermark needs 'column'")).toString,
          m.getOrElse("delay",
            throw new IllegalArgumentException("watermark needs 'delay'")).toString)
      case other => throw new IllegalArgumentException(s"'watermark' must be a mapping: $other")
    }
    val stages = componentsAt(st, "stages", "stream stage", "stream stage")
    StreamConfig(name, source, watermark, stages, sink)
  }

  /** Error list for the stream form (same contract as [[validate]]). */
  def validateStream(c: StreamConfig): Seq[String] = {
    val (src, sink) = (c.source, c.sink)
    val srcErrs = Endpoints.find(src.typ).flatMap(_.streamSource) match {
      case Some(r) => r.errors(src.options, "stream source", streamSourceOpts)
      case None => Seq(s"stream source type '${src.typ}' is not a stream source " +
        s"(${Endpoints.types(_.streamSource).sorted.mkString("/")})")
    }
    val optErrs = Stages.valueErrors(streamSourceOpts, src.options, s"stream source ${src.typ}")
    val sinkRole = Endpoints.find(sink.typ).flatMap(_.streamSink)
    val stageErrs = c.stages.zipWithIndex.flatMap { case (s, i) =>
      val at = s"stream stage[$i] ${s.typ}"
      Stages.find(s.typ).map(d => (d, d.form)) match {
        case Some((d, Stages.Batch(_, true))) => d.errors(s.options, at)
        case Some((_, _: Stages.Batch)) =>
          Seq(s"$at: '${s.typ}' is not streamable (needs whole-input state; use the " +
            "watermarked streaming spelling if one exists, or a batch pipeline)")
        case Some((d, _: Stages.Watermarked)) =>
          d.errors(s.options, at) ++
            (if (c.watermark.isEmpty) Seq(s"$at: requires a 'watermark' block") else Nil)
        case Some((d, _: Stages.History)) =>
          // the self-maintaining ingest-dedup loops drop rows that
          // duplicate the parquet digest at 'history' (or earlier in the
          // batch), write survivors to the file sink, then append their
          // digest rows — so the digest grows by exactly what was admitted.
          // foreachBatch under the hood, hence the shared structural rules.
          val shared =
            (if (s.options.contains("history")) Nil
             else Seq(s"$at: missing 'history' (parquet digest path)")) ++
              (if (c.stages.count(t => isHistory(t.typ)) > 1)
                 Seq(s"$at: at most one history-dedup stage per stream")
               else if (!isHistory(c.stages.last.typ))
                 Seq(s"$at: must be the LAST stage (it couples the sink write " +
                   "with recording the admitted digest rows per micro-batch)")
               else Nil) ++
              (if (sinkRole.exists(!_.needsPath))
                 Seq(s"$at: requires a file sink (each micro-batch's survivors " +
                   "and their digest append are written together)")
               else Nil) ++
              // the loop writes through foreachBatch, which has no output
              // mode — accepting the option and ignoring it would let a
              // config run with different behavior than written
              (if (c.sink.options.contains("output_mode"))
                 Seq(s"$at: output_mode does not apply (the loop writes " +
                   "per-micro-batch through foreachBatch); remove it")
               else Nil)
          shared ++ d.errors(s.options, at)
        case None => Seq(s"$at: unknown type '${s.typ}'")
      }
    }
    val sinkErrs = sinkRole match {
      case Some(r) => r.errors(sink.options, s"stream sink ${sink.typ}", streamSinkOpts)
      case None => Seq(s"unknown stream sink type '${sink.typ}'")
    }
    srcErrs ++ optErrs ++ stageErrs ++ sinkErrs ++ Stages.valueErrors(streamSinkOpts, sink.options, "stream sink")
  }

  /** StreamConfig → assembled [[StreamPipeline]]. Fails on validation
    * errors. The source is `readStream` over the declared schema; stages
    * fold left over the unbounded frame; the sink is `writeStream` with the
    * configured mode/trigger/checkpoint.
    */
  def buildStream(c: StreamConfig): StreamPipeline = {
    val errs = validateStream(c)
    require(errs.isEmpty, s"invalid stream config: ${errs.mkString("; ")}")
    import minietl.streaming.Streaming
    val read = Endpoints.find(c.source.typ).get.streamSource.get.make(c.source.options, streamSourceOpts)
    val target = Endpoints.find(c.sink.typ).get.streamSink.get.make(c.sink.options, streamSinkOpts)
    val so = new Stages.Opts(streamSinkOpts, c.sink.options)
    val (mode, pcols) = (so.str("output_mode").toLowerCase, so.strs("partition_cols"))
    val trigger = so.str("trigger").toLowerCase match {
      case "available_now" => Streaming.availableNowTrigger
      case interval => Streaming.intervalTrigger(interval)
    }
    val wmCol = c.watermark.map(_._1).getOrElse("")
    // a history stage is not a frame transform: it compiles to the terminal
    // foreachBatch sink below; everything before it folds as usual
    val (historyStages, frameStages) = c.stages.partition(t => isHistory(t.typ))
    val stageFns: Seq[DataFrame => DataFrame] =
      frameStages.map { s =>
        val d = Stages.find(s.typ).get
        d.form match {
          case Stages.Watermarked(build) => build(d.opts(s.options), wmCol)
          case _ => d.frame(s.options)
        }
      }
    val history = historyStages.headOption.map { s =>
      val d = Stages.find(s.typ).get
      (d.opts(s.options), d.form.asInstanceOf[Stages.History])
    }
    val historyLoop = history.map { case (ho, h) => h.start(ho) }
    val frame = (spark: SparkSession) => {
      val src0 = read(spark)
      val src = c.watermark match {
        case Some((wc, delay)) => src0.withWatermark(wc, delay)
        case None => src0
      }
      stageFns.foldLeft(src)((df, f) => f(df))
    }
    val start = (spark: SparkSession, triggerOverride: Option[Trigger]) => {
      val trig = triggerOverride.getOrElse(trigger)
      val checkpoint = so.strOpt("checkpoint").getOrElse(
        java.nio.file.Files.createTempDirectory(s"minietl_stream_${c.name}_").toString)
      historyLoop match {
        case Some(loop) =>
          // idempotent by batchId (Streaming.batchOutputPath + overwrite):
          // a replayed batch rewrites its own batch=<id> subdir instead of
          // appending duplicates — the sink half of the loop's exactly-once
          // contract (the digest half lives in the loop's kernel).
          // Readers of the sink directory see a `batch` partition column.
          def writeBatch(dropCol: Option[String])(fresh: DataFrame, batchId: Long): Unit = {
            val w0 = dropCol.fold(fresh)(fresh.drop(_)).write.mode("overwrite")
            val w = if (pcols.nonEmpty) w0.partitionBy(pcols: _*) else w0
            w.format(target.format).options(target.options)
              .save(Streaming.batchOutputPath(target.path.get, batchId))
          }
          loop(Stages.HistoryRun(frame(spark), checkpoint, trig, writeBatch))
        case None =>
          val w0 = frame(spark).writeStream
            .outputMode(mode)
            .trigger(trig)
            .option("checkpointLocation", checkpoint)
          val w = (if (pcols.nonEmpty) w0.partitionBy(pcols: _*) else w0)
            .format(target.format).options(target.options)
          target.path.fold(w.start())(w.start)
      }
    }
    // compact_after: collapse the digest's per-batch appends once a
    // one-shot drain terminates (the single-writer window), for every digest
    // table the loop writes (the verified near-dup modes write two)
    val afterDrain = history.filter(_._1.flag("compact_after")).map { case (ho, h) =>
      val digests = h.digests(ho)
      (spark: SparkSession) => {
        digests.foreach(t => Streaming.compactHistoryCols(spark, t.dir, t.columns))
        ()
      }
    }
    StreamPipeline(c.name, frame, start, afterDrain)
  }

  /** One-call load of the `stream:` form. */
  def loadStream(text: String, env: Map[String, String] = sys.env): StreamPipeline =
    buildStream(parseStream(text, env))

  /** True when the YAML's root has a `stream:` mapping (the unbounded form). */
  def isStreamConfig(text: String, env: Map[String, String] = sys.env): Boolean = hasRootKey(text, env, "stream")

  /** True when the YAML's root has a `dag:` mapping (the multi-source form). */
  def isDagConfig(text: String, env: Map[String, String] = sys.env): Boolean = hasRootKey(text, env, "dag")

  private def hasRootKey(text: String, env: Map[String, String], key: String): Boolean =
    try root(text, env).contains(key) catch { case _: IllegalArgumentException => false }

  /** The registered type names by role, in registry order; a stage alias
    * follows its type after '|'. Transformers also serve as DAG transforms.
    */
  def registeredTypes: Seq[(String, Seq[String])] = {
    def stages(batch: Boolean) =
      Stages.all.filter(_.batch == batch).map(d => (d.typ +: d.aliases).mkString("|"))
    Seq("sources" -> Endpoints.types(_.source), "transformers" -> stages(batch = true),
      "sinks" -> Endpoints.types(_.sink), "stream sources" -> Endpoints.types(_.streamSource),
      "stream stages" -> stages(batch = false), "stream sinks" -> Endpoints.types(_.streamSink))
  }

  /** Sample config (reference: config.py:381-416 generate_sample_config). */
  val sample: String =
    """name: sample_pipeline
      |source:
      |  type: csv
      |  filepath: input.csv
      |transformers:
      |  - type: filter
      |    condition: "value > 100"
      |  - type: rename
      |    columns: {old_name: new_name}
      |  - type: cast
      |    columns: {value: float64}
      |sink:
      |  type: parquet
      |  filepath: output.parquet
      |  mode: overwrite
      |""".stripMargin
}
