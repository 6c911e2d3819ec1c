package minietl.config

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import minietl.pipeline.{Pipeline, PipelineBuilder}
import minietl.schema.{ColumnSpec, TableSchema}

/** The YAML/JSON pipeline config surface (reference: mini_etl/core/config.py).
  *
  * Registered types mirror the reference registries:
  *  - sources: csv, json, jsonl, parquet, orc, excel, sql, api
  *    (config.py:72-73, 264-297)
  *  - stages: the `transformers:` list of the linear form, the `transform:`
  *    of a DAG node and the `stages:` of the stream form all name types of
  *    one registry, [[Stages]]: the reference's transformers
  *    (config.py:81-87, 299-342), the training-data curation stages and the
  *    stream-only stages. Each type declares its options, defaults and
  *    checks once; [[validate]], [[warnings]] and [[build]] read them there.
  *  - sinks: csv, json, jsonl, parquet, orc, excel, sql (config.py:77-78, 344-378)
  * `excel` is a real source AND sink via the dependency-free XLSX subset
  * reader/writer ([[minietl.io.Excel]] — driver-buffered, like the
  * reference's pandas path); `api` is a real source
  * (ApiSource / RestDataSource).
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
  final case class PipelineConfig(
      name: String,
      source: ComponentConfig,
      transformers: Seq[ComponentConfig],
      sink: ComponentConfig,
      schema: Option[TableSchema] = None)

  private val sourceTypes = Set("csv", "json", "jsonl", "parquet", "orc", "excel", "sql", "api")
  private val sinkTypes = Set("csv", "json", "jsonl", "parquet", "orc", "excel", "sql")

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

  /** Parse YAML (JSON is a YAML subset) into the config model. */
  def parse(text: String, env: Map[String, String] = sys.env): PipelineConfig = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val raw = asScala(yaml.load[Any](substituteEnv(text, env))) match {
      case m: Map[String, Any] @unchecked => m
      case other => throw new IllegalArgumentException(s"config root must be a mapping, got $other")
    }
    val name = raw.getOrElse("name", "pipeline").toString
    val source = component(raw.get("source") match {
      case Some(m: Map[String, Any] @unchecked) => m
      case _ => throw new IllegalArgumentException("config needs a 'source' mapping")
    }, "source")
    val sink = component(raw.get("sink") match {
      case Some(m: Map[String, Any] @unchecked) => m
      case _ => throw new IllegalArgumentException("config needs a 'sink' mapping")
    }, "sink")
    val transformers = raw.get("transformers") match {
      case Some(l: List[Any] @unchecked) =>
        l.map {
          case m: Map[String, Any] @unchecked => component(m, "transformer")
          case other => throw new IllegalArgumentException(s"transformer entry must be a mapping: $other")
        }
      case None => Nil
      case other => throw new IllegalArgumentException(s"'transformers' must be a list: $other")
    }
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
    val srcErrs = checkEndpoint(c.source, "source")
    val sinkErrs = checkEndpoint(c.sink, "sink")
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
    * but measurably fragile.
    *
    *  - a `dsir_select` dim below 512 — the r15 nb_dsir_dim probe measured
    *    DSIR's top-k overlap vs dim=1024 at only ~20-36% for dims 64/256
    *    on a 1M-doc corpus (the hashed-feature log-ratio is dominated by
    *    collision noise at narrow widths), so a narrow dim silently
    *    selects a materially different corpus. NB routing is
    *    dim-INsensitive (99.98% identical predictions 64→1024), hence no
    *    analogous warning for `naive_bayes_filter`.
    *  - EXACT per-group percentile stages (`winsorize`,
    *    `impute strategy: median`, `mad_outlier_filter`, and a `median`
    *    aggregation fn): SQL `percentile` buffers every distinct value
    *    per group on one reducer, so a 100 TB group blows executor memory
    *    while the mergeable sketch twin
    *    ([[minietl.sketch.Sketches]] log-histogram / `approx_percentile`,
    *    battery q_quantile_sketch) streams in O(buckets). Sketch-backed
    *    aggregations (`approx_nunique`) stay silent — they ARE the
    *    recommended shape.
    */
  def warnings(c: PipelineConfig): Seq[String] =
    c.transformers.zipWithIndex.flatMap { case (t, i) =>
      Stages.find(t.typ).filter(_.batch).toSeq
        .flatMap(d => d.advice(d.opts(t.options), s"transformer[$i] ${t.typ}"))
    }

  /** Source/sink component check, shared by the linear and DAG validators.
    * `what` is "source" or "sink" (possibly suffixed with the node id).
    */
  private def checkEndpoint(cc: ComponentConfig, what: String): Seq[String] = {
    val kind = if (what.startsWith("source")) "source" else "sink"
    cc.typ match {
      case "api" if kind == "source" =>
        Seq(
          if (!cc.options.contains("url")) Some(s"$what api needs url") else None,
          cc.options.get("auth").collect {
            case m: Map[String, Any] @unchecked
              if !Set("basic", "bearer").contains(
                m.getOrElse("type", "").toString.toLowerCase) =>
              s"$what api auth type must be basic or bearer"
          },
          cc.options.get("pagination").collect {
            case m: Map[String, Any] @unchecked
              if !Set("page", "offset").contains(
                m.getOrElse("type", "").toString.toLowerCase) =>
              s"$what api pagination type must be page or offset"
          },
        ).flatten
      case "sql" =>
        Seq(
          if (!cc.options.contains("connection_string")) Some(s"$what sql needs connection_string") else None,
          if (kind == "source" && cc.options.contains("query") == cc.options.contains("table"))
            Some(s"$what sql needs exactly one of query/table") else None,
          if (kind == "sink" && !cc.options.contains("table")) Some(s"$what sql needs table") else None,
        ).flatten
      case t @ ("csv" | "json" | "jsonl") if kind == "source" =>
        // error-mode surface (reference's per-chunk skip story, SURVEY §7.6):
        // mode → Spark reader PERMISSIVE/DROPMALFORMED/FAILFAST;
        // schema (ordered column list, same shape as the top-level schema
        // block) → explicit reader StructType, killing the inference scan;
        // bad_records_path (csv, needs schema) → malformed-line capture.
        val needsPath =
          if (cc.options.contains("filepath") || cc.options.contains("path")) Nil
          else Seq(s"$what $t needs filepath")
        val modeErr = cc.options.get("mode").toSeq.flatMap { m =>
          if (Set("permissive", "dropmalformed", "failfast")(m.toString.toLowerCase)) Nil
          else Seq(s"$what $t mode must be permissive, dropmalformed or failfast")
        }
        val schemaErrs = cc.options.get("schema").toSeq.flatMap { v =>
          try readerSpecs(v).flatMap { cs =>
            try { cs.dataType; None }
            catch { case _: Exception =>
              Some(s"$what $t schema: unknown dtype '${cs.dtype}' for column '${cs.name}'") }
          }
          catch { case e: IllegalArgumentException => Seq(s"$what $t ${e.getMessage}") }
        }
        val brpErrs =
          if (!cc.options.contains("bad_records_path")) Nil
          else if (t != "csv")
            Seq(s"$what $t bad_records_path is only supported for csv sources")
          else if (!cc.options.contains("schema"))
            Seq(s"$what csv bad_records_path requires an explicit schema " +
              "(corrupt-line capture needs declared columns)")
          else if (cc.options.contains("mode"))
            // capture forces the PERMISSIVE read (a FAILFAST/DROPMALFORMED
            // read never surfaces the corrupt rows to capture) — a user
            // mode would be silently overridden, so reject the combination
            Seq(s"$what csv mode cannot be combined with bad_records_path " +
              "(the capture read is always PERMISSIVE; drop one of the two)")
          else Nil
        needsPath ++ modeErr ++ schemaErrs ++ brpErrs
      case t if (if (kind == "source") sourceTypes else sinkTypes).contains(t) =>
        if (cc.options.contains("filepath") || cc.options.contains("path")) Nil
        else Seq(s"$what $t needs filepath")
      case t => Seq(s"unknown $kind type '$t' ($what)")
    }
  }

  /** Transformer component check, shared by the linear and DAG validators. */
  private def checkTransformer(t: ComponentConfig, at: String): Seq[String] =
    Stages.find(t.typ).filter(_.batch) match {
      case Some(d) => d.errors(t.options, s"$at ${t.typ}")
      case None => Seq(s"$at: unknown type '${t.typ}'")
    }

  // ------------------------------------------------------------ building
  private def str(o: Map[String, Any], k: String): String = o(k).toString
  private def path(o: Map[String, Any]): String =
    o.get("filepath").orElse(o.get("path")).map(_.toString)
      .getOrElse(throw new IllegalArgumentException("needs filepath"))
  private[config] def strSeq(v: Any): Seq[String] = v match {
    case l: List[Any] @unchecked => l.map(_.toString)
    case s => Seq(s.toString)
  }
  private[config] def strMap(v: Any): Map[String, String] = v match {
    case m: Map[String, Any] @unchecked => m.map { case (k, vv) => k -> vv.toString }
  }

  /** Source-level reader schema: an ORDERED list of column mappings (the
    * same shape as the top-level `schema.columns` block). Order is
    * load-bearing — Spark's CSV reader matches an explicit schema to the
    * file positionally, not by header name.
    */
  private def readerSpecs(v: Any): Seq[ColumnSpec] = v match {
    case l: List[Any] @unchecked => l.map {
      case cm: Map[String, Any] @unchecked =>
        ColumnSpec(
          cm.getOrElse("name",
            throw new IllegalArgumentException("schema column needs 'name'")).toString,
          cm.getOrElse("dtype", "string").toString,
          cm.get("nullable").forall(_.toString.toBoolean))
      case other => throw new IllegalArgumentException(s"schema column must be a mapping: $other")
    }
    case other =>
      throw new IllegalArgumentException(s"schema must be a list of column mappings: $other")
  }

  private def readerSchema(v: Any): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(readerSpecs(v).map(_.field))

  /** `mode:` key → Spark reader option (validated upstream). */
  private def modeOpt(o: Map[String, Any]): Map[String, String] =
    o.get("mode").map(m => "mode" -> m.toString.toUpperCase).toMap

  /** Source component → reader function. Shared by the linear [[build]]
    * and the DAG [[buildDag]] so a source means the same thing in both
    * shapes. Assumes the component already passed validation.
    */
  private def sourceFn(cc: ComponentConfig): org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame = {
    import minietl.io.Readers
    val o = cc.options
    cc.typ match {
      case "csv" =>
        val userOpts = strMap(o.getOrElse("options", Map.empty[String, Any])) ++ modeOpt(o)
        val schema = o.get("schema").map(readerSchema)
        o.get("bad_records_path").map(_.toString) match {
          case Some(brp) =>
            // Malformed-line capture (the reference's skipped-chunk error
            // files, SURVEY §7.6): read PERMISSIVE with a corrupt-record
            // column appended to the declared schema, OVERWRITE `brp` with
            // the raw bad lines as JSONL, and flow clean rows on. Overwrite,
            // not append: each source materialization captures the same bad
            // lines, so append would duplicate them on every pipeline re-run
            // (or a DAG reading the source twice); the capture always
            // reflects the latest read of the file. Two scans of the source
            // (bad-write + downstream), NO cache — the scale-safe trade; the
            // corrupt column never escapes this function.
            s => {
              val corrupt = "_corrupt_record"
              val readSchema = schema.get.add(corrupt, org.apache.spark.sql.types.StringType)
              import org.apache.spark.sql.functions.col
              def read() = Readers.csv(s, path(o), schema = Some(readSchema),
                options = userOpts ++ Map(
                  "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corrupt))
              // rename on the way out: a literal `_corrupt_record` field
              // would re-trigger Spark's corrupt-column-only restriction
              // for whoever reads the capture file back
              read().filter(col(corrupt).isNotNull)
                .withColumnRenamed(corrupt, "bad_record")
                .write.mode("overwrite").json(brp)
              read().filter(col(corrupt).isNull).drop(corrupt)
            }
          case None =>
            s => Readers.csv(s, path(o), schema = schema, options = userOpts)
        }
      case "json" => s => Readers.json(s, path(o), lines = false,
        schema = o.get("schema").map(readerSchema),
        options = strMap(o.getOrElse("options", Map.empty[String, Any])) ++ modeOpt(o))
      case "jsonl" => s => Readers.json(s, path(o), lines = true,
        schema = o.get("schema").map(readerSchema),
        options = strMap(o.getOrElse("options", Map.empty[String, Any])) ++ modeOpt(o))
      case "parquet" => s => Readers.parquet(s, path(o),
        o.get("columns").map(strSeq).getOrElse(Nil))
      case "orc" => s => Readers.orc(s, path(o),
        o.get("columns").map(strSeq).getOrElse(Nil))
      case "excel" =>
        // sheet_name: Union[str, int] like the reference (extractors.py:170)
        val sheet = o.get("sheet_name").map(_.toString)
        val byIndex = sheet.flatMap(_.toIntOption)
        s => minietl.io.Excel.read(s, path(o),
          name = if (byIndex.isEmpty) sheet else None,
          index = byIndex.getOrElse(0))
      case "sql" => s => Readers.jdbc(s, str(o, "connection_string"),
        o.get("table").map(_.toString), o.get("query").map(_.toString))
      case "api" =>
        val pagination = o.get("pagination") match {
          case Some(m: Map[String, Any] @unchecked) =>
            m.getOrElse("type", "").toString.toLowerCase match {
              case "page" => minietl.io.ApiSource.Pagination.Page(
                pageParam = m.getOrElse("page_param", "page").toString,
                limitParam = m.getOrElse("limit_param", "limit").toString,
                limit = m.getOrElse("limit", 100).toString.toDouble.toInt,
                startPage = m.getOrElse("start_page", 1).toString.toDouble.toInt)
              case "offset" => minietl.io.ApiSource.Pagination.Offset(
                offsetParam = m.getOrElse("offset_param", "offset").toString,
                limitParam = m.getOrElse("limit_param", "limit").toString,
                limit = m.getOrElse("limit", 100).toString.toDouble.toInt)
            }
          case _ => minietl.io.ApiSource.Pagination.None_
        }
        val auth = o.get("auth") match {
          case Some(m: Map[String, Any] @unchecked) =>
            m.getOrElse("type", "").toString.toLowerCase match {
              case "basic" => minietl.io.ApiSource.Auth.Basic(
                str(m, "username"), str(m, "password"))
              case "bearer" => minietl.io.ApiSource.Auth.Bearer(str(m, "token"))
            }
          case _ => minietl.io.ApiSource.Auth.None_
        }
        s => minietl.io.ApiSource.fetch(s,
          url = str(o, "url"),
          params = o.get("params").map(strMap).getOrElse(Map.empty),
          headers = o.get("headers").map(strMap).getOrElse(Map.empty),
          dataPath = o.get("data_path").map(_.toString).getOrElse(""),
          pagination = pagination,
          auth = auth,
          timeoutSec = o.get("timeout").map(_.toString.toDouble.toInt).getOrElse(30))
    }
  }

  /** Sink component → writer function. Shared by [[build]] and [[buildDag]]. */
  private def sinkFn(cc: ComponentConfig): org.apache.spark.sql.DataFrame => Unit = {
    import minietl.io.Writers
    val o = cc.options
    val mode = o.get("mode").map(_.toString).getOrElse("overwrite")
    cc.typ match {
      case "csv" => df => Writers.csv(df, path(o), mode)
      case "json" | "jsonl" => df => Writers.json(df, path(o), mode)
      case "parquet" => df => Writers.parquet(df, path(o), mode,
        partitionBy = o.get("partition_cols").map(strSeq).getOrElse(Nil),
        maxRecordsPerFile = o.get("max_records_per_file")
          .map(_.toString.toDouble.toLong).getOrElse(0L))
      case "orc" => df => Writers.orc(df, path(o), mode,
        partitionBy = o.get("partition_cols").map(strSeq).getOrElse(Nil),
        maxRecordsPerFile = o.get("max_records_per_file")
          .map(_.toString.toDouble.toLong).getOrElse(0L))
      case "excel" => df => minietl.io.Excel.write(df, path(o),
        sheetName = o.get("sheet_name").map(_.toString).getOrElse("Sheet1"),
        mode = if (mode == "append") "append" else "overwrite")
      case "sql" => df => Writers.jdbc(df, str(o, "connection_string"),
        str(o, "table"), o.get("if_exists").map(_.toString).getOrElse("append"))
    }
  }

  /** Config → runnable [[Pipeline]] (mirrors build_pipeline,
    * config.py:231-378). Fails on validation errors.
    */
  def build(c: PipelineConfig): Pipeline = {
    val errs = validate(c)
    require(errs.isEmpty, s"invalid config: ${errs.mkString("; ")}")
    val b = new PipelineBuilder(c.name)
    b.fromSource(sourceFn(c.source))
    c.transformers.foreach { t =>
      val d = Stages.find(t.typ).get
      b.add(d.frame(t.options), d.stageLabel)
    }
    c.schema.foreach(b.withSchema)
    b.toSink(sinkFn(c.sink))
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
  def parseDag(text: String, env: Map[String, String] = sys.env): DagConfig = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val raw = asScala(yaml.load[Any](substituteEnv(text, env))) match {
      case m: Map[String, Any] @unchecked => m
      case other => throw new IllegalArgumentException(s"config root must be a mapping, got $other")
    }
    val name = raw.getOrElse("name", "dag").toString
    val dag = raw.get("dag") match {
      case Some(m: Map[String, Any] @unchecked) => m
      case _ => throw new IllegalArgumentException("dag config needs a 'dag' mapping")
    }
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
    val srcErrs = c.sources.flatMap { case (id, cc) => checkEndpoint(cc, s"source $id") }
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
    val sinkErrs = c.sinks.flatMap { case (id, _, cc) => checkEndpoint(cc, s"sink $id") }
    dupErrs ++ dotErrs ++ srcErrs ++ nodeErrs ++ sinkErrs
  }

  /** DagConfig → assembled [[minietl.dag.PipelineDAG]]. Component semantics
    * are identical to the linear build (same sourceFn, [[Stages]], sinkFn);
    * the DAG contributes topology: merges (concat / union / equi-join fold),
    * true/false branch ports, many sources, many sinks. Run with
    * `dag.run(spark)` or embed one node via `dag.frame(spark, "id")`.
    */
  def buildDag(c: DagConfig): minietl.dag.PipelineDAG = {
    val errs = validateDag(c)
    require(errs.isEmpty, s"invalid dag config: ${errs.mkString("; ")}")
    val dag = new minietl.dag.PipelineDAG
    c.sources.foreach { case (id, cc) => dag.addSource(id, sourceFn(cc)) }
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
    c.sinks.foreach { case (id, _, cc) => dag.addSink(id, sinkFn(cc)) }
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
    *     type: parquet              # csv | json | jsonl | parquet | orc
    *                                #  | rate | socket (non-file: fixed
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
    *     type: parquet              # csv | json | jsonl | parquet | orc | memory
    *     path: /data/out            # memory: query_name instead
    *     checkpoint: /chk/clicks    # optional (scratch default)
    *     output_mode: append        # append | complete | update
    *     trigger: available_now     # or an interval: "30s", "5m"
    * }}}
    * Streaming stage types: `window_agg` (tumbling; with `slide:` sliding),
    * `session_agg` (gap-merged), `dedup` (watermark-bounded exact dedup) —
    * each requires the `watermark:` block — and `dedup_history` /
    * `neardup_history` (the self-maintaining ingest-dedup loops over a
    * durable parquet digest: `history:` path plus `key:` XOR `columns:`
    * for exact, or `id:`/`column:`/`threshold:` for near-dup with an
    * optional `verify:` digest mode — false = band-collision drops,
    * true/estimate = k-lane-signature estimate re-check, exact = stored
    * shingle hashes re-checked with true Jaccard; must be the last stage,
    * file sinks only; optional `compact_after: true` rewrites the digest
    * as one deduplicated file set after each one-shot drain — see
    * [[minietl.streaming.Streaming.dedupAndRecordHistory]] /
    * [[minietl.streaming.Streaming.compactHistory]]) and
    * `media_hash_history` (`id:`/`content:`/`kind:` image|audio plus
    * `max_dist:` 0 = exact hash, 1..3 = hash-verified banded Hamming —
    * the perceptual-media twin, same structural rules; see
    * [[minietl.streaming.Streaming.mediaHashDedupAndRecordHistory]]).
    * History-stage sinks
    * are written idempotently per micro-batch as `path/batch=<id>`
    * subdirectories (exactly-once under crash/replay), so reading the
    * sink directory surfaces an extra `batch` partition column;
    * `output_mode` does not apply to them and is rejected at validation.
    * Stateless scan-side batch stages
    * ([[streamableStageTypes]]) apply verbatim — the `DataFrame =>
    * DataFrame` contract is source-agnostic by design.
    */
  final case class StreamConfig(
      name: String,
      source: ComponentConfig,
      watermark: Option[(String, String)], // (column, delay)
      stages: Seq[ComponentConfig],
      sink: ComponentConfig)

  /** An assembled streaming pipeline: `frame` is the unstarted transformed
    * stream (compose further, or test its plan); `start` launches the
    * writeStream; `runAvailableNow` drains everything currently staged and
    * blocks until done (the bounded-replay path the reference Scheduler's
    * one-shot runs map to).
    */
  final case class StreamPipeline(
      name: String,
      frame: org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame,
      startWith: (org.apache.spark.sql.SparkSession,
        Option[org.apache.spark.sql.streaming.Trigger]) => org.apache.spark.sql.streaming.StreamingQuery,
      afterDrain: Option[org.apache.spark.sql.SparkSession => Unit] = None) {
    /** Launch the writeStream with the CONFIG's trigger. `afterDrain`
      * maintenance (digest compaction) does NOT run on this path — it is
      * only safe once the query has terminated.
      */
    def start(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.streaming.StreamingQuery =
      startWith(spark, None)
    /** Drain everything currently staged and block until done — the
      * bounded-replay path the reference Scheduler's one-shot runs map to.
      * OVERRIDES the config's trigger with AvailableNow: an interval
      * trigger would never terminate, so `minietl run` on an interval
      * config would block in awaitTermination forever. Runs `afterDrain`
      * (e.g. `dedup_history`'s `compact_after`) once the drain has
      * terminated — the single-writer window compaction requires.
      */
    def runAvailableNow(spark: org.apache.spark.sql.SparkSession): Unit = {
      val q = startWith(spark,
        Some(minietl.streaming.Streaming.availableNowTrigger))
      q.awaitTermination()
      afterDrain.foreach(f => f(spark))
    }
  }

  private val streamSourceTypes = Set("csv", "json", "jsonl", "parquet", "orc")
  private val streamSinkTypes = Set("csv", "json", "jsonl", "parquet", "orc", "memory")
  /** Batch transformer types that apply verbatim to an unbounded frame:
    * scan-side, stateless, no global sort/window/aggregate. (The stateful
    * ones have streaming-specific spellings — e.g. `dedupe` → `dedup`,
    * `aggregate` → `window_agg` — because unbounded semantics need a
    * watermark contract, not silent adoption.)
    */
  val streamableStageTypes: Set[String] = Stages.all.flatMap { d =>
    d.form match {
      case Stages.Batch(_, true) => d.typ +: d.aliases
      case _ => Nil
    }
  }.toSet

  private def isHistory(typ: String): Boolean = Stages.find(typ).exists(_.history)

  /** Parse the `stream:` YAML form (see [[StreamConfig]]). */
  def parseStream(text: String, env: Map[String, String] = sys.env): StreamConfig = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val raw = asScala(yaml.load[Any](substituteEnv(text, env))) match {
      case m: Map[String, Any] @unchecked => m
      case other => throw new IllegalArgumentException(s"config root must be a mapping, got $other")
    }
    val name = raw.getOrElse("name", "stream").toString
    val st = raw.get("stream") match {
      case Some(m: Map[String, Any] @unchecked) => m
      case _ => throw new IllegalArgumentException("stream config needs a 'stream' mapping")
    }
    val source = component(st.get("source") match {
      case Some(m: Map[String, Any] @unchecked) => m
      case _ => throw new IllegalArgumentException("stream config needs a 'source' mapping")
    }, "stream source")
    val sink = component(st.get("sink") match {
      case Some(m: Map[String, Any] @unchecked) => m
      case _ => throw new IllegalArgumentException("stream config needs a 'sink' mapping")
    }, "stream sink")
    val watermark = st.get("watermark").map {
      case m: Map[String, Any] @unchecked =>
        (m.getOrElse("column",
          throw new IllegalArgumentException("watermark needs 'column'")).toString,
          m.getOrElse("delay",
            throw new IllegalArgumentException("watermark needs 'delay'")).toString)
      case other => throw new IllegalArgumentException(s"'watermark' must be a mapping: $other")
    }
    val stages = st.get("stages") match {
      case Some(l: List[Any] @unchecked) => l.map {
        case m: Map[String, Any] @unchecked => component(m, "stream stage")
        case other => throw new IllegalArgumentException(s"stream stage must be a mapping: $other")
      }
      case None => Nil
      case other => throw new IllegalArgumentException(s"'stages' must be a list: $other")
    }
    StreamConfig(name, source, watermark, stages, sink)
  }

  /** Error list for the stream form (same contract as [[validate]]). */
  def validateStream(c: StreamConfig): Seq[String] = {
    val srcErrs = c.source.typ match {
      // non-file sources — the streaming surface is not file-format-bound:
      // `rate` is Spark's built-in generator (fixed schema: timestamp
      // TIMESTAMP, value LONG; rows_per_second etc. under `options:`) and
      // `socket` reads lines from a TCP endpoint (fixed schema: value
      // STRING; needs options.host/options.port). Both stand in for a
      // message-bus source in environments without a broker — the
      // readStream plumbing is identical, only the format string changes.
      case "rate" =>
        (if (c.source.options.contains("schema"))
           Seq("stream source rate has a fixed schema (timestamp TIMESTAMP, " +
             "value LONG) — remove 'schema'")
         else Nil) ++
          (if (c.source.options.contains("filepath") || c.source.options.contains("path"))
             Seq("stream source rate takes no path") else Nil)
      case "socket" =>
        val so = strMap(c.source.options.getOrElse("options", Map.empty[String, Any]))
        (if (c.source.options.contains("schema"))
           Seq("stream source socket has a fixed schema (value STRING) — " +
             "remove 'schema'")
         else Nil) ++
          Seq("host", "port").filterNot(so.contains)
            .map(k => s"stream source socket needs options.$k")
      case t if !streamSourceTypes.contains(t) =>
        Seq(s"stream source type '$t' is not a stream source " +
          s"(${(streamSourceTypes + "rate" + "socket").toSeq.sorted.mkString("/")})")
      case _ =>
        val pathErr =
          if (c.source.options.contains("filepath") || c.source.options.contains("path")) Nil
          else Seq("stream source needs filepath")
        val schemaErrs = c.source.options.get("schema") match {
          case None => Seq("stream source needs an explicit 'schema' " +
            "(readStream never infers; an ordered column list like the batch reader schema)")
          case Some(v) =>
            try readerSpecs(v).flatMap { cs =>
              try { cs.dataType; None }
              catch { case _: Exception =>
                Some(s"stream source schema: unknown dtype '${cs.dtype}' for column '${cs.name}'") }
            }
            catch { case e: IllegalArgumentException => Seq(s"stream source ${e.getMessage}") }
        }
        pathErr ++ schemaErrs
    }
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
              (if (c.sink.typ == "memory")
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
    val sinkErrs = c.sink.typ match {
      case "memory" =>
        if (c.sink.options.contains("query_name")) Nil
        else Seq("stream memory sink needs query_name")
      case t if !streamSinkTypes.contains(t) =>
        Seq(s"unknown stream sink type '$t'")
      case _ =>
        (if (c.sink.options.contains("filepath") || c.sink.options.contains("path")) Nil
         else Seq(s"stream sink ${c.sink.typ} needs filepath")) ++
          // without a durable checkpoint every run starts from a fresh
          // offset log and REPROCESSES all input — silent duplication into
          // a file sink. Memory sinks are per-session scratch, so only
          // they get a generated default.
          (if (c.sink.options.contains("checkpoint")) Nil
           else Seq(s"stream sink ${c.sink.typ} needs a 'checkpoint' path " +
             "(exactly-once progress tracking; without it every run " +
             "re-ingests all input and duplicates output)"))
    }
    val modeErrs = c.sink.options.get("output_mode").toSeq.flatMap { m =>
      if (Set("append", "complete", "update")(m.toString.toLowerCase)) Nil
      else Seq(s"stream sink output_mode must be append, complete or update, got '$m'")
    }
    val triggerErrs = c.sink.options.get("trigger").toSeq.flatMap { t =>
      val s = t.toString.toLowerCase
      if (s == "available_now") Nil
      else scala.util.Try(minietl.scheduler.IntervalParser.toMillis(s)).toOption match {
        case Some(_) => Nil
        case None => Seq(s"stream sink trigger must be available_now or an " +
          s"interval like 30s/5m/1h, got '$t'")
      }
    }
    srcErrs ++ stageErrs ++ sinkErrs ++ modeErrs ++ triggerErrs
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
    val o = c.source.options
    // generator/endpoint sources carry their own fixed schema and no path
    val generatorSource = c.source.typ == "rate" || c.source.typ == "socket"
    val schema = if (generatorSource) null else readerSchema(o("schema"))
    val fmt = c.source.typ match {
      case "jsonl" => "json"
      case t => t
    }
    val wmCol = c.watermark.map(_._1).getOrElse("")
    // a history stage is not a frame transform: it compiles to the terminal
    // foreachBatch sink below; everything before it folds as usual
    val (historyStages, frameStages) = c.stages.partition(t => isHistory(t.typ))
    val stageFns: Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] =
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
    val frame = (spark: org.apache.spark.sql.SparkSession) => {
      val r0 = spark.readStream.format(fmt)
        .options(strMap(o.getOrElse("options", Map.empty[String, Any])))
      val src0 = if (generatorSource) r0.load() else r0.schema(schema).load(path(o))
      val src = c.watermark match {
        case Some((wc, delay)) => src0.withWatermark(wc, delay)
        case None => src0
      }
      stageFns.foldLeft(src)((df, f) => f(df))
    }
    val start = (spark: org.apache.spark.sql.SparkSession,
                 triggerOverride: Option[org.apache.spark.sql.streaming.Trigger]) => {
      val so = c.sink.options
      val trigger = triggerOverride.getOrElse(
        so.get("trigger").map(_.toString.toLowerCase) match {
          case None | Some("available_now") => Streaming.availableNowTrigger
          case Some(ivl) => Streaming.intervalTrigger(ivl)
        })
      val mode = so.get("output_mode").map(_.toString.toLowerCase).getOrElse("append")
      val checkpoint = so.get("checkpoint").map(_.toString).getOrElse(
        java.nio.file.Files.createTempDirectory(s"minietl_stream_${c.name}_").toString)
      historyLoop match {
        case Some(loop) =>
          // idempotent by batchId (Streaming.batchOutputPath + overwrite):
          // a replayed batch rewrites its own batch=<id> subdir instead of
          // appending duplicates — the sink half of the loop's exactly-once
          // contract (the digest half lives in the loop's kernel).
          // Readers of the sink directory see a `batch` partition column.
          def writeBatch(dropCol: Option[String])(
              fresh: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
            val out = dropCol.fold(fresh)(fresh.drop(_))
            val pcols = so.get("partition_cols").map(strSeq).getOrElse(Nil)
            val target = Streaming.batchOutputPath(path(so), batchId)
            val w0 = out.write.mode("overwrite")
            val w = if (pcols.nonEmpty) w0.partitionBy(pcols: _*) else w0
            c.sink.typ match {
              case "csv" => w.option("header", "true").csv(target)
              case "json" | "jsonl" => w.json(target)
              case "orc" => w.orc(target)
              case _ => w.parquet(target)
            }
          }
          loop(Stages.HistoryRun(frame(spark), checkpoint, trigger, writeBatch))
        case None =>
          val w0 = frame(spark).writeStream
            .outputMode(mode)
            .trigger(trigger)
            .option("checkpointLocation", checkpoint)
          // partition_cols: same layout control as the batch parquet/orc sink
          val w = so.get("partition_cols").map(strSeq) match {
            case Some(cols) if cols.nonEmpty => w0.partitionBy(cols: _*)
            case _ => w0
          }
          c.sink.typ match {
            case "memory" =>
              w.format("memory").queryName(str(so, "query_name")).start()
            case "jsonl" => w.format("json").start(path(so))
            case t => w.format(t).start(path(so))
          }
      }
    }
    // compact_after: collapse the digest's per-batch appends once a
    // one-shot drain terminates (the single-writer window), for every digest
    // table the loop writes (the verified near-dup modes write two)
    val afterDrain = history.filter(_._1.flag("compact_after")).map { case (ho, h) =>
      val digests = h.digests(ho)
      (spark: org.apache.spark.sql.SparkSession) => {
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
  def isStreamConfig(text: String, env: Map[String, String] = sys.env): Boolean =
    asScala(new org.yaml.snakeyaml.Yaml().load[Any](substituteEnv(text, env))) match {
      case m: Map[String, Any] @unchecked => m.contains("stream")
      case _ => false
    }

  /** True when the YAML's root has a `dag:` mapping (the multi-source form). */
  def isDagConfig(text: String, env: Map[String, String] = sys.env): Boolean =
    asScala(new org.yaml.snakeyaml.Yaml().load[Any](substituteEnv(text, env))) match {
      case m: Map[String, Any] @unchecked => m.contains("dag")
      case _ => false
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
