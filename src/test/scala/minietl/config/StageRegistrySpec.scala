package minietl.config

import scala.util.Try

import minietl.SparkTestBase
import minietl.config.Config.{ComponentConfig, PipelineConfig, StreamConfig}
import minietl.pipeline.PipelineBuilder
import org.scalatest.funsuite.AnyFunSuite

class StageRegistrySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import Stages._

  private val source = ComponentConfig("parquet", Map("filepath" -> "in"))
  private val sink = ComponentConfig("parquet", Map("filepath" -> "out"))
  private val streamSource = ComponentConfig("parquet", Map("path" -> "in",
    "schema" -> List(Map("name" -> "id", "dtype" -> "string"),
      Map("name" -> "ts", "dtype" -> "timestamp"))))
  private val streamSink = ComponentConfig("parquet", Map("path" -> "out", "checkpoint" -> "chk"))

  /** validate's errors for one stage, and a thunk that builds it: a batch
    * pipeline, or a stream for the stream-only types.
    */
  private def forms(d: StageDef, raw: Map[String, Any]): (Seq[String], () => Any) = {
    val stage = ComponentConfig(d.typ, raw)
    if (d.batch) {
      val c = PipelineConfig("t", source, Seq(stage), sink)
      (Config.validate(c), () => Config.build(c))
    } else {
      val c = StreamConfig("t", streamSource, Some(("ts", "1 minute")), Seq(stage), streamSink)
      (Config.validateStream(c), () => Config.buildStream(c))
    }
  }

  /** A value every check of its option accepts. */
  private def sample(o: Opt): Any = o.key match {
    case "quantiles" => List("0.5")
    case "kind" => "image"
    case "strategy" => "mode"
    case "fractions" => Map("a" -> "0.5")
    case _ => o.kind match {
      case Text | Texts => "x"
      case TextMap => Map("a" -> "sum")
      case Flag | Flags => true
      case Num(min, max, _) => if (min <= 0 && max >= 0) 0 else min
    }
  }

  /** What a type needs beyond its required options to validate. */
  private def minimal(d: StageDef): Map[String, Any] =
    d.options.filter(_.required).map(o => o.key -> sample(o)).toMap ++
      (if (d.history) Map("history" -> "h") else Map.empty) ++
      (if (d.typ == "dedup_history") Map("key" -> "fp") else Map.empty)

  test("stage type names are registered once, and the streamable set is the " +
    "scan-side stateless one") {
    val names = Stages.all.flatMap(d => d.typ +: d.aliases)
    assert(names.distinct === names)
    assert(Config.streamableStageTypes === Set("filter", "rename", "select", "drop", "cast",
      "fillna", "expression", "hash_sample", "pii_redact", "quality_filter", "gopher_filter",
      "normalize_text", "feature_hash", "squeeze_repeats", "dedup_lines"))
  }

  test("a config validate passes builds: every stage type from its required " +
    "options, then each option given a value of the wrong kind") {
    val wrong: Seq[Any] = Seq(List("a", "b"), "maybe", Map("a" -> List("b")), null)
    val failures = Stages.all.flatMap { d =>
      val base = minimal(d)
      val (errs, build) = forms(d, base)
      assert(errs === Nil, s"${d.typ}'s minimal config: $errs")
      build()
      for {
        o <- d.options
        v <- wrong
        (wrongErrs, wrongBuild) = forms(d, base + (o.key -> v))
        if wrongErrs.isEmpty
        err <- Try(wrongBuild()).failed.toOption
      } yield s"${d.typ} ${o.key}=$v: validate clean, build threw $err"
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  /** Each endpoint form: its role, the options the form checks itself, and
    * validate's errors plus a build thunk for a config with the endpoint in it.
    */
  private val endpointForms: Seq[(String, Endpoints.EndpointDef => Option[Endpoints.Role[_]], Seq[Opt],
      ComponentConfig => (Seq[String], () => Any))] = Seq(
    ("source", _.source, Nil, cc => {
      val c = PipelineConfig("t", cc, Nil, sink); (Config.validate(c), () => Config.build(c))
    }),
    ("sink", _.sink, Nil, cc => {
      val c = PipelineConfig("t", source, Nil, cc); (Config.validate(c), () => Config.build(c))
    }),
    ("stream source", _.streamSource, Endpoints.streamSourceOpts, cc => {
      val c = StreamConfig("t", cc, None, Nil, streamSink); (Config.validateStream(c), () => Config.buildStream(c))
    }),
    ("stream sink", _.streamSink, Endpoints.streamSinkOpts, cc => {
      val c = StreamConfig("t", streamSource, None, Nil, cc); (Config.validateStream(c), () => Config.buildStream(c))
    }))

  /** What an endpoint form needs to validate: its required keys, a path,
    * and what its cross-key check asks for.
    */
  private def minimal(form: String, typ: String, r: Endpoints.Role[_]): Map[String, Any] =
    r.options.filter(_.required).map(_.key -> "x").toMap ++
      (if (r.needsPath) Map("path" -> "p") else Map.empty) ++ ((form, typ) match {
        case ("source", "sql") => Map("table" -> "t")
        case ("stream source", "socket") => Map("options" -> Map("host" -> "h", "port" -> "1"))
        case ("stream source", _) if r.needsPath => Map("schema" -> List(Map("name" -> "a", "dtype" -> "string")))
        case ("stream sink", "memory") => Map("query_name" -> "q")
        case ("stream sink", _) => Map("checkpoint" -> "c")
        case _ => Map.empty
      })

  test("endpoint type names are registered once, and info's type list is both registries") {
    val names = Endpoints.all.map(_.typ)
    assert(names.distinct === names)
    val listed = Config.registeredTypes.flatMap(_._2).flatMap(_.split('|')).toSet
    assert(listed === (names ++ Stages.all.flatMap(d => d.typ +: d.aliases)).toSet)
  }

  test("an endpoint config validate passes builds: every form of every source " +
    "and sink type, then each option given a value of the wrong kind") {
    val wrong: Seq[Any] = Seq(List("a", "b"), "maybe", Map("a" -> List("b")), null)
    val failures = for {
      d <- Endpoints.all
      (form, role, shared, config) <- endpointForms
      r <- role(d).toSeq
      base = minimal(form, d.typ, r)
      _ = {
        val (errs, build) = config(ComponentConfig(d.typ, base))
        assert(errs === Nil, s"${d.typ} $form's minimal config: $errs")
        build()
      }
      o <- r.options ++ shared
      v <- wrong
      (wrongErrs, wrongBuild) = config(ComponentConfig(d.typ, base + (o.key -> v)))
      if wrongErrs.isEmpty
      err <- Try(wrongBuild()).failed.toOption
    } yield s"${d.typ} $form ${o.key}=$v: validate clean, build threw $err"
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("wrong-kind values that once passed validate and threw in build are " +
    "validate errors") {
    def batch(stage: String) = Config.validate(Config.parse(
      s"""source: {type: parquet, filepath: in}
         |transformers:
         |  - $stage
         |sink: {type: parquet, filepath: out}
         |""".stripMargin))
    assert(batch("{type: aggregate, aggregations: nope}") ===
      Seq("transformer[0] aggregate: 'aggregations' must be a mapping, got 'nope'"))
    assert(batch("{type: rename, columns: [a, b]}") ===
      Seq("transformer[0] rename: 'columns' must be a mapping, got 'List(a, b)'"))
    assert(batch("{type: cast, columns: [a, b]}") ===
      Seq("transformer[0] cast: 'columns' must be a mapping, got 'List(a, b)'"))
    assert(batch("{type: filter, condition: }") ===
      Seq("transformer[0] filter: 'condition' has no value"))
    assert(batch("{type: rename, columns: {a: }}") ===
      Seq("transformer[0] rename: 'columns' has no value for 'a'"))
    assert(batch("{type: sort, by: [a, b], ascending: maybe}") ===
      Seq("transformer[0] sort: 'ascending' must be true or false, got 'maybe'"))
    assert(batch("{type: minhash_dedup, text: t, key: id, transitive: maybe}") ===
      Seq("transformer[0] minhash_dedup: 'transitive' must be true or false, got 'maybe'"))
    assert(batch("{type: span_dedup, text: t, key: id, fixpoint: maybe}") ===
      Seq("transformer[0] span_dedup: 'fixpoint' must be true or false, got 'maybe'"))
    assert(Config.validateStream(Config.parseStream(
      """stream:
        |  source: {type: parquet, path: in, schema: [{name: fp, dtype: string}]}
        |  stages:
        |    - {type: dedup_history, history: h, key: fp, compact_after: maybe}
        |  sink: {type: parquet, path: out, checkpoint: chk}
        |""".stripMargin)) ===
      Seq("stream stage[0] dedup_history: 'compact_after' must be true or false, got 'maybe'"))
  }

  test("a reader's 'options', 'params' or 'headers' that is not a mapping is a " +
    "validate error") {
    assert(Config.validateStream(Config.parseStream(
      """stream:
        |  source: {type: socket, options: [a]}
        |  stages:
        |    - {type: filter, condition: "value > 1"}
        |  sink: {type: parquet, path: out, checkpoint: chk}
        |""".stripMargin)) === Seq(
      "stream source socket needs options.host",
      "stream source socket needs options.port",
      "stream source socket: 'options' must be a mapping, got 'List(a)'"))
    assert(Config.validateStream(Config.parseStream(
      """stream:
        |  source: {type: parquet, path: in, schema: [{name: v, dtype: long}], options: x}
        |  stages:
        |    - {type: filter, condition: "v > 1"}
        |  sink: {type: parquet, path: out, checkpoint: chk}
        |""".stripMargin)) ===
      Seq("stream source parquet: 'options' must be a mapping, got 'x'"))
    def batch(source: String) = Config.validate(Config.parse(
      s"""source: $source
         |transformers:
         |  - {type: filter, condition: "v > 1"}
         |sink: {type: parquet, filepath: out}
         |""".stripMargin))
    assert(batch("{type: csv, filepath: in, options: [a, b]}") ===
      Seq("source csv: 'options' must be a mapping, got 'List(a, b)'"))
    assert(batch("{type: jsonl, filepath: in, options: {sep: }}") ===
      Seq("source jsonl: 'options' has no value for 'sep'"))
    assert(batch("{type: api, url: u, params: [a], headers: h}") === Seq(
      "source api: 'params' must be a mapping, got 'List(a)'",
      "source api: 'headers' must be a mapping, got 'h'"))
    assert(batch("{type: json, filepath: in, options: {multiLine: true}}") === Nil)
  }

  test("impute with an unknown strategy is a validate error") {
    def errs(strategy: String) = Config.validate(Config.parse(
      s"""source: {type: parquet, filepath: in}
         |transformers:
         |  - {type: impute, group_by: [g], value: v, strategy: $strategy}
         |sink: {type: parquet, filepath: out}
         |""".stripMargin))
    assert(errs("bogus") ===
      Seq("transformer[0] impute: strategy must be 'median' or 'mode', got 'bogus'"))
    assert(errs("median") === Nil && errs("mode") === Nil)
  }

  test("the builder methods and the YAML stages give the same rows: " +
    "sigma/mad outlier filters and top_p_select") {
    val df = ((1L to 20L).map(i => (i, "g", 10.0 + (i % 3), i % 4)) ++
      Seq((98L, "g", 10000.0, 1L), (99L, "h", 5.0, 2L), (100L, "h", 6.0, 2L)))
      .toDF("id", "grp", "v", "mass")
    val in = java.nio.file.Files.createTempDirectory("minietl-stages").toString + "/in"
    df.write.parquet(in)
    def yaml(stage: String): Seq[org.apache.spark.sql.Row] =
      Config.build(Config.parse(
        s"""source: {type: parquet, filepath: $in}
           |transformers:
           |  - $stage
           |sink: {type: parquet, filepath: unused}
           |""".stripMargin)).frame(spark).orderBy("id").collect().toSeq
    def builder(f: PipelineBuilder => PipelineBuilder): Seq[org.apache.spark.sql.Row] =
      f(new PipelineBuilder().fromParquet(in)).build().frame(spark).orderBy("id").collect().toSeq
    val sigma = builder(_.sigmaOutlierFilter(Seq("grp"), "v", 3))
    assert(sigma.size === 22 && !sigma.exists(_.getAs[Long]("id") == 98L))
    assert(yaml("{type: sigma_outlier_filter, group_by: [grp], value: v, k: 3}") === sigma)
    val mad = builder(_.madOutlierFilter(Seq("grp"), "v", 3))
    assert(!mad.exists(_.getAs[Long]("id") == 98L))
    assert(yaml("{type: mad_outlier_filter, group_by: [grp], value: v, k: 3}") === mad)
    val top = builder(_.topPSelect("grp", "mass", 5000, "id"))
    assert(top.nonEmpty && top.size < 23)
    assert(yaml("{type: top_p_select, strata: grp, mass: mass, p_basis_points: 5000, " +
      "tie_break: id}") === top)
  }
}
