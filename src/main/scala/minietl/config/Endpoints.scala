package minietl.config

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import minietl.io.{ApiSource, Excel, Readers, Writers}
import minietl.schema.ColumnSpec

/** The YAML endpoint registry: one [[Endpoints.EndpointDef]] per source and
  * sink type, next to the stage registry [[Stages]]. A definition gives one
  * [[Endpoints.Role]] per form the type supports (batch source, batch sink,
  * stream source, stream sink); a role declares its options once, with the
  * stage registry's `Opt` machinery, and builds its reader or writer with
  * every option read at build time. The linear and DAG forms share the batch
  * roles, so a source means the same thing in both (the reference keeps one
  * registry per component kind, config.py:72-78, 264-297, 344-378).
  */
private[config] object Endpoints {
  import Stages._

  type Reader = SparkSession => DataFrame
  type Writer = DataFrame => Unit

  /** Where a stream sink writes: a format with its writer options, and the
    * path of a file sink.
    */
  final case class StreamTarget(format: String, options: Map[String, String], path: Option[String])

  /** One form of an endpoint type. `needsPath` requires `filepath` (or
    * `path`), and for a stream sink marks a file sink. Errors come in the
    * order the per-form checks always reported them: the path, missing
    * keys, bad values, the cross-key check, then the mapping options, whose
    * values pass on to Spark or HTTP as strings.
    */
  final case class Role[A](options: Seq[Opt], build: Opts => A, needsPath: Boolean = false,
                           check: Check = noCheck) {
    /** `shared` declares the options of the form that the form checks
      * itself, for every type; `check` and `build` can read them.
      */
    def errors(raw: Map[String, Any], at: String, shared: Seq[Opt] = Nil): Seq[String] = {
      val path =
        if (needsPath && !raw.contains("filepath") && !raw.contains("path")) Seq(s"$at needs filepath")
        else Nil
      val missing = options.filter(o => o.required && !raw.contains(o.key)).map(o => s"$at needs ${o.key}")
      val (maps, values) = options.partition(_.kind == TextMap)
      path ++ missing ++ valueErrors(values, raw, at) ++ check(new Opts(options ++ shared, raw), at) ++
        valueErrors(maps, raw, at)
    }
    def make(raw: Map[String, Any], shared: Seq[Opt] = Nil): A = build(new Opts(options ++ shared, raw))
  }

  final case class EndpointDef(typ: String, source: Option[Role[Reader]] = None, sink: Option[Role[Writer]] = None,
                               streamSource: Option[Role[Reader]] = None,
                               streamSink: Option[Role[StreamTarget]] = None)

  private val readerOptions = Opt("options", TextMap, Map.empty)
  /** Options of every stream source, checked for any type. */
  val streamSourceOpts: Seq[Opt] = Seq(readerOptions)

  /** Options of every stream sink, checked for any type. A memory sink gets
    * a scratch `checkpoint` by default; file sinks require one.
    */
  val streamSinkOpts: Seq[Opt] = Seq(Opt("checkpoint"),
    Opt("output_mode", default = "append", check = (m, at) =>
      if (Set("append", "complete", "update")(String.valueOf(m).toLowerCase)) Nil
      else Seq(s"$at output_mode must be append, complete or update, got '$m'")),
    Opt("trigger", default = "available_now", check = (t, at) => {
      val s = String.valueOf(t).toLowerCase
      if (s == "available_now" || Try(minietl.scheduler.IntervalParser.toMillis(s)).isSuccess) Nil
      else Seq(s"$at trigger must be available_now or an interval like 30s/5m/1h, got '$t'")
    }),
    // the same layout control as the batch parquet/orc sink
    Opt("partition_cols", Texts))

  private val pathOpts = Seq(Opt("filepath"), Opt("path"))
  private def path(o: Opts): String = o.strOpt("filepath").orElse(o.strOpt("path")).get

  /** A reader schema: an ORDERED list of column mappings (the shape of the
    * top-level `schema.columns` block). Order is load-bearing — Spark's CSV
    * reader matches an explicit schema to the file by position, not by
    * header name.
    */
  private def readerSpecs(v: Any): Seq[ColumnSpec] = v match {
    case l: List[Any] @unchecked => l.map {
      case cm: Map[String, Any] @unchecked =>
        ColumnSpec(
          cm.get("name").filter(_ != null).getOrElse(
            throw new IllegalArgumentException("schema column needs 'name'")).toString,
          String.valueOf(cm.getOrElse("dtype", "string")),
          cm.get("nullable").forall(_.toString.toBoolean))
      case other => throw new IllegalArgumentException(s"schema column must be a mapping: $other")
    }
    case other =>
      throw new IllegalArgumentException(s"schema must be a list of column mappings: $other")
  }
  private val schemaOpt = Opt("schema", check = (v, at) =>
    try readerSpecs(v).flatMap { cs =>
      try { cs.dataType; None }
      catch { case _: Exception => Some(s"$at schema: unknown dtype '${cs.dtype}' for column '${cs.name}'") }
    }
    catch { case e: IllegalArgumentException => Seq(s"$at ${e.getMessage}") })
  private def schema(o: Opts): Option[StructType] =
    o.get("schema").map(v => StructType(readerSpecs(v).map(_.field)))

  // ------------------------------------------------------- batch sources
  /** The text readers' error modes (the reference's per-chunk skip story,
    * SURVEY §7.6): Spark's reader `mode`, an explicit `schema` (no inference
    * scan), and csv's malformed-line capture `bad_records_path`.
    */
  private val readMode = Opt("mode", check = (m, at) =>
    if (Set("permissive", "dropmalformed", "failfast")(String.valueOf(m).toLowerCase)) Nil
    else Seq(s"$at mode must be permissive, dropmalformed or failfast"))
  private def userOptions(o: Opts): Map[String, String] =
    o.strMap("options") ++ o.strOpt("mode").map(m => "mode" -> m.toUpperCase)

  private val csvSource = Role[Reader](
    pathOpts ++ Seq(readMode, schemaOpt, Opt("bad_records_path"), readerOptions),
    o => {
      val (p, declared, opts) = (path(o), schema(o), userOptions(o))
      o.strOpt("bad_records_path") match {
        case Some(brp) =>
          // Malformed-line capture (the reference's skipped-chunk error
          // files): read PERMISSIVE with a corrupt-record column, OVERWRITE
          // `brp` with the bad lines as JSONL (each read captures the same
          // lines, so append would duplicate them), flow clean rows on.
          val corrupt = "_corrupt_record"
          val readSchema = declared.get.add(corrupt, org.apache.spark.sql.types.StringType)
          val captureOpts = opts ++ Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corrupt)
          s => {
            import org.apache.spark.sql.functions.col
            def read() = Readers.csv(s, p, schema = Some(readSchema), options = captureOpts)
            // renamed: a `_corrupt_record` field would re-trigger Spark's
            // corrupt-column-only restriction for whoever reads the capture
            read().filter(col(corrupt).isNotNull)
              .withColumnRenamed(corrupt, "bad_record")
              .write.mode("overwrite").json(brp)
            read().filter(col(corrupt).isNull).drop(corrupt)
          }
        case None => s => Readers.csv(s, p, schema = declared, options = opts)
      }
    },
    needsPath = true,
    check = (o, at) =>
      if (!o.has("bad_records_path")) Nil
      else if (!o.has("schema"))
        Seq(s"$at bad_records_path requires an explicit schema (corrupt-line capture needs declared columns)")
      else if (o.has("mode"))
        Seq(s"$at mode cannot be combined with bad_records_path " +
          "(the capture read is always PERMISSIVE; drop one of the two)")
      else Nil)

  private def jsonSource(lines: Boolean) = Role[Reader](
    pathOpts ++ Seq(readMode, schemaOpt,
      Opt("bad_records_path", check = (_, at) => Seq(s"$at bad_records_path is only supported for csv sources")),
      readerOptions),
    o => {
      val (p, declared, opts) = (path(o), schema(o), userOptions(o))
      s => Readers.json(s, p, lines = lines, schema = declared, options = opts)
    },
    needsPath = true)

  private def columnarSource(read: (SparkSession, String, Seq[String]) => DataFrame) = Role[Reader](
    pathOpts :+ Opt("columns", Texts),
    o => { val (p, cols) = (path(o), o.strs("columns")); s => read(s, p, cols) },
    needsPath = true)

  /** A mapping option checked for null values, then by `f`; any other value
    * is ignored, as the reader always did.
    */
  private def mapping(key: String)(f: (Map[String, Any], String) => Seq[String]): Opt =
    Opt(key, check = {
      case (m: Map[String, Any] @unchecked, at) => TextMap.errors(key, m, at) ++ f(m, at)
      case _ => Nil
    })
  private def numeric(m: Map[String, Any], keys: Seq[String], at: String): Seq[String] =
    keys.flatMap(k => m.get(k).filter(v => Try(v.toString.toDouble).isFailure)
      .map(v => s"$at $k must be numeric, got '$v'"))

  private val apiSource = Role[Reader](
    Seq(Opt("url", required = true),
      mapping("auth")((m, at) => String.valueOf(m.getOrElse("type", "")).toLowerCase match {
        case "basic" => Seq("username", "password").filterNot(m.contains).map(k => s"$at auth basic needs $k")
        case "bearer" => if (m.contains("token")) Nil else Seq(s"$at auth bearer needs token")
        case _ => Seq(s"$at auth type must be basic or bearer")
      }),
      mapping("pagination")((m, at) => String.valueOf(m.getOrElse("type", "")).toLowerCase match {
        case "page" => numeric(m, Seq("limit", "start_page"), s"$at pagination")
        case "offset" => numeric(m, Seq("limit"), s"$at pagination")
        case _ => Seq(s"$at pagination type must be page or offset")
      }),
      Opt("data_path", default = ""), Opt("timeout", Num(Double.NegativeInfinity, Double.PositiveInfinity), 30),
      Opt("params", TextMap, Map.empty), Opt("headers", TextMap, Map.empty)),
    o => {
      def sub(key: String) = o.get(key).collect { case m: Map[_, _] => Config.strMap(m).withDefault(_ => "") }
      def int(m: Map[String, String], k: String, default: Int) = m.get(k).fold(default)(_.toDouble.toInt)
      val pagination = sub("pagination").fold[ApiSource.Pagination](ApiSource.Pagination.None_) { m =>
        m("type").toLowerCase match {
          case "page" => ApiSource.Pagination.Page(m.getOrElse("page_param", "page"),
            m.getOrElse("limit_param", "limit"), int(m, "limit", 100), int(m, "start_page", 1))
          case "offset" => ApiSource.Pagination.Offset(m.getOrElse("offset_param", "offset"),
            m.getOrElse("limit_param", "limit"), int(m, "limit", 100))
        }
      }
      val auth = sub("auth").fold[ApiSource.Auth](ApiSource.Auth.None_) { m =>
        if (m("type").toLowerCase == "basic") ApiSource.Auth.Basic(m("username"), m("password"))
        else ApiSource.Auth.Bearer(m("token"))
      }
      val (url, params, headers) = (o.str("url"), o.strMap("params"), o.strMap("headers"))
      val (dataPath, timeout) = (o.str("data_path"), o.int("timeout"))
      s => ApiSource.fetch(s, url = url, params = params, headers = headers, dataPath = dataPath,
        pagination = pagination, auth = auth, timeoutSec = timeout)
    })

  // --------------------------------------------------------- batch sinks
  /** A Spark save mode as [[Writers.saveMode]] reads it; `allowed` narrows
    * the modes a writer supports.
    */
  private def saveMode(key: String, default: String, allowed: Set[SaveMode] = SaveMode.values.toSet,
                       expected: String = "overwrite, append, error or ignore") =
    Opt(key, default = default, check = (v, at) =>
      if (Try(Writers.saveMode(String.valueOf(v))).toOption.exists(allowed)) Nil
      else Seq(s"$at: '$key' must be $expected, got '$v'"))
  private val writeMode = saveMode("mode", "overwrite")

  private def fileSink(extra: Seq[Opt], mode: Opt = writeMode)(write: (Opts, String, String) => Writer) =
    Role[Writer](pathOpts ++ (mode +: extra), o => write(o, path(o), o.str("mode")), needsPath = true)
  private def columnarSink(write: (DataFrame, String, String, Seq[String], Long) => Unit) =
    fileSink(Seq(Opt("partition_cols", Texts),
      Opt("max_records_per_file", Num(Double.NegativeInfinity, Double.PositiveInfinity), 0))) { (o, p, m) =>
      val (cols, maxRecords) = (o.strs("partition_cols"), o.num("max_records_per_file").toLong)
      df => write(df, p, m, cols, maxRecords)
    }

  // -------------------------------------------------------------- streams
  /** A file format's stream roles: readStream needs a path and an explicit
    * schema; a sink needs a path and a checkpoint. `defaults` go to the
    * stream reader (a source's `options` override them) and to both stream
    * writers.
    */
  private def fileStreamSource(format: String, defaults: Map[String, String]) = Role[Reader](
    pathOpts :+ schemaOpt,
    o => {
      val (p, declared, opts) = (path(o), schema(o).get, defaults ++ o.strMap("options"))
      s => s.readStream.format(format).options(opts).schema(declared).load(p)
    },
    needsPath = true,
    check = (o, at) =>
      if (o.has("schema")) Nil
      else Seq(s"$at needs an explicit 'schema' (readStream never infers; an ordered column list " +
        "like the batch reader schema)"))
  private def fileStreamSink(format: String, defaults: Map[String, String]) = Role[StreamTarget](
    pathOpts,
    o => StreamTarget(format, defaults, Some(path(o))),
    needsPath = true,
    check = (o, at) =>
      if (o.has("checkpoint")) Nil
      else Seq(s"$at needs a 'checkpoint' path (exactly-once progress tracking; without it " +
        "every run re-ingests all input and duplicates output)"))

  private def file(typ: String, source: Role[Reader], sink: Role[Writer])(
      format: String = typ, defaults: Map[String, String] = Map.empty) =
    EndpointDef(typ, Some(source), Some(sink),
      Some(fileStreamSource(format, defaults)), Some(fileStreamSink(format, defaults)))

  /** A stream source with a fixed schema and no path, standing in for a
    * message bus: the readStream plumbing is the same, only the format differs.
    */
  private def generator(typ: String, columns: String, extra: Seq[Opt] = Nil, check: Check = noCheck) =
    EndpointDef(typ, streamSource = Some(Role[Reader](
      Opt("schema", check = (_, at) => Seq(s"$at $typ has a fixed schema ($columns) — remove 'schema'")) +: extra,
      o => { val opts = o.strMap("options"); s => s.readStream.format(typ).options(opts).load() },
      check = check)))

  val all: Seq[EndpointDef] = Seq(
    // csv reads and writes a header line in every form
    file("csv", csvSource, fileSink(Nil)((_, p, m) => df => Writers.csv(df, p, m)))(
      defaults = Map("header" -> "true")),
    // batch json reads whole-file arrays (multiLine), jsonl one object per
    // line; a stream json source reads JSONL, and every json writer writes it
    file("json", jsonSource(lines = false), fileSink(Nil)((_, p, m) => df => Writers.json(df, p, m)))("json"),
    file("jsonl", jsonSource(lines = true), fileSink(Nil)((_, p, m) => df => Writers.json(df, p, m)))("json"),
    // the batch writers force snappy; the stream writers keep Spark's
    // default compression
    file("parquet", columnarSource(Readers.parquet),
      columnarSink((df, p, m, cols, n) => Writers.parquet(df, p, m, partitionBy = cols, maxRecordsPerFile = n)))(),
    file("orc", columnarSource(Readers.orc),
      columnarSink((df, p, m, cols, n) => Writers.orc(df, p, m, partitionBy = cols, maxRecordsPerFile = n)))(),
    // a dependency-free XLSX subset, buffered on the driver like the
    // reference's pandas path; sheet_name is a name or an index
    // (extractors.py:170)
    EndpointDef("excel",
      source = Some(Role[Reader](pathOpts :+ Opt("sheet_name"), o => {
        val (p, sheet) = (path(o), o.strOpt("sheet_name"))
        val byIndex = sheet.flatMap(_.toIntOption)
        s => Excel.read(s, p, name = if (byIndex.isEmpty) sheet else None, index = byIndex.getOrElse(0))
      }, needsPath = true)),
      sink = Some(fileSink(Seq(Opt("sheet_name", default = "Sheet1")),
        saveMode("mode", "overwrite", Set(SaveMode.Overwrite, SaveMode.Append), "overwrite or append")) { (o, p, m) =>
        val (sheet, append) = (o.str("sheet_name"), Writers.saveMode(m) == SaveMode.Append)
        df => Excel.write(df, p, sheetName = sheet, mode = if (append) "append" else "overwrite")
      })),
    EndpointDef("sql",
      source = Some(Role[Reader](Seq(Opt("connection_string", required = true), Opt("table"), Opt("query")),
        o => {
          val (url, table, query) = (o.str("connection_string"), o.strOpt("table"), o.strOpt("query"))
          s => Readers.jdbc(s, url, table, query)
        },
        check = (o, at) =>
          if (o.has("query") == o.has("table")) Seq(s"$at needs exactly one of query/table") else Nil)),
      sink = Some(Role[Writer](
        Seq(Opt("connection_string", required = true), Opt("table", required = true),
          saveMode("if_exists", "append")),
        o => {
          val (url, table, ifExists) = (o.str("connection_string"), o.str("table"), o.str("if_exists"))
          df => Writers.jdbc(df, url, table, ifExists)
        }))),
    EndpointDef("api", source = Some(apiSource)),
    // Spark's generator: rows_per_second etc. go under `options:`
    generator("rate", "timestamp TIMESTAMP, value LONG", pathOpts,
      (o, at) => if (o.has("filepath") || o.has("path")) Seq(s"$at rate takes no path") else Nil),
    // lines from a TCP endpoint
    generator("socket", "value STRING", check = (o, at) => {
      val keys = o.get("options").collect { case m: Map[String, Any] @unchecked => m.keySet }
        .getOrElse(Set.empty[String])
      Seq("host", "port").filterNot(keys.contains).map(k => s"$at socket needs options.$k")
    }),
    // a per-session table; `queryName` is the writer option that
    // DataStreamWriter.queryName sets
    EndpointDef("memory", streamSink = Some(Role[StreamTarget](
      Seq(Opt("query_name")),
      o => StreamTarget("memory", Map("queryName" -> o.str("query_name")), None),
      check = (o, _) => if (o.has("query_name")) Nil else Seq("stream memory sink needs query_name"))))
  )

  private val byName: Map[String, EndpointDef] = all.map(d => d.typ -> d).toMap

  def find(typ: String): Option[EndpointDef] = byName.get(typ)

  /** The types that have a role `of`, in declaration order. */
  def types(of: EndpointDef => Option[Role[_]]): Seq[String] = all.filter(of(_).isDefined).map(_.typ)
}
