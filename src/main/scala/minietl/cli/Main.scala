package minietl.cli

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import minietl.config.Config

/** Thin CLI over the config surface (reference: mini_etl/cli.py:15-256 —
  * run / validate / init / info; `ui` is a non-goal, the Spark UI exists).
  * Core logic lives in [[execute]] so it is testable without a process
  * boundary; `main` only owns the exit code.
  */
object Main {

  val usage: String =
    """usage: minietl <command> [args]
      |  run <config.yaml>       load, validate, build and execute a pipeline
      |  validate <config.yaml>  check a config; prints errors or 'valid'
      |  init <config.yaml>      write a sample config
      |  info                    list registered source/transformer/sink types
      |""".stripMargin

  /** Returns (exitCode, output). */
  def execute(args: Seq[String], spark: () => SparkSession): (Int, String) =
    args.toList match {
      case "run" :: path :: Nil =>
        val cfg = Config.parseAny(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
        val errs = errors(cfg)
        if (errs.nonEmpty) (1, errs.mkString("invalid config:\n  ", "\n  ", ""))
        else cfg match {
          case c: Config.StreamConfig =>
            // run drains what is currently staged (AvailableNow semantics —
            // the one-shot run the reference Scheduler's cron maps to); a
            // long-lived interval-trigger deployment calls
            // Config.loadStream(...).start(spark) and manages the query
            Config.buildStream(c).runAvailableNow(spark())
            (0, s"stream '${c.name}' drained available input")
          case c: Config.DagConfig =>
            val counts = Config.buildDag(c).run(spark())
            (0, s"dag '${c.name}' complete: " +
              counts.toSeq.sortBy(_._1).map { case (k, n) => s"$k=$n rows" }.mkString(", "))
          case c: Config.PipelineConfig =>
            val stats = Config.build(c).run(spark())
            (0, f"pipeline '${c.name}' complete: ${stats.rows} rows in " +
              f"${stats.durationSec}%.2fs (${stats.rowsPerSecond}%.0f rows/sec)")
        }
      case "validate" :: path :: Nil =>
        val cfg = Config.parseAny(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
        val errs = errors(cfg)
        // warnings never fail validation — they print, the exit code stays 0
        val warnLines = (cfg match {
          case c: Config.PipelineConfig => Config.warnings(c)
          case _ => Nil
        }).map("WARNING: " + _)
        if (errs.isEmpty) (0, ("valid" +: warnLines).mkString("\n"))
        else (1, (errs ++ warnLines).mkString("\n"))
      case "init" :: path :: Nil =>
        if (Files.exists(Paths.get(path))) (1, s"$path already exists")
        else {
          Files.write(Paths.get(path), Config.sample.getBytes("UTF-8"))
          (0, s"wrote sample config to $path")
        }
      case "info" :: Nil =>
        val types = Config.registeredTypes.map { case (role, names) => listing(f"  ${role + ":"}%-17s", names) }
        (0, ("minietl-spark" +: types :+
          """  dag form:        a `dag:` root key declares multi-source graphs
            |                   (transform/merge/branch nodes, many sinks)
            |  stream form:     a `stream:` root key declares an unbounded pipeline
            |                   (watermark, stream stages, trigger, checkpoint)""".stripMargin)
          .mkString("\n"))
      case _ => (2, usage)
    }

  private def errors(cfg: Config.AnyConfig): Seq[String] = cfg match {
    case c: Config.StreamConfig => Config.validateStream(c)
    case c: Config.DagConfig => Config.validateDag(c)
    case c: Config.PipelineConfig => Config.validate(c)
  }

  /** `names` after `label`, comma-separated, wrapped before column 80. */
  private def listing(label: String, names: Seq[String]): String =
    names.tail.foldLeft(label + names.head) { (text, name) =>
      val full = text.length - text.lastIndexOf('\n') + name.length > 78
      text + (if (full) ",\n" + " " * label.length else ", ") + name
    }

  def main(args: Array[String]): Unit = {
    val (code, out) = execute(args.toSeq, () => {
      val s = SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    })
    println(out)
    if (code != 0) sys.exit(code)
  }
}
