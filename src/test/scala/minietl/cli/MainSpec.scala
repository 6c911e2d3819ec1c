package minietl.cli

import java.nio.file.Files

import minietl.SparkTestBase
import minietl.config.Config
import minietl.io.{Readers, Writers}
import org.scalatest.funsuite.AnyFunSuite

class MainSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("minietl-cli").toString

  test("init writes the sample config; refuses to overwrite") {
    val p = s"${tmp()}/cfg.yaml"
    val (c1, out1) = Main.execute(Seq("init", p), () => spark)
    assert(c1 === 0 && out1.contains(p))
    val (c2, _) = Main.execute(Seq("init", p), () => spark)
    assert(c2 === 1)
  }

  test("validate flags bad configs and accepts good ones") {
    val bad = s"${tmp()}/bad.yaml"
    Files.write(java.nio.file.Paths.get(bad),
      "source: {type: teleport}\nsink: {type: csv, filepath: /x}\n".getBytes)
    val (code, out) = Main.execute(Seq("validate", bad), () => spark)
    assert(code === 1 && out.contains("teleport"))
  }

  test("run executes a config end-to-end and reports stats") {
    val dir = tmp()
    Writers.csv(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"), s"$dir/in")
    val cfg = s"$dir/p.yaml"
    Files.write(java.nio.file.Paths.get(cfg),
      s"""name: cli_e2e
         |source: {type: csv, filepath: $dir/in}
         |transformers:
         |  - {type: cast, columns: {id: int64}}
         |  - {type: filter, condition: "id >= 2"}
         |sink: {type: parquet, filepath: $dir/out}
         |""".stripMargin.getBytes)
    val (code, out) = Main.execute(Seq("run", cfg), () => spark)
    assert(code === 0, out)
    assert(out.contains("2 rows"))
    assert(Readers.parquet(spark, s"$dir/out").count() === 2)
  }

  test("run and validate route dag: configs through the DAG build") {
    val dir = tmp()
    Writers.parquet(Seq((1, 10.0), (2, 20.0)).toDF("k", "v"), s"$dir/a")
    Writers.parquet(Seq((1, "x"), (2, "y")).toDF("k", "n"), s"$dir/b")
    val cfg = s"$dir/d.yaml"
    Files.write(java.nio.file.Paths.get(cfg),
      s"""name: cli_dag
         |dag:
         |  sources:
         |    a: {type: parquet, path: $dir/a}
         |    b: {type: parquet, path: $dir/b}
         |  nodes:
         |    - id: j
         |      inputs: [a, b]
         |      merge: {strategy: join, keys: [k], how: inner}
         |  sinks:
         |    out: {input: j, type: parquet, path: $dir/out}
         |""".stripMargin.getBytes)
    val (vc, vout) = Main.execute(Seq("validate", cfg), () => spark)
    assert(vc === 0, vout)
    val (code, out) = Main.execute(Seq("run", cfg), () => spark)
    assert(code === 0, out)
    assert(out.contains("dag 'cli_dag' complete") && out.contains("out=2 rows"))
    assert(Readers.parquet(spark, s"$dir/out").count() === 2)
  }

  test("run and validate route stream: configs through the stream build") {
    val dir = tmp()
    Writers.parquet(
      Seq((java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), "a", 1.0),
        (java.sql.Timestamp.valueOf("2026-01-01 10:01:00"), "a", 2.0))
        .toDF("ts", "k", "v"), s"$dir/in")
    val cfg = s"$dir/s.yaml"
    Files.write(java.nio.file.Paths.get(cfg),
      s"""name: cli_stream
         |stream:
         |  source:
         |    type: parquet
         |    path: $dir/in
         |    schema:
         |      - {name: ts, dtype: timestamp}
         |      - {name: k, dtype: string}
         |      - {name: v, dtype: float64}
         |  watermark: {column: ts, delay: 0 seconds}
         |  stages:
         |    - {type: dedup, keys: [k]}
         |  sink:
         |    type: parquet
         |    path: $dir/out
         |    checkpoint: $dir/chk
         |    partition_cols: [k]
         |""".stripMargin.getBytes)
    val (vc, vout) = Main.execute(Seq("validate", cfg), () => spark)
    assert(vc === 0, vout)
    val (code, out) = Main.execute(Seq("run", cfg), () => spark)
    assert(code === 0, out)
    assert(out.contains("stream 'cli_stream' drained"))
    assert(Readers.parquet(spark, s"$dir/out").count() === 1)
    // partition_cols produced the hive-style layout
    assert(new java.io.File(s"$dir/out/k=a").isDirectory)
  }

  test("the committed embedding-curation example (projection + semdedup) " +
    "validates and runs") {
    val dir = tmp()
    import spark.implicits._
    // rows 1/2 identical in R^64 (identical projections — the map is
    // linear), 3..6 mutually far; nlist: auto at this size derives 1
    val base = (0 until 64).map(i => if (i == 0) 1.0f else 0.05f * (i % 3))
    def far(s: Int) = (0 until 64).map(i =>
      if (i % 7 == s % 7) 1.0f else 0.01f * ((i + s) % 5))
    Seq((1L, base), (2L, base), (3L, far(1)), (4L, far(2)),
        (5L, far(3)), (6L, far(4)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val env = Map("CORPUS_DIR" -> dir, "OUT_DIR" -> s"$dir/out")
    val text = new String(Files.readAllBytes(
      java.nio.file.Paths.get("examples/embedding_curation.yaml")), "UTF-8")
    val cfg = minietl.config.Config.parse(text, env)
    assert(minietl.config.Config.validate(cfg).isEmpty)
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    minietl.config.Config.build(cfg).run(spark)
    assert(spark.sparkContext.getPersistentRDDs.keySet === pinnedBefore,
      "the embedding-curation run must leave zero cache pins behind")
    val kept = Readers.parquet(spark, s"$dir/out/deduped")
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 4L, 5L, 6L),
      s"exact dup 2 must fold into 1 after projection; got $kept")
  }

  test("the committed curation example (trained stages) validates and runs") {
    val dir = tmp()
    // two separable language vocabularies + one mislabeled doc (en text,
    // fr label → naive_bayes_filter must drop it) + a near-dup pair
    // (minhash_dedup keeps the smaller id)
    val en = (1L to 12L).map { i =>
      val filler = (1L to 40L).map(j => f"en${(i * 11 + j) % 53}%02d").mkString(" ")
      (i, s"the cat and the dog sat with $filler", "en", "web")
    }
    val fr = (21L to 32L).map { i =>
      val filler = (1L to 40L).map(j => f"fr${(i * 13 + j) % 53}%02d").mkString(" ")
      (i, s"le chat et le chien dort avec $filler", "fr", "web")
    }
    val mislabeled = (40L, s"the cat and the dog sat with " +
      (1L to 40L).map(j => f"en${(11 + j) % 53}%02d").mkString(" "), "fr", "web")
    val dup = (41L, en.head._2 + " tail", "en", "web")
    (en ++ fr :+ mislabeled :+ dup)
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val env = Map("CORPUS_DIR" -> dir, "OUT_DIR" -> s"$dir/out")
    val text = new String(Files.readAllBytes(
      java.nio.file.Paths.get("examples/curation_pipeline.yaml")), "UTF-8")
    val cfg = minietl.config.Config.parse(text, env)
    assert(minietl.config.Config.validate(cfg).isEmpty)
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    minietl.config.Config.build(cfg).run(spark)
    assert(spark.sparkContext.getPersistentRDDs.keySet === pinnedBefore,
      "the curation run must leave zero cache pins behind")
    val out = Readers.parquet(spark, s"$dir/out/curated")
    import spark.implicits._
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(40L), "mislabeled doc must be NB-filtered")
    assert(!kept.contains(41L), "near-dup must lose to doc 1")
    assert(kept.contains(1L))
    assert(kept.nonEmpty && kept.size <= 24)
  }

  test("the committed example pipeline validates and runs end-to-end") {
    val dir = tmp()
    // tiny corpus exercising every stage: stutter, dup lines, short docs,
    // a benchmark copy, two sources for the temperature mix
    val docs = (1L to 30L).map { i =>
      // Gopher-compliant synthetic text: stopwords present, mean word
      // length in [3, 10]; trailing "end end" stutter for squeeze_repeats
      val filler = (1L to 60L).map(j => f"wd${(i * 7 + j) % 97}%02d").mkString(" ")
      val words = s"the start of this and that with $filler end end"
      (i, words, "en", if (i % 2 == 0) "web" else "books")
    }
    (docs :+ (99L, "too short", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    Seq(Tuple1("completely unrelated benchmark text with rare words"))
      .toDF("text").write.parquet(s"$dir/benchmark.parquet")
    val env = Map("CORPUS_DIR" -> dir, "OUT_DIR" -> s"$dir/out")
    val text = new String(Files.readAllBytes(
      java.nio.file.Paths.get("examples/training_data_pipeline.yaml")), "UTF-8")
    val cfg = minietl.config.Config.parse(text, env)
    assert(minietl.config.Config.validate(cfg).isEmpty)
    // the full training-data run must leave zero cache pins behind
    // (lm_surprise's eager checkpoint registers with the run's RunCaches
    // scope and is released when the sink completes)
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    minietl.config.Config.build(cfg).run(spark)
    assert(spark.sparkContext.getPersistentRDDs.keySet === pinnedBefore)
    val out = Readers.parquet(spark, s"$dir/out/cleaned")
    // the short doc is gone; the survivors carry the cleaned text
    assert(out.count() > 0 && out.count() <= 30)
    assert(out.filter(org.apache.spark.sql.functions.col("doc_id") === 99L).count() === 0)
    import spark.implicits._
    assert(out.select("text").as[String].collect().forall(!_.contains("end end")))
  }

  test("the committed stream example validates and drains end-to-end") {
    val dir = tmp()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    // the 10:20 heartbeat pushes the closing watermark to 10:10, past the
    // [10:00, 10:05) window's end — append mode emits only FINALIZED
    // windows, so without it the drain would (correctly) emit nothing
    Seq((ts(0), 1L, "click", 2.0), (ts(1), 1L, "click", 3.0), // dup event_id
      (ts(2), 2L, "view", -1.0), (ts(3), 3L, "click", 5.0),
      (ts(20), 9L, "hb", 1.0))
      .toDF("ts", "event_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events")
    val env = Map("EVENTS_DIR" -> s"$dir/events", "OUT_DIR" -> s"$dir/out")
    val text = new String(Files.readAllBytes(
      java.nio.file.Paths.get("examples/stream_ingest.yaml")), "UTF-8")
    val cfg = minietl.config.Config.parseStream(text, env)
    assert(minietl.config.Config.validateStream(cfg).isEmpty)
    minietl.config.Config.buildStream(cfg).runAvailableNow(spark)
    // negative value filtered; dup event_id collapsed; single 5-min window
    // for the three surviving clicks... wait: dedup keeps one of the two
    // event_id=1 rows (ts 10:00 or 10:01 — same window either way)
    val rolls = Readers.parquet(spark, s"$dir/out/rollups")
    assert(rolls.count() === 1)
    val r = rolls.select("event_type", "value_count").collect()(0)
    assert(r.getString(0) === "click" && r.getLong(1) === 2L)
  }

  test("the committed ingest-dedup stream example drains and maintains its digest") {
    val dir = tmp()
    Seq((1L, "alpha doc", "web"), (2L, "beta doc", "web"),
        (3L, "beta doc", "books"), (4L, "", "web"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$dir/docs")
    val env = Map("DOCS_DIR" -> s"$dir/docs", "OUT_DIR" -> s"$dir/out")
    val text = new String(Files.readAllBytes(
      java.nio.file.Paths.get("examples/stream_ingest_dedup.yaml")), "UTF-8")
    val cfg = minietl.config.Config.parseStream(text, env)
    assert(minietl.config.Config.validateStream(cfg).isEmpty)
    minietl.config.Config.buildStream(cfg).runAvailableNow(spark)
    import spark.implicits._
    // empty doc filtered; duplicate "beta doc" collapsed to first sight
    val corpus = Readers.parquet(spark, s"$dir/out/corpus")
      .select("text").as[String].collect().sorted.toSeq
    assert(corpus === Seq("alpha doc", "beta doc"))
    // one digest row per admitted document
    assert(spark.read.parquet(s"$dir/out/digest").count() === 2L)
  }

  test("info lists registered types; unknown command prints usage") {
    val (c, out) = Main.execute(Seq("info"), () => spark)
    val listed = out.split("[\\s,:|]+").toSet
    val names = Config.registeredTypes.flatMap(_._2).flatMap(_.split('|'))
    assert(c === 0 && names.nonEmpty && names.filterNot(listed).isEmpty, out)
    assert(Seq("minhash_dedup", "quantile_sketch", "rate", "socket", "memory", "dedup_history",
      "group").forall(listed))
    val (cu, usage) = Main.execute(Seq("wat"), () => spark)
    assert(cu === 2 && usage.contains("usage"))
  }
}
