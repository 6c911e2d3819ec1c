package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs, all derived from the committed `documents` table.
  *
  * A corpus of any size is built from renamed replicas of base documents.
  * Replica k appends its own two-letter alphabetic suffix to every token that
  * is not an English stop word, and moves ids by k * 2^40. Because all
  * suffixes have the same length, two replicas never share a suffixed
  * token, so they share no shingle that holds a content word, and their ids
  * never overlap. Stop words stay as they are and every token stays
  * alphabetic, so a replica passes the Gopher stop-word and alpha-word rules
  * exactly as its base document does, and replica documents reach every
  * later stage of the training pipeline.
  */
object Inputs {

  val ReplicaStride: Long = 1L << 40

  /** Distinct two-letter suffixes, one per replica, in seeded order. */
  def suffixes(seed: Long, replicas: Int): IndexedSeq[String] = {
    val codes = for (a <- 'a' to 'z'; b <- 'a' to 'z') yield s"$a$b"
    require(replicas >= 1 && replicas <= codes.size,
      s"replicas must be in 1..${codes.size}, got $replicas")
    new scala.util.Random(seed).shuffle(codes).take(replicas)
  }

  /** `n` base documents chosen by seed (all of them when `n` is larger). */
  def sample(docs: DataFrame, seed: Long, n: Int): DataFrame =
    docs.orderBy(xxhash64(col("doc_id"), lit(seed))).limit(n)

  /** `replicas` renamed copies of (doc_id, text, lang, source) rows. */
  def replicate(base: DataFrame, seed: Long, replicas: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val reps = suffixes(seed, replicas).zipWithIndex
      .map { case (s, k) => (k.toLong, s) }.toDF("__k", "__sfx")
    val stop = minietl.text.TextAnalysis.enStopwords.map(w => s"'$w'").mkString("array(", ", ", ")")
    base.crossJoin(broadcast(reps)).select(
      (col("doc_id") + col("__k") * lit(ReplicaStride)).as("doc_id"),
      expr(s"array_join(transform(split(text, ' '), " +
        s"t -> IF(array_contains($stop, t), t, concat(t, __sfx))), ' ')").as("text"),
      col("lang"), col("source"))
  }

  def documents(spark: SparkSession, dataDir: Path): DataFrame =
    spark.read.parquet(dataDir.resolve("documents.parquet").toString)
      .select("doc_id", "text", "lang", "source")

  /** Writes the training-pipeline inputs under `dir`: `documents.parquet`
    * (`replicas` copies of `baseDocs` seeded base documents, in one file per
    * core, as a parallel reader would find them) and `benchmark.parquet`
    * (the evaluation texts for decontamination: 4% of the corpus, chosen by
    * seed). Returns the number of corpus documents.
    */
  def writeCorpus(spark: SparkSession, dataDir: Path, dir: Path, seed: Long,
                  baseDocs: Int, replicas: Int): Long = {
    val docs = replicate(sample(documents(spark, dataDir), seed, baseDocs), seed, replicas)
      .withColumn("n_chars", length(col("text")).cast("long"))
    val path = dir.resolve("documents.parquet").toString
    docs.repartitionByRange(spark.sparkContext.defaultParallelism, col("doc_id"))
      .write.mode("overwrite").parquet(path)
    val corpus = spark.read.parquet(path)
    val n = corpus.count()
    sample(corpus, seed ^ 0x5eedL, math.max(1, (n / 25).toInt)).select("text")
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("benchmark.parquet").toString)
    n
  }

  /** Stages `files` small parquet files of (doc_id, text, source) for the
    * ingest stream into `holding`, named 0.parquet, 1.parquet, ... Each file
    * holds `freshPerFile` documents not seen before plus, from the second
    * file on, a quarter as many exact re-ingests of earlier texts under fresh
    * ids, so about 20% of rows repeat an earlier text. Returns the rows per file.
    */
  def stageIngest(spark: SparkSession, dataDir: Path, holding: Path, seed: Long,
                  files: Int, freshPerFile: Int): IndexedSeq[Long] = {
    val base = documents(spark, dataDir)
    val baseCount = base.count().toInt
    val replicas = (files.toLong * freshPerFile / baseCount + 1).toInt
    val fresh = replicate(base, seed, replicas)
      .orderBy(xxhash64(col("doc_id"), lit(seed)))
      .limit(files * freshPerFile)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    require(fresh.length == files * freshPerFile, "base corpus too small for the ingest stream")
    val rnd = new scala.util.Random(seed)
    val reingestId = Iterator.from(0).map(i => 1000L * ReplicaStride + i)
    val rows = (0 until files).flatMap { f =>
      val own = fresh.slice(f * freshPerFile, (f + 1) * freshPerFile)
      val again = if (f == 0) Nil else Seq.fill(freshPerFile / 4) {
        val (_, text, source) = fresh(rnd.nextInt(f * freshPerFile))
        (reingestId.next(), text, source)
      }
      (own ++ again).map { case (id, text, source) => (f, id, text, source) }
    }
    import spark.implicits._
    val tmp = holding.resolve("_tmp")
    rows.toDF("file", "doc_id", "text", "source")
      .repartition(col("file"))
      .write.partitionBy("file").mode("overwrite").parquet(tmp.toString)
    (0 until files).foreach { f =>
      val part = Files.list(tmp.resolve(s"file=$f")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, holding.resolve(s"$f.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    deleteTree(tmp)
    rows.groupBy(_._1).toIndexedSeq.sortBy(_._1).map(_._2.size.toLong)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** Bytes of every regular file under `p`. */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Data files (not Spark's marker or checksum files) under `p`. */
  def dataFiles(p: Path): Int =
    if (!Files.exists(p)) 0
    else Files.walk(p).iterator().asScala.count { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
    }
}
