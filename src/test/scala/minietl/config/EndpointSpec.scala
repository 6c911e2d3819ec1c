package minietl.config

import java.nio.file.Files

import minietl.SparkTestBase
import minietl.io.{Excel, Writers}
import org.scalatest.funsuite.AnyFunSuite

/** One meaning per source and sink type, whatever the form: the save modes
  * of every file sink, and the csv header in the batch and stream forms.
  */
class EndpointSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("minietl-endpoint").toString

  test("an excel sink reads 'mode' as csv does: two runs with mode 'a' append") {
    val dir = tmp()
    Writers.parquet(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"), s"$dir/in")
    val yaml =
      s"""source: {type: parquet, filepath: $dir/in}
         |sink: {type: excel, filepath: $dir/out.xlsx, mode: a}
         |""".stripMargin
    Config.load(yaml).run(spark)
    Config.load(yaml).run(spark)
    assert(Excel.read(spark, s"$dir/out.xlsx").count() === 6L)
    Config.load(yaml.replace("mode: a", "mode: w")).run(spark)
    assert(Excel.read(spark, s"$dir/out.xlsx").count() === 3L)
  }

  test("a batch csv sink's files read back through a stream csv source row for row") {
    val dir = tmp()
    Writers.parquet((1L to 5L).map(i => (i, s"n$i")).toDF("id", "name").repartition(2), s"$dir/in")
    Config.load(
      s"""source: {type: parquet, filepath: $dir/in}
         |sink: {type: csv, filepath: $dir/csv}
         |""".stripMargin).run(spark)
    Config.loadStream(
      s"""stream:
         |  source:
         |    type: csv
         |    path: $dir/csv
         |    schema: [{name: id, dtype: int64}, {name: name, dtype: string}]
         |  sink: {type: memory, query_name: csv_round_trip}
         |""".stripMargin).runAvailableNow(spark)
    val back = spark.table("csv_round_trip")
    assert(back.count() === 5L)
    assert(back.as[(Long, String)].collect().toSet === (1L to 5L).map(i => (i, s"n$i")).toSet)
  }
}
