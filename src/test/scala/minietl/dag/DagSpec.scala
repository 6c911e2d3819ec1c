package minietl.dag

import minietl.SparkTestBase
import minietl.ops.Ops
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DagSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def customers = Seq((1L, "ann"), (2L, "bob"), (3L, "cat")).toDF("id", "name")
  private def orders = Seq((1L, 10.0), (1L, 20.0), (3L, 30.0)).toDF("id", "amount")

  private def collectSink(buf: scala.collection.mutable.Buffer[DataFrame]): DataFrame => Unit =
    df => { buf += df; df.count(); () }

  test("linear source → transform → sink runs and counts rows") {
    val dag = new PipelineDAG()
      .addSource("src", _ => orders)
      .addTransform("big", Ops.filter(col("amount") >= 20))
      .addSink("out", df => { df.count(); () })
      .connect("src", "big").connect("big", "out")
    assert(dag.validate() === Nil)
    assert(dag.run(spark) === Map("out" -> 2L))
  }

  test("merge JOIN folds an outer equi-join on keys (the reference's only join)") {
    val got = scala.collection.mutable.Buffer.empty[DataFrame]
    val dag = new PipelineDAG()
      .addSource("c", _ => customers)
      .addSource("o", _ => orders)
      .addMerge("j", MergeStrategy.Join(Seq("id")))
      .addSink("out", collectSink(got))
      .connect("c", "j").connect("o", "j").connect("j", "out")
    assert(dag.run(spark)("out") === 4L) // bob keeps a null-amount row (outer)
    val bob = got.head.filter(col("name") === "bob").collect()
    assert(bob.length === 1 && bob(0).isNullAt(2))
  }

  test("merge CONCAT aligns columns by name; UNION also dedupes") {
    val a = Seq((1L, "x")).toDF("id", "tag")
    val b = Seq((1L, "x"), (2L, "y")).toDF("id", "tag")
    def build(strategy: MergeStrategy.T) = new PipelineDAG()
      .addSource("a", _ => a).addSource("b", _ => b)
      .addMerge("m", strategy)
      .addSink("out", df => { df.count(); () })
      .connect("a", "m").connect("b", "m").connect("m", "out")
    assert(build(MergeStrategy.Concat).run(spark)("out") === 3L)
    assert(build(MergeStrategy.Union).run(spark)("out") === 2L)
  }

  test("branch routes true/false splits along labeled ports (reference stub, made real)") {
    val dag = new PipelineDAG()
      .addSource("o", _ => orders)
      .addBranch("b", col("amount") >= 20)
      .addSink("hi", df => { df.count(); () })
      .addSink("lo", df => { df.count(); () })
      .connect("o", "b")
      .connect("b", "hi", port = "true")
      .connect("b", "lo", port = "false")
    assert(dag.run(spark) === Map("hi" -> 2L, "lo" -> 1L))
  }

  test("multi-sink fan-out runs every sink from one cached frame") {
    val dag = new PipelineDAG()
      .addSource("o", _ => orders)
      .addTransform("t", identity[DataFrame])
      .addSink("s1", df => { df.count(); () })
      .addSink("s2", df => { df.count(); () })
      .connect("o", "t").connect("t", "s1").connect("t", "s2")
    assert(dag.run(spark) === Map("s1" -> 3L, "s2" -> 3L))
  }

  test("validation mirrors the reference's structural rules") {
    val dag = new PipelineDAG()
      .addSource("s", _ => orders)
      .addMerge("m", MergeStrategy.Concat)
      .addSink("k", df => ())
      .connect("s", "m").connect("m", "k")
    val errs = dag.validate()
    assert(errs.exists(_.contains("merge m needs at least 2 inputs")))
    val orphanSource = new PipelineDAG().addSource("s", _ => orders)
    assert(orphanSource.validate().exists(_.contains("has no outputs")))
  }

  test("cycles are rejected") {
    val dag = new PipelineDAG()
      .addTransform("a", identity[DataFrame])
      .addTransform("b", identity[DataFrame])
      .connect("a", "b").connect("b", "a")
    assert(dag.validate().exists(_.contains("cycle")))
    intercept[IllegalArgumentException](dag.topologicalOrder)
  }

  test("topological order respects edges; visualize renders every node") {
    val dag = new PipelineDAG()
      .addSource("s", _ => orders)
      .addTransform("t", identity[DataFrame])
      .addSink("k", df => { df.count(); () })
      .connect("s", "t").connect("t", "k")
    val order = dag.topologicalOrder
    assert(order.indexOf("s") < order.indexOf("t"))
    assert(order.indexOf("t") < order.indexOf("k"))
    val viz = dag.visualize()
    assert(viz.contains("SOURCE") && viz.contains("TRANSFORM") && viz.contains("SINK"))
  }

  test("a run caches fan-out and releases transform checkpoints after the run") {
    spark.catalog.clearCache() // isolate from earlier suites in this JVM
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    val acc = spark.sparkContext.longAccumulator("rows_evaluated")
    val bump = udf { (_: Long) => acc.add(1); true }.asNondeterministic()
    val dag = new PipelineDAG()
      .addSource("o", _ => orders.filter(bump(col("id"))))
      // an eager job on the transform's input, which the transform reads
      // again, so it checkpoints the input as the dedup kernels do
      .addTransform("t", df => {
        val in = minietl.pipeline.RunCaches.checkpoint(df)
        in.count()
        in.withColumn("x", lit(1))
      })
      .addSink("s1", df => { df.count(); () })
      .addSink("s2", df => { df.count(); () })
      .connect("o", "t").connect("t", "s1").connect("t", "s2")
    assert(dag.run(spark) === Map("s1" -> 3L, "s2" -> 3L))
    // the transform's job and both sinks read the source rows once
    assert(acc.value === 3L)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet === pinned)
    // embedding compiles without a run scope and caches nothing
    assert(dag.frame(spark, "t").count() === 3L)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("fan-out and branch inputs are checkpoints: no cache entry during or after a run, and frame runs no job") {
    spark.catalog.clearCache()
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    val seen = scala.collection.mutable.Map.empty[String, Set[(Long, Double)]]
    def sink(name: String): DataFrame => Unit = df => {
      assert(spark.sharedState.cacheManager.isEmpty, s"$name ran with a CacheManager entry")
      seen(name) = df.select("id", "amount").as[(Long, Double)].collect().toSet; ()
    }
    val dag = new PipelineDAG()
      .addSource("o", _ => orders)
      .addTransform("t", df => df.withColumn("amount", col("amount") * 2))
      .addBranch("b", col("amount") >= 40)
      .addSink("all", sink("all"))
      .addSink("hi", sink("hi"))
      .addSink("lo", sink("lo"))
      .connect("o", "t").connect("t", "all").connect("t", "b")
      .connect("b", "hi", port = "true").connect("b", "lo", port = "false")
    assert(dag.run(spark) === Map("all" -> 3L, "hi" -> 2L, "lo" -> 1L))
    assert(seen.toMap === Map(
      "all" -> Set((1L, 20.0), (1L, 40.0), (3L, 60.0)),
      "hi" -> Set((1L, 40.0), (3L, 60.0)),
      "lo" -> Set((1L, 20.0))))
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet === pinned)
    val (frame, jobs) = org.apache.spark.JobCounter.jobsDuring(spark.sparkContext) {
      dag.frame(spark, "b.true")
    }
    assert(jobs === 0)
    assert(frame.count() === 2L)
  }
}
