package minietl.dedup

import minietl.SparkTestBase
import minietl.functions.HashFamily
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // ten base sentences, one near-duplicate pair (0,1), one exact pair (2,3)
  private val texts = Seq(
    0L -> "the quick brown fox jumps over the lazy dog near the quiet river bank today",
    1L -> "the quick brown fox jumps over the lazy dog near the quiet river bank tonight",
    2L -> "completely identical content lives here in this exact document body",
    3L -> "completely identical content lives here in this exact document body",
    4L -> "an entirely different story about mountains and snow in winter",
    5L -> "cooking pasta requires salted boiling water and a watchful eye",
    6L -> "databases shuffle partitions across the cluster during wide joins",
    7L -> "gardens bloom in spring when the rain finally returns to the valley",
    8L -> "seven sailors sang sea shanties under silver stars last saturday",
    9L -> "quantum computing remains a promising but distant engineering goal")

  private def docs = texts.toDF("doc_id", "text")
    .withColumn("n_chars", length(col("text")).cast("long"))

  test("exact dedup keeps the min-key row per identical content") {
    val out = Dedup.exact(docs, "text", "doc_id")
    assert(out.count() === texts.size - 1)
    assert(out.filter(col("doc_id") === 3L).count() === 0)
    assert(out.filter(col("doc_id") === 2L).count() === 1)
  }

  test("shingles produce word n-grams with the short-document special case") {
    val sh = spark.sql("SELECT 1").select(
      Dedup.shingles(lit("a b c d"), 3).as("sh"),
      Dedup.shingles(lit("a b"), 3).as("short"))
      .collect()(0)
    assert(sh.getSeq[String](0).toSet === Set("a b c", "b c d"))
    assert(sh.getSeq[String](1) === Seq("a b"))
  }

  test("jaccard of shingle arrays matches set arithmetic") {
    val j = spark.sql("SELECT 1").select(
      Dedup.jaccard(
        Dedup.shingles(lit("a b c d"), 2),     // {a b, b c, c d}
        Dedup.shingles(lit("b c d e"), 2))     // {b c, c d, d e}
        .as("j")).as[Double].collect()(0)
    assert(math.abs(j - 2.0 / 4.0) < 1e-12)
  }

  test("hashed shingles preserve Jaccard of string shingles") {
    val row = spark.sql("SELECT 1").select(
      Dedup.jaccard(
        Dedup.shingles(lit(texts(0)._2), 3),
        Dedup.shingles(lit(texts(1)._2), 3)).as("string_jac"),
      minietl.functions.vec.jaccardSorted(
        Dedup.shingleHashesSorted(lit(texts(0)._2), 3),
        Dedup.shingleHashesSorted(lit(texts(1)._2), 3)).as("hash_jac"))
      .collect()(0)
    assert(math.abs(row.getDouble(0) - row.getDouble(1)) < 1e-12)
  }

  test("minhashNearDupPairs finds planted near-dup and exact pairs, nothing else") {
    val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id",
      shingleN = 3, k = 128, bands = 32, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L), (2L, 3L)))
  }

  test("minhash estimate tracks exact jaccard on the candidate pairs") {
    val rows = Dedup.minhashNearDupPairs(docs, "text", "doc_id",
      shingleN = 3, k = 128, bands = 32, threshold = 0.5)
      .select("est", "jac").as[(Double, Double)].collect()
    rows.foreach { case (est, jac) =>
      assert(math.abs(est - jac) < 0.25, s"est=$est jac=$jac") }
  }

  test("minhashDedup drops the greater id of each confirmed pair") {
    val kept = Dedup.minhashDedup(docs, "text", "doc_id",
      shingleN = 3, k = 128, bands = 32, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(0L, 2L, 4L, 5L, 6L, 7L, 8L, 9L))
  }

  test("ngramContainmentPairs finds a quote that Jaccard misses") {
    // doc 20 is a verbatim quote of doc 0's opening — containment(20→0) = 1
    // but Jaccard is low because doc 0 is much longer
    val quote = 20L -> "the quick brown fox jumps over the lazy dog"
    val corpus = (texts :+ quote).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = Dedup.ngramContainmentPairs(corpus, "text", "doc_id",
      shingleN = 3, threshold = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.contains((0L, 20L)))
    val (contA, contB) = out((0L, 20L))
    assert(contB === 1.0) // every shingle of the quote is inside doc 0
    assert(contA < 0.9) // the long doc is NOT contained in the quote
    // the exact duplicates are mutually contained
    assert(out((2L, 3L)) === ((1.0, 1.0)))
  }

  test("ngramContainmentPairs drops over-shared shingles via the posting cap") {
    // every doc shares the same boilerplate header; with the cap at 3 the
    // header shingles are non-discriminative and produce no candidates
    val boiler = (0L to 9L).map(i =>
      (i, s"common header line here then unique tail $i ${i * 7} ${i * 13}"))
      .toDF("doc_id", "text")
    val out = Dedup.ngramContainmentPairs(boiler, "text", "doc_id",
      shingleN = 3, threshold = 0.5, maxPostingLen = 3)
    assert(out.count() === 0L)
  }

  test("ngramJaccardPairs matches a brute-force oracle under length blocking") {
    val radius = 30
    val expected = (for {
      (ia, ta) <- texts; (ib, tb) <- texts
      if ia < ib && math.abs(ta.length - tb.length) <= radius
      sa = ta.split(" ").sliding(3).map(_.mkString(" ")).toSet
      sb = tb.split(" ").sliding(3).map(_.mkString(" ")).toSet
      jac = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if jac >= 0.5
    } yield (ia, ib)).toSet
    val got = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "n_chars",
      radius = radius, shingleN = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === expected)
    assert(got.contains((0L, 1L)) && got.contains((2L, 3L)))
  }

  test("connectedComponents labels transitive clusters with the min id") {
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L), (7L, 8L), (6L, 9L))
      .toDF("id_a", "id_b")
    // driver union-find fast path (default for small graphs) and the
    // distributed label-propagation path must agree exactly
    for (threshold <- Seq(Dedup.DriverCcMaxPairs, 0L)) {
      val comps = Dedup.connectedComponents(pairs, driverPathMaxPairs = threshold)
        .as[(Long, Long)].collect().toMap
      assert(comps(0L) === 0L && comps(1L) === 0L && comps(2L) === 0L)
      assert(comps(5L) === 5L && comps(6L) === 5L && comps(9L) === 5L)
      assert(comps(7L) === 7L && comps(8L) === 7L)
    }
  }

  test("driver and distributed components agree on a non-trivial graph") {
    // 40 chain clusters of 12 nodes each (multi-round propagation), plus
    // 300 seeded random intra-cluster shortcuts — the distributed min-label
    // loop (forced via driverPathMaxPairs = 0) must produce the exact same
    // labeling as the driver union-find, over a graph where convergence
    // genuinely takes several rounds
    val rnd = new scala.util.Random(7)
    val chainEdges = (0 until 40).flatMap { c =>
      (0 until 11).map(i => ((c * 100 + i).toLong, (c * 100 + i + 1).toLong))
    }
    val extra = (1 to 300).map { _ =>
      val c = rnd.nextInt(40)
      ((c * 100 + rnd.nextInt(12)).toLong, (c * 100 + rnd.nextInt(12)).toLong)
    }.filter(p => p._1 != p._2)
    val pairs = (chainEdges ++ extra).toDF("id_a", "id_b")
    val driver = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    val (distDf, iters) = Dedup.connectedComponentsWithStats(
      pairs, driverPathMaxPairs = 0L)
    val dist = distDf.as[(Long, Long)].collect().toMap
    assert(dist === driver)
    assert(iters >= 2) // the loop really ran multi-round on this shape
    assert(driver.values.toSet === (0 until 40).map(c => (c * 100).toLong).toSet)
  }

  test("groupLocalComponents matches connectedComponents on a pair list " +
    "that is partitioned by construction") {
    // three disjoint groups (chain, star, pair) — the per-partition
    // union-find must produce the exact labeling of the global algorithm,
    // including transitivity inside a group
    val pairs = Seq(
      ("g1", 1L, 2L), ("g1", 2L, 3L),
      ("g2", 10L, 12L), ("g2", 11L, 12L),
      ("g3", 20L, 21L)
    ).toDF("g", "id_a", "id_b")
    val got = Dedup.groupLocalComponents(pairs, Seq("g"))
      .as[(Long, Long)].collect().toMap
    val want = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got === want)
    assert(got(3L) === 1L && got(11L) === 10L && got(21L) === 20L)
    // empty input -> empty labeling with the right schema
    assert(Dedup.groupLocalComponents(pairs.limit(0), Seq("g")).isEmpty)
  }

  test("connectedComponents throws rather than returning partial labels") {
    // chain 0-1-2-3-4 on the DISTRIBUTED path: min-label propagation needs
    // >1 round to reach the tail (the driver path always converges exactly)
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 1, driverPathMaxPairs = 0L).collect()
    }
    assert(e.getMessage.contains("under-deduplicate"))
    // the default budget converges and fully propagates the labels
    val full = Dedup.connectedComponents(chain, driverPathMaxPairs = 0L)
      .as[(Long, Long)].collect().toMap
    assert(full.values.toSet === Set(0L))
  }

  test("minhashDedupClusters keeps one representative per transitive cluster") {
    // 0~1 and 1~2 are near-dups of each other (chain); 2 may not pair with 0
    val chain = Seq(
      0L -> "the quick brown fox jumps over the lazy dog near the quiet river bank today",
      1L -> "the quick brown fox jumps over the lazy dog near the quiet river bank tonight",
      2L -> "the quick brown fox jumps over the lazy dog near the quiet river bank",
      4L -> "an entirely different story about mountains and snow in winter")
      .toDF("doc_id", "text")
    val kept = Dedup.minhashDedupClusters(chain, "text", "doc_id",
      shingleN = 3, k = 128, bands = 32, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(0L, 4L))
  }

  test("simhash: identical docs at distance 0, near-dups close, others far") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash(split(col("text"), " ")).as("sig"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(2L), sigs(3L)) === 0)
    assert(ham(sigs(0L), sigs(1L)) < ham(sigs(0L), sigs(4L)))
    val pairs = Dedup.simhashNearDupPairs(docs, "text", "doc_id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((2L, 3L)))
  }

  test("portable minhash finds the planted pairs with faithful jaccard") {
    val rows = Dedup.minhashNearDupPairs(docs, "text", "doc_id",
      shingleN = 3, k = 64, bands = 16, threshold = 0.5, family = HashFamily.Portable)
      .select("id_a", "id_b", "jac").as[(Long, Long, Double)].collect()
    assert(rows.map(r => (r._1, r._2)).toSet === Set((0L, 1L), (2L, 3L)))
    // exact-duplicate pair has jaccard exactly 1; hash basis cannot change it
    assert(rows.find(r => (r._1, r._2) == ((2L, 3L))).get._3 === 1.0)
  }

  test("oversized LSH buckets are dropped with a warning, not exploded") {
    // degenerate corpus: 200 byte-identical boilerplate docs (every band
    // bucket they touch holds all 200 of them) plus one planted near-dup
    // pair of distinct docs whose buckets stay small
    val boiler = (100L until 300L).map(i =>
      i -> "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor")
    val planted = Seq(
      0L -> "the quick brown fox jumps over the lazy dog near the quiet river bank today",
      1L -> "the quick brown fox jumps over the lazy dog near the quiet river bank tonight")
    val corpus = (boiler ++ planted).toDF("doc_id", "text")
    val (pairs, warns) = minietl.LogCapture.warnings("minietl.dedup.Dedup$") {
      val p = Dedup.minhashNearDupPairs(corpus, "text", "doc_id",
        shingleN = 3, k = 32, bands = 8, threshold = 0.5, maxBucketSize = 50)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      Thread.sleep(2000) // census log arrives async on the listener bus
      p
    }
    // completes without the 200*199/2-per-band pair explosion; the planted
    // pair survives, the boilerplate mass is excluded (exact dedup's job)
    assert(pairs === Set((0L, 1L)))
    assert(warns.exists(w => w.contains("minhash") && w.contains("non-discriminative")))
    // with the cap above the bucket size nothing is dropped and no warning fires
    val (all, quiet) = minietl.LogCapture.warnings("minietl.dedup.Dedup$") {
      val c = Dedup.minhashNearDupPairs(corpus, "text", "doc_id",
        shingleN = 3, k = 32, bands = 8, threshold = 0.5, maxBucketSize = 500)
        .count()
      Thread.sleep(2000)
      c
    }
    assert(all === 200L * 199 / 2 + 1)
    assert(quiet.isEmpty)
    // simhash path shares the guard: identical docs collide on every chunk
    val (simPairs, simWarns) = minietl.LogCapture.warnings("minietl.dedup.Dedup$") {
      val p = Dedup.simhashNearDupPairs(corpus, "text", "doc_id",
        maxHamming = 3, bands = 4, maxBucketSize = 50)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      Thread.sleep(2000)
      p
    }
    assert(!simPairs.exists(p => p._1 >= 100L && p._2 >= 100L))
    assert(simWarns.exists(w => w.contains("simhash") && w.contains("non-discriminative")))
  }

  test("portable simhash finds exact pairs; signatures keep bits 60-63 clear") {
    val pairs = Dedup.simhashNearDupPairs(docs, "text", "doc_id", maxHamming = 3,
      family = HashFamily.Portable)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((2L, 3L)))
    val sigs = docs.select(
      minietl.functions.vec.simhash64(
        transform(split(col("text"), " "), HashFamily.Portable.hash(_))).as("sig"))
      .as[Long].collect()
    sigs.foreach(s => assert((s >>> 60) === 0L, s"bits 60-63 set in $s"))
  }

  test("editDistancePairs finds fuzzy dups within maxDist, ordered and deduped") {
    val docs = Seq(
      (1L, "spark engine"), (2L, "spork engine"), // dist 1
      (3L, "spark enginx"), // dist 1 of #1, dist 2 of #2
      (4L, "completely unrelated text"), // blocked by length
      (5L, "spark")).toDF("id", "txt") // Δlen 7 > maxDist: lossless length block
    val out = Dedup.editDistancePairs(docs, "id", "txt", maxDist = 2)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 2L)))
  }

  test("editDistancePairs honors caller blocking and skips nulls") {
    val docs = Seq(
      (1L, "abcd", "g1"), (2L, "abce", "g2"), // same dist-1 pair, split by block
      (3L, "abcf", "g1"), // pairs with 1 under g1
      (4L, null.asInstanceOf[String], "g1")).toDF("id", "txt", "blk")
    val out = Dedup.editDistancePairs(docs, "id", "txt", maxDist = 2,
        blockCols = Seq("blk"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 3L, 1L)))
  }
}
