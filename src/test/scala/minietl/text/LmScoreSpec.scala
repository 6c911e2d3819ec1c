package minietl.text

import minietl.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

class LmScoreSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("bigramSurprise computes exact integer surprise bits") {
    // corpus: c("a b")=2, c("b a")=1, c("a c")=1; prefixes: a→3, b→1
    // surprise("a b") = bitlen(3 DIV 2) = 1; "b a" = bitlen(1) = 1;
    // "a c" = bitlen(3) = 2
    val docs = Seq((1L, "a b a b"), (2L, "a c"), (3L, "")).toDF("doc_id", "text")
    val out = LmScore.bigramSurprise(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 3 has no bigrams and is absent
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(out(0).getLong(1) === 3L && out(0).getLong(2) === 3L && out(0).getLong(3) === 1000L)
    assert(out(1).getLong(1) === 1L && out(1).getLong(2) === 2L && out(1).getLong(3) === 2000L)
  }

  test("bigramSurprise separates templated from rare-continuation text") {
    val repeated = ("x y " * 50).trim
    val docs = (1L to 20L).map(i => (i, repeated)).toDF("doc_id", "text")
      // the noise doc reuses the common prefix 'x' with continuations the
      // corpus has never seen — exactly the transitions an LM filter flags
      .union(Seq((99L, "x q x w x e x r")).toDF("doc_id", "text"))
    val out = LmScore.bigramSurprise(docs, "doc_id", "text")
      .select("doc_id", "avg_millibits").as[(Long, Long)].collect().toMap
    // template: every 'x y' transition is near-certain → ~1 bit each.
    // noise doc: c(x·) is ~1000 but each 'x ?' bigram occurs once → ~10 bits
    assert(out(99L) > 3 * out(1L), s"noise=${out(99L)} template=${out(1L)}")
  }
}
