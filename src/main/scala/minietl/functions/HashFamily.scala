package minietl.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The hash family a dedup kernel runs on: the three places where the
  * production and the oracle-checked computation differ. Every kernel
  * (fingerprint, winnowing, spans, MinHash, SimHash, the near-dup ingest
  * loop) is written once over these functions and takes the family as a
  * value, so the code the DuckDB oracle replays ([[Portable]]) is the code
  * production runs ([[Production]]) up to these three definitions.
  */
sealed abstract class HashFamily {

  /** 64-bit hash of one string (a token or a shingle). */
  def hash(s: Column): Column

  /** Sorted distinct hashes of the word `n`-gram shingles of `text`. */
  def shingleHashes(text: Column, n: Int): Column

  /** The `bands` LSH bucket keys of a `k`-lane MinHash signature:
    * array<struct<band:int, key>> for `explode`; rows agreeing on every
    * lane of a band share its key.
    */
  def bandKeys(sig: Column, bands: Int, k: Int): Column

  protected def rowsPerBand(bands: Int, k: Int): Int = {
    val rpb = k / bands
    require(bands * rpb == k, s"bands=$bands must divide k=$k")
    rpb
  }
}

object HashFamily {

  /** xxhash64 throughout: the native shingle-hash pass and one folded long
    * per band key. The default of every kernel.
    */
  case object Production extends HashFamily {
    def hash(s: Column): Column = xxhash64(s)

    /** One native pass over the token array ([[ShingleHashes64]]), never
      * materializing a shingle string.
      */
    def shingleHashes(text: Column, n: Int): Column =
      minietl.dedup.Dedup.shingleHashesSorted(text, n)

    /** Band key = xxhash64 fold over the band's lanes (key:bigint), pure
      * long arithmetic with no per-band string building.
      */
    def bandKeys(sig: Column, bands: Int, k: Int): Column = {
      val rpb = rowsPerBand(bands, k)
      transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.cast("int").as("band"),
          aggregate(slice(sig, b * rpb + 1, lit(rpb)),
            b.cast("bigint"), (acc, v) => xxhash64(acc, v)).as("key")))
    }
  }

  /** md5-60-bit ([[PortableHash]]) throughout, so any SQL engine with md5
    * replays a kernel bit for bit; the `*OracleSql` generators render that
    * replay. Slower per string (md5 + hex) than [[Production]], and the
    * band key is the raw lane slice (key:array<bigint>, k/bands lanes)
    * because slice equality is what an engine replays: the fatter shuffle
    * key is the replayability tax.
    */
  case object Portable extends HashFamily {
    def hash(s: Column): Column = PortableHash.md5Hash60(s)

    def shingleHashes(text: Column, n: Int): Column =
      array_sort(array_distinct(transform(minietl.dedup.Dedup.shingles(text, n), hash(_))))

    def bandKeys(sig: Column, bands: Int, k: Int): Column = {
      val rpb = rowsPerBand(bands, k)
      array((0 until bands).map(b =>
        struct(lit(b).as("band"), slice(sig, b * rpb + 1, rpb).as("key"))): _*)
    }
  }
}
