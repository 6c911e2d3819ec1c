package minietl.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Perceptual audio hash — the audio twin of [[PerceptualHash]]'s image
  * dHash: a 56-bit ENERGY-CONTOUR fingerprint per clip from a REAL PCM
  * decode, exact-duplicate grouping on the full hash, and the shared
  * 4×14-bit banded Hamming join + transitive connected components for
  * near-duplicates (re-encoded/re-dithered copies of a recording keep
  * their coarse loudness envelope even when no byte matches — the same
  * robustness argument as dHash's gradient signs; cf. the public
  * energy/chroma fingerprint family, e.g. Chromaprint, re-expressed here
  * on the engine's zero-dependency decoder).
  *
  * The hash: decode (JDK `javax.sound.sampled` via [[Multimodal]]'s cached
  * providers — WAV/AIFF/AU, the same PCM contract as
  * [[Multimodal.decodeAudio]]), split the sample stream (channels
  * interleaved) into 57 windows with integer-floor bounds
  * `lo(w) = w·n / 57` (the same nearest-floor grid contract as dHash's
  * `gx(i) = i·w / 8`), fold each window's EXACT integer energy
  * `E[w] = Σ s²`, then one bit per adjacent comparison:
  * `bit(w) = E[w+1] > E[w]` packed at position `w` — 57 windows = 56
  * comparisons = 56 bits, strictly inside a signed 64-bit integer in every
  * engine (the same 56-not-64 rationale as [[PerceptualHash.dHash56]]).
  * Exact integers end to end, so an external SQL oracle that knows how a
  * clip was synthesized replays every bit closed-form
  * ([[energyHashOracleExpr]]).
  *
  * Scale design (100 TB): hashing is one mapPartitions decode pass; exact
  * grouping is a hash-partitioned groupBy on the 8-byte hash; near-dup
  * runs [[PerceptualHash.hammingPairs]] over DISTINCT hash values'
  * min-key representatives with the shared census cap — never all-pairs.
  * Overflow budget: samples wider than 16 bits are right-shifted to 16-bit
  * precision BEFORE squaring (a uniform arithmetic shift across the clip —
  * it rescales every window energy by the same 4^shift factor up to
  * per-sample floor truncation ≤ 2·2^shift·|v|, which is ~2^-16 of the
  * square for full-scale samples, so adjacent-window comparisons are
  * preserved for any signal the hash can distinguish at 16-bit depth
  * anyway). A 16-bit sample² is < 2^30, so a window holds > 2^33 samples
  * before `E` can overflow — hours of audio per window; chunk longer clips
  * first (the [[Multimodal.decodeAudio]] contract). Without the shift a
  * single full-scale 32-bit sample² is ~2^62 — TWO samples wrap the
  * accumulator and silently scramble the contour (ADVICE r15 #1).
  */
object PerceptualAudio {

  /** Number of energy windows; 56 adjacent comparisons = the hash width. */
  val Windows = 57

  /** 56-bit energy-contour hash of a decoded clip; None if the payload
    * does not decode (null/empty/corrupt/non-PCM — NonFatal is caught, so
    * one broken clip degrades to a null hash, never a failed stage).
    */
  def energyHash56(content: Array[Byte]): Option[Long] = {
    import javax.sound.sampled.AudioFormat
    if (content == null || content.isEmpty) return None
    val ais = Multimodal.audioReaders.iterator.flatMap { r =>
      try Option(r.getAudioInputStream(new java.io.ByteArrayInputStream(content)))
      catch { case scala.util.control.NonFatal(_) => None }
    }.nextOption().getOrElse(return None)
    try {
      val fmt = ais.getFormat
      val enc = fmt.getEncoding
      val signed = enc == AudioFormat.Encoding.PCM_SIGNED
      val unsigned = enc == AudioFormat.Encoding.PCM_UNSIGNED
      if (!signed && !unsigned) return None
      val bits = fmt.getSampleSizeInBits
      if (bits % 8 != 0 || bits < 8 || bits > 32) return None
      val bytesPerSample = bits / 8
      val big = fmt.isBigEndian
      val mid = 1L << (bits - 1)
      // bounded read — a corrupted header can make readAllBytes spin on
      // 0-byte reads forever (see Multimodal.readPcmBounded)
      val buf = Multimodal.readPcmBounded(ais, content.length)
      val n = buf.length / bytesPerSample
      if (n == 0) return None
      // uniform precision shift: 24/32-bit samples squared overflow a Long
      // accumulator (32-bit: at the SECOND sample; 24-bit: at ~131k samples
      // per window) — fold at 16-bit precision instead (see scaladoc)
      val shift = if (bits > 16) bits - 16 else 0
      val e = new Array[Long](Windows)
      var i = 0
      var w = 0
      while (i < n) {
        // advance to sample i's window: lo(w) <= i < lo(w+1) with
        // lo(w) = w*n/57 (empty windows — n < 57 — are skipped and keep
        // energy 0)
        while (w < Windows - 1 && i >= ((w + 1).toLong * n) / Windows) w += 1
        val off = i * bytesPerSample
        var raw = 0L
        var b = 0
        while (b < bytesPerSample) {
          val idx = if (big) off + b else off + (bytesPerSample - 1 - b)
          raw = (raw << 8) | (buf(idx) & 0xffL)
          b += 1
        }
        val v =
          (if (signed) (raw << (64 - bits)) >> (64 - bits)
           else raw - mid) >> shift
        e(w) += v * v
        i += 1
      }
      var hash = 0L
      var j = 0
      while (j < Windows - 1) {
        if (e(j + 1) > e(j)) hash |= 1L << j
        j += 1
      }
      Some(hash)
    } catch { case scala.util.control.NonFatal(_) => None }
    finally ais.close()
  }

  /** `(keyCol, ahash)` over an arbitrary frame — one decode per row;
    * undecodable payloads hash to null (same contract as
    * [[PerceptualHash.dHashFrame]]).
    */
  def energyHashFrame(df: DataFrame, keyCol: String, contentCol: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      df.schema(keyCol).copy(name = "__pa_key"),
      StructField("ahash", LongType, nullable = true)))
    val rows = df.select(col(keyCol), col(contentCol)).rdd.mapPartitions { it =>
      it.map { r =>
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        Row(r.get(0), energyHash56(bytes).map(Long.box).orNull)
      }
    }
    spark.createDataFrame(rows, outSchema)
      .withColumnRenamed("__pa_key", keyCol)
  }

  /** Perceptual exact-dup removal: keep, per full-hash group, only the row
    * with the minimum key; undecodable rows pass through (a dedup stage
    * must never silently drop data it cannot read). Plan: one decode pass,
    * one hash-partitioned groupBy, one semi-join back on the key — the
    * audio twin of [[PerceptualHash.dedupExact]].
    */
  def dedupExact(df: DataFrame, keyCol: String, contentCol: String): DataFrame = {
    val hashes = minietl.pipeline.RunCaches.checkpoint(energyHashFrame(df, keyCol, contentCol))
    val keepers = hashes.where(col("ahash").isNotNull)
      .groupBy("ahash").agg(min(col(keyCol)).as(keyCol))
      .select(keyCol)
      .union(hashes.where(col("ahash").isNull).select(keyCol))
    df.join(keepers, Seq(keyCol), "left_semi")
  }

  /** Transitive perceptual NEAR-dup removal: exact groups collapse to
    * min-key representatives, banded Hamming pairs (distance ≤ maxDist)
    * between distinct hash values, connected components, keep the minimum
    * key per component; undecodable rows pass through. Shares
    * [[PerceptualHash.dedupNearFromHashes]] — the fold is hash-agnostic.
    */
  def dedupNear(df: DataFrame, keyCol: String, contentCol: String,
      maxDist: Int = 3,
      maxBucketSize: Int = minietl.dedup.Dedup.DefaultMaxBucket): DataFrame =
    PerceptualHash.dedupNearFromHashes(df, keyCol,
      energyHashFrame(df, keyCol, contentCol), "ahash", maxDist, maxBucketSize)

  /** [[dedupNear]] over an ALREADY-COMPUTED `(keyCol, ahash)` frame — for
    * callers that also consume the hashes directly (audit joins, digests):
    * checkpoint the hashes once ([[minietl.pipeline.RunCaches.checkpoint]])
    * and pass the same frame here, so the PCM decode runs once for both
    * consumers instead of once per call (r17-opt; the decode is the
    * dominant per-row cost, and the fold reads a checkpointed frame as it
    * is). Same fold, same output contract.
    */
  def dedupNearFromHashes(df: DataFrame, keyCol: String, hashes: DataFrame,
      maxDist: Int = 3,
      maxBucketSize: Int = minietl.dedup.Dedup.DefaultMaxBucket): DataFrame =
    PerceptualHash.dedupNearFromHashes(df, keyCol,
      hashes, "ahash", maxDist, maxBucketSize)

  /** DuckDB twin of [[energyHash56]] over the [[Multimodal.syntheticWavs]]
    * corpus: the generator's period-2 square wave (`s[i] = a1` for even i,
    * `a2` for odd) makes every window energy closed-form —
    * `E(w) = evens(w)·a1² + odds(w)·a2²` with `lo = w·n // 57`,
    * `hi = (w+1)·n // 57`, `evens = (hi+1)//2 - (lo+1)//2`,
    * `odds = hi//2 - lo//2` — so the oracle recomputes all 56 comparison
    * bits from integer arithmetic alone, without parsing WAV. A hash match
    * therefore proves the REAL decode, the window bounds, the energy fold,
    * AND the bit packing. `idSql` is the id expression.
    */
  def energyHashOracleExpr(idSql: String): String = {
    val n = s"(300 + $idSql % 101)"
    val a1 = s"((131 * $idSql) % 20001 - 10000)"
    val a2 = s"((257 * $idSql + 19) % 20001 - 10000)"
    def energy(w: String) =
      s"((((($w) + 1) * $n // 57 + 1) // 2 - (($w) * $n // 57 + 1) // 2) * $a1 * $a1" +
        s" + (((($w) + 1) * $n // 57) // 2 - (($w) * $n // 57) // 2) * $a2 * $a2)"
    s"""(SELECT CAST(sum(CASE WHEN ${energy("p.w + 1")} > ${energy("p.w")}
       |  THEN (1::BIGINT << p.w) ELSE 0 END) AS BIGINT)
       | FROM (SELECT unnest(range(0, 56)) AS w) p)""".stripMargin
  }
}
