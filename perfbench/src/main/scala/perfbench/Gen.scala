package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every generator is a pure function of its
  * seed and size: the same arguments give the same inputs, and each
  * returns the input properties the workload prints beside its metrics
  * and, where the check needs one, the answer the program must produce.
  * Inputs are drawn fresh per record; no generator replicates records
  * to reach a size.
  */
object Gen {

  // ---- shared -----------------------------------------------------------

  private val Consonants = "bcdfghjklmnprstvz"
  private val Vowels = "aeiou"

  /** A pronounceable lowercase word for index `i` (distinct per index,
    * digit-free so the curation clean stage leaves it alone).
    */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    do {
      sb.append(Consonants.charAt(x % Consonants.length))
      x /= Consonants.length
      sb.append(Vowels.charAt(x % Vowels.length))
      x /= Vowels.length
    } while (x > 0)
    sb.toString
  }

  /** Cumulative weights of a Zipf(s) law over ranks 1..n. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
    var acc = 0.0
    var i = 0
    while (i < n) { acc += w(i); w(i) = acc; i += 1 }
    i = 0
    while (i < n) { w(i) /= acc; i += 1 }
    w
  }

  /** 0-based rank drawn from a cumulative table, restricted to ranks
    * `from` and above.
    */
  def drawRank(cdf: Array[Double], rng: SplittableRandom, from: Int = 0): Int = {
    val lo = if (from == 0) 0.0 else cdf(from - 1)
    val u = lo + rng.nextDouble() * (1.0 - lo)
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  // ---- AIS NMEA datalog ---------------------------------------------------

  /** The generated datalog and what a correct gold build must return. */
  final case class AisLog(lines: Array[String], positions: Long,
      statics: Long, goldRows: Long, zoneVessels: Long,
      props: Seq[(String, Double)])

  private val Armor =
    "0123456789:;<=>?@ABCDEFGHIJKLMNOPQRSTUVW`abcdefghijklmnopqrstuvw"

  private final class Bits(n: Int) {
    val b = new Array[Boolean](n)
    def set(start: Int, len: Int, value: Long): Unit = {
      var i = 0
      while (i < len) { b(start + i) = ((value >>> (len - 1 - i)) & 1L) == 1L; i += 1 }
    }
    /** Six-bit ASCII text (ITU-R M.1371 table), space padded. */
    def text(start: Int, chars: Int, s: String): Unit = {
      var i = 0
      while (i < chars) {
        val c = if (i < s.length) s.charAt(i) else ' '
        set(start + 6 * i, 6, if (c >= 64) c - 64 else c)
        i += 1
      }
    }
    def armor: String = {
      val padded = b ++ Array.fill((6 - b.length % 6) % 6)(false)
      padded.grouped(6).map { g =>
        Armor.charAt(g.foldLeft(0)((a, x) => (a << 1) | (if (x) 1 else 0)))
      }.mkString
    }
  }

  private def sentence(body: String, corrupt: Boolean = false): String = {
    var x = 0
    body.foreach(c => x ^= c)
    val cs = if (corrupt) x ^ 0x5a else x
    f"!$body*$cs%02X"
  }

  /** Even-odd ray cast, the textbook point-in-polygon test. */
  def inside(x: Double, y: Double, poly: Array[Double]): Boolean = {
    var in = false
    val n = poly.length / 2
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = poly(2 * i); val yi = poly(2 * i + 1)
      val xj = poly(2 * j); val yj = poly(2 * j + 1)
      if (((yi > y) != (yj > y)) && x < (xj - xi) * (y - yi) / (yj - yi) + xi)
        in = !in
      j = i
      i += 1
    }
    in
  }

  val StaticShare = 0.05
  val DroppedShare = 0.08
  val CorruptShare = 0.015
  val InZoneVesselShare = 0.3

  /** An NMEA datalog of `nLines` tag-blocked lines over `nMmsi` vessels:
    * type 1/2/3 positions, two-fragment type-5 statics, types 4 and 18
    * (which the gold build's type peek drops before decoding), and
    * position lines with a bad checksum. A share of the vessels sail
    * inside the northbound traffic separation zone `zone`.
    *
    * Multi-fragment sequence ids are unique within the datalog: batch
    * reassembly groups fragments by (sequence id, channel, count).
    */
  def aisLog(seed: Long, nLines: Int, nMmsi: Int, zone: Array[Double]): AisLog = {
    val rng = new SplittableRandom(seed)
    val xs = zone.indices.filter(_ % 2 == 0).map(zone(_))
    val ys = zone.indices.filter(_ % 2 == 1).map(zone(_))
    val mmsis = {
      val set = scala.collection.mutable.LinkedHashSet[Long]()
      while (set.size < nMmsi) set += 200000000L + rng.nextInt(600000000)
      set.toArray
    }
    // each vessel keeps near a home point, inside or outside the zone
    val homes = mmsis.indices.map { _ =>
      val wantIn = rng.nextDouble() < InZoneVesselShare
      var p = (0.0, 0.0)
      var ok = false
      while (!ok) {
        p = (xs.min + rng.nextDouble() * (xs.max - xs.min),
          ys.min + rng.nextDouble() * (ys.max - ys.min))
        ok = inside(p._1, p._2, zone) == wantIn
      }
      p
    }
    val base = 1673222400L // 2023-01-09T00:00:00Z
    val span = 3 * 86400L // three event dates
    val lines = Array.newBuilder[String]
    var nLinesOut = 0
    var positions, statics, corrupt, dropped = 0L
    var goldRows = 0L
    val inZone = scala.collection.mutable.HashSet[Long]()
    var seq = 0
    while (nLinesOut < nLines) {
      val epoch = base + span * nLinesOut / nLines
      val tag = s"\\s:stn${rng.nextInt(8)},q:u,c:$epoch*00"
      val ch = if (rng.nextBoolean()) "A" else "B"
      val v = rng.nextInt(nMmsi)
      val u = rng.nextDouble()
      if (u < StaticShare && nLinesOut + 2 <= nLines) {
        val b = new Bits(424)
        b.set(0, 6, 5); b.set(8, 30, mmsis(v))
        b.set(40, 30, 1000000L + rng.nextInt(8999999))
        b.text(70, 7, "C" + (mmsis(v) % 100000))
        b.text(112, 20, "VESSEL " + word(v).toUpperCase)
        b.set(232, 8, 70 + rng.nextInt(20))
        b.set(240, 9, 50 + rng.nextInt(200)); b.set(249, 9, 10 + rng.nextInt(50))
        b.set(258, 6, 5 + rng.nextInt(20)); b.set(264, 6, 5 + rng.nextInt(20))
        b.set(270, 4, 1); b.set(274, 4, 1 + rng.nextInt(12))
        b.set(278, 5, 1 + rng.nextInt(28)); b.set(283, 5, rng.nextInt(24))
        b.set(288, 6, rng.nextInt(60)); b.set(294, 8, 40 + rng.nextInt(100))
        b.text(302, 20, "PORT " + word(rng.nextInt(50)).toUpperCase)
        val p = b.armor
        seq += 1
        lines += tag + sentence(s"AIVDM,2,1,$seq,$ch,${p.take(60)},0")
        lines += tag + sentence(s"AIVDM,2,2,$seq,$ch,${p.drop(60)},2")
        nLinesOut += 2
        statics += 1
      } else if (u < StaticShare + DroppedShare) {
        val t = if (rng.nextBoolean()) 4 else 18
        val b = new Bits(168)
        b.set(0, 6, t); b.set(8, 30, mmsis(v))
        b.set(38, 60, rng.nextLong() >>> 4)
        lines += tag + sentence(s"AIVDM,1,1,,$ch,${b.armor},0")
        nLinesOut += 1
        dropped += 1
      } else {
        val (hx, hy) = homes(v)
        val lonRaw = math.round((hx + (rng.nextDouble() - 0.5) * 0.01) * 600000)
        val latRaw = math.round((hy + (rng.nextDouble() - 0.5) * 0.01) * 600000)
        val b = new Bits(168)
        b.set(0, 6, 1 + rng.nextInt(3)); b.set(8, 30, mmsis(v))
        b.set(38, 4, rng.nextInt(9)); b.set(42, 8, 128)
        b.set(50, 10, rng.nextInt(300)); b.set(61, 28, lonRaw)
        b.set(89, 27, latRaw); b.set(116, 12, rng.nextInt(3600))
        b.set(128, 9, rng.nextInt(360)); b.set(137, 6, rng.nextInt(60))
        val bad = rng.nextDouble() < CorruptShare
        lines += tag + sentence(s"AIVDM,1,1,,$ch,${b.armor},0", corrupt = bad)
        nLinesOut += 1
        if (bad) corrupt += 1
        else {
          positions += 1
          goldRows += 1
          if (inside(lonRaw / 600000.0, latRaw / 600000.0, zone)) inZone += mmsis(v)
        }
      }
    }
    val msgs = (positions + corrupt + statics + dropped).toDouble
    AisLog(lines.result(), positions, statics, goldRows, inZone.size.toLong, Seq(
      "lines" -> nLines.toDouble, "messages" -> msgs,
      "mmsi" -> nMmsi.toDouble,
      "position_share" -> (positions + corrupt) / msgs,
      "static_share" -> statics / msgs,
      "dropped_type_share" -> dropped / msgs,
      "corrupt_line_share" -> corrupt / nLines.toDouble,
      "zone_vessels" -> inZone.size.toDouble))
  }

  // ---- curation corpus ------------------------------------------------------

  final case class Doc(id: Long, lang: String, source: String, text: String)

  /** Documents with one embedding each (vec_id = doc_id). */
  final case class Corpus(docs: Array[Doc], emb: Array[Array[Float]],
      props: Seq[(String, Double)])

  private val Stop = graft.ext.TextStats.stopwords.toArray
  private val Langs = Array("en", "en", "en", "fr", "es", "de", "zh")
  val Dim = 64
  val VocabSize = 4000

  val LowQualityShare = 0.06
  val ExactDupShare = 0.08
  val NearDupShare = 0.08
  val SemanticDupShare = 0.08

  /** The q51 hash split the curation stages use: bucket >= 80 is the
    * holdout (evaluation) side.
    */
  def holdoutBucket(id: Long): Long =
    java.lang.Math.floorMod(java.lang.Math.floorMod(id, 1000000000L) * 2654435761L, 100L)

  /** `n` documents: fresh texts (about 40% stopwords, which the quality
    * stage expects of prose), low-quality texts (too short or one word
    * repeated), exact duplicates and near duplicates (one or two words
    * changed) of earlier texts, and fresh texts whose embedding is a
    * noisy copy of an earlier document's (semantic duplicates).
    */
  def corpus(seed: Long, n: Int): Corpus = {
    val rng = new SplittableRandom(seed)
    val vocab = Array.tabulate(VocabSize)(i => word(i + 100))
    def freshTokens(): Array[String] =
      Array.fill(30 + rng.nextInt(50))(
        if (rng.nextDouble() < 0.4) Stop(rng.nextInt(Stop.length))
        else vocab(rng.nextInt(VocabSize)))
    def gaussianVec(): Array[Float] =
      Array.fill(Dim)((rng.nextGaussian() * 0.125).toFloat)
    val texts = new Array[Array[String]](n)
    val emb = new Array[Array[Float]](n)
    val docs = new Array[Doc](n)
    val fresh = scala.collection.mutable.ArrayBuffer[Int]()
    var low, exact, near, sem = 0
    var i = 0
    while (i < n) {
      val u = rng.nextDouble()
      var vec: Array[Float] = null
      val toks =
        if (u < LowQualityShare) {
          low += 1
          if (rng.nextBoolean()) Array.fill(3 + rng.nextInt(6))(vocab(rng.nextInt(VocabSize)))
          else Array.fill(30)(vocab(rng.nextInt(VocabSize)))
        } else if (fresh.nonEmpty && u < LowQualityShare + ExactDupShare) {
          exact += 1
          texts(fresh(rng.nextInt(fresh.size)))
        } else if (fresh.nonEmpty && u < LowQualityShare + ExactDupShare + NearDupShare) {
          near += 1
          val t = texts(fresh(rng.nextInt(fresh.size))).clone()
          (0 to rng.nextInt(2)).foreach(_ => t(rng.nextInt(t.length)) = vocab(rng.nextInt(VocabSize)))
          t
        } else if (fresh.nonEmpty &&
            u < LowQualityShare + ExactDupShare + NearDupShare + SemanticDupShare) {
          sem += 1
          val src = emb(fresh(rng.nextInt(fresh.size)))
          vec = src.map(x => (x + rng.nextGaussian() * 0.02).toFloat)
          freshTokens()
        } else {
          fresh += i
          freshTokens()
        }
      texts(i) = toks
      emb(i) = if (vec != null) vec else gaussianVec()
      val text = toks.mkString(" ")
      docs(i) = Doc(i.toLong, Langs(rng.nextInt(Langs.length)),
        s"src${rng.nextInt(20)}", text)
      i += 1
    }
    val holdout = docs.count(d => holdoutBucket(d.id) >= 80)
    Corpus(docs, emb, Seq(
      "docs" -> n.toDouble,
      "tokens_mean" -> texts.map(_.length).sum.toDouble / n,
      "low_quality_share" -> low.toDouble / n,
      "exact_dup_share" -> exact.toDouble / n,
      "near_dup_share" -> near.toDouble / n,
      "semantic_dup_share" -> sem.toDouble / n,
      "holdout_share" -> holdout.toDouble / n,
      "delta_share" -> docs.count(_.id % 7 == 0).toDouble / n))
  }

  // ---- BM25 lookup corpus -------------------------------------------------

  /** A Zipf-vocabulary corpus, its per-term document frequencies, the
    * flood terms (the most frequent terms, enough of them that their
    * summed df exceeds `cap`) and a query sequence.
    */
  final case class LookupCorpus(docs: Array[(Long, String)],
      queries: Array[Array[String]], flood: Array[String],
      props: Seq[(String, Double)]) {
    def isFlood(q: Array[String]): Boolean = q.contains(flood.head)
  }

  val LookupVocab = 20000
  /** Every `FloodEvery`-th query (2%) is a flood query, at fixed
    * positions so that every window holds the same share.
    */
  val FloodEvery = 50
  val FloodQueryShare = 1.0 / FloodEvery

  def lookupCorpus(seed: Long, nDocs: Int, nQueries: Int, cap: Long): LookupCorpus = {
    val rng = new SplittableRandom(seed)
    val cdf = zipfCdf(LookupVocab, 1.0)
    val vocab = Array.tabulate(LookupVocab)(i => word(i + 7))
    val df = new Array[Int](LookupVocab)
    val docs = Array.tabulate(nDocs) { i =>
      val ranks = Array.fill(12 + rng.nextInt(21))(drawRank(cdf, rng))
      ranks.distinct.foreach(r => df(r) += 1)
      (i.toLong, ranks.map(vocab).mkString(" "))
    }
    // flood set: the top terms by df until their summed df is over the cap
    val byDf = df.indices.sortBy(r => (-df(r), r))
    var acc = 0L
    val floodRanks = byDf.takeWhile { r => val before = acc; acc += df(r); before <= cap }
    require(acc > cap, s"corpus too small for a flood query: summed df $acc <= $cap")
    val flood = floodRanks.map(vocab).toArray
    // ordinary queries draw from the tail (rank >= 200), where df is small
    val queries = Array.tabulate(nQueries) { i =>
      if (i % FloodEvery == FloodEvery / 2)
        flood :+ vocab(drawRank(cdf, rng, 200))
      else Array.fill(2 + rng.nextInt(2))(vocab(drawRank(cdf, rng, 200))).distinct
    }
    val floodQ = queries.count(_.contains(flood.head))
    LookupCorpus(docs, queries, flood, Seq(
      "docs" -> nDocs.toDouble,
      "vocab" -> LookupVocab.toDouble,
      "flood_terms" -> flood.length.toDouble,
      "flood_df_sum" -> floodRanks.map(df(_).toLong).sum.toDouble,
      "flood_query_share" -> floodQ.toDouble / nQueries))
  }
}
