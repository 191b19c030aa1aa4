package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.ais.AisDecoder
import graft.ops.TssZones

class GenSpec extends AnyFunSuite {

  private def near(x: Double, want: Double, tol: Double) =
    assert(math.abs(x - want) <= tol, s"$x not within $tol of $want")

  test("the AIS datalog is a function of the seed") {
    val a = Gen.aisLog(7, 5000, 200, TssZones.Northbound)
    val b = Gen.aisLog(7, 5000, 200, TssZones.Northbound)
    val c = Gen.aisLog(8, 5000, 200, TssZones.Northbound)
    assert(a.lines.sameElements(b.lines) && a.props == b.props)
    assert(!a.lines.sameElements(c.lines))
  }

  test("the AIS datalog has the stated shares, and its answers hold for the decoder") {
    val log = Gen.aisLog(3, 20000, 500, TssZones.Northbound)
    assert(log.lines.length == 20000)
    val p = log.props.toMap
    near(p("static_share"), Gen.StaticShare, 0.01)
    near(p("dropped_type_share"), Gen.DroppedShare, 0.01)
    near(p("corrupt_line_share"), Gen.CorruptShare * 0.87, 0.005)
    // decode every message with the program's reference decoder: the
    // positions, statics and zone vessels the generator claims must be
    // what a correct decode sees
    val sentences = log.lines.map(l => l.substring(l.indexOf('!')))
    val singles = sentences.filter(_.startsWith("!AIVDM,1,1"))
    val firsts = sentences.filter(_.startsWith("!AIVDM,2,1"))
    val seconds = sentences.filter(_.startsWith("!AIVDM,2,2"))
    val decoded = singles.flatMap(s => AisDecoder.decode(Seq(s))) ++
      firsts.zip(seconds).flatMap { case (f, s) => AisDecoder.decode(Seq(f, s)) }
    val positions = decoded.filter(d => d.messageType >= 1 && d.messageType <= 3)
    assert(positions.length == log.positions)
    assert(decoded.count(_.messageType == 5) == log.statics)
    val inZone = positions.filter { d =>
      val pos = d.position.get
      graft.ops.GeoMath.rayCast(pos.longitude, pos.latitude, TssZones.Northbound)
    }.map(_.mmsi).distinct
    assert(inZone.length == log.zoneVessels)
    assert(log.zoneVessels > 0 && log.zoneVessels < 500)
  }

  test("the curation corpus is a function of the seed and has the stated shares") {
    val a = Gen.corpus(5, 4000)
    val b = Gen.corpus(5, 4000)
    assert(a.docs.sameElements(b.docs))
    assert(a.emb.map(_.toSeq).sameElements(b.emb.map(_.toSeq)))
    assert(!Gen.corpus(6, 4000).docs.sameElements(a.docs))
    val p = a.props.toMap
    near(p("low_quality_share"), Gen.LowQualityShare, 0.015)
    near(p("exact_dup_share"), Gen.ExactDupShare, 0.015)
    near(p("near_dup_share"), Gen.NearDupShare, 0.015)
    near(p("semantic_dup_share"), Gen.SemanticDupShare, 0.015)
    near(p("holdout_share"), 0.2, 0.03)
    near(p("delta_share"), 1.0 / 7, 0.01)
    // exact duplicates are real repeats of earlier texts, never replicas
    // of the whole corpus
    val texts = a.docs.map(_.text)
    near(1.0 - texts.distinct.length.toDouble / texts.length, Gen.ExactDupShare, 0.02)
    assert(texts.forall(t => !t.exists(_.isDigit)))
  }

  test("the lookup corpus floods the local tier only on flood queries") {
    val cap = 20000L
    val a = Gen.lookupCorpus(9, 4000, 3000, cap)
    val b = Gen.lookupCorpus(9, 4000, 3000, cap)
    assert(a.docs.sameElements(b.docs) && a.queries.map(_.toSeq).sameElements(b.queries.map(_.toSeq)))
    val df = a.docs.flatMap(_._2.split(" ").distinct).groupBy(identity).map { case (t, xs) => t -> xs.length }
    def dfSum(q: Array[String]) = q.map(t => df.getOrElse(t, 0).toLong).sum
    val (flood, plain) = a.queries.partition(a.isFlood)
    assert(flood.nonEmpty && flood.forall(q => dfSum(q) > cap))
    assert(plain.forall(q => dfSum(q) <= cap))
    near(flood.length.toDouble / a.queries.length, Gen.FloodQueryShare, 0.01)
    assert(a.props.toMap.apply("flood_df_sum") > cap)
  }
}
