package perfbench

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import graft.jobs.GoldJob
import graft.ops.{Reassembly, TssZones}

/** `GoldJob.run` over a generated NMEA datalog: decode kernel,
  * reassembly shuffle, as-of join and the partitioned Parquet write do
  * almost all of the work, in few Spark jobs. Traced runs also run the
  * point-lookup probe ([[LookupServe]]).
  */
object AisGold extends Workload {
  val Lines = 80000
  val Mmsi = 1500
  val WarmRuns = 8
  /** Window of the lookup probe that traced runs add (see [[LookupServe]]). */
  val LookupSeconds = 10

  private var log: Gen.AisLog = _
  private var datalog: String = _
  private var goldOut: String = _
  private val runMs, tracedMs, untracedMs = ArrayBuffer[Double]()
  private var busyS = 0.0
  private var linesDone = 0L

  def setup(ctx: Ctx): Double = {
    val (l, genS) = Workload.timed(Gen.aisLog(ctx.seed, Lines, Mmsi, TssZones.Northbound))
    log = l
    l.props.foreach { case (k, v) => ctx.out.props(k) = v }
    val (_, prepS) = Workload.timed {
      datalog = ctx.work.resolve("datalog.txt").toString
      Files.write(ctx.work.resolve("datalog.txt"),
        l.lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      goldOut = ctx.dir("gold")
    }
    // warm-up: codegen, lazy set-up and JIT on full-size runs (the run
    // time still falls over the first eight)
    val (_, warmS) = Workload.timed {
      (0 until WarmRuns).foreach { _ =>
        ctx.releaseCaches()
        GoldJob.run(ctx.spark, datalog, goldOut)
      }
    }
    Workload.setupParts(ctx, genS, prepS, warmS)
  }

  /** One gold build plus its check; the check runs after the timer. */
  private def once(ctx: Ctx, i: Long, traced: Boolean): Unit = {
    ctx.releaseCaches()
    val t = try Some(ctx.call("gold_run", i, traced)(
        GoldJob.run(ctx.spark, datalog, goldOut)))
      catch { case e: Exception => ctx.out.problems += s"gold run: $e"; None }
    val ok = t.exists { r =>
      val rows = ctx.spark.read.parquet(goldOut).count()
      val good = r.value == log.zoneVessels && rows == log.goldRows
      if (!good) ctx.out.problems +=
        s"gold run $i: zone ${r.value} (want ${log.zoneVessels}), rows $rows (want ${log.goldRows})"
      good
    }
    ctx.out.op(ok)
    if (ok) {
      val r = t.get
      runMs += r.millis; busyS += r.seconds; linesDone += Lines
      (if (traced) tracedMs else untracedMs) += r.millis
    }
  }

  def measure(ctx: Ctx, deadline: Long): Unit = {
    var i = 0L
    while (i == 0 || System.nanoTime() < deadline) {
      // traced runs alternate traced and untraced iterations to measure
      // the tracing overhead
      once(ctx, i, traced = ctx.trace && i % 2 == 0)
      i += 1
    }
    ctx.out.timing("ais.gold_run_ms", "ms", runMs.toSeq)
    val rate = if (busyS > 0) linesDone / busyS else Double.NaN
    ctx.out.value("ais.msgs_per_s", "1/s", rate)
    if (runMs.nonEmpty) {
      ctx.out.e2e("op_p50_ms") = (Stats.median(runMs.toSeq), "ms")
      ctx.out.e2e("throughput_per_s") = (rate, "1/s")
    }
  }

  def finish(ctx: Ctx): Unit = if (ctx.trace) {
    val spark = ctx.spark
    val l = ctx.out.layer
    // the layers as cumulative calls: each call re-runs the previous
    // stages, so a layer's time is the difference to the call before;
    // the last one is GoldJob.run itself (decode, gold, write, zone)
    val reps = (0 until 2).map { rep =>
      ctx.releaseCaches()
      val lines = spark.read.text(datalog)
      val peek = Seq("1", "2", "3", "5")
      val a = ctx.call("ops.reassembly", rep)(Workload.force(
        Reassembly.assembleBatch(Reassembly.parseFragments(lines))))
      val decoded = GoldJob.decode(lines, peek)
      val d = ctx.call("ais.decode", rep)(decoded.count())
      val dF = ctx.call("ais.decode_force", rep)(Workload.force(decoded))
      val g = ctx.call("operators.asof", rep)(Workload.force(GoldJob.gold(decoded)))
      val out = ctx.dir(s"gold_layers_$rep")
      val run = ctx.call("jobs.gold_run", rep)(GoldJob.run(spark, datalog, out))
      val z = ctx.call("ops.zone", rep)(
        GoldJob.zoneCount(spark.read.parquet(out)).head().getLong(0))
      ctx.out.check(d.value == log.positions + log.statics,
        s"decoded ${d.value} rows, want ${log.positions + log.statics}")
      ctx.out.check(run.value == log.zoneVessels && z.value == log.zoneVessels,
        s"layer zone counts ${run.value}, ${z.value}")
      (a.seconds, dF.seconds, g.seconds, run.seconds - g.seconds - z.seconds,
        z.seconds, d.value, Workload.dirBytes(out))
    }
    def med(f: ((Double, Double, Double, Double, Double, Long, Long)) => Double) =
      Stats.median(reps.map(f))
    val decodeS = med(r => r._2)
    l("ops.reassembly_s") = (med(_._1), "s")
    l("ais.decode_s") = (med(r => r._2 - r._1), "s")
    l("ais.decode_rows_per_s") = (med(r => r._6 / r._2), "1/s")
    l("ais.decode_yield") = (reps.head._6.toDouble / Lines, "ratio")
    l("operators.asof_s") = (med(r => r._3 - r._2), "s")
    l("jobs.gold_write_s") = (med(_._4), "s")
    l("jobs.gold_write_bytes") = (med(_._7.toDouble), "bytes")
    l("ops.zone_s") = (med(_._5), "s")
    require(decodeS > 0)
    Workload.overhead(ctx, tracedMs.toSeq, untracedMs.toSeq)
    LookupServe.probe(ctx, LookupSeconds)
  }
}
