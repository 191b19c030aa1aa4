package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Everything a workload needs: the session, the run's arguments, the
  * listener (traced runs only), the span recorder and the outcome it
  * fills in.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val work: Path) {
  val probe: Option[SparkProbe] =
    if (!trace) None
    else {
      val p = new SparkProbe(spark.sparkContext)
      spark.sparkContext.addSparkListener(p)
      Some(p)
    }
  val tracer = new Tracer
  val out = new Outcome

  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d.toString
  }

  /** A timed call into the program. A traced call sets the call
    * property the listener attributes jobs by and records a span. In a
    * traced run an untraced call runs with the listener detached, so
    * that traced against untraced calls measures the whole cost of
    * tracing.
    */
  def call[T](kind: String, request: Long, traced: Boolean = trace)(f: => T): Timed[T] = {
    val sc = spark.sparkContext
    val id = s"$kind#$request"
    val detach = probe.filter(_ => !traced)
    detach.foreach { p => p.drain(); sc.removeSparkListener(p) }
    val prev = sc.getLocalProperty(SparkProbe.CallKey)
    if (traced) sc.setLocalProperty(SparkProbe.CallKey, id)
    try {
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = tracer.span(kind, request, traced)(f)
      val t = Timed(r, id, t0, System.nanoTime(), ms0, System.currentTimeMillis())
      if (traced) tracedCalls.synchronized { tracedCalls += ((t.ms0, t.ms1)) }
      t
    } finally {
      if (traced) sc.setLocalProperty(SparkProbe.CallKey, prev)
      // the untraced call's events must not reach the listener
      detach.foreach { p => p.drain(); sc.addSparkListener(p) }
    }
  }

  /** Epoch-ms intervals of every traced call so far. */
  val tracedCalls = mutable.ArrayBuffer[(Long, Long)]()

  /** Spark totals for the jobs one timed call started. */
  def jobsOf(t: Timed[_]): SparkProbe.Totals =
    SparkProbe.totals(probe.get.forCall(t.id), t.ms0, t.ms1)

  /** Release the program's caches, outside any timed window. */
  def releaseCaches(): Unit = {
    graft.ext.Dedup.clearSignatureCaches(blocking = true)
    graft.streaming.StreamOps.clearStaticIndexes(blocking = true)
  }
}

final case class Timed[T](value: T, id: String, t0: Long, t1: Long,
    ms0: Long, ms1: Long) {
  def seconds: Double = (t1 - t0) / 1e9
  def millis: Double = (t1 - t0) / 1e6
}

/** What a run reports. `e2e` and `layer` hold (value, unit); `named`
  * holds the workload's own end-to-end figures, printed by name.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  var correct = true
  val problems = mutable.ArrayBuffer[String]()
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  val named = mutable.LinkedHashMap[String, String]()
  val props = mutable.LinkedHashMap[String, Double]()

  /** Count one operation; a failed one is excluded from timings by
    * the caller, which only records samples of operations that passed.
    */
  def op(ok: Boolean, what: => String = ""): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; problems += what }
    ok
  }

  /** An output check outside the timed operations. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { correct = false; problems += what }

  def timing(name: String, unit: String, xs: Seq[Double]): Unit = {
    if (xs.isEmpty) { named(name) = s"""{"n":0,"unit":"$unit"}"""; return }
    val tl = Stats.upperTail(xs)
      .map { case (p, v) => f""","tail_pct":$p%.2f,"tail":$v%.6f""" }.getOrElse("")
    val first = xs.take(40).map(x => f"$x%.3f").mkString("[", ",", "]")
    named(name) = f"""{"median":${Stats.median(xs)}%.6f$tl,"n":${xs.size},"unit":"$unit","samples":$first}"""
  }

  def value(name: String, unit: String, v: Double): Unit =
    named(name) = f"""{"value":$v%.6f,"unit":"$unit"}"""
}

/** A benchmark workload: set-up (generation, preparation, warm-up),
  * then a timed window, then output checks.
  */
trait Workload {
  /** Generate inputs, prepare and warm up. Returns the set-up seconds
    * spent in-process.
    */
  def setup(ctx: Ctx): Double
  /** Run timed operations until `deadline` (System.nanoTime). */
  def measure(ctx: Ctx, deadline: Long): Unit
  /** Output checks and traced-run layer probes, after the window. */
  def finish(ctx: Ctx): Unit
}

object Workload {
  /** Record the set-up parts by name and return their sum. */
  def setupParts(ctx: Ctx, genS: Double, prepS: Double, warmS: Double): Double = {
    ctx.out.value("setup.generate_s", "s", genS)
    ctx.out.value("setup.prepare_s", "s", prepS)
    ctx.out.value("setup.warmup_s", "s", warmS)
    genS + prepS + warmS
  }

  /** Tracing overhead: traced operations (listener, call property and
    * span) against untraced ones (listener detached) of one run.
    */
  def overhead(ctx: Ctx, traced: Seq[Double], untraced: Seq[Double]): Unit =
    if (traced.nonEmpty && untraced.nonEmpty)
      ctx.out.layer("trace.overhead_ratio") =
        (Stats.median(traced) / Stats.median(untraced) - 1.0, "ratio")

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Evaluate every column of every row (a count could prune columns). */
  def force(df: DataFrame): Long = {
    import org.apache.spark.sql.functions._
    val h = df.select(coalesce(sum(pmod(xxhash64(df.columns.map(c => col(s"`$c`")): _*),
      lit(1000003L))), lit(0L)))
    h.head().getLong(0)
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}

object Main {
  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val mainStartMs = System.currentTimeMillis()
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val trace = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse("perfbench-work"))
    val launchMs = arg(args, "--launch-ms").map(_.toLong).getOrElse(mainStartMs)
    val w: Workload = workload match {
      case "ais_gold" => AisGold
      case "curation_stream" => CurationStreamLoad
      case other => sys.error(s"unknown workload $other")
    }
    val cpus = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = Workload.timed(graft.Sessions.build(cpus.toString))
    val ctx = new Ctx(spark, seed, seconds, trace, work)
    try {
      val inProcessSetup = w.setup(ctx)
      val setupS = (mainStartMs - launchMs) / 1000.0 + sessionS + inProcessSetup
      ctx.out.value("setup.jvm_start_s", "s", (mainStartMs - launchMs) / 1000.0)
      ctx.out.value("setup.session_s", "s", sessionS)
      ctx.probe.foreach(_.drain())
      Jvm.resetHeapPeak()
      val gc0 = Jvm.gcSeconds
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      w.measure(ctx, t0 + seconds * 1000000000L)
      val windowS = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      val heapMb = Jvm.heapPeakMb
      val gcS = Jvm.gcSeconds - gc0
      ctx.out.e2e("setup_s") = (setupS, "s")
      ctx.out.e2e("heap_peak_mb") = (heapMb, "MB")
      ctx.out.value("setup_s", "s", setupS)
      ctx.out.value("heap_peak_mb", "MB", heapMb)
      ctx.out.value("window_s", "s", windowS)
      ctx.probe.foreach { p =>
        // the window's traced operations: untraced ones run with the
        // listener detached
        val calls = ctx.tracedCalls.filter { case (c0, _) => c0 >= ms0 && c0 < ms1 }.toSeq
        val t = calls.map { case (c0, c1) => SparkProbe.totals(p.inWindow(c0, c1), c0, c1) }
          .foldLeft(SparkProbe.Totals(0, 0, 0, 0.0, 0.0, 0L, 0L))(_ + _)
        val callsS = calls.map { case (c0, c1) => c1 - c0 }.sum / 1000.0
        ctx.out.value("spark.traced_ops_s", "s", callsS)
        if (callsS > 0) ctx.out.value("spark.driver_share", "ratio", t.driverS / callsS)
        val l = ctx.out.layer
        l("spark.jobs") = (t.jobs.toDouble, "count")
        l("spark.stages") = (t.stages.toDouble, "count")
        l("spark.tasks") = (t.tasks.toDouble, "count")
        l("spark.task_s") = (t.taskS, "s")
        l("spark.driver_s") = (t.driverS, "s")
        l("spark.shuffle_bytes") = (t.shuffleBytes.toDouble, "bytes")
        l("spark.spill_bytes") = (t.spillBytes.toDouble, "bytes")
        l("jvm.gc_s") = (gcS, "s")
      }
      w.finish(ctx)
      if (trace) {
        val file = work.resolve(s"trace-$workload-$seed.json")
        ctx.tracer.writeJson(file)
        val self = Tracer.selfSecondsByName(ctx.tracer.all)
        println("perfbench.spans " + self.toSeq.sortBy(_._1)
          .map { case (n, s) => f""""$n":$s%.6f""" }.mkString("{", ",", "}"))
      }
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        ctx.out.correct = false
        ctx.out.problems += s"run aborted: $t"
    } finally spark.stop()
    report(workload, ctx.out)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def report(workload: String, o: Outcome): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ")
    println("perfbench.inputs " + o.props.map { case (k, v) => s""""$k":${num(v)}""" }
      .mkString("{", ",", "}"))
    o.problems.take(20).foreach(p => println("perfbench.problem " + p))
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
        .mkString("{", ",", "}")
    println(s"""{"workload":"${esc(workload)}","correct":${o.correct},""" +
      s""""attempted":${o.attempted},"failed":${o.failed},""" +
      s""""e2e":${metrics(o.e2e)},"layer":${metrics(o.layer)},""" +
      s""""named":${o.named.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")}}""")
  }
}
