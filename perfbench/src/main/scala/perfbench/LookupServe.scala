package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.ext.Retrieval
import graft.jobs.IndexExport

/** `Retrieval.bm25Index` + `IndexExport.exportBm25`, then
  * `IndexExport.bm25LookupSingle` point lookups: three closed-loop
  * clients for capacity, then one open-loop generator at a fixed rate,
  * while one writer re-exports the index once in each phase. It runs
  * in traced `ais_gold` runs, after that workload's window: the only
  * place `jobs.LocalLookup`, the tier decision and the export race are
  * measured.
  */
object LookupServe {
  val Docs = 20000
  val Queries = 50000
  val K = 10
  val ClosedClients = 3
  /** Open-loop offered rate (lookups per second) and its workers. */
  val Rate = 12.0
  val OpenWorkers = 2
  val WarmLookups = 120
  /** Open-loop tail limit (also stated in BENCHMARK.json): a flood
    * lookup through Spark takes about 1.1 s, a local one 30-60 ms.
    */
  val TailLimitMs = 1500.0
  /** The generator's median lateness above which the open loop was not
    * offering its rate, and the run is invalid.
    */
  val LateLimitMs = 5.0

  private var corpus: Gen.LookupCorpus = _
  private var idx: Retrieval.Bm25Index = _
  private var outDir: String = _
  private val next = new AtomicInteger

  /** One lookup as the benchmark saw it. Times in System.nanoTime. */
  final case class Lookup(q: Int, due: Long, start: Long, end: Long,
      ok: Boolean, call: String) {
    def fromDueMs: Double = (end - due) / 1e6
    def serviceMs: Double = (end - start) / 1e6
  }
  private val closed = new ConcurrentLinkedQueue[Lookup]
  private val open = new ConcurrentLinkedQueue[Lookup]
  private val exports = new ConcurrentLinkedQueue[Timed[Unit]]
  @volatile private var closedWindow = (0L, 0L)

  /** Set up, run a window of `seconds`, then check. */
  def probe(ctx: Ctx, seconds: Int): Unit = {
    val t0 = System.nanoTime()
    setup(ctx)
    ctx.out.value("lookup.setup_s", "s", (System.nanoTime() - t0) / 1e9)
    val w0 = System.nanoTime()
    measure(ctx, w0 + seconds * 1000000000L)
    finish(ctx)
  }

  private def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val c = Gen.lookupCorpus(ctx.seed, Docs, Queries, IndexExport.LocalLookupCap)
    corpus = c
    c.props.foreach { case (k, v) => ctx.out.props(s"lookup.$k") = v }
    ctx.out.props("lookup.open_rate_per_s") = Rate
    val docs = c.docs.toSeq.toDF("doc_id", "text").repartition(4)
    idx = Retrieval.bm25Index(docs)
    outDir = ctx.dir("index")
    IndexExport.exportBm25(idx, outDir)
    // warm-up: lookups on all clients, and one more export
    val warm = (0 until ClosedClients).map { _ =>
      val th = new Thread(() => (0 until WarmLookups / ClosedClients).foreach(_ =>
        lookup(ctx, next.getAndIncrement(), System.nanoTime())))
      th.start(); th
    }
    warm.foreach(_.join())
    IndexExport.exportBm25(idx, outDir)
  }

  /** One lookup and its per-operation check (at most K rows, scores not
    * increasing); the check runs after the timer stops.
    */
  private def lookup(ctx: Ctx, i: Int, due: Long): Lookup = {
    val q = corpus.queries(i % corpus.queries.length)
    val start = System.nanoTime()
    val t = try Some(ctx.call("jobs.lookup", i.toLong)(
        IndexExport.bm25LookupSingle(ctx.spark, outDir, q.toSeq, K).collect()))
      catch { case e: Exception => ctx.out.problems += s"lookup $i: $e"; None }
    val end = System.nanoTime()
    val ok = t.exists { r =>
      val scores = r.value.map(_.getDouble(2))
      r.value.length <= K && scores.sameElements(scores.sortBy(-_))
    }
    Lookup(i, due, start, end, ok, s"jobs.lookup#$i")
  }

  private def measure(ctx: Ctx, deadline: Long): Unit = {
    val t0 = System.nanoTime()
    val half = t0 + (deadline - t0) / 2
    val stop = new AtomicBoolean(false)
    // one re-export starts half a second into each phase
    val dues = Seq(t0, half).map(_ + 500000000L)
    val writer = new Thread(() => {
      dues.zipWithIndex.foreach { case (due, n) =>
        while (!stop.get && System.nanoTime() < due) Thread.sleep(5)
        if (!stop.get)
          exports.add(ctx.call("jobs.export", n.toLong)(IndexExport.exportBm25(idx, outDir)))
      }
    }, "perfbench-writer")
    writer.start()
    try {
      // phase 1: closed loop, capacity
      closedWindow = (System.nanoTime(), half)
      val clients = (0 until ClosedClients).map { c =>
        val th = new Thread(() => {
          while (System.nanoTime() < half) {
            closed.add(lookup(ctx, next.getAndIncrement(), System.nanoTime()))
          }
        }, s"perfbench-client-$c")
        th.start(); th
      }
      clients.foreach(_.join())
      closedWindow = (closedWindow._1, System.nanoTime())
      // phase 2: open loop at a fixed rate; latency counts from when
      // each lookup was due
      val pool = Executors.newFixedThreadPool(OpenWorkers)
      val late = ArrayBuffer[Double]()
      val start = System.nanoTime()
      val period = (1e9 / Rate).toLong
      var k = 0L
      while (start + k * period < deadline) {
        val due = start + k * period
        while (System.nanoTime() < due) {
          val wait = due - System.nanoTime()
          if (wait > 2000000L) Thread.sleep((wait - 1000000L) / 1000000L)
          else Thread.onSpinWait()
        }
        late += (System.nanoTime() - due) / 1e6
        val i = next.getAndIncrement()
        pool.execute(() => { open.add(lookup(ctx, i, due)); () })
        k += 1
      }
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
      ctx.out.timing("jobs.lookup.gen_late_ms", "ms", late.toSeq)
      genLateMs = if (late.isEmpty) 0.0 else Stats.median(late.toSeq)
      ctx.out.check(genLateMs < LateLimitMs,
        f"open-loop generator ran late: median $genLateMs%.2f ms")
    } finally {
      stop.set(true)
      writer.join()
    }
    val cl = closed.asScala.toSeq
    val op = open.asScala.toSeq
    (cl ++ op).foreach(l => ctx.out.op(l.ok, s"lookup ${l.q}"))
    val closedS = (closedWindow._2 - closedWindow._1) / 1e9
    val qps = cl.count(_.ok) / closedS
    val lat = op.filter(_.ok).map(_.fromDueMs)
    ctx.out.timing("lookup.open_ms", "ms", lat)
    if (lat.nonEmpty) {
      ctx.out.value("lookup.p50_ms", "ms", Stats.median(lat))
      Stats.upperTail(lat).foreach { t =>
        ctx.out.value("lookup.tail_ms", "ms", t._2)
        ctx.out.check(t._2 <= TailLimitMs,
          f"open-loop tail ${t._2}%.1f ms is over the ${TailLimitMs}%.0f ms limit")
      }
    }
    ctx.out.value("lookup.qps", "1/s", qps)
    val ex = exports.asScala.toSeq
    ctx.out.timing("export.s", "s", ex.map(_.seconds))
  }

  private var genLateMs = 0.0

  private def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    // sampled lookups against the in-memory index, flood queries included
    val sample = (0 until 40).map(j => (j * 997) % corpus.queries.length) ++
      corpus.queries.indices.filter(i => corpus.isFlood(corpus.queries(i))).take(3)
    val expected = Retrieval.bm25TopKIndexed(idx,
        sample.map(i => (i.toLong, corpus.queries(i).toSeq)).toDF("query_id", "terms"), K)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq }
    sample.foreach { i =>
      val got = IndexExport.bm25LookupSingle(spark, outDir, corpus.queries(i).toSeq, K)
        .collect().map((r: Row) => (r.getLong(0), r.getDouble(2))).toSeq
      val want = expected.getOrElse(i.toLong, Seq.empty)
      ctx.out.check(got == want, s"lookup $i: got ${got.take(3)}, want ${want.take(3)}")
    }
    if (ctx.trace) {
      val l = ctx.out.layer
      val p = ctx.probe.get
      val all = (closed.asScala ++ open.asScala).filter(_.ok).toSeq
      val jobsByCall = p.all.groupBy(_.call)
      val local = all.filter(x => !jobsByCall.contains(x.call))
      val viaSpark = all.filter(x => jobsByCall.contains(x.call))
      l("jobs.lookup.local_share") = (local.size.toDouble / all.size, "ratio")
      if (local.nonEmpty)
        l("jobs.lookup.local_p50_ms") = (Stats.median(local.map(_.serviceMs)), "ms")
      if (viaSpark.nonEmpty)
        l("jobs.lookup.spark_p50_ms") = (Stats.median(viaSpark.map(_.serviceMs)), "ms")
      l("jobs.lookup.jobs_per_lookup") =
        (all.map(x => jobsByCall.get(x.call).map(_.size).getOrElse(0)).sum.toDouble / all.size, "count")
      val ex = exports.asScala.toSeq
      val during = open.asScala.toSeq.filter(x => x.ok && ex.exists(e => x.start < e.t1 && x.end > e.t0))
      val duringLat = during.map(_.fromDueMs)
      Stats.upperTail(duringLat).orElse(if (duringLat.isEmpty) None else Some((100.0, duringLat.max)))
        .foreach(t => l("jobs.lookup.during_export_tail_ms") = (t._2, "ms"))
      l("jobs.lookup.gen_late_ms") = (genLateMs, "ms")
      if (ex.nonEmpty) {
        l("jobs.export.jobs") = (Stats.median(ex.map(e => ctx.jobsOf(e).jobs.toDouble)), "count")
        val epochBytes = Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("epoch_"))
          .map(f => Workload.dirBytes(f.getPath).toDouble).toSeq
        if (epochBytes.nonEmpty) l("jobs.export.bytes") = (Stats.median(epochBytes), "bytes")
      }
    }
  }
}
