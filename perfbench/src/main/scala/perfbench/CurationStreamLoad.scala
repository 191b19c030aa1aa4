package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.Tables
import graft.queries.Curation
import graft.streaming.CurationStream

/** A closed loop with one caller: add a micro-batch to
  * `CurationStream.ingestStream`, wait with `processAllAvailable`;
  * compact every 5 batches and redact once mid-stream. Traced runs also
  * run the batch curation shapes on the same corpus after the window
  * ([[CurationBatch]]).
  */
object CurationStreamLoad extends Workload {
  /** The batch shapes' corpus; its cleaned non-delta train split is the
    * seed store.
    */
  val Docs = 5000
  /** Fresh documents generated after the corpus and streamed after its
    * delta (`doc_id % 7 == 0`): 61 batches in all, 10 for warm-up and 51
    * for the window, about five times the 10 a 15 s window takes on a
    * 4-core host, so that a faster program does not run out of input.
    */
  val ExtraDocs = 1500
  val BatchDocs = 36
  /** Compaction follows every `CompactEvery`-th batch: a cycle. Batch
    * time climbs within a cycle as the store gains files and drops after
    * the compaction, so the window runs whole cycles: it starts right
    * after a compaction and ends at the first compaction after the
    * deadline. Warm-up runs `WarmCycles` cycles, so that JIT and the
    * stream's lazy set-up are done (a second cycle still ran about 10%
    * faster than the first after a one-cycle warm-up).
    */
  val CompactEvery = 5
  val WarmCycles = 2

  /** The job-description tags the program sets on its staged
    * micro-batch path; each gets a job count and a time.
    */
  val StageTags = Seq("guard_and_exact", "d3_exact", "d3_sigs", "d4a_ck",
    "d4a_minhash_vs_store", "d4_ck", "d4_minhash_within", "a5_cells", "d5a_ck",
    "d5a_semantic_vs_store", "d5_ck", "d5_semantic_within", "d6_decontaminate")

  private type In = (Long, String, String, Long, String)
  private var slices: Seq[Seq[In]] = _
  private var input: MemoryStream[In] = _
  private var query: StreamingQuery = _
  private var storeDir: String = _
  private var dataDir: String = _
  private var corpus: Gen.Corpus = _
  private var next = 0
  private val batchesSeen = new AtomicLong
  private var docsAdded = 0L
  private val batchS = ArrayBuffer[Double]()
  private val traced, untraced = ArrayBuffer[Double]()
  /** Traced batches: batch id, ms0, ms1. */
  private val batchWindows = ArrayBuffer[(Long, Long, Long)]()
  private val compactS, redactS = ArrayBuffer[Double]()
  private var redacted: Seq[Long] = Nil

  private val progress = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      if (e.progress.numInputRows > 0) batchesSeen.incrementAndGet()
      ()
    }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def setup(ctx: Ctx): Double = {
    val spark = ctx.spark
    import spark.implicits._
    val (all, genS) = Workload.timed(Gen.corpus(ctx.seed, Docs + ExtraDocs))
    val c = Gen.Corpus(all.docs.take(Docs), all.emb.take(Docs), all.props)
    corpus = c
    all.props.foreach { case (k, v) => ctx.out.props(k) = v }
    slices = (c.docs.filter(_.id % 7 == 0) ++ all.docs.drop(Docs))
      .map(d => (d.id, d.lang, d.source, d.text.length.toLong, d.text))
      .toSeq.grouped(BatchDocs).toSeq
    ctx.out.props("corpus_docs") = Docs
    ctx.out.props("stream_docs") = slices.map(_.size).sum
    ctx.out.props("batch_docs") = BatchDocs
    val (_, prepS) = Workload.timed {
      dataDir = ctx.dir("corpus")
      CurationBatch.writeTables(spark, c, dataDir)
      // the stream joins every streamed document to its embedding
      val streamDir = ctx.dir("stream_corpus")
      CurationBatch.writeTables(spark, all, streamDir)
      val docs = Tables.documents(spark, dataDir)
      val emb = Tables.embeddings(spark, dataDir)
      val cl = Curation.clean(docs)
      val bucket = pmod(pmod(col("doc_id"), lit(1000000000L)) * 2654435761L, lit(100L))
      val notDelta = pmod(col("doc_id"), lit(7L)) =!= 0L
      // seed store = the cleaned non-delta train split; the frozen
      // holdout = its evaluation split (the q122 shapes)
      val seed = cl.filter(notDelta && bucket < 80L)
      val holdout = cl.filter(notDelta && bucket >= 80L)
      val trained = graft.ext.Similarity.kmeansCentroids(emb,
        k = Curation.IndexK, iters = Curation.IndexIters, roundTo = Curation.IndexRound)
      storeDir = ctx.dir("store")
      CurationStream.initStore(
        seed.select($"doc_id", $"lang", $"source", $"n_chars", $"text"), storeDir)
      implicit val sqlCtx: SQLContext = spark.sqlContext
      input = MemoryStream[In]
      spark.streams.addListener(progress)
      query = CurationStream.ingestStream(
        input.toDF().toDF("doc_id", "lang", "source", "n_chars", "text"),
        Tables.embeddings(spark, streamDir), trained, holdout, storeDir,
        ctx.dir("checkpoint"))
    }
    ctx.out.props("store_seed_docs") = CurationStream.readStore(spark, storeDir).count()
    val (_, warmS) = Workload.timed {
      (0 until WarmCycles).foreach { _ =>
        (0 until CompactEvery).foreach(_ => batch(ctx, record = false, tracedBatch = false))
        CurationStream.compactStore(spark, storeDir)
      }
    }
    // the mid-stream compliance request: the three lowest ids the
    // stream accepted in warm-up
    redacted = CurationStream.readStore(spark, storeDir)
      .filter($"ingest_batch" >= 0L).select($"doc_id")
      .orderBy($"doc_id").limit(3).collect().map(_.getLong(0)).toSeq
    ctx.out.check(redacted.nonEmpty, "warm-up accepted no document to redact")
    Workload.setupParts(ctx, genS, prepS, warmS)
  }

  private def batch(ctx: Ctx, record: Boolean, tracedBatch: Boolean): Boolean = {
    val i = next
    next += 1
    val t = try {
      Some(ctx.call("streaming.batch", i, tracedBatch) {
        input.addData(slices(i): _*)
        query.processAllAvailable()
      })
    } catch { case e: Exception => ctx.out.problems += s"batch $i: $e"; None }
    docsAdded += slices(i).size
    val ok = t.isDefined && query.exception.isEmpty
    if (record) {
      ctx.out.op(ok, s"stream batch $i")
      if (ok) {
        val s = t.get.seconds
        batchS += s
        (if (tracedBatch) traced else untraced) += s
        if (tracedBatch) batchWindows += ((i.toLong, t.get.ms0, t.get.ms1))
      }
    } else ctx.out.check(ok, s"warm-up batch $i failed")
    ok
  }

  def measure(ctx: Ctx, deadline: Long): Unit = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    var alive = true
    var n = 0
    val docs0 = docsAdded
    // whole cycles: stop at the first compaction after the deadline
    while (alive && next < slices.size &&
        (n % CompactEvery != 0 || n == 0 || System.nanoTime() < deadline)) {
      alive = batch(ctx, record = true, tracedBatch = ctx.trace && n % 2 == 0)
      n += 1
      if (alive && n % CompactEvery == 0) {
        val t = ctx.call("streaming.compact", next)(CurationStream.compactStore(spark, storeDir))
        compactS += t.seconds
      }
      // the one redaction (of ids chosen in set-up, outside the
      // window) rides the first compaction in the window:
      // both change the store version, so the next batch rebuilds the
      // stream's side state once for the two
      if (alive && redactS.isEmpty && n % CompactEvery == 0) {
        val t = ctx.call("streaming.redact", next)(
          CurationStream.redactStore(spark, storeDir, redacted))
        redactS += t.seconds
      }
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    ctx.out.check(!alive || (n % CompactEvery == 0 && System.nanoTime() >= deadline),
      "stream ran out of input before the window ended")
    val docsPerS = (docsAdded - docs0) / windowS
    ctx.out.timing("stream.batch_s", "s", batchS.toSeq)
    if (batchS.nonEmpty) {
      ctx.out.value("stream.batch_p50_s", "s", Stats.median(batchS.toSeq))
      ctx.out.value("stream.batch_tail_s", "s",
        Stats.upperTail(batchS.toSeq).map(_._2).getOrElse(batchS.max))
      ctx.out.e2e("op_p50_ms") = (Stats.median(batchS.toSeq) * 1000, "ms")
    }
    ctx.out.value("stream.docs_per_s", "1/s", docsPerS)
    ctx.out.e2e("throughput_per_s") = (docsPerS, "1/s")
    ctx.out.timing("streaming.compact_s", "s", compactS.toSeq)
    ctx.out.timing("streaming.redact_s", "s", redactS.toSeq)
  }

  def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    query.stop()
    query.awaitTermination()
    spark.streams.removeListener(progress)
    // store invariants, outside the window
    val store = CurationStream.readStore(spark, storeDir)
    val manifest = CurationStream.manifestView(store)
    val nManifest = manifest.count()
    val nDistinct = manifest.select($"doc_id").distinct().count()
    ctx.out.check(nManifest == nDistinct, s"manifest has duplicate doc_ids: $nManifest rows, $nDistinct ids")
    val seedIds = store.filter($"ingest_batch" === -1L).select($"doc_id")
    val accepted = store.filter($"ingest_batch" >= 0L).select($"doc_id")
    val overlap = accepted.join(seedIds, Seq("doc_id")).count()
    ctx.out.check(overlap == 0, s"$overlap accepted docs are also in the seed store")
    val nAccepted = accepted.count()
    ctx.out.check(nAccepted > 0, "no document was accepted")
    val deltaIds = slices.take(next).flatten.map(_._1).toSet
    val stray = accepted.collect().map(_.getLong(0)).filterNot(deltaIds)
    ctx.out.check(stray.isEmpty, s"accepted ids that were never added: ${stray.take(5).mkString(",")}")
    if (redactS.nonEmpty) {
      val live = store.filter($"doc_id".isin(redacted: _*) && $"text".isNotNull).count()
      ctx.out.check(live == 0, s"$live redacted docs still have text")
    }
    ctx.out.check(batchesSeen.get == next,
      s"stream reported ${batchesSeen.get} micro-batches with input, ${next} were added")
    if (ctx.trace) {
      val l = ctx.out.layer
      val jobs = ctx.probe.get.all
      // micro-batch jobs carry Spark's batch-id property
      val per = batchWindows.toSeq.map { case (id, ms0, ms1) =>
        val js = jobs.filter(_.streamBatch == id.toString)
        (js, SparkProbe.totals(js, ms0, ms1))
      }
      if (per.nonEmpty) {
        l("streaming.batch.jobs") = (Stats.median(per.map(_._2.jobs.toDouble)), "count")
        l("streaming.batch.driver_s") = (Stats.median(per.map(_._2.driverS)), "s")
        l("streaming.batch.task_s") = (Stats.median(per.map(_._2.taskS)), "s")
        StageTags.foreach { tag =>
          def tagged(js: Seq[JobRec]) = js.filter(j => Option(j.description)
            .exists(d => d == s"graft-stage $tag" || d == s"graft-drop $tag"))
          val counts = per.map(p => tagged(p._1))
          l(s"streaming.stage.$tag.jobs") = (Stats.median(counts.map(_.size.toDouble)), "count")
          l(s"streaming.stage.$tag.s") = (Stats.median(counts.map(js =>
            Stats.unionLength(js.map(j => (j.start, j.end)), Long.MinValue, Long.MaxValue) / 1000.0)), "s")
        }
        val seen = per.flatMap(_._1).flatMap(j => Option(j.description)).groupBy(identity)
          .map { case (d, xs) => s""""$d":${xs.size}""" }
        println("perfbench.stream_descriptions " + seen.mkString("{", ",", "}"))
      }
      if (compactS.nonEmpty) l("streaming.compact_s") = (Stats.median(compactS.toSeq), "s")
      if (redactS.nonEmpty) l("streaming.redact_s") = (Stats.median(redactS.toSeq), "s")
      l("streaming.store_files") = (countDataFiles(new java.io.File(storeDir)).toDouble, "count")
      l("streaming.accept_ratio") = (nAccepted.toDouble / docsAdded, "ratio")
      Workload.overhead(ctx, traced.map(_ * 1000).toSeq, untraced.map(_ * 1000).toSeq)
      CurationBatch.measure(ctx, dataDir, corpus)
    }
  }

  private def countDataFiles(f: java.io.File): Int =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(countDataFiles).sum
    else if (f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")) 1
    else 0
}
