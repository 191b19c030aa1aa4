package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.Tables
import graft.queries.Curation

/** The batch curation shapes over the curation workload's corpus: q117
  * (`Curation.pipeline`) and q122 (`Curation.incrementalIngest`, delta
  * = doc_id % 7 == 0), plus `Curation.clean` and
  * `Similarity.kmeansCentroids` called alone. They run in traced runs
  * of `curation_stream`, after its window: one warm call of each shape,
  * whose outputs the DuckDB oracle checks, then one timed call.
  */
object CurationBatch {

  /** Write a corpus as the `documents` and `embeddings` tables. */
  def writeTables(spark: SparkSession, c: Gen.Corpus, dir: String): Unit = {
    import spark.implicits._
    c.docs.toSeq.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    c.docs.indices.map(i => (c.docs(i).id, c.emb(i).toSeq, (c.docs(i).id % 8).toInt))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def pipeline(spark: SparkSession, dir: String): DataFrame =
    Curation.pipeline(spark, Tables.documents(spark, dir), Tables.embeddings(spark, dir))

  private def ingest(spark: SparkSession, dir: String): DataFrame =
    Curation.incrementalIngest(spark, Tables.documents(spark, dir),
      Tables.embeddings(spark, dir), pmod(col("doc_id"), lit(7L)) === 0L)

  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  /** Oracle SQL for both shapes, as the JSON object the checker reads. */
  private def oracleJson: String =
    Seq("q117_curation_pipeline", "q122_incremental_curation").map { q =>
      "\"" + q + "\":\"" + Curation.oracleSql(q).flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
        case ch => ch.toString
      } + "\""
    }.mkString("{", ",", "}")

  def measure(ctx: Ctx, dataDir: String, c: Gen.Corpus): Unit = {
    val spark = ctx.spark
    val l = ctx.out.layer
    val outDir = ctx.dir("oracle_out")
    val shapes = Seq(
      ("queries.pipeline", "q117_curation_pipeline", () => pipeline(spark, dataDir)),
      ("queries.ingest", "q122_incremental_curation", () => ingest(spark, dataDir)))
    val nDelta = c.docs.count(_.id % 7 == 0)
    shapes.foreach { case (kind, q, build) =>
      ctx.releaseCaches()
      // warm call: its outputs go to the oracle check and are the
      // reference the timed call must reproduce
      val warmDf = build()
      val warm = warmDf.collect()
      spark.createDataFrame(java.util.Arrays.asList(warm: _*), warmDf.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
      ctx.releaseCaches()
      val t = try Some(ctx.call(kind, 0)(build().collect()))
        catch { case e: Exception => ctx.out.problems += s"$kind: $e"; None }
      ctx.releaseCaches()
      val ok = ctx.out.op(t.exists(r => r.value.nonEmpty && canon(r.value) == canon(warm)),
        s"$q differs between two calls")
      if (ok) {
        val s = ctx.jobsOf(t.get)
        l(s"$kind.jobs") = (s.jobs.toDouble, "count")
        l(s"$kind.driver_s") = (s.driverS, "s")
        l(s"$kind.task_s") = (s.taskS, "s")
        l(s"$kind.shuffle_bytes") = (s.shuffleBytes.toDouble, "bytes")
        if (kind == "queries.pipeline") {
          l("queries.pipeline.keep_ratio") = (warm.length.toDouble / c.docs.length, "ratio")
          ctx.out.value("curation.pipeline_s", "s", t.get.seconds)
        } else {
          l("queries.ingest.accept_ratio") = (warm.length.toDouble / nDelta, "ratio")
          ctx.out.value("curation.ingest_s", "s", t.get.seconds)
        }
      }
    }
    Files.write(ctx.work.resolve("oracle_out/oracle_sql.json"), oracleJson.getBytes("UTF-8"))
    // the stages that run alone, on the same corpus
    val clean = (0 until 2).map { r =>
      ctx.releaseCaches()
      ctx.call("ext.clean", r)(Workload.force(
        Curation.clean(Tables.documents(spark, dataDir)))).seconds
    }
    val kmeans = (0 until 2).map { r =>
      ctx.call("ext.kmeans", r)(graft.ext.Similarity.kmeansCentroids(
        Tables.embeddings(spark, dataDir), k = Curation.IndexK,
        iters = Curation.IndexIters, roundTo = Curation.IndexRound)).seconds
    }
    l("ext.clean_s") = (Stats.median(clean), "s")
    l("ext.kmeans_s") = (Stats.median(kmeans), "s")
  }
}
