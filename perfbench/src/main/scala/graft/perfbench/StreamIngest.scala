package graft.perfbench

import graft.ops.Text
import graft.streaming.Streaming
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** Streaming ingest of a generated multilingual corpus (see gen.py), run
  * as part of the `registry` workload: a parquet file source drained by
  * `Trigger.AvailableNow`, one file per micro-batch, through the curation
  * gates (`Text.curationGates` against language profiles fitted in set-up)
  * and the fingerprint dedup (`Streaming.exactDedupStream`), into a parquet
  * sink with a real checkpoint directory.
  *
  * One ingest runs from an empty checkpoint to termination and is one
  * operation; its latency samples are the micro-batch trigger times. The
  * check: the surviving doc ids equal the batch answer, i.e. for each
  * fingerprint the gate-admitted document of the earliest file.
  */
final class StreamIngest(dir: String, workDir: String) {
  import StreamIngest._
  private var profiles: Seq[(String, Seq[String])] = Nil
  private var expected: Set[Long] = null

  def setup(spark: SparkSession): Unit =
    profiles = Text.languageProfiles(
      spark.read.parquet(s"$dir/profile_docs.parquet"), "doc_id", "text", "lang", TopK)

  private def admitted(df: DataFrame, carry: Seq[String]): DataFrame =
    Text.curationGates(df, "doc_id", "text", profiles, QualityMin, carryCols = "lang" +: carry)
      .filter(Admit)

  /** Ingest `i` inside span "stream"; returns the error, if any, and the
    * trigger times. Check the output afterwards with [[check]].
    */
  def run(spark: SparkSession, tr: Tracer, i: Int): (Option[String], Seq[Double]) = {
    val seen = tr.tel.progressSince(0).size
    val schema = spark.read.parquet(s"$dir/stream").schema
    val (err, _) = tr.span("stream") {
      try {
        val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1L)
          .parquet(s"$dir/stream")
          .transform(src => Streaming.exactDedupStream(admitted(src, Seq("ts", "text")), "ts", "text", Watermark))
          .select("doc_id", "lang", "fp")
          .writeStream.format("parquet")
          .option("path", out(i)).option("checkpointLocation", s"$workDir/stream-ckpt-$i")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        q.exception.map(_.toString)
      } catch { case e: Throwable => Some(e.toString.take(300)) }
    }
    tr.drain()
    val prog = tr.tel.progressSince(seen).filter(_.numInputRows > 0)
    (err.orElse(if (prog.size < Files) Some(s"only ${prog.size} micro-batches") else None),
      prog.map(_.durationMs.get("triggerExecution").doubleValue / 1e3))
  }

  private def out(i: Int) = s"$workDir/stream-out-$i"

  /** True when ingest `i`'s survivors equal the batch answer. */
  def check(spark: SparkSession, i: Int): Boolean = {
    if (expected == null) expected = batchAnswer(spark)
    spark.read.parquet(out(i)).select("doc_id").collect().map(_.getLong(0)).toSet == expected
  }

  /** For each fingerprint, the admitted document of the earliest file. */
  private def batchAnswer(spark: SparkSession): Set[Long] = {
    val docs = spark.read.parquet(s"$dir/stream").withColumn("file", input_file_name())
    admitted(docs, Seq("file", "text"))
      .withColumn("fp", Text.fingerprint(col("text")))
      .withColumn("rk", row_number().over(Window.partitionBy("fp").orderBy("file", "doc_id")))
      .filter(col("rk") === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
  }

  /** Per ingest: progress phases summed, state at the end, and the task
    * counts of its span; the median ingest is reported.
    */
  def layers(tr: Tracer): Map[String, Double] = {
    val prog = tr.tel.progressSince(0).filter(_.numInputRows > 0).groupBy(_.runId).values.toSeq
    def phase(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
    val per = prog.map { ps =>
      val ops = ps.flatMap(_.stateOperators)
      Map(
        "add_batch_s" -> ps.map(phase(_, "addBatch")).sum,
        "planning_s" -> ps.map(phase(_, "queryPlanning")).sum,
        "commit_s" -> ps.map(phase(_, "commitOffsets")).sum,
        "offsets_s" -> ps.map(p => phase(p, "latestOffset") + phase(p, "walCommit") + phase(p, "getBatch")).sum,
        "state_commit_s" -> ops.map(_.commitTimeMs / 1e3).sum,
        "state_rows" -> ps.last.stateOperators.map(_.numRowsTotal.toDouble).sum,
        "state_mb" -> (if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes / 1e6).max),
        "batches" -> ps.size.toDouble)
    }
    val spans = tr.spans.filter(_.name == "stream").map(tr.counts).toSeq
    val fromProgress = if (per.isEmpty) Map.empty[String, Double]
      else per.head.keys.map(k => s"stream.$k" -> Main.median(per.map(_(k)))).toMap
    if (spans.isEmpty) fromProgress
    else fromProgress ++ Map(
      "stream.cpu_s" -> Main.median(spans.map(_.cpuS)),
      "stream.shuffle_mb" -> Main.median(spans.map(_.shuffleMb)))
  }
}

object StreamIngest {
  val TopK = 40
  val QualityMin = 0.3
  val Watermark = "1 hour"
  /** Files in the generated stream, one micro-batch each (gen.STREAM_FILES). */
  val Files = 4
  /** The funnel's admit conjunction; a NULL gate fails closed. */
  val Admit: Column = coalesce(col("pred_lang") === col("lang"), lit(false)) &&
    col("quality_ok") && coalesce(col("rep_flagged") === 0L, lit(false))

  val layerNames: Seq[String] = Seq("add_batch_s", "planning_s", "commit_s", "offsets_s",
    "state_commit_s", "state_rows", "state_mb", "batches", "cpu_s", "shuffle_mb").map(k => s"stream.$k")
}
