package perfbench

import java.io.File
import java.nio.file.{Files => NioFiles, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.{PipelineModel, Transformer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.ml.{FeaturePipeline, TrainingJob}
import graft.schema.Transactions
import graft.streaming.{Scorer, WireFormat}

/** A committed micro-batch: trigger start and commit in epoch ms. */
final case class Batch(query: String, id: Long, startMs: Long,
                       commitMs: Long, rows: Long, p: StreamingQueryProgress) {
  def wallS: Double = (commitMs - startMs) / 1e3
}

/** Collects the progress of every streaming query. Commit time is the
  * trigger start plus `triggerExecution`, both from the progress event.
  */
final class Progress extends StreamingQueryListener {
  private val seen = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      seen.add(Batch(p.name, p.batchId, start,
        start + p.durationMs.get("triggerExecution").longValue, p.numInputRows,
        p))
    }
  }

  def batches(query: String): Seq[Batch] =
    seen.asScala.filter(_.query == query).toSeq.sortBy(_.commitMs)
}

/** The scorer deployed as `graft.jobs.ScoreMain` wires it: file source →
  * `WireFormat.decodeFrame` → `WireFormat.valid` → `Scorer.score` →
  * `Scorer.sinkWriter` (parquet + log blocks, batch-id keyed) beside
  * `Scorer.counterWriter`. `trigger` replaces the sink's 2 s trigger
  * (catch-up runs with none); `maxFiles` caps files per trigger.
  */
final class Deployment(spark: SparkSession, features: PipelineModel,
                       model: Transformer, val root: File, val name: String,
                       trigger: Option[Trigger], maxFiles: Option[Int]) {
  val src = new File(root, "src")
  val scored = new File(root, "scored").getPath
  val countsLog = new File(root, "counts_log").getPath
  val sinkName = s"$name.score"
  val countsName = s"$name.counts"
  src.mkdirs()
  private var queries = Seq.empty[StreamingQuery]

  def start(): Unit = {
    val reader = maxFiles.fold(spark.readStream)(n =>
      spark.readStream.option("maxFilesPerTrigger", n.toLong))
    val wire = WireFormat.decodeFrame(
      reader.text(src.getPath).withColumnRenamed("value", "v"), "v")
    val out = Scorer.score(WireFormat.valid(wire), features, model)
    val sink = Scorer.sinkWriter(out, scored, s"$root/ckpt-scored",
      textLogPath = Some(s"$root/consumer_log")).queryName(sinkName)
    queries = Seq(
      trigger.fold(sink)(sink.trigger).start(),
      Scorer.counterWriter(Scorer.counters(out), countsLog,
        s"$root/ckpt-counts").queryName(countsName).start())
  }

  def drain(): Unit = queries.foreach(_.processAllAvailable())

  def stop(): Unit = { queries.foreach(_.stop()); queries = Nil }

  /** Every failure a query of this deployment reported. */
  def errors: Seq[String] = queries.flatMap(_.exception.map(_.getMessage))

  /** file name → the batch ids of the sink query that read it. The file
    * source logs each file under its own log index; the query's offset
    * log says which index each batch read up to. The two counts diverge
    * when a stop lands between the source's log write and the query's.
    */
  def fileBatches(): Map[String, Set[Long]] = {
    def lines(dir: String) =
      Option(new File(s"$root/ckpt-scored/$dir").listFiles()).toSeq.flatten
        .filter(_.getName.matches("\\d+(\\.compact)?"))
        .map(f => f -> scala.io.Source.fromFile(f).getLines().toList)
    val upTo = lines("offsets").flatMap { case (f, ls) =>
      """"logOffset":(\d+)""".r.findFirstMatchIn(ls.mkString)
        .map(m => m.group(1).toLong -> f.getName.toLong)
    }.sorted
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    lines("sources/0").flatMap(_._2).flatMap(l => entry.findFirstMatchIn(l))
      .map(m => (new File(new java.net.URI(m.group(1)).getPath).getName,
        upTo.find(_._1 >= m.group(2).toLong).map(_._2)))
      .groupBy(_._1).map { case (k, v) => k -> v.flatMap(_._2).toSet }
  }
}

/** Publishes a file into a source directory with an atomic rename. */
object Publish {
  def apply(f: File, dir: File): File = {
    val dest = new File(dir, f.getName)
    NioFiles.move(f.toPath, dest.toPath, StandardCopyOption.ATOMIC_MOVE)
    dest
  }
}

/** Per offered file: its events, the exact sum of their wire fields'
  * xxhash64 (an order-insensitive hash) and how many of them a batch
  * `TrainingJob.score` labels FRAUD.
  */
final case class FileFp(n: Long, hash: java.math.BigDecimal, fraud: Long) {
  def +(o: FileFp): FileFp = FileFp(n + o.n, hash.add(o.hash), fraud + o.fraud)
  def sameEvents(o: FileFp): Boolean = n == o.n && hash.compareTo(o.hash) == 0
}

/** Output checks on the scorer's deployments. */
object Checks {
  private val wireHash = xxhash64(Transactions.wireSchema.fieldNames.map(col).toIndexedSeq: _*)
    .cast("decimal(38,0)")

  /** One batch pass over every offered file of a run. */
  def offered(spark: SparkSession, files: Seq[File], features: PipelineModel,
              model: Transformer): Map[String, FileFp] =
    TrainingJob.score(WireFormat.valid(WireFormat.decodeFrame(
        spark.read.text(files.map(_.getPath): _*))), features, model)
      // narrow plan: the scan's file name is still in scope here
      .withColumn("__file", element_at(split(input_file_name(), "/"), -1))
      .groupBy("__file").agg(count(lit(1)), sum(wireHash),
        sum(when(col("prediction_label") === "FRAUD", 1L).otherwise(0L)))
      .collect().map(r => r.getString(0) ->
        FileFp(r.getLong(1), r.getDecimal(2), r.getLong(3))).toMap

  /** Exactly once, counted per `batch_id`: every offered file is in the
    * sink's source log under one batch id, and each sink `batch_id`
    * partition holds exactly the events of its files (count and hash, so
    * a lost, duplicated or altered event fails). Then the counters: the
    * final `Scorer.lastCounts` equal the batch score of the same events.
    */
  def apply(spark: SparkSession, d: Deployment, files: Seq[File],
            perFile: Map[String, FileFp]): Seq[String] = {
    val names = files.map(_.getName)
    val logged = d.fileBatches()
    val bad = names.filter(n => logged.get(n).forall(_.size != 1))
    val stray = logged.keySet -- names
    val expect = names.filter(n => logged.get(n).exists(_.size == 1))
      .groupBy(n => logged(n).head)
      .map { case (b, fs) => b -> fs.map(perFile).reduce(_ + _) }
    val got = spark.read.parquet(d.scored).groupBy("batch_id")
      .agg(count(lit(1)), sum(wireHash)).collect()
      .map(r => r.getAs[Number](0).longValue -> FileFp(r.getLong(1), r.getDecimal(2), 0L))
      .toMap
    val diff = (expect.keySet ++ got.keySet).toSeq.sorted.filter(b =>
      !(expect.contains(b) && got.contains(b) && expect(b).sameEvents(got(b))))
    val total = names.map(perFile).reduce(_ + _)
    val batch = Map("Fraud Count" -> total.fraud,
      "Non-Fraud Count" -> (total.n - total.fraud)).filter(_._2 > 0)
    val last = Scorer.lastCounts(spark, d.countsLog).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq(
      Option.when(bad.nonEmpty)(s"${d.name}: ${bad.size} offered files not " +
        s"in exactly one batch (${bad.take(3).mkString(",")})"),
      Option.when(stray.nonEmpty)(s"${d.name}: unknown files in source log"),
      Option.when(diff.nonEmpty)(s"${d.name}: sink batches " +
        s"${diff.take(5).mkString(",")} differ from their offered files"),
      Option.when(last != batch)(
        s"${d.name}: lastCounts $last != batch score $batch")).flatten
  }
}

/** Prefix-difference timings of the scoring pipeline's public calls on
  * one 10k-event wire file: each prefix is materialised to the `noop`
  * sink, and a layer's time is its prefix's median minus the previous
  * prefix's median.
  */
object StageTimes {
  def apply(spark: SparkSession, file: File, features: PipelineModel,
            model: Transformer, reps: Int, trace: Trace): Seq[(String, Double)] = {
    val raw = spark.read.text(file.getPath).withColumnRenamed("value", "v")
    val decoded = WireFormat.valid(WireFormat.decodeFrame(raw, "v"))
    val pre = TrainingJob.servePreprocess(decoded)
    val featured = features.transform(FeaturePipeline.withRequiredFeatures(pre))
    val scored = Scorer.score(decoded, features, model)
    val blocks = Scorer.blocks(scored)
    val prefixes = Seq("read" -> raw,
      "streaming.WireFormat.decode_s" -> decoded,
      "ml.TrainingJob.servePreprocess_s" -> pre,
      "ml.features.transform_s" -> featured,
      "ml.model.transform_s" -> scored,
      "ops.LogGrammar.blocks_s" -> blocks)
    val med = prefixes.map { case (name, df) =>
      val times = (0 to reps).map { _ =>
        trace.span(s"stage.$name") {
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
      }.drop(1) // the first materialisation compiles the plan
      name -> Stats.median(times)
    }
    med.sliding(2).map { case Seq((_, a), (name, b)) => name -> (b - a) }.toSeq
  }
}
