package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.ml.{PipelineModel, Transformer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.gen.TransactionGen
import graft.ml.TrainingJob

/** What one run of a workload produced: the end-to-end metrics, the
  * per-layer metrics every workload reports (traced runs), and `details`,
  * the workload's own layer breakdown and the bases of its ratios, which
  * go to the traced run's report.
  */
final case class Outcome(e2e: Seq[(String, Double)],
                         layers: Seq[(String, Double)],
                         details: Seq[(String, Double)],
                         attempted: Long, failures: Seq[String])

final case class Ctx(spark: SparkSession, cores: Int, seed: Long,
                     seconds: Int, work: File, trace: Trace,
                     counters: Option[Counters]) {
  def now: Long = System.currentTimeMillis()
}

/** The paper's pipeline, generator → JSON wire → file stream → decode →
  * features → GBT model → parquet/log sinks beside the running counters,
  * deployed as `ScoreMain` deploys it, in one of two regimes:
  *
  *  - `score_catchup`: a consumer drains a backlog of 10,000-event wire
  *    files, one file per trigger, no trigger delay. Per-row work
  *    dominates (decode, features, GBT transform, parquet/text write).
  *  - `score_paced`: `ScoreMain`'s steady state under its 2 s trigger, fed
  *    by an open-loop generator thread that publishes a file every
  *    `IntervalMs` at `PacedRate` events/s whatever the consumer does.
  *    Batches are small, so per-batch fixed costs dominate.
  *
  * Both end with the recovery drill (stop the consumer mid-stream,
  * restart it from its checkpoint) and the output checks.
  */
object ScoreWorkload {
  val TrainEvents = 2000L
  /** `TrainMain`'s generator seed. */
  val TrainSeed = 42L
  val FileEvents = 10000
  val WarmFiles = 3
  /** Files the catch-up feeder keeps unread in the source directory: the
    * consumer always finds a backlog, and at most this many remain when
    * the window closes.
    */
  val Ahead = 2
  val RecoveryCycles = 3
  /** Offered rate of the paced regime: about an eighth of the catch-up
    * rate on four cores. Per-batch fixed costs dominate a batch, and a
    * batch ends well inside its trigger interval even on a slower host,
    * so the trigger grid never slips.
    */
  val PacedRate = 1000
  val IntervalMs = 60
  /** A file published later than this after it was due means the
    * generator fell behind: a tenth of the trigger interval.
    */
  val LateMs = 200
  val TriggerMs = 2000L
  /** Triggers of paced traffic before the window: the first, cold batch
    * and its backlog clear before the window's first file is due.
    */
  val WarmTriggers = 3
  val Phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets")

  /** Runs one regime with the scorer saved in `modelDir`; also returns
    * the loaded scorer.
    */
  def run(c: Ctx, jvmStartMs: Long, modelDir: File,
          paced: Boolean): (Outcome, (PipelineModel, Transformer)) = {
    import c.{spark, trace}
    val progress = new Progress
    spark.streams.addListener(progress)
    val failures = mutable.Buffer.empty[String]
    val details = mutable.Buffer.empty[(String, Double)]
    var stageS = 0.0
    def stage(dir: File, prefix: String, files: Int, perFile: Int,
              salt: Long): IndexedSeq[File] = {
      val t0 = System.nanoTime()
      val out = trace.span("gen.TransactionGen.stage") {
        Inputs.stageWire(spark, dir, prefix, files, perFile, c.seed * 1000 + salt)
      }
      stageS += (System.nanoTime() - t0) / 1e9
      out
    }
    def waitFor(what: String, limitMs: Long, d: Deployment)(done: => Boolean): Unit = {
      val deadline = c.now + limitMs
      while (!done) {
        d.errors.headOption.foreach(e => throw new IllegalStateException(e))
        if (c.now > deadline) throw new IllegalStateException(s"timed out: $what")
        Thread.sleep(5)
      }
    }

    // ---- set-up: load the scorer, stage the inputs, warm the path --------
    val sessionS = (c.now - jvmStartMs) / 1e3
    val loadT0 = System.nanoTime()
    val (features, model) = trace.span("ml.TrainingJob.load") {
      TrainingJob.load(spark, modelDir.getPath)
    }
    details += "setup.load_s" -> (System.nanoTime() - loadT0) / 1e9
    def deployment(name: String, trigger: Option[Trigger], maxFiles: Option[Int]) =
      new Deployment(spark, features, model, new File(c.work, name), name,
        trigger, maxFiles)
    // catch-up: no trigger delay, one file per trigger; paced: the sink's
    // own 2 s trigger, every new file per trigger
    val d = if (paced) deployment("paced", None, None)
      else deployment("catchup", Some(Trigger.ProcessingTime(0L)), Some(1))
    val perFile = if (paced) PacedRate * IntervalMs / 1000 else FileEvents
    val warmPaced = (WarmTriggers * TriggerMs / IntervalMs).toInt
    // catch-up: what the window drains at 1.25 batches a second; if a
    // faster consumer runs out, the window just ends early
    val inputs = stage(new File(c.work, "hold"), "f",
      if (paced) warmPaced + c.seconds * 1000 / IntervalMs
      else math.ceil(1.25 * c.seconds).toInt + Ahead,
      perFile, 2)
    val spare = stage(new File(c.work, "spare"), "r", RecoveryCycles, perFile, 3)
    // catch-up warms the measured query itself, so the window starts on a
    // running, warm query; the paced regime warms up on its own pre-window
    // traffic instead
    val warm = if (paced) IndexedSeq.empty[File] else {
      val files = stage(new File(c.work, "warm"), "w", WarmFiles, FileEvents, 1)
      val warmT0 = System.nanoTime()
      trace.span("score.warmup") {
        files.foreach(Publish(_, d.src))
        d.start()
        waitFor("warm-up", 120000L, d) {
          Seq(d.sinkName, d.countsName).forall(q =>
            progress.batches(q).map(_.rows).sum >= files.size.toLong * FileEvents)
        }
      }
      details += "setup.warmup_s" -> (System.nanoTime() - warmT0) / 1e9
      files
    }
    details += "gen.TransactionGen.stage_s" -> stageS
    val setupS = (c.now - jvmStartMs) / 1e3

    // ---- the measured window ----------------------------------------------
    val w0 = c.counters.map(_.snap()); val gc0 = Gc.seconds
    val t0 = c.now
    val window = trace.span(if (paced) "score.paced" else "score.catchup") {
      if (paced) pacedWindow(c, d, inputs, warmPaced, progress, details, failures)
      else catchupWindow(c, d, inputs, progress, details)
    }
    val stopMs = c.now
    val w1 = c.counters.map(_.snap()); val gc1 = Gc.seconds
    val common = for (a <- w0; b <- w1) yield {
      val w = b - a
      val sunk = progress.batches(d.sinkName).filter(_.startMs >= t0)
        .map(_.rows).sum
      details ++= Seq("exec.task_ms" -> w.taskRunMs.toDouble,
        "exec.wall_x_cores_ms" -> (stopMs - t0).toDouble * c.cores,
        "exec.jobs" -> w.jobs.toDouble, "exec.tasks" -> w.tasks.toDouble,
        "sink.batches" -> window.batches.toDouble,
        "source.records_read" -> w.recordsRead.toDouble,
        "source.events_sunk" -> sunk.toDouble,
        "source.reads_per_event" -> w.recordsRead.toDouble / sunk)
      Seq("session.start_s" -> sessionS,
        "exec.util" -> w.taskRunMs / ((stopMs - t0).toDouble * c.cores),
        "exec.jobs_per_batch" -> w.jobs.toDouble / window.batches,
        "exec.tasks_per_batch" -> w.tasks.toDouble / window.batches,
        "exec.task_s_per_batch" -> w.taskRunMs / 1e3 / window.batches,
        "catalyst.planning_ms_per_batch" -> w.planningMs.toDouble / window.batches,
        "exec.gc_s" -> (gc1 - gc0))
    }
    for ((q, label) <- Seq(d.sinkName -> "score", d.countsName -> "counts")) {
      val bs = progress.batches(q).filter(_.startMs >= t0)
      Phases.foreach { ph =>
        details += s"stream.$label.${ph}_ms" -> Stats.median(bs.map(b =>
          Option(b.p.durationMs.get(ph)).map(_.doubleValue).getOrElse(0.0)))
      }
    }
    progress.batches(d.countsName).lastOption
      .flatMap(_.p.stateOperators.headOption).foreach { st =>
        details += "state.rows_total" -> st.numRowsTotal.toDouble
        details += "state.memory_bytes" -> st.memoryUsedBytes.toDouble
      }

    // ---- recovery drill: stop at batch k, restart from the checkpoint -----
    d.stop()
    val recover = spare.map { f =>
      trace.span("score.recover") {
        Publish(f, d.src)
        val tr = c.now
        d.start()
        waitFor("first batch after restart", 120000L, d) {
          progress.batches(d.sinkName).exists(_.startMs >= tr)
        }
        val first = progress.batches(d.sinkName).filter(_.startMs >= tr)
          .minBy(_.commitMs)
        d.stop() // the next batch is usually in flight: it replays
        (first.commitMs - tr) / 1e3
      }
    }
    trace.span("score.finish") { d.start(); d.drain(); d.stop() }

    // ---- output checks ----------------------------------------------------
    val offered = (warm ++ inputs.take(window.published) ++ spare)
      .map(f => new File(d.src, f.getName))
    trace.span("score.checks") {
      failures ++= Checks(spark, d, offered,
        Checks.offered(spark, offered, features, model))
    }

    if (trace.enabled && !paced) {
      details ++= trace.span("score.stages") {
        StageTimes(spark, offered.head, features, model, reps = 3, trace)
      }
      val trainT0 = System.nanoTime()
      trace.span("ml.TrainingJob.run")(train(spark, TrainSeed, None))
      details += "ml.TrainingJob.run_s" -> (System.nanoTime() - trainT0) / 1e9
    }
    spark.streams.removeListener(progress)
    (Outcome(
      e2e = Seq("setup_s" -> setupS, "throughput_per_s" -> window.throughput,
        "latency_p50_s" -> window.latencyP50, "recover_s" -> Stats.median(recover)),
      layers = common.getOrElse(Nil), details = details.toSeq,
      attempted = window.batches + recover.size + 1,
      failures = failures.toSeq), (features, model))
  }

  /** What a measured window reports. */
  final case class Window(throughput: Double, latencyP50: Double, batches: Int,
                          published: Int)

  /** Drain the backlog for `seconds`, or until it runs out, on the running
    * deployment; a feeder keeps `Ahead` files unread. Stops the consumer at
    * batch k, usually mid-batch.
    */
  private def catchupWindow(c: Ctx, d: Deployment, backlog: IndexedSeq[File],
                            progress: Progress,
                            details: mutable.Buffer[(String, Double)]): Window = {
    val t0 = c.now
    def window = progress.batches(d.sinkName).filter(_.startMs >= t0)
    var fed = 0
    def feed(): Unit = {
      val done = window.map(_.rows).sum / FileEvents
      while (fed < math.min(backlog.size, done.toInt + Ahead)) {
        Publish(backlog(fed), d.src); fed += 1
      }
    }
    while (c.now - t0 < c.seconds * 1000L && fed < backlog.size) {
      d.errors.headOption.foreach(e => throw new IllegalStateException(e))
      feed()
      Thread.sleep(5)
    }
    d.stop()
    val batches = window
    require(batches.size >= 2, s"catch-up committed ${batches.size} batches")
    // events/s from the first commit on
    val events = batches.tail.map(_.rows).sum
    val drainS = (batches.last.commitMs - batches.head.commitMs) / 1e3
    val batchP50 = Stats.median(batches.map(_.wallS))
    details ++= Seq("catchup.batches" -> batches.size.toDouble,
      "catchup.backlog_ran_out" -> (if (fed == backlog.size) 1.0 else 0.0),
      "catchup.events" -> events.toDouble, "catchup.drain_s" -> drainS,
      "catchup.batch_p50_s" -> batchP50,
      "streaming.Scorer.writeSinkBatch_p50_s" ->
        Stats.median(batches.map(_.p.durationMs.get("addBatch").toDouble / 1e3)))
    Window(events / drainS, batchP50, batches.size, fed)
  }

  /** Publish the files on schedule — `warmPaced` files of warm-up, then
    * one window of `seconds` — and time each window file from when it was
    * due to the commit of the batch that took it.
    */
  private def pacedWindow(c: Ctx, d: Deployment, files: IndexedSeq[File],
                          warmPaced: Int, progress: Progress,
                          details: mutable.Buffer[(String, Double)],
                          failures: mutable.Buffer[String]): Window = {
    d.start()
    val tw = c.now + 200
    // window files fall on fixed phases of the 2 s trigger grid
    val t0 = ((tw + warmPaced * IntervalMs) / TriggerMs + 1) * TriggerMs +
      IntervalMs / 2
    val due = files.indices.map(i =>
      if (i < warmPaced) tw + i.toLong * IntervalMs
      else t0 + (i - warmPaced).toLong * IntervalMs)
    val published = new Array[Long](files.size)
    val gen = new Thread(() => files.indices.foreach { i =>
      val wait = due(i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      Publish(files(i), d.src)
      published(i) = System.currentTimeMillis()
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val total = files.size.toLong * PacedRate * IntervalMs / 1000
    val deadline = due.last + 3 * TriggerMs + 60000L
    while (progress.batches(d.sinkName).map(_.rows).sum < total) {
      d.errors.headOption.foreach(e => throw new IllegalStateException(e))
      if (c.now > deadline) throw new IllegalStateException("paced window timed out")
      Thread.sleep(5)
    }
    val fileBatch = d.fileBatches()
    val commits = progress.batches(d.sinkName).map(b => b.id -> b.commitMs).toMap
    val commitOf = files.map(f => fileBatch.get(f.getName)
      .flatMap(_.headOption).flatMap(commits.get))
    val winIdx = warmPaced until files.size
    val latency = winIdx.flatMap(i => commitOf(i).map(cm => (cm - due(i)) / 1e3))
    require(latency.size == winIdx.size,
      s"${winIdx.size - latency.size} window files never committed")
    val lateness = files.indices.map(i => published(i) - due(i)).max / 1e3
    val winBatches = progress.batches(d.sinkName)
      .filter(b => b.commitMs >= t0 && b.startMs <= due.last + TriggerMs)
    // backlog at each commit while the generator still publishes: files
    // published, not yet committed
    val pending = winBatches.filter(_.commitMs <= due.last).map(b =>
      published.count(_ <= b.commitMs) - commitOf.flatten.count(_ <= b.commitMs))
    val perTrigger = (TriggerMs / IntervalMs).toInt
    if (lateness * 1000 > LateMs)
      failures += f"paced: generator fell behind schedule by $lateness%.3f s"
    if (pending.size >= 2 && pending.last > pending.head + perTrigger)
      failures += s"paced: backlog grew from ${pending.head} to ${pending.last} files"
    val events = winIdx.size.toLong * PacedRate * IntervalMs / 1000
    val sustainedS = (winIdx.flatMap(commitOf(_)).max - due(warmPaced)) / 1e3
    details ++= Seq("paced.files" -> latency.size.toDouble,
      "paced.batches" -> winBatches.size.toDouble,
      "paced.generator_lateness_max_s" -> lateness,
      "paced.backlog_first_files" -> pending.headOption.getOrElse(0).toDouble,
      "paced.backlog_end_files" -> pending.lastOption.getOrElse(0).toDouble)
    Stats.tailPercentile(latency.size).foreach { p =>
      details += s"paced.latency_p${p}_s" -> Stats.quantile(latency, p / 100.0)
    }
    Window(events / sustainedS, Stats.median(latency), winBatches.size, files.size)
  }

  /** `TrainingJob.run` on `TrainEvents` generated events (`TrainMain`'s
    * `gen:2000 --fast`) with the small-data settings `m12_train_metrics`
    * trains with: one partition, one shuffle partition, no adaptive
    * execution. Saves the scorer to `outDir` when given.
    */
  def train(spark: SparkSession, seed: Long,
            outDir: Option[File]): TrainingJob.Artifacts = {
    val conf = Seq("spark.sql.shuffle.partitions" -> "1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = conf.map { case (k, _) => k -> spark.conf.get(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try TrainingJob.run(TransactionGen.batch(spark, TrainEvents, seed = seed,
      partitions = 1), outDir.map(_.getPath), fast = true)
    finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Catch-up rate of the same scorer on a `local[1]` session: one warm
    * file, then `files` staged 10k-event files drained one per trigger.
    */
  def oneCoreRate(spark: SparkSession, c: Ctx,
                  art: (PipelineModel, Transformer), files: Int): Double = {
    val progress = new Progress
    spark.streams.addListener(progress)
    val d = new Deployment(spark, art._1, art._2, new File(c.work, "one"), "one",
      Some(Trigger.ProcessingTime(0L)), Some(1))
    val staged = Inputs.stageWire(spark, new File(c.work, "one_hold"), "o",
      files + 1, FileEvents, c.seed * 1000 + 5)
    Publish(staged.head, d.src)
    d.start(); d.drain()
    val t0 = c.now
    staged.tail.foreach(Publish(_, d.src))
    d.drain(); d.stop()
    val bs = progress.batches(d.sinkName).filter(_.startMs >= t0)
    spark.streams.removeListener(progress)
    bs.map(_.rows).sum / ((bs.last.commitMs - t0) / 1e3)
  }
}
