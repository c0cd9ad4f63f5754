package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and prints one result line,
  * `PERFBENCH_RESULT {...}`, for `run.py` to check and reformat.
  *
  * An untraced run measures the workload's end-to-end metrics. A traced
  * run (`--trace 1`) runs the same workload with spans and Spark
  * listeners on and reports its per-layer metrics and layer breakdown.
  * The traced catch-up adds a `local[1]` catch-up (the base of the
  * speed-up), prefix timings of the pipeline stages and one training;
  * the traced paced run adds the query engine's profile
  * ([[QueryProfile]]).
  *
  * `--prepare 1` instead trains the scorer once and saves it to
  * `--model <dir>` (a build step: every score run loads it, as
  * `ScoreMain` does); `--record <file>` writes the query profile's
  * fingerprints.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(args("work"))
    val cores = Runtime.getRuntime.availableProcessors
    val fingerprints = new File(args("fingerprints"))
    val modelDir = new File(args("model"))
    if (args.contains("prepare")) {
      val spark = Sessions.scorer(cores)
      ScoreWorkload.train(spark, ScoreWorkload.TrainSeed, Some(modelDir))
      spark.stop()
      return
    }
    val seed = args("seed").toLong
    val traced = args.get("trace").contains("1")
    val trace = new Trace(traced, s"${args("workload")}-$seed-$jvmStartMs")
    def ctx(spark: SparkSession, counters: Option[Counters]) =
      Ctx(spark, cores, seed, args("seconds").toInt, work, trace, counters)
    if (args.contains("record")) {
      val spark = Sessions.queries(cores)
      QueryProfile.record(ctx(spark, None), new File(args("record")))
      spark.stop()
      return
    }

    val paced = args("workload") match {
      case "score_catchup" => false
      case "score_paced" => true
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spark = Sessions.scorer(cores)
    val (scored, scorer) = ScoreWorkload.run(
      ctx(spark, Option.when(traced)(new Counters(spark))), jvmStartMs,
      modelDir, paced)
    spark.stop()
    val o = if (!traced) scored
      else if (!paced) {
        // the same catch-up on one core: the base of the speed-up
        val one = Sessions.scorer(1)
        val rate1 = trace.span("score.one_core")(
          ScoreWorkload.oneCoreRate(one, ctx(one, None), scorer, files = 3))
        one.stop()
        val rateN = scored.e2e.toMap.apply("throughput_per_s")
        scored.copy(details = scored.details ++ Seq(
          "exec.speedup_vs_1core" -> rateN / rate1,
          "speedup.rate_n_per_s" -> rateN, "speedup.rate_1_per_s" -> rate1))
      } else {
        val qs = Sessions.queries(cores)
        val (details, failures) = QueryProfile(ctx(qs, Some(new Counters(qs))),
          fingerprints)
        qs.stop()
        scored.copy(details = scored.details ++ details,
          attempted = scored.attempted + QueryProfile.Names.size,
          failures = scored.failures ++ failures)
      }
    if (traced) trace.write(new File(args("spans")))
    val self = trace.selfTimes.map { case (n, _, _, selfS) => n -> selfS }
    def obj(kv: Seq[(String, Double)]) = Json.obj(kv.map { case (k, v) => k -> Json.num(v) })
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "attempted" -> o.attempted.toString,
      "failures" -> o.failures.map(Json.str).mkString("[", ", ", "]"),
      "e2e" -> obj(o.e2e), "layers" -> obj(o.layers), "details" -> obj(o.details),
      "self_s" -> obj(self))))
  }
}
