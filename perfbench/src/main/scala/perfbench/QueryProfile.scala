package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry

/** The query engine's layer profile, taken in traced runs: thirteen
  * `SparkEntry.queries` entries run once, in name order, on tables made
  * by [[Inputs.stageTables]], each result checked against the fingerprint
  * recorded in `fingerprints.json`. They cover the analytics side of the
  * system: driver gates and the shared edge build (g03, g14), job-bound
  * plans (e06, d21), the compute-bound shuffle (a37), the MLlib fit (m12)
  * and the stateful stream family (st18, st20, st23).
  */
object QueryProfile {
  val Names = Seq("a02_grouped_agg", "a37_assoc_rules", "a43_spearman",
    "d02_minhash_lsh", "d21_sorted_neighborhood", "e01_eval_metrics",
    "e06_rfm", "g03_triangles", "g14_modularity", "m12_train_metrics",
    "st18_stream_conformal", "st20_stream_eval_metrics",
    "st23_stream_velocity_reorder")
  /** Table scale (1.0 = 6M lineitem rows). The mix is bound by jobs and
    * planning, not by rows, so a small scale keeps the pass short.
    */
  val Sf = 0.005
  /** Content seed of the tables whose results are fingerprinted. */
  val TableSeed = 1L

  /** Row count plus an order-insensitive hash: the exact sum of every
    * row's xxhash64 (maps hashed as their sorted entries). Evaluating it
    * materialises every column, like `graft.Bench`'s forced action.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).first()
    (r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString))
  }

  final case class Run(name: String, s: Double, buildS: Double, rows: Long,
                       hash: String, work: Option[Work])

  /** One pass; a query that throws is reported, not timed. */
  def pass(spark: SparkSession, dir: String, c: Ctx): (Seq[Run], Seq[String]) = {
    val errs = mutable.Buffer.empty[String]
    val runs = Names.flatMap { name =>
      spark.catalog.clearCache()
      val w0 = c.counters.map(_.snap())
      try c.trace.span(s"queries.$name") {
        val t0 = System.nanoTime()
        val df = c.trace.span("build")(SparkEntry.queries(name)(spark, dir))
        val t1 = System.nanoTime()
        val (rows, hash) = c.trace.span("action")(fingerprint(df))
        val t2 = System.nanoTime()
        Some(Run(name, (t2 - t0) / 1e9, (t1 - t0) / 1e9, rows, hash,
          for (a <- w0; b <- c.counters.map(_.snap())) yield b - a))
      } catch { case e: Exception =>
        errs += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
      }
    }
    (runs, errs.toSeq)
  }

  private def tables(c: Ctx): String = {
    val dir = new File(c.work, "tables").getPath
    c.trace.span("queries.stage_tables")(
      Inputs.stageTables(c.spark, dir, TableSeed, Sf))
    dir
  }

  /** Writes the fingerprints of the mix to `out`. */
  def record(c: Ctx, out: File): Unit = {
    val (runs, errs) = pass(c.spark, tables(c), c)
    require(errs.isEmpty, errs.mkString("; "))
    val lines = runs.map(r => s"""    ${Json.str(r.name)}: {"rows": ${r.rows}, """ +
      s""""hash": "${r.hash}"}""")
    java.nio.file.Files.writeString(out.toPath,
      s"""{\n  "sf": $Sf,\n  "seed": $TableSeed,\n  "queries": {\n""" +
        lines.mkString(",\n") + "\n  }\n}\n")
  }

  def readFingerprints(f: File): Map[String, (Long, String)] = {
    val entry = """"([a-z0-9_]+)": \{"rows": (\d+), "hash": "(-?\d+)"\}""".r
    entry.findAllMatchIn(java.nio.file.Files.readString(f.toPath))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }

  /** The profile: per query its wall and build seconds, jobs, tasks,
    * shuffle bytes written, task time, utilisation and planning time,
    * plus any fingerprint mismatch as a failure.
    */
  def apply(c: Ctx, fingerprints: File): (Seq[(String, Double)], Seq[String]) = {
    val (runs, errs) = pass(c.spark, tables(c), c)
    val expect = readFingerprints(fingerprints)
    val mismatches = runs.flatMap { r =>
      expect.get(r.name) match {
        case None => Some(s"${r.name}: no recorded fingerprint")
        case Some((n, h)) if n != r.rows || h != r.hash =>
          Some(s"${r.name}: fingerprint (${r.rows}, ${r.hash}) != recorded ($n, $h)")
        case _ => None
      }
    }
    val details = runs.flatMap { r =>
      val q = s"queries.${r.name}"
      Seq(s"$q.s" -> r.s, s"$q.build_s" -> r.buildS) ++ r.work.toSeq.flatMap(w =>
        Seq(s"$q.jobs" -> w.jobs.toDouble, s"$q.tasks" -> w.tasks.toDouble,
          s"$q.shuffle_bytes" -> w.shuffleBytes.toDouble,
          s"$q.task_ms" -> w.taskRunMs.toDouble,
          s"$q.util" -> w.taskRunMs / (r.s * 1e3 * c.cores),
          s"$q.planning_ms" -> w.planningMs.toDouble))
    } ++ Seq("queries.total_s" -> runs.map(_.s).sum,
      "catalyst.planning_ms" -> runs.flatMap(_.work).map(_.planningMs).sum.toDouble)
    (details, errs ++ mismatches)
  }
}
