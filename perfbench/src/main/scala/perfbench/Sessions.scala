package perfbench

import org.apache.spark.sql.SparkSession

/** Session set-ups. Local and temp directories come from JVM system
  * properties (`spark.local.dir`, `spark.sql.warehouse.dir`,
  * `java.io.tmpdir`) set by `run.py`, so a run writes only inside its
  * checkout.
  */
object Sessions {
  private def base(cores: Int, app: String) = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(app)
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The scorer's session: the settings of `graft.jobs.Jobs.session`
    * (what `ScoreMain` runs with), at `cores` local cores.
    */
  def scorer(cores: Int): SparkSession = quiet(base(cores, "perfbench-score")
    .getOrCreate())

  /** The query engine's session: the settings `graft.Bench` runs the
    * query suite with (extensions, cartesian interlock, codegen limit).
    */
  def queries(cores: Int): SparkSession = quiet(base(cores, "perfbench-queries")
    .config("spark.sql.codegen.hugeMethodLimit", "8000")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config(graft.plans.CartesianGuard.ConfKey, "true")
    .getOrCreate())

  private def quiet(s: SparkSession): SparkSession = {
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
