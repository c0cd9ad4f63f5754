package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.TransactionGen
import graft.queries.Tables
import graft.streaming.WireFormat

/** Every input the program receives, made from the run's seed. */
object Inputs {

  /** Stage `files` wire files of `perFile` [[TransactionGen]] events each
    * (one JSON document per line, as `WireFormat.encodeFrame` writes
    * them) into `dir` as `<prefix>00000.json`, ... with ascending
    * modification times, so a file stream source reads them in order.
    * The generator's range splits evenly, one partition per file, and
    * each task writes its partition as one plain file: no Spark commit
    * protocol per small file.
    */
  def stageWire(spark: SparkSession, dir: File, prefix: String, files: Int,
                perFile: Int, seed: Long): IndexedSeq[File] = {
    dir.mkdirs()
    val path = dir.getPath
    WireFormat.encodeFrame(TransactionGen.batch(spark,
        files.toLong * perFile, seed = seed, partitions = files))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val i = org.apache.spark.TaskContext.getPartitionId()
        val w = java.nio.file.Files.newBufferedWriter(
          new File(path, f"$prefix$i%05d.json").toPath)
        try rows.foreach { r => w.write(r.getString(0)); w.newLine() }
        finally w.close()
      }
    val mtime0 = System.currentTimeMillis() - 1000L * (files + 60)
    (0 until files).map { i =>
      val f = new File(dir, f"$prefix$i%05d.json")
      require(f.setLastModified(mtime0 + 1000L * i), s"staging failed: $f")
      f
    }
  }

  // ---- query profile tables -------------------------------------------

  /** Uniform [0,1) draw k for the row with this `id`: a hash of (seed, k,
    * id), so a table's content depends on the seed and row count only,
    * not on how Spark partitions the generating range.
    */
  private def u(seed: Long, k: Int): Column =
    xxhash64(lit(seed), lit(k), col("id"))
      .bitwiseAND(lit((1L << 53) - 1)).cast("double") / lit((1L << 53).toDouble)

  private def int(lo: Long, hi: Long, r: Column): Column =
    (floor(r * (hi - lo + 1)) + lo).cast("long")

  private def pick(values: Seq[String], r: Column): Column =
    element_at(array(values.map(lit): _*),
      (floor(r * values.size) + 1).cast("int"))

  private def day(from: String, days: Long, r: Column): Column =
    date_add(lit(from).cast("date"), int(0, days - 1, r).cast("int"))
      .cast("timestamp_ntz")

  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  /** The five tables the profiled queries read, shaped like the repository's
    * TPC-H-like test data (same names, columns, types and value domains),
    * at `sf` (1.0 = 6M lineitem rows). Each is written as the single
    * parquet file `<dir>/<name>.parquet` that `graft.queries.Tables`
    * loads.
    */
  def stageTables(spark: SparkSession, dir: String, seed: Long,
                  sf: Double): Unit = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    val (nLine, nOrd, nPart, nSupp, nCust) =
      (n(6e6), n(1.5e6), n(2e5), n(1e4), n(1.5e5))
    val (nEv, nUser, nDoc) = (n(1e6), n(1.5e4), n(5e4))
    def rows(k: Long): DataFrame = spark.range(0, k, 1, 1).toDF()
    val s = seed
    val tables: Seq[(String, DataFrame)] = Seq(
      "lineitem" -> rows(nLine).select(
        int(0, nOrd - 1, u(s, 1)).as("l_orderkey"),
        int(0, nPart - 1, u(s, 2)).as("l_partkey"),
        int(0, nSupp - 1, u(s, 3)).as("l_suppkey"),
        int(1, 7, u(s, 4)).cast("int").as("l_linenumber"),
        int(1, 50, u(s, 5)).cast("double").as("l_quantity"),
        round(lit(900.0) + u(s, 6) * 104000.0, 2).as("l_extendedprice"),
        (int(0, 10, u(s, 7)) / 100.0).as("l_discount"),
        (int(0, 8, u(s, 8)) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), u(s, 9)).as("l_returnflag"),
        pick(Seq("O", "F"), u(s, 10)).as("l_linestatus"),
        day("1995-01-02", 2499, u(s, 11)).as("l_shipdate")),
      "orders" -> rows(nOrd).select(
        col("id").as("o_orderkey"),
        int(0, nCust - 1, u(s, 21)).as("o_custkey"),
        pick(Seq("F", "O", "P"), u(s, 22)).as("o_orderstatus"),
        round(lit(1000.0) + u(s, 23) * 499000.0, 2).as("o_totalprice"),
        day("1995-01-01", 2405, u(s, 24)).as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW"), u(s, 25)).as("o_orderpriority")),
      "part" -> rows(nPart).select(
        col("id").as("p_partkey"),
        concat(pick(Seq("blue", "hot", "small", "large", "red", "old",
            "new", "green"), u(s, 31)), lit(" "),
          pick(Seq("rod", "plate", "gizmo", "widget", "bolt", "gear", "nut",
            "spring"), u(s, 32))).as("p_name"),
        concat(lit("Brand#"), int(1, 25, u(s, 33))).as("p_brand"),
        pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
          "STANDARD"), u(s, 34)).as("p_type"),
        int(1, 50, u(s, 35)).cast("int").as("p_size"),
        (lit(900.0) + int(0, 999, u(s, 36)) / 10.0).as("p_retailprice")),
      "events" -> rows(nEv).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) +
            int(0, 30L * 86400 * 1000000 - 1, u(s, 41)))
          .cast("timestamp_ntz").as("ts"),
        int(0, nUser - 1, u(s, 42)).as("user_id"),
        pick(Seq("click", "error", "purchase", "signup", "view"), u(s, 43))
          .as("event_type"),
        round(u(s, 44) * 200.0, 2).as("value"),
        concat(lit("{\"k\": "), int(0, 99, u(s, 45)), lit("}")).as("props")),
      "documents" -> {
        val words = array(vocab.map(lit): _*)
        rows(nDoc).select(col("id"),
            transform(sequence(lit(1), int(30, 80, u(s, 51)).cast("int")),
              i => element_at(words, (pmod(xxhash64(lit(s), lit(52),
                col("id"), i), lit(vocab.size.toLong)) + 1).cast("int"))).as("w"),
            pick(Seq("en", "en", "en", "de", "es", "fr", "zh"), u(s, 53))
              .as("lang"),
            concat(lit("src"), int(0, 19, u(s, 54))).as("source"))
          .select(col("id").as("doc_id"), concat_ws(" ", col("w")).as("text"),
            col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      })
    val mtime = System.currentTimeMillis()
    tables.foreach { case (name, df) => Tables.stageOne(dir, df, name, mtime) }
  }
}
