package graft.etl

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The `load_logs` audit (G10, ref 01_data_generation.py:42-72): one row
  * per written table, counted by the write itself (an `Observation`, no
  * re-read) and timed per write. */
final class LoadLog private (process: String => String) {
  private val rows = mutable.ArrayBuffer.empty[Row]
  private def now() = new java.sql.Timestamp(System.currentTimeMillis())

  /** Writes `df` through `sink`, which must write the DataFrame it is
    * given; a failure of either is logged as `failed`, then rethrown. */
  def write(table: String, df: => DataFrame)(sink: DataFrame => Unit): Long = {
    val start = now()
    def log(n: Long, status: String, error: String) =
      rows += Row(process(table), table, n, start, now(), status, error)
    try {
      val obs = Observation()
      sink(df.observe(obs, count(lit(1)).as("rows")))
      val n = obs.get("rows").asInstanceOf[Long]
      log(n, "success", null)
      n
    } catch { case NonFatal(e) => log(0L, "failed", e.toString); throw e }
  }
}

object LoadLog {
  /** Runs a batch of writes and appends their rows, named
    * `process(table)`, to `<dir>/load_logs` in ONE write — also when the
    * batch throws, so a partial batch keeps its audit trail. */
  def batch[A](spark: SparkSession, dir: String, process: String => String)(
      body: LoadLog => A): A = {
    val log = new LoadLog(process)
    try body(log)
    finally spark.createDataFrame(log.rows.asJava, Schemas.loadLogs)
      .coalesce(1).write.mode("append").parquet(s"$dir/load_logs")
  }
}
