package fleetbench

import scala.collection.mutable

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.etl.{DataGen, Oltp}

/** Everything one run knows: its arguments, session and tracer. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Double,
    work: String,
    cores: Int,
    injectFault: Boolean,
    tracer: Tracer,
    jvmStartMs: Long) {
  def traced: Boolean = tracer.enabled
  def elapsedSince(ns: Long): Double = (System.nanoTime() - ns) / 1e9
}

/** What a run reports. End-to-end and per-layer values are filled by the
  * workload; every per-layer name starts at 0 so a layer a workload never
  * calls reads as "did no work". */
final class Result {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val meta = mutable.LinkedHashMap.empty[String, Any]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  Layers.names.foreach(layers(_) = 0.0)

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += ((name, ok, detail))

  def layer(name: String, v: Double): Unit = {
    require(layers.contains(name), s"unknown per-layer metric $name")
    layers(name) = v
  }
}

object Layers {
  val queries: Seq[String] = (1 to 12).map(i => f"q$i%02d")

  val names: Seq[String] =
    Seq("session.start_s", "datagen.write_s", "datagen.files", "datagen.bytes",
      "datagen.jobs") ++
    queries.flatMap(q => Seq(s"analytics.$q.s", s"analytics.$q.tasks",
      s"analytics.$q.busy_ratio")) ++
    Seq("analytics.scan_files", "analytics.scan_bytes", "analytics.shuffle_bytes",
      "analytics.plan_s", "analytics.jobs", "analytics.gc_s", "analytics.spill_bytes",
      "pipeline.run_s", "dimensions.stg_driver_s", "dimensions.stg_vehicle_s",
      "dimensions.customer_s", "dimensions.route_s", "scd2.apply_driver_s",
      "scd2.apply_vehicle_s", "scd2.resolve_keys_s", "fact.extract_s", "fact.build_s",
      "reports.s", "pipeline.load_s", "pipeline.load_jobs", "pipeline.load_files_written",
      "pipeline.load_bytes_written", "pipeline.load_rework_ratio", "etl.jobs_per_day",
      "etl.tasks_per_day", "etl.shuffle_bytes_per_day", "etl.busy_ratio",
      "rt.triggers", "rt.trigger_p50_ms", "rt.query_planning_ms", "rt.add_batch_ms",
      "rt.wal_commit_ms", "rt.latest_offset_ms", "rt.rows_per_trigger",
      "streams.deviation_s", "streams.eta_s", "streams.verify_s",
      "streams.verify_static_bytes", "keyedsink.upsert_s", "keyedsink.snapshot_rows",
      "rt.state_rows", "rt.state_mem_bytes", "rt.backlog_drops_max", "rt.gen_late_ms_max",
      "rt.event_p50_ms", "rt.event_p90_ms",
      "trace.overhead_ratio")
}

object Stats {
  /** Linear-interpolated quantile (the R-7 / numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

/** CPU time of the whole host from `/proc/stat`, to tell how much of a
  * timed phase the hypervisor gave to other guests (steal). */
object HostCpu {
  /** Jiffies since boot: (steal, all states). Zeros where there is no
    * `/proc/stat`. */
  def sample(): (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists()) return (0L, 0L)
    val src = scala.io.Source.fromFile(f)
    try {
      // cpu user nice system idle iowait irq softirq steal guest guest_nice;
      // guest time is already counted in user and nice
      val t = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (if (t.length > 7) t(7) else 0L, t.sum)
    } finally src.close()
  }

  /** Share of all CPU time since `from` that went to steal. */
  def stealSince(from: (Long, Long)): Double = {
    val (steal, total) = sample()
    if (total <= from._2) 0.0 else (steal - from._1).toDouble / (total - from._2)
  }
}

object Common {
  // NaN and ±Infinity are written as bare tokens, which Python's json reads
  private val mapper = JsonMapper.builder()
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .addModule(DefaultScalaModule)
    .build()

  /** Scala maps, sequences and plain values as a JSON file. */
  def writeJson(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), value)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) return Runtime.getRuntime.totalMemory() / 1048576.0
    val src = scala.io.Source.fromFile(f)
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Regular files under `dir` that hold data (no checksums or markers). */
  def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    walk(new java.io.File(dir))
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Generate the run's OLTP tables from its seed with the program's own
    * generator, into a fresh directory of this run. */
  def generate(ctx: Ctx, nTrips: Int, res: Result): (Oltp, String) = {
    val dir = s"${ctx.work}/oltp"
    val spark = ctx.spark
    val t = System.nanoTime()
    ctx.tracer.span("datagen.write") {
      DataGen.writeAll(spark, DataGen.Config(seed = ctx.seed, nTrips = nTrips), dir)
    }
    val files = dataFiles(dir)
    res.layer("datagen.write_s", ctx.elapsedSince(t))
    res.layer("datagen.files", files.size.toDouble)
    res.layer("datagen.bytes", files.map(_.length).sum.toDouble)
    ctx.tracer.named("datagen.write").headOption.foreach(s =>
      res.layer("datagen.jobs", ctx.tracer.inclusive(s).jobs.toDouble))
    res.meta("trips") = nTrips
    (readOltp(spark, dir), dir)
  }

  def readOltp(spark: SparkSession, dir: String): Oltp = {
    def rd(n: String) = spark.read.parquet(s"$dir/$n")
    Oltp(rd("vehicles"), rd("drivers"), rd("routes"), rd("trips"), rd("deliveries"),
      rd("maintenance"))
  }

  /** A value in the form the DuckDB side of the check renders it to. */
  def canon(v: Any): Any = v match {
    case d: java.math.BigDecimal => d.doubleValue
    case d: java.sql.Date => d.toLocalDate.toString
    case t: java.sql.Timestamp =>
      "ts:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case other => other
  }

  /** Order-insensitive digest of a collected result. */
  def digest(rows: Array[Row]): String = {
    val lines = rows.map(r => r.toSeq.map(canon).map(String.valueOf).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update(2.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}
