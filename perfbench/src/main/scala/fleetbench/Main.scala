package fleetbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   fleetbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --work <dir> --out <result.json> [--inject-fault]
  *
  * Writes the run's measurements, checks and metadata to `--out`; the
  * launcher (`run.py`) adds the DuckDB check and prints the result line. */
object Main {

  /** Workload name → (OLTP trips, body). */
  val workloads: Map[String, (Int, (Ctx, Result, Int) => Unit)] = Map(
    "kpi_10k" -> (10000, Kpi.run _),
    "etl_daily_10k" -> (10000, Etl.run _))

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val flags = Set("--inject-fault")
    val opts = args.zipWithIndex.collect {
      case (k, i) if k.startsWith("--") && !flags(k) && i + 1 < args.length => k.drop(2) -> args(i + 1)
    }.toMap
    val workload = opts("workload")
    val (nTrips, body) = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val t = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"fleetbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t) / 1e9

    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toDouble, work, cores,
      args.contains("--inject-fault"), new Tracer(spark, opts("trace") == "1"), jvmStartMs)
    val res = new Result
    res.layer("session.start_s", sessionS)
    try body(ctx, res, nTrips)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    } finally spark.stop()

    val rt = Runtime.getRuntime
    res.meta ++= Seq(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.traced, "cpus" -> cores, "master" -> s"local[$cores]",
      "shuffle_partitions" -> cores, "heap_max_mb" -> rt.maxMemory() / 1048576,
      "spark_version" -> spark.version, "jvm_version" -> System.getProperty("java.vm.version"),
      "jvm" -> System.getProperty("java.vm.name"))
    val checks = res.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }
    Common.writeJson(opts("out"), Map(
      "attempted" -> res.attempted, "failed" -> res.failed,
      "e2e" -> res.e2e, "layers" -> (if (ctx.traced) res.layers else Map.empty),
      "checks" -> checks.toSeq, "meta" -> res.meta) ++ res.extra)
    if (ctx.traced) Common.writeJson(s"$work/spans.json", ctx.tracer.spanRecords)
    System.exit(0)
  }
}
