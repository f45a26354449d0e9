package fleetbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.etl.Oltp
import graft.streaming.{KeyedParquetSink, Streams}

final case class GpsRow(drop: Int, vehicle_id: Long, route_id: Long, lat: Double,
    lon: Double, speed_kmh: Double, ts: java.sql.Timestamp)

final case class LookupRow(drop: Int, delivery_id: Long, request_id: Long)

/** The dispatchers' real-time feed (open loop): one generator releases
  * pre-rendered parquet drops into two watched directories on a fixed
  * schedule. GPS drops feed the route-deviation, ETA and latest-state
  * queries; lookup drops feed delivery verification.
  *
  * It has no workload of its own: the run budget allows two workloads,
  * so traced `kpi_10k` runs replay the feed after the dashboard, against
  * the same OLTP, to measure the streaming layers. */
object Rt {

  val intervalMs = 500
  val warmupDrops = 4
  val lookupsPerDrop = 40
  val waypointsPerRoute = 12
  /** A run whose generator released a drop later than this is invalid. */
  val lateLimitMs = 100.0

  private val cities = Map(
    "Buenos Aires" -> (-34.6037, -58.3816), "Córdoba" -> (-31.4201, -64.1888),
    "Rosario" -> (-32.9442, -60.6505), "Mendoza" -> (-32.8895, -68.8458),
    "La Plata" -> (-34.9205, -57.9536), "Mar del Plata" -> (-38.0055, -57.5426),
    "Salta" -> (-24.7821, -65.4232), "San Miguel de Tucumán" -> (-26.8083, -65.2176),
    "Santa Fe" -> (-31.6333, -60.7000))

  private val gpsSchema = StructType(Seq(
    StructField("vehicle_id", LongType), StructField("route_id", LongType),
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("speed_kmh", DoubleType), StructField("ts", TimestampType)))
  private val lookupSchema = StructType(Seq(
    StructField("delivery_id", LongType), StructField("request_id", LongType)))

  /** Collects per-trigger progress of the timed drops. */
  private final class Progress extends StreamingQueryListener {
    val events = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { events += e.progress }
    def of(q: StreamingQuery): Seq[StreamingQueryProgress] = synchronized {
      events.filter(p => p.id == q.id && p.numInputRows > 0).toSeq
    }
  }

  /** One query's view of its checkpoint: which micro-batch took each
    * drop file, and when each batch committed. */
  private final case class Batches(ofFile: Map[String, Long], commitMs: Map[Long, Double])

  private def mtimeMs(p: Path): Double =
    Files.getLastModifiedTime(p).to(TimeUnit.MICROSECONDS) / 1000.0

  private def readCheckpoint(ck: String): Batches = {
    val entry = """"path":"([^"]*)".*?"batchId":(\d+)""".r
    val ofFile = Common.dataFiles(s"$ck/sources/0").flatMap { f =>
      val src = scala.io.Source.fromFile(f)
      try src.getLines().flatMap(l => entry.findFirstMatchIn(l)).map(m =>
        Paths.get(new java.net.URI(m.group(1)).getPath).getFileName.toString -> m.group(2).toLong
      ).toList
      finally src.close()
    }.toMap
    val commitMs = Common.dataFiles(s"$ck/commits")
      .filter(_.getName.forall(_.isDigit))
      .map(f => f.getName.toLong -> mtimeMs(f.toPath)).toMap
    Batches(ofFile, commitMs)
  }

  private def polyline(o: (Double, Double), d: (Double, Double), p: Double) =
    (o._1 + (d._1 - o._1) * p, o._2 + (d._2 - o._2) * p)

  def feed(ctx: Ctx, res: Result, oltp: Oltp, dir: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val work = ctx.work

    // static sides: route polylines and destinations from the OLTP routes
    val routes = oltp.routes.select("route_id", "origin_city", "destination_city")
      .collect().map(r => (r.getLong(0), cities(r.getString(1)), cities(r.getString(2))))
    val routeById = routes.map(r => r._1 -> r).toMap
    val waypoints = Streams.waypointsDim(routes.toSeq.flatMap { case (id, o, d) =>
      (0 until waypointsPerRoute).map { k =>
        val (lat, lon) = polyline(o, d, k.toDouble / (waypointsPerRoute - 1))
        (id, k, lat, lon)
      }
    }.toDF("route_id", "seq", "lat", "lon"))
    val destinations = routes.toSeq.map { case (id, _, d) => (id, d._1, d._2) }
      .toDF("route_id", "dest_lat", "dest_lon")
    val status = spark.read.parquet(s"$dir/deliveries").select("delivery_id", "delivery_status")

    // each vehicle drives the route of its latest trip
    val fleet = oltp.trips.groupBy("vehicle_id")
      .agg(max_by(col("route_id"), col("departure_datetime")).as("route_id"))
      .orderBy("vehicle_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val deliveryIds = oltp.deliveries.select("delivery_id").orderBy("delivery_id")
      .collect().map(_.getLong(0))

    // render every drop now, so the generator only renames files
    val timedDrops = math.ceil(ctx.seconds * 1000 / intervalMs).toInt
    val nDrops = warmupDrops + timedDrops
    val rng = new scala.util.Random(ctx.seed)
    val eventBase = java.sql.Timestamp.valueOf(s"${Kpi.asOfDate} 08:00:00").getTime
    val gpsRows = for (d <- 0 until nDrops; (vid, rid) <- fleet) yield {
      val (_, o, dest) = routeById(rid)
      val (lat, lon) = polyline(o, dest, (d + 1.0) / (nDrops + 1))
      // one report in twenty is far off the route (about 11 km)
      val off = if (rng.nextDouble() < 0.05) 0.1 else (rng.nextDouble() - 0.5) * 0.01
      GpsRow(d, vid, rid, lat + off, lon - off, 40 + rng.nextDouble() * 60,
        new java.sql.Timestamp(eventBase + d * 30000L))
    }
    val lookupRows = for (d <- 0 until nDrops; j <- 0 until lookupsPerDrop) yield
      LookupRow(d, deliveryIds(rng.nextInt(deliveryIds.length)), d * lookupsPerDrop + j.toLong)
    def render(df: DataFrame, name: String): IndexedSeq[Path] = {
      df.repartition(col("drop")).write.partitionBy("drop").parquet(s"$work/render/$name")
      (0 until nDrops).map { d =>
        val files = Common.dataFiles(s"$work/render/$name/drop=$d")
        require(files.size == 1, s"drop $d of $name rendered as ${files.size} files")
        files.head.toPath
      }
    }
    val gpsFiles = render(gpsRows.toDF(), "gps")
    val lookupFiles = render(lookupRows.toDF(), "lookups")
    val watchGps = Paths.get(work, "watch", "gps")
    val watchLookups = Paths.get(work, "watch", "lookups")
    Files.createDirectories(watchGps)
    Files.createDirectories(watchLookups)
    def release(d: Int): Unit = {
      Files.move(gpsFiles(d), watchGps.resolve(f"drop-$d%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      Files.move(lookupFiles(d), watchLookups.resolve(f"drop-$d%05d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }

    // one streaming query per result, default trigger
    val gps = spark.readStream.schema(gpsSchema).parquet(watchGps.toString)
    val lookups = spark.readStream.schema(lookupSchema).parquet(watchLookups.toString)
    def toParquet(df: DataFrame, name: String): StreamingQuery =
      df.writeStream.format("parquet").queryName(name)
        .option("path", s"$work/out/$name").option("checkpointLocation", s"$work/ck/$name")
        .start()
    val qDev = toParquet(Streams.routeDeviationAlerts(gps, waypoints), "deviation")
    val qEta = toParquet(Streams.etaUpdates(gps, destinations), "eta")
    // KeyedParquetSink.start leaves the output mode at Append, which
    // latestVehicleState's Update-mode state cannot run under
    val qState = KeyedParquetSink.writer(Streams.latestVehicleState(gps.as[Streams.GpsEvent]),
        s"$work/out/state", Seq("vehicle_id"), "last_update")
      .outputMode("update").option("checkpointLocation", s"$work/ck/state").start()
    val qVerify = toParquet(Streams.verifyDeliveries(lookups, status), "verify")
    val queries = Seq("deviation" -> qDev, "eta" -> qEta, "state" -> qState, "verify" -> qVerify)
    def drain(): Unit = queries.foreach(_._2.processAllAvailable())

    // warm-up drops, unmeasured: the streams plan and compile here
    ctx.tracer.untraced {
      (0 until warmupDrops).foreach(release)
      drain()
    }

    val progress = new Progress
    spark.streams.addListener(progress)
    val dueMs = new Array[Double](nDrops)
    val lateMs = mutable.ArrayBuffer.empty[Double]
    val t0Nanos = System.nanoTime() + 200L * 1000000L
    val t0Epoch = {
      val now = java.time.Instant.now()
      now.getEpochSecond * 1000.0 + now.getNano / 1e6 + 200.0
    }
    var streamFailure: Option[Throwable] = None
    try {
      for (d <- warmupDrops until nDrops) {
        val k = d - warmupDrops
        val dueNanos = t0Nanos + k * intervalMs * 1000000L
        dueMs(d) = t0Epoch + k * intervalMs
        var wait = dueNanos - System.nanoTime()
        while (wait > 0) {
          Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          wait = dueNanos - System.nanoTime()
        }
        release(d)
        lateMs += (System.nanoTime() - dueNanos) / 1e6
      }
      drain()
    } catch {
      case NonFatal(e) => streamFailure = Some(e)
    }
    queries.foreach(_._2.stop())
    spark.streams.removeListener(progress)
    streamFailure.foreach(e => res.check("rt.streams.run", ok = false, e.toString))

    // latency of each timed event: from its drop's due time to the commit
    // of the micro-batch that holds its result in every query it feeds
    val batches = queries.map { case (n, _) => n -> readCheckpoint(s"$work/ck/$n") }.toMap
    def committed(q: String, d: Int): Option[Double] = {
      val b = batches(q)
      b.ofFile.get(f"drop-$d%05d.parquet").flatMap(b.commitMs.get)
    }
    val gpsPerDrop = fleet.size
    val samples = mutable.ArrayBuffer.empty[(Int, Double, Int)] // drop, latency s, events
    for (d <- warmupDrops until nDrops) {
      val gpsDone = Seq("deviation", "eta", "state").map(committed(_, d))
      val lookupDone = committed("verify", d)
      res.attempted += gpsPerDrop + lookupsPerDrop
      if (gpsDone.forall(_.isDefined)) samples += ((d, gpsDone.flatten.max - dueMs(d), gpsPerDrop))
      else res.failed += gpsPerDrop
      lookupDone match {
        case Some(c) => samples += ((d, c - dueMs(d), lookupsPerDrop))
        case None => res.failed += lookupsPerDrop
      }
    }
    val latMs = samples.toSeq.flatMap(s => Seq.fill(s._3)(s._2))
    if (latMs.nonEmpty) {
      res.layer("rt.event_p50_ms", Stats.median(latMs))
      res.layer("rt.event_p90_ms", Stats.quantile(latMs, 0.9))
    }
    res.meta("rt_events") = latMs.size
    res.meta("rt_drops") = timedDrops
    res.meta("rt_rate_events_per_s") = (gpsPerDrop + lookupsPerDrop) * 1000.0 / intervalMs

    val backlog = (warmupDrops until nDrops).map { k =>
      batches.keys.map { q =>
        (warmupDrops to k).count(j => committed(q, j).forall(_ > dueMs(k)))
      }.max
    }
    val lateMax = if (lateMs.isEmpty) 0.0 else lateMs.max
    res.layer("rt.backlog_drops_max", backlog.max.toDouble)
    res.layer("rt.gen_late_ms_max", lateMax)
    res.check("rt.generator_on_time", lateMax <= lateLimitMs,
      f"generator ran up to $lateMax%.1f ms late (limit $lateLimitMs%.0f ms)")

    traceLayers(ctx, res, progress, queries.toMap)

    if (ctx.injectFault) {
      // corrupt the live-state snapshot: one vehicle's row stored twice
      spark.read.parquet(s"$work/out/state").limit(1)
        .write.mode("append").parquet(s"$work/out/state")
    }
    checkAgainstBatch(spark, res, work, waypoints, destinations, status)
  }

  private def traceLayers(ctx: Ctx, res: Result, progress: Progress,
      queries: Map[String, StreamingQuery]): Unit = {
    val all = queries.values.toSeq.flatMap(progress.of)
    def phase(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def med(k: String) = Stats.medianOr0(all.map(phase(_, k)))
    def total(q: String, k: String) = progress.of(queries(q)).map(phase(_, k)).sum / 1000
    res.layer("rt.triggers", all.size.toDouble)
    res.layer("rt.trigger_p50_ms", med("triggerExecution"))
    res.layer("rt.query_planning_ms", med("queryPlanning"))
    res.layer("rt.add_batch_ms", med("addBatch"))
    res.layer("rt.wal_commit_ms", med("walCommit"))
    res.layer("rt.latest_offset_ms", med("latestOffset"))
    res.layer("rt.rows_per_trigger", Stats.medianOr0(all.map(_.numInputRows.toDouble)))
    res.layer("streams.deviation_s", total("deviation", "triggerExecution"))
    res.layer("streams.eta_s", total("eta", "triggerExecution"))
    res.layer("streams.verify_s", total("verify", "triggerExecution"))
    res.layer("keyedsink.upsert_s", total("state", "addBatch"))
    val verifyTriggers = progress.of(queries("verify")).size
    org.apache.spark.BenchBridge.drainListeners(ctx.spark.sparkContext)
    val verifyWork = ctx.tracer.listener.get("stream:" + queries("verify").id)
    res.layer("streams.verify_static_bytes",
      if (verifyTriggers == 0) 0.0 else verifyWork.inputBytes.toDouble / verifyTriggers)
    progress.of(queries("state")).lastOption.flatMap(_.stateOperators.headOption).foreach { s =>
      res.layer("rt.state_rows", s.numRowsTotal.toDouble)
      res.layer("rt.state_mem_bytes", s.memoryUsedBytes.toDouble)
    }
    res.layer("keyedsink.snapshot_rows",
      ctx.spark.read.parquet(s"${ctx.work}/out/state").count().toDouble)
  }

  /** Off the clock: each streamed output must equal the same `Streams`
    * function applied in batch to the union of all drops. */
  private def checkAgainstBatch(spark: SparkSession, res: Result, work: String,
      waypoints: DataFrame, destinations: DataFrame, status: DataFrame): Unit = {
    import spark.implicits._
    val gpsAll = spark.read.schema(gpsSchema).parquet(s"$work/watch/gps")
    val lookupsAll = spark.read.schema(lookupSchema).parquet(s"$work/watch/lookups")
    def same(name: String, batch: DataFrame): Unit = {
      val streamed = spark.read.parquet(s"$work/out/$name")
      val b = batch.select(streamed.columns.map(col): _*)
      val extra = streamed.exceptAll(b).count()
      val missing = b.exceptAll(streamed).count()
      val n = b.count()
      res.check(s"rt.$name.matches_batch", extra == 0 && missing == 0 && n > 0,
        s"$extra extra and $missing missing rows against $n batch rows")
    }
    try {
      same("deviation", Streams.routeDeviationAlerts(gpsAll, waypoints))
      same("eta", Streams.etaUpdates(gpsAll, destinations))
      same("state", Streams.latestVehicleState(gpsAll.as[Streams.GpsEvent]).toDF())
      same("verify", Streams.verifyDeliveries(lookupsAll, status))
    } catch {
      case NonFatal(e) => res.check("rt.outputs.readable", ok = false, e.toString)
    }
  }
}
