package fleetbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{lit, to_date}

import graft.etl.{Analytics, DataGen, Oltp}
import graft.operators.FleetOracles

/** The analyst's dashboard: one client cycles the 12 KPI queries in a
  * fixed order, each collected to the driver (closed loop). */
object Kpi extends AdaptiveSparkPlanHelper {

  val asOfDate: String = DataGen.Config().asOfDate

  def queries(asOf: Column): Seq[(String, Oltp => DataFrame)] = Seq(
    "fl_q01_fleet_mix" -> (o => Analytics.q1FleetMix(o)),
    "fl_q02_expiring_licenses" -> (o => Analytics.q2ExpiringLicenses(o, asOf)),
    "fl_q03_trips_by_status" -> (o => Analytics.q3TripsByStatus(o)),
    "fl_q04_deliveries_by_city" -> (o => Analytics.q4DeliveriesByCity(o, asOf)),
    "fl_q05_driver_workload" -> (o => Analytics.q5DriverWorkload(o)),
    "fl_q06_driver_productivity" -> (o => Analytics.q6DriverProductivity(o, asOf)),
    "fl_q07_route_fuel" -> (o => Analytics.q7RouteFuel(o)),
    "fl_q08_delays_by_weekday" -> (o => Analytics.q8DelaysByWeekday(o, asOf)),
    "fl_q09_maintenance_cost_km" -> (o => Analytics.q9MaintenanceCostPerKm(o)),
    "fl_q10_driver_ranking" -> (o => Analytics.q10DriverRanking(o, asOf)),
    "fl_q11_monthly_trend" -> (o => Analytics.q11MonthlyTrend(o)),
    "fl_q12_hour_dow_pivot" -> (o => Analytics.q12HourDowPivot(o, asOf)))

  private def scanFiles(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

  private def planSeconds(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1000.0

  /** Per-refresh layer totals of one traced refresh. */
  private final class RefreshTrace {
    var scanFiles, scanBytes, shuffleBytes, jobs, spillBytes = 0L
    var planS, gcS = 0.0
  }

  def run(ctx: Ctx, res: Result, nTrips: Int): Unit = {
    val (oltp, dir) = Common.generate(ctx, nTrips, res)
    val qs = queries(to_date(lit(asOfDate)))

    // warm-up pass: its results are the ones checked against DuckDB, and
    // every timed execution must reproduce them
    val reference = mutable.LinkedHashMap.empty[String, (Seq[String], Array[Row])]
    ctx.tracer.untraced(qs.foreach { case (name, q) =>
      val df = q(oltp)
      reference(name) = (df.columns.toSeq, df.collect())
    })
    res.e2e("setup_s") = (System.currentTimeMillis() - ctx.jvmStartMs) / 1000.0

    val latencies = mutable.Map(false -> mutable.ArrayBuffer.empty[Double],
      true -> mutable.ArrayBuffer.empty[Double])
    val refreshes = mutable.Map(false -> mutable.ArrayBuffer.empty[Double],
      true -> mutable.ArrayBuffer.empty[Double])
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Long, Double)]]
    val refreshTraces = mutable.ArrayBuffer.empty[RefreshTrace]
    // a traced run discards its first timed refresh, as refreshes still get
    // faster then. It runs the rest as untraced, traced, traced, untraced,
    // … so that a steady speed-up cancels out of the overhead.
    val minRefreshes = if (ctx.traced) 5 else 2
    val cpu0 = HostCpu.sample()
    val start = System.nanoTime()
    var r = 0
    while (r < minRefreshes || ctx.elapsedSince(start) < ctx.seconds) {
      val traced = ctx.traced && r > 0 && Set(1, 2).contains((r - 1) % 4)
      val kept = !ctx.traced || r > 0
      val lat = mutable.ArrayBuffer.empty[Double]
      val rt = new RefreshTrace
      val r0 = System.nanoTime()
      def refresh(): Unit = qs.foreach { case (name, q) =>
        res.attempted += 1
        val short = name.substring(3, 6)
        val t = System.nanoTime()
        try {
          ctx.tracer.span(s"analytics.$short", s"refresh-$r") {
            val df = q(oltp)
            val rows = df.collect()
            val dt = ctx.elapsedSince(t)
            if (Common.digest(reference(name)._2) != Common.digest(rows)) {
              res.failed += 1
              res.check(s"kpi.$name.repeatable", ok = false, s"refresh $r differs")
            }
            lat += dt
            if (traced) {
              rt.scanFiles += scanFiles(df)
              rt.planS += planSeconds(df)
            }
          }
          if (traced) {
            val s = ctx.tracer.spans.last
            rt.scanBytes += s.work.inputBytes
            rt.shuffleBytes += s.work.shuffleWriteBytes
            rt.jobs += s.work.jobs
            rt.spillBytes += s.work.spillBytes
            rt.gcS += s.work.gcMs / 1000.0
            perQuery.getOrElseUpdate(short, mutable.ArrayBuffer.empty) +=
              ((s.seconds, s.work.tasks, s.work.busyRatio(s.seconds, ctx.cores)))
          }
        } catch {
          case NonFatal(e) =>
            res.failed += 1
            lat += Double.PositiveInfinity
            res.check(s"kpi.$name.runs", ok = false, e.toString)
        }
      }
      if (traced) refresh() else ctx.tracer.untraced(refresh())
      if (kept) {
        latencies(traced) ++= lat
        refreshes(traced) += ctx.elapsedSince(r0)
      }
      if (traced) refreshTraces += rt
      r += 1
    }
    res.meta("host_steal_ratio") = HostCpu.stealSince(cpu0)

    res.e2e("peak_rss_mb") = Common.peakRssMb()
    val lat = latencies(false).toSeq
    res.e2e("op_p50_s") = Stats.median(lat)
    res.e2e("op_p90_s") = Stats.quantile(lat, 0.9)
    res.e2e("pass_s") = Stats.median(refreshes(false).toSeq)
    res.meta("op") = "one KPI query including collect"
    res.meta("op_samples") = lat.size
    res.meta("refresh_s") = refreshes(false).toSeq

    if (ctx.traced) {
      perQuery.foreach { case (q, xs) =>
        res.layer(s"analytics.$q.s", Stats.median(xs.map(_._1).toSeq))
        res.layer(s"analytics.$q.tasks", Stats.median(xs.map(_._2.toDouble).toSeq))
        res.layer(s"analytics.$q.busy_ratio", Stats.median(xs.map(_._3).toSeq))
      }
      def perRefresh(f: RefreshTrace => Double) = Stats.median(refreshTraces.map(f).toSeq)
      res.layer("analytics.scan_files", perRefresh(_.scanFiles.toDouble))
      res.layer("analytics.scan_bytes", perRefresh(_.scanBytes.toDouble))
      res.layer("analytics.shuffle_bytes", perRefresh(_.shuffleBytes.toDouble))
      res.layer("analytics.plan_s", perRefresh(_.planS))
      res.layer("analytics.jobs", perRefresh(_.jobs.toDouble))
      res.layer("analytics.gc_s", perRefresh(_.gcS))
      res.layer("analytics.spill_bytes", perRefresh(_.spillBytes.toDouble))
      val untraced = Stats.median(refreshes(false).toSeq)
      res.layer("trace.overhead_ratio",
        (Stats.median(refreshes(true).toSeq) - untraced) / untraced)
    }

    // results for the DuckDB comparison, made off the clock; a fault
    // injection drops one row of one result, which the check must catch
    val oracles = FleetOracles.all(dir, asOfDate).filter(_._1.startsWith("fl_q"))
    val exported = reference.toSeq.map { case (name, (cols, rows0)) =>
      val rows = if (ctx.injectFault && name == "fl_q03_trips_by_status") rows0.drop(1) else rows0
      name -> Map(
        "columns" -> cols,
        "rows" -> rows.map(row => row.toSeq.map(Common.canon)).toSeq,
        "oracle" -> oracles.getOrElse(name, ""))
    }
    res.extra("kpi_results") = exported.toMap

    if (ctx.traced) Rt.feed(ctx, res, oltp, dir)
  }
}
