package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.Shims._

/** The reference's 12 analytical KPI queries
  * (scripts/02_queries_analysis.sql), re-expressed as DataFrame plans.
  *
  * Differences from the reference, by design (SURVEY §7.4):
  *  - every `CURRENT_DATE` becomes the explicit `asOf` parameter so
  *    results are deterministic and testable (ref 02:29,58,91,137,195,256);
  *  - Q9's LEFT-join fan-out quirk (trips × maintenance inflating SUMs,
  *    ref 02:158-161) is REPLICATED faithfully, not fixed;
  *  - PG semantics shims: EXTRACT(DOW) (pgDow), TO_CHAR 'Day' trimmed
  *    (dayName), NULLIF guards, half-up rounding.
  *
  * Scale notes: vehicles/drivers/routes are dimension-sized ⇒ broadcast;
  * trips/deliveries aggregate with partial+final HashAggregate; the
  * unpartitioned ranking windows in Q10 only run on the ≤hundreds of
  * rows surviving the HAVING, which is exactly where a global window is
  * acceptable.
  */
final case class Oltp(
    vehicles: DataFrame, drivers: DataFrame, routes: DataFrame,
    trips: DataFrame, deliveries: DataFrame, maintenance: DataFrame)

object Oltp {
  /** The six tables as [[DataGen.writeTables]] lays them out: `<dir>/<table>`. */
  def read(spark: SparkSession, dir: String): Oltp = {
    def rd(n: String) = spark.read.parquet(s"$dir/$n")
    Oltp(rd("vehicles"), rd("drivers"), rd("routes"),
      rd("trips"), rd("deliveries"), rd("maintenance"))
  }
}

object Analytics {

  /** Q1 — fleet mix (ref 02:12-17). */
  def q1FleetMix(t: Oltp): DataFrame =
    t.vehicles.groupBy(col("vehicle_type"))
      .agg(count(lit(1)).as("cantidad"))
      .orderBy(col("cantidad").desc, col("vehicle_type"))

  /** Q2 — licenses expiring within 30 days of asOf (ref 02:22-30). */
  def q2ExpiringLicenses(t: Oltp, asOf: Column): DataFrame =
    t.drivers
      .filter(col("license_expiry") < date_add(asOf, 30))
      .select(col("first_name"), col("last_name"),
        col("license_number"), col("license_expiry"))
      .orderBy(col("license_expiry"), col("license_number"))

  /** Q3 — trips by status (ref 02:36-40). */
  def q3TripsByStatus(t: Oltp): DataFrame =
    t.trips.groupBy(col("status")).agg(count(lit(1)).as("total_viajes"))
      .orderBy(col("status"))

  /** Q4 — deliveries per destination city, last 60 days (ref 02:48-60).
    * Deliveries pre-aggregated per trip: COUNT(DISTINCT trip_id) over
    * the fan-out becomes a plain count of per-trip rows — no Expand in
    * the plan, map-side combine on the biggest table. The inner join
    * keeps only trips with ≥1 delivery, exactly the original shape. */
  def q4DeliveriesByCity(t: Oltp, asOf: Column): DataFrame = {
    val perTrip = t.deliveries.groupBy(col("trip_id")).agg(
      count(col("delivery_id")).as("n_del"),
      sum(col("package_weight_kg")).as("w_sum"))
    t.routes
      .join(t.trips.filter(col("departure_datetime") >= date_sub(asOf, 60)),
        "route_id")
      .join(perTrip, "trip_id")
      .groupBy(col("destination_city"))
      .agg(
        count(col("trip_id")).as("total_viajes"),
        sum(col("n_del")).as("total_entregas"),
        // exact decimal sum surfaced as double — the engine-portable
        // output type (DuckDB's SUM(DECIMAL) widens to DECIMAL(38,2))
        sum(col("w_sum")).cast("double").as("peso_total_kg"))
      .orderBy(col("total_entregas").desc, col("destination_city"))
  }

  /** Q5 — active drivers' workload (ref 02:65-77). Trips pre-aggregate
    * per driver_id first (map-side combine down to ≤#drivers rows), then
    * broadcast-join the 400-row drivers dim — no sort-merge shuffle of
    * the full trips table, the same rewrite shape as Q4/Q6/Q10. The
    * original LEFT join + HAVING COUNT(trip_id) > 0 keeps exactly the
    * drivers with ≥1 trip, which is what the inner join against the
    * per-driver aggregate (whose every row has count ≥ 1) yields. */
  def q5DriverWorkload(t: Oltp): DataFrame = {
    val perDriver = t.trips.groupBy(col("driver_id")).agg(
      count(col("trip_id")).as("viajes_totales"),
      sum(when(col("status") === "completed", 1).otherwise(0)).as("viajes_completados"))
    perDriver
      .join(broadcast(t.drivers.filter(col("status") === "active")), Seq("driver_id"))
      .select(col("driver_id"),
        concat_ws(" ", col("first_name"), col("last_name")).as("nombre_completo"),
        col("license_expiry"), col("viajes_totales"), col("viajes_completados"))
      .orderBy(col("viajes_completados").desc, col("driver_id"))
  }

  /** Q6 — deliveries per driver, last 6 months ≈ 180 days (ref 02:82-95).
    * Same distinct-by-key pre-aggregation as Q4/Q10: per-trip delivery
    * counts turn COUNT(DISTINCT trip_id) into a plain count — no Expand. */
  def q6DriverProductivity(t: Oltp, asOf: Column): DataFrame = {
    val perTrip = t.deliveries.groupBy(col("trip_id"))
      .agg(count(col("delivery_id")).as("n_del"))
    t.drivers
      .join(t.trips.filter(
        col("departure_datetime") >= date_sub(asOf, 180) &&
          col("status") === "completed"), "driver_id")
      .join(perTrip, "trip_id")
      .groupBy(col("driver_id"),
        concat_ws(" ", col("first_name"), col("last_name")).as("conductor"))
      .agg(
        count(col("trip_id")).as("total_viajes"),
        sum(col("n_del")).as("total_entregas"),
        roundPortable(sum(col("n_del")) /
          nullIfZero(count(col("trip_id"))), 2).as("promedio_entregas_por_viaje"),
        roundPortable(sum(col("n_del")) / lit(180.0), 2).as("promedio_entregas_diarias"))
      .filter(col("total_viajes") >= 10)
      .orderBy(col("promedio_entregas_por_viaje").desc, col("driver_id"))
  }

  /** Q7 — fuel per 100 km by route, HAVING ≥50 trips, top 10 (ref 02:100-116). */
  def q7RouteFuel(t: Oltp): DataFrame =
    t.routes
      .join(t.trips.filter(
        col("fuel_consumed_liters").isNotNull && col("status") === "completed"),
        "route_id")
      .filter(col("distance_km") > 0)
      .groupBy(col("route_id"), col("route_code"),
        concat(col("origin_city"), lit(" -> "), col("destination_city")).as("ruta"),
        col("distance_km"))
      .agg(
        count(col("trip_id")).as("viajes_realizados"),
        // avgExact/avgQuantized: deterministic under any partitioning
        // and value-identical across engines (Shims.scala doc)
        avgExact(col("fuel_consumed_liters")).as("promedio_combustible_litros"),
        roundPortable(avgQuantized(col("fuel_consumed_liters").cast("double") /
          nullIfZero(col("distance_km").cast("double"))) * 100, 2)
          .as("litros_por_100km"),
        sum(col("fuel_consumed_liters")).cast("double").as("combustible_total"))
      .filter(col("viajes_realizados") >= 50)
      .orderBy(col("litros_por_100km").desc, col("route_id"))
      .limit(10)
      .drop("route_id")

  /** Q8 — delayed deliveries by day of week, 90-day window (ref 02:121-139). */
  def q8DelaysByWeekday(t: Oltp, asOf: Column): DataFrame = {
    val delayed = col("delivered_datetime") >
      col("scheduled_datetime") + expr("INTERVAL 30 MINUTES")
    t.deliveries
      .filter(col("delivery_status") === "delivered" &&
        col("scheduled_datetime") >= date_sub(asOf, 90))
      .groupBy(
        dayName(col("scheduled_datetime")).as("dia_semana"),
        pgDow(col("scheduled_datetime")).as("num_dia"))
      .agg(
        count(lit(1)).as("total_entregas"),
        count(when(delayed, lit(1))).as("entregas_retrasadas"),
        roundPortable(lit(100.0) * count(when(delayed, lit(1))) / count(lit(1)), 2)
          .as("porcentaje_retrasos"),
        // avg(x/60) as (exact long sum / count) / 60 — one deterministic
        // double division chain instead of an order-dependent double avg
        (avgExact(epochDiff(col("delivered_datetime"), col("scheduled_datetime"))) / lit(60))
          .as("minutos_promedio_diferencia"))
      .orderBy(col("num_dia"))
  }

  /** Q9 — maintenance cost per km by vehicle type, WITH the reference's
    * trips×maintenance fan-out quirk preserved (ref 02:144-176).
    *
    * The quirk (each trip's distance counted once per maintenance row
    * and vice versa) is reproduced ARITHMETICALLY — per-vehicle sums
    * scaled by the other side's row count — instead of materializing
    * the trips×maintenance cross product per vehicle (~12k rows per
    * vehicle at reference volume, with a double-countDistinct Expand on
    * top). Bit-identical: the fan-out sum of an exact decimal IS the
    * pre-aggregated sum times the fan-out factor. */
  def q9MaintenanceCostPerKm(t: Oltp): DataFrame = {
    val perTrip = t.trips.filter(col("status") === "completed")
      .join(t.routes.select(col("route_id"), col("distance_km")),
        Seq("route_id"), "left")
      .groupBy(col("vehicle_id"))
      .agg(count(col("trip_id")).as("nt"), sum(col("distance_km")).as("skm"))
    val perMaint = t.maintenance
      .groupBy(col("vehicle_id"))
      .agg(count(col("maintenance_id")).as("nm"), sum(col("cost")).as("scost"))
    val metrics = t.vehicles
      .join(perTrip, Seq("vehicle_id"), "left")
      .join(perMaint, Seq("vehicle_id"), "left")
      .select(
        col("vehicle_id"), col("vehicle_type"), col("license_plate"),
        coalesce(col("nt"), lit(0L)).as("total_viajes"),
        (col("skm") * greatest(coalesce(col("nm"), lit(0L)), lit(1L)))
          .as("km_totales"),
        (col("scost") * greatest(coalesce(col("nt"), lit(0L)), lit(1L)))
          .as("costo_mantenimiento_total"),
        coalesce(col("nm"), lit(0L)).as("cantidad_mantenimientos"))
    metrics
      .filter(col("km_totales") > 0 && col("costo_mantenimiento_total") > 0)
      .groupBy(col("vehicle_type"))
      .agg(
        count(col("vehicle_id")).as("cantidad_vehiculos"),
        sum(col("total_viajes")).as("viajes_totales"),
        sum(col("km_totales")).cast("double").as("kilometros_totales"),
        sum(col("costo_mantenimiento_total")).cast("double").as("costo_total_mantenimiento"),
        roundPortable(sum(col("costo_mantenimiento_total")).cast("double") /
          nullIfZero(sum(col("km_totales")).cast("double")), 2)
          .as("costo_por_km"),
        roundPortable(avgQuantized(col("costo_mantenimiento_total").cast("double") /
          nullIfZero(col("cantidad_mantenimientos"))), 2)
          .as("costo_promedio_por_mantenimiento"))
      .orderBy(col("costo_por_km").desc, col("vehicle_type"))
  }

  /** Q10 — driver efficiency ranking (triple RANK + composite score,
    * 3-month window, HAVING ≥20 trips; ref 02:181-213).
    *
    * The reference SQL joins trips×deliveries and takes two
    * COUNT(DISTINCT) on different keys — as written that plans as a
    * double Expand over the full fan-out (each input row duplicated per
    * distinct-aggregate), the r3 scale-killer. Both keys are unique in
    * their own table, so deliveries pre-aggregated per trip turn the
    * distincts into exact sums of per-trip partials: one map-side
    * combine on deliveries, one broadcast to routes, one final shuffle
    * on driver_id — no Expand, same values bit-for-bit (the quantized
    * consumo average keeps the reference's fan-out row weights). */
  def q10DriverRanking(t: Oltp, asOf: Column): DataFrame = {
    val perTrip = t.deliveries.groupBy(col("trip_id")).agg(
      count(col("delivery_id")).as("n_del"),
      count(when(col("delivered_datetime") <= col("scheduled_datetime"), lit(1)))
        .as("n_ontime"))
    val tripRows = t.trips.filter(col("departure_datetime") >= date_sub(asOf, 90))
      .join(broadcast(t.routes.select(col("route_id"), col("distance_km"))), "route_id")
      .join(perTrip, Seq("trip_id"), "left")
      .select(col("driver_id"), col("trip_id"),
        coalesce(col("n_del"), lit(0L)).as("n_del"),
        coalesce(col("n_ontime"), lit(0L)).as("n_ontime"),
        // per-trip quantized ratio (avgQuantized's integer grain) and its
        // weight = the trip's row count in the reference's joined shape
        // (a delivery-less trip still contributes one row via LEFT JOIN)
        round(col("fuel_consumed_liters").cast("double") /
          nullIfZero(col("distance_km").cast("double")) * 1e6, 0).cast("long").as("q"),
        greatest(coalesce(col("n_del"), lit(0L)), lit(1L)).as("w"))
    val metrics = t.drivers
      .join(tripRows, "driver_id")
      .groupBy(col("driver_id"),
        concat_ws(" ", col("first_name"), col("last_name")).as("nombre"))
      .agg(
        count(col("trip_id")).as("viajes"),
        sum(col("n_del")).as("entregas"),
        (sum(when(col("q").isNotNull, col("w") * col("q"))).cast("double") /
          sum(when(col("q").isNotNull, col("w"))) / 1e6 * 100).as("consumo_100km"),
        (sum(col("n_ontime")) / nullIfZero(sum(col("n_del"))) * 100)
          .as("puntualidad_pct"))
      .filter(col("viajes") >= 20)
    val rPunt = rank().over(Window.orderBy(col("puntualidad_pct").desc))
    val rEff = rank().over(Window.orderBy(col("consumo_100km").asc))
    val rProd = rank().over(Window.orderBy(col("entregas").desc))
    metrics.select(
      col("nombre"), col("viajes"), col("entregas"),
      roundPortable(col("consumo_100km"), 2).as("consumo_100km"),
      roundPortable(col("puntualidad_pct"), 2).as("puntualidad_pct"),
      rPunt.as("rank_puntualidad"),
      rEff.as("rank_eficiencia"),
      rProd.as("rank_productividad"),
      ((rPunt + rEff + rProd) / 3.0).as("score_promedio"))
      .orderBy(col("score_promedio").asc, col("nombre"))
      .limit(20)
  }

  /** Q11 — monthly trip trend with LAG/LEAD + 3-month moving average
    * (ref 02:218-244). */
  def q11MonthlyTrend(t: Oltp): DataFrame = {
    val monthly = t.trips.filter(col("status") === "completed")
      .groupBy(date_trunc("month", col("departure_datetime")).as("mes"))
      .agg(
        count(lit(1)).as("total_viajes"),
        sum(col("total_weight_kg")).as("peso_total"),
        avgExact(col("fuel_consumed_liters")).as("combustible_promedio"))
    val w = Window.orderBy(col("mes"))
    monthly.select(
      col("mes"),
      date_format(col("mes"), "yyyy-MM").as("periodo"),
      col("total_viajes"),
      lag(col("total_viajes"), 1).over(w).as("viajes_mes_anterior"),
      lead(col("total_viajes"), 1).over(w).as("viajes_mes_siguiente"),
      (col("total_viajes") - lag(col("total_viajes"), 1).over(w)).as("cambio_absoluto"),
      roundPortable((col("total_viajes") - lag(col("total_viajes"), 1).over(w)) /
        nullIfZero(lag(col("total_viajes"), 1).over(w)) * 100, 2).as("cambio_porcentual"),
      roundPortable(col("peso_total").cast("double") / 1000, 2).as("toneladas_transportadas"),
      roundPortable(col("combustible_promedio"), 2).as("combustible_promedio_viaje"),
      avg(col("total_viajes")).over(w.rowsBetween(-2, Window.currentRow))
        .as("promedio_movil_3m"))
      .orderBy(col("mes").desc)
      .limit(12)
      .drop("mes")
  }

  /** Q12 — deliveries pivot hour × day-of-week, 60-day window, hours
    * 6–22 (ref 02:249-272). */
  def q12HourDowPivot(t: Oltp, asOf: Column): DataFrame = {
    val base = t.deliveries
      .filter(col("scheduled_datetime") >= date_sub(asOf, 60))
      .groupBy(
        pgDow(col("scheduled_datetime")).as("dia_semana"),
        hour(col("scheduled_datetime")).as("hora"))
      .agg(count(lit(1)).as("cantidad_entregas"))
    def d(k: Int, name: String) =
      sum(when(col("dia_semana") === k, col("cantidad_entregas")).otherwise(0)).as(name)
    base.filter(col("hora").between(6, 22))
      .groupBy(col("hora"))
      .agg(d(0, "domingo"), d(1, "lunes"), d(2, "martes"), d(3, "miercoles"),
        d(4, "jueves"), d(5, "viernes"), d(6, "sabado"),
        sum(col("cantidad_entregas")).as("total_semana"))
      .orderBy(col("hora"))
  }

  /** All twelve, keyed like the reference's numbering. */
  def all(t: Oltp, asOf: Column): Map[String, DataFrame] = Map(
    "fl_q01_fleet_mix" -> q1FleetMix(t),
    "fl_q02_expiring_licenses" -> q2ExpiringLicenses(t, asOf),
    "fl_q03_trips_by_status" -> q3TripsByStatus(t),
    "fl_q04_deliveries_by_city" -> q4DeliveriesByCity(t, asOf),
    "fl_q05_driver_workload" -> q5DriverWorkload(t),
    "fl_q06_driver_productivity" -> q6DriverProductivity(t, asOf),
    "fl_q07_route_fuel" -> q7RouteFuel(t),
    "fl_q08_delays_by_weekday" -> q8DelaysByWeekday(t, asOf),
    "fl_q09_maintenance_cost_km" -> q9MaintenanceCostPerKm(t),
    "fl_q10_driver_ranking" -> q10DriverRanking(t, asOf),
    "fl_q11_monthly_trend" -> q11MonthlyTrend(t),
    "fl_q12_hour_dow_pivot" -> q12HourDowPivot(t, asOf))
}
