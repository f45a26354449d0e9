package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Lake

/** Daily incremental ETL orchestration (reference
  * etl_pipeline.py:1170-1280 `run_etl` + `main` :1285-1313):
  * resolve target date (explicit / nth-last-with-data / yesterday),
  * extract the day, build dims, apply SCD2 batches, build the fact,
  * precompute reports, stage a JSON audit copy.
  *
  * Everything is returned as lazy DataFrames; `load` materializes them
  * as date-partitioned parquet (the warehouse layout that gives
  * partition pruning on every downstream date filter — the Spark
  * equivalent of the reference's daily-incremental indexes,
  * SURVEY §4 X2/X8).
  */
object Pipeline {

  final case class EtlOutput(
      targetDate: String,
      dims: Map[String, DataFrame],
      fact: DataFrame,
      reports: Map[String, DataFrame],
      stagingAudit: DataFrame)

  /** nth-last date with delivered data (ref get_nth_last_date_with_data,
    * etl_pipeline.py:140-165): n=0 → most recent. */
  def nthLastDateWithData(t: Oltp, n: Int): Option[String] = {
    val rows = t.deliveries
      .filter(col("delivery_status") === "delivered" &&
        col("delivered_datetime").isNotNull)
      .select(to_date(col("delivered_datetime")).as("d"))
      .distinct()
      .orderBy(col("d").desc)
      .limit(n + 1)
      .collect()
    if (rows.length > n) Some(rows(n).getDate(0).toString) else None
  }

  /** One daily batch, pure transform (no writes). */
  def run(spark: SparkSession, t: Oltp, targetDate: String,
      existingDimVehicle: Option[DataFrame] = None,
      existingDimDriver: Option[DataFrame] = None,
      etlBatchId: Long = 1L): EtlOutput = {
    val day = to_date(lit(targetDate))

    val extract = FactDeliveries.extractDay(t, day)

    val dimDate = Dimensions.dimDate(spark,
      start = targetDate, end = targetDate) // daily increment; S7 anti-join on load
    val dimTime = Dimensions.dimTime(spark)
    val dimRoute = Dimensions.dimRoute(t)
    val dimCustomer = Dimensions.dimCustomer(extract, t.trips, t.routes)
    val stgVehicle = Dimensions.dimVehicle(t, day)
    val stgDriver = Dimensions.dimDriver(t, day)

    val vehicleTracked = Dimensions.vehicleTracked
    val driverTracked = Dimensions.driverTracked

    val dimVehicle = Scd2.applyBatch(
      existingDimVehicle.getOrElse(
        Scd2.emptyDim(stgVehicle, "vehicle_id", vehicleTracked, "vehicle_sk")),
      stgVehicle, "vehicle_id", vehicleTracked, day, "vehicle_sk")
    val dimDriver = Scd2.applyBatch(
      existingDimDriver.getOrElse(
        Scd2.emptyDim(stgDriver, "driver_id", driverTracked, "driver_sk")),
      stgDriver, "driver_id", driverTracked, day, "driver_sk")

    val fact = FactDeliveries.build(extract, dimRoute, dimCustomer, etlBatchId)

    // point-in-time surrogate-key resolution (ref :1137-1168 — the
    // reference only GENERATES this lookup SQL; we execute it)
    val factWithDate = fact
      .withColumnRenamed("vehicle_key", "vehicle_id")
      .withColumnRenamed("driver_key", "driver_id")
      .withColumn("full_date", to_date(col("date_key").cast("string"), "yyyyMMdd"))
    val factResolved = Scd2.resolveKeys(
      Scd2.resolveKeys(factWithDate,
        dimVehicle, "vehicle_id", "vehicle_id", "full_date", "vehicle_sk"),
      dimDriver, "driver_id", "driver_id", "full_date", "driver_sk")
      .drop("full_date")

    // audit staging: the day's extract as one JSON column (ref
    // load_to_staging :966-974, VARIANT ↔ to_json)
    val stagingAudit = extract
      .select(to_json(struct(col("*"))).as("raw_json"))
      .withColumn("load_date", day)

    EtlOutput(
      targetDate,
      Map(
        "dim_date" -> dimDate, "dim_time" -> dimTime,
        "dim_route" -> dimRoute, "dim_customer" -> dimCustomer,
        "dim_vehicle" -> dimVehicle, "dim_driver" -> dimDriver),
      factResolved,
      Map(
        "report_driver_totals" -> Reports.driverTotals(fact),
        "report_route_totals" -> Reports.routeTotals(fact)),
      stagingAudit)
  }

  /** Role-filtered secure views (ref scripts/04_dimensional_model.sql:
    * 196-236): registered as temp views over filtered DataFrames —
    * `vw_fact_deliveries_secure` hides Individual-customer rows
    * (ref 04:207), `vw_driver_performance` exposes only current driver
    * versions with their report rollup. */
  def registerSecureViews(out: EtlOutput): Unit = {
    out.fact
      .join(out.dims("dim_customer").select(col("customer_key"), col("customer_type")),
        Seq("customer_key"), "left")
      .filter(col("customer_type") =!= "Individual")
      .drop("customer_type")
      .createOrReplaceTempView("vw_fact_deliveries_secure")
    out.dims("dim_driver")
      .filter(col("is_current"))
      .select(col("driver_id"), col("full_name"), col("performance_category"),
        col("deliveries_per_hour"))
      .createOrReplaceTempView("vw_driver_performance")
  }

  /** Warehouse load: dims overwritten as snapshots (SCD2 dims carry
    * their own history), fact appended date-partitioned, dim_date
    * anti-join-insert (S7, ref load_dim_date_if_not_exists :978-1024).
    * Every write logs its rows to `load_logs` ([[LoadLog]], G10); dims
    * are also kept under `snapshots/<batch date>/`, the parquet-lake
    * analog of the DW's 30-day Time Travel (ref 04:162-168, SURVEY X13). */
  def load(out: EtlOutput, warehouseDir: String): Unit = {
    val spark = out.fact.sparkSession
    // ORDER MATTERS in the incremental flow: the fact's PIT lineage and
    // the SCD2 dims all READ the warehouse dim directories that this
    // load replaces. Everything downstream of those files (fact,
    // reports, staging) is materialized FIRST; each dim is then
    // materialized once into its batch snapshot (inputs still intact)
    // and the live path swapped from the snapshot's files — no lineage
    // ever reads a directory after it has been replaced.
    LoadLog.batch(spark, warehouseDir, _ => s"etl_${out.targetDate}") { log =>
      log.write("fact_deliveries", out.fact.withColumn("p_date_key", col("date_key")))(
        _.write.mode("append").partitionBy("p_date_key").parquet(s"$warehouseDir/fact_deliveries"))
      for ((name, df) <- out.reports)
        log.write(name, df)(Lake.atomicOverwrite(_, s"$warehouseDir/$name"))
      log.write("staging_daily_load", out.stagingAudit)(
        _.write.mode("append").parquet(s"$warehouseDir/staging_daily_load"))
      out.dims.foreach { case (name, df) =>
        val path = s"$warehouseDir/$name"
        if (name == "dim_date")
          log.write(name,
            if (Quality.missingTables(spark, warehouseDir, Seq(name)).nonEmpty) df
            else df.join(spark.read.parquet(path).select("date_key"), Seq("date_key"), "left_anti")
          )(_.write.mode("append").parquet(path))
        else
          log.write(name, df) { d =>
            val snap = s"$warehouseDir/snapshots/${out.targetDate}/$name"
            d.write.mode("overwrite").parquet(snap)
            Lake.atomicOverwrite(spark.read.parquet(snap), path)
          }
      }
    }
  }
}
