package graft.etl

import org.apache.spark.sql.functions._
import graft.GraftSpec

class PipelineSpec extends GraftSpec {

  private lazy val cfg = DataGen.Config(nTrips = 3000, nMaintenance = 300)
  private lazy val tables = DataGen.all(spark, cfg)
  private lazy val t = Oltp(
    tables("vehicles"), tables("drivers"), tables("routes"),
    tables("trips").cache(), tables("deliveries").cache(), tables("maintenance"))

  /** `load_logs` rows by table, oldest first. */
  private def loadLogs(dir: String): Map[String, Seq[org.apache.spark.sql.Row]] =
    spark.read.parquet(s"$dir/load_logs").orderBy("start_time").collect().toSeq
      .groupBy(_.getAs[String]("table_name"))

  test("nth-last-date probe descends through distinct delivery days (S3)") {
    val d0 = Pipeline.nthLastDateWithData(t, 0)
    val d1 = Pipeline.nthLastDateWithData(t, 1)
    assert(d0.isDefined && d1.isDefined && d0.get > d1.get)
  }

  test("daily batch: fact covers exactly the day's delivered rows") {
    val day = Pipeline.nthLastDateWithData(t, 1).get
    val out = Pipeline.run(spark, t, day)
    val expected = t.deliveries.filter(
      col("delivery_status") === "delivered" &&
        to_date(col("delivered_datetime")) === to_date(lit(day))).count()
    assert(out.fact.count() === expected)
    assert(expected > 0)
  }

  test("fact invariants: QA flags, delay ≥ 0, keys resolved") {
    val day = Pipeline.nthLastDateWithData(t, 0).get
    val out = Pipeline.run(spark, t, day)
    val fact = out.fact.cache()
    assert(fact.filter(col("delay_minutes") < 0).count() === 0)
    // generated data is temporally consistent ⇒ every row passes QA
    assert(fact.filter(!col("qa_passed")).count() === 0)
    // every fact row resolves vehicle+driver surrogate keys (dims were
    // built from the same batch date)
    assert(fact.filter(col("vehicle_sk").isNull || col("driver_sk").isNull).count() === 0)
    assert(fact.filter(col("route_key").isNull || col("customer_key").isNull).count() === 0)
    // time keys live in the dim_time domain
    val timeKeys = out.dims("dim_time").select("time_key")
    assert(fact.join(timeKeys,
      fact("scheduled_time_key") === timeKeys("time_key"), "left_anti").count() === 0)
  }

  test("dim_time is the 96-row 24×4 grid (ref etl:375-376)") {
    val dt = Pipeline.run(spark, t,
      Pipeline.nthLastDateWithData(t, 0).get).dims("dim_time")
    assert(dt.count() === 96)
    assert(dt.select("time_key").distinct().count() === 96)
  }

  test("reports aggregate the fact consistently (A9)") {
    val day = Pipeline.nthLastDateWithData(t, 0).get
    val out = Pipeline.run(spark, t, day)
    val total = out.fact.count()
    val byDriver = out.reports("report_driver_totals")
      .agg(sum("total_deliveries")).head().getLong(0)
    assert(byDriver === total)
  }

  test("incremental flow: day-2 SCD2 dims read and atomically replace the warehouse") {
    withTempDir("graft_incr") { dir =>
      val day2 = Pipeline.nthLastDateWithData(t, 0).get
      val day1 = Pipeline.nthLastDateWithData(t, 1).get
      Pipeline.load(Pipeline.run(spark, t, day1), dir)
      // day 2 reads the dims it is about to overwrite — must not fail or
      // lose data (atomic stage-and-swap inside load)
      val existingV = spark.read.parquet(s"$dir/dim_vehicle")
      val existingD = spark.read.parquet(s"$dir/dim_driver")
      val existingVCount = existingV.count()  // before its files are swapped out
      val out2 = Pipeline.run(spark, t, day2,
        existingDimVehicle = Some(existingV), existingDimDriver = Some(existingD),
        etlBatchId = 2L)
      Pipeline.load(out2, dir)
      val dimV = spark.read.parquet(s"$dir/dim_vehicle")
      // every vehicle still has exactly one current version
      val perKey = dimV.groupBy("vehicle_id")
        .agg(sum(when(col("is_current"), 1).otherwise(0)).as("n_cur"))
      assert(perKey.filter(col("n_cur") =!= 1).count() === 0)
      assert(dimV.count() >= existingVCount)
      // both batch snapshots retained
      assert(new java.io.File(s"$dir/snapshots/$day1/dim_vehicle").exists())
      assert(new java.io.File(s"$dir/snapshots/$day2/dim_vehicle").exists())
    }
  }

  test("EtlMain.runOnce is incremental: two days accumulate, history survives, SKs resolve") {
    withTempDir("graft_etlmain") { dir =>
      val day1 = Pipeline.nthLastDateWithData(t, 1).get
      val day2 = Pipeline.nthLastDateWithData(t, 0).get
      EtlMain.runOnce(spark, t, dir, day1)
      EtlMain.runOnce(spark, t, dir, day2)
      val fact = spark.read.parquet(s"$dir/fact_deliveries")
      // second run continued from the warehouse's batch high-water mark
      assert(fact.select("etl_batch_id").distinct().count() === 2)
      val dimV = spark.read.parquet(s"$dir/dim_vehicle")
      // day-1 versions survived the day-2 SCD2 batch (no history rewrite)
      assert(dimV.filter(col("valid_from") === to_date(lit(day1))).count() > 0)
      // exactly one current version per vehicle
      assert(dimV.filter(col("is_current")).groupBy("vehicle_id").count()
        .filter(col("count") =!= 1).count() === 0)
      // every previously-loaded fact row still resolves its surrogate key
      assert(fact.join(dimV.select(col("vehicle_sk")), Seq("vehicle_sk"), "left_anti")
        .count() === 0)
    }
  }

  test("catchUp processes exactly the missed days after the high-water mark (R5)") {
    withTempDir("graft_catchup") { dir =>
      val day3 = Pipeline.nthLastDateWithData(t, 2).get
      EtlMain.runOnce(spark, t, dir, day3) // bootstrap: high water = day3
      val processed = EtlMain.catchUp(spark, t, dir, limit = 2)
      assert(processed ===
        Seq(Pipeline.nthLastDateWithData(t, 1).get, Pipeline.nthLastDateWithData(t, 0).get))
      // idempotent: nothing newer remains inside the limit window
      assert(EtlMain.catchUp(spark, t, dir, limit = 2).isEmpty)
      val fact = spark.read.parquet(s"$dir/fact_deliveries")
      assert(fact.select("date_key").distinct().count() === 3)
    }
  }

  test("load writes a date-partitioned warehouse and dim_date anti-insert dedupes") {
    withTempDir("graft_wh") { dir =>
      val day = Pipeline.nthLastDateWithData(t, 0).get
      val out = Pipeline.run(spark, t, day)
      Pipeline.load(out, dir)
      Pipeline.load(out, dir)  // second load: dim_date must not duplicate
      val dimDate = spark.read.parquet(s"$dir/dim_date")
      assert(dimDate.count() === dimDate.select("date_key").distinct().count())
      val fact = spark.read.parquet(s"$dir/fact_deliveries")
      assert(fact.count() === out.fact.count() * 2) // fact appends by design
      assert(fact.columns.contains("p_date_key"))
      // the re-load inserted no date, and its log says so
      assert(loadLogs(dir)("dim_date").map(_.getAs[Long]("records_inserted")) === Seq(1L, 0L))
    }
  }

  test("load logs one row per table with the rows it wrote and its own times (G10)") {
    withTempDir("graft_log") { dir =>
      val day = Pipeline.nthLastDateWithData(t, 0).get
      Pipeline.load(Pipeline.run(spark, t, day), dir)
      val logs = loadLogs(dir)
      assert(logs.keySet === Set("fact_deliveries", "report_driver_totals",
        "report_route_totals", "staging_daily_load", "dim_date", "dim_time",
        "dim_route", "dim_customer", "dim_vehicle", "dim_driver"))
      logs.foreach { case (table, rows) =>
        assert(rows.size === 1, table)
        val r = rows.head
        assert(r.getAs[String]("process_name") === s"etl_$day")
        assert(r.getAs[String]("status") === "success")
        assert(r.isNullAt(r.fieldIndex("error_message")))
        // a fresh warehouse holds exactly what this one load wrote
        assert(r.getAs[Long]("records_inserted") ===
          spark.read.parquet(s"$dir/$table").count(), table)
        assert(!r.getAs[java.sql.Timestamp]("end_time")
          .before(r.getAs[java.sql.Timestamp]("start_time")), table)
      }
    }
  }

  test("a failed write still logs the tables written before it, plus one failed row") {
    withTempDir("graft_faillog") { dir =>
      // a plain file where the staging directory belongs
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "staging_daily_load"), "not a directory")
      val out = Pipeline.run(spark, t, Pipeline.nthLastDateWithData(t, 0).get)
      intercept[Exception](Pipeline.load(out, dir))
      val logs = loadLogs(dir)
      assert(logs.keySet ===
        Set("fact_deliveries", "report_driver_totals", "report_route_totals", "staging_daily_load"))
      Seq("fact_deliveries", "report_driver_totals", "report_route_totals").foreach { table =>
        assert(logs(table).map(_.getAs[String]("status")) === Seq("success"), table)
      }
      assert(logs("fact_deliveries").head.getAs[Long]("records_inserted") === out.fact.count())
      val failed = logs("staging_daily_load")
      assert(failed.map(_.getAs[String]("status")) === Seq("failed"))
      assert(failed.head.getAs[String]("error_message") != null)
    }
  }

  test("an unreadable dim_date fails the load before anything is appended to it") {
    withTempDir("graft_baddate") { dir =>
      val dimDate = java.nio.file.Paths.get(dir, "dim_date")
      java.nio.file.Files.createDirectories(dimDate)
      java.nio.file.Files.writeString(dimDate.resolve("part-00000.parquet"), "garbage")
      val out = Pipeline.run(spark, t, Pipeline.nthLastDateWithData(t, 0).get)
      intercept[Exception](Pipeline.load(out, dir))
      assert(dimDate.toFile.list().toSeq === Seq("part-00000.parquet"))
      assert(loadLogs(dir)("dim_date").map(_.getAs[String]("status")) === Seq("failed"))
    }
  }
}
