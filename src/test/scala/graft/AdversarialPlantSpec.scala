package graft

import org.apache.spark.sql.functions._

import graft.etl.{Analytics, Oltp}
import graft.tools.AdversarialGen

/** Plant audit for the adversarial boundary fixture (r12 verdict Next
  * #6): the fixture's value rests on each planted row actually SITTING
  * ON its boundary — a plant that silently misses (filtered upstream,
  * wrong date window, wrong key domain) gives the same false comfort
  * as a fixture with no plants. The oracle differential proves Spark
  * and DuckDB AGREE on the fixture; this spec proves the agreement is
  * ABOUT the boundaries: each audit below asserts the planted row
  * lands on the intended side of its strict/inclusive predicate.
  *
  * Fixture is generated fresh into target/ (deterministic, seed 999 —
  * the same generator the round gate runs via tools.AdversarialGen).
  */
class AdversarialPlantSpec extends GraftSpec {
  import spark.implicits._

  private lazy val corpusDir: String = {
    val dir = "target/adversarial-spec/corpus_adv"
    AdversarialGen.writeCorpus(spark, dir)
    dir
  }

  private lazy val fleet: Oltp = {
    val dir = "target/adversarial-spec/fleet_adv"
    AdversarialGen.writeFleet(spark, dir)
    Oltp.read(spark, dir)
  }

  private val asOf = to_date(lit("2025-11-28"))

  test("plant audit: exact-30:00 event gaps merge, +1s splits (q144 class)") {
    val ev = Tables.events(spark, corpusDir)
    val sess = ev.filter($"user_id" === 8000001L)
      .groupBy($"user_id", session_window($"ts", "30 minutes"))
      .count().collect()
    assert(sess.length === 2, "user 8000001: the two exact gaps merge, the +1s splits")
    assert(sess.map(_.getLong(2)).sorted.toSeq === Seq(1L, 3L),
      "first session must hold all three exact-gap events")
    val chain = ev.filter($"user_id" === 8000007L)
      .groupBy($"user_id", session_window($"ts", "30 minutes"))
      .count().collect()
    assert(chain.length === 1 && chain.head.getLong(2) === 6L,
      "six events exactly 30:00 apart chain into ONE session")
  }

  test("plant audit: Jaccard landings at exactly 1.0 and exactly 0.5 (>= 0.5 family threshold)") {
    val pairs = SparkEntry.queries("q33_ngram_jaccard")(spark, corpusDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.get((9000001L, 9000002L)).contains(1.0),
      "byte-identical pair must land at Jaccard exactly 1.0")
    assert(pairs.get((9000003L, 9000004L)).contains(0.5),
      "the constructed 10-shared/20-union pair must land EXACTLY ON the >= 0.5 threshold")
  }

  test("plant audit: basket support exactly 2 is included, support 1 is not (q110 HAVING >= 2)") {
    val out = SparkEntry.queries("q110_market_basket")(spark, corpusDir)
      .select($"p1", $"p2", $"pair_n").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.get((950002L, 950003L)).contains(2L),
      "the pair planted in exactly two orders sits ON the HAVING >= 2 boundary")
    assert(!out.contains((950002L, 950004L)),
      "the pair planted in exactly one order must be excluded")
  }

  test("plant audit: the skyline frontier min-delay tie survives at BOTH prices (q146)") {
    val keys = SparkEntry.queries("q146_pareto_skyline")(spark, corpusDir)
      .collect().map(_.getLong(0)).toSet
    assert(keys.contains(9000022L), "the higher-priced global-min-delay order survives")
    assert(keys.contains(9000021L),
      "the LOWER-priced order tying that delay is NOT dominated (needs strictly smaller) — the r13 `<` bug dropped exactly this row")
  }

  test("plant audit: quantity exactly 0.2*avg is excluded by q53's strict <") {
    // part 950001's lines are qty {1.0, 9.0}: avg 5.0, 0.2*avg = 1.0 —
    // the qty-1.0 line sits exactly on the strict < and must not count
    val li = Tables.lineitem(spark, corpusDir).filter($"l_partkey" === 950001L)
    val avg = li.agg(sum($"l_quantity") / count(lit(1))).head.getDouble(0)
    assert(avg === 5.0)
    assert(li.filter($"l_quantity" < lit(0.2) * avg).count() === 0L,
      "no line of part 950001 may pass the strict <")
  }

  test("plant audit: identical embeddings land at cosine exactly 1.0 (q36 > 0.4)") {
    val pairs = SparkEntry.queries("q36_embedding_neardup")(spark, corpusDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.get((9000001L, 9000002L)).contains(1.0),
      "the planted identical vectors must pair at cosine exactly 1.0")
  }

  test("plant audit: deviation rounding to EXACTLY 5.000 km is not an alert; 5.008 is (strict > 5.0)") {
    val rows = SparkEntry.queries("st_route_deviation_alerts")(spark, corpusDir)
      .filter($"vehicle_id" === 8000013L)
      .select($"min_distance_km").as[Double].collect().toSeq
    assert(rows === Seq(5.008),
      "vehicle 8000013's 4.99988-km point rounds ONTO the 5.0 boundary (excluded); only its 5.008-km point alerts")
  }

  test("plant audit: unmatched purchase EXACTLY at the final watermark is not null-emitted; 1 ms below is (st_outer)") {
    val ev = Tables.events(spark, corpusDir)
    // data-level: the planted anchors really pin WM_final, and the
    // boundary purchase sits EXACTLY on it
    val wm = ev.filter($"event_type".isin("purchase", "view"))
      .groupBy($"event_type").agg(max(unix_millis($"ts")).as("mx"))
      .agg(min($"mx") - 600000L).head.getLong(0)
    val atMs = ev.filter($"event_id" === 8200004L)
      .select(unix_millis($"ts")).head.getLong(0)
    assert(atMs === wm, "purchase 8200004 must sit EXACTLY at WM_final")
    val out = SparkEntry.queries("st_outer_interval_join")(spark, corpusDir)
      .select($"l_id", $"r_id").collect()
    assert(!out.exists(_.getLong(0) == 8200004L),
      "l_ms == WM_final sits ON the strict < — never emitted")
    assert(out.exists(r => r.getLong(0) == 8200006L && r.isNullAt(1)),
      "l_ms == WM_final − 1 ms is the last row that null-emits")
  }

  test("plant audit: interval-join matches flip EXACTLY at the ±4h endpoint and at distance zero (st_interval_join)") {
    val ev = Tables.events(spark, corpusDir)
    val lMs = ev.filter($"event_id" === 8200022L)
      .select(unix_millis($"ts")).head.getLong(0)
    val rIn = ev.filter($"event_id" === 8200023L)
      .select(unix_millis($"ts")).head.getLong(0)
    assert(rIn === lMs - 14400000L,
      "view 8200023 must sit EXACTLY at l_ms − 4h")
    val pairs = SparkEntry.queries("st_interval_join")(spark, corpusDir)
      .select($"l_id", $"r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((8200022L, 8200023L)),
      "r_ms == l_ms − 4h is INSIDE (BETWEEN is inclusive)")
    assert(!pairs.contains((8200022L, 8200024L)),
      "r_ms == l_ms − 4h − 1 ms is outside")
    assert(!pairs.contains((8200022L, 8200025L)),
      "r_ms == l_ms + 1 ms is outside the upper endpoint")
    assert(pairs.contains((8200002L, 8200003L)),
      "r_ms == l_ms (distance zero, the upper endpoint itself) matches")
  }

  test("plant audit: late row whose window END equals the watermark is dropped; the next window survives (st_windowed_late_counts)") {
    val ev = Tables.events(spark, corpusDir)
      .filter(pmod($"user_id", lit(5L)) === 0)
    // WM₁ derives from the even-event_id (batch 1) max — assert the
    // planted anchor IS that max and the late plant's window end lands
    // EXACTLY on the watermark it implies
    val evenMaxUs = ev.filter(pmod($"event_id", lit(2L)) === 0)
      .agg(max(unix_micros($"ts"))).head.getLong(0)
    val wm1 = (evenMaxUs / 1000 - 600000L) * 1000
    val lateUs = ev.filter($"event_id" === 8100013L)
      .select(unix_micros($"ts")).head.getLong(0)
    assert(lateUs / 300000000L * 300000000L + 300000000L === wm1,
      "plant 8100013's 5-min window must END exactly at WM₁")
    val rows = SparkEntry.queries("st_windowed_late_counts")(spark, corpusDir)
      .filter($"key" === 8100000L)
      .select($"window_start_ms").collect().map(_.getLong(0)).toSet
    val wm1Ms = wm1 / 1000
    assert(!rows.contains(wm1Ms - 300000L),
      "the window ending EXACTLY at WM₁ is late-dropped (emission needs end > WM)")
    assert(rows.contains(wm1Ms),
      "the window ending at WM₁ + 5 min survives and emits")
  }

  test("plant audit: the micro-batch split lands EXACTLY on a 30:00 session gap (st_sessionize)") {
    val ev = Tables.events(spark, corpusDir)
    val (lo, hi) = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts")))
      .as[(Long, Long)].head()
    val cutoff = lo + (hi - lo) / 2
    // the plants really straddle the harness's midpoint cutoff
    val s3 = ev.filter($"user_id" === 8300003L)
      .select(unix_millis($"ts")).collect().map(_.getLong(0)).sorted
    assert(s3(1) === cutoff, "plant 8300302 sits EXACTLY at the split cutoff")
    assert(s3(1) - s3(0) === 1800000L, "and exactly 30:00 after its batch-1 predecessor")
    val out = SparkEntry.queries("st_sessionize")(spark, corpusDir)
      .select($"user_id", $"n_events", $"end_ms").collect()
    def sess(u: Long) = out.filter(_.getLong(0) == u).map(r =>
      (r.getLong(1), r.getLong(2)))
    assert(sess(8300001L).map(_._1).toSeq === Seq(2L),
      "gap EXACTLY 30:00 across the split merges into ONE cross-batch session")
    assert(sess(8300002L).map(_._1).toSeq === Seq(1L, 1L),
      "gap 30:01 across the split closes the batch-1 session")
    assert(sess(8300003L) === Array((2L, cutoff)),
      "the batch-2 boundary row (ts == cutoff, gap exactly 30:00) joins the open session")
  }

  test("plant audit: redelivery EXACTLY at the TTL horizon changes nothing (st_dedup_ttl)") {
    val ev = Tables.events(spark, corpusDir)
      .filter(pmod($"user_id", lit(5L)) === 0)
    val (mn, mx) = ev.agg(min(unix_micros($"ts")), max(unix_micros($"ts")))
      .as[(Long, Long)].head()
    val maxB1 = ev.filter(unix_micros($"ts") * 2 <= lit(mn + mx))
      .agg(max(unix_micros($"ts"))).as[Long].head()
    val plantMs = ev.filter($"event_id" === 8400000L)
      .select(unix_millis($"ts")).head.getLong(0)
    assert(plantMs === maxB1 / 1000 - 1800000L,
      "plant 8400000 must sit EXACTLY at WM₁ = floor_ms(max batch-1 ts) − 30:00")
    assert(plantMs * 2000 <= mn + mx, "and inside batch 1, so it IS redelivered")
    val n = SparkEntry.queries("st_dedup_ttl")(spark, corpusDir)
      .filter($"event_id" === 8400000L).count()
    assert(n === 1L, "the horizon redelivery must be dropped — emitted exactly once")
  }

  test("plant audit: license expiring at EXACTLY asOf+30d is excluded by fl_q02's strict <") {
    val out = Analytics.q2ExpiringLicenses(fleet, asOf)
      .select($"license_number").as[String].collect().toSet
    assert(out.contains("LIC_90002"), "expiry at asOf+29d is the last included day")
    assert(!out.contains("LIC_90001"), "expiry at EXACTLY asOf+30d sits on the strict <")
  }

  test("plant audit: delivery at scheduled + EXACTLY 30:00 is not delayed; +30:00+1s is (fl_q08 strict >)") {
    def delayedCount(id: Long): Long = {
      val one = fleet.copy(deliveries =
        fleet.deliveries.filter($"delivery_id" === id))
      Analytics.q8DelaysByWeekday(one, asOf)
        .agg(coalesce(sum($"entregas_retrasadas"), lit(0L))).head.getLong(0)
    }
    assert(delayedCount(900001L) === 0L,
      "delivered at scheduled + exactly 30:00 sits ON the strict > — not delayed")
    assert(delayedCount(900002L) === 1L,
      "delivered at scheduled + 30:00 + 1s is past the boundary — delayed")
  }
}
