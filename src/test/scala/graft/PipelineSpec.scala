package graft

import java.nio.file.{Files, Paths}

import graft.pipeline.{RealEstatePipeline, Retry, Validate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.{Failure, Success}

/** End-to-end mirror of the reference pipeline over FIXTURES.md-shaped
  * fixtures, asserting the Step-Functions-declared invariants: 18
  * columns, rows = samplePerState × states present (or fewer if a state
  * lacks eligible rows), coverage >= 95 %, leading-zero ZIPs intact. */
class PipelineSpec extends SparkSpec {

  private lazy val fixtures: (String, String) = freshFixtures()

  /** A new copy of the fixtures in a new directory: a run over it cannot
    * hit a frame that an earlier run over another copy left cached. */
  private def freshFixtures(): (String, String) = {
    val dir = Files.createTempDirectory("graft-pipeline").toString
    val csv = new StringBuilder(
      "brokered_by,status,price,bed,bath,acre_lot,street,city,state,zip_code,house_size,prev_sold_date\n")
    // 12 eligible MA rows on leading-zero ZIP 01002 + 8 CA rows + noise
    for (i <- 0 until 12)
      csv.append(s"b$i,for_sale,${300000 + i * 1000},3,2,0.3,${i} Main St,Amherst,Massachusetts,01002,${1500 + i * 10},2019-01-0${i % 9 + 1}\n")
    for (i <- 0 until 8)
      csv.append(s"c$i,for_sale,${800000 + i * 5000},4,3,0.1,${i} Oak Ave,Fresno,California,93650,${2000 + i * 25},2020-02-0${i % 9 + 1}\n")
    // null-clean victims: missing price / bed / house_size
    csv.append("x0,for_sale,,3,2,0.3,1 Elm,Amherst,Massachusetts,01002,1500,2019-01-01\n")
    csv.append("x1,for_sale,100000,,2,0.3,2 Elm,Amherst,Massachusetts,01002,1500,2019-01-01\n")
    csv.append("x2,for_sale,100000,3,2,0.3,3 Elm,Amherst,Massachusetts,01002,,2019-01-01\n")
    // non-target state
    csv.append("t0,for_sale,500000,3,2,0.5,9 Pine,Austin,Texas,73301,1800,2018-05-05\n")
    // target state but ZIP not in census → dropped by coverage semi-join
    csv.append("u0,for_sale,400000,3,2,0.5,7 Birch,Boston,Massachusetts,02199,1700,2018-05-05\n")
    val listingsPath = s"$dir/listings.csv"
    Files.writeString(Paths.get(listingsPath), csv.toString)
    // census: pretty-printed multiLine JSON array (A2 shape), one record
    // with null median_income, one ZIP with no listings
    val json =
      """[
        |  {"zip_code": "01002", "state": "MA", "name": "ZCTA5 01002",
        |   "median_income": 85000, "population": 39000,
        |   "college_educated_pct": 45.3, "unemployment_rate": 4.2,
        |   "median_age": 28, "data_source": "US Census Bureau ACS 2021"},
        |  {"zip_code": "93650", "state": "CA", "name": "ZCTA5 93650",
        |   "median_income": null, "population": 11000,
        |   "college_educated_pct": 12.1, "unemployment_rate": 9.9,
        |   "median_age": 31, "data_source": "US Census Bureau ACS 2021"},
        |  {"zip_code": "10001", "state": "NY", "name": "ZCTA5 10001",
        |   "median_income": 99000, "population": 25000,
        |   "college_educated_pct": 60.0, "unemployment_rate": 3.1,
        |   "median_age": 37, "data_source": "US Census Bureau ACS 2021"}
        |]""".stripMargin
    val censusPath = s"$dir/census.json"
    Files.writeString(Paths.get(censusPath), json)
    (listingsPath, censusPath)
  }

  private lazy val result = RealEstatePipeline.run(
    spark, fixtures._1, fixtures._2, samplePerState = 10)

  test("output has exactly the 18-column Schema.json contract") {
    val (enriched, stats) = result
    assert(enriched.columns.toSeq === RealEstatePipeline.outputColumns)
    assert(stats.outputColumns === 18)
  }

  test("stratified sampling caps per state; ineligible rows are excluded") {
    val (enriched, stats) = result
    // MA: 12 eligible → capped at 10; CA: 8 eligible → all 8
    val byState = enriched.groupBy("state").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byState("Massachusetts") === 10L)
    assert(byState("California") === 8L)
    assert(!byState.contains("Texas")) // state filter
    assert(stats.joined === 18L)
    // audit counts walk the cascade: 25 raw = 12 MA + 8 CA + 3 null
    // victims + 1 Texas + 1 uncovered-ZIP
    assert(stats.rawListings === 25L)
    assert(stats.afterStateFilter === 24L) // Texas row dropped
    assert(stats.afterNullClean === 21L)   // 3 null victims dropped
    assert(stats.afterCoverage === 20L)    // uncovered-ZIP row dropped
  }

  test("coverage rate reflects null census values; gate math works") {
    val (_, stats) = result
    // CA census row has null median_income → 8 of 18 rows unmatched
    assert(stats.matched === 10L)
    assert(math.abs(stats.matchRatePct - 100.0 * 10 / 18) < 1e-9)
    assert(Validate.coverageGate(stats.matchRatePct).isLeft) // below 95%
    assert(Validate.coverageGate(100.0).isRight)
  }

  test("derived price_per_sqft is round(price/size, 2); zips keep leading zeros") {
    val (enriched, _) = result
    val row = enriched.filter(col("brokered_by") === "b0").head()
    assert(row.getAs[String]("zip_code") === "01002")
    assert(row.getAs[Double]("price_per_sqft") ===
      BigDecimal(300000.0 / 1500).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(row.getAs[Double]("census_median_income") === 85000.0)
  }

  test("source probe reports header and sample rows (Zillow Lambda parity)") {
    val probe = Validate.probeCsv(spark, fixtures._1)
    assert(probe.exists && probe.status === "PASSED")
    assert(probe.columns.size === 12)
    assert(probe.sampleRows.size === 3)
    val missing = Validate.probeCsv(spark, "/tmp/does-not-exist-xyz.csv")
    assert(!missing.exists)
  }

  test("count gate passes on match, reports misses") {
    assert(Validate.countGate(("rows", 18L, 18L)).isRight)
    val miss = Validate.countGate(("rows", 300L, 18L), ("cols", 18L, 18L))
    assert(miss.left.exists(_.exists(_.contains("rows"))))
  }

  test("a run reads the listings CSV exactly once, cache fill included") {
    // Counts the csv FileSourceScan nodes of every EXECUTED plan of a
    // full run, descending through AQE, materialized query stages and the
    // cached plan behind each InMemoryTableScan — each distinct cached
    // plan once, as its fill is the only execution of its scans. The
    // stage counts are observed inside the fill, so the fill's scan is
    // the only one. The run takes fresh fixtures: over the shared ones,
    // the cached `result` frame of earlier tests could stand in for it.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val seenCaches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def csvScans(p: SparkPlan): Int = {
      val self = p match {
        // CSV-format data scans only: header resolution issues two
        // bounded Text-format probes (CollectLimit 1 over the first
        // line) that are metadata reads, not rescans of the data
        case f: FileSourceScanExec
          if f.relation.fileFormat.getClass.getSimpleName.contains("CSV") &&
             f.relation.location.rootPaths.exists(_.toString.contains("listings.csv")) => 1
        case _ => 0
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case m: InMemoryTableScanExec =>
          Seq(m.relation.cachedPlan).filter(seenCaches.add)
        case other => other.children
      }
      self + kids.map(csvScans).sum
    }
    val scans = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        scans.addAndGet(csvScans(qe.executedPlan)); ()
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    val (csv, json) = freshFixtures()
    spark.listenerManager.register(listener)
    try {
      val (enriched, _) = RealEstatePipeline.run(spark, csv, json,
        outDir = Some(Tables.scratch("pipeline_one_scan")), samplePerState = 10)
      enriched.unpersist()
      // QueryExecutionListener delivery is async; a fixed sleep on a
      // contended box undercounts. Poll until the count is stable for
      // 2 s (max 20 s) — late events would move it, and a stable count
      // is the drained state.
      var last = -1
      var stableMs = 0
      var waited = 0
      while (stableMs < 2000 && waited < 20000) {
        Thread.sleep(250); waited += 250
        val cur = scans.get()
        if (cur == last) stableMs += 250 else { stableMs = 0; last = cur }
      }
      assert(scans.get() === 1,
        s"listings CSV scanned ${scans.get()} times by one run (0 = listener " +
        "events never arrived; 2+ = the stage counts or the sample rescan it)")
    } finally spark.listenerManager.unregister(listener)
  }

  test("a run retried after a failed attempt reports the clean run's stats") {
    val (csv, json) = freshFixtures()
    val (clean, cleanStats) = RealEstatePipeline.run(spark, csv, json, samplePerState = 10)
    clean.unpersist()
    val (retried, retriedStats) = RealEstatePipeline.run(spark, csv, json,
      samplePerState = 10, retrySleep = _ => (),
      onAttempt = n => if (n == 1) throw new RuntimeException("TaskFailed (transient)"))
    retried.unpersist()
    assert(retriedStats === cleanStats)
  }

  test("back-to-back runs without unpersist (cache reuse) report equal stats") {
    val (csv, json) = freshFixtures()
    val (first, firstStats) = RealEstatePipeline.run(spark, csv, json, samplePerState = 10)
    val (second, secondStats) = RealEstatePipeline.run(spark, csv, json, samplePerState = 10)
    assert(secondStats === firstStats)
    assert(firstStats.afterCoverage === 20L && firstStats.joined === 18L)
    second.unpersist(); first.unpersist()
  }

  test("audit cascade is loud: a missing observation or a growing count throws") {
    import org.apache.spark.sql.Row
    val ok = Map(RealEstatePipeline.StageCounts -> Row(25L, 24L, 21L),
                 RealEstatePipeline.CoveredCount -> Row(20L))
    assert(RealEstatePipeline.auditCascade(ok, 18L) === Seq(25L, 24L, 21L, 20L, 18L))
    val missing = intercept[IllegalStateException] {
      RealEstatePipeline.auditCascade(ok - RealEstatePipeline.CoveredCount, 18L)
    }
    assert(missing.getMessage.contains(RealEstatePipeline.CoveredCount))
    val grown = intercept[IllegalStateException] {
      RealEstatePipeline.auditCascade(
        ok.updated(RealEstatePipeline.StageCounts, Row(25L, 21L, 24L)), 18L)
    }
    assert(grown.getMessage.contains("in_states = 21 < cleaned = 24"))
    intercept[IllegalStateException](RealEstatePipeline.auditCascade(ok, 21L))
  }

  /** The reference's step 6 as written (`real_estate_etl_job.py:112-115`):
    * `row_number() over (partition by state order by rand(seed)) <= k`,
    * inside steps 3–9 exactly as [[RealEstatePipeline.transform]] runs
    * them. Also returns the row_number of each sampled listing. */
  private def windowReference(listings: DataFrame, census: DataFrame, k: Int,
                              seed: Long = 42L): (DataFrame, Map[String, Int]) = {
    val covered = listings
      .filter(col("state").isin(RealEstatePipeline.targetStates: _*))
      .na.drop(Seq("price", "zip_code", "house_size", "bed", "bath"))
      .join(broadcast(census.select("zip_code").distinct()), Seq("zip_code"), "left_semi")
    val sampled = covered
      .withColumn("rn", row_number().over(Window.partitionBy("state").orderBy(rand(seed))))
      .filter(col("rn") <= k)
    val ranks = sampled.select("brokered_by", "rn").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val out = sampled.drop("rn")
      .join(broadcast(census.withColumnRenamed("state", "census_state")), Seq("zip_code"), "left")
      .withColumn("price_num", expr("try_cast(price AS double)"))
      .withColumn("size_num", expr("try_cast(house_size AS double)"))
      .select(
        col("brokered_by"), col("status"), col("price_num").as("price"),
        col("bed"), col("bath"), col("acre_lot"), col("street"), col("city"),
        col("state"), col("zip_code"), col("size_num").as("house_size"),
        col("prev_sold_date"),
        col("median_income").as("census_median_income"),
        col("population").as("census_population"),
        col("college_educated_pct").as("census_college_pct"),
        col("unemployment_rate").as("census_unemployment_rate"),
        col("median_age").as("census_median_age"),
        round(try_divide(col("price_num"), col("size_num")), 2).as("price_per_sqft"))
    (out, ranks)
  }

  /** transform's rows == the window reference's rows, and each state's
    * rows come out in row_number order. Returns rows per state. */
  private def assertWindowParity(listings: DataFrame, census: DataFrame,
                                 k: Int): Map[String, Int] = {
    val got = RealEstatePipeline.transform(listings, census, samplePerState = k).collect().toSeq
    val (ref, ranks) = windowReference(listings, census, k)
    val want = ref.collect().toSeq
    assert(got.size === want.size)
    assert(got.map(_.toString).sorted === want.map(_.toString).sorted)
    got.groupBy(_.getAs[String]("state")).map { case (st, rows) =>
      assert(rows.map(r => ranks(r.getAs[String]("brokered_by"))) === (1 to rows.size),
        s"$st rows are not in row_number order")
      st -> rows.size
    }
  }

  test("sample == row_number window reference: fixture, RefScale, k = 1, k > every state") {
    val listings = RealEstatePipeline.readListings(spark, fixtures._1)
    val census = RealEstatePipeline.readCensus(spark, fixtures._2)
    // MA: 12 eligible → capped at 10; CA: 8 eligible → all 8
    assert(assertWindowParity(listings, census, 10) ===
      Map("Massachusetts" -> 10, "California" -> 8))
    assert(assertWindowParity(listings, census, 1) ===
      Map("Massachusetts" -> 1, "California" -> 1))

    val censusPath = s"${Files.createTempDirectory("graft-refscale")}/census.json"
    graft.tools.RefScale.writeCensusJson(censusPath)
    val rsCensus = RealEstatePipeline.readCensus(spark, censusPath)
    val rsListings = graft.tools.RefScale.listings(spark, 22000L)
    val perState = Map("Massachusetts" -> 100, "California" -> 100, "New York" -> 100)
    assert(assertWindowParity(rsListings, rsCensus, 100) === perState)
    assert(assertWindowParity(rsListings, rsCensus, 1) === perState.map(_._1 -> 1))
    // k above every state's eligible count keeps every covered row
    val covered = rsListings.filter(col("state").isin(RealEstatePipeline.targetStates: _*))
      .na.drop(Seq("price", "zip_code", "house_size", "bed", "bath"))
      .join(rsCensus.select("zip_code"), Seq("zip_code"), "left_semi")
      .groupBy("state").count().collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    assert(covered.values.max < 10000)
    assert(assertWindowParity(rsListings, rsCensus, 10000) === covered)
  }

  test("transform plans no sort or window and one listings scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, SortExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }).flatMap(nodes)
    val out = RealEstatePipeline.transform(
      RealEstatePipeline.readListings(spark, fixtures._1),
      RealEstatePipeline.readCensus(spark, fixtures._2), samplePerState = 10)
    assert(out.count() === 18L)
    val plan = nodes(out.queryExecution.executedPlan)
    val sorts = plan.collect {
      case s @ (_: SortExec | _: WindowExec | _: WindowGroupLimitExec) => s.nodeName
    }
    assert(sorts.isEmpty, s"transform sorts: $sorts\n${out.queryExecution.executedPlan}")
    val scans = plan.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("listings.csv")) => f
    }
    assert(scans.size === 1, out.queryExecution.executedPlan.toString)
    // observation-free: the state filter still reaches the CSV parser
    assert(scans.head.dataFilters.nonEmpty, scans.head.toString)
  }

  test("run() itself retries like the Step Functions contract (x2 @60s, backoff 2.0)") {
    var calls = 0
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val (_, stats) = RealEstatePipeline.run(
      spark, fixtures._1, fixtures._2, samplePerState = 10,
      maxAttempts = 2, retrySleep = slept.append(_),
      onAttempt = n => { calls += 1
        if (n == 1) throw new RuntimeException("TaskFailed (transient)") })
    assert(calls === 2)                 // failed once, succeeded on retry
    assert(slept.toSeq === Seq(60000L)) // asl.json IntervalSeconds: 60
    assert(stats.outputColumns === 18)
    // exhausted retries rethrow — the Catch -> ProcessingFailed state
    val thrown = intercept[RuntimeException] {
      RealEstatePipeline.run(spark, fixtures._1, fixtures._2,
        samplePerState = 10, maxAttempts = 2, retrySleep = _ => (),
        onAttempt = _ => throw new RuntimeException("TaskFailed (permanent)"))
    }
    assert(thrown.getMessage.contains("permanent"))
  }

  test("enriched output registers as a persistent 18-column catalog table") {
    val (enriched, _) = result
    val loc = Tables.scratch("real_estate_catalog")
    RealEstatePipeline.registerCatalog(spark, enriched, loc)
    assert(spark.catalog.tableExists("real_estate_enriched"))
    val back = spark.table("real_estate_enriched")
    assert(back.columns.toSeq === RealEstatePipeline.outputColumns)
    assert(back.count() === enriched.count())
    // durable: backed by parquet files at the declared location
    assert(new java.io.File(loc).listFiles().exists(_.getName.endsWith(".parquet")))
  }

  test("census JSON array sink writes ONE pretty-printed [-prefixed file that round-trips") {
    val census = RealEstatePipeline.readCensus(spark, fixtures._2)
    val out = Tables.scratch("census_array_sink")
    ops.Sources.writeJsonArray(census, out)
    val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length === 1) // single file, like json.dump
    val lines = Files.readAllLines(parts.head.toPath)
    assert(lines.get(0) === "[")                      // array, not JSON-lines
    assert(lines.get(1).startsWith("  {"))            // pretty-printed rows
    assert(lines.get(1).endsWith(","))                // element separators
    assert(lines.get(lines.size - 1) === "]")
    // content equality: the file is readable by the pipeline's own
    // multiLine census reader and matches the source exactly
    val back = spark.read.option("multiLine", "true")
      .option("pathGlobFilter", "part-*").json(out)
    assert(back.count() === census.count())
    assert(back.select(census.columns.map(col): _*)
      .exceptAll(census).isEmpty)
  }

  test("retry with backoff: succeeds after transient failures, exhausts on permanent") {
    var calls = 0
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val ok = Retry.withBackoff(maxAttempts = 3, intervalMs = 10, backoff = 2.0,
      sleep = slept.append(_)) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "done"
    }
    assert(ok === Success("done"))
    assert(slept.toSeq === Seq(10L, 20L)) // 2.0 backoff
    val fail = Retry.withBackoff(maxAttempts = 2, intervalMs = 1,
      sleep = _ => ()) { throw new RuntimeException("permanent") }
    assert(fail.isInstanceOf[Failure[_]])
  }
}
