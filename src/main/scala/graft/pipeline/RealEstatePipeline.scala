package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-by-stage run report — the Spark-native analog of the reference's
  * printed audit trail + Step-Functions count assertions
  * (`/root/reference/real_estate_etl_job.py:210-221`,
  * `RealEstatePipeline.asl.json:22,34,90,102,126`). */
case class PipelineStats(
    censusZips: Long,
    rawListings: Long,
    afterStateFilter: Long,
    afterNullClean: Long,
    afterCoverage: Long,
    sampled: Long,
    joined: Long,
    matched: Long,
    matchRatePct: Double,
    outputColumns: Int)

/** The reference's 10-step ETL (`/root/reference/real_estate_etl_job.py`),
  * re-expressed Spark-first — same semantics, scale-safe mechanics:
  *
  *  - ONE listings scan per [[run]]: the reference prints a count after
  *    every stage (13 uncached full rescans, SURVEY §3.2); here the stage
  *    counts are `observe` metrics collected by the cache fill itself;
  *  - the census-coverage restriction is a broadcast left-semi JOIN, not
  *    a driver-collected IN list (`:41,96` — unbounded at 100 TB);
  *  - stratified sampling selects exactly the reference's
  *    `row_number over (partition by state order by rand(seed)) <= n`
  *    rows (`:112-115`) with a bounded per-state smallest-n aggregate —
  *    O(n) rows per state per task, no exchange-and-sort of every row;
  *  - the enrichment join broadcasts the census side (`:130-134`);
  *  - final projection emits the 18-column Schema.json contract with the
  *    left `state` kept on ambiguity (`:181`).
  */
object RealEstatePipeline {

  val targetStates = Seq("Massachusetts", "California", "New York")

  /** Step-4 clean columns and the ONE predicate derived from them —
    * shared by the stage-4 filter and [[run]]'s observed `cleaned` count
    * so the two can never diverge. The isNotNull conjunction equals the
    * reference's dropna ONLY because listings are read ALL-STRING (Glue
    * DynamicFrame parity — `na.drop` on typed float/double columns would
    * additionally drop NaN); stating the predicate once means a future
    * typed reader moves the stage and the audit together. */
  private val cleanColumns =
    Seq("price", "zip_code", "house_size", "bed", "bath")
  private val cleanOk: Column =
    cleanColumns.map(col(_).isNotNull).reduce(_ && _)
  val outputColumns: Seq[String] = Seq(
    "brokered_by", "status", "price", "bed", "bath", "acre_lot", "street",
    "city", "state", "zip_code", "house_size", "prev_sold_date",
    "census_median_income", "census_population", "census_college_pct",
    "census_unemployment_rate", "census_median_age", "price_per_sqft")

  /** STEP 1: census JSON (one multiLine array file, like
    * `CensusDataFetch.py:153-163` output read at `real_estate_etl_job.py:34`). */
  def readCensus(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** STEP 2: listings CSV, header, all-string (Glue DynamicFrame parity,
    * `real_estate_etl_job.py:49-54`); types arrive via casts in step 8. */
  def readListings(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** Steps 3–9 as one composable transform; sampleSeed mirrors rand(42). */
  def transform(listings: DataFrame, census: DataFrame,
                samplePerState: Int = 100, sampleSeed: Long = 42L): DataFrame =
    steps(listings, census, samplePerState, sampleSeed, audited = false)

  /** Steps 3–9. `audited` adds the stage counts as `observe` metrics at
    * the stage boundaries — (raw, in_states, cleaned) on the listings
    * before step 3, `covered` after step 5 — for [[run]], which reads
    * them off the one action that executes this plan. [[transform]]
    * leaves them out, so its standalone plan keeps the state and clean
    * filters pushed into the CSV scan. */
  private def steps(listings: DataFrame, census: DataFrame, samplePerState: Int,
                    sampleSeed: Long, audited: Boolean): DataFrame = {
    def observed(df: DataFrame, name: String, metrics: Column*): DataFrame =
      if (audited) df.observe(name, metrics.head, metrics.tail: _*) else df
    val stateOk = col("state").isin(targetStates: _*)
    // sum(when(..)), not count_if: the observed aggregate is updated once
    // per listing, and count_if measured ~0.8 s slower per 2.2 M rows
    def rows(p: Column): Column = coalesce(sum(when(p, 1L)), lit(0L))
    val listed = observed(listings, StageCounts, count(lit(1)).as("raw"),
      rows(stateOk).as("in_states"), rows(stateOk && cleanOk).as("cleaned"))
    // STEP 3: state IN-list filter (:64-65)
    val inStates = listed.filter(stateOk)
    // STEP 4: conjunctive NOT NULL clean (:79-85) — the shared cleanOk
    // predicate (the observed `cleaned` count applies the identical Column)
    val cleaned = inStates.filter(cleanOk)
    // STEP 5: census-coverage restriction — left-semi join, the scale-safe
    // form of the reference's collect+isin (:41,96)
    val censusKeys = census.select(col("zip_code")).distinct()
    val covered = observed(
      cleaned.join(broadcast(censusKeys), Seq("zip_code"), "left_semi"),
      CoveredCount, count(lit(1)).as("covered"))
    // STEP 6: stratified sample — the first samplePerState rows per state
    // under seeded-random order (:112-115). rand(sampleSeed) is projected
    // right after the semi-join, where the window form evaluates it, so
    // every row draws the same value; the bounded smallest-k aggregate
    // then keeps exactly the rows with row_number() <= samplePerState,
    // and explode emits them in that rank order.
    val sampled = covered
      .withColumn("__rand", rand(sampleSeed))
      .groupBy("state")
      .agg(graft.functions.SmallestK.col(col("__rand"),
        struct(covered.columns.map(col): _*), samplePerState).as("__sample"))
      .select(explode(col("__sample")).as("__row"))
      .select(col("__row.*"))
    // STEP 7: broadcast left-outer enrichment join on zip_code (:130-134)
    val joined = sampled.join(
      broadcast(census.withColumnRenamed("state", "census_state")),
      Seq("zip_code"), "left")
    // STEP 8: casts + derived price_per_sqft (:158-163); 2-dp round.
    // try_cast/try_divide reproduce the reference's non-ANSI Spark 3
    // semantics (malformed → null, /0 → null) under Spark 4's ANSI default.
    val derived = joined
      .withColumn("price_num", expr("try_cast(price AS double)"))
      .withColumn("size_num", expr("try_cast(house_size AS double)"))
      .withColumn("price_per_sqft",
        round(try_divide(col("price_num"), col("size_num")), 2))
    // STEP 9: the 18-column contract projection with aliases (:172-191);
    // left `state` survives, census `state` was renamed pre-join (P2)
    derived.select(
      col("brokered_by"), col("status"), col("price_num").as("price"),
      col("bed"), col("bath"), col("acre_lot"), col("street"), col("city"),
      col("state"), col("zip_code"), col("size_num").as("house_size"),
      col("prev_sold_date"),
      col("median_income").as("census_median_income"),
      col("population").as("census_population"),
      col("college_educated_pct").as("census_college_pct"),
      col("unemployment_rate").as("census_unemployment_rate"),
      col("median_age").as("census_median_age"),
      col("price_per_sqft"))
  }

  /** Full run: read → transform → audit → write (STEP 10: single-file
    * header CSV overwrite, `real_estate_etl_job.py:202`), wrapped in the
    * Step-Functions retry contract (`RealEstatePipeline.asl.json:62-72`:
    * 2 attempts, 60 s interval, 2.0 backoff on TaskFailed; exhausted
    * retries rethrow = the Catch → ProcessingFailed state `:73-81`).
    * `onAttempt` is the TaskFailed seam (tests inject transient faults);
    * `retrySleep` is injectable so tests don't wait 60 s. Returns the
    * enriched frame + the audit stats the Step Functions contract checks. */
  def run(spark: SparkSession, listingsCsv: String, censusJson: String,
          outDir: Option[String] = None, samplePerState: Int = 100,
          sampleSeed: Long = 42L, maxAttempts: Int = 2,
          retrySleep: Long => Unit = Thread.sleep,
          onAttempt: Int => Unit = _ => ()): (DataFrame, PipelineStats) = {
    var attempt = 0
    Retry.withBackoff(maxAttempts, intervalMs = 60000L, backoff = 2.0,
                      sleep = retrySleep) {
      attempt += 1
      onAttempt(attempt)
      runOnce(spark, listingsCsv, censusJson, outDir, samplePerState, sampleSeed)
    }.get
  }

  /** Names of the `observe` metrics [[steps]] adds for [[run]]. */
  private[graft] val StageCounts = "stage_counts"
  private[graft] val CoveredCount = "covered_count"

  /** The audit cascade (raw, in_states, cleaned, covered, joined) from a
    * fill action's observed metrics and its `joined` count. Loud: a
    * missing observation throws and names it, and so does a count that
    * grows down the cascade (each stage only drops rows). */
  private[graft] def auditCascade(metrics: Map[String, Row], joined: Long): Seq[Long] = {
    def observed(name: String): Row = metrics.getOrElse(name,
      throw new IllegalStateException(s"observed metric '$name' missing from " +
        s"the cache fill (got: ${metrics.keys.mkString(", ")})"))
    val stage = observed(StageCounts)
    val cascade = Seq(
      "raw" -> stage.getLong(0), "in_states" -> stage.getLong(1),
      "cleaned" -> stage.getLong(2), "covered" -> observed(CoveredCount).getLong(0),
      "joined" -> joined)
    cascade.sliding(2).foreach { case Seq((a, x), (b, y)) =>
      if (x < y) throw new IllegalStateException(
        s"audit counts break the stage cascade: $a = $x < $b = $y")
    }
    cascade.map(_._2)
  }

  private def runOnce(spark: SparkSession, listingsCsv: String, censusJson: String,
                      outDir: Option[String], samplePerState: Int,
                      sampleSeed: Long): (DataFrame, PipelineStats) = {
    val census = readCensus(spark, censusJson)
    val enriched = steps(readListings(spark, listingsCsv), census,
                         samplePerState, sampleSeed, audited = true).cache()

    // The fill action is the one listings scan of the run. The stage
    // counts are observed inside the plan it executes (collected through
    // the InMemoryRelation's cached plan), so they cost no scan of their
    // own. Read them right away: a later action that recomputed a cached
    // partition would add to the same accumulators.
    val fill = enriched.agg(
      count(lit(1)).as("joined"),
      count(col("census_median_income")).as("matched"))
    val audit = fill.collect().head
    val Seq(raw, inStates, cleanedN, coveredN, joinedN) =
      auditCascade(fill.queryExecution.observedMetrics, audit.getLong(0))
    val matchedN = audit.getLong(1)
    val stats = PipelineStats(
      censusZips = census.select(col("zip_code")).distinct().count(),
      rawListings = raw,
      afterStateFilter = inStates,
      afterNullClean = cleanedN,
      afterCoverage = coveredN,
      sampled = joinedN, // sample rows == join left side rows (left join)
      joined = joinedN,
      matched = matchedN,
      matchRatePct = if (joinedN > 0) 100.0 * matchedN / joinedN else 0.0,
      outputColumns = enriched.columns.length)

    outDir.foreach { d =>
      enriched.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(d)
    }
    (enriched, stats)
  }

  /** Persistent catalog registration — the durable 18-column table the
    * reference declares for Athena (`/root/reference/Schema.json:1-92`,
    * `RealEstatePipeline.asl.json:120-130`): `CREATE TABLE ... USING
    * parquet` at an explicit location, queryable by name across the
    * session catalog (vs the temp-view-only `sql_view_query`). */
  def registerCatalog(spark: SparkSession, enriched: DataFrame,
                      path: String,
                      tableName: String = "real_estate_enriched"): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    enriched.write.mode("overwrite").format("parquet")
      .option("path", path).saveAsTable(tableName)
  }
}
