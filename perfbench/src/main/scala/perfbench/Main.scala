package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{CountDownLatch, ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions.col

/** One benchmark run: one workload, one seed, one closed-loop client.
  *
  * The harness calls the program's public entry points from outside
  * (`RealEstatePipeline.readListings/readCensus/transform/run`, the
  * `queries` maps of each module, the `Tables` loaders and the `RefScale`
  * generators) and times them; it edits nothing in the program. It writes
  * one JSON result file (`--out`) that `run.py` turns into the benchmark's
  * output line. See README.md for the workloads and metrics. */
object Main {

  type Query = (SparkSession, String) => DataFrame

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String,
                        scale: String, etlRows: Long, cores: Int,
                        opLimitS: Int, maxOps: Int, expected: Option[String],
                        data: String, faults: Boolean)

  /** Modules of the relational query mix: `flagship` plus every `ops.*`. */
  def mixModules: Seq[(String, Map[String, Query])] = Seq(
    "SparkEntry" -> Map[String, Query]("flagship" -> graft.SparkEntry.flagship _),
    "ops.Sources" -> graft.ops.Sources.queries,
    "ops.Filters" -> graft.ops.Filters.queries,
    "ops.Joins" -> graft.ops.Joins.queries,
    "ops.Aggs" -> graft.ops.Aggs.queries,
    "ops.Windows" -> graft.ops.Windows.queries,
    "ops.Scalars" -> graft.ops.Scalars.queries,
    "ops.Sets" -> graft.ops.Sets.queries,
    "ops.Skew" -> graft.ops.Skew.queries,
    "ops.Analytics" -> graft.ops.Analytics.queries)

  /** The query mix measures every `MixStride`-th query of the name-sorted
    * inventory above (11 of 84): a pass over all 84 does not fit a run's
    * time budget, and a fixed stride keeps each module's share. */
  val MixStride = 8
  val MixWarmPasses = 2

  /** Modules of the curation family. */
  def curationModules: Seq[(String, Map[String, Query])] =
    Seq("ext.Dedup" -> graft.ext.Dedup.queries)

  /** The curation slice of `ext.Dedup`: three memo families, each an
    * owner that builds a session-long memo and the queries that read it
    * (the whole module, 34 queries, takes about 55 s cold and does not fit
    * a run's time budget). An odd count keeps the median one query's. */
  val CurationSlice: Seq[String] = Seq(
    // shingle pair frame and the cluster loop
    "dedup_ngram_jaccard", "dedup_clusters", "dedup_keep", "dedup_cluster_stats",
    "dedup_threshold_curve", "dedup_exact", "dedup_exact_norm",
    // simhash fingerprints
    "dedup_simhash", "dedup_simhash_pairs",
    // duplicated-substring starts
    "dedup_substr_cross", "dedup_substr_excise")

  /** Self-check only: one op that throws and one that hangs in a Spark
    * job, to prove both are counted as failures and the run goes on. */
  def faultOps: Seq[(String, String, Query)] = Seq(
    ("fault_throw", "faults", (_, _) => throw new IllegalStateException("injected fault")),
    ("fault_hang", "faults", (s, _) => {
      val sleep = org.apache.spark.sql.functions.udf { (x: Long) => Thread.sleep(600000L); x }
      s.range(4).repartition(4).select(sleep(col("id")))
    }))

  /** Memo owners first, as `graft.Bench` orders them, so each shared memo
    * is built by the same query in every run. */
  val Owners: Seq[String] = Seq("dedup_ngram_jaccard", "dedup_clusters",
    "dedup_keep", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_incremental_minhash", "dedup_index_delete", "dedup_band_sweep",
    "dedup_substr_cross", "dedup_winnow_pairs")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val run = new Run(a, jvmStartMs)
    try run.go() finally run.spark.stop()
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("work"), get("out"), get("scale"),
      get("etl-rows").toLong, get("cores").toInt, get("op-limit").toInt,
      m.get("max-ops").map(_.toInt).getOrElse(Int.MaxValue), m.get("expected"),
      get("data"), m.get("faults").contains("1"))
  }
}

/** Rows and order-insensitive content hash of a query's output: the sum of
  * the xxhash64 of each row's UnsafeRow bytes. */
object RowHash {
  import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
  import org.apache.spark.sql.types._

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case o => o
  }

  def apply(qe: QueryExecution): (Long, Long) = {
    val schema = nullable(qe.analyzed.schema).asInstanceOf[StructType]
    qe.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L; var h = 0L
      while (it.hasNext) {
        val u = proj(it.next())
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator.single((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
  }
}

/** One op's outcome. `rows`/`hash` are the query output fingerprint. */
final case class Op(name: String, module: String, pass: Int, span: Int,
                    ms: Double, error: Option[String], rows: Long, hash: Long)

final class Run(a: Main.Args, jvmStartMs: Long) {
  import Main._

  private def now = System.nanoTime()
  private def secSince(t: Long) = (now - t) / 1e9

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[${a.cores}]")
    .config("spark.sql.shuffle.partitions", a.cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"${a.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  graft.ext.CapMetrics.register(spark)
  private val sc = spark.sparkContext
  private val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

  private val tracer = new Tracer
  if (a.trace) sc.addSparkListener(tracer)

  // ---- the op thread: closed loop, one op at a time, bounded ----
  private def newPool() = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
  }
  private var pool = newPool()

  /** Run `body` on the op thread. A throw or a hang past the op limit is
    * returned as an error; straggler jobs are cancelled before the next op
    * starts, and a thread that does not come back is abandoned. */
  private def bounded[T](body: => T): Either[String, T] = {
    val done = new CountDownLatch(1)
    val fut = pool.submit(() => try body finally done.countDown())
    def cleanup(): Unit = {
      sc.cancelAllJobs()
      fut.cancel(true)
      if (!done.await(20, TimeUnit.SECONDS)) { pool.shutdownNow(); pool = newPool() }
    }
    try Right(fut.get(a.opLimitS.toLong, TimeUnit.SECONDS))
    catch {
      case _: TimeoutException => cleanup(); Left(s"timed out after ${a.opLimitS} s")
      case e: ExecutionException =>
        cleanup()
        val c = Option(e.getCause).getOrElse(e)
        Left(s"${c.getClass.getName}: ${Option(c.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)}")
    }
  }

  /** A traced phase: a span, and the job group that ties jobs to it. */
  private def phase[T](name: String, parent: Int)(body: => T): T = {
    val s = tracer.open(name, parent)
    tracer.charge(sc.setJobGroup(Tracer.group(s.id), name, interruptOnCancel = true))
    try body finally { tracer.close(s); tracer.charge(sc.clearJobGroup()) }
  }

  // ---- workloads ----

  private val dataDir = a.data
  private var generateS = 0.0
  private var warmupS = 0.0
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val passWalls = mutable.ArrayBuffer.empty[Double]
  private val passCpus = mutable.ArrayBuffer.empty[Double]
  private val etlPhases = mutable.ArrayBuffer.empty[Map[String, Double]]
  private var jobsPerLoad = 0.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }

  private val loaders = Seq[Query](graft.Tables.region, graft.Tables.nation,
    graft.Tables.customer, graft.Tables.supplier, graft.Tables.part,
    graft.Tables.orders, graft.Tables.lineitem, graft.Tables.events,
    graft.Tables.documents, graft.Tables.embeddings)

  /** Bench's untimed warm-up: the flagship query and a touch of every
    * table through the `Tables` loaders. */
  private def warmTables(): Unit = {
    val t = now
    try graft.SparkEntry.flagship(spark, dataDir).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    loaders.foreach(f => try f(spark, dataDir).count() catch { case _: Throwable => () })
    warmupS += secSince(t)
  }

  /** Traced only, after the timed region: call each loader once, without
    * an action, and count the schema-inference jobs that launches. */
  private def loadProbe(): Unit = {
    tracer.snapshot(sc)
    val j0 = tracer.jobs.size
    loaders.foreach(f => bounded(f(spark, dataDir)))
    tracer.snapshot(sc)
    jobsPerLoad = tracer.jobs.values.drop(j0).count(_.tablesInfer).toDouble / loaders.size
  }

  /** Exhaust a frame's plan as one SQL execution, hashing its rows. */
  private def exhaust(name: String, qe: QueryExecution): (Long, Long) =
    SQLExecution.withNewExecutionId(qe, Some(name))(RowHash(qe))

  private def queryOp(name: String, module: String, fn: Query, pass: Int, parent: Int): Op = {
    val s = tracer.open(name, parent)
    val t = now
    val r = bounded {
      val df = phase("construct", s.id)(fn(spark, dataDir))
      val qe = df.queryExecution
      phase("plan", s.id)(qe.executedPlan)
      phase("exec", s.id)(exhaust(name, qe))
    }
    val ms = (now - t) / 1e6
    tracer.close(s)
    r match {
      case Right((rows, hash)) => Op(name, module, pass, s.id, ms, None, rows, hash)
      case Left(err) => Op(name, module, pass, s.id, ms, Some(err), -1, 0)
    }
  }

  /** One timed pass under its own span: records its wall and CPU time. */
  private def timedPass(pass: Int, parent: Int)(body: Int => Unit): Unit = {
    val p = tracer.open(s"pass$pass", parent)
    val t = now
    val cpu = processCpuNs
    body(p.id)
    passWalls += secSince(t)
    passCpus += (processCpuNs - cpu) / 1e9
    tracer.close(p)
  }

  private def runPass(pass: Int, order: Seq[(String, String, Query)], parent: Int): Unit =
    timedPass(pass, parent) { id =>
      order.foreach { case (n, m, f) =>
        if (ops.size < a.maxOps) ops += queryOp(n, m, f, pass, id)
      }
    }

  private def flat(mods: Seq[(String, Map[String, Query])]): Seq[(String, String, Query)] =
    mods.flatMap { case (m, qs) => qs.toSeq.map { case (n, f) => (n, m, f) } }.sortBy(_._1)

  /** The query mix: every `MixStride`-th query of the sorted inventory. */
  private def mixOps: Seq[(String, String, Query)] =
    flat(mixModules).zipWithIndex.collect { case (q, i) if i % MixStride == 0 => q }

  /** An etl_refscale input: the RefScale listings at `rows` rows, with
    * seed-shifted prices so each seed gives other enriched rows. */
  private def generateEtl(rows: Long, name: String): String = {
    val shift = a.seed % 1000
    val dir = s"${a.work}/$name"
    graft.tools.RefScale.listings(spark, rows)
      .withColumn("price", (col("price").cast("long") + shift).cast("string"))
      .write.mode("overwrite").option("header", "true").csv(dir)
    // flush the fresh files to disk now, so their write-back does not
    // compete with the first timed runs
    new java.io.File(dir).listFiles().foreach { f =>
      val ch = java.nio.channels.FileChannel.open(f.toPath, java.nio.file.StandardOpenOption.WRITE)
      try ch.force(true) finally ch.close()
    }
    dir
  }

  private def etlOp(listings: String, census: String, pass: Int, parent: Int): Op = {
    import graft.pipeline.RealEstatePipeline
    val out = s"${a.work}/enriched_csv"
    // traced only: price the pipeline's own functions before the run; this
    // extra work is charged to the tracer
    if (a.trace) {
      val times = mutable.Map.empty[String, Double]
      def fn[T](name: String)(body: => T): T = {
        val t = now; val r = phase(name, parent)(body); times(name) = (now - t) / 1e6; r
      }
      bounded(tracer.charge {
        val c = fn("read_census")(RealEstatePipeline.readCensus(spark, census))
        val l = fn("read_listings")(RealEstatePipeline.readListings(spark, listings))
        fn("transform")(exhaust("transform", RealEstatePipeline.transform(l, c).queryExecution))
      })
      etlPhases += times.toMap
    }
    val s = tracer.open("run", parent)
    val t = now
    val r = bounded {
      tracer.charge(sc.setJobGroup(Tracer.group(s.id), "run", interruptOnCancel = true))
      try {
        val (enriched, st) = RealEstatePipeline.run(spark, listings, census, outDir = Some(out))
        enriched.unpersist()
        st
      } finally tracer.charge(sc.clearJobGroup())
    }
    val ms = (now - t) / 1e6
    tracer.close(s)
    val checked = r.flatMap { st =>
      val lines = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
        .map(f => java.nio.file.Files.lines(f.toPath).count()).sum
      val errs = Seq(
        (st.rawListings == a.etlRows) -> s"raw ${st.rawListings} != ${a.etlRows}",
        (st.censusZips == graft.tools.RefScale.CensusZips) -> s"census zips ${st.censusZips} != 300",
        (st.joined == 300L) -> s"output rows ${st.joined} != 300",
        (st.outputColumns == 18) -> s"output columns ${st.outputColumns} != 18",
        (st.matchRatePct >= 95.0) -> s"match ${st.matchRatePct} < 95 %",
        (lines == 301L) -> s"written csv has $lines lines, not 301 (header + 300)")
        .collect { case (false, e) => e }
      if (errs.isEmpty) Right(st) else Left(errs.mkString("; "))
    }
    Op("pipeline_run", "pipeline.RealEstatePipeline", pass, s.id, ms,
      checked.left.toOption, if (r.isRight) 300 else -1, 0L)
  }

  // ---- the run ----

  private var timedWallS = 0.0
  private var timedStartMs = 0L
  private var timedEndMs = 0L
  private var traceCostNs = 0L
  private var retainedMb = 0.0
  private var memo = (0.0, 0.0)
  private var before = Map.empty[String, Double].withDefaultValue(0.0)
  private var after = Map.empty[String, Double].withDefaultValue(0.0)
  private var listings = ""
  /** Pipeline runs per etl_refscale run, at least (one run is ~5 s): an
    * odd count, so the median run is one run. The JIT still speeds runs up
    * after the warm-up (the first timed run is often the slowest), so a run
    * reports the median of five, not one. */
  private val EtlMinRuns = 5
  private val WarmRows = 20000L

  def go(): Unit = {
    val root = tracer.open(a.workload, -1)
    var t = 0L
    var cost0 = 0L
    def startTimed(): Unit = {
      if (a.trace) before = tracer.snapshot(sc)
      cost0 = tracer.listenerCostNs + tracer.callerCostNs
      timedStartMs = System.currentTimeMillis()
      t = now
    }
    def loop(minPasses: Int)(pass: Int => Unit): Unit = {
      var p = 0
      while ((p < minPasses || secSince(t) < a.seconds) && ops.size < a.maxOps) { pass(p); p += 1 }
    }
    a.workload match {
      case "etl_refscale" =>
        val g = now
        val l = generateEtl(a.etlRows, "listings_csv")
        val warmCsv = generateEtl(WarmRows, "warm_csv")
        val c = s"${a.work}/census.json"
        graft.tools.RefScale.writeCensusJson(c)
        generateS = secSince(g)
        listings = l
        // untimed warm-up: one run on a small input compiles every plan of
        // the pipeline; one full scan of the real input lets the JIT settle
        // the CSV parse, the bulk of a run
        val w = now
        bounded {
          graft.pipeline.RealEstatePipeline.run(spark, warmCsv, c,
            outDir = Some(s"${a.work}/warm_out"))._1.unpersist()
          graft.pipeline.RealEstatePipeline.readListings(spark, l)
            .write.format("noop").mode("overwrite").save()
        }.left.foreach(e => sys.error(s"warm-up failed: $e"))
        warmupS = secSince(w)
        startTimed()
        loop(EtlMinRuns)(pass => timedPass(pass, root.id)(id => ops += etlOp(l, c, pass, id)))
      case "query_mix" =>
        val mix = mixOps.take(a.maxOps)
        // untimed warm-up: `MixWarmPasses` passes over the same queries, in
        // name order; after one cold pass alone the driver-side JIT had not
        // settled and separate runs' timed levels stood ±20 % apart
        val w = now
        (1 to MixWarmPasses).foreach { _ =>
          mix.foreach { case (n, _, f) => bounded(exhaust(n, f(spark, dataDir).queryExecution)) }
        }
        warmupS = secSince(w)
        startTimed()
        val faults = if (a.faults) faultOps else Nil
        loop(1)(pass => runPass(pass,
          (if (pass == 0) faults else Nil) ++ new Random(a.seed * 1000 + pass).shuffle(mix), root.id))
      case "curation" =>
        warmTables()
        val (own, tail) = flat(curationModules).filter(q => CurationSlice.contains(q._1))
          .partition(q => Owners.contains(q._1))
        val order = own.sortBy(q => Owners.indexOf(q._1)) ++ new Random(a.seed).shuffle(tail)
        startTimed()
        runPass(0, order, root.id)
      case w => sys.error(s"unknown workload $w")
    }
    timedWallS = secSince(t)
    timedEndMs = System.currentTimeMillis()
    // the window's tracer cost: tracing code on the measured threads up to
    // here, listener callbacks once the bus has drained the window's events
    val callerEnd = tracer.callerCostNs
    if (a.trace) {
      after = tracer.snapshot(sc)
      traceCostNs = callerEnd + tracer.listenerCostNs - cost0
      if (a.workload != "etl_refscale") loadProbe()
    }
    val storage = sc.getRDDStorageInfo
    memo = (storage.map(i => i.memSize + i.diskSize).sum / 1048576.0,
            storage.map(_.numCachedPartitions.toDouble).sum)
    // the ContextCleaner frees broadcast and shuffle state asynchronously
    // after a GC drops their references: collect, let it run, collect.
    // Spark's background threads allocate between a GC and the reading, so
    // take the least heap used over a few more collections.
    System.gc(); Thread.sleep(1000)
    retainedMb = (1 to 5).map { _ =>
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    tracer.close(root)
    pool.shutdownNow()
    write()
  }

  /** CPU time of every thread of this process (driver, executors, JIT,
    * GC): the work a run costs, which CPU steal by other tenants of the
    * host does not inflate the way it inflates wall time. */
  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  // ---- results ----

  /** The correctness record: name → (rows, hash or None if rows-only, note). */
  private def expected: Map[String, (Long, Option[Long], String)] =
    a.expected.map { p =>
      val src = scala.io.Source.fromFile(p)
      try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t", -1))
        .collect { case Array(n, rows, hash, note) =>
          n -> (rows.toLong, if (hash == "-") None else Some(hash.toLong), note) }.toMap
      finally src.close()
    }.getOrElse(Map.empty)

  private def check(o: Op, exp: Map[String, (Long, Option[Long], String)]): Op =
    if (o.error.isDefined || o.module.startsWith("pipeline") || a.expected.isEmpty) o
    else o.copy(error = exp.get(o.name) match {
      case None => Some("no correctness record for this query")
      case Some((rows, _, _)) if rows != o.rows => Some(s"rows ${o.rows} != recorded $rows")
      case Some((_, Some(h), _)) if h != o.hash => Some(s"content hash ${o.hash} != recorded $h")
      case _ => None
    })

  private def layers(checked: Seq[Op], passes: Int): Seq[(String, Double, String)] = {
    val spanById = tracer.spans.map(s => s.id -> s).toMap
    val self = tracer.selfMs
    val opIds = checked.map(_.span).toSet
    val timedJobs = tracer.jobs.values.filter(j =>
      j.startMs >= timedStartMs && j.startMs <= timedEndMs).toSeq
    def spanOf(j: Tracer#Job) = Tracer.spanOf(j.group).flatMap(spanById.get)
    def per(v: Double) = v / passes
    // query phases: spans named `n` directly under an op span
    def phases(n: String) = tracer.spans.filter(s => s.name == n && opIds.contains(s.parent))
    def phaseJobs(n: String) =
      per(timedJobs.count(j => spanOf(j).exists(s => s.name == n && opIds.contains(s.parent))).toDouble)
    val phaseMs = Seq("construct", "plan", "exec").map(n => n -> per(phases(n).map(_.ms).sum)).toMap
    val opMs = per(checked.filterNot(_.module.startsWith("pipeline")).map(_.ms).sum)
    val infer = timedJobs.filter(_.tablesInfer)

    val pipe = etlPhases.toSeq
    def pm(k: String) = median(pipe.map(_.getOrElse(k, 0.0)))
    val runMs = median(checked.filter(_.module.startsWith("pipeline")).map(_.ms))
    val runGroups = tracer.spans.filter(_.name == "run").map(s => Tracer.group(s.id)).toSet
    val csvBytes = Option(new java.io.File(listings).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".csv")).map(_.length).sum
    val d = (k: String) => after(k) - before(k)
    val wall = math.max(timedWallS, 1e-9)

    Seq(
      ("pipeline.read_listings_ms", pm("read_listings"), "ms"),
      ("pipeline.read_census_ms", pm("read_census"), "ms"),
      ("pipeline.transform_ms", pm("transform"), "ms"),
      ("pipeline.audit_write_ms",
        if (pipe.isEmpty) 0.0 else runMs - pm("transform") - pm("read_listings") - pm("read_census"), "ms"),
      ("pipeline.jobs", per(timedJobs.count(j => runGroups.contains(j.group)).toDouble), "count"),
      ("pipeline.csv_scans",
        if (csvBytes == 0) 0.0 else per(runGroups.toSeq.map(tracer.inputByGroup).sum.toDouble / csvBytes), "count"),
      ("tables.infer_jobs", per(infer.size.toDouble), "count"),
      ("tables.infer_ms", per(infer.map(j => (j.endMs - j.startMs).toDouble).sum), "ms"),
      ("tables.jobs_per_load", jobsPerLoad, "count"),
      ("query.construct_ms", phaseMs("construct"), "ms"),
      ("query.construct_self_ms", per(phases("construct").map(s => self(s.id)).sum), "ms"),
      ("query.construct_jobs", phaseJobs("construct"), "count"),
      ("query.plan_ms", phaseMs("plan"), "ms"),
      ("query.exec_ms", phaseMs("exec"), "ms"),
      ("query.exec_jobs", phaseJobs("exec"), "count"),
      ("query.unphased_ms", opMs - phaseMs.values.sum, "ms")) ++
    // one metric per module that some workload runs
    (mixOps.map(_._2).distinct ++ curationModules.map(_._1)).map { m =>
      (s"module.${m}_s", per(checked.filter(_.module == m).map(_.ms).sum) / 1e3, "s")
    } ++ Seq(
      ("module.pipeline.RealEstatePipeline_s",
        per(checked.filter(_.module.startsWith("pipeline")).map(_.ms).sum) / 1e3, "s"),
      ("spark.jobs", per(timedJobs.size.toDouble), "count"),
      ("spark.unattributed_jobs", per(timedJobs.count(j => spanOf(j).isEmpty).toDouble), "count"),
      ("spark.stages", per(d("stages")), "count"),
      ("spark.tasks", per(d("tasks")), "count"),
      ("spark.task_s", per(d("task_ms")) / 1e3, "s"),
      ("spark.task_cpu_s", per(d("task_cpu_ns")) / 1e9, "s"),
      ("spark.gc_s", per(d("gc_ms")) / 1e3, "s"),
      ("spark.shuffle_write_mb", per(d("shuffle_write_b")) / 1048576.0, "MB"),
      ("spark.spill_mb", per(d("spill_b")) / 1048576.0, "MB"),
      ("spark.executor_util", d("task_ms") / 1e3 / (wall * a.cores), "ratio"),
      ("memo.cached_mb", memo._1, "MB"),
      ("memo.cached_blocks", memo._2, "count"),
      ("setup.session_s", sessionS, "s"),
      ("setup.generate_s", generateS, "s"),
      ("setup.warmup_s", warmupS, "s"),
      ("trace.overhead_pct", 100.0 * traceCostNs / 1e9 / wall, "%"))
  }

  private def write(): Unit = {
    val exp = expected
    val checked = ops.toSeq.map(check(_, exp))
    val failed = checked.filter(_.error.isDefined)
    val lat = checked.map(_.ms)
    val passes = math.max(1, passWalls.size)
    val e2e = Seq(
      ("setup_s", sessionS + generateS + warmupS, "s"),
      ("wall_s", median(passWalls.toSeq), "s"),
      ("cpu_s", median(passCpus.toSeq), "s"),
      ("op_p50_ms", median(lat), "ms"),
      ("op_p90_ms", pct(lat, 0.9), "ms"),
      ("retained_heap_mb", retainedMb, "MB"))
    val layer = if (a.trace) layers(checked, passes) else Nil
    def metrics(ms: Seq[(String, Double, String)]) = Json.obj(ms.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val rowsOnly = checked.map(_.name).distinct.flatMap(n => exp.get(n).collect {
      case (_, None, note) => Json.obj(Seq("query" -> Json.str(n), "reason" -> Json.str(note))) })
    val json = Json.obj(Seq(
      "correct" -> (if (failed.isEmpty) "true" else "false"),
      "attempted" -> checked.size.toString,
      "failed" -> failed.size.toString,
      "passes" -> passes.toString,
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layer),
      "failures" -> Json.arr(failed.map(o => Json.obj(Seq(
        "op" -> Json.str(o.name), "pass" -> o.pass.toString,
        "error" -> Json.str(o.error.getOrElse("")))))),
      "rows_only" -> Json.arr(rowsOnly),
      "ops" -> Json.arr(checked.map(o => Json.obj(Seq(
        "name" -> Json.str(o.name), "module" -> Json.str(o.module),
        "pass" -> o.pass.toString, "ms" -> Json.num(o.ms),
        "rows" -> o.rows.toString, "hash" -> o.hash.toString))))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), json)
    if (a.trace) {
      val self = tracer.selfMs
      val lines = tracer.spans.map(s => Json.obj(Seq("id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "ms" -> Json.num(s.ms), "self_ms" -> Json.num(self(s.id)))))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out + ".spans.jsonl"),
        lines.mkString("", "\n", "\n"))
    }
  }
}

/** Minimal JSON text builders; values are already-rendered JSON text. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
