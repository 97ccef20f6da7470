package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

/** ScalaCheck property tests — SURVEY §5: algebraic invariants over
  * randomly generated inputs. Spark-backed properties run few cases
  * (each case is a job); pure-function properties run the default 100. */
object AlgebraProps extends Properties("graft.algebra") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  private val rows = Gen.listOfN(
    40, Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(-100.0, 100.0),
                Gen.oneOf("a", "b", "c")))

  property("filter conjunction commutes and fuses") = forAll(rows) { xs =>
    import spark.implicits._
    val df = xs.toDF("k", "v", "tag")
    val ab = df.filter($"v" > 0).filter($"tag" =!= "c").count()
    val ba = df.filter($"tag" =!= "c").filter($"v" > 0).count()
    val fused = df.filter($"v" > 0 && $"tag" =!= "c").count()
    ab == ba && ba == fused
  }

  property("semi-join == distinct isin") = forAll(rows, rows) { (xs, ys) =>
    import spark.implicits._
    val left = xs.toDF("k", "v", "tag")
    val right = ys.toDF("k", "v", "tag").select($"k")
    val keys = right.distinct().as[Long].collect().toSeq
    val viaIsin = left.filter($"k".isin(keys: _*)).count()
    val viaSemi = left.join(right, Seq("k"), "left_semi").count()
    viaIsin == viaSemi
  }

  property("semi + anti partition the left side") = forAll(rows, rows) { (xs, ys) =>
    import spark.implicits._
    val left = xs.toDF("k", "v", "tag")
    val right = ys.toDF("k", "v", "tag").select($"k")
    val semi = left.join(right, Seq("k"), "left_semi").count()
    val anti = left.join(right, Seq("k"), "left_anti").count()
    semi + anti == left.count()
  }

  property("per-group top-k returns <= k per group, == k when group big enough") =
    forAll(rows, Gen.chooseNum(1, 5)) { (xs, k) =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val df = xs.toDF("k", "v", "tag")
      val w = Window.partitionBy("tag").orderBy($"v".desc, $"k".asc)
      val top = df.withColumn("rn", row_number().over(w)).filter($"rn" <= k)
      val perGroup = top.groupBy("tag").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val sizes = df.groupBy("tag").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      sizes.forall { case (g, n) => perGroup.getOrElse(g, 0L) == math.min(k.toLong, n) }
    }

  property("broadcast join == plain join") = forAll(rows, rows) { (xs, ys) =>
    import spark.implicits._
    val l = xs.toDF("k", "v", "tag")
    val r = ys.toDF("k", "v", "tag").groupBy("k").agg(max($"v").as("mv"))
    val a = l.join(broadcast(r), Seq("k"), "left").select($"k", $"mv")
    val b = l.join(r, Seq("k"), "left").select($"k", $"mv")
    a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0
  }

  property("salted agg == plain agg") = forAll(rows) { xs =>
    import spark.implicits._
    val df = xs.toDF("k", "v", "tag")
    val salted = df
      .withColumn("salt", pmod(xxhash64($"k", $"v"), lit(8)))
      .groupBy("tag", "salt").agg(sum($"k").as("ps"), count(lit(1)).as("pc"))
      .groupBy("tag").agg(sum($"ps").as("s"), sum($"pc").as("n"))
    val plain = df.groupBy("tag").agg(sum($"k").as("s"), count(lit(1)).as("n"))
    salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0
  }

  // ---- pure-function properties (no Spark, default case counts) ----

  property("PolyHash matches BigInt polynomial model") =
    forAll(Gen.asciiPrintableStr) { s =>
      val bytes = s.getBytes("UTF-8")
      val M = BigInt((1L << 61) - 1)
      val model = bytes.zipWithIndex.map { case (b, i) =>
        BigInt(b & 0xff) * BigInt(131).modPow(i, M)
      }.foldLeft(BigInt(0))((a, x) => (a + x) mod M)
      functions.PolyHash.hashBytes(bytes) == model.toLong
    }

  property("Num portable rounding is within half-ulp of scale") =
    forAll(Gen.chooseNum(-1e6, 1e6), Gen.chooseNum(0, 6)) { (x, s) =>
      val p = math.pow(10, s)
      val r = math.round(x * p) / p
      math.abs(r - x) <= 0.5 / p + 1e-9 * math.abs(x).max(1.0)
    }

  property("retry: total sleeps follow geometric backoff") =
    forAll(Gen.chooseNum(1, 5), Gen.chooseNum(1L, 50L)) { (failures, interval) =>
      var calls = 0
      val slept = scala.collection.mutable.ArrayBuffer[Long]()
      pipeline.Retry.withBackoff(
        maxAttempts = failures + 1, intervalMs = interval, backoff = 2.0,
        sleep = slept.append(_)) {
        calls += 1
        if (calls <= failures) throw new RuntimeException("boom")
        calls
      }
      Prop(slept.toSeq == (0 until failures)
        .map(i => (interval * math.pow(2, i)).toLong)) :| s"slept=$slept"
    }

  // pure-function property (no Spark jobs): any way of splitting the
  // input into partials and merging must agree with a direct reduce —
  // the exchange-safety contract Spark assumes of every Aggregator.
  // Covers the open-addressed buffer's probe/tombstone paths under
  // arbitrary duplicate patterns and overflow boundaries.
  property("BoundedCollectSet: merge of any partial split == direct reduce") =
    forAll(Gen.listOf(Gen.frequency(
             9 -> Gen.chooseNum(0L, 30L),
             1 -> Gen.const(Long.MinValue))), // the empty-slot sentinel
           Gen.chooseNum(1, 12),
           Gen.chooseNum(0, 100)) { (ids, cap, seed) =>
      val agg = new functions.BoundedCollectSet(cap)
      val direct = agg.finish(ids.foldLeft(agg.zero)(agg.reduce))
      val rnd = new scala.util.Random(seed)
      val chunks = ids.grouped(math.max(1, if (ids.isEmpty) 1
        else rnd.nextInt(ids.length) + 1)).toList
      val partials = chunks.map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = agg.finish(
        if (partials.isEmpty) agg.zero
        else partials.reduce(agg.merge))
      val expected = if (ids.distinct.length > cap) None
                     else Some(ids.distinct.sorted)
      Prop(direct == expected && merged == expected) :|
        s"direct=$direct merged=$merged expected=$expected"
    }

  // pure-function model of text_jsd_drift's integer pipeline (the exact
  // arithmetic TextOps.jsdDrift runs): over RANDOM count distributions
  // the micronized-ln JSD must track the true float JSD within the
  // per-token rounding budget, and identical distributions must read ~0
  // (the symmetry/identity axioms a divergence is trusted for)
  property("integer JSD tracks float JSD; zero on identical dists") =
    forAll(Gen.listOfN(20, Gen.chooseNum(0L, 50L)),
           Gen.listOfN(20, Gen.chooseNum(0L, 50L))) { (csL, crL) =>
      def lnM(x: Long): Long = math.round(math.log(x.toDouble) * 1e6)
      def jsdMicro(cs: Seq[Long], cr: Seq[Long]): Long = {
        val v = cs.length.toLong
        val ns = cs.sum; val nr = cr.sum
        val aa = ns + v; val bb = nr + v
        var numPm = 0L; var numQm = 0L
        cs.zip(cr).foreach { case (c1, c2) =>
          val a = c1 + 1; val b = c2 + 1
          val lnmd = lnM(a * bb + b * aa) - lnM(2L * aa * bb)
          numPm += a * (lnM(a) - lnM(aa) - lnmd)
          numQm += b * (lnM(b) - lnM(bb) - lnmd)
        }
        (numPm / aa + numQm / bb) / 2
      }
      def jsdFloat(cs: Seq[Long], cr: Seq[Long]): Double = {
        val v = cs.length.toDouble
        val aa = cs.sum + v; val bb = cr.sum + v
        cs.zip(cr).map { case (c1, c2) =>
          val p = (c1 + 1) / aa; val q = (c2 + 1) / bb
          val m = (p + q) / 2
          (p * math.log(p / m) + q * math.log(q / m)) / 2
        }.sum
      }
      val self = jsdMicro(csL, csL)
      val cross = jsdMicro(csL, crL)
      val truth = jsdFloat(csL, crL)
      // rounding budget: 4 micronized lns per token, ±0.5µ each,
      // weighted by smoothed mass ≈ 1 → ≤ ~4µ + division slack
      Prop(math.abs(self) <= 5L &&
           math.abs(cross - math.round(truth * 1e6)) <= 10L &&
           cross >= -5L && cross <= 693153L) :|
        s"self=$self cross=$cross truth=${math.round(truth * 1e6)}"
    }

  // keys/ids for the top-k aggregator ≡ window property; ±0.0, exact
  // duplicates, AND NaN generated deliberately (the tie cases that bit
  // round 14's window→aggregate conversion design, plus the zero-norm
  // csim = 0/0 = NaN case from the r14 ADVICE — SQL ranks NaN greatest)
  private val rankRows = Gen.listOfN(60, Gen.zip(
    Gen.chooseNum(0L, 6L),
    Gen.oneOf(Gen.chooseNum(-3.0, 3.0),
              Gen.oneOf(0.0, -0.0, 1.5, -1.5, Double.NaN)),
    Gen.chooseNum(0L, 30L)))

  property("bounded top-k aggregate ≡ row_number window (±0.0/NaN incl.)") =
    forAll(rankRows) { xs =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      // distinct (group, id): the production inputs (one row per
      // (vec, cell)) never repeat an id within a group
      val rows = xs.groupBy(x => (x._1, x._3)).values.map(_.head).toSeq
      val df = rows.toDF("g", "key", "id")
      val w = Window.partitionBy("g").orderBy($"key".desc, $"id".asc)
      // key compared via canonical bits: a raw NaN in a tuple is never
      // == itself (Scala unboxes numeric equality), so the Set compare
      // would fail on rows the engines actually agree on
      def keyBits(v: Double): Long = java.lang.Double.doubleToLongBits(v + 0.0)
      val viaWindow = df
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2)
        .select($"g", $"id", $"key", $"rn")
        .collect().map(r => (r.getLong(0), r.getLong(1),
                             keyBits(r.getDouble(2)), r.getInt(3))).toSet
      val topk = udaf(new graft.functions.TopKPairsAggregator(2),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
      val viaAgg = df.groupBy("g")
        .agg(topk($"key", $"id").as("tk"))
        .select($"g", posexplode($"tk"))
        .select($"g", $"col._2".as("id"), $"col._1".as("key"),
                ($"pos" + 1).cast("int").as("rn"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
                             keyBits(r.getDouble(2)), r.getInt(3))).toSet
      Prop(viaAgg == viaWindow) :| s"agg=$viaAgg window=$viaWindow"
    }

  property("bounded smallest-k rows ≡ row_number window keys, in rank order (±0.0/NaN incl.)") =
    forAll(rankRows, Gen.chooseNum(1, 4)) { (xs, k) =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val df = xs.toDF("g", "key", "id")
      // tied keys may take either row, so compare each group's ranked
      // key sequence (canonical bits: −0.0 ≡ +0.0, one NaN) — the
      // selection is that sequence whatever the tie order
      def keyBits(v: Double): Long = java.lang.Double.doubleToLongBits(v + 0.0)
      val viaWindow = df
        .withColumn("rn", row_number().over(Window.partitionBy("g").orderBy($"key")))
        .filter($"rn" <= k)
        .collect().groupBy(_.getLong(0)).map { case (g, rs) =>
          g -> rs.sortBy(_.getInt(3)).map(r => keyBits(r.getDouble(1))).toSeq }
      val viaAgg = df.groupBy("g")
        .agg(graft.functions.SmallestK.col($"key", struct($"g", $"key", $"id"), k).as("s"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(e => keyBits(e.getDouble(1))).toSeq).toMap
      Prop(viaAgg == viaWindow) :| s"agg=$viaAgg window=$viaWindow"
    }
}
