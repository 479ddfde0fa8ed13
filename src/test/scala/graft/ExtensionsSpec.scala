package graft

import graft.functions.VecExpressions
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._

/** The SQL surface of the native expressions (SURVEY.md §2.3 L6) and
  * the cluster-deployment extension point. */
class ExtensionsSpec extends SparkSuite {

  test("vec_cosine / vec_dot are callable from plain SQL") {
    VecExpressions.register(spark)
    val row = spark.sql(
      "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
        "vec_cosine(array(1.0d, 0.0d), array(0.5d, 0.5d)) AS c").collect()(0)
    assert(row.getDouble(0) === 11.0)
    assert(math.abs(row.getDouble(1) - math.sqrt(2) / 2) < 1e-12)
  }

  test("vec_dot rejects non-array<double> inputs with a clear error") {
    VecExpressions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT vec_dot('a', 'b')").collect()
    }
    assert(e.getMessage.contains("vec_dot"))
  }

  test("GraftExtensions applies its injections cleanly") {
    new GraftExtensions().apply(new SparkSessionExtensions) // must not throw
  }

  test("register installs every missing function in a fresh session and keeps existing ones") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.Expression
    val names = Seq("vec_dot", "vec_cosine", "vec_dot_i8", "md5_words", "shingle_words",
      "shingle_keys", "minhash_sigs", "bloom_filter_agg", "might_contain")
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    def lookup(n: String) = registry.lookupFunctionBuilder(FunctionIdentifier(n))
    assert(names.forall(n => lookup(n).isEmpty), "a new session starts without graft functions")
    // a session that already holds some of them (as GraftExtensions
    // leaves it) keeps those and still gets the rest
    val preset: Seq[Expression] => Expression = exprs => graft.functions.VecDot(exprs(0), exprs(1))
    registry.createOrReplaceTempFunction("vec_dot", preset, "built-in")
    VecExpressions.register(fresh)
    names.foreach(n => assert(lookup(n).isDefined, s"$n not registered"))
    assert(lookup("vec_dot").get eq preset, "register replaced an existing vec_dot")
    assert(fresh.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))").head.getDouble(0)
      === 11.0)
  }

  test("the bloom build/probe pair works from plain SQL") {
    VecExpressions.register(spark)
    import spark.implicits._
    Seq("a", "b", "c").toDF("g").createOrReplaceTempView("graft_bloom_probe_t")
    val hits = spark.sql(
      """SELECT g FROM VALUES ('a'), ('z') AS p(g)
        |WHERE might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(g)) FROM graft_bloom_probe_t),
        |  xxhash64(g))""".stripMargin).collect().map(_.getString(0))
    assert(hits.contains("a")) // member always hits
    // 'z' may false-positive by design; membership of 'a' is the contract
  }

  test("vec_dot_i8 agrees with the interpreted fold over int8 arrays") {
    graft.functions.VecExpressions.register(spark)
    val row = spark.sql(
      """SELECT vec_dot_i8(a, b) AS fast,
        |       aggregate(zip_with(a, b, (x, y) -> cast(x as bigint) * y), cast(0 as bigint), (acc, v) -> acc + v) AS slow
        |FROM VALUES (array(cast(1 as tinyint), cast(-2 as tinyint), cast(127 as tinyint)),
        |             array(cast(3 as tinyint), cast(5 as tinyint), cast(-128 as tinyint))) t(a, b)""".stripMargin)
      .collect()(0)
    assert(row.getLong(0) === row.getLong(1))
    assert(row.getLong(0) === (1 * 3 + -2 * 5 + 127 * -128).toLong)
  }

  test("approx_percentile tracks the exact quantiles within 2% of the range") {
    // the sketch-based twin of events_quantiles' exact percentile —
    // at 100 TB the t-digest-style sketch is the one that merges
    // map-side without holding the value set
    val ev = graft.sources.Tables.events(spark, sf0001)
    val row = ev.agg(
      expr("percentile(value, array(0.5, 0.95))").as("exact"),
      expr("approx_percentile(value, array(0.5, 0.95), 1000)").as("approx"),
      (max(col("value")) - min(col("value"))).as("range")).collect()(0)
    val exact = row.getSeq[Double](0)
    val approx = row.getSeq[Double](1)
    val range = row.getDouble(2)
    exact.zip(approx).foreach { case (e, a) =>
      assert(math.abs(a - e) / range < 0.02, s"exact=$e approx=$a range=$range")
    }
  }

  test("A14: approx_count_distinct tracks exact distinct within 5%") {
    val li = graft.sources.Tables.lineitem(spark, sf0001)
    val row = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx")).collect()(0)
    val exact = row.getLong(0).toDouble
    val approx = row.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.05, s"approx=$approx exact=$exact")
  }

  test("A14c: per-day HLL sketches union to the global distinct (mergeable rollup)") {
    // the pre-aggregated sketch-table pattern a 100 TB warehouse runs:
    // store ONE fixed-size Datasketches HLL per day partition, answer
    // any cross-partition distinct-user question by UNIONING sketches —
    // the raw events are never re-scanned. Mergeability is the whole
    // point: the union of per-partition partials must estimate like a
    // direct pass over the full stream.
    val ev = graft.sources.Tables.events(spark, sf0001)
    val daily = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    assert(daily.count() > 1, "the rollup is vacuous with a single partition")
    val merged = daily
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .collect()(0).getLong(0)
    val direct = ev
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("est"))
      .collect()(0).getLong(0)
    val exact = ev.agg(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"union estimate $merged vs exact $exact")
    assert(math.abs(merged - direct).toDouble / math.max(direct, 1L) < 0.01,
      s"union-of-partials $merged must estimate like the direct pass $direct")
  }

  test("A14d: trailing-7-slot distinct via an HLL-union WINDOW over daily sketches") {
    // the sketch twin of events_wau's exact cover-set explosion: the
    // trailing distinct for EVERY window end comes from a
    // hll_union_agg window over the ~|days| daily sketch table — raw
    // events are read once to build the partials, each slide is a
    // sketch merge, and the global ORDER BY window runs on the tiny
    // aggregate (the events_growth rule). ROWS 6 PRECEDING means the
    // last 7 PRESENT days (a zero-event calendar day has no sketch
    // row) — the truth below uses the same present-day semantics; a
    // calendar-day window would gap-fill the sketch table first
    val ev = graft.sources.Tables.events(spark, sf0001)
    val daily = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val est = daily.selectExpr("day",
      "hll_sketch_estimate(hll_union_agg(sk) OVER " +
        "(ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS est")
      .collect().map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    // exact truth from the (user, day) relation, driver-side, over
    // the same last-7-present-days frame
    val ud = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val presentDays = ud.map(_._2).distinct.sorted((a: java.time.LocalDate,
      b: java.time.LocalDate) => a.compareTo(b))
    est.foreach { case (d, e) =>
      val frame = presentDays.filter(!_.isAfter(d)).takeRight(7).toSet
      val exact = ud.filter(x => frame.contains(x._2)).map(_._1).distinct.length
      assert(exact > 0 && math.abs(e - exact).toDouble / exact < 0.05,
        s"day $d: sketch $e vs exact $exact")
    }
  }

  test("A14e: per-day KLL sketches union to global quantiles within the rank bound") {
    // the A14c pattern applied to PERCENTILES (r15 verdict task 7a):
    // one fixed-size Datasketches KLL per day partition, any
    // cross-partition percentile answered by UNIONING the stored
    // sketches — raw events never re-scanned. KLL's guarantee is on
    // RANK (±1.65% at k=200, 99% confidence), so the check is on the
    // estimate's TRUE rank, not its value — a value-epsilon would be
    // meaningless on an arbitrary distribution.
    graft.functions.QuantileSketch.register(spark)
    val ev = graft.sources.Tables.events(spark, sf0001)
      .filter(col("value").isNotNull).cache()
    val n = ev.count().toDouble
    val daily = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(expr("kll_agg(value)").as("sk"))
    assert(daily.count() > 1, "the rollup is vacuous with a single partition")
    def trueRank(v: Double): Double =
      ev.filter(col("value") <= v).count() / n
    Seq(0.5, 0.95).foreach { q =>
      val est = daily
        .agg(expr(s"kll_quantile(kll_union_agg(sk), ${q}d)").as("est"))
        .collect()(0).getDouble(0)
      val direct = ev
        .agg(expr(s"kll_quantile(kll_agg(value), ${q}d)").as("est"))
        .collect()(0).getDouble(0)
      assert(math.abs(trueRank(est) - q) < 0.03,
        s"q=$q: union estimate $est sits at rank ${trueRank(est)}")
      assert(math.abs(trueRank(direct) - q) < 0.03,
        s"q=$q: direct estimate $direct sits at rank ${trueRank(direct)}")
    }
    ev.unpersist(); ()
  }

  test("A14f: trailing-7-slot p90 via KLL-union over the daily sketch table") {
    // the sketch twin of events_wau applied to quantiles: every
    // window-end's trailing percentile comes from merging the ~7
    // covering DAILY sketches — each daily partial fans out to the
    // window ends it covers (the cover-set trick ON THE TINY AGGREGATE,
    // |days|×7 rows total) and one mergeable kll_union_agg GROUP BY
    // collapses them; raw events are read exactly once. Frame = the
    // last 7 PRESENT days (the A14d semantics; zero-event days carry
    // no sketch row).
    graft.functions.QuantileSketch.register(spark)
    val ev = graft.sources.Tables.events(spark, sf0001)
      .filter(col("value").isNotNull)
    val daily = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(expr("kll_agg(value)").as("sk"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("day"))))
      .cache()
    val ends = daily.select(col("rn").as("end_rn"), col("day").as("end_day"))
    val est = daily.join(ends,
        col("end_rn").between(col("rn"), col("rn") + 6))
      .groupBy(col("end_day"))
      .agg(expr("kll_quantile(kll_union_agg(sk), 0.9d)").as("p90"))
      .collect().map(r => r.getDate(0).toLocalDate -> r.getDouble(1)).toMap
    // driver-side truth over the same last-7-present-days frame: the
    // estimate's rank within the frame's values must sit near 0.9
    val rows = ev.select(to_date(col("ts")).as("day"), col("value"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getDouble(1)))
    val presentDays = rows.map(_._1).distinct.sorted((a: java.time.LocalDate,
      b: java.time.LocalDate) => a.compareTo(b))
    assert(est.size === presentDays.length)
    est.foreach { case (d, e) =>
      val frame = presentDays.filter(!_.isAfter(d)).takeRight(7).toSet
      val vals = rows.filter(x => frame.contains(x._1)).map(_._2)
      val rank = vals.count(_ <= e).toDouble / vals.length
      assert(math.abs(rank - 0.9) < 0.04,
        s"day $d: trailing p90 estimate $e sits at rank $rank over ${vals.length} values")
    }
    daily.unpersist(); ()
  }

  test("A14b: count_min_sketch bounds heavy-hitter token counts") {
    // the frequency sketch beside A14's cardinality sketch: CMS merges
    // map-side in FIXED space (width x depth counters), so per-token
    // frequency over 100 TB never shuffles the token relation — the
    // estimate can only OVERcount, by at most eps*N with probability
    // >= confidence per probe (Cormode & Muthukrishnan, 2005). Seed
    // and corpus are fixed, so the bound check is deterministic.
    val eps = 0.001
    val toks = graft.sources.Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ")).as("tok")).cache()
    val n = toks.count()
    val bytes = toks
      .agg(expr(s"count_min_sketch(tok, ${eps}d, 0.99d, 42)").as("s"))
      .collect()(0).getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    val top = toks.groupBy("tok").count().orderBy(desc("count")).limit(20).collect()
    assert(top.nonEmpty)
    top.foreach { r =>
      val (tok, exact) = (r.getString(0), r.getLong(1))
      val est = cms.estimateCount(tok)
      assert(est >= exact, s"CMS undercounted '$tok': est=$est exact=$exact")
      assert(est <= exact + (eps * n).toLong + 1,
        s"CMS overshot the eps*N bound for '$tok': est=$est exact=$exact n=$n")
    }
    toks.unpersist()
  }
}
