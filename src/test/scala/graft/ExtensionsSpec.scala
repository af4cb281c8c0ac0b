package graft

import org.apache.spark.sql.SparkSession

/** The `spark.sql.extensions=graft.functions.GraftExtensions` deployment
  * path: a session built with the extensions must expose the custom
  * expressions to PURE SQL — the route a thriftserver/notebook user
  * takes, and the one every engine session takes through
  * `Sessions.builder`.
  */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions injects the function family at session build") {
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions: the in-process route through the same injector.
      // (The `spark.sql.extensions` CONFIG string only applies on a fresh
      // JVM — getOrCreate reads it from the SparkContext's conf, which is
      // already fixed here; spark-submit users set the config, embedded
      // users call withExtensions.)
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions()(_))
        .getOrCreate()
      assert(s2 ne old, "expected a NEW session (extensions apply at build)")
      // md5_base60('x') = int64 of the first 15 hex chars of md5("x")
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest("x".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      val want = java.lang.Long.parseLong(hex, 16)
      val got = s2.sql("SELECT md5_base60('x') AS h").collect()(0).getLong(0)
      assert(got == want)
      // the decimal_dot expression rides in through the same injection
      val dot = s2.sql(
        "SELECT decimal_dot(array(1.5d, 2.0d), array(2.0d, 3.0d)) AS d")
        .collect()(0).getDouble(0)
      assert(dot == 9.0)
      // the optimizer rule rides the SAME injection route
      // (injectOptimizerRule, the only one that installs it)
      val q = s2.range(10).selectExpr("cast(id as string) AS a",
        "cast(id + 1 as string) AS b").filter("levenshtein(a, b) <= 1")
      val fired = q.queryExecution.optimizedPlan.collect { case n =>
        n.expressions.map(_.collect {
          case l: org.apache.spark.sql.catalyst.expressions.Levenshtein
            if l.threshold.isDefined => 1
        }.size).sum }.sum
      assert(fired == 1, "injectOptimizerRule must band the predicate")
    } finally {
      SparkSession.setActiveSession(old)
      SparkSession.setDefaultSession(old)
    }
  }

  test("BandedLevenshteinRule rewrites thresholded edit distance to the " +
    "banded early-exit form with identical results") {
    import org.apache.spark.sql.catalyst.expressions.Levenshtein
    import org.apache.spark.sql.functions.expr
    // parquet-backed input: a LocalRelation would be constant-folded away
    // at optimization time, hiding the rewrite from the plan assert
    val df = Tables.table(spark, "/root/testdata/sf0.001", "part")
      .selectExpr("p_name AS a", "p_type AS b")
    def bandedCount(plan: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan): Int =
      plan.collect { case n => n.expressions.map(e => e.collect {
        case l: Levenshtein if l.threshold.isDefined => 1
      }.size).sum }.sum
    val reference = df.filter(
      expr("levenshtein(a, b, 1000000) <= 12")).collect().length
    assert(reference > 0, "need a non-empty within-threshold set")
    for (pred <- Seq("levenshtein(a, b) <= 12", "levenshtein(a, b) < 13",
        "12 >= levenshtein(a, b)", "levenshtein(a, b) <= 12L")) {
      val q = df.filter(expr(pred))
      assert(bandedCount(q.queryExecution.optimizedPlan) == 1,
        s"'$pred' must optimize to ONE banded levenshtein:\n" +
          q.queryExecution.optimizedPlan)
      assert(q.collect().length == reference,
        s"'$pred' must keep exactly the within-threshold rows")
    }
    // out-of-scope shapes must NOT be rewritten: a bare projection
    val eq = df.select(expr("levenshtein(a, b)").as("d"))
    assert(bandedCount(eq.queryExecution.optimizedPlan) == 0,
      "a bare distance projection keeps the exact unbanded form")
  }

  test("banded rewrite parity on exhaustive short unicode strings " +
    "(incl. surrogate pairs) against Spark's own unbanded distance") {
    import org.apache.spark.sql.catalyst.expressions.Levenshtein
    import org.apache.spark.sql.functions.{col, expr}
    // all strings of length 0..2 over {latin, greek, cyrillic, emoji}
    // (the emoji is a surrogate PAIR — the unit-counting edge case)
    val chars = Seq("a", "χ", "д", "🙂")
    val strs = Seq("") ++ chars ++
      (for (x <- chars; y <- chars) yield x + y)
    val pairs = for (x <- strs; y <- strs) yield (x, y)
    // RDD-backed input: a LocalRelation would constant-fold the filter
    // BEFORE the operator-optimization batch runs, bypassing the rule
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(pairs, 4)).toDF("a", "b")
    // ground truth from Spark's own exact unbanded expression (a bare
    // projection is out of the rule's scope — asserted above)
    val exact = df.select(col("a"), col("b"),
        expr("levenshtein(a, b)").as("d")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    for (k <- 0 to 3) {
      val q = df.filter(expr(s"levenshtein(a, b) <= $k"))
      val fired = q.queryExecution.optimizedPlan.collect { case n =>
        n.expressions.map(_.collect {
          case l: Levenshtein if l.threshold.isDefined => 1
        }.size).sum }.sum
      assert(fired == 1, s"rule must fire for k=$k")
      val got = q.collect().map(r => (r.getString(0), r.getString(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
      val want = exact.filter(_._3 <= k).map(t => (t._1, t._2))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(got == want, s"banded ≠ unbanded at k=$k")
    }
  }

  test("newSession() of an engine session carries the functions and " +
    "the banded-levenshtein rule") {
    import org.apache.spark.sql.catalyst.expressions.Levenshtein
    val fresh = spark.newSession()
    assert(fresh ne spark)
    def one(s: SparkSession, sql: String): Any = s.sql(sql).collect()(0).get(0)
    for (sql <- Seq("SELECT md5_base60('x')",
        "SELECT decimal_dot(array(1.5d, 2.0d), array(2.0d, 3.0d))"))
      assert(one(fresh, sql) == one(spark, sql), sql)
    // RDD-backed, so the filter reaches the operator-optimization batch
    val df = fresh.createDataFrame(fresh.sparkContext.parallelize(
      Seq(("ab", "abc"), ("ab", "xyz"), ("ab", "ab")), 2)).toDF("a", "b")
    val q = df.filter("levenshtein(a, b) <= 1")
    val banded = q.queryExecution.optimizedPlan.collect { case n =>
      n.expressions.map(_.collect {
        case l: Levenshtein if l.threshold.isDefined => 1
      }.size).sum }.sum
    assert(banded == 1, "the new session must band the predicate:\n" +
      q.queryExecution.optimizedPlan)
    assert(q.collect().map(_.getString(1)).sorted.toSeq == Seq("ab", "abc"))
  }

  test("Sessions.get fails fast on a running session that lacks the " +
    "engine's extensions") {
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a plain builder on the running context: no GraftExtensions
      val plain = SparkSession.builder().getOrCreate()
      assert(plain ne old)
      val err = intercept[IllegalArgumentException](
        Sessions.get("graft-foreign-session"))
      assert(err.getMessage.contains(
        "spark.sql.extensions=graft.functions.GraftExtensions"),
        err.getMessage)
    } finally {
      SparkSession.setActiveSession(old)
      SparkSession.setDefaultSession(old)
    }
  }
}
