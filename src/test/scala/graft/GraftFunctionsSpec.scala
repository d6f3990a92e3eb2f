package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.{GraftExtensions, GraftFunctions}

/** SQL surface of the engine's Catalyst-native functions: every
  * family registered by GraftFunctions must be callable from plain
  * `spark.sql`, matching the Column-API semantics it wraps. */
class GraftFunctionsSpec extends SparkSpecBase {
  import spark.implicits._

  GraftFunctions.registerAll(spark)

  test("kll sketch family via SQL: exact order statistic below compaction") {
    // Spark's built-in names; the engine registers no kll_* function
    assert(!GraftFunctions.all.exists(_._1.startsWith("kll_")))
    (1 to 100).map(i => ("g", i.toDouble)).toDF("g", "v").createOrReplaceTempView("kv")
    val r = spark.sql(
      """SELECT kll_sketch_get_n_double(sk) AS n, kll_sketch_get_quantile_double(sk, 0.5) AS p50
        |FROM (SELECT kll_sketch_agg_double(v, 200) AS sk FROM kv GROUP BY g)""".stripMargin).head()
    assert(r.getLong(0) == 100L && r.getDouble(1) == 50.0)
    // the merge form cascades: per-group sketches merged == direct
    val m = spark.sql(
      """SELECT kll_sketch_get_quantile_double(kll_merge_agg_double(sk, 200), 0.5) AS p50 FROM (
        |  SELECT v % 7 AS part, kll_sketch_agg_double(v, 200) AS sk FROM kv GROUP BY v % 7)""".stripMargin)
      .head().getDouble(0)
    assert(m == 50.0)
  }

  test("frequent-items family via SQL: exact counts in the no-purge regime") {
    (Seq.fill(30)("hot") ++ (0 until 10).map(i => s"cold$i"))
      .toDF("item").createOrReplaceTempView("fi")
    val est = spark.sql(
      "SELECT freq_estimate(freq_sketch(item, 64), 'hot') FROM fi").head().getLong(0)
    assert(est == 30L)
    val top = spark.sql(
      """SELECT f.item, f.est FROM (SELECT freq_items(freq_sketch(item, 64)) AS arr FROM fi)
        |LATERAL VIEW explode(arr) AS f ORDER BY f.est DESC LIMIT 1""".stripMargin).head()
    assert(top.getString(0) == "hot" && top.getLong(1) == 30L)
    // non-string items are stored under their EXTERNAL string form
    // (cast at registration), so external-form probes match — a DATE
    // would otherwise be sketched as its internal day number
    val d = spark.sql(
      """SELECT freq_estimate(freq_sketch(d), '2024-01-03')
        |FROM (SELECT DATE '2024-01-03' AS d FROM range(7))""".stripMargin)
      .head().getLong(0)
    assert(d == 7L)
  }

  test("vec_dot and codecs via SQL") {
    assert(spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0) == 11.0)
    val arr = spark.sql(
      "SELECT gorilla_decode(gorilla_encode(array(1.5d, 2.25d, 2.25d, -8.0d)))")
    val got = arr.head().getSeq[Double](0)
    assert(got == Seq(1.5, 2.25, 2.25, -8.0))
    val ts = spark.sql(
      "SELECT dod_decode(dod_encode(array(1000L, 1060L, 1120L, 1190L)))")
      .head().getSeq[Long](0)
    assert(ts == Seq(1000L, 1060L, 1120L, 1190L))
  }

  test("fft_coeffs via SQL matches the expression API shape") {
    val n = spark.sql("SELECT size(fft_coeffs(array(1.0d, 0.0d, 0.0d, 0.0d)))")
      .head().getInt(0)
    assert(n == 4)
  }

  test("the spark.sql.extensions entry point injects the same catalog") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; builders shared
    assert(GraftFunctions.all.map(_._1).distinct.size == GraftFunctions.all.size)
  }

  test("deploy path end-to-end: a session BUILT with the extension resolves the functions") {
    import org.apache.spark.sql.SparkSession
    // `spark.sql.extensions` is a STATIC conf, read only when the
    // SparkContext is created — unusable inside a shared-context test
    // JVM. withExtensions drives the SAME SparkSessionExtensions
    // injection at session build (the config path just instantiates
    // the class by name first), so this covers the deploy mechanism
    // end-to-end minus Spark's own class-forName step. getOrCreate
    // only constructs a session when none is active → clear both.
    val prior = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions()(_))
        .getOrCreate()
      assert(s2 ne prior) // genuinely new session → extensions applied
      assert(s2.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
        .head().getDouble(0) == 11.0)
      // aggregate + extractor resolved through the injected catalog,
      // with the registration-time casts active (BIGINT item, INT probe)
      val est = s2.sql(
        "SELECT freq_estimate(freq_sketch(id % 10), 7) FROM range(0, 100)").head().getLong(0)
      assert(est == 10L)
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }
}
