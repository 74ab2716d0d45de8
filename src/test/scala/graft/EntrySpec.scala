package graft

import org.scalatest.funsuite.AnyFunSuite

class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs non-empty at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, TestSpark.SfSmall).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("the registry registers the function surface on the session it is given") {
    // a new session has its own function registry, without the graft
    // functions, so only the registry's wrapper can register them here
    val s2 = spark.newSession()
    intercept[org.apache.spark.sql.AnalysisException](
      s2.sql("SELECT st_x(st_point(1.0D, 2.0D))").collect())
    // q73 resolves st_x through expr, q189 its format functions through
    // call_function
    for (n <- Seq("q73_utm_forward", "q189_mif_driver"))
      assert(SparkEntry.queries(n)(s2, TestSpark.SfSmall).count() > 0, n)
    assert(s2.sql("SELECT st_x(st_point(1.0D, 2.0D))").head().getDouble(0) == 1.0)
  }

  test("GraftExtensions installs the function surface via the extensions seam") {
    import org.apache.spark.sql.SparkSession
    val orig = spark // force TestSpark init first
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[4]")
      .withExtensions(new GraftExtensions().apply _)
      .getOrCreate() // new session over the running SparkContext
    try {
      val a = s2.sql(
        "SELECT st_area(st_geomfromwkt('POLYGON((0 0,2 0,2 3,0 3,0 0))')) AS a")
        .collect().head.getDouble(0)
      assert(a == 6.0)
      val c = s2.sql("SELECT cell_zoom(cell_encode(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), 5)) AS z")
        .collect().head.getLong(0)
      assert(c == 5L)
    } finally {
      SparkSession.setDefaultSession(orig); SparkSession.setActiveSession(orig)
    }
  }

  test("Verify output dirs contain ONLY part-*/_SUCCESS (driver pyarrow.dataset fidelity)") {
    // The driver reads each `<name>.parquet` dir with pyarrow.dataset(dir),
    // which ingests every non-hidden member and errors on non-parquet files.
    // CORRECTNESS_r02 lost 61/70 rows to an oracle.sql copy written here —
    // this is the test that would have caught it before shipping.
    val out = java.nio.file.Files.createTempDirectory("graft_verify_fidelity").toFile
    try {
      val subset = SparkEntry.queries.view.filterKeys(
        Set("q01_agg_filter", "q22_dedup_exact")).toMap
      Verify.run(spark, TestSpark.SfSmall, out.getAbsolutePath, subset)
      subset.keys.foreach { name =>
        val d = new java.io.File(out, s"$name.parquet")
        assert(d.isDirectory, s"$name: no output dir")
        val foreign = d.listFiles().map(_.getName).filterNot(m =>
          m.startsWith(".") || m == "_SUCCESS" ||
            (m.startsWith("part-") && m.endsWith(".parquet")))
        assert(foreign.isEmpty, s"$name: foreign files ${foreign.mkString(",")}")
      }
      assert(new java.io.File(out, "oracle_sql.json").isFile)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(out)
    }
  }

  test("oracle coverage: every query has an oracle or is a documented rows-only op") {
    // q19/q24/q25/q45, then q35/q42, graduated to full oracles in round 3;
    // the former WKT-assembly pair (q34/q57) moved to integer vertex-row
    // surfaces with recursive-CTE oracles in round 4 — the set is empty
    // and must stay empty
    val rowsOnly = Set.empty[String]
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(missing.isEmpty, s"queries without oracle: $missing")
    // and the rows-only set must not silently regrow
    assert((rowsOnly -- SparkEntry.queries.keySet).isEmpty)
    assert((SparkEntry.oracleSql.keySet & rowsOnly).isEmpty,
      "rows-only query gained an oracle — remove it from this list")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without query: $orphans")
  }
}
