package graft.enrich

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => PropTest}

import graft.GraftSpecBase
import graft.operators.Dedup

class EnrichmentSpec extends GraftSpecBase {
  import spark.implicits._

  test("enrich marks misses, branch splits, rekey builds the key struct") {
    val recs = Seq((1L, "a"), (2L, "b"), (9L, "miss")).toDF("ref_id", "payload")
    val dim  = Seq((1L, "x"), (2L, "y")).toDF("dim_id", "attr")
    val enriched      = Enrichment.enrich(recs, dim, "ref_id", "dim_id")
    val (ok, failed)  = Enrichment.branch(enriched)
    assert(ok.select("ref_id").as[Long].collect().sorted === Array(1L, 2L))
    assert(failed.select("ref_id").as[Long].collect() === Array(9L))
    val rekeyed = Enrichment.rekey(ok, "ref_id")
    assert(rekeyed.select("key.id").as[Long].collect().sorted === Array(1L, 2L))
    // the key is prepended, the other columns keep their order
    assert(rekeyed.columns.toSeq === "key" +: ok.columns.toSeq)
  }

  test("enrich reads the dimension via spark.read.jdbc (embedded Derby)") {
    // the reference's dimension is a Postgres table behind JPA
    // (AnimalController.java:33-37); Derby-in-memory is the in-process
    // stand-in exercising the identical spark.read.jdbc path
    val url = "jdbc:derby:memory:graftdim;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        st.executeUpdate("CREATE TABLE animals (dim_id BIGINT PRIMARY KEY, attr VARCHAR(32))")
        st.executeUpdate("INSERT INTO animals VALUES (1, 'x'), (2, 'y')")
      } finally st.close()

      val provider = graft.sources.JdbcDimension.provider(
        spark, url, "animals",
        Map("driver" -> "org.apache.derby.iapi.jdbc.AutoloadedDriver")
      )
      val recs = Seq((1L, "a"), (2L, "b"), (9L, "miss")).toDF("ref_id", "payload")
      val enriched = Enrichment.enrich(
        recs, provider().withColumnRenamed("DIM_ID", "dim_id").withColumnRenamed("ATTR", "attr"),
        "ref_id", "dim_id"
      )
      val (ok, failed) = Enrichment.branch(enriched)
      assert(ok.select("ref_id", "attr").as[(Long, String)].collect().toSet === Set((1L, "x"), (2L, "y")))
      assert(failed.select("ref_id").as[Long].collect() === Array(9L))

      // provider freshness: a dimension update is visible on the next call
      val st2 = conn.createStatement()
      try st2.executeUpdate("INSERT INTO animals VALUES (9, 'z')") finally st2.close()
      assert(provider().count() === 3L)
    } finally conn.close()
  }

  test("JDBC dimension maps NUMERIC/TIMESTAMP/DATE/CHAR columns faithfully") {
    // the reference dimension is Postgres-typed (numeric, timestamptz);
    // no Postgres server exists in this sandbox, but the JDBC type-mapping
    // path (java.sql.Types → Catalyst) is the same code for Derby's
    // NUMERIC/TIMESTAMP/DATE — this pins the decimal precision/scale and
    // temporal round-trips a Postgres dimension would rely on
    val url  = "jdbc:derby:memory:grafttyped;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        st.executeUpdate(
          """CREATE TABLE dim_typed (
            |  id BIGINT PRIMARY KEY,
            |  balance NUMERIC(12,2),
            |  updated_at TIMESTAMP,
            |  valid_from DATE,
            |  code CHAR(3),
            |  note VARCHAR(64)
            |)""".stripMargin)
        st.executeUpdate(
          "INSERT INTO dim_typed VALUES " +
            "(1, 12345.67, TIMESTAMP('2026-01-15 10:30:00'), DATE('2026-01-01'), 'abc', 'hello')," +
            "(2, -0.05, TIMESTAMP('2026-02-01 00:00:00'), DATE('2026-02-01'), 'xy ', NULL)")
      } finally st.close()

      val df = graft.sources.JdbcDimension.read(
        spark, url, "dim_typed",
        Map("driver" -> "org.apache.derby.iapi.jdbc.AutoloadedDriver"))

      val fields = df.schema.fields.map(f => f.name.toLowerCase -> f.dataType.simpleString).toMap
      assert(fields("balance") === "decimal(12,2)")
      assert(fields("updated_at") === "timestamp")
      assert(fields("valid_from") === "date")
      assert(fields("code") === "string")

      val rows = df.orderBy("ID").collect()
      assert(rows(0).getDecimal(1) === new java.math.BigDecimal("12345.67"))
      assert(rows(1).getDecimal(1) === new java.math.BigDecimal("-0.05"))
      assert(rows(0).getTimestamp(2).toString === "2026-01-15 10:30:00.0")
      assert(rows(0).getDate(3).toString === "2026-01-01")
      assert(rows(1).getString(4) === "xy ") // CHAR(3) keeps its pad
      assert(rows(1).isNullAt(5))
    } finally conn.close()
  }

  test("property: latest-wins compaction is idempotent and keeps max version per key") {
    val genRows = Gen.listOfN(
      40,
      for {
        id  <- Gen.choose(1L, 6L)
        ver <- Gen.choose(0L, 20L)
      } yield (id, ver)
    )
    val prop = Prop.forAll(genRows) { rows =>
      // unique tie-break via index so max_by is well-defined
      val df = rows.zipWithIndex
        .map { case ((id, v), i) => (id, v, i.toLong) }
        .toDF("id", "version", "off")
      val once  = Dedup.latestWins(df, Seq("id"), Seq(col("version"), col("off")))
      val twice = Dedup.latestWins(once, Seq("id"), Seq(col("version"), col("off")))
      val got   = once.select("id", "version").as[(Long, Long)].collect().toMap
      val expected = rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      got == expected &&
      twice.collect().toSet == once.collect().toSet &&
      once.count() == rows.map(_._1).distinct.size
    }
    val res = PropTest.check(PropTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: exact dedup is idempotent") {
    val genRows = Gen.listOfN(
      30,
      for { k <- Gen.choose(1L, 5L); tie <- Gen.choose(1L, 100L) } yield (k, tie)
    )
    val prop = Prop.forAll(genRows) { rows =>
      val df    = rows.toDF("k", "tie").withColumn("tie", monotonically_increasing_id())
      val once  = Dedup.exact(df, Seq("k"), "tie")
      val twice = Dedup.exact(once, Seq("k"), "tie")
      once.count() == rows.map(_._1).distinct.size &&
      twice.collect().toSet == once.collect().toSet
    }
    val res = PropTest.check(PropTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }
}
