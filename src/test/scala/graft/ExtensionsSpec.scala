package graft

import graft.sources.JdbcUpsertSink

/** SQL-surface registration of custom expressions + upsert SQL shape. */
class ExtensionsSpec extends SparkSuite {

  test("register alone restores every graft SQL function") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val names = Seq("simhash64", "simhash_text", "ngram_hashes", "winnow_fingerprint",
      "vec_dot", "minhash_sig", "long_array_match_count", "clean_text", "maxsim_score",
      "quantize_vec", "longvec_dist_sq", "html_extract", "url_canon")
    assert(GraftExtensions.functions.map(_._1).toSet == names.toSet)
    val registry = spark.sessionState.functionRegistry
    names.foreach(n => registry.dropFunction(FunctionIdentifier(n)))
    names.foreach(n => assert(!registry.functionExists(FunctionIdentifier(n)), n))
    GraftExtensions.register(spark)
    names.foreach { n =>
      val described = spark.sql(s"DESCRIBE FUNCTION $n").collect().map(_.getString(0))
      assert(described.exists(_.contains(n)), s"$n: ${described.mkString("; ")}")
    }
  }

  test("custom expressions callable from spark.sql") {
    // extensions apply at session build normally; for an existing
    // session, register through the function registry:
    GraftExtensions.register(spark)
    assert(spark.sql(
      "SELECT simhash_text('hello world') AS fp").collect()(0).getLong(0) != 0L)
    assert(spark.sql(
      "SELECT size(ngram_hashes('a b c d', 2)) AS n").collect()(0).getInt(0) == 3)
    assert(spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").collect()(0).getDouble(0) == 11.0)
    assert(spark.sql(
      "SELECT size(winnow_fingerprint('abcdefghijklmnop', 8, 4)) AS n").collect()(0).getInt(0) > 0)
    assert(spark.sql(
      "SELECT simhash64(array('a','b')) AS fp").collect()(0).getLong(0) != 0L)
    // maxsim of [1.0, 0.0] vs itself with slices=2: the 1-element
    // sub-vectors are [1] and [0], so max(1,0) + max(0,0) = 1.0
    assert(spark.sql(
      "SELECT maxsim_score(array(1.0D, 0.0D), array(1.0D, 0.0D), 2) AS s")
      .collect()(0).getDouble(0) == 1.0)
    assert(spark.sql(
      "SELECT quantize_vec(array(1.5D, -0.25D), 4) AS q").collect()(0)
      .getSeq[Long](0) == Seq(6L, -1L))
    assert(spark.sql(
      "SELECT longvec_dist_sq(array(3L, 1L), array(1L, 4L)) AS d")
      .collect()(0).getLong(0) == 13L)
    assert(spark.sql(
      "SELECT html_extract('<p>hi &amp; bye</p><script>x</script>') AS t")
      .collect()(0).getString(0) == "hi & bye")
    assert(spark.sql(
      "SELECT url_canon('HTTP://A.COM:80/x?b=2&utm_s=1&a=1#f') AS u")
      .collect()(0).getString(0) == "http://a.com/x?a=1&b=2")
  }

  test("upsert statement: reference ON CONFLICT DO NOTHING shape") {
    val sql = JdbcUpsertSink.upsertStatement(
      "mef.fact_gasto_mensual",
      Seq("tiempo_id", "ejecutora_id", "monto_devengado"),
      Seq("tiempo_id", "ejecutora_id"))
    assert(sql ==
      "INSERT INTO mef.fact_gasto_mensual (tiempo_id, ejecutora_id, monto_devengado) " +
        "VALUES (?, ?, ?) ON CONFLICT (tiempo_id, ejecutora_id) DO NOTHING")
    assert(!JdbcUpsertSink.upsertStatement("t", Seq("a"), Nil).contains("CONFLICT"))
  }

  test("S4/S5 smoke: JDBC write + read round-trip through embedded Derby") {
    import java.sql.DriverManager
    import org.apache.spark.sql.functions._
    import graft.sources.JdbcDim

    // In-memory Derby in THIS JVM (local mode shares it with executor
    // threads) — a real DB the read path can execute against, with no
    // server and no files. derby.system.home keeps derby.log out of
    // the repo root.
    System.setProperty("derby.system.home", "/tmp/derby-home")
    val url = "jdbc:derby:memory:graftsmoke;create=true"
    val ddl = DriverManager.getConnection(url)
    ddl.createStatement().execute(
      "CREATE TABLE dim_region (r_regionkey INT PRIMARY KEY, r_name VARCHAR(64))")
    ddl.close()

    // S5 write path: the sink's real foreachPartition/batch/commit
    // mechanics (conflictKeys empty — the ON CONFLICT clause itself is
    // Postgres dialect; its DO NOTHING semantics are oracle-tested
    // engine-natively via Star.append).
    val region = Tables.region(spark, "/root/testdata/sf0.001")
      .select(col("r_regionkey").cast("int").as("r_regionkey"), col("r_name"))
    JdbcUpsertSink.write(
      region, JdbcUpsertSink.UpsertConfig(url, "dim_region", Nil, batchSize = 2))

    // S4 read path: spark.read.jdbc back into a DataFrame, then use it
    // the way Star uses dims — broadcast into an FK join.
    val dim = JdbcDim.read(spark, url, "dim_region")
    assert(dim.count() == region.count())
    assert(
      dim.orderBy("r_regionkey").collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
        region.orderBy("r_regionkey").collect().map(r => (r.getInt(0), r.getString(1))).toSeq)
    val joined = Tables.nation(spark, "/root/testdata/sf0.001")
      .join(broadcast(dim), col("n_regionkey") === col("r_regionkey"))
    assert(joined.count() == 25)

    // Partitioned read: 3 range-bounded queries, same rows.
    val part = JdbcDim.readPartitioned(
      spark, url, "dim_region", "r_regionkey",
      lowerBound = 0L, upperBound = 5L, numPartitions = 3)
    assert(part.rdd.getNumPartitions == 3)
    assert(part.count() == region.count())
  }
}
