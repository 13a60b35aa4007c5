package graft

/** SQL-surface registration of custom expressions. */
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
}
