package graft

import org.apache.spark.sql.functions._

import graft.mef.{Normalize, Star, Transform}
import graft.operators.SaltedAgg

/** Skew-stress for the warehouse build: one executing-unit key
  * (SEC_EJEC = supplier 1) carries ~50% of all raw rows. Asserts the
  * star build stays CORRECT under the hot key, and A/Bs the grain
  * consolidation plain vs salted (SaltedAgg) — both bit-identical
  * (integral-double measures sum exactly in any order). Timings print
  * for the SCALE.md record; run with SPARK_GRAFT_SKEW_DIR=
  * /root/testdata/sf0.1 for the measured crossover numbers.
  */
class StarSkewSpec extends SparkSuite {

  private val dir = sys.env.getOrElse("SPARK_GRAFT_SKEW_DIR", "/root/testdata/sf0.01")

  /** H1-1997 lineitem with supplier 1 remapped onto ~half of all rows
    * — deterministic (orderkey parity), no RNG.
    */
  private def skewedLi = {
    import graft.functions.TimePred
    Tables.lineitem(spark, dir)
      .filter(TimePred.inYearMonths(col("l_shipdate"), 1997, 1, 6))
      .withColumn("l_suppkey",
        when(pmod(col("l_orderkey"), lit(2)) === 0, lit(1).cast("long"))
          .otherwise(col("l_suppkey")))
  }

  test("grain-shaped agg under the 50% hot key: salted == plain, bit-identical") {
    val base = skewedLi.select(
      col("l_suppkey"), month(col("l_shipdate")).as("mes"),
      col("l_quantity"))
    val hot = base.filter(col("l_suppkey") === 1).count()
    val all = base.count()
    assert(hot * 10 >= all * 4, s"fixture must be skewed: $hot of $all")

    def timed[T](what: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      info(f"$what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val plain = timed("plain groupBy") {
      base.groupBy(col("l_suppkey"), col("mes"))
        .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n"))
        .collect()
    }.map(r => (r.getLong(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val salted = timed("SaltedAgg (salt=16)") {
      SaltedAgg.saltedAgg(base, Seq("l_suppkey", "mes"),
        Seq(SaltedAgg.Sum("l_quantity", "q"), SaltedAgg.Count("n")))
        .collect()
    }.map(r => (r.getLong(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(plain.size == salted.size && plain.nonEmpty)
    // l_quantity is integral-valued: double sums are exact in any
    // order, so the comparison is bit-level
    plain.foreach { case (k, v) => assert(salted(k) == v, s"grain $k") }
  }

  test("Star.build stays correct when one executing unit carries half the fact") {
    val typed = Transform(
      graft.queries.MefStarQueries.syntheticRawFrom(skewedLi, spark, dir))
      .localCheckpoint()
    val st = Star.build(spark, Normalize(typed))

    // total mass is conserved through the hot key (exact: integral doubles)
    val want = skewedLi.agg(sum(col("l_quantity"))).head.getDouble(0)
    val got = st.fact.agg(sum(col("monto_devengado"))).head.getDouble(0)
    assert(got == want, s"fact mass $got != source mass $want")

    // the hot executing unit resolves to ONE dim row and its fact
    // grain stays at (months) cardinality — consolidation held
    val ejDim = st.dims("dim_ejecutora")
    val hotIds = ejDim.filter(col("sec_ejec") === "1").collect()
    assert(hotIds.length == 1, s"hot key must be one dim row: ${hotIds.length}")
    val hotFact = st.fact.join(
      broadcast(ejDim.filter(col("sec_ejec") === "1")
        .select(col("ejecutora_id"))), Seq("ejecutora_id"))
    assert(hotFact.count() <= 6, "hot supplier fact rows exceed month grain")

    // and the hot unit's mass is ~half of everything
    val hotMass = hotFact.agg(sum(col("monto_devengado"))).head.getDouble(0)
    assert(hotMass * 10 >= want * 4, s"hot mass $hotMass of $want")
  }

  test("buildDim's DenseId route assigns id-for-id identical surrogates to the window path") {
    import spark.implicits._
    // a dim that "outgrew its bounded domain": 50k unique keys, incl. a
    // null key (the asc_nulls_first edge both paths must order alike)
    val spec = graft.mef.MefSchema.DimSpec(
      "dim_big", "big_id", Seq("k"), Seq("k", "name"))
    val big = spark.range(50000).select(
      when(col("id") === 0, lit(null).cast("string"))
        .otherwise(format_string("key_%07d", pmod(col("id") * 37, lit(50000))))
        .as("k"),
      concat(lit("n"), pmod(col("id"), lit(7))).as("name"))
    // a first load, and a load onto a dim that already holds 1,234 rows
    for (offset <- Seq(0L, 1234L)) {
      val windowed = Star.buildDim(big, spec, offset = offset) // default: under the row cap
      val routed = Star.buildDim(big, spec, windowMaxRows = 100L, offset = offset) // force DenseId
      assert(routed.schema == windowed.schema, "routed path must keep the int id schema")
      val a = windowed.collect().toSeq.sortBy(_.getInt(0))
      val b = routed.collect().toSeq.sortBy(_.getInt(0))
      assert(a.size == 50000 && a == b, s"DenseId route diverged from the ranking window (offset $offset)")
      assert(a.head.getInt(0) == offset + 1 && a.last.getInt(0) == offset + 50000, s"offset $offset")
    }
    // and the real MEF dims are identical through the forced route too
    val normalized = Normalize(Transform(
      graft.queries.MefStarQueries.syntheticRaw(spark, dir)))
    graft.mef.MefSchema.dims.foreach { d =>
      val w = Star.buildDim(normalized, d).collect().toSeq.sortBy(_.getInt(0))
      val r = Star.buildDim(normalized, d, windowMaxRows = 0L)
        .collect().toSeq.sortBy(_.getInt(0))
      assert(w == r && w.nonEmpty, s"dim ${d.name} diverged through DenseId")
    }
  }

  test("buildDim's dedup equals a reference groupBy(keys).agg(min(struct(attrs)))") {
    import spark.implicits._
    val spec = graft.mef.MefSchema.dims.find(_.name == "dim_clasificador_gasto").get
    val attrs = spec.allCols.filterNot(spec.keys.contains)
    val nul: String = null
    // tipo_transaccion, generica, generica_nombre: a null key; -0.0/0.0
    // and NaN in the double key; two attribute tuples for one key; null
    // attributes next to non-null ones
    val frame = Seq[(java.lang.Double, String, String)](
      (null, "1", "sin tipo"), (null, "1", "otro"),
      (-0.0, "2", "cero negativo"), (0.0, "2", "cero"), (0.0, "2", nul),
      (Double.NaN, "3", "nan b"), (Double.NaN, "3", "nan a"),
      (5.0, "4", "z"), (5.0, "4", "a"), (5.0, "4", "a"),
      (6.0, nul, nul), (6.0, nul, "x"))
      .toDF("tipo_transaccion", "generica", "generica_nombre")
      .select(spec.allCols.map {
        case c @ ("tipo_transaccion" | "generica" | "generica_nombre") => col(c)
        case c if c.endsWith("_nombre") => when(col("generica") === "4", lit(c)).as(c)
        case c => lit("k").as(c)
      }: _*)
    val reference = frame.groupBy(spec.keys.map(col): _*)
      .agg(min(struct(attrs.map(col): _*)).as("_a"))
      .select(spec.keys.map(col) ++ attrs.map(a => col(s"_a.$a").as(a)): _*)
    // String.valueOf keeps -0.0 apart from 0.0 (Row == would not)
    def render(df: org.apache.spark.sql.DataFrame) =
      df.select(spec.allCols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val want = render(reference)
    assert(want.size == 5, s"fixture keys: $want")
    Seq(Star.DimWindowMaxRows, 0L).foreach { bound =>
      val dim = Star.buildDim(frame, spec, windowMaxRows = bound)
      assert(render(dim) == want, s"buildDim (windowMaxRows=$bound) diverged from the reference")
      assert(dim.select(spec.id).as[Int].collect().sorted.toSeq == (1 to 5))
    }
    // and Star.build's probe-free bounded route builds the same dims as buildDim
    val normalized = Normalize(Transform(
      graft.queries.MefStarQueries.syntheticRaw(spark, dir)))
    val st = Star.build(spark, normalized)
    graft.mef.MefSchema.dims.foreach { d =>
      val b = st.dims(d.name).collect().toSeq.sortBy(_.getInt(0))
      val w = Star.buildDim(normalized, d).collect().toSeq.sortBy(_.getInt(0))
      assert(b == w && b.nonEmpty, s"dim ${d.name}: Star.build diverged from buildDim")
    }
  }
}
