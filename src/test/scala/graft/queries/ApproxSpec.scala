package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.Tables

/** Bounds for the approximate aggregates (SURVEY.md §2b rows 26–27),
  * which are deliberately omitted from the DuckDB oracle set: HLL++ and
  * quantile-sketch results must land within ±5% of the exact answers on
  * sf0.01 (cited from Relational.scala's agg_approx_* entries).
  */
class ApproxSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("approx_count_distinct within 5% of exact per returnflag") {
    val li = Tables.load(spark, dir, "lineitem")
    val approx = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e <= 0.05,
        s"flag $k: approx $a vs exact $e drifts > 5%")
    }
  }

  test("merged HLL sketches track the single-pass sketch and exact count") {
    val li = Tables.load(spark, dir, "lineitem")
    // the union of per-group sketches and one sketch over the whole
    // column may use different estimator paths (DataSketches union
    // gadget), so they need not be bit-equal — but both must land
    // within 5% of exact and within 2% of each other
    val merged = li.groupBy(col("l_returnflag"))
      .agg(expr("hll_sketch_agg(l_partkey)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .collect().head.getLong(0)
    val single = li
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(l_partkey))").as("est"))
      .collect().head.getLong(0)
    val exact = li.select(countDistinct(col("l_partkey"))).collect().head.getLong(0)
    assert(math.abs(merged - single).toDouble / exact <= 0.02,
      s"merged $merged vs single-pass $single diverge > 2%")
    assert(math.abs(merged - exact).toDouble / exact <= 0.05,
      s"merged estimate $merged vs exact $exact drifts > 5%")
    assert(math.abs(single - exact).toDouble / exact <= 0.05,
      s"single-pass estimate $single vs exact $exact drifts > 5%")
  }

  test("percentile_approx within 5% of exact median per returnflag") {
    val li = Tables.load(spark, dir, "lineitem")
    val approx = li.groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("a"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5)").as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e) / e <= 0.05,
        s"flag $k: approx p50 $a vs exact $e drifts > 5%")
    }
  }

  test("merged KLL sketches land within rank-error bounds of the exact median") {
    val li = Tables.load(spark, dir, "lineitem")
    // per-group sketches → union → quantile (the agg_kll_mergeable path)
    val merged = li.groupBy(col("l_returnflag"))
      .agg(kll_sketch_agg_double(col("l_extendedprice"), 200).as("sk"))
      .agg(kll_sketch_get_quantile_double(kll_merge_agg_double(col("sk"), 200), lit(0.5)).as("q"))
      .collect().head.getDouble(0)
    // KLL guarantees RANK error (~1.65% at k=200, ~2.2% merged): the
    // estimate's true rank must be within eps of 0.5 — assert via the
    // exact CDF, not the value axis
    val total = li.count().toDouble
    val below = li.filter(col("l_extendedprice") <= merged).count().toDouble
    val rank = below / total
    assert(math.abs(rank - 0.5) <= 0.03,
      s"KLL p50 estimate $merged sits at true rank $rank — outside bounds")
  }

  test("KLL sketch column round-trips through parquet and still merges") {
    val li = Tables.load(spark, dir, "lineitem")
    val tmp = java.nio.file.Files.createTempDirectory("graft-kll").toFile
    tmp.deleteOnExit()
    val path = s"${tmp.getAbsolutePath}/sketches"
    // store per-group sketches (the build-once artifact)...
    li.groupBy(col("l_returnflag"))
      .agg(kll_sketch_agg_double(col("l_extendedprice"), 200).as("sk"))
      .write.mode("overwrite").parquet(path)
    // ...and answer a quantile later purely from the stored sketches
    val q = spark.read.parquet(path)
      .agg(kll_sketch_get_quantile_double(kll_merge_agg_double(col("sk"), 200), lit(0.9)).as("q"))
      .collect().head.getDouble(0)
    val total = li.count().toDouble
    val rank = li.filter(col("l_extendedprice") <= q).count().toDouble / total
    assert(math.abs(rank - 0.9) <= 0.03,
      s"stored-sketch p90 $q sits at true rank $rank — outside bounds")
  }

  test("theta intersection estimate tracks the exact overlap (and is run-to-run stable)") {
    val li = Tables.load(spark, dir, "lineitem")
    def runOnce(): (Long, Long, Long) = {
      val sk = li.filter(col("l_returnflag").isin("A", "R"))
        .groupBy(col("l_returnflag"))
        .agg(theta_sketch_agg(col("l_partkey")).as("sk"))
      val r = sk.agg(
        first(when(col("l_returnflag") === "A", col("sk")), ignoreNulls = true).as("a"),
        first(when(col("l_returnflag") === "R", col("sk")), ignoreNulls = true).as("r"))
        .select(theta_sketch_estimate(col("a")),
          theta_sketch_estimate(col("r")),
          theta_sketch_estimate(theta_intersection(col("a"), col("r"))))
        .collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (estA, estR, estBoth) = runOnce()
    assert(runOnce() === ((estA, estR, estBoth)), "theta estimates not deterministic")
    val a = li.filter(col("l_returnflag") === "A").select("l_partkey").distinct()
    val r = li.filter(col("l_returnflag") === "R").select("l_partkey").distinct()
    val exactA = a.count(); val exactR = r.count()
    val exactBoth = a.intersect(r).count()
    assert(math.abs(estA - exactA).toDouble / exactA <= 0.05, s"A: $estA vs $exactA")
    assert(math.abs(estR - exactR).toDouble / exactR <= 0.05, s"R: $estR vs $exactR")
    assert(math.abs(estBoth - exactBoth).toDouble / exactBoth <= 0.05,
      s"A∩R: $estBoth vs $exactBoth")
  }

  test("approx_top_k counts are exact below the eviction floor (agg_topk_sketch's guarantee)") {
    val ev = Tables.load(spark, dir, "events")
    val sketched = ev.agg(expr("approx_top_k(event_type, 3, 64)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("item"), col("e.count").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc).limit(3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketched === exact)
  }
}
