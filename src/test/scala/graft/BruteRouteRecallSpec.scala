package graft

import graft.operators.BruteGuard

/** Routed-mode recall floor (r18, VERDICT r17 item 5): the
  * `spark.graft.brute.route=true` escape substitutes the sub-quadratic
  * sibling for a guarded O(n²) baseline with a DISCLOSED recall
  * caveat; this spec pins the measured behavior on the unit fixture so
  * the caveat stays a number, not a vibe. Measured at scale
  * (SCALE.md §r18.4): top-10 overlap 10/10 on every
  * shape (sf0.1 / sf1 clique / sf1z zipf); pair recall 0.95–0.975,
  * precision 1.0 (the sibling verifies exact cosines on candidates, so
  * it can only miss, never invent).
  */
class BruteRouteRecallSpec extends SparkSpec {

  private def run(name: String, exact: Boolean): Set[(Long, Long)] = {
    if (exact) {
      spark.conf.set(BruteGuard.MaxRowsKey, "1000000000000")
      spark.conf.unset(BruteGuard.RouteKey)
    } else {
      spark.conf.set(BruteGuard.MaxRowsKey, "0")
      spark.conf.set(BruteGuard.RouteKey, "true")
    }
    try SparkEntry.queries(name)(spark, sfDir)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    finally {
      spark.conf.unset(BruteGuard.MaxRowsKey)
      spark.conf.unset(BruteGuard.RouteKey)
      Caches.release(spark)
    }
  }

  test("routed top-10 matches the exact top-10 on the unit fixture " +
    "(the measured 10/10 overlap floor)") {
    val exact = run("j_sim_cosine_topk", exact = true)
    val routed = run("j_sim_cosine_topk", exact = false)
    assert(exact.size == 10 && routed.size == 10)
    assert((exact intersect routed).size == 10,
      s"routed top-10 diverged: exact=$exact routed=$routed")
  }

  test("routed pair set is sound (precision 1.0) and above the " +
    "measured recall floor on the unit fixture") {
    val exact = run("j_dedup_embed_cosine", exact = true)
    val routed = run("j_dedup_embed_cosine", exact = false)
    assert(exact.nonEmpty)
    // soundness: every routed pair is a true >=tau pair
    assert((routed diff exact).isEmpty,
      s"routed invented pairs: ${(routed diff exact).take(5)}")
    // recall floor: measured 0.95-0.975 across the scale shapes; pin
    // conservatively below the worst measured value
    val recall = (exact intersect routed).size.toDouble / exact.size
    assert(recall >= 0.90, f"routed recall $recall%.4f under the floor")
  }

  // r19 (VERDICT r18 item 1): the two remaining refusal-only baselines
  // gain the same routed mode — pin their floors on the unit fixture.

  test("routed native-Expression top-10 matches the exact top-10 on " +
    "the unit fixture (same pair set as the j_sim_cosine_topk route)") {
    val exact = run("l_expr_native_cosine", exact = true)
    val routed = run("l_expr_native_cosine", exact = false)
    assert(exact.size == 10 && routed.size == 10)
    assert((exact intersect routed).size == 10,
      s"routed top-10 diverged: exact=$exact routed=$routed")
  }

  private def knnLabels(dir: String, exact: Boolean): Map[Long, Int] = {
    if (exact) {
      spark.conf.set(BruteGuard.MaxRowsKey, "1000000000000")
      spark.conf.unset(BruteGuard.RouteKey)
    } else {
      spark.conf.set(BruteGuard.MaxRowsKey, "0")
      spark.conf.set(BruteGuard.RouteKey, "true")
    }
    try SparkEntry.queries("j_knn_per_vector")(spark, dir)
      .select("vec_id", "maj_label").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    finally {
      spark.conf.unset(BruteGuard.MaxRowsKey)
      spark.conf.unset(BruteGuard.RouteKey)
      Caches.release(spark)
    }
  }

  test("routed kNN covers every probe and agrees above chance on the " +
    "label-noise unit fixture") {
    // the fixture's labels are ~uniform over 10 classes with no
    // geometric structure (most exact majorities win with 2/5 votes),
    // so majority-label agreement is bounded by label noise, not
    // neighbor quality: chance is 0.10, measured 0.234. The pin here
    // is coverage + above-chance; the semantic floor lives in the
    // planted-cluster test below, where labels DO follow geometry.
    val el = knnLabels(sfDir, exact = true)
    val rl = knnLabels(sfDir, exact = false)
    assert(el.nonEmpty)
    val coverage = rl.size.toDouble / el.size
    assert(coverage >= 0.99, f"routed id coverage $coverage%.4f under floor")
    val common = el.keySet intersect rl.keySet
    val agree = common.count(id => el(id) == rl(id)).toDouble / common.size
    assert(agree >= 0.15, f"routed label agreement $agree%.4f not above chance")
  }

  test("routed kNN majority labels match the exact kNN on a planted " +
    "clustered fixture (labels follow geometry)") {
    import spark.implicits._
    // 10 well-separated clusters of 50 on distinct axes, small
    // deterministic jitter: exact 5-NN and cell-local 5-NN are both
    // same-cluster, so the majority label IS the cluster label on
    // either path — any routed divergence here is an operator bug,
    // not fixture noise.
    val rnd = new scala.util.Random(421931)
    val rows = for (k <- 0 until 10; i <- 0 until 50) yield {
      val v = Array.tabulate(64)(j =>
        (if (j == k) 10f else 0f) + rnd.nextFloat() * 0.1f)
      (k * 50L + i, v, k)
    }
    val dir = java.nio.file.Files.createTempDirectory("knnroute").toString
    rows.toDF("vec_id", "embedding", "label")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val el = knnLabels(dir, exact = true)
    val rl = knnLabels(dir, exact = false)
    assert(el.size == 500)
    val coverage = rl.size.toDouble / el.size
    assert(coverage >= 0.99, f"routed id coverage $coverage%.4f under floor")
    val common = el.keySet intersect rl.keySet
    val agree = common.count(id => el(id) == rl(id)).toDouble / common.size
    assert(agree >= 0.95, f"routed label agreement $agree%.4f under floor")
  }
}
