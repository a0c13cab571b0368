package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of whale disposition pin (r19, VERDICT r18 item 7): the r18
  * union-merge rewrite of the as-of triple is O(n) per user — the
  * join+top-1 form it replaced materializes every (purchase × prior
  * click) pair per user and measured DNF (>560 s) at 1 M rows with a
  * 20% whale. The bench evidence lives in SCALE.md; this spec makes
  * the disposition a TEST on a whale fixture shaped like SCALE.md
  * §r18.1's (one user holding 20% of rows) so a future regression
  * (someone re-introducing a pair-materializing form, or a heavier
  * whale shape breaking the carry algebra) trips here instead
  * of surfacing as a bench surprise:
  *  1. value parity: each entry equals its join+top-1 reference on the
  *     whale fixture (SCALE.md §r18.1's bit-identity gate, in-suite);
  *  2. volume bound: the entry's total shuffle WRITE records stay
  *     O(n) — a generous 8·n ceiling, where the whale's pair count
  *     (what the join form would shuffle through its window) is ~100×
  *     that on this fixture.
  */
class AsofWhaleSpec extends SparkSpec {

  /** sf0.001 events replicated 30× (disjoint event_id/user_id ranges
    * per replica), then the §r18.1 whale rule: a deterministic 1/5 of
    * all rows re-keyed to user 1. */
  private lazy val whaleDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("asofwhale").toString
    val base = spark.read.schema(Tables.schemas("events"))
      .parquet(s"$sfDir/events.parquet")
    base.crossJoin(spark.range(0, 30).select(col("id").as("rep")))
      .withColumn("event_id", col("event_id") + col("rep") * 1000000L)
      .withColumn("user_id",
        when(pmod(xxhash64(col("event_id")), lit(5)) === 0, lit(1L))
          .otherwise(col("user_id") + col("rep") * 1000000L))
      .drop("rep")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private val tolUs = 7200000000L

  private def split(d: String): (DataFrame, DataFrame) = {
    val u = Tables.eventsWithNanos(spark, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .filter(col("event_type").isin("click", "purchase"))
    (u.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("c_ts"),
        col("event_id").as("c_id")),
     u.filter(col("event_type") === "purchase")
       .select(col("user_id"), col("ts_us").as("p_ts"),
         col("event_id").as("p_id")))
  }

  /** The quadratic join+top-1 references — the forms the union-merge
    * rewrites are provably equal to (tie orderings per each entry's
    * scaladoc). Kept HERE, at spec scale, where the whale's pair count
    * is millions, not the bench's billions. */
  private def refBackward(d: String): DataFrame = {
    val (clicks, purch) = split(d)
    purch.join(clicks, Seq("user_id"))
      .filter(col("c_ts") <= col("p_ts"))
      .withColumn("rk", row_number().over(Window.partitionBy("p_id")
        .orderBy(desc("c_ts"), desc("c_id"))))
      .filter(col("rk") === 1)
      .select("p_id", "user_id", "p_ts", "c_id", "c_ts")
      .orderBy("p_id")
  }

  private def refForward(d: String): DataFrame = {
    val (clicks, purch) = split(d)
    purch.as("p").join(clicks.as("c"),
        col("p.user_id") === col("c.user_id") &&
          col("c_ts") > col("p_ts") && col("c_ts") <= col("p_ts") + tolUs,
        "left")
      .withColumn("rk", row_number().over(Window.partitionBy("p_id")
        .orderBy(asc("c_ts"), asc("c_id"))))
      .filter(col("rk") === 1)
      .select(col("p_id"), col("p.user_id").as("user_id"), col("p_ts"),
        col("c_id"), col("c_ts"))
      .orderBy("p_id")
  }

  private def refNearest(d: String): DataFrame = {
    val (clicks, purch) = split(d)
    purch.as("p").join(clicks.as("c"),
        col("p.user_id") === col("c.user_id") &&
          abs(col("c_ts") - col("p_ts")) <= tolUs, "left")
      .withColumn("rk", row_number().over(Window.partitionBy("p_id")
        .orderBy(abs(col("c_ts") - col("p_ts")).asc, col("c_ts").asc,
          col("c_id").asc)))
      .filter(col("rk") === 1)
      .select(col("p_id"), col("p.user_id").as("user_id"), col("p_ts"),
        col("c_id"), col("c_ts"))
      .orderBy("p_id")
  }

  test("union-merge as-of triple matches the join+top-1 references on " +
    "the whale fixture") {
    val pairs = Seq(
      "c_join_asof" -> refBackward(whaleDir),
      "c_join_asof_forward" -> refForward(whaleDir),
      "c_join_asof_nearest" -> refNearest(whaleDir))
    for ((entry, ref) <- pairs) {
      val got = SparkEntry.queries(entry)(spark, whaleDir)
        .collect().toSeq
      assert(got.nonEmpty, s"$entry empty on whale fixture")
      assert(got == ref.collect().toSeq,
        s"$entry diverged from its join+top-1 reference on the whale")
    }
  }

  test("as-of shuffle volume stays O(n) on the whale fixture — the " +
    "whale's pair count never crosses an exchange") {
    val n = spark.read.parquet(s"$whaleDir/events.parquet").count()
    // the whale's (clicks × purchases) pair count — what the join
    // form shuffles through its per-purchase window
    val (clicks, purch) = split(whaleDir)
    val whalePairs =
      clicks.filter(col("user_id") === 1).count() *
        purch.filter(col("user_id") === 1).count()
    assert(whalePairs > 8 * n,
      s"fixture too tame to separate O(n) from pairs " +
        s"($whalePairs pairs vs n=$n)")
    val rec = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) rec.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for (entry <- Seq("c_join_asof", "c_join_asof_forward",
        "c_join_asof_nearest")) {
        org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext)
        rec.set(0)
        SparkEntry.queries(entry)(spark, whaleDir).count()
        org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext)
        val written = rec.get()
        assert(written <= 8 * n,
          s"$entry shuffled $written records on n=$n whale fixture " +
            s"(O(n) bound 8n=${8 * n}; the pair count is $whalePairs)")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
