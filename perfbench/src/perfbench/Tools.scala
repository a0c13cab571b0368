package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{Caches, SparkEntry}

/** The benchmark's own checks, run by `run.py --selftest`:
  *  - fail loudly: an injected throwing op, a corrupted golden and a
  *    sync round with a change kept out of the source each raise
  *    `failed` and make the run return nonzero;
  *  - materialization: the timed noop write keeps an ORDER BY entry's
  *    final Sort and every output column;
  *  - seeded generators: same seed → same query order and change log,
  *    another seed differs, and the sync model's latest-wins state
  *    equals a brute-force replay. */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val Array(fixture, golden, work) = argv
    val spark = Main.session(2)
    val results = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    def check(name: String)(body: => (Boolean, String)): Unit = {
      val (ok, detail) = try body catch { case e: Throwable => (false, e.toString) }
      println(s"${if (ok) "PASS" else "FAIL"}  $name  $detail")
      results += ((name, ok, detail))
    }
    try {
      def runWith(inject: Set[String], n: Int, workload: String = "llm_corpus"): (Int, String) = {
        val out = s"$work/selftest-$n.json"
        val a = Main.Args(workload, 7, 0.5, trace = false, fixture, golden, out, s"$work/spans-$n.jsonl",
          System.currentTimeMillis(), 2, Set("a_scan_prune_pushdown", "b_filter_compound"), inject)
        val code = Main.run(spark, a)
        (code, new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)), "UTF-8"))
      }
      def failedOf(rec: String): Long = """"failed": (\d+)""".r.findFirstMatchIn(rec).get.group(1).toLong
      check("clean run passes") {
        val (code, rec) = runWith(Set.empty, 0)
        (code == 0 && failedOf(rec) == 0, s"exit=$code failed=${failedOf(rec)}")
      }
      check("throwing op fails the run") {
        val (code, rec) = runWith(Set("throw"), 1)
        // warm-up plus every timed pass count the injected op as failed
        (code == 1 && failedOf(rec) >= 2, s"exit=$code failed=${failedOf(rec)}")
      }
      check("corrupted golden fails the run") {
        val (code, rec) = runWith(Set("corrupt"), 2)
        (code == 1 && failedOf(rec) == 2, s"exit=$code failed=${failedOf(rec)}")
      }
      check("sync change kept out of the source fails the run") {
        val (code, rec) = runWith(Set("lose"), 3, "sync_incremental")
        (code == 1 && failedOf(rec) >= 1, s"exit=$code failed=${failedOf(rec)}")
      }
      check("noop write keeps the final Sort and every column (d_agg_groupby_q1)") {
        val df = SparkEntry.queries("d_agg_groupby_q1")(spark, fixture)
        val noop = finalPlan(spark)(df.write.format("noop").mode("overwrite").save())
        Caches.release(spark)
        val df2 = SparkEntry.queries("d_agg_groupby_q1")(spark, fixture)
        val counted = finalPlan(spark)(df2.count())
        Caches.release(spark)
        val sorts = nodes(noop).count(_.nodeName == "Sort")
        val width = nodes(noop).find(_.nodeName != "OverwriteByExpression").map(_.output.length)
        (sorts >= 1 && width.contains(df.columns.length),
          s"noop: ${sorts} Sort, ${width.getOrElse(0)}/${df.columns.length} columns; " +
            s"count(): ${nodes(counted).count(_.nodeName == "Sort")} Sort")
      }
      check("query order: same seed same order, other seed differs") {
        val names = SparkEntry.queries.keys.toSeq.sorted
        val a = Queries.order(names, 11, 0)
        (a == Queries.order(names, 11, 0) && a != Queries.order(names, 12, 0) &&
          a.sorted == names, s"${names.length} entries")
      }
      val base = SyncModel.base(spark, fixture).map { case (o, rows) => o -> rows.take(300) }
      def log(seed: Long): Seq[Map[String, Seq[Seq[Any]]]] = {
        val m = new SyncModel(base, seed)
        (1 to 5).map(_ => m.round(100))
      }
      check("change log: same seed same log, other seed differs") {
        (log(3) == log(3) && log(3) != log(4), "5 rounds x 100 changes")
      }
      check("sync model equals brute-force replay") {
        val m = new SyncModel(base, 5)
        (1 to 20).foreach(_ => m.round(200))
        val ok = SyncModel.Objects.forall(o => m.expected(o) == m.replay(o))
        (ok, SyncModel.Objects.map(o => s"$o ${m.expected(o).size} live").mkString(", "))
      }
    } finally spark.stop()
    val failed = results.count(!_._2)
    println(s"selftest: ${results.length - failed} passed, $failed failed")
    System.exit(if (failed == 0) 0 else 1)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** The executed plan of the one action `f` runs. */
  def finalPlan(spark: SparkSession)(f: => Any): SparkPlan = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      override def onSuccess(n: String, qe: QueryExecution, d: Long): Unit = seen.add(qe)
      override def onFailure(n: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { f; org.apache.spark.sql.perfbench.Bridge.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    seen.take().executedPlan
  }
}

/** Spark's own fingerprint of every registry entry on the fixture, and
  * the oracle SQL, for record_golden.py. Entries without an oracle are
  * run a second time, in reverse order, so only repeatable results
  * become golden. */
object DumpResults {
  def main(argv: Array[String]): Unit = {
    val Array(fixture, out) = argv
    val spark = Main.session(4)
    val q = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    def print(name: String): Either[String, Canon.Print] =
      try {
        val df = q(name)(spark, fixture)
        Right(Canon.of(df.schema, df.collect().iterator))
      } catch { case e: Throwable => Left(e.toString) } finally Caches.release(spark)
    val names = q.keys.toSeq.sorted
    val first = names.map(n => n -> print(n)).toMap
    val again = names.filterNot(oracle.contains).reverse.map(n => n -> print(n)).toMap
    def pj(p: Either[String, Canon.Print]): Any = p match {
      case Right(c) => Map("rows" -> c.rows, "md5" -> c.md5)
      case Left(e) => Map("error" -> e)
    }
    val json = Json.obj(Seq(
      "oracle" -> oracle.toSeq,
      "spark" -> names.map(n => n -> pj(first(n))),
      "spark_again" -> again.toSeq.map { case (n, p) => n -> pj(p) }))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    spark.stop()
  }
}

/** One-time comparison of the old protocol (`count()`) with the noop
  * write, per query workload and per whole family: two alternating
  * passes of each after a warm-up pass; prints the median pass time of
  * each. */
object CountVsNoop {
  def main(argv: Array[String]): Unit = {
    val Array(fixture) = argv
    val spark = Main.session(4)
    val q = SparkEntry.queries
    val olap: String => Boolean = !_.startsWith("j_")
    val llm: String => Boolean = _.startsWith("j_")
    for ((w, names) <- Seq(
        "llm_corpus" -> Queries.members(q.keys.toSeq, llm, Queries.LlmStride),
        "all non-j_ entries" -> Queries.members(q.keys.toSeq, olap, 1),
        "all j_ entries" -> Queries.members(q.keys.toSeq, llm, 1))) {
      def pass(act: DataFrame => Unit): Double = {
        val t0 = System.nanoTime()
        names.foreach { n => act(q(n)(spark, fixture)); Caches.release(spark) }
        (System.nanoTime() - t0) / 1e9
      }
      val count: DataFrame => Unit = _.count()
      val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
      pass(noop)
      val times = (1 to 2).flatMap(_ => Seq("count" -> pass(count), "noop" -> pass(noop)))
      val med = times.groupMap(_._1)(_._2).map { case (k, v) => k -> Main.median(v) }
      println(f"$w%-20s ${names.length}%3d entries  count() ${med("count")}%.2f s   noop ${med("noop")}%.2f s   " +
        f"noop/count ${med("noop") / med("count")}%.2f")
    }
    spark.stop()
  }
}
