package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.perfbench.Bridge
import graft.{Caches, SparkEntry, Tables}

/** Closed-loop benchmark of the engine's public entry points: one
  * client, one op at a time, `local[k]`. See perfbench/README.md for
  * the workloads, metrics and the layer each metric belongs to.
  *
  * Writes one JSON record (metrics, counts, run facts) to `--out` and
  * returns 1 when any op threw or returned a wrong result. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        fixture: String, golden: String, out: String, spans: String,
                        launchMs: Long, cores: Int,
                        // SelfTest's knobs: a subset of entries, injected faults
                        only: Set[String] = Set.empty, inject: Set[String] = Set.empty)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("fixture"), m("golden"), m("out"), m("spans"), m("launch-ms").toLong, m("cores").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.cores)
    val code = try run(spark, a) finally spark.stop()
    System.exit(code)
  }

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir", sys.props("java.io.tmpdir") + "/warehouse")
      .config(graft.OracleKit.HarnessKey, "true")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Every e2e and per-layer number of one run, plus its run facts. */
  final class Record {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val facts = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    def fail(what: String): Unit = { failed += 1; if (errors.length < 20) errors += what }
  }

  /** What a run does; see Queries and SyncWorkload. */
  trait Workload {
    def warmup(r: Record): Unit
    /** One timed full load; None when it threw or failed its check. */
    def fullLoad(r: Record): Option[Double]
    /** Runs one pass; returns (per-op latencies of the ops that
      * succeeded, op wall intervals, rows the pass materialized). */
    def pass(n: Int, r: Record): (Seq[Double], Seq[(Long, Long)], Long)
    def passSeconds(lat: Seq[Double], wall: Double): Double = wall
    def traced(on: Boolean): Unit = ()
    def finish(r: Record): Unit = ()
  }

  def run(spark: SparkSession, a: Args): Int = {
    val r = new Record
    val sessionReady = System.currentTimeMillis()
    r.facts("session_s") = (sessionReady - a.launchMs) / 1e3
    val w: Workload = a.workload match {
      case "llm_corpus" => new Queries(spark, a)
      case "sync_incremental" => new SyncWorkload(spark, a)
      case other => sys.error(s"unknown workload $other")
    }
    val t0 = System.nanoTime()
    w.warmup(r)
    // every run starts timing from a collected heap, whatever the
    // warm-up left behind
    System.gc()
    r.facts("warmup_s") = (System.nanoTime() - t0) / 1e9
    r.metrics("full_sync_s") = (median((1 to 3).flatMap(_ => w.fullLoad(r))), "s")

    // A run times a fixed number of passes, one per `SecondsPerPass` of
    // `--seconds`: every run of a workload then has as many op samples as
    // any other, and the tail percentile depends on that number.
    val passCount = math.max(2, math.round(a.seconds / SecondsPerPass).toInt)
    /** One timed pass: (op latencies, op intervals, pass seconds, rows/s). */
    def timedPass(n: Int): (Seq[Double], Seq[(Long, Long)], Double, Double) = {
      val p0 = System.nanoTime()
      val (l, o, rows) = w.pass(n, r)
      val ps = w.passSeconds(l, (System.nanoTime() - p0) / 1e9)
      (l, o, ps, rows / ps)
    }

    if (!a.trace) {
      val lats = mutable.ArrayBuffer.empty[Double]
      val passes = mutable.ArrayBuffer.empty[Double]
      val rates = mutable.ArrayBuffer.empty[Double]
      val gc0 = gcSeconds()
      (0 until passCount).foreach { n =>
        val (l, _, ps, rate) = timedPass(n)
        lats ++= l; passes += ps; rates += rate
      }
      r.facts("gc_s_timed") = gcSeconds() - gc0
      val sorted = lats.toSeq.sorted
      r.metrics("pass_s") = (median(passes.toSeq), "s")
      r.metrics("op_p50_s") = (median(sorted), "s")
      val (tail, pct) = tailOf(sorted)
      r.metrics("op_tail_s") = (tail, "s")
      r.facts("op_tail_percentile") = pct
      r.facts("op_samples") = sorted.length
      r.facts("passes") = passes.length
      r.facts("op_latencies_s") = lats.toSeq
      r.metrics("rows_per_s") = (median(rates.toSeq), "rows/s")
    } else {
      // Untraced and traced passes alternate in whole blocks of u t t u,
      // so both halves see the same JIT state and host noise, and a
      // steady drift (the JIT still warming) cancels out of the ratio.
      val plans = new PlanListener
      var listener: TraceListener = null
      def tracing(on: Boolean): Unit = {
        // every event of the previous pass goes to the side it belongs to
        Bridge.drain(spark.sparkContext)
        if (on) {
          listener = new TraceListener
          spark.sparkContext.addSparkListener(listener)
          spark.listenerManager.register(plans)
          w.traced(true)
          Trace.on = true
        } else {
          Trace.on = false
          spark.sparkContext.removeSparkListener(listener)
          spark.listenerManager.unregister(plans)
          w.traced(false)
        }
      }
      val plain = mutable.ArrayBuffer.empty[Double]
      val traced = mutable.ArrayBuffer.empty[Double]
      val ops = mutable.ArrayBuffer.empty[(Long, Long)]
      Trace.reset()
      (0 until 4 * math.max(1, (passCount + 3) / 4)).foreach { n =>
        if (n % 4 == 1 || n % 4 == 2) {
          tracing(true)
          try {
            val (_, o, ps, _) = timedPass(n)
            ops ++= o; traced += ps
          } finally tracing(false)
        } else plain += timedPass(n)._3
      }
      r.facts("untraced_pass_s") = plain.toSeq
      r.facts("traced_pass_s") = traced.toSeq
      layers(r, a, ops.toSeq, traced.length, median(traced.toSeq), median(plain.toSeq))
    }
    w.finish(r)
    w match { case q: Queries => r.facts("op_times_s") = q.opTimes.toSeq.map { case (k, v) => Seq(k, v) }; case _ => }
    r.metrics("peak_rss_bytes") = (peakRss().toDouble, "bytes")
    r.facts("cores") = a.cores
    r.facts("shuffle_partitions") = spark.conf.get("spark.sql.shuffle.partitions")
    r.facts("aqe") = spark.conf.get("spark.sql.adaptive.enabled")
    r.facts("heap_max_bytes") = Runtime.getRuntime.maxMemory
    r.facts("spark_version") = spark.version
    r.facts("jdk") = s"${sys.props("java.vm.name")} ${sys.props("java.version")}"
    writeRecord(a.out, r)
    if (r.failed > 0) 1 else 0
  }

  /** Per-layer metrics of the traced passes, as per-pass means. */
  private def layers(r: Record, a: Args, ops: Seq[(Long, Long)], passes: Int,
                     tracedPass: Double, plainPass: Double): Unit = {
    val spans = { import scala.jdk.CollectionConverters._; Trace.spans.asScala.toSeq }
    val per = 1.0 / passes
    def put(k: String, v: Double, unit: String): Unit = r.metrics(k) = (v, unit)
    val builds = spans.filter(_.name == "operators.build")
    val jobs = spans.filter(s => s.layer == "jobs" || s.layer == "pin")
    val eager = jobs.count(j => builds.exists(b => j.start >= b.start && j.start <= b.end))
    put("operators.build_s", builds.map(s => (s.end - s.start) / 1e9).sum * per, "s")
    put("operators.eager_jobs", eager * per, "count")
    put("plans.compile_s", Trace.sum("plans.compile_s") * per, "s")
    put("tables.scan_s", Trace.sum("tables.scan_s") * per, "s")
    put("tables.scan_bytes", Trace.sum("tables.scan_bytes") * per, "bytes")
    put("tables.scan_rows", Trace.sum("tables.scan_rows") * per, "rows")
    val outRows = Trace.sum("result_rows")
    put("tables.rows_per_output_row",
      if (outRows > 0) Trace.sum("tables.scan_rows") / outRows else 0.0, "ratio")
    for (k <- Seq("exchange.stages", "scheduler.jobs", "scheduler.tasks"))
      put(k, Trace.sum(k) * per, "count")
    for (k <- Seq("exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes", "kernels.spill_bytes"))
      put(k, Trace.sum(k) * per, "bytes")
    for (k <- Seq("exchange.fetch_wait_s", "scheduler.delay_s", "kernels.task_cpu_s", "kernels.gc_s",
                  "kernels.sort_s", "kernels.agg_s", "kernels.join_build_s", "kernels.broadcast_s"))
      put(k, Trace.sum(k) * per, "s")
    val wall = ops.map { case (s, e) => (e - s) / 1e9 }.sum
    put("scheduler.busy_frac", if (wall > 0) Trace.sum("scheduler.run_s") / (wall * a.cores) else 0.0, "ratio")
    put("kernels.peak_exec_mem_bytes", Trace.peak("kernels.peak_exec_mem_bytes"), "bytes")
    put("caches.blocks_written", Trace.sum("caches.blocks_written") * per, "count")
    put("caches.storage_bytes_peak", Trace.peak("caches.storage_bytes_peak"), "bytes")
    put("caches.release_s", Trace.sum("caches.release_s") * per, "s")
    val releases = Trace.sum("caches.releases")
    put("caches.storage_bytes_after_release",
      if (releases > 0) Trace.sum("caches.storage_bytes_after_release") / releases else 0.0, "bytes")
    put("sources.extract_s", Trace.sum("sources.extract_s") * per, "s")
    put("sources.extract_rows", Trace.sum("sources.extract_rows") * per, "rows")
    val past = Trace.sum("sources.rows_past_cursor")
    put("sources.pushdown_ratio", if (past > 0) Trace.sum("sources.extract_rows") / past else 0.0, "ratio")
    put("pin.snapshot_s", Trace.sum("pin.snapshot_s") * per, "s")
    put("pipeline.spark_jobs", Trace.sum("pipeline.spark_jobs") * per, "count")
    put("pipeline.driver_s", Trace.sum("pipeline.driver_s") * per, "s")
    for (k <- Seq("load.jdbc_s", "load.merge_s", "load.delete_s", "cursor.commit_s"))
      put(k, Trace.sum(k) * per, "s")
    for (k <- Seq("load.statements", "load.connections", "load.rows_bound", "load.rollbacks"))
      put(k, Trace.sum(k) * per, "count")

    val self = Trace.selfTimes(ops, spans)
    for (l <- SelfLayers) put(s"self.${l}_s", self.getOrElse(l, 0.0) * per, "s")
    put("trace.pass_s", tracedPass, "s")
    put("trace.untraced_pass_s", plainPass, "s")
    put("trace.overhead", tracedPass / plainPass, "ratio")
    r.facts("self_time_s_per_pass") = SelfLayers.map(l => l -> self.getOrElse(l, 0.0) * per).toMap
    r.facts("ops_wall_s_per_pass") = wall * per
    writeSpans(a.spans, ops, spans)
  }

  /** Seconds of `--seconds` per timed pass: about one pass of either
    * workload at k = 2 on a 4-vCPU host. */
  val SecondsPerPass = 5.0

  val SelfLayers = Seq("operators", "plans", "jobs", "action", "caches", "sources", "pin",
    "load", "cursor", "unattributed")

  /** Spans as JSON lines: name, layer, start/end (epoch ns), parent (the
    * innermost enclosing span of a smaller depth, or the op) and op id. */
  private def writeSpans(path: String, ops: Seq[(Long, Long)], spans: Seq[Trace.Span]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try ops.zipWithIndex.foreach { case ((o0, o1), i) =>
      val op = s"op$i"
      w.println(Json.obj(Seq("name" -> "op", "layer" -> "op", "start" -> o0, "end" -> o1,
        "parent" -> null, "op" -> op)))
      val mine = spans.filter(s => s.start >= o0 && s.start < o1).sortBy(_.start)
      mine.foreach { s =>
        val parent = mine.filter(p => p.depth < s.depth && p.start <= s.start && p.end >= s.end)
          .sortBy(-_.depth).headOption.map(_.name).getOrElse("op")
        w.println(Json.obj(Seq("name" -> s.name, "layer" -> s.layer, "start" -> s.start,
          "end" -> s.end, "parent" -> parent, "op" -> op)))
      }
    } finally w.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it; with
    * fewer than 21 samples that would not be above the median, so the
    * maximum (p100) stands in. Returns (value, percentile). */
  def tailOf(sorted: Seq[Double]): (Double, Double) = {
    val n = sorted.length
    if (n >= 21) (sorted(n - 11), 100.0 * (n - 10) / n) else (sorted.last, 100.0)
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  }

  def peakRss(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong * 1024L }.getOrElse(0L)

  private def writeRecord(path: String, r: Record): Unit = {
    val json = Json.obj(Seq(
      "attempted" -> r.attempted, "failed" -> r.failed, "errors" -> r.errors.toSeq,
      "metrics" -> r.metrics.toSeq.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "facts" -> r.facts.toSeq))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }
}

/** `llm_corpus`: registry entries in seed-shuffled order,
  * each materialized in full to the noop sink, `Caches.release` after
  * each. The warm-up pass collects every result and checks it against
  * its golden fingerprint; one untimed pass of the timed action and
  * one full read of the fixture follow. */
final class Queries(spark: SparkSession, a: Main.Args) extends Main.Workload {
  private val registry = SparkEntry.queries
  private val names: Seq[String] = {
    val all = Queries.members(registry.keys.toSeq, _.startsWith("j_"), Queries.LlmStride)
    val chosen = if (a.only.isEmpty) all else registry.keys.toSeq.sorted.filter(a.only)
    chosen ++ (if (a.inject("throw")) Seq(Queries.Throwing) else Nil)
  }
  private val golden = Golden.load(a.golden, a.inject("corrupt"))
  private val resultRows = mutable.Map.empty[String, Long]
  val opTimes = mutable.ArrayBuffer.empty[(String, Double)]

  private def fn(name: String): (SparkSession, String) => DataFrame =
    if (name == Queries.Throwing) (_, _) => throw new IllegalStateException("injected failure")
    else registry(name)

  def order(pass: Int): Seq[String] = Queries.order(names, a.seed, pass)

  override def warmup(r: Main.Record): Unit = {
    order(-1).foreach { name =>
      r.attempted += 1
      try {
        val df = fn(name)(spark, a.fixture)
        val rows = df.collect()
        val got = Canon.of(df.schema, rows.iterator)
        resultRows(name) = got.rows
        golden.get(name) match {
          case Some(want) if want == got =>
          case Some(want) => r.fail(s"$name: result $got differs from golden $want")
          case None => r.fail(s"$name: no golden fingerprint")
        }
      } catch { case e: Throwable => r.fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally Caches.release(spark)
    }
    // then one pass of the timed action itself, so the timed passes
    // start warm
    order(-2).foreach { name =>
      r.attempted += 1
      try fn(name)(spark, a.fixture).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => r.fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally Caches.release(spark)
    }
    // and one full read, as the sync warm-up does one full sync
    fullLoad(r)
  }

  override def fullLoad(r: Main.Record): Option[Double] = {
    r.attempted += 1
    val t0 = System.nanoTime()
    try {
      Seq(Tables.region _, Tables.nation _, Tables.customer _, Tables.supplier _, Tables.part _,
        Tables.orders _, Tables.lineitem _, Tables.events _, Tables.documents _, Tables.embeddings _)
        .foreach(t => t(spark, a.fixture).write.format("noop").mode("overwrite").save())
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => r.fail(s"full read: $e"); None }
  }

  override def pass(n: Int, r: Main.Record): (Seq[Double], Seq[(Long, Long)], Long) = {
    val lats = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[(Long, Long)]
    var rows = 0L
    order(n).foreach { name =>
      r.attempted += 1
      val o0 = Trace.now()
      try {
        val df = Trace.timed("operators.build", "operators", 1)(fn(name)(spark, a.fixture))
        Trace.timed("action", "action", 1)(df.write.format("noop").mode("overwrite").save())
        lats += (Trace.now() - o0) / 1e9
        opTimes += name -> lats.last
        rows += resultRows.getOrElse(name, 0L)
        Trace.add("result_rows", resultRows.getOrElse(name, 0L).toDouble)
      } catch { case e: Throwable => r.fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally {
        val c0 = Trace.now()
        Caches.release(spark)
        val c1 = Trace.now()
        Trace.span("caches.release", "caches", 1, c0, c1)
        Trace.add("caches.release_s", (c1 - c0) / 1e9)
        if (Trace.on) {
          Trace.add("caches.releases", 1)
          Trace.add("caches.storage_bytes_after_release", Bridge.storageBytesUsed().toDouble)
        }
      }
      ops += ((o0, Trace.now()))
    }
    (lats.toSeq, ops.toSeq, rows)
  }
}

object Queries {
  val Throwing = "zz_injected_throw"
  /** Every `stride`-th entry of the family in name order: a fixed
    * subset, so runs with different seeds time the same work. */
  val LlmStride = 20

  def members(names: Seq[String], pick: String => Boolean, stride: Int): Seq[String] =
    names.filter(pick).sorted.zipWithIndex.collect { case (n, i) if i % stride == 0 => n }

  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)
}

/** `sync_incremental`: one full sync into an empty Derby target, then
  * rounds of seeded source changes, each followed by one
  * `Pipeline.syncAllOnceV2`. A pass is `RoundsPerPass` rounds; its time
  * is the sum of their sync calls (the checks between rounds are the
  * benchmark's own work and are not timed). */
final class SyncWorkload(spark: SparkSession, a: Main.Args) extends Main.Workload {
  import SyncWorkload._
  private val base = SyncModel.base(spark, a.fixture)
  TimingDriver.register()
  private var traced = false
  private var dbs = 0
  private var target: SyncTarget = _
  private var model: SyncModel = _

  private def fresh(seed: Long): Unit = {
    Option(target).foreach(_.drop())
    model = new SyncModel(base, seed)
    dbs += 1
    target = new SyncTarget(model, s"pb_${a.seed}_$dbs", traced)
  }

  private def checked(r: Main.Record, what: String, errs: Seq[String]): Unit =
    if (errs.nonEmpty) r.fail(s"$what: ${errs.mkString("; ")}")

  /** Serves a round's changes; the self-test's "lose" fault keeps each
    * object's last change out of the endpoint, so the target must end
    * up differing from the model. */
  private def deliver(ch: Map[String, Seq[Seq[Any]]]): Unit =
    target.append(if (a.inject("lose")) ch.map { case (o, rows) => o -> rows.dropRight(1) } else ch)

  override def warmup(r: Main.Record): Unit = {
    fresh(a.seed ^ 0x5eed)
    r.attempted += 1
    try { target.sync(spark); checked(r, "warm-up full sync", target.checkAll()) }
    catch { case e: Throwable => r.fail(s"warm-up full sync: $e") }
    (1 to WarmupRounds).foreach { i =>
      r.attempted += 1
      val ch = model.round(ChangesPerRound)
      deliver(ch)
      try { target.sync(spark); checked(r, s"warm-up round $i", target.checkKeys(ch)) }
      catch { case e: Throwable => r.fail(s"warm-up round $i: $e") }
    }
    checked(r, "warm-up final state", target.checkAll())
  }

  /** A full sync of the seed's source into an empty target, checked
    * whole; the last one stays as the target of the timed rounds. */
  override def fullLoad(r: Main.Record): Option[Double] = {
    fresh(a.seed)
    r.attempted += 1
    try {
      val t0 = System.nanoTime()
      target.sync(spark)
      val secs = (System.nanoTime() - t0) / 1e9
      val errs = target.checkAll()
      checked(r, s"full sync $dbs", errs)
      if (errs.isEmpty) Some(secs) else None
    } catch { case e: Throwable => r.fail(s"full sync $dbs: $e"); None }
  }

  override def traced(on: Boolean): Unit = {
    traced = on
    // re-register the endpoints and target URL of the live pair
    target = new SyncTarget(model, s"pb_${a.seed}_$dbs", on)
  }

  override def passSeconds(lat: Seq[Double], wall: Double): Double = lat.sum

  override def pass(n: Int, r: Main.Record): (Seq[Double], Seq[(Long, Long)], Long) = {
    val lats = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[(Long, Long)]
    var rows = 0L
    (1 to RoundsPerPass).foreach { i =>
      r.attempted += 1
      val ch = model.round(ChangesPerRound)
      deliver(ch)
      TimedEndpoint.pulls.clear()
      val o0 = Trace.now()
      try {
        target.sync(spark)
        val o1 = Trace.now()
        lats += (o1 - o0) / 1e9
        ops += ((o0, o1))
        rows += ch.values.map(_.length).sum
        if (Trace.on) account(ops.last)
        checked(r, s"pass $n round $i", target.checkKeys(ch))
      } catch { case e: Throwable => r.fail(s"pass $n round $i: $e") }
    }
    (lats.toSeq, ops.toSeq, rows)
  }

  /** Round-level sync numbers once the round's events are delivered:
    * jobs in the round, driver time outside any job, and the rows the
    * pulls would have returned under perfect pushdown. */
  private def account(op: (Long, Long)): Unit = {
    Bridge.drain(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    val jobs = Trace.spans.asScala.filter(s => (s.layer == "jobs" || s.layer == "pin") &&
      s.start >= op._1 && s.start < op._2).toSeq.sortBy(_.start)
    Trace.add("pipeline.spark_jobs", jobs.length)
    var covered = 0L
    var reach = op._1
    jobs.foreach { j =>
      val s = math.max(j.start, reach); val e = math.min(j.end, op._2)
      if (e > s) { covered += e - s; reach = e }
    }
    Trace.add("pipeline.driver_s", ((op._2 - op._1) - covered) / 1e9)
    TimedEndpoint.pulls.asScala.foreach { case (o, page, lo, _) =>
      Trace.add("sources.rows_past_cursor", target.pastCursor(o, page, lo).toDouble)
    }
  }

  override def finish(r: Main.Record): Unit = {
    checked(r, "final state", target.checkAll())
    target.drop()
  }
}

object SyncWorkload {
  /** The round size of the probe that sized this workload: 2 000
    * changes per round took 0.6–1.0 s into Derby at local[4] (README). */
  val ChangesPerRound = 2000
  val RoundsPerPass = 4
  /** Checked rounds before timing; rounds get faster over the first
    * few dozen as the JIT warms. */
  val WarmupRounds = 4
}

/** Golden fingerprints recorded by record_golden.py. */
object Golden {
  def load(path: String, corrupt: Boolean): Map[String, Canon.Print] = {
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val Entry = """"([^"]+)": \{\s*"md5": "([0-9a-f]+)",\s*"rows": (\d+),\s*"source"""".r
    val m = Entry.findAllMatchIn(txt).map(x => x.group(1) -> Canon.Print(x.group(3).toLong, x.group(2))).toMap
    if (!corrupt) m else m.map { case (k, p) => k -> p.copy(md5 = p.md5.reverse) }
  }
}

/** Minimal JSON writer for the record and span files. */
object Json {
  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}")
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty =>
      obj(kv.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
