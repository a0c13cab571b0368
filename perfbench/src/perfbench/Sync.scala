package perfbench

import java.sql.{Connection, DriverManager}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.{Filter, GreaterThan}
import org.apache.spark.sql.types._
import graft.{Pipeline, Tables}
import graft.sources.v2.{MutableSoqlEndpoint, SoqlEndpoint, SoqlEndpoints}

/** Salesforce-shaped source objects and their seeded change log, with
  * the latest-wins model the synced target must equal.
  *
  * `pb_account` is built from the fixture's customer table and
  * `pb_order` (child, `account_id` → account) from orders. Every
  * version carries a unique increasing cursor `cur` and an
  * `is_deleted` soft-delete flag; 2 % of the initial rows start deleted.
  * A change picks its object in proportion to the object's key count
  * (every record is equally likely to change) and is an update (70 %),
  * an insert (15 %) or a soft-delete (15 %): inserts match deletes, so
  * the live table size stays level from round to round. A key can
  * change twice in one round, and an update of a deleted key revives
  * it, so the sync's latest-wins dedupe is exercised every round. */
final class SyncModel(base: Map[String, Seq[Seq[Any]]], seed: Long) {
  import SyncModel._

  private val rng = new scala.util.Random(seed)
  /** Every version appended to each object, in endpoint order. */
  val versions: Map[String, mutable.ArrayBuffer[Seq[Any]]] = Objects.map(o => o -> {
    val rows = base(o)
    val perm = new scala.util.Random(seed ^ o.hashCode).shuffle(rows.indices.toVector)
    val b = mutable.ArrayBuffer.empty[Seq[Any]]
    rows.indices.foreach { i =>
      val r = rows(i)
      b += r.take(r.length - 2) ++ Seq(perm(i) + 1L, rng.nextDouble() < 0.02)
    }
    b
  }).toMap
  private var clock: Long = versions.values.map(_.length).max.toLong + 1
  val latest: Map[String, mutable.LongMap[Seq[Any]]] = versions.map { case (o, vs) =>
    o -> mutable.LongMap.from(vs.map(r => r.head.asInstanceOf[Long] -> r))
  }
  private val ids = latest.map { case (o, m) => o -> mutable.ArrayBuffer.from(m.keys.toSeq.sorted) }
  private val nextId = mutable.Map.from(latest.map { case (o, m) => o -> (m.keys.max + 1) })

  /** Append one round of `n` changes; returns them per object. */
  def round(n: Int): Map[String, Seq[Seq[Any]]] = {
    val out = Objects.map(_ -> mutable.ArrayBuffer.empty[Seq[Any]]).toMap
    (0 until n).foreach { _ =>
      val accounts = ids(Account).length
      val o = if (rng.nextInt(accounts + ids(Order).length) < accounts) Account else Order
      val r = rng.nextDouble()
      val row: Seq[Any] =
        if (r < 0.7 || r >= 0.85) {
          val old = latest(o)(ids(o)(rng.nextInt(ids(o).length)))
          val cur = clock; clock += 1
          if (r < 0.7) mutate(o, old).dropRight(2) ++ Seq(cur, false)
          else old.dropRight(2) ++ Seq(cur, true)
        } else {
          val id = nextId(o); nextId(o) = id + 1
          ids(o) += id
          val cur = clock; clock += 1
          fresh(o, id) ++ Seq(cur, false)
        }
      out(o) += row
      versions(o) += row
      latest(o)(row.head.asInstanceOf[Long]) = row
    }
    out.map { case (o, rows) => o -> rows.toSeq }
  }

  private def cents(): Double = rng.nextInt(1100000).toDouble / 100.0 - 1000.0

  private def mutate(o: String, r: Seq[Any]): Seq[Any] =
    if (o == Account) r.updated(3, cents())
    else r.updated(2, Statuses(rng.nextInt(3))).updated(3, cents() + 2000.0)

  private def fresh(o: String, id: Long): Seq[Any] =
    if (o == Account) Seq(id, f"Customer#$id%09d", rng.nextInt(25), cents(), "BUILDING")
    else {
      val accounts = ids(Account)
      Seq(id, accounts(rng.nextInt(accounts.length)), Statuses(rng.nextInt(3)),
        cents() + 2000.0, "3-MEDIUM")
    }

  /** Target rows the sync must hold: latest version of each live key. */
  def expected(o: String): Map[Long, Seq[Any]] =
    latest(o).iterator.filter(!_._2.last.asInstanceOf[Boolean]).toMap

  def maxCursor(o: String): Long = versions(o).iterator.map(_(5).asInstanceOf[Long]).max

  /** Brute-force replay of every version in cursor order: the reference
    * the incremental `latest` map is tested against. */
  def replay(o: String): Map[Long, Seq[Any]] = {
    val m = mutable.LongMap.empty[Seq[Any]]
    versions(o).sortBy(_(5).asInstanceOf[Long]).foreach(r => m(r.head.asInstanceOf[Long]) = r)
    m.iterator.filter(!_._2.last.asInstanceOf[Boolean]).toMap
  }
}

object SyncModel {
  val Account = "pb_account"
  val Order = "pb_order"
  val Objects = Seq(Account, Order)
  val StateTable = "pb_sync_state"
  private val Statuses = Vector("P", "O", "F")

  val schemas: Map[String, StructType] = Map(
    Account -> StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("name", StringType),
      StructField("nation", IntegerType), StructField("acctbal", DoubleType),
      StructField("segment", StringType),
      StructField("cur", LongType), StructField("is_deleted", BooleanType))),
    Order -> StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("account_id", LongType),
      StructField("status", StringType), StructField("total", DoubleType),
      StructField("priority", StringType),
      StructField("cur", LongType), StructField("is_deleted", BooleanType))))

  val objects = Seq(
    Pipeline.V2Object(Order, Seq("id"), "cur", "is_deleted"),
    Pipeline.V2Object(Account, Seq("id"), "cur", "is_deleted"))
  val deps = Seq(Order -> Account)

  /** Source rows from the fixture; the last two slots (cursor, flag)
    * are placeholders the model fills from its seed. */
  def base(spark: SparkSession, fixture: String): Map[String, Seq[Seq[Any]]] = Map(
    Account -> Tables.customer(spark, fixture)
      .selectExpr("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .collect().toSeq.map(r => r.toSeq ++ Seq(0L, false)),
    Order -> Tables.orders(spark, fixture)
      .selectExpr("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .collect().toSeq.map(r => r.toSeq ++ Seq(0L, false)))
}

/** Times the endpoint's page pulls for the traced run and records what
  * each pull asked for, so the pushdown ratio can be taken against the
  * rows that were past the cursor. */
final class TimedEndpoint(name: String, inner: SoqlEndpoint) extends SoqlEndpoint {
  override def describe(): StructType = inner.describe()
  override def pageCount: Int = inner.pageCount
  override def accepts(f: Filter): Boolean = inner.accepts(f)
  override def maxCursor(field: String): Option[Long] = inner.maxCursor(field)

  override def query(cols: Seq[String], filters: Seq[Filter], page: Int): Iterator[Seq[Any]] = {
    val t0 = Trace.now()
    val it = inner.query(cols, filters, page)
    var busy = Trace.now() - t0
    var rows = 0L
    var done = false
    val lo = filters.collectFirst { case GreaterThan("cur", v: Long) => v }.getOrElse(Long.MinValue)
    def finish(): Unit = if (!done) {
      done = true
      Trace.add("sources.extract_s", busy / 1e9)
      Trace.add("sources.extract_rows", rows.toDouble)
      Trace.span(s"sources.page $name/$page", "sources", 3, t0, Trace.now())
      TimedEndpoint.pulls.add((name, page, lo, rows))
    }
    new Iterator[Seq[Any]] {
      override def hasNext: Boolean = {
        val a = Trace.now(); val h = it.hasNext; busy += Trace.now() - a
        if (!h) finish()
        h
      }
      override def next(): Seq[Any] = {
        val a = Trace.now(); val r = it.next(); busy += Trace.now() - a
        rows += 1
        r
      }
    }
  }
}

object TimedEndpoint {
  /** (object, page, cursor lower bound, rows returned) per page pull. */
  val pulls = new ConcurrentLinkedQueue[(String, Int, Long, Long)]()
}

/** One source + target pair: endpoints holding the model's versions and
  * an in-memory Derby database, synced with `Pipeline.syncAllOnceV2`. */
final class SyncTarget(model: SyncModel, db: String, traced: Boolean) {
  import SyncModel._
  private val plain = s"jdbc:derby:memory:$db"
  val url: String = (if (traced) TimingDriver.Prefix + "derby:memory:" else "jdbc:derby:memory:") +
    db + ";create=true"
  private val endpoints = Objects.map { o =>
    o -> new MutableSoqlEndpoint(schemas(o), model.versions(o).toSeq)
  }.toMap
  Objects.foreach(o => SoqlEndpoints.register(o,
    if (traced) new TimedEndpoint(o, endpoints(o)) else endpoints(o)))

  def append(changes: Map[String, Seq[Seq[Any]]]): Unit =
    changes.foreach { case (o, rows) => endpoints(o).append(rows) }

  def sync(spark: SparkSession): Seq[(String, Long)] =
    Pipeline.syncAllOnceV2(spark, url, objects, deps, stateTable = StateTable)

  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(plain + ";create=true")
    try f(c) finally c.close()
  }

  private def read(c: Connection, o: String, where: String): Map[Long, Seq[Any]] = {
    val cols = schemas(o).fieldNames
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(cols.map(n => "\"" + n + "\"").mkString("SELECT ", ", ", s""" FROM "${o}_tgt" $where"""))
      val b = Map.newBuilder[Long, Seq[Any]]
      while (rs.next()) {
        val r = cols.indices.map(i => rs.getObject(i + 1): Any)
        b += r.head.asInstanceOf[Long] -> r
      }
      b.result()
    } finally st.close()
  }

  private def diff(o: String, want: Map[Long, Seq[Any]], got: Map[Long, Seq[Any]]): Seq[String] =
    (want.keySet ++ got.keySet).toSeq.sorted.flatMap { k =>
      (want.get(k), got.get(k)) match {
        case (Some(a), Some(b)) if a == b => None
        case (a, b) => Some(s"$o id=$k want=${a.orNull} got=${b.orNull}")
      }
    }.take(3)

  /** Mismatches on the given keys after a round (empty = correct). */
  def checkKeys(touched: Map[String, Seq[Seq[Any]]]): Seq[String] = withConn { c =>
    touched.toSeq.flatMap { case (o, rows) =>
      val ids = rows.map(_.head.asInstanceOf[Long]).distinct
      val want = ids.map(k => k -> model.latest(o)(k)).filter(!_._2.last.asInstanceOf[Boolean]).toMap
      val got = ids.grouped(500).flatMap(g => read(c, o, s"""WHERE "id" IN (${g.mkString(",")})""")).toMap
      diff(o, want, got)
    }
  }

  /** Mismatches on every target row and on each object's cursor. */
  def checkAll(): Seq[String] = withConn { c =>
    val rows = Objects.flatMap(o => diff(o, model.expected(o), read(c, o, "")))
    val st = c.createStatement()
    val cursors = try {
      val rs = st.executeQuery(s"""SELECT "obj", "cursor_val" FROM "$StateTable"""")
      val b = Map.newBuilder[String, Long]
      while (rs.next()) b += rs.getString(1) -> rs.getLong(2)
      b.result()
    } finally st.close()
    rows ++ Objects.flatMap { o =>
      val want = model.maxCursor(o)
      if (cursors.get(o).contains(want)) None else Some(s"$o cursor want=$want got=${cursors.get(o)}")
    }
  }

  /** Rows past the pull's cursor on its page: what a perfect pushdown
    * returns, given the versions present when the pull ran. */
  def pastCursor(o: String, page: Int, lo: Long): Long = {
    val vs = model.versions(o)
    val pages = endpoints(o).pageCount
    var n = 0L
    var i = page
    while (i < vs.length) { if (vs(i)(5).asInstanceOf[Long] > lo) n += 1; i += pages }
    n
  }

  def drop(): Unit =
    try DriverManager.getConnection(plain + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as 08006
}
