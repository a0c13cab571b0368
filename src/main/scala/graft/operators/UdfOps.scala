package graft.operators

import graft.{Det, Tables}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** §2.L — user-defined function surface: scalar UDF, typed Aggregator
  * UDAF, and a generator-shaped flatMap (UDTF).
  *
  * Scale notes: a Scala UDF is a codegen black box — Catalyst cannot
  * push filters through it or prune columns behind it, which is why
  * `l_udf_scalar` exists alongside the equivalent CASE expression (the
  * preferred form; see ScalarFuncs.h_conditional). The typed Aggregator
  * partial-aggregates map-side like any built-in agg. The flatMap UDTF
  * is a narrow transformation (no shuffle).
  */
object UdfOps {

  /** Geometric mean via typed Aggregator: exp(avg(ln(x))). */
  private case class GmBuf(sumLn: Double, n: Long)
  private object GeoMean extends Aggregator[Double, GmBuf, Double] {
    def zero: GmBuf = GmBuf(0.0, 0L)
    def reduce(b: GmBuf, x: Double): GmBuf = GmBuf(b.sumLn + math.log(x), b.n + 1)
    def merge(a: GmBuf, b: GmBuf): GmBuf = GmBuf(a.sumLn + b.sumLn, a.n + b.n)
    def finish(r: GmBuf): Double = if (r.n == 0) 0.0 else math.exp(r.sumLn / r.n)
    def bufferEncoder: Encoder[GmBuf] = Encoders.product[GmBuf]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  private case class Chunk(doc_id: Long, chunk_id: Int, chunk: String)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Scalar UDF vs the CASE it shadows (h_conditional) — documents the
    // optimization cost of opaque functions.
    "l_udf_scalar" -> { (s, d) =>
      val priceTier = udf((p: Double) =>
        if (p > 40000) "high" else if (p > 20000) "mid" else "low")
      Tables.orders(s, d)
        .select(col("o_orderkey"), priceTier(col("o_totalprice")).as("tier"))
        .orderBy("o_orderkey")
    },

    // Typed Aggregator UDAF: geometric mean of extendedprice per flag.
    "l_udaf_aggregator" -> { (s, d) =>
      val gm = udaf(GeoMean)
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(Det.r4(gm(col("l_extendedprice"))).as("geo_mean_price"))
        .orderBy("l_returnflag")
    },

    // §2.L stretch: the brute-force cosine top-k expressed through the
    // native Catalyst Expression (SparkSessionExtensions-injected
    // graft_cosine) — same semantics and oracle as j_sim_cosine_topk.
    "l_expr_native_cosine" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      // size gate (r13) upgraded to size-ROUTED dispatch (r19, VERDICT
      // r18 item 1): declared O(n²) baseline — above the footer-count
      // cap the default is still refusal naming the sub-quadratic
      // sibling, and with spark.graft.brute.route=true the IVF pair
      // set's global top-10 is returned instead (the exact shape
      // j_sim_cosine_topk routes to — same (vec_a, vec_b, cos) schema,
      // recall quantified in SCALE.md §r18.4 and floor-pinned in
      // BruteRouteRecallSpec). Routing caveat as on the sibling entry:
      // the IVF set only surfaces pairs with cos ≥ its τ floor inside
      // probed cells, so the routed top-10 is opt-in degraded mode,
      // never a silent substitution.
      graft.operators.BruteGuard.routePath(s, s"$d/embeddings.parquet",
        "l_expr_native_cosine", "j_ann_ivf_topk / j_dedup_embed_ann") {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val a = graft.Par.spread(
          e.select(col("vec_id").as("vec_a"), col("v").as("va")))
        val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
        a.join(broadcast(b), col("vec_a") < col("vec_b"))
          .withColumn("cos", expr("graft_cosine(va, vb)"))
          .select(col("vec_a"), col("vec_b"), Det.r4(col("cos")).as("cos"))
          .orderBy(desc("cos"), asc("vec_a"), asc("vec_b"))
          .limit(10)
      }(graft.operators.AnnOps.queries("j_dedup_embed_ann")(s, d)
        .orderBy(desc("cos"), asc("vec_a"), asc("vec_b"))
        .limit(10))
    },

    // Generator-shaped UDTF: document → one row per ≤5-token chunk
    // (LLM context-chunking op) via typed Dataset.flatMap.
    "l_udtf_flatmap" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          text.split(" ").grouped(5).zipWithIndex.map {
            case (g, i) => Chunk(id, i + 1, g.mkString(" "))
          }
        }
        .toDF()
        .orderBy("doc_id", "chunk_id")
    }
  )

  val oracles: Map[String, String] = Map(
    "l_udf_scalar" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 40000 THEN 'high'
        |       WHEN o_totalprice > 20000 THEN 'mid'
        |       ELSE 'low' END AS tier
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "l_udaf_aggregator" ->
      """SELECT l_returnflag,
        |  (CASE WHEN NOT (abs(exp(avg(ln(l_extendedprice)))) < 9.0e11) THEN (exp(avg(ln(l_extendedprice)))) WHEN (exp(avg(ln(l_extendedprice)))) < 0 THEN -(floor(-(exp(avg(ln(l_extendedprice)))) * 10000 + 0.5) / 10000) ELSE floor((exp(avg(ln(l_extendedprice)))) * 10000 + 0.5) / 10000 END + 0) AS geo_mean_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "l_expr_native_cosine" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  (CASE WHEN NOT (abs(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[]))
        |    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(a.embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[]))))) < 9.0e11) THEN (list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[]))
        |    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(a.embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[]))))) WHEN (list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[]))
        |    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(a.embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[]))))) < 0 THEN -(floor(-(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[]))
        |    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(a.embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[]))))) * 10000 + 0.5) / 10000) ELSE floor((list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[]))
        |    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(a.embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[]))))) * 10000 + 0.5) / 10000 END + 0) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |ORDER BY cos DESC, vec_a ASC, vec_b ASC LIMIT 10""".stripMargin,
    "l_udtf_flatmap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents WHERE doc_id < 100)
        |SELECT doc_id, CAST(u['chunk_id'] AS INT) AS chunk_id,
        |  u['chunk'] AS chunk
        |FROM (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, CAST(ceil(len(toks) / 5.0) AS BIGINT) + 1),
        |    i -> {'chunk_id': i,
        |          'chunk': array_to_string(toks[(i-1)*5+1 : (i-1)*5+5], ' ')}))
        |    AS u
        |  FROM t)
        |ORDER BY doc_id, chunk_id""".stripMargin
  )
}
