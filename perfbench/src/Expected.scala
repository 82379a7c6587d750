package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Expected answers, computed from the generated parquet with plain
  * Spark and driver-side Scala — never through graft's graph view,
  * compiler or operators. Node ids follow graft's documented view
  * encoding (key * 10 + table tag). */
final class Expected(spark: SparkSession, dir: String) {
  import Expected._
  private def t(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  val customerCount: Long = t("customer").count()

  /** custkey → (c_name, c_acctbal), the point-lookup answer. */
  val customer: Map[Long, (String, Double)] = t("customer")
    .select("c_custkey", "c_name", "c_acctbal").collect()
    .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap

  /** custkey → sorted order keys, the 1-hop answer (absent = none). */
  lazy val ordersOf: Map[Long, Vector[Long]] = t("orders")
    .groupBy("o_custkey").agg(collect_list("o_orderkey")).collect()
    .map(r => r.getLong(0) -> r.getSeq[Long](1).toVector.sorted).toMap

  /** custkey → (lineitem count, quantity sum), the 2-hop answer. */
  lazy val containsOf: Map[Long, (Long, Double)] = t("orders")
    .join(t("lineitem"), col("o_orderkey") === col("l_orderkey"))
    .groupBy("o_custkey").agg(count(lit(1)), sum("l_quantity")).collect()
    .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

  // ---- olap answers -------------------------------------------------

  private lazy val tables = Seq(
    ("region", "r_regionkey", TagRegion), ("nation", "n_nationkey", TagNation),
    ("customer", "c_custkey", TagCustomer), ("supplier", "s_suppkey", TagSupplier),
    ("part", "p_partkey", TagPart), ("orders", "o_orderkey", TagOrder))

  /** Every node id of the graph. */
  lazy val nodeIds: Array[Long] = tables.flatMap { case (tb, k, tag) =>
    t(tb).select(col(k).cast("long")).collect().map(r => r.getLong(0) * 10 + tag)
  }.toArray

  private def edges(tb: String, s: String, sTag: Long, d: String, dTag: Long): Array[(Long, Long)] =
    t(tb).select(col(s).cast("long"), col(d).cast("long")).collect()
      .map(r => (r.getLong(0) * 10 + sTag, r.getLong(1) * 10 + dTag))

  lazy val placed = edges("orders", "o_custkey", TagCustomer, "o_orderkey", TagOrder)
  lazy val in: Array[(Long, Long)] =
    edges("customer", "c_custkey", TagCustomer, "c_nationkey", TagNation) ++
      edges("supplier", "s_suppkey", TagSupplier, "s_nationkey", TagNation) ++
      edges("nation", "n_nationkey", TagNation, "n_regionkey", TagRegion)
  lazy val lineEdges: Array[(Long, Long)] =
    edges("lineitem", "l_orderkey", TagOrder, "l_partkey", TagPart) ++
      edges("lineitem", "l_suppkey", TagSupplier, "l_partkey", TagPart)

  /** Integer PageRank over `PLACED`, GDS fixed-iteration semantics:
    * rank' = 0.15·S + (Σ rank_src / outdeg_src)·85/100, floor division. */
  lazy val pageRank: Map[Long, Long] = {
    val out = placed.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    var rank = nodeIds.map(_ -> RankScale).toMap
    for (_ <- 1 to PageRankIters) {
      val msg = placed.groupMapReduce(_._2)(e => rank(e._1) / out(e._1))(_ + _)
      rank = rank.map { case (v, _) => v -> (RankScale * 15 / 100 + msg.getOrElse(v, 0L) * 85 / 100) }
    }
    rank
  }

  /** Component (minimum member id) of every node over the given edges. */
  def components(es: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    nodeIds.foreach(v => parent(v) = v)
    def find(v: Long): Long = {
      var r = v
      while (parent(r) != r) r = parent(r)
      var x = v
      while (parent(x) != r) { val n = parent(x); parent(x) = r; x = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    nodeIds.map(v => v -> find(v)).toMap
  }

  lazy val wcc: Map[Long, Long] = components(placed ++ in ++ lineEdges)
  lazy val inComponent: Map[Long, Long] = components(in)

  /** Paths of `(c:customer)-[:IN*1..2]->(x)` from customers whose
    * balance exceeds `t`: customer→nation and customer→nation→region. */
  def varlenPaths(t: Double): Long = 2L * customer.values.count(_._2 > t)

  /** (CONTAINS edge count, Σ l_extendedprice) over all lineitems. */
  lazy val revenue: (Long, Double) = {
    val r = t("lineitem").agg(count(lit(1)), sum("l_extendedprice")).head()
    (r.getLong(0), r.getDouble(1))
  }

  /** Near-duplicate pairs (d1 < d2, ijac) with exact Jaccard ≥ 0.7 over
    * distinct word 3-shingles, ijac = floor(jac·1e6 + 0.5). */
  lazy val dedupPairs: Set[(Long, Long, Long)] = {
    val docs = t("documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").sliding(3)
        .filter(_.length == 3).map(_.mkString(" ")).toSet)
    val out = Set.newBuilder[(Long, Long, Long)]
    for (i <- docs.indices; j <- docs.indices if docs(i)._1 < docs(j)._1) {
      val (a, b) = (docs(i)._2, docs(j)._2)
      val shared = a.count(b.contains)
      if (shared > 0) {
        val ijac = math.floor(shared * 1000000.0 / (a.size + b.size - shared) + 0.5).toLong
        if (ijac >= 700000) out += ((docs(i)._1, docs(j)._1, ijac))
      }
    }
    out.result()
  }

  /** IVF top-5 (q_id, neighbor, icos, rank): the first 16 vectors are
    * centroids, every vector joins its best cell (ties → lowest
    * centroid), each of the first 8 vectors ranks its cell-mates by
    * integer cosine over 1e6-quantized components. */
  lazy val annTopK: Set[(Long, Long, Long, Int)] = {
    val vs = t("embeddings").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6).toLong).toArray)
      .sortBy(_._1)
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val norm = vs.map { case (id, q) => id -> math.sqrt(dot(q, q).toDouble) }.toMap
    def icos(a: (Long, Array[Long]), b: (Long, Array[Long])): Long =
      math.floor(dot(a._2, b._2).toDouble / (norm(a._1) * norm(b._1)) * 1e6 + 0.5).toLong
    val cents = vs.filter(_._1 < 16)
    val cell = vs.map(v => v._1 -> cents.map(c => (icos(v, c), c._1))
      .minBy { case (s, c) => (-s, c) }._2).toMap
    vs.filter(_._1 < 8).flatMap { q =>
      vs.filter(n => n._1 != q._1 && cell(n._1) == cell(q._1))
        .map(n => (n._1, icos(q, n))).sortBy { case (n, s) => (-s, n) }.take(5)
        .zipWithIndex.map { case ((n, s), i) => (q._1, n, s, i + 1) }
    }.toSet
  }

  /** Compute every analytic answer now, before anything is timed. */
  def prepareOlap(): Unit = { pageRank; wcc; inComponent; revenue; dedupPairs; annTopK }

  /** An expected (node_id, value) map as a DataFrame, for checksums. */
  def frame(m: Map[Long, Long], value: String): DataFrame = {
    val rows = new java.util.ArrayList[Row](m.size)
    m.foreach { case (k, v) => rows.add(Row(k, v)) }
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(value, org.apache.spark.sql.types.LongType))))
  }
}

object Expected {
  val TagRegion = 1L; val TagNation = 2L; val TagCustomer = 3L
  val TagOrder = 4L; val TagSupplier = 5L; val TagPart = 6L
  val RankScale = 1000000L
  val PageRankIters = 10

  /** (rows, Σ xxhash64(row)) — an order-independent fingerprint. */
  def checksum(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(c => col(c).cast("long"))
    // folded to 31 bits so the sum cannot overflow under ANSI arithmetic
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(cols: _*), lit(2147483647L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
