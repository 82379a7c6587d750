package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the TPC-H-shaped tables graft's graph view
  * reads (region, nation, customer, supplier, part, orders, lineitem)
  * plus the `documents` and `embeddings` tables the dedup and ANN
  * operators read. Every column is a hash of (seed, table, row, field),
  * so one seed gives byte-identical tables whatever the partitioning.
  * Each table is written as ONE parquet file, like the fixture data the
  * library's own tests use.
  *
  * Shape choices the workloads depend on: customers whose key is a
  * multiple of 3 place no orders (as in TPC-H), so the 1-hop and 2-hop
  * templates also see empty answers; `l_quantity` is integral so the
  * 2-hop quantity sum is exact in doubles; a fifth of the documents
  * are near copies of earlier ones so the MinHash dedup has work.
  */
object Data {

  final case class Sizes(customers: Long, orders: Long, parts: Long, suppliers: Long,
      documents: Long = 500L, embeddings: Long = 500L)

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")

  /** TPC-H row ratios at scale factor `sf` (0.1 ≈ 15k customers). */
  def sizes(sf: Double): Sizes = Sizes(
    customers = math.max(30L, (150000 * sf).toLong),
    orders = math.max(300L, (1500000 * sf).toLong),
    parts = math.max(40L, (200000 * sf).toLong),
    suppliers = math.max(10L, (10000 * sf).toLong))

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Vocabulary: Seq[String] = Seq(
    "graph", "node", "edge", "query", "index", "spark", "cypher", "label", "path",
    "match", "merge", "order", "part", "customer", "supplier", "nation", "region",
    "price", "discount", "quantity", "ship", "date", "status", "priority", "line",
    "vector", "embedding", "cluster", "shuffle", "stage", "task", "driver", "executor",
    "snapshot", "delta", "commit", "bolt", "http", "session", "plan")

  /** Uniform long in [0, n) from (seed, salt, key columns). */
  private def h(seed: Long, salt: String, n: Long, cols: Column*): Column =
    pmod(xxhash64((Seq(lit(seed), lit(salt)) ++ cols): _*), lit(n))

  /** Writes the graph tables, and the document and embedding tables
    * when `corpus` is set (only the analytic workload reads them). The
    * tables are independent, so they are written concurrently: each is
    * one file, hence one task. */
  def generate(spark: SparkSession, dir: String, seed: Long, s: Sizes, corpus: Boolean): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val writes = scala.collection.mutable.ArrayBuffer[Future[Unit]]()
    def write(df: DataFrame, dir: String, name: String): Unit =
      writes += Future(df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet"))(
        ExecutionContext.global)
    tables(spark, dir, seed, s, corpus, write)
    writes.foreach(Await.result(_, Duration.Inf))
  }

  private def tables(spark: SparkSession, dir: String, seed: Long, s: Sizes, corpus: Boolean,
      write: (DataFrame, String, String) => Unit): Unit = {
    val id = col("id")
    write(spark.range(5).select(id.cast("int").as("r_regionkey"),
      concat(lit("REGION-"), id).as("r_name")), dir, "region")
    write(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION-"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), dir, "nation")
    write(spark.range(1, s.customers + 1).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      h(seed, "c_nat", 25, id).cast("int").as("c_nationkey"),
      ((h(seed, "c_bal", 1100000, id) - 100000) / 100.0).as("c_acctbal"),
      element_at(typedLit(Segments), (h(seed, "c_seg", 5, id) + 1).cast("int"))
        .as("c_mktsegment")), dir, "customer")
    write(spark.range(1, s.suppliers + 1).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      h(seed, "s_nat", 25, id).cast("int").as("s_nationkey"),
      ((h(seed, "s_bal", 1100000, id) - 100000) / 100.0).as("s_acctbal")), dir, "supplier")
    write(spark.range(1, s.parts + 1).select(id.as("p_partkey"),
      concat_ws(" ", element_at(typedLit(Vocabulary), (h(seed, "p_n1", 40, id) + 1).cast("int")),
        element_at(typedLit(Vocabulary), (h(seed, "p_n2", 40, id) + 1).cast("int"))).as("p_name"),
      format_string("Brand#%d%d", h(seed, "p_b1", 5, id) + 1, h(seed, "p_b2", 5, id) + 1)
        .as("p_brand"),
      format_string("TYPE %d", h(seed, "p_t", 150, id)).as("p_type"),
      (h(seed, "p_sz", 50, id) + 1).cast("int").as("p_size"),
      ((lit(90000) + id % 20001 + h(seed, "p_pr", 1000, id)) / 100.0).as("p_retailprice")),
      dir, "part")
    // o_custkey never a multiple of 3: a third of the customers order nothing
    val rawCust = h(seed, "o_cust", s.customers, id) + 1
    val cust = when(rawCust % 3 === 0, when(rawCust === s.customers, lit(1L))
      .otherwise(rawCust + 1)).otherwise(rawCust)
    val orders = spark.range(1, s.orders + 1).select(id.as("o_orderkey"),
      cust.as("o_custkey"),
      element_at(typedLit(Seq("F", "O", "P")), (h(seed, "o_st", 3, id) + 1).cast("int"))
        .as("o_orderstatus"),
      ((h(seed, "o_tp", 50000000, id) + 100000) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + h(seed, "o_dt", 2400, id) * 86400)
        .as("o_orderdate"),
      format_string("%d-PRIORITY", h(seed, "o_pri", 5, id) + 1).as("o_orderpriority"))
    write(orders, dir, "orders")
    val lines = spark.range(1, s.orders + 1)
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1L), h(seed, "l_n", 7, id) + 1)).as("ln"))
    val price = (lit(90000) + col("l_partkey") % 20001) / 100.0
    write(lines.select(col("l_orderkey"),
      (h(seed, "l_part", s.parts, col("l_orderkey"), col("ln")) + 1).as("l_partkey"),
      (h(seed, "l_supp", s.suppliers, col("l_orderkey"), col("ln")) + 1).as("l_suppkey"),
      col("ln").cast("int").as("l_linenumber"),
      (h(seed, "l_q", 50, col("l_orderkey"), col("ln")) + 1).cast("double").as("l_quantity"))
      .select(col("*"), round(col("l_quantity") * price, 2).as("l_extendedprice"),
        (h(seed, "l_d", 11, col("l_orderkey"), col("l_linenumber")) / 100.0).as("l_discount"),
        (h(seed, "l_t", 9, col("l_orderkey"), col("l_linenumber")) / 100.0).as("l_tax"),
        element_at(typedLit(Seq("A", "N", "R")),
          (h(seed, "l_rf", 3, col("l_orderkey"), col("l_linenumber")) + 1).cast("int"))
          .as("l_returnflag"),
        element_at(typedLit(Seq("F", "O")),
          (h(seed, "l_ls", 2, col("l_orderkey"), col("l_linenumber")) + 1).cast("int"))
          .as("l_linestatus"),
        timestamp_seconds(lit(694224000L) +
          h(seed, "l_sd", 2500, col("l_orderkey"), col("l_linenumber")) * 86400)
          .as("l_shipdate")), dir, "lineitem")
    if (corpus) generateCorpus(spark, dir, seed, s, write)
  }

  private def generateCorpus(spark: SparkSession, dir: String, seed: Long, s: Sizes,
      write: (DataFrame, String, String) => Unit): Unit = {
    val id = col("id")
    // documents: 40-word texts; every fifth document copies an earlier
    // one with two words replaced (near duplicates for MinHash/LSH)
    val words = (0 until 40).map { w =>
      val src = when(id % 5 === 4, h(seed, "d_src", 1000000, id) % id).otherwise(id)
      val wordOf = (d: Column) => element_at(typedLit(Vocabulary),
        (h(seed, "d_w", Vocabulary.size, d, lit(w)) + 1).cast("int"))
      if (w < 2) when(id % 5 === 4, wordOf(-id - 1)).otherwise(wordOf(src))
      else wordOf(src)
    }
    val docs = spark.range(s.documents).select(id.as("doc_id"), concat_ws(" ", words: _*).as("text"))
    write(docs.select(col("doc_id"), col("text"),
      element_at(typedLit(Seq("en", "de", "fr")), (h(seed, "d_l", 3, col("doc_id")) + 1).cast("int"))
        .as("lang"),
      format_string("src-%d", h(seed, "d_s", 8, col("doc_id"))).as("source"),
      length(col("text")).cast("long").as("n_chars")), dir, "documents")
    // embeddings: 64-dim vectors around one of 8 label centres
    val dims = (0 until 64).map { d =>
      ((h(seed, "e_c", 2001, col("label"), lit(d)) - 1000) / 1000.0 +
        (h(seed, "e_n", 2001, id, lit(d)) - 1000) / 4000.0).cast("float")
    }
    write(spark.range(s.embeddings)
      .withColumn("label", h(seed, "e_l", 8, id).cast("int"))
      .select(id.as("vec_id"), array(dims: _*).as("embedding"), col("label")),
      dir, "embeddings")
  }
}
