package perfbench

import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.bolt.BoltEndpoint
import graft.core.GraphViews
import graft.http.HttpEndpoint

/** One graft instance booted the way the server main does it:
  * `GraftSession.fromEnv` with the graph-data-science pack,
  * `loadDatabase` of an imported snapshot, then Bolt and HTTP on
  * loopback (ephemeral ports). */
final class Service(val session: GraftSession, val dataDir: String,
    bolt: BoltEndpoint, http: HttpEndpoint, val boltPort: Int, val httpPort: Int) {
  def snapshotDir: String = s"$dataDir/databases/neo4j"
  def stop(): Unit = { bolt.stop(); http.stop() }
}

object Service {
  val PointQuery = "MATCH (c:customer {c_custkey: $k}) RETURN c.c_name AS name, c.c_acctbal AS bal"

  /** Import: the graph view over the input tables, with a RANGE index
    * on the lookup key, persisted as a snapshot. Returns seconds. */
  def importSnapshot(spark: SparkSession, inputDir: String, dataDir: String, tracer: Tracer): Double = {
    val t0 = System.nanoTime()
    tracer("core.import") {
      val imp = new GraftSession(spark)
      imp.setGraph(GraphViews.tpch(spark, inputDir))
      imp.cypher("CREATE INDEX customer_key FOR (c:customer) ON (c.c_custkey)")
      imp.saveDatabase(dataDir)
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** A started service, with the load time and the whole boot time up
    * to the first answered Bolt statement and a 200 readiness probe. */
  final case class Boot(service: Service, loadMs: Double, bootS: Double)

  def boot(spark: SparkSession, dataDir: String, tracer: Tracer,
      firstKey: Long, firstAnswer: (String, Double)): Boot = {
    val t0 = System.nanoTime()
    val session = tracer("session.fromEnv") {
      GraftSession.fromEnv(spark,
        Map("NEO4J_PLUGINS" -> """["graph-data-science"]""", "NEO4J_AUTH" -> "none"),
        dataDir = Some(dataDir))
    }
    val t1 = System.nanoTime()
    tracer("core.load")(session.loadDatabase(dataDir))
    val t2 = System.nanoTime()
    val bolt = new BoltEndpoint(session, 0, "127.0.0.1")
    val http = new HttpEndpoint(session, 0, "127.0.0.1")
    val svc = new Service(session, dataDir, bolt, http, bolt.start(), http.start())
    val c = new BoltClient(svc.boltPort)
    try {
      val r = c.run(PointQuery, Map("k" -> firstKey))
      val want = Seq(Seq(firstAnswer._1, firstAnswer._2))
      if (r.rows != want)
        throw new IllegalStateException(s"first statement answered ${r.rows}, expected $want")
    } finally c.close()
    val status = new HttpTxClient(svc.httpPort).available()
    if (status != 200) throw new IllegalStateException(s"readiness probe answered $status")
    Boot(svc, (t2 - t1) / 1e6, (System.nanoTime() - t0) / 1e9)
  }
}
