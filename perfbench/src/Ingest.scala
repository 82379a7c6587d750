package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Bolt readers sending point lookups beside the writer. Point reads
  * only: the statement lock is saturated whenever two clients run, so
  * a read waits for the statements ahead of it, and uniform statements
  * keep that wait (and the run-to-run spread) small enough to measure
  * in a short run. The heavier templates run in the traced replay. */
final class Readers(svc: Service, lookups: Lookups, seed: Long, tracer: Tracer, writes: Writes,
    saveGate: java.util.concurrent.locks.ReadWriteLock) {
  def client(rec: Recorder, id: Int, deadline: Long): Unit = {
    val r = new SplittableRandom(seed * 7919 + id)
    val c = new BoltClient(svc.boltPort)
    var i = 0
    try while (System.nanoTime() < deadline) {
      val tpl = Lookups.Point
      // one read in five targets the last acknowledged batch
      val k = (if (r.nextInt(5) == 0) writes.recentKeys else None)
        .map(ks => ks(r.nextInt(ks.length))).getOrElse(lookups.pickKey(r))
      val acked = writes.ackedBatch(k)
      // traced runs alternate traced and untraced reads: their ratio is the overhead
      val traced = i % 2 == 0
      tracer.newRequest(traced)
      i += 1
      rec.count("attempted"); rec.count("statements")
      try {
        // the read's clock starts before the save gate: a read held
        // back by a save counts the wait in its latency
        val t0 = System.nanoTime()
        saveGate.readLock().lock()
        val t1 = System.nanoTime()
        val res = try tracer("bolt.read")(c.run(tpl.query, Map("k" -> k)))
          finally saveGate.readLock().unlock()
        val waitNs = t1 - t0
        tracer.record("bolt.save_wait", t0, t1)
        tracer.record("bolt.run", t1, t1 + res.runNs)
        tracer.record("bolt.pull", t1 + res.runNs, t1 + res.totalNs)
        lookups.check(tpl, k, res.rows, writes, acked) match {
          case Some(err) => rec.failure(err, s"key $k acked $acked rows ${res.rows}")
          case None =>
            val readMs = (waitNs + res.totalNs) / 1e6
            rec.add("bolt.read_ms", readMs)
            // held back: waited a millisecond or more for a save
            if (waitNs >= 1000000L) { rec.count("bolt.gated_reads"); rec.add("bolt.save_wait_ms", waitNs / 1e6) }
            if (tracer.enabled) rec.add(if (traced) "trace.on_ms" else "trace.off_ms", readMs)
            rec.add("bolt.run_ms", res.runNs / 1e6)
            rec.add("bolt.pull_ms", (res.totalNs - res.runNs) / 1e6)
            rec.add("bolt.bytes", res.bytes.toDouble)
        }
      } catch {
        case e: ServerError => rec.failure(e.code, e.getMessage)
        case e: java.io.IOException => rec.failure(e.getClass.getSimpleName, String.valueOf(e.getMessage))
      }
    } finally c.close()
  }
}

object IngestMixed {
  def row(k: Long, b: Long): Map[String, Any] =
    Map("k" -> k, "name" -> s"New#$k", "bal" -> (Lookups.BalBase + b))
  def params(rows: Seq[Map[String, Any]]): java.util.Map[String, AnyRef] = {
    val l = new java.util.ArrayList[AnyRef]()
    rows.foreach(r => l.add(r.map { case (k, v) => k -> v.asInstanceOf[AnyRef] }.asJava))
    java.util.Map.of("batch", l)
  }
  def overhead(rec: Recorder): Double = {
    val off = Recorder.median(rec.values("trace.off_ms"))
    if (off > 0) Recorder.median(rec.values("trace.on_ms")) / off else 0.0
  }
}

/** One HTTP writer merging 500-row batches (half existing keys, half
  * new) and saving after every 3rd commit, beside three Bolt readers. */
final class IngestMixed(spark: SparkSession, svc: Service, lookups: Lookups, exp: Expected,
    inputDir: String, o: Main.Opts, tracer: Tracer, listener: JobListener) extends Workload {
  import IngestMixed._
  private val written = new Writes
  // saveDatabase replaces delta files that a read still streaming from
  // the previous snapshot may need (the read then fails with
  // FAILED_READ_FILE), so saves wait for in-flight reads and hold new
  // ones back; a held-back read counts the wait in its latency
  private val saveGate = new java.util.concurrent.locks.ReentrantReadWriteLock()
  private val readers = new Readers(svc, lookups, o.seed, tracer, written, saveGate)
  private var batch = 0L
  private var nextNewKey = exp.customerCount + 1
  private var ackedNewKeys = 0L
  private var ackedBatches = 0L
  private var newKeysFound = -1L
  private val snapshot = Paths.get(svc.snapshotDir)

  private def writer(rec: Recorder, deadline: Long): Unit = {
    val r = new SplittableRandom(o.seed * 31 + 17)
    val h = new HttpTxClient(svc.httpPort)
    while (System.nanoTime() < deadline) {
      val (keys, fresh) = nextBatch(r)
      written.begin(batch, keys.toSet)
      tracer.newRequest()
      rec.count("attempted")
      try {
        val t0 = System.nanoTime()
        val t = tracer("http.tx")(h.openAndCommit(Lookups.MergeQuery, params(keys.map(row(_, batch)))))
        tracer.record("http.open", t0, t0 + t.openNs)
        tracer.record("http.commit", t0 + t.openNs, t0 + t.openNs + t.commitNs)
        written.ack(batch)
        ackedNewKeys += fresh.size
        ackedBatches += 1
        rec.add("http.tx_ms", (t.openNs + t.commitNs) / 1e6)
        rec.add("http.open_ms", t.openNs / 1e6)
        rec.add("http.commit_ms", t.commitNs / 1e6)
      } catch {
        case e: ServerError => rec.failure(e.code, e.getMessage)
        case e: java.io.IOException => rec.failure(e.getClass.getSimpleName, String.valueOf(e.getMessage))
      }
      if (batch % Main.CommitsPerSave == 0) {
        val before = filesOf(snapshot)
        rec.count("attempted")
        try {
          saveGate.writeLock().lock()
          val s0 = System.nanoTime()
          try tracer("core.save")(svc.session.saveDatabase(svc.dataDir))
          finally saveGate.writeLock().unlock()
          rec.add("core.save_ms", (System.nanoTime() - s0) / 1e6)
          val after = filesOf(snapshot)
          rec.add("core.bytes_written", (after -- before.keySet).values.sum.toDouble)
        } catch {
          case e: Exception => rec.failure(s"save.${e.getClass.getSimpleName}", String.valueOf(e.getMessage))
        }
      }
    }
  }

  private val BatchRowsHalf = Main.BatchRows / 2
  private val replayRandom = new SplittableRandom(o.seed * 37 + 5)

  /** The next batch number's keys: half existing customers, half new. */
  private def nextBatch(r: SplittableRandom): (Seq[Long], Seq[Long]) = {
    batch += 1
    val existing = Iterator.continually(1L + r.nextLong(exp.customerCount)).distinct
      .take(BatchRowsHalf).toSeq
    val fresh = (0 until BatchRowsHalf).map(i => nextNewKey + i)
    nextNewKey += BatchRowsHalf
    (existing ++ fresh, fresh)
  }

  /** The lookup templates' serial replay, then embedded merge
    * transactions split into mutate, commit and the first read after
    * the commit (which folds the new delta). */
  override def replay(rec: Recorder): Unit = {
    new Replay(spark, svc, lookups, tracer, listener, o.seed, written).run(rec)
    for (_ <- 1 to Main.ReplayReps) {
      val (keys, fresh) = nextBatch(replayRandom)
      written.begin(batch, keys.toSet)
      val batchParams = Map[String, Any]("batch" -> keys.map(row(_, batch)))
      tracer.newRequest()
      rec.count("attempted")
      val p0 = System.nanoTime()
      tracer("cypher.parse")(graft.cypher.CypherParser.parse(Lookups.MergeQuery))
      rec.add("cypher.parse_ms.merge", (System.nanoTime() - p0) / 1e6)
      val tx = svc.session.beginTransaction("embedded")
      val t0 = System.nanoTime()
      tracer("session.mutate")(svc.session.cypher(Lookups.MergeQuery, batchParams, "neo4j", tx).collect())
      val t1 = System.nanoTime()
      tracer("session.commit")(svc.session.commitTransaction(tx))
      val t2 = System.nanoTime()
      written.ack(batch)
      ackedNewKeys += fresh.size
      val k = fresh.head
      val rows = tracer("session.read_after_commit") {
        svc.session.cypher(Service.PointQuery, Map[String, Any]("k" -> k)).collect().toSeq.map(_.toSeq)
      }
      val t3 = System.nanoTime()
      if (!written.pointOk(k, rows, None, batch)) rec.failure("wrong_answer.read_after_commit")
      else {
        rec.add("session.mutate_ms", (t1 - t0) / 1e6)
        rec.add("session.commit_ms", (t2 - t1) / 1e6)
        rec.add("session.read_after_commit_ms", (t3 - t2) / 1e6)
      }
    }
  }

  private def filesOf(p: Path): Map[String, Long] =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap

  def run(seconds: Double, rec: Recorder): Double =
    ClosedLoop.run(4, seconds) { (i, d) =>
      if (i == 0) writer(rec, d) else readers.client(rec, i, d)
    }

  /** The new keys of acknowledged batches must all exist; those of a
    * failed batch may or may not have landed. */
  override def finish(rec: Recorder): Unit = {
    // sustained rate: a mean transaction plus a mean save shared by
    // CommitsPerSave transactions, so it does not step with how many
    // saves happened to fall inside the window
    val txMs = rec.values("http.tx_ms")
    val saveMs = rec.values("core.save_ms")
    if (txMs.nonEmpty) rec.add("http.write_rows_per_s", Main.BatchRows * 1000.0 /
      (txMs.sum / txMs.size + (if (saveMs.isEmpty) 0.0 else saveMs.sum / saveMs.size) / Main.CommitsPerSave))
    rec.count("attempted")
    val c = new BoltClient(svc.boltPort)
    try {
      val res = c.run("MATCH (c:customer) WHERE c.c_custkey > $k RETURN count(*) AS n",
        Map("k" -> exp.customerCount))
      val n = res.rows.headOption.map(_.head.asInstanceOf[Long]).getOrElse(-1L)
      newKeysFound = n
      if (n < ackedNewKeys || n > nextNewKey - exp.customerCount - 1)
        rec.failure("wrong_answer.merge_count")
    } finally c.close()
    val deltaDirs = Seq("nodes_delta", "edges_delta").map(snapshot.resolve)
    rec.add("core.delta_files", deltaDirs.map(d => if (!Files.exists(d)) 0L else
      Files.walk(d).iterator().asScala.count(f => f.toString.endsWith(".parquet")).toLong).sum.toDouble)
    val inputBytes = Main.dirBytes(Paths.get(inputDir))
    rec.add("core.store_bytes_ratio", Main.dirBytes(snapshot).toDouble / math.max(1L, inputBytes))
  }

  def endToEnd(rec: Recorder, elapsed: Double): Seq[(String, (Double, String))] = {
    val xs = rec.values("bolt.read_ms")
    Seq("latency_p50_ms" -> (Recorder.median(xs), "ms"),
      "latency_p90_ms" -> (Recorder.quantile(xs, 0.9), "ms"),
      "throughput_per_s" -> (rec.values("http.write_rows_per_s").headOption.getOrElse(0.0), "1/s"))
  }
  override def tracingOverhead(rec: Recorder): Double = overhead(rec)
  def exactCounts(rec: Recorder): Seq[(String, Any)] =
    // new customers found at the end per acknowledged HTTP batch: 250
    Seq("new_keys_per_batch" -> (if (ackedBatches == 0) 0.0 else newKeysFound.toDouble / ackedBatches)) ++
      Lookups.templates.map(t => s"replay.records.${t.name}" -> rec.n(s"replay.records.${t.name}"))
}
