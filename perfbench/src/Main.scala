package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.{ListMap, TreeMap}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The benchmark JVM: generates its inputs from the seed, boots graft,
  * drives one workload closed-loop for `--seconds`, checks every answer
  * and prints one result line (end-to-end metrics, or per-layer ones
  * with `--trace 1`). See perfbench/spec.json for the workload and
  * metric definitions. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cpus: Int, out: String, wrongAnswer: Boolean)

  /** Scale of the generated tables (TPC-H ratios; 0.1 ≈ 15k customers).
    * The analytic workload runs at 0.03: one pass there takes 13 to 27 s
    * on 4 cores (32 s at 0.1), which fits a run's time budget. The
    * service workload runs at 0.01: its statements are point lookups
    * and 500-row merges, and a larger import only lengthens set-up. */
  def scaleFactor(workload: String): Double = if (workload == "olap_batch") 0.03 else 0.01
  /** JIT warm-up import scale. */
  val WarmScaleFactor = 0.001
  /** Timed boots per run; set-up time is the import plus their median. */
  val SetupReps = 2
  /** Untimed workload warm-up on the booted service before measuring. */
  val WarmupSeconds = 2.0
  val BatchRows = 500
  /** Saves per commit: every 3rd, so a run of a few commits still saves. */
  val CommitsPerSave = 3
  val ReplayReps = 3

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("cpus").toInt, kv("out"), kv.get("wrong-answer").contains("1"))
    val code = try { run(o); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    // endpoint and Spark threads must not keep the JVM alive
    Runtime.getRuntime.halt(code)
  }

  private val born = System.nanoTime()
  /** Phase progress on stderr (the result lines own stdout). */
  def log(msg: String): Unit = System.err.println(f"perfbench ${(System.nanoTime() - born) / 1e9}%7.1fs $msg")

  def run(o: Opts): Unit = {
    val loadAtStart = Host.loadAverage
    val cal0 = Host.calibrate(o.cpus)
    log("calibrated")
    val spark = SparkSession.builder().master(s"local[${o.cpus}]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    log("spark started")
    val tmp = Files.createTempDirectory("perfbench")
    val tracer = new Tracer(o.trace)
    val rec = new Recorder
    val services = scala.collection.mutable.ArrayBuffer[Service]()
    try {
      val input = s"$tmp/input"
      val warmInput = s"$tmp/warm-input"
      val olap = o.workload == "olap_batch"
      Data.generate(spark, warmInput, o.seed, Data.sizes(WarmScaleFactor), corpus = false)
      // JIT warm-up on a tiny import (answers unchecked, nothing
      // recorded), overlapped with generating the measured inputs: both
      // happen before anything is timed
      import scala.concurrent.{Await, ExecutionContext, Future}
      val warming = Future {
        val warmExp = new Expected(spark, warmInput)
        Service.importSnapshot(spark, warmInput, s"$tmp/warm-data", new Tracer(false))
        val warm = Service.boot(spark, s"$tmp/warm-data", new Tracer(false),
          1L, warmExp.customer(1L)).service
        try warmUp(warm, o.workload) finally warm.stop()
        log("JIT warm-up done")
      }(ExecutionContext.global)
      val scale = scaleFactor(o.workload)
      Data.generate(spark, input, o.seed, Data.sizes(scale), corpus = olap)
      log("inputs generated")
      val exp = new Expected(spark, input)
      val lookups = new Lookups(exp, o.seed, o.wrongAnswer)
      val first = (1L, exp.customer(1L))
      if (olap) exp.prepareOlap()
      log("expected answers computed")
      Await.result(warming, scala.concurrent.duration.Duration.Inf)
      log("inputs generated and JIT warmed")

      // timed set-up: one import, then boots of the snapshot; the
      // import's cost barely varies, booting twice keeps the median
      val dataDir = s"$tmp/data"
      val importS = Service.importSnapshot(spark, input, dataDir, tracer)
      val boots = (1 to SetupReps).map { i =>
        val b = Service.boot(spark, dataDir, tracer, first._1, first._2)
        services += b.service
        if (i < SetupReps) b.service.stop()
        b
      }
      rec.add("core.import_s", importS)
      boots.foreach { b =>
        rec.add("setup_s", importS + b.bootS)
        rec.add("core.load_ms", b.loadMs)
      }
      val svc = boots.last.service
      val heapAfterSetup = Host.heapAfterGcMb()
      log(f"set-up done: import $importS%.2f s, boots ${boots.map(b => f"${b.bootS}%.2f").mkString(" ")} s")

      // untimed warm-up of the workload itself, then the measured phase
      val w = o.workload match {
        case "ingest_mixed" => new IngestMixed(spark, svc, lookups, exp, input, o, tracer, listener)
        case "olap_batch" => new OlapBatch(spark, svc, exp, input, o, tracer, listener)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (w.warmupSeconds > 0) w.run(w.warmupSeconds, new Recorder)
      log("workload warm-up done")
      val (gc0, gcMs0) = Host.gc
      val jobs0 = listener.total.jobs.get; val tasks0 = listener.total.tasks.get
      val shufR0 = listener.total.shuffleRecords.get; val shufB0 = listener.total.shuffleBytes.get
      val elapsed = w.run(o.seconds, rec)
      val (gc1, gcMs1) = Host.gc
      org.apache.spark.PerfbenchListenerDrain(spark.sparkContext)
      val stmts = math.max(1L, rec.n("statements"))
      rec.add("spark.jobs_per_stmt", (listener.total.jobs.get - jobs0).toDouble / stmts)
      rec.add("spark.tasks_per_stmt", (listener.total.tasks.get - tasks0).toDouble / stmts)
      rec.add("spark.shuffle_write_records", (listener.total.shuffleRecords.get - shufR0).toDouble)
      rec.add("spark.shuffle_write_bytes", (listener.total.shuffleBytes.get - shufB0).toDouble)
      rec.add("jvm.gc_count", (gc1 - gc0).toDouble)
      rec.add("jvm.gc_ms", (gcMs1 - gcMs0).toDouble)
      log("measured phase done")
      w.finish(rec)
      if (o.trace) w.replay(rec)
      log("checks and replay done")
      val heapEnd = Host.heapAfterGcMb()
      rec.add("jvm.heap_after_gc_mb", heapEnd)
      val cal1 = Host.calibrate(o.cpus)

      val e2e = w.endToEnd(rec, elapsed) ++ Seq(
        "setup_s" -> (Recorder.median(rec.values("setup_s")), "s"),
        "heap_peak_mb" -> (math.max(heapAfterSetup, heapEnd), "MB"))
      val layers = perLayer(rec, w)
      val attempted = rec.n("attempted")
      val failed = rec.n("failed")
      if (o.trace) {
        tracer.write(Paths.get(o.out, s"spans-${o.workload}-seed${o.seed}.jsonl"))
      }
      val report = ListMap(
        "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
        "measured_s" -> elapsed, "trace" -> o.trace, "scale_factor" -> scale,
        "host" -> ListMap("nproc" -> o.cpus, "load_avg_start" -> loadAtStart,
          "calibration" -> ListMap("single_start_s" -> cal0._1, "multi_start_s" -> cal0._2,
            "single_end_s" -> cal1._1, "multi_end_s" -> cal1._2)),
        "tables" -> ListMap(Data.Tables.filter(t => Files.exists(Paths.get(s"$input/$t.parquet")))
          .map(t => t -> (spark.read.parquet(s"$input/$t.parquet").count(): Any)): _*),
        "failed_frac" -> failed.toDouble / math.max(1L, attempted),
        "errors" -> TreeMap.from(rec.errorClasses),
        "error_examples" -> TreeMap.from(rec.errorExamples),
        "samples" -> TreeMap.from(rec.sampleCounts),
        "end_to_end" -> ListMap.from(e2e.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }),
        "per_layer" -> ListMap.from(layers.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }),
        "spans" -> (if (o.trace) tracer.names.toSeq.sorted else Nil),
        "exact_counts" -> ListMap.from(w.exactCounts(rec)),
        "latency_samples_ms" -> ListMap(
          Seq("bolt.read_ms", "http.tx_ms", "core.save_ms").map(n => n -> rec.values(n)) :+
            ("olap.stmt_ms" -> rec.values("olap.stmt_s").map(_ * 1000)): _*))
      println("report " + json(report))
      val metrics = (if (o.trace) layers else e2e)
        .map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }
      println(json(ListMap("correct" -> (failed == 0), "attempted" -> attempted,
        "failed" -> failed, "metrics" -> ListMap(metrics.toSeq: _*))))
    } finally {
      // the JVM halts next, which ends Spark's threads; only files need removing
      services.foreach(s => try s.stop() catch { case _: Throwable => () })
      deleteDir(tmp)
    }
  }

  /** Per-layer metrics: every name on every workload (0 where a layer
    * does no work there, which is itself a prediction to check). */
  private def perLayer(rec: Recorder, w: Workload): Seq[(String, (Double, String))] = {
    def med(n: String) = Recorder.median(rec.values(n))
    def p90(n: String) = rec.quantile(n, 0.9)
    val tpl = Lookups.templates.map(_.name)
    Seq(
      "bolt.read_p50_ms" -> (med("bolt.read_ms"), "ms"),
      "bolt.read_p90_ms" -> (p90("bolt.read_ms"), "ms"),
      "bolt.run_ms_p50" -> (med("bolt.run_ms"), "ms"),
      "bolt.run_ms_p90" -> (p90("bolt.run_ms"), "ms"),
      "bolt.pull_ms_p50" -> (med("bolt.pull_ms"), "ms"),
      "bolt.bytes_per_read" -> (med("bolt.bytes"), "bytes"),
      "bolt.gated_reads" -> (rec.n("bolt.gated_reads").toDouble, "count"),
      "bolt.save_wait_ms" -> (rec.values("bolt.save_wait_ms").sum, "ms"),
      "http.open_ms_p50" -> (med("http.open_ms"), "ms"),
      "http.commit_ms_p50" -> (med("http.commit_ms"), "ms"),
      "http.tx_ms_p50" -> (med("http.tx_ms"), "ms"),
      "http.tx_ms_p90" -> (p90("http.tx_ms"), "ms"),
      "http.write_rows_per_s" -> (rec.values("http.write_rows_per_s").headOption.getOrElse(0.0), "1/s")) ++
    tpl.flatMap(t => Seq(
      s"cypher.parse_ms.$t" -> (med(s"cypher.parse_ms.$t"), "ms"),
      s"cypher.substitute_ms.$t" -> (med(s"cypher.substitute_ms.$t"), "ms"),
      s"session.compile_ms.$t" -> (med(s"session.compile_ms.$t"), "ms"),
      s"session.compile_jobs.$t" -> (med(s"session.compile_jobs.$t"), "count"),
      s"spark.plan_ms.$t" -> (med(s"spark.plan_ms.$t"), "ms"),
      s"spark.exec_ms.$t" -> (med(s"spark.exec_ms.$t"), "ms"),
      s"spark.exec_jobs.$t" -> (med(s"spark.exec_jobs.$t"), "count"))) ++
    Seq(
      "cypher.parse_ms.merge" -> (med("cypher.parse_ms.merge"), "ms"),
      "session.mutate_ms" -> (med("session.mutate_ms"), "ms"),
      "session.commit_ms" -> (med("session.commit_ms"), "ms"),
      "session.read_after_commit_ms_p50" -> (med("session.read_after_commit_ms"), "ms"),
      "spark.jobs_per_stmt" -> (med("spark.jobs_per_stmt"), "count"),
      "spark.tasks_per_stmt" -> (med("spark.tasks_per_stmt"), "count"),
      "spark.shuffle_write_records" -> (med("spark.shuffle_write_records"), "count"),
      "spark.shuffle_write_bytes" -> (med("spark.shuffle_write_bytes"), "bytes"),
      "spark.off_executor_share" -> (med("spark.off_executor_share"), "fraction"),
      "trace.split_residual_frac" -> (rec.values("trace.split_residual_frac").maxOption.getOrElse(0.0), "fraction"),
      "trace.overhead_ratio" -> (w.tracingOverhead(rec), "ratio"),
      "core.import_s" -> (med("core.import_s"), "s"),
      "core.load_ms" -> (med("core.load_ms"), "ms"),
      "core.save_ms_p50" -> (med("core.save_ms"), "ms"),
      "core.bytes_written_per_save" -> (med("core.bytes_written"), "bytes"),
      "core.delta_files" -> (rec.values("core.delta_files").lastOption.getOrElse(0.0), "count"),
      "core.store_bytes_ratio" -> (rec.values("core.store_bytes_ratio").lastOption.getOrElse(0.0), "ratio")) ++
    OlapBatch.Jobs.flatMap { j =>
      Seq(s"${j.layer}.${j.name}_s" -> (med(s"olap.${j.name}_s"), "s")) ++
        (if (j.layer == "procs") Seq(
          s"procs.${j.name}_jobs" -> (med(s"olap.${j.name}_jobs"), "count"),
          s"procs.${j.name}_shuffle_records" -> (med(s"olap.${j.name}_shuffle_records"), "count"))
        else Nil)
    } ++ Seq(
      "olap.pass_s" -> (med("olap.pass_s"), "s"),
      "jvm.gc_ms" -> (med("jvm.gc_ms"), "ms"),
      "jvm.gc_count" -> (med("jvm.gc_count"), "count"),
      "jvm.heap_after_gc_mb" -> (med("jvm.heap_after_gc_mb"), "MB"),
      "bench.failed_frac" -> (rec.n("failed").toDouble / math.max(1L, rec.n("attempted")), "fraction"))
  }

  /** Warm JIT and codegen on the tiny import: the workload's own
    * statements, a few times each, answers unchecked. */
  private def warmUp(svc: Service, workload: String): Unit = {
    val c = new BoltClient(svc.boltPort)
    try {
      for (k <- 1L to 3L)
        try c.run(Lookups.Point.query, Map("k" -> k)) catch { case _: ServerError => () }
    } finally c.close()
    if (workload == "ingest_mixed") {
      val h = new HttpTxClient(svc.httpPort)
      for (b <- 1 to 3) {
        val rows = (1 to 20).map(i => IngestMixed.row(i.toLong * b, b.toLong))
        h.openAndCommit(Lookups.MergeQuery, IngestMixed.params(rows))
      }
      svc.session.saveDatabase(svc.dataDir)
    }
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  /** JSON text of Scala values; ListMaps keep their key order. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def deleteDir(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
}

/** A workload: runs closed-loop clients for a time budget and reduces
  * its samples to the end-to-end metrics. */
trait Workload {
  /** Drive the clients for `seconds`; returns the measured wall seconds. */
  def run(seconds: Double, rec: Recorder): Double
  /** Post-run checks and measurements (outside the timed window). */
  def finish(rec: Recorder): Unit = ()
  def endToEnd(rec: Recorder, elapsed: Double): Seq[(String, (Double, String))]
  def tracingOverhead(rec: Recorder): Double = 0.0
  /** Counts that must repeat exactly for one seed. */
  def exactCounts(rec: Recorder): Seq[(String, Any)]
  /** Untimed run of the workload on the booted service before measuring. */
  def warmupSeconds: Double = Main.WarmupSeconds
  /** Traced runs: the workload's own serial embedded replay. */
  def replay(rec: Recorder): Unit = ()
}

/** Runs `n` client threads until `seconds` pass; each thread gets its
  * index. Returns the wall seconds until the last client finished. */
object ClosedLoop {
  def run(n: Int, seconds: Double)(client: (Int, Long) => Unit): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until n).map { i =>
      val t = new Thread(() => try client(i, deadline) catch { case e: Throwable => errors.add(e); () })
      t.start(); t
    }
    ts.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    (System.nanoTime() - t0) / 1e9
  }
}
