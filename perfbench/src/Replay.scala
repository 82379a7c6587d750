package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import graft.cypher.{CypherParser, Params}

/** Traced runs only: a serial embedded replay of the lookup templates
  * that splits each statement into parse, parameter substitution,
  * compile, Catalyst planning and execution. Parse and substitution
  * are graft's own `CypherParser.parse` and `Params.substitute` called
  * on their own; compile is the `GraftSession.cypher` call, which
  * repeats both inside it. Each phase is timed by its own clock reads
  * and a separate clock around the whole statement gives its wall
  * time, so `trace.split_residual_frac` measures the time no phase
  * accounts for. Compile, plan and execution each run under their own
  * Spark job group on the calling thread, so jobs attribute to the
  * phase exactly. */
final class Replay(spark: SparkSession, svc: Service, lookups: Lookups, tracer: Tracer,
    listener: JobListener, seed: Long, writes: Writes) {
  private val sc = spark.sparkContext

  /** Milliseconds taken by `body`, with its result. */
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def run(rec: Recorder): Unit = {
    val r = new SplittableRandom(seed * 101 + 7)
    val stmts = for (tpl <- Lookups.templates; rep <- 1 to Main.ReplayReps) yield {
      val k = lookups.pickKey(r)
      val params = Map[String, Any]("k" -> k)
      val g = s"replay-${tpl.name}-$rep"
      val acked = writes.ackedBatch(k)
      tracer.newRequest()
      rec.count("attempted")
      val w0 = System.nanoTime()
      val (rows, phases) = tracer("replay.statement") {
        val (ast, parseMs) = timed(tracer("cypher.parse")(CypherParser.parse(tpl.query)))
        val (_, substituteMs) = timed(tracer("cypher.substitute")(Params.substitute(ast, params)))
        sc.setJobGroup(s"$g-compile", tpl.name)
        val (df, compileMs) = timed(tracer("session.cypher")(svc.session.cypher(tpl.query, params)))
        sc.setJobGroup(s"$g-plan", tpl.name)
        val (_, planMs) = timed(tracer("spark.plan")(df.queryExecution.executedPlan))
        sc.setJobGroup(s"$g-exec", tpl.name)
        val (rows, execMs) = timed(tracer("spark.exec")(df.collect().toSeq.map(_.toSeq)))
        sc.clearJobGroup()
        (rows, Seq(parseMs, substituteMs, compileMs, planMs, execMs))
      }
      val wallMs = (System.nanoTime() - w0) / 1e6
      val Seq(parseMs, substituteMs, compileMs, planMs, execMs) = phases
      lookups.check(tpl, k, rows, writes, acked) match {
        case Some(err) => rec.failure(err, s"key $k rows $rows")
        case None =>
          rec.add(s"cypher.parse_ms.${tpl.name}", parseMs)
          rec.add(s"cypher.substitute_ms.${tpl.name}", substituteMs)
          rec.add(s"session.compile_ms.${tpl.name}", compileMs)
          rec.add(s"spark.plan_ms.${tpl.name}", planMs)
          rec.add(s"spark.exec_ms.${tpl.name}", execMs)
          rec.count(s"replay.records.${tpl.name}", rows.size)
          rec.add("trace.split_residual_frac", math.abs(wallMs - phases.sum) / wallMs)
      }
      (tpl.name, g, wallMs)
    }
    org.apache.spark.PerfbenchListenerDrain(sc)
    stmts.foreach { case (name, g, wallMs) =>
      val phases = Seq("compile", "plan", "exec").map(p => listener.group(s"$g-$p"))
      rec.add(s"session.compile_jobs.$name", phases(0).jobs.get.toDouble)
      rec.add(s"spark.exec_jobs.$name", phases(2).jobs.get.toDouble)
      val busy = JobListener.unionMs(phases.flatMap(_.intervals.toArray(Array.empty[(Long, Long)])))
      rec.add("spark.off_executor_share", math.max(0.0, 1.0 - busy / wallMs))
    }
  }
}
