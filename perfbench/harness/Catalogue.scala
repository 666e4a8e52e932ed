package perfbench

import java.util.concurrent.atomic.AtomicInteger

import graft.{Engine, Memo, SparkEntry}

/** The declared catalogue, in process: closed-loop callers on one
  * graft.Engine.session, each taking the next SparkEntry query from one
  * shared queue, building it and writing it to the `noop` sink. */
object Catalogue {

  /** One call as the caller saw it: `error` is the thrown exception, if any. */
  final case class Call(caller: Int, name: String, t0: Long, t1: Long, t2: Long,
                        error: Option[String])

  def run(plan: Plan, outPath: String): Unit = {
    val corpus = plan.str("corpus")
    val cores = plan.num("cores").toInt
    val traced = plan.flag("trace")
    val spark = Engine.session("perfbench", Some(s"local[$cores]"), cores)
    spark.sparkContext.setLogLevel("WARN")
    val queries = SparkEntry.queries
    // set-up counts from process launch: the first call can be made now
    val setupS = (System.currentTimeMillis() - plan.num("launch_ms")) / 1e3
    val phases = Seq.newBuilder[(String, Long)]
    phases += "setup" -> System.nanoTime()
    val counters = new SparkCounters
    val catalyst = new CatalystCounters
    if (traced) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(catalyst)
    }

    val cursor = new AtomicInteger()
    def loop(seconds: Double, minOps: Int, maxSeconds: Double): (Seq[Call], Long, Long) =
      ClosedLoop.run(plan.num("callers").toInt, seconds, minOps, maxSeconds) { c =>
        val name = plan.queue(cursor.getAndIncrement() % plan.queue.size)
        val t0 = System.nanoTime()
        var t1 = t0
        val error =
          try {
            val df = queries(name)(spark, corpus)
            t1 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            None
          } catch { case e: Throwable => Some(e.toString.take(300)) }
        Call(c, name, t0, t1, System.nanoTime(), error)
      }

    loop(plan.num("warmup_s"), 0, plan.num("warmup_s"))
    phases += "warmup" -> System.nanoTime()
    val (c0, cat0) = (counters.snapshot, catalyst.snapshot)
    val (h0, m0) = (Memo.hits, Memo.misses)
    val (calls, tStart, tEnd) =
      loop(plan.num("seconds"), plan.num("min_ops").toInt, plan.num("max_seconds"))
    val (h1, m1) = (Memo.hits, Memo.misses)
    phases += "window" -> System.nanoTime()
    val memory = Counters.memoryJson()
    if (traced) Thread.sleep(300) // let the listener bus deliver the tail
    val sparkD = Counters.delta(c0, counters.snapshot)
    val catalystD = Counters.delta(cat0, catalyst.snapshot)

    def ms(t: Long): String = Json.num((t - tStart) / 1e6)
    val opsJson = calls.sortBy(_.t0).map { c =>
      Json.obj(Seq(
        "caller" -> c.caller.toString, "name" -> Json.str(c.name),
        "error" -> c.error.map(Json.str).getOrElse("null"),
        "send" -> ms(c.t0), "built" -> ms(c.t1), "done" -> ms(c.t2)))
    }
    val out = Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "window_s" -> Json.num((tEnd - tStart) / 1e9),
      "memory" -> memory,
      "phases_s" -> Gateway.phasesJson(phases.result()),
      "trace" -> (if (traced) Json.obj(Seq(
        "spark" -> Gateway.longs(sparkD),
        "catalyst" -> Gateway.longs(catalystD),
        "memo_hits" -> (h1 - h0).toString,
        "memo_misses" -> (m1 - m0).toString)) else "null"),
      "ops" -> Json.arr(opsJson)))
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      out.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
