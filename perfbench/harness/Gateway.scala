package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Engine, Memo, Tables}
import graft.server.{DeadlineTelemetry, QueryGateway}
import graft.sharing.{BatchWindow, JobMeta, QueryJob, WorkSharingExecutor}

/** Closed-loop wire workloads: socket clients against a QueryGateway,
  * optionally batching through BatchWindow -> WorkSharingExecutor. */
object Gateway {

  def run(plan: Plan, outPath: String): Unit = {
    val corpus = plan.str("corpus")
    val cores = plan.num("cores").toInt
    val batching = plan.flag("batching")
    val traced = plan.flag("trace")
    val catalystConn, catalystRoot = new CatalystCounters
    val sparkCounters = new SparkCounters

    val spark = Engine.session("perfbench", Some(s"local[$cores]"), cores)
    spark.sparkContext.setLogLevel("WARN")
    Tables.register(spark, corpus) // windowed jobs run on the root session
    // the soak configuration of the batching gateway
    val ex = Option.when(batching)(new WorkSharingExecutor(spark))
    val win = ex.map(new BatchWindow[Seq[String]](_, windowSize = 4, maxWaitMs = 1000))
    val gw = new QueryGateway(spark, s => {
      Tables.register(s, corpus)
      if (traced) s.listenerManager.register(catalystConn)
    }, maxHintPriority = 9, batching = win)
    val clients = plan.clients.indices.map(new Client(gw.boundPort, _))
    // set-up counts from process launch: the clients can send now
    val setupS = (System.currentTimeMillis() - plan.num("launch_ms")) / 1e3
    val phases = Seq.newBuilder[(String, Long)]
    phases += "setup" -> System.nanoTime()
    if (traced) {
      spark.listenerManager.register(catalystRoot)
      spark.sparkContext.addSparkListener(sparkCounters)
    }

    val cursors = plan.clients.map(_ => new AtomicInteger())
    def loop(seconds: Double, minOps: Int, maxSeconds: Double): (Seq[Op], Long, Long) =
      ClosedLoop.run(clients.size, seconds, minOps, maxSeconds) { c =>
        val steps = plan.clients(c)
        val step = steps(cursors(c).getAndIncrement() % steps.size)
        clients(c).run(plan.stmts(step.stmt), step)
      }

    // reference answers of the row statements, from isolated sessions on a
    // pool of their own while the clients warm up, so outside the timed
    // region (aggregates are checked against DuckDB instead)
    val refPool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val refsFuture = {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(refPool)
      scala.concurrent.Future.traverse(plan.stmts.filter(_.kind == "rows")) { st =>
        scala.concurrent.Future {
          val s = spark.newSession()
          Tables.register(s, corpus)
          val it = s.sql(st.sql).toJSON.toLocalIterator()
          var n, d = 0L
          while (it.hasNext) { d += Digest.line(it.next()); n += 1 }
          st.id -> (n, d)
        }
      }
    }
    loop(plan.num("warmup_s"), 0, plan.num("warmup_s"))
    val refs = try Await.result(refsFuture, 10.minutes) finally refPool.shutdown()
    phases += "warmup" -> System.nanoTime()
    DeadlineTelemetry.reset()
    val spark0 = sparkCounters.snapshot
    val conn0 = catalystConn.snapshot
    val root0 = catalystRoot.snapshot
    val (h0, m0) = (Memo.hits, Memo.misses)
    val (ops, tStart, tEnd) =
      loop(plan.num("seconds"), plan.num("min_ops").toInt, plan.num("max_seconds"))
    val (h1, m1) = (Memo.hits, Memo.misses)
    phases += "window" -> System.nanoTime()
    val memory = Counters.memoryJson()
    if (traced) Thread.sleep(300) // let the listener bus deliver the tail
    val sparkD = Counters.delta(spark0, sparkCounters.snapshot)
    val connD = Counters.delta(conn0, catalystConn.snapshot)
    val rootD = Counters.delta(root0, catalystRoot.snapshot)
    val (dTotal, dMissed, _) = DeadlineTelemetry.snapshot

    val traceJson =
      if (!traced) "null"
      else {
        val audit = auditTimes(spark, corpus, plan.stmts)
        val sharing = win.map(w => sharingPhase(w, plan)).getOrElse("null")
        Json.obj(Seq(
          "spark" -> longs(sparkD),
          "catalyst_conn" -> longs(connD),
          "catalyst_root" -> longs(rootD),
          "memo_hits" -> (h1 - h0).toString,
          "memo_misses" -> (m1 - m0).toString,
          "deadline_total" -> dTotal.toString,
          "deadline_missed" -> dMissed.toString,
          "parse_ms" -> Json.obj(audit.map { case (id, ms, _) => id.toString -> Json.num(ms) }),
          "audit_ms" -> Json.obj(audit.map { case (id, _, ms) => id.toString -> Json.num(ms) }),
          "sharing" -> sharing,
          "cached_entries" -> ex.map(_.cachedFingerprints.size.toString).getOrElse("0")))
      }
    phases += "trace" -> System.nanoTime()

    def ms(t: Long): String = Json.num((t - tStart) / 1e6)
    val opsJson = ops.sortBy(_.tSend).map { o =>
      Json.obj(Seq(
        "client" -> o.client.toString, "stmt" -> o.stmt.toString,
        "send" -> ms(o.tSend), "ok" -> ms(o.tOk), "first" -> ms(o.tFirst), "done" -> ms(o.tDone),
        "bytes" -> o.bytes.toString, "rows" -> o.rows.toString, "warns" -> o.warns.toString,
        "head" -> Json.str(o.head), "trailer" -> Json.str(o.trailer),
        "digest" -> Json.str(o.digest.toString), "kept" -> Json.arr(o.kept.map(Json.str))))
    }
    val out = Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "window_s" -> Json.num((tEnd - tStart) / 1e9),
      "memory" -> memory,
      "phases_s" -> phasesJson(phases.result()),
      "refs" -> Json.obj(refs.map { case (id, (n, d)) =>
        id.toString -> Json.obj(Seq("rows" -> n.toString, "digest" -> Json.str(d.toString)))
      }),
      "trace" -> traceJson,
      "ops" -> Json.arr(opsJson)))
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      out.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    clients.foreach(_.close())
    gw.close()
    win.foreach(_.close())
    ex.foreach(_.shutdown())
    spark.stop()
  }

  /** Seconds each phase took, from the end of the one before. */
  def phasesJson(ps: Seq[(String, Long)]): String =
    Json.obj(ps.zip(ps.drop(1)).map { case ((_, a), (k, b)) => k -> Json.num((b - a) / 1e9) })

  def longs(m: Map[String, Long]): String =
    Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })

  /** Per statement, the median ms of five timed calls of the SQL parser and
    * of PairJoinAudit.inspect on the analyzed plan (analysis is untimed). */
  private def auditTimes(spark: SparkSession, corpus: String,
                         stmts: Seq[Stmt]): Seq[(Int, Double, Double)] = {
    val s = spark.newSession()
    Tables.register(s, corpus)
    def medianMs(body: => Unit): Double = {
      val times = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e6
      }.sorted
      times(times.size / 2)
    }
    stmts.map { st =>
      val parsed = s.sessionState.sqlParser.parsePlan(st.sql)
      val analyzed = s.sessionState.executePlan(parsed).analyzed
      (st.id, medianMs(s.sessionState.sqlParser.parsePlan(st.sql)),
        medianMs(graft.plans.PairJoinAudit.inspect(analyzed, s)))
    }
  }

  /** Drive BatchWindow.submit directly with the workload's statements from
    * one thread per client, wrapping the QueryJob build and action closures
    * to time the window and the sharing executor from outside. */
  private def sharingPhase(win: BatchWindow[Seq[String]], plan: Plan): String = {
    // (kind, job, nanoTime): kind is submit, build, act0 or act1
    val events = new ConcurrentLinkedQueue[(String, String, Long)]()
    def ev(kind: String, job: String): Unit = events.add((kind, job, System.nanoTime()))
    val perClient = plan.num("sharing_ops_per_client").toInt
    val threads = plan.clients.indices.map { c =>
      val t = new Thread(() => {
        (0 until perClient).foreach { k =>
          val step = plan.clients(c)(k % plan.clients(c).size)
          val sql = plan.stmts(step.stmt).sql
          val name = s"sh-$c-$k"
          val job = QueryJob[Seq[String]](name,
            s => { ev("build", name); s.sql(sql) },
            df => {
              ev("act0", name)
              val rows = df.toJSON.toLocalIterator().asScala.toSeq
              ev("act1", name)
              rows
            },
            JobMeta(priority = step.priority))
          ev("submit", name)
          Await.result(win.submit(job), 10.minutes)
        }
      }, s"perfbench-sharing-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    val es = events.asScala.toSeq.sortBy(_._3)
    def at(kind: String): Map[String, Long] = es.collect { case (`kind`, j, t) => j -> t }.toMap
    val (submit, build, act0, act1) = (at("submit"), at("build"), at("act0"), at("act1"))
    // a batch is a run of builds (the window thread builds every job of a
    // window before any of its actions start)
    val batches = Seq.newBuilder[(Seq[Long], Long)]
    var builds = Seq.empty[Long]
    es.foreach {
      case ("build", _, t) => builds :+= t
      case ("act0", _, t) if builds.nonEmpty => batches += ((builds, t)); builds = Nil
      case _ =>
    }
    val bs = batches.result()
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Json.obj(Seq(
      "ops" -> build.size.toString,
      "batches" -> bs.size.toString,
      "wait_ms" -> Json.arr(build.map { case (j, t) => Json.num((t - submit(j)) / 1e6) }),
      "prelude_ms" -> Json.arr(bs.map { case (b, a) => Json.num((a - b.max) / 1e6) }),
      "action_ms" -> Json.arr(act1.map { case (j, t) => Json.num((t - act0(j)) / 1e6) }),
      "jobs_per_batch" -> Json.num(mean(bs.map(_._1.size.toDouble)))))
  }
}
