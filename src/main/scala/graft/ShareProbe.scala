package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Pipeline, Similarity}
import graft.sharing.{QueryJob, WorkSharingExecutor}

/** Diagnostic (not an artifact lane): per-phase timing of the similarity
  * family's shared window — each fragment materialization and each job,
  * separate vs shared — to locate where sharing pays or regresses instead
  * of guessing from end-to-end totals. */
object ShareProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Engine.session(master = Some(s"local[$cpus]"),
      shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val simDir = "/tmp/graft-share/x10"

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val jobs: Seq[(String, SparkSession => DataFrame)] = Seq(
      "s01" -> (s => Similarity.s01CosineTopK(T(s, simDir))),
      "s02" -> (s => Similarity.s02HyperplaneLsh(T(s, simDir))),
      "s06" -> (s => Similarity.s06AnnRecall(T(s, simDir))),
      "s12" -> (s => Similarity.s12KnnGraph(T(s, simDir))),
      "s13" -> (s => Similarity.s13CosineBands(T(s, simDir))),
      "s14" -> (s => Similarity.s14RadiusSearch(T(s, simDir))),
      "p27" -> (s => Pipeline.p27SemanticContam(T(s, simDir))),
      "d13" -> (s => Dedup.d13SemanticClustersBucketed(T(s, simDir))))

    // warm-up
    noop(Similarity.s02HyperplaneLsh(T(spark, simDir)))

    println("=== separate ===")
    jobs.foreach { case (n, b) => time(n) { noop(b(spark)) } }

    println("=== shared: fragment materializations ===")
    import org.apache.spark.storage.StorageLevel
    val frags: Seq[(String, SparkSession => DataFrame)] = Seq(
      "id_bands"   -> (s => Similarity.idBands(T(s, simDir))),
      "s01_topk"   -> (s => Similarity.s01CosineTopK(T(s, simDir))),
      "s02_ann"    -> (s => Similarity.s02HyperplaneLsh(T(s, simDir))),
      "sym_scored" -> (s => Similarity.symScored(T(s, simDir))))
    val cached = frags.map { case (n, mk) =>
      time(s"frag:$n") {
        val df = mk(spark).persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        df
      }
    }
    println("=== shared: jobs against caches ===")
    jobs.foreach { case (n, b) =>
      val df = time(s"build:$n") { b(spark) }
      val sub = df.queryExecution.withCachedData.toString.contains("InMemoryRelation")
      time(s"run:$n (cachehit=$sub)") { noop(df) }
    }
    cached.foreach(_.unpersist())

    // same comparison through runBatch itself (concurrent job execution,
    // detector, scheduler) — isolates executor mechanics from plan effects;
    // `.get` rethrows a failed job instead of timing it
    val qjobs = jobs.map { case (n, b) => QueryJob[Unit](n, b, noop) }
    spark.catalog.clearCache()
    time("runBatch separate (warm)") {
      new WorkSharingExecutor(spark, budgetBytes = 0L).runBatch(qjobs).values.foreach(_.get)
    }
    spark.catalog.clearCache()
    time("runBatch shared (warm)") {
      val ex = new WorkSharingExecutor(spark, budgetBytes = 0L)
      try ex.runBatch(qjobs, frags).values.foreach(_.get) finally ex.shutdown()
    }
    spark.catalog.clearCache()
    time("runBatch separate (warm2)") {
      new WorkSharingExecutor(spark, budgetBytes = 0L).runBatch(qjobs).values.foreach(_.get)
    }
    spark.stop()
  }
}
