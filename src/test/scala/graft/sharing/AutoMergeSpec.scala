package graft.sharing

import graft.{SparkSpec, T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Success

class AutoMergeSpec extends SparkSpec {

  private lazy val li = T(spark, sfDir).lineitem

  private def returned = li.filter(col("l_returnflag") === "R")
    .groupBy("l_linestatus").agg(sum("l_quantity").as("qty"))
  private def taxed = li.filter(col("l_tax") > 0.05)
    .groupBy("l_linestatus")
    .agg(sum("l_extendedprice").as("rev"), count(lit(1)).as("n"))
  private def unfiltered = li.groupBy("l_linestatus")
    .agg(max("l_discount").as("mx"))
  // a member whose filter matches no row: its split must come back empty
  private def impossible = li.filter(col("l_quantity") < 0)
    .groupBy("l_linestatus").agg(sum("l_quantity").as("none"))
  private def joinShaped = li.join(T(spark, sfDir).orders,
    col("l_orderkey") === col("o_orderkey")).groupBy("l_linestatus").count()

  test("shapeOf recognizes aggregate jobs and rejects joins") {
    assert(AutoMerge.shapeOf(returned.queryExecution.analyzed).isDefined)
    assert(AutoMerge.shapeOf(unfiltered.queryExecution.analyzed)
      .exists(_.cond.isEmpty))
    assert(AutoMerge.shapeOf(joinShaped.queryExecution.analyzed).isEmpty)
  }

  test("detect groups same-relation same-keys jobs, leaves the join out") {
    val built = Seq[(String, DataFrame)]("returned" -> returned,
      "taxed" -> taxed, "unfiltered" -> unfiltered, "join" -> joinShaped)
    val (groups, unmerged) = AutoMerge.detect(built)
    assert(groups.size == 1)
    assert(groups.head.map(_._1).toSet == Set("returned", "taxed", "unfiltered"))
    assert(unmerged == Seq("join"))
  }

  test("metamorphic: auto-merged window results == isolated results") {
    val defs = Map[String, () => DataFrame](
      "returned" -> (() => returned), "taxed" -> (() => taxed),
      "unfiltered" -> (() => unfiltered), "impossible" -> (() => impossible),
      "join" -> (() => joinShaped))
    val isolated = defs.map { case (n, f) => n -> snap(f()) }
    assert(isolated("impossible").isEmpty)
    val ex = new WorkSharingExecutor(spark, autoMerge = true)
    try {
      val out = ex.runBatch(defs.toSeq.map { case (n, f) =>
        QueryJob[Seq[String]](n, _ => f(), snap)
      })
      isolated.foreach { case (n, rows) => assert(out(n) == Success(rows), s"job $n") }
    } finally ex.shutdown()
  }

  test("the merged meta-plan scans the relation once for the whole group") {
    val built = Seq[(String, DataFrame)]("returned" -> returned,
      "taxed" -> taxed, "unfiltered" -> unfiltered)
    val (groups, _) = AutoMerge.detect(built)
    val merged = AutoMerge.mergedPlan(spark, groups.head)
    val scans = "FileScan".r
      .findAllIn(merged.queryExecution.executedPlan.toString).size
    assert(scans == 1, merged.queryExecution.executedPlan)
    // every member's aggregates and presence counter are columns of the plan
    val cols = merged.columns.toSet
    assert(cols.contains("__agg_returned_qty") && cols.contains("__agg_taxed_rev")
      && cols.contains("__agg_taxed_n") && cols.contains("__agg_unfiltered_mx")
      && cols.contains("__n_returned") && cols.contains("__n_taxed"), cols)
  }

  // one merge group of four members, one of which matches no row
  private def group = {
    val built = Seq[(String, DataFrame)]("returned" -> returned,
      "taxed" -> taxed, "unfiltered" -> unfiltered, "impossible" -> impossible)
    val (groups, _) = AutoMerge.detect(built)
    assert(groups.size == 1 && groups.head.size == 4, groups)
    groups.head
  }

  private def separate: Map[String, DataFrame] = Map("returned" -> returned,
    "taxed" -> taxed, "unfiltered" -> unfiltered, "impossible" -> impossible)

  test("metamorphic: merged meta-job results == separate per-job results") {
    val g = group
    val merged = AutoMerge.mergedPlan(spark, g)
    g.foreach { case (n, shape) =>
      assert(snap(AutoMerge.split(merged, n, shape)) == snap(separate(n)), s"job $n")
    }
  }

  test("merged plan reads the scan once; separate plans read it N times") {
    def scans(df: DataFrame) =
      "FileScan".r.findAllIn(df.queryExecution.executedPlan.toString).size
    assert(scans(AutoMerge.mergedPlan(spark, group)) == 1)
    assert(separate.values.map(scans).sum == separate.size)
  }

  test("no tuple tagging: merged shuffle carries no label column") {
    val merged = AutoMerge.mergedPlan(spark, group)
    // besides the key, every column is one member's FILTERed aggregate or
    // presence count, and no Expand multiplies rows
    assert(merged.columns.forall(c => c == "l_linestatus" || c.startsWith("__agg_")
      || c.startsWith("__n_")), merged.columns.toSeq)
    val p = merged.queryExecution.sparkPlan.toString
    assert(!p.contains("Expand") && !p.contains("__tag") && !p.contains("job_tag"), p)
  }

  test("groups a job never touched are absent from its split") {
    val g = group
    val (_, none) = g.find(_._1 == "impossible").get
    assert(AutoMerge.split(AutoMerge.mergedPlan(spark, g), "impossible", none)
      .collect().isEmpty)
  }
}
