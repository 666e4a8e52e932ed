package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** One statement of a workload: `kind` is "agg" (keep the rows for the
  * tolerance compare) or "rows" (keep a digest and a count). */
final case class Stmt(id: Int, kind: String, sql: String)

/** One scheduled op of a client: the statement and the hint to prefix. */
final case class Step(stmt: Int, priority: Int, deadlineBudgetMs: Long)

/** The run plan that `run.py` writes: tab-separated lines
  * `key<TAB>value`, `stmt<TAB>id<TAB>kind<TAB>sql`,
  * `client<TAB>c<TAB>stmt:priority:budget,...` and
  * `queue<TAB>query<TAB>query...` (the catalogue's call order). */
final case class Plan(conf: Map[String, String], stmts: IndexedSeq[Stmt],
                      clients: IndexedSeq[IndexedSeq[Step]],
                      queue: IndexedSeq[String]) {
  def str(k: String): String = conf.getOrElse(k, sys.error(s"plan has no '$k'"))
  def num(k: String): Double = str(k).toDouble
  def flag(k: String): Boolean = conf.get(k).contains("1")
}

object Plan {
  def read(path: String): Plan = {
    val conf = Map.newBuilder[String, String]
    val stmts = IndexedSeq.newBuilder[Stmt]
    val clients = IndexedSeq.newBuilder[IndexedSeq[Step]]
    val queue = IndexedSeq.newBuilder[String]
    Files.readAllLines(Paths.get(path), UTF_8).asScala.filter(_.nonEmpty).foreach { line =>
      line.split("\t", -1).toList match {
        case "stmt" :: id :: kind :: sql :: Nil => stmts += Stmt(id.toInt, kind, sql)
        case "client" :: _ :: steps :: Nil =>
          clients += steps.split(",").toIndexedSeq.map { s =>
            val Array(st, p, d) = s.split(":")
            Step(st.toInt, p.toInt, d.toLong)
          }
        case "queue" :: names => queue ++= names
        case k :: v :: Nil => conf += k -> v
        case _ => sys.error(s"bad plan line: $line")
      }
    }
    Plan(conf.result(), stmts.result(), clients.result(), queue.result())
  }
}

/** Minimal JSON writer for the result file (no library beyond Spark's jars). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
