package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

object Harness {
  /** `Harness <plan file> <result file>`; see perfbench/run.py. */
  def main(args: Array[String]): Unit = {
    val plan = Plan.read(args(0))
    if (plan.str("workload") == "catalogue") Catalogue.run(plan, args(1))
    else Gateway.run(plan, args(1))
    // a thread the program left running must not keep the JVM alive
    sys.exit(0)
  }
}

/** The closed loop both kinds of workload run: each caller thread starts its
  * next op as soon as its last one ended. */
object ClosedLoop {
  /** Run `callers` threads calling `op(caller)` for `seconds`, longer until
    * `minOps` ops have ended, but never starting one after `maxSeconds`.
    * Returns the ops and the window's start and end (System.nanoTime). */
  def run[T](callers: Int, seconds: Double, minOps: Int, maxSeconds: Double)
            (op: Int => T): (Seq[T], Long, Long) = {
    val ops = new ConcurrentLinkedQueue[T]()
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val hard = t0 + (maxSeconds * 1e9).toLong
    val threads = (0 until callers).map { c =>
      val t = new Thread(() => {
        var now = System.nanoTime()
        while (now < end || (ops.size < minOps && now < hard)) {
          ops.add(op(c))
          now = System.nanoTime()
        }
      }, s"perfbench-caller-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    (ops.asScala.toSeq, t0, System.nanoTime())
  }
}
