package perfbench

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.hashing.MurmurHash3

/** One op as the client saw it. Times are System.nanoTime. `trailer` is the
  * response's last line (`done <n>` when the op succeeded). */
final case class Op(client: Int, stmt: Int, tSend: Long, tOk: Long, tFirst: Long,
                    tDone: Long, bytes: Long, rows: Long, warns: Int,
                    head: String, trailer: String, digest: Long, kept: Seq[String])

/** Order-insensitive 64-bit digest of a multiset of result lines. */
object Digest {
  def line(s: String): Long =
    (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
}

/** A closed-loop wire client on one gateway connection. */
final class Client(port: Int, val id: Int) {
  private val sock = new Socket("localhost", port)
  sock.setTcpNoDelay(true)
  private val out = new PrintWriter(new OutputStreamWriter(sock.getOutputStream, UTF_8), true)
  private val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8), 1 << 16)

  /** Send one statement line and read the whole response. Rows of an
    * `agg` statement are kept verbatim; every row feeds the digest. */
  def run(stmt: Stmt, step: Step): Op = {
    val hint =
      if (step.priority == 0 && step.deadlineBudgetMs <= 0) ""
      else {
        val kv = Seq(
          Option.when(step.priority != 0)(s"priority=${step.priority}"),
          Option.when(step.deadlineBudgetMs > 0)(
            s"deadlineMs=${System.currentTimeMillis() + step.deadlineBudgetMs}")).flatten
        kv.mkString("/*+ graft(", ", ", ") */ ")
      }
    val keep = stmt.kind == "agg"
    val kept = Seq.newBuilder[String]
    val tSend = System.nanoTime()
    out.println(hint + stmt.sql)
    val head = in.readLine()
    val tOk = System.nanoTime()
    var tFirst = tOk
    var bytes = Option(head).map(_.length + 1L).getOrElse(0L)
    var rows, digest = 0L
    var warns = 0
    var trailer = head
    if (head == "ok") {
      var first = true
      var line = in.readLine()
      while (line != null && !line.startsWith("done") && !line.startsWith("error")) {
        bytes += line.length + 1
        if (line.startsWith("warn ")) warns += 1
        else {
          if (first) { tFirst = System.nanoTime(); first = false }
          rows += 1
          digest += Digest.line(line)
          if (keep) kept += line
        }
        line = in.readLine()
      }
      if (first) tFirst = System.nanoTime()
      if (line != null) bytes += line.length + 1
      trailer = line
    }
    Op(id, stmt.id, tSend, tOk, tFirst, System.nanoTime(), bytes, rows, warns,
      String.valueOf(head), String.valueOf(trailer), digest, kept.result())
  }

  /** End the session and wait until the server has closed its side, so the
    * connection's handler is done before the caller stops Spark. */
  def close(): Unit = {
    out.println("quit")
    while (in.readLine() != null) ()
    sock.close()
  }
}
