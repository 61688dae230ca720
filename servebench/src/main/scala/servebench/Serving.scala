package servebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.collection.concurrent.TrieMap

import graft.engine.Engine
import graft.mcp.{HttpTransport, StdioServer}

/** The server under test with an optional tracing hook on `handle`: when
  * `tracer` is set, each request gets an `mcp.handle` span and a job tag
  * that ties the Spark work it starts to its request id. */
final class BenchServer(engine: Engine) extends StdioServer(engine) {
  @volatile var tracer: Option[Trace] = None
  val bytesOut = TrieMap.empty[String, Long]

  override def handle(line: String): Option[String] = tracer match {
    case None => super.handle(line)
    case Some(t) =>
      val rid = BenchServer.ridOf(line)
      val sc = engine.spark.sparkContext
      val tag = Trace.TagPrefix + rid
      sc.addJobTag(tag)
      val start = t.nowNs
      try {
        val reply = super.handle(line)
        t.add(Span(rid, "mcp.handle", "client.call", start, t.nowNs))
        bytesOut(rid) = reply.map(_.length.toLong).getOrElse(0L)
        reply
      } finally sc.removeJobTag(tag)
  }
}

object BenchServer {
  private val IdPattern = "\"id\":\"([^\"]*)\"".r
  def ridOf(line: String): String = IdPattern.findFirstMatchIn(line).map(_.group(1)).getOrElse("")

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** The JSON-RPC `tools/call` frame for one statement. */
  def request(rid: String, s: Stmt): String = {
    val args = s.args.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
    s"""{"jsonrpc":"2.0","id":"$rid","method":"tools/call","params":{"name":"${s.tool}","arguments":$args}}"""
  }

  val Initialize: String =
    """{"jsonrpc":"2.0","id":"init","method":"initialize","params":{"protocolVersion":"2025-03-26"}}"""
}

/** One caller's connection: the reply text of each request line. */
trait Conn {
  def call(line: String): String
}

/** In-process caller: the call the stdio loop makes for each line. */
final class DirectConn(server: StdioServer) extends Conn {
  def call(line: String): String = server.handle(line).getOrElse("")
}

/** HTTP caller on loopback, one keep-alive connection, with an MCP
  * session opened by `initialize`. */
final class HttpConn(port: Int, token: String) extends Conn {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val uri = URI.create(s"http://127.0.0.1:$port/mcp")
  private var session: Option[String] = None

  private def post(line: String): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(uri)
      .header("Authorization", s"Bearer $token")
      .header("Content-Type", "application/json")
    session.foreach(s => b.header("Mcp-Session-Id", s))
    http.send(b.POST(HttpRequest.BodyPublishers.ofString(line)).build(),
      HttpResponse.BodyHandlers.ofString())
  }

  session = post(BenchServer.Initialize).headers().firstValue("Mcp-Session-Id")
    .map[Option[String]](Some(_)).orElse(None)
  require(session.isDefined, "initialize returned no Mcp-Session-Id")

  def call(line: String): String = {
    val r = post(line)
    if (r.statusCode() == 200) r.body() else s"HTTP ${r.statusCode()}: ${r.body().take(200)}"
  }
}

/** A running deployment: engine, server and (for HTTP workloads) the
  * transport with its bearer token. */
final class Served(val engine: Engine, val server: BenchServer,
    val transport: Option[HttpTransport], token: String) {
  def connect(): Conn = transport match {
    case Some(t) => new HttpConn(t.boundPort, token)
    case None => new DirectConn(server)
  }
  def stop(): Unit = {
    transport.foreach(_.stop(0))
    engine.spark.stop()
  }
}
