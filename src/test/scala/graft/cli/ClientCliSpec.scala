package graft.cli

import java.net.InetSocketAddress
import org.scalatest.funsuite.AnyFunSuite

/** `ClientCli.parseArgs`: Spark-free, and every malformed argv fails
  * before a request is sent, naming what is wrong. */
class ClientCliSpec extends AnyFunSuite {

  test("a dangling --base or --token fails naming the flag") {
    Seq("--base", "--token").foreach { flag =>
      val e = intercept[IllegalArgumentException](
        ClientCli.parseArgs(Array("list", "layers", flag)))
      assert(e.getMessage == s"flag $flag requires a value")
    }
  }

  test("a non-integer tile or mask coordinate fails naming it") {
    Seq(
      (Seq("tile", "l", "z3", "1", "2"), "z", "z3"),
      (Seq("tile", "l", "3", "1.5", "2"), "x", "1.5"),
      (Seq("mask", "l", "3", "1", "y", "out.png"), "y", "y"),
    ).foreach { case (argv, name, v) =>
      val e = intercept[IllegalArgumentException](ClientCli.parseArgs(argv.toArray))
      assert(e.getMessage == s"tile coordinate $name must be an integer, got '$v'")
    }
  }

  test("an unknown command fails before any request") {
    val e = intercept[IllegalArgumentException](ClientCli.parseArgs(Array("lst", "layers")))
    assert(e.getMessage.startsWith("unknown command"), e.getMessage)
  }

  test("flags and the command parse in any order and drive the mirrored route") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]
    // through Server's factory: the JVM's first HttpServer fixes its Nagle setting
    val http = graft.server.Server.newHttpServer(new InetSocketAddress("localhost", 0))
    http.createContext("/", ex => {
      seen.add((ex.getRequestMethod, ex.getRequestURI.getRawPath,
        Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")))
      val body = "{}".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    http.start()
    try {
      val base = s"http://localhost:${http.getAddress.getPort}"
      val c = ClientCli.parseArgs(Array("tile", "a b", "--token", "t0", "3", "2", "--base",
        base, "1"))
      assert(c.base == base && c.token.contains("t0"))
      assert(c.request(new ClientCli.Client(c.base, c.token)) == (200, "{}"))
      val l = ClientCli.parseArgs(Array("--base", base, "list", "layers"))
      assert(l.token.isEmpty)
      l.request(new ClientCli.Client(l.base, l.token))
      assert(seen.toArray.toSeq == Seq(
        ("GET", "/layers/a%20b/tiles/data/3/2/1.json", "Bearer t0"),
        ("GET", "/layers.json", "")))
    } finally http.stop(0)
  }
}
