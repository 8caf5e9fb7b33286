package graft.cli

import graft.server.Server.encodeSegment
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** CLI client mirroring the server routes (reference: cli/client.go:317-590
  * generates `railgun client <type> add/get/update/delete/list` + exec from
  * struct tags; ours is a thin explicit mirror).
  *
  * Usage:
  *   runMain graft.cli.ClientCli --base http://host:port [--token T]
  *     list <kind> | get <kind> <name> | delete <kind> <name>
  *     | add <kind> <json> | update <kind> <name> <json>
  *     | exec <services|jobs|workflows> <name> [json]
  *     | tile <layer> <z> <x> <y> | mask <layer> <z> <x> <y> <out.png>
  *     | authenticate <user> <password>
  */
object ClientCli {

  final class Client(base: String, token: Option[String] = None) {
    private val http = HttpClient.newHttpClient()

    private def req(path: String): HttpRequest.Builder = {
      val b = HttpRequest.newBuilder(URI.create(base + path))
      token.fold(b)(t => b.header("Authorization", s"Bearer $t"))
    }

    private def send(r: HttpRequest): (Int, String) = {
      val resp = http.send(r, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }

    private def jsonStr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t") + "\""

    def authenticate(user: String, password: String): (Int, String) =
      send(req("/authenticate.json").POST(HttpRequest.BodyPublishers.ofString(
        s"""{"username":${jsonStr(user)},"password":${jsonStr(password)}}""")).build())

    def list(kind: String): (Int, String) = send(req(s"/$kind.json").GET().build())
    def get(kind: String, name: String): (Int, String) =
      send(req(s"/$kind/${encodeSegment(name)}.json").GET().build())
    def delete(kind: String, name: String): (Int, String) =
      send(req(s"/$kind/${encodeSegment(name)}.json").DELETE().build())
    def add(kind: String, json: String): (Int, String) =
      send(req(s"/$kind.json").POST(HttpRequest.BodyPublishers.ofString(json)).build())
    def update(kind: String, name: String, json: String): (Int, String) =
      send(req(s"/$kind/${encodeSegment(name)}.json")
        .PUT(HttpRequest.BodyPublishers.ofString(json)).build())
    def exec(kind: String, name: String, body: String = ""): (Int, String) =
      send(req(s"/$kind/${encodeSegment(name)}/exec.json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build())
    // the streaming serving-job lifecycle verbs (the CLI serve-* jobs'
    // catalog-driven form): start/stop are auth'd mutations, status a read
    def servingStart(name: String): (Int, String) =
      send(req(s"/servingjobs/${encodeSegment(name)}/start.json")
        .POST(HttpRequest.BodyPublishers.noBody()).build())
    def servingStatus(name: String): (Int, String) =
      send(req(s"/servingjobs/${encodeSegment(name)}/status.json").GET().build())
    def servingStop(name: String): (Int, String) =
      send(req(s"/servingjobs/${encodeSegment(name)}/stop.json")
        .POST(HttpRequest.BodyPublishers.noBody()).build())
    def tile(layer: String, z: Int, x: Long, y: Long, qs: String = ""): (Int, String) =
      send(req(s"/layers/${encodeSegment(layer)}/tiles/data/$z/$x/$y.json$qs").GET().build())
    def maskBytes(layer: String, z: Int, x: Long, y: Long): (Int, Array[Byte]) = {
      val resp = http.send(
        req(s"/layers/${encodeSegment(layer)}/tiles/mask/$z/$x/$y.png").GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      (resp.statusCode(), resp.body())
    }
  }

  /** Parsed argv: where to send the request, and the request itself. */
  final case class Config(base: String, token: Option[String],
                          request: Client => (Int, String))

  /** Spark-free argv parsing: a dangling `--base`/`--token`, an unknown
    * command or a non-integer tile coordinate fails here, naming it. */
  def parseArgs(args: Array[String]): Config = {
    var base = "http://localhost:8080"; var token: Option[String] = None
    val rest = List.newBuilder[String]
    val a = new Argv(args)
    while (a.more) a.flag() match {
      case "--base"  => base = a.value()
      case "--token" => token = Some(a.value())
      case other     => rest += other
    }
    Config(base, token, request(rest.result()))
  }

  private def coord[A](name: String, v: String)(parse: String => Option[A]): A =
    parse(v).getOrElse(throw new IllegalArgumentException(
      s"tile coordinate $name must be an integer, got '$v'"))

  private def tileArgs(z: String, x: String, y: String): (Int, Long, Long) =
    (coord("z", z)(_.toIntOption), coord("x", x)(_.toLongOption),
      coord("y", y)(_.toLongOption))

  private def request(command: List[String]): Client => (Int, String) = command match {
    case "authenticate" :: u :: p :: Nil => _.authenticate(u, p)
    case "list" :: kind :: Nil           => _.list(kind)
    case "get" :: kind :: name :: Nil    => _.get(kind, name)
    case "delete" :: kind :: name :: Nil => _.delete(kind, name)
    case "add" :: kind :: json :: Nil    => _.add(kind, json)
    case "update" :: kind :: name :: json :: Nil => _.update(kind, name, json)
    case "exec" :: kind :: name :: tail  => _.exec(kind, name, tail.mkString(" "))
    case "serving" :: "start" :: name :: Nil  => _.servingStart(name)
    case "serving" :: "status" :: name :: Nil => _.servingStatus(name)
    case "serving" :: "stop" :: name :: Nil   => _.servingStop(name)
    case "tile" :: layer :: z :: x :: y :: Nil =>
      val (zi, xi, yi) = tileArgs(z, x, y)
      _.tile(layer, zi, xi, yi)
    case "mask" :: layer :: z :: x :: y :: out :: Nil =>
      val (zi, xi, yi) = tileArgs(z, x, y)
      c => {
        val (code, bytes) = c.maskBytes(layer, zi, xi, yi)
        java.nio.file.Files.write(java.nio.file.Paths.get(out), bytes)
        (code, s"wrote ${bytes.length} bytes to $out")
      }
    case other => throw new IllegalArgumentException(s"unknown command: $other")
  }

  def main(args: Array[String]): Unit = {
    val c = parseArgs(args)
    val (code, body) = c.request(new Client(c.base, c.token))
    println(body)
    if (code >= 400) sys.exit(1)
  }
}
