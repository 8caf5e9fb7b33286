package graft.cli

import org.apache.spark.sql.SparkSession
import graft.util.Sessions

/** `dfl eval` command: evaluate a DFL expression against a JSON context;
  * a Boolean result sets the process exit code (0=true, 1=false) exactly
  * like the reference (reference: cli/eval.go:174-186).
  *
  * Usage: runMain graft.cli.EvalCli --dfl EXPR [--context '{"k":1}'] [--var k=v]
  */
object EvalCli {
  def main(args: Array[String]): Unit = {
    var dfl = ""; var context = "{}"; var vars = Map.empty[String, Any]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--dfl"     => i += 1; dfl = args(i)
        case "--context" => i += 1; context = args(i)
        case "--var" =>
          i += 1; val kv = args(i); val j = kv.indexOf('=')
          vars = vars + (kv.take(j) -> graft.io.TextFormats.parseScalar(kv.drop(j + 1)))
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
      i += 1
    }
    val spark = Sessions.create("graft-eval", Sessions.master(2))
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      // lenient JSON: shell quoting tends to strip double quotes
      val df = spark.read
        .option("allowUnquotedFieldNames", true)
        .option("allowSingleQuotes", true)
        .json(Seq(context).toDS())
      val out = graft.dfl.DflFrame.pipeline(df, s"map(@, ${quote(dfl)})", vars)
      val v = out.collect().headOption.map(_.get(0)).orNull
      v match {
        case b: Boolean =>
          println(b)
          spark.stop()
          sys.exit(if (b) 0 else 1)
        case other =>
          println(String.valueOf(other))
      }
    } finally if (SparkSession.getActiveSession.nonEmpty) spark.stop()
  }

  private def quote(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
}
