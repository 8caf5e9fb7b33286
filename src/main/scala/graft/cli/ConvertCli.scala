package graft.cli

import org.apache.spark.sql.SparkSession
import graft.io.DataStoreIO
import graft.util.Sessions

/** `gss convert` mirror (reference: cli/convert.go:23-50): deserialize the
  * input in one format, serialize to another — no DFL, pure format
  * conversion through the same [[graft.io.DataStoreIO]] codecs the engine
  * uses. The reference reads stdin and prints to stdout; this accepts any
  * URI on both sides, with `-` for the std streams.
  *
  * Usage:
  *   runMain graft.cli.ConvertCli
  *     [--input-uri F|-] [--input-format f] [--input-header a,b,c]
  *     [--input-comment '#'] [--input-skip N] [--input-limit N]
  *     [--output-uri F|-] --output-format f
  *     [--output-compression gzip|bzip2|zip] [--output-limit N]
  */
object ConvertCli {

  final case class Config(
      inputUri: String = "-",
      inputFormat: String = "",
      inputHeader: Option[Seq[String]] = None,
      inputComment: Option[Char] = None,
      inputSkip: Int = 0,
      inputLimit: Option[Int] = None,
      outputUri: String = "-",
      outputFormat: String = "",
      outputCompression: String = "",
      outputLimit: Option[Int] = None,
  )

  def parseArgs(args: Array[String]): Config = {
    var c = Config()
    val a = new Argv(args)
    while (a.more) {
      a.flag() match {
        case "--input-uri"          => c = c.copy(inputUri = a.value())
        case "--input-format"       => c = c.copy(inputFormat = a.value())
        case "--input-header"       => c = c.copy(inputHeader = Some(a.value().split(',').toSeq))
        case "--input-comment"      =>
          val v = a.value()
          if (v.isEmpty)
            throw new IllegalArgumentException("--input-comment needs a non-empty character")
          c = c.copy(inputComment = Some(v.head))
        case "--input-skip"         => c = c.copy(inputSkip = a.int())
        case "--input-limit"        => c = c.copy(inputLimit = Some(a.int()))
        case "--output-uri"         => c = c.copy(outputUri = a.value())
        case "--output-format"      => c = c.copy(outputFormat = a.value())
        case "--output-compression" => c = c.copy(outputCompression = a.value())
        case "--output-limit"       => c = c.copy(outputLimit = Some(a.int()))
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
    }
    c
  }

  /** Run one conversion. Stdout output serializes through the same
    * DataStoreIO.write codecs by targeting a temp path, so every format
    * (including the driver-side ones and binary bson) has exactly one
    * implementation. Results are CLI-sized by definition here — engine
    * paths use parquet/jsonl sinks directly. */
  def convert(spark: SparkSession, c: Config): Unit = {
    require(c.outputFormat.nonEmpty ||
        (c.outputUri != "-" && c.outputUri != "stdout"),
      "--output-format is required with stdout output")
    val df = DataStoreIO.read(spark, c.inputUri, DataStoreIO.ReadOptions(
      format = c.inputFormat, header = c.inputHeader,
      comment = c.inputComment, skipLines = c.inputSkip, limit = c.inputLimit))
    val limited = c.outputLimit.fold(df)(df.limit)
    if (c.outputUri == "-" || c.outputUri == "stdout") {
      val tmp = java.nio.file.Files.createTempDirectory("graft-convert")
      val ext = c.outputFormat +
        (if (c.outputCompression.nonEmpty) "." + compressionExt(c.outputCompression) else "")
      val target = s"$tmp/out.$ext"
      DataStoreIO.write(limited.coalesce(1), target, DataStoreIO.WriteOptions(
        format = c.outputFormat, compression = c.outputCompression))
      streamToStdout(new java.io.File(target))
    } else {
      DataStoreIO.write(limited, c.outputUri, DataStoreIO.WriteOptions(
        format = c.outputFormat, compression = c.outputCompression))
    }
  }

  private def compressionExt(c: String): String = c match {
    case "gzip" => "gz"; case "bzip2" => "bz2"; case other => other
  }

  /** Spark formats write a directory of part files; driver formats write
    * one file. Stream either to stdout in name order. */
  private def streamToStdout(target: java.io.File): Unit = {
    val files =
      if (target.isDirectory)
        target.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      else Array(target)
    files.foreach { f =>
      val in = java.nio.file.Files.newInputStream(f.toPath)
      try in.transferTo(System.out) finally in.close()
    }
    System.out.flush()
  }

  private def spoolStdin(c: Config): Config = {
    require(c.inputFormat.nonEmpty, "--input-format is required with stdin input")
    val tmp = java.nio.file.Files.createTempFile("graft-stdin", "." + c.inputFormat)
    java.nio.file.Files.copy(System.in, tmp,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    c.copy(inputUri = tmp.toString)
  }

  def main(args: Array[String]): Unit = {
    val c0 = parseArgs(args)
    val c = if (c0.inputUri == "-" || c0.inputUri == "stdin") spoolStdin(c0) else c0
    val spark = Sessions.create("graft-convert", Sessions.master(4))
    spark.sparkContext.setLogLevel("ERROR")
    try convert(spark, c) finally spark.stop()
  }
}
