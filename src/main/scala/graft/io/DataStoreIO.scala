package graft.io

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DayTimeIntervalType, MapType,
  StructType, YearMonthIntervalType}

/** Reader/writer layer: URI + format + options → DataFrame and back.
  *
  * Mirrors the reference's IO surface (reference: cli/process.go:617-646
  * reader + inference, 771-793 csv header handling, 962-984 flags) in
  * Spark-native form:
  *  - csv/tsv/json/jsonl/parquet go through `DataFrameReader`/`Writer` —
  *    distributed, pushdown-capable, compression handled by Hadoop codecs
  *    (gzip/bzip2 transparently by extension).
  *  - yaml/toml/properties/json-whole-document parse on the driver (these
  *    carry config-sized payloads, reference: handlers/ServiceExecHandler
  *    .go:265) and enter Spark via `spark.read.json(Dataset[String])`.
  *  - zip input is unwrapped on the driver (Hadoop has no zip codec).
  *
  * Options mirror config.Input (reference: config/Input.go:17-28):
  * header (explicit names or first line), comment char, skip lines, limit.
  */
object DataStoreIO {

  final case class ReadOptions(
      format: String = "",              // "" = infer from extension
      compression: String = "",
      header: Option[Seq[String]] = None, // explicit column names
      headerFromFirstLine: Boolean = true,
      comment: Option[Char] = None,
      skipLines: Int = 0,
      limit: Option[Int] = None,
      passphrase: String = "",          // non-empty → decrypt .enc input
      salt: String = "graft",
  )

  /** Read a `URI[::FORMAT]` spec: the explicit suffix covers
    * extension-less directories (a parquet dir written by a prior run)
    * for every CLI that binds tables by argument. */
  def readSpec(spark: SparkSession, spec: String,
               opts: ReadOptions = ReadOptions()): DataFrame =
    spec.lastIndexOf("::") match {
      case -1 => read(spark, spec, opts)
      case j  => read(spark, spec.take(j), opts.copy(format = spec.drop(j + 2)))
    }

  def read(spark: SparkSession, uri: String,
           opts: ReadOptions = ReadOptions()): DataFrame = {
    // http(s) endpoint as a table (reference: examples/hostosm.sh:20 —
    // a DataStore URI may be a REST API returning the dataset)
    if (uri.startsWith("http://") || uri.startsWith("https://")) {
      val df = readHttp(spark, uri) // bind once: exactly one GET
      return opts.limit.fold(df)(df.limit)
    }
    // federated query scan: `sql:SELECT …` runs against the session
    // catalog (registered views / external tables) — the Spark-native
    // analogue of the reference's Athena query input (cli/process.go:
    // 423-517, which submits a query string and iterates result pages;
    // here Catalyst plans the query and pushdown applies end-to-end)
    if (uri.startsWith("sql:")) {
      val df = spark.sql(uri.stripPrefix("sql:").trim)
      return opts.limit.fold(df)(df.limit)
    }
    // encrypted input: whole-stream decrypt on the driver before parse
    // (reference: cli/process.go:892; CLI-sized by construction)
    if (opts.passphrase.nonEmpty)
      return readEncrypted(spark, uri, opts)
    val inf = FormatInfer.split(uri)
    val format = if (opts.format.nonEmpty) opts.format else inf.format
    val compression = if (opts.compression.nonEmpty) opts.compression else inf.compression

    val df = format match {
      case "parquet" => spark.read.parquet(uri)
      case "orc"     => spark.read.orc(uri)
      case "csv" | "tsv" =>
        val sep = if (format == "tsv") "\t" else ","
        readDelimited(spark, uri, sep, compression, opts)
      case "jsonl" =>
        if (compression == "zip") spark.read.json(zipLines(spark, uri))
        else spark.read.json(uri)
      case "json" =>
        // whole-document JSON (array or single object): multiLine reader
        if (compression == "zip") spark.read.option("multiLine", true).json(zipLines(spark, uri))
        else spark.read.option("multiLine", true).json(uri)
      case "yaml" | "toml" | "properties" | "hcl" | "hcl2" =>
        val text = readWholeText(spark, uri, compression)
        val records: Seq[Any] = format match {
          case "yaml" => TextFormats.parseYaml(text) match {
            case l: List[_] => l
            case other      => List(other)
          }
          case "toml"           => List(TextFormats.parseToml(text))
          case "properties"     => List(parsePropsAsRecord(text))
          case "hcl" | "hcl2"   => List(Hcl.parse(text))
        }
        import spark.implicits._
        spark.read.json(records.map(TextFormats.toJson).toDS())
      case "bson" =>
        // concatenated BSON documents, driver-parsed (config/CLI-sized
        // like the other whole-document formats)
        import spark.implicits._
        var bytes = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(uri.stripPrefix("file:")))
        if (compression == "gzip") {
          val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
          bytes = try in.readAllBytes() finally in.close()
        }
        spark.read.json(Bson.parseAll(bytes).map(TextFormats.toJson).toDS())
      case "" => throw new IllegalArgumentException(
        s"cannot infer format from uri: $uri")
      case other => throw new UnsupportedOperationException(
        s"format not supported: $other (supported: parquet orc csv tsv json jsonl yaml toml properties hcl bson)")
    }
    opts.limit.fold(df)(df.limit)
  }

  private def parsePropsAsRecord(text: String): Map[String, Any] =
    TextFormats.parseProperties(text).map { case (k, v) =>
      k -> TextFormats.parseScalar(v)
    }

  /** csv/tsv with the reference's option set. `skipLines` forces a text
    * pre-pass (Spark has no native skip), kept distributed via
    * monotonically-indexed filtering on the line RDD. */
  private def readDelimited(spark: SparkSession, uri: String, sep: String,
                            compression: String, opts: ReadOptions): DataFrame = {
    val base = spark.read
      .option("sep", sep)
      .option("inferSchema", true)
    val withComment = opts.comment.fold(base)(c => base.option("comment", c.toString))

    def fromLines(lines: Dataset[String]): DataFrame = {
      import spark.implicits._
      val skipped = if (opts.skipLines > 0)
        lines.rdd.zipWithIndex()
          .filter(_._2 >= opts.skipLines).map(_._1).toDS()
      else lines
      opts.header match {
        case Some(names) =>
          withComment.option("header", false).csv(skipped).toDF(names: _*)
        case None =>
          withComment.option("header", opts.headerFromFirstLine).csv(skipped)
      }
    }

    if (compression == "zip") fromLines(zipLines(spark, uri))
    else if (opts.skipLines > 0) {
      import spark.implicits._
      fromLines(spark.read.textFile(uri))
    } else opts.header match {
      case Some(names) =>
        withComment.option("header", false).csv(uri).toDF(names: _*)
      case None =>
        withComment.option("header", opts.headerFromFirstLine).csv(uri)
    }
  }

  /** Unwrap a local zip on the driver → Dataset of lines (no Hadoop zip
    * codec exists; zip inputs are CLI-sized in the reference). */
  private def zipLines(spark: SparkSession, uri: String): Dataset[String] = {
    import spark.implicits._
    val zis = new java.util.zip.ZipInputStream(
      new java.io.FileInputStream(uri.stripPrefix("file:")))
    try {
      val sb = new StringBuilder
      var entry = zis.getNextEntry
      while (entry != null) {
        if (!entry.isDirectory) {
          // newline-separate entries so the last line of one entry never
          // merges with the first line of the next
          if (sb.nonEmpty && sb.last != '\n') sb.append('\n')
          sb.append(new String(zis.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
        }
        entry = zis.getNextEntry
      }
      sb.toString.linesIterator.toSeq.toDS()
    } finally zis.close()
  }

  private def readWholeText(spark: SparkSession, uri: String, compression: String): String = {
    if (compression == "zip") {
      import spark.implicits._
      zipLines(spark, uri).collect().mkString("\n")
    } else {
      // collect is fine: these are config-sized documents by construction
      spark.read.textFile(uri).collect().mkString("\n")
    }
  }

  /** GET a JSON endpoint and expose the body as a DataFrame. */
  def readHttp(spark: SparkSession, url: String): DataFrame = {
    import spark.implicits._
    val client = java.net.http.HttpClient.newHttpClient()
    val resp = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() < 400, s"http $url → ${resp.statusCode()}")
    spark.read.json(Seq(resp.body()).toDS())
  }

  private def readEncrypted(spark: SparkSession, uri: String,
                            opts: ReadOptions): DataFrame = {
    import spark.implicits._
    val inf = FormatInfer.split(uri)
    val format = if (opts.format.nonEmpty) opts.format else inf.format
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(uri.stripPrefix("file:")))
    var bytes = Crypto.decrypt(raw, opts.passphrase, opts.salt)
    if (inf.compression == "gzip") {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
      bytes = try in.readAllBytes() finally in.close()
    }
    val text = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    val lines = text.linesIterator.toSeq.toDS()
    val df = format match {
      case "jsonl" | "json" => spark.read.json(lines)
      case "csv" | "tsv" =>
        val rd = spark.read.option("sep", if (format == "tsv") "\t" else ",")
          .option("inferSchema", true)
        opts.header match {
          case Some(names) => rd.option("header", false).csv(lines).toDF(names: _*)
          case None        => rd.option("header", opts.headerFromFirstLine).csv(lines)
        }
      case other => throw new UnsupportedOperationException(s"encrypted format: $other")
    }
    opts.limit.fold(df)(df.limit)
  }

  /** `df`'s rows as JSON objects, byte-equal to `df.toJSON.collect()`.
    * They are rendered by one `to_json(struct(<every output attribute>))`
    * column instead of `toJSON`'s typed `mapPartitions`, so a query over
    * driver-held rows (a `LocalRelation`) folds whole in the optimizer
    * and the collect starts no job. `to_json` writes a year-month or
    * day-time interval in a shorter form than `toJSON`, so a frame with
    * one keeps `toJSON`. */
  def jsonRows(df: DataFrame): Array[String] =
    if (ansiInterval(df.schema)) df.toJSON.collect()
    else {
      val record = CreateNamedStruct(
        df.queryExecution.analyzed.output.flatMap(a => Seq(Literal(a.name), a)))
      df.select(to_json(Bridge.column(record))).collect().map(_.getString(0))
    }

  private def ansiInterval(t: DataType): Boolean = t match {
    case _: YearMonthIntervalType | _: DayTimeIntervalType => true
    case s: StructType => s.fields.exists(f => ansiInterval(f.dataType))
    case a: ArrayType  => ansiInterval(a.elementType)
    case m: MapType    => ansiInterval(m.keyType) || ansiInterval(m.valueType)
    case _             => false
  }

  /** Encrypt a small serialized result to `uri` (IV ++ AES-CFB bytes).
    * Incompatible with streaming, enforced like the reference
    * (cli/process.go:662-664). */
  def writeEncrypted(df: DataFrame, uri: String, passphrase: String,
                     salt: String = "graft", format: String = "jsonl"): Unit = {
    val text = format match {
      case "jsonl" => jsonRows(df).mkString("\n")
      case "json"  => jsonRows(df).mkString("[", ",", "]")
      case other   => throw new UnsupportedOperationException(s"encrypted write format: $other")
    }
    val path = java.nio.file.Paths.get(uri.stripPrefix("file:"))
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(path,
      Crypto.encrypt(text.getBytes(java.nio.charset.StandardCharsets.UTF_8), passphrase, salt))
  }

  final case class WriteOptions(
      format: String = "",
      compression: String = "",   // "gzip" | "bzip2" | "" (none)
      header: Boolean = true,
      limit: Option[Int] = None,
      mode: String = "overwrite",
  )

  def write(df0: DataFrame, uri: String, opts: WriteOptions = WriteOptions()): Unit = {
    val inf = FormatInfer.split(uri)
    val format = if (opts.format.nonEmpty) opts.format else inf.format
    val compression = if (opts.compression.nonEmpty) opts.compression
      else if (inf.compression.nonEmpty) inf.compression else "none"
    val df = opts.limit.fold(df0)(df0.limit)
    def writer = df.write.mode(opts.mode)
      .options(NioLocalFileSystem.writerOptions(df.sparkSession))
    format match {
      // columnar codecs ride the writer option (snappy default; zstd is
      // the modern storage/scan trade, gzip the max-ratio archive one)
      case "parquet" =>
        val w = if (opts.compression.nonEmpty)
          writer.option("compression", opts.compression) else writer
        w.parquet(uri)
      case "orc" =>
        val w = if (opts.compression.nonEmpty)
          writer.option("compression", opts.compression) else writer
        w.orc(uri)
      case "csv" | "tsv" =>
        writer
          .option("sep", if (format == "tsv") "\t" else ",")
          .option("header", opts.header)
          .option("compression", compression)
          .csv(uri)
      case "jsonl" =>
        writer.option("compression", compression).json(uri)
      case "json" =>
        // whole-document array: driver-side assembly (CLI-sized results
        // only — engine paths use jsonl/parquet)
        val rows = jsonRows(df)
        writeDriverFile(uri, rows.mkString("[", ",", "]"), compression)
      case "yaml" | "toml" | "properties" | "hcl" | "hcl2" =>
        val recs = jsonRows(df).map(parseJsonToMap)
        val text = format match {
          case "yaml"       => TextFormats.renderYaml(recs.toList)
          case "toml"       => recs.zipWithIndex.map { case (r, i) =>
            s"[record_$i]\n" + TextFormats.renderToml(r).linesIterator
              .filterNot(_.startsWith("[")).mkString("\n")
          }.mkString("\n")
          case "properties" => recs.zipWithIndex.map { case (r, i) =>
            TextFormats.renderProperties(r.map { case (k, v) => s"record_$i.$k" -> v })
          }.mkString("\n")
          case "hcl" | "hcl2" => recs.zipWithIndex.map { case (r, i) =>
            Hcl.render(Map(s"record_$i" -> r))
          }.mkString("\n")
        }
        writeDriverFile(uri, text, compression)
      case "bson" =>
        val recs = jsonRows(df).map(parseJsonToMap)
        val path = java.nio.file.Paths.get(uri.stripPrefix("file:"))
        Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(path, Bson.renderAll(recs.toIndexedSeq))
      case other => throw new UnsupportedOperationException(s"write format: $other")
    }
  }

  private def writeDriverFile(uri: String, content: String, compression: String): Unit = {
    val path = java.nio.file.Paths.get(uri.stripPrefix("file:"))
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out: java.io.OutputStream = compression match {
      case "gzip" => new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(path))
      case "bzip2" =>
        // commons-compress ships with Spark
        new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(
          java.nio.file.Files.newOutputStream(path))
      case "zip" =>
        val z = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(path))
        z.putNextEntry(new java.util.zip.ZipEntry(
          path.getFileName.toString.stripSuffix(".zip")))
        z
      case "" | "none" => java.nio.file.Files.newOutputStream(path)
      case other => throw new UnsupportedOperationException(
        s"driver-file compression: $other")
    }
    try out.write(bytes) finally out.close()
  }

  /** Parse one flat JSON record (output of [[jsonRows]]) to a Scala map. */
  private def parseJsonToMap(json: String): Map[String, Any] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(json)
    val it = node.fields()
    val b = Map.newBuilder[String, Any]
    while (it.hasNext) {
      val e = it.next()
      val v: Any = e.getValue match {
        case n if n.isLong || n.isInt => n.asLong()
        case n if n.isDouble || n.isFloat => n.asDouble()
        case n if n.isBoolean => n.asBoolean()
        case n if n.isNull => null
        case n => n.asText()
      }
      b += (e.getKey -> v)
    }
    b.result()
  }
}
