package graft.cli

import org.scalatest.funsuite.AnyFunSuite

/** Numeric flags across the `Argv` CLIs: a malformed value fails naming
  * the flag and the value, never as a bare `NumberFormatException`. */
class ArgvSpec extends AnyFunSuite {

  private val malformed: Seq[(String, Array[String] => Any, Seq[String])] = Seq(
    ("convert", ConvertCli.parseArgs, Seq("--input-skip", "abc")),
    ("convert", ConvertCli.parseArgs, Seq("--output-limit", "ten")),
    ("process", ProcessCli.parseArgs, Seq("--input-limit", "1.5")),
    ("process", ProcessCli.parseArgs, Seq("--output-files", "x")),
    ("serve-ann", ServeCli.parseArgs, Seq("--k", "two")),
    ("serve-ann", ServeCli.parseArgs, Seq("--min-cos", "high")),
    ("serve-hybrid", ServeHybridCli.parseArgs, Seq("--lambda", "0,7")),
    ("serve-hybrid", ServeHybridCli.parseArgs, Seq("--pool", "")),
    ("serve-bm25", ServeBm25Cli.parseArgs, Seq("--k1", "1.2x")),
    ("ingest-ann", IngestCli.parseArgs, Seq("--retrain-skew", "big")),
    ("ingest-ann", IngestCli.parseArgs, Seq("--compact-every", "3.0")),
    ("corpus-ingest", CorpusIngestCli.parseArgs, Seq("--threshold", "abc")),
    ("corpus-ingest", CorpusIngestCli.parseArgs, Seq("--shard-weight", "1e3")),
    ("tokenizer", (a: Array[String]) => TokenizerCli.parseArgs("train" +: a),
      Seq("--min-count", "many")))

  malformed.foreach { case (cli, parse, args @ Seq(flag, v)) =>
    test(s"$cli ${args.mkString(" ")} fails naming the flag and the value") {
      val e = intercept[IllegalArgumentException](parse(args.toArray))
      assert(!e.isInstanceOf[NumberFormatException], e)
      assert(e.getMessage.contains(s"flag $flag requires"), e.getMessage)
      assert(e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }

  private val outOfRange: Seq[(String, Array[String] => Any, Seq[String])] = Seq(
    ("serve-bm25", ServeBm25Cli.parseArgs, Seq("--k1", "-0.5")),
    ("serve-bm25", ServeBm25Cli.parseArgs, Seq("--b", "1.5")),
    ("serve-hybrid", ServeHybridCli.parseArgs, Seq("--k1", "-2.0")),
    ("serve-hybrid", ServeHybridCli.parseArgs, Seq("--b", "-0.25")))

  outOfRange.foreach { case (cli, parse, args @ Seq(flag, v)) =>
    test(s"$cli ${args.mkString(" ")} is out of range, named before the job starts") {
      val e = intercept[IllegalArgumentException](parse(args.toArray))
      assert(e.getMessage.contains(s"$flag must be"), e.getMessage)
      assert(e.getMessage.endsWith(s"got $v"), e.getMessage)
    }
  }

  // one catalog holding every datastore the streaming CLIs bind
  private lazy val catalogPath: String = {
    val cat = new graft.catalog.Catalog
    cat.add(graft.catalog.Workspace("ws"))
    Seq("q", "out", "corpus").foreach(n =>
      cat.add(graft.catalog.DataStore("ws", n, s"'/tmp/$n'", format = "jsonl")))
    val p = java.nio.file.Files.createTempDirectory("graft-argv-catalog")
      .resolve("catalog.json").toString
    cat.save(p)
    p
  }

  // (cli, parse + resolve, flags binding everything but one datastore,
  // the missing datastore flag, the name it would bind)
  private val missingDatastore
      : Seq[(String, Array[String] => Any, Seq[String], String, String)] = Seq(
    ("serve-ann", a => ServeCli.resolve(ServeCli.parseArgs(a)),
      Seq("--index-dir", "i", "--checkpoint", "c", "--output-datastore", "out"),
      "--queries-datastore", "q"),
    ("serve-bm25", a => ServeBm25Cli.resolve(ServeBm25Cli.parseArgs(a)),
      Seq("--index-dir", "i", "--checkpoint", "c", "--queries-datastore", "q"),
      "--output-datastore", "out"),
    ("serve-hybrid", a => ServeHybridCli.resolve(ServeHybridCli.parseArgs(a)),
      Seq("--bm25-index-dir", "b", "--ann-index-dir", "a", "--checkpoint", "c",
        "--output-datastore", "out"),
      "--queries-datastore", "q"),
    ("ingest-ann", a => IngestCli.resolve(IngestCli.parseArgs(a)),
      Seq("--corpus-uri", "x", "--index-dir", "i", "--checkpoint", "c"),
      "--corpus-datastore", "corpus"))

  missingDatastore.foreach { case (cli, resolve, args, flag, name) =>
    test(s"$cli --catalog without $flag fails naming the flag") {
      val withCatalog = args ++ Seq("--catalog", catalogPath)
      val e = intercept[IllegalArgumentException](resolve(withCatalog.toArray))
      assert(e.getMessage.contains(flag), e.getMessage)
      // the same flags plus the datastore name bind
      resolve((withCatalog ++ Seq(flag, name)).toArray)
    }
  }

  test("a numeric flag left dangling fails naming the flag") {
    val e = intercept[IllegalArgumentException](ServeCli.parseArgs(Array("--k")))
    assert(e.getMessage == "flag --k requires a value")
  }

  test("well-formed numeric values parse to their types") {
    val a = new Argv(Array("--n", "-3", "--big", "1099511627776", "--x", "1e-3", "--y", "2"))
    assert(a.flag() == "--n" && a.int() == -3)
    assert(a.flag() == "--big" && a.long() == (1L << 40))
    assert(a.flag() == "--x" && a.double() == 0.001)
    assert(a.flag() == "--y" && a.double() == 2.0)
    assert(!a.more)
    val b = new Argv(Array("--n", "1099511627776"))
    b.flag()
    val e = intercept[IllegalArgumentException](b.int())
    assert(e.getMessage == "flag --n requires an integer, got '1099511627776'")
  }
}
