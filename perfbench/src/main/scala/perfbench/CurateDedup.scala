package perfbench

import graft.dfl.{DflFrame, Parser}
import graft.io.DataStoreIO

import java.io.File
import scala.collection.mutable

/** `curate_dedup`: a document corpus with planted near-duplicate clusters
  * and planted eval-set contamination, through MinHash near-dedup,
  * n-gram decontamination and id-keyed sampling, written as parquet. */
final class CurateDedup extends BatchWorkload {
  val name = "curate_dedup"
  val docs = 2000
  val clusters = 200     // each: a document plus two one-word edits of it
  val contaminated = 150 // each carries a 13-word span of a benchmark doc
  val benchDocs = 40
  val vocab = 20000
  val fraction = 0.9
  val sampleSeed = 7

  val dfl: String =
    s"nearDedup(@, '@doc_id', '@text', 0.8, 'minhash') | " +
      s"decontam(@, '@doc_id', '@text', $$bench, 8) | sample(@, '@doc_id', $fraction, $sampleSeed)"

  private var corpus: File = _
  private var bench: File = _
  private var expected: Set[String] = Set.empty

  def sizes: Seq[(String, Long)] = Seq("docs" -> docs.toLong, "clusters" -> clusters.toLong,
    "contaminated" -> contaminated.toLong, "bench_docs" -> benchDocs.toLong)
  protected def inputRows: Long = docs.toLong

  private def docId(i: Int) = f"d$i%07d"

  def generate(dir: File, seed: Long): Unit = {
    work = dir.getParentFile
    val rnd = new java.util.SplittableRandom(seed * 2147483647L + 4)
    val words = {
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < vocab)
        s += (0 until 5 + rnd.nextInt(5)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      s.toArray
    }
    def text(n: Int) = Array.fill(n)(words(rnd.nextInt(vocab)))
    val benchTexts = Array.fill(benchDocs)(text(40))
    val texts = new Array[Array[String]](docs)
    val dropped = mutable.Set.empty[Int]
    var i = 0
    // planted near-duplicate clusters: ids i < i+1 < i+2, so the first survives
    for (_ <- 0 until clusters) {
      val t = text(60 + rnd.nextInt(60))
      texts(i) = t
      for (e <- 1 to 2) {
        val c = t.clone(); c(rnd.nextInt(c.length)) = words(rnd.nextInt(vocab))
        texts(i + e) = c; dropped += i + e
      }
      i += 3
    }
    // planted contamination
    for (_ <- 0 until contaminated) {
      val t = text(60 + rnd.nextInt(60)).toBuffer
      val b = benchTexts(rnd.nextInt(benchDocs)); val at = rnd.nextInt(b.length - 13)
      t.insertAll(rnd.nextInt(t.length), b.slice(at, at + 13))
      texts(i) = t.toArray; dropped += i; i += 1
    }
    while (i < docs) { texts(i) = text(60 + rnd.nextInt(60)); i += 1 }
    // shuffle file order; ids stay as assigned
    val order = scala.util.Random.javaRandomToRandom(new java.util.Random(seed)).shuffle((0 until docs).toVector)
    corpus = new File(dir, "corpus.jsonl"); bench = new File(dir, "bench.jsonl")
    val w = new java.io.BufferedWriter(new java.io.FileWriter(corpus), 1 << 20)
    try order.foreach(j => w.write(s"""{"doc_id":"${docId(j)}","text":"${texts(j).mkString(" ")}"}\n"""))
    finally w.close()
    val wb = new java.io.BufferedWriter(new java.io.FileWriter(bench))
    try benchTexts.zipWithIndex.foreach { case (t, j) =>
      wb.write(s"""{"doc_id":"b$j","text":"${t.mkString(" ")}"}\n""") } finally wb.close()
    expected = (0 until docs).filterNot(dropped).map(docId).filter(sampled).toSet
  }

  /** `sample`'s id-keyed rule for string ids, written out independently:
    * the first 15 hex digits of md5(id|seed), mod 1e6, below the cut. */
  private def sampled(id: String): Boolean = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$id|$sampleSeed".getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(md5.take(15), 16) % 1000000 < math.round(fraction * 1000000)
  }

  protected def pass(out: File, rec: Option[Recorder], opId: Int): Unit = {
    val target = new File(out, "curated.parquet").getAbsolutePath
    def run(r: Option[Recorder]): Unit = {
      val in = span(r, "io.read")(DataStoreIO.read(spark, corpus.getAbsolutePath))
      val b = span(r, "io.read")(DataStoreIO.read(spark, bench.getAbsolutePath))
      val df = span(r, "dfl.pipeline")(DflFrame.pipeline(in, dfl, Map("bench" -> b)))
      span(r, "io.write")(DataStoreIO.write(df, target, DataStoreIO.WriteOptions(format = "parquet")))
    }
    rec match {
      case None => run(None)
      case Some(r) =>
        r.span("dfl.parse")(Parser.parse(dfl))
        r.op(opId, "op.pass")(run(rec))
    }
  }

  protected def check(out: File): (Seq[String], Long) = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val dir = new File(out, "curated.parquet")
    val got = mutable.ArrayBuffer.empty[String]
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).foreach { f =>
        val r = ParquetReader.builder(new GroupReadSupport(),
          new org.apache.hadoop.fs.Path(f.getAbsolutePath)).build()
        try {
          var g = r.read()
          while (g != null) { got += g.getString("doc_id", 0); g = r.read() }
        } finally r.close()
      }
    val gotSet = got.toSet
    val bad = mutable.ArrayBuffer.empty[String]
    if (got.size != gotSet.size) bad += s"${got.size - gotSet.size} duplicate survivors"
    if (gotSet != expected) bad += s"survivors differ: ${(gotSet -- expected).size} unexpected " +
      s"(planted duplicates or contamination kept), ${(expected -- gotSet).size} missing"
    (bad.toSeq, got.size.toLong)
  }
}
