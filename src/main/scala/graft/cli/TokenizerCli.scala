package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.llm.{Bpe, TokenizerStore, Unigram, WordPiece}
import graft.util.Sessions

/** Tokenizer lifecycle as a product surface — the train-once /
  * serve-everywhere loop the [[graft.llm.TokenizerStore]] artifacts
  * exist for, mirroring the serve-ann/ingest-ann CLI family:
  *
  *   # train on a corpus and persist the artifact (crash-safe staged
  *   # commit — a reader never sees a half-written tokenizer):
  *   runMain graft.cli.TokenizerCli train --method bpe|byte-bpe|wordpiece|unigram
  *     --corpus-uri docs.parquet [--text-col text]
  *     --tokenizer-dir /models/tok
  *     [--merges N] [--vocab-size N] [--max-piece-len N] [--min-count N]
  *
  *   # segment any corpus with the frozen artifact (row-local native
  *   # expressions — the same serving path the DFL stages use):
  *   runMain graft.cli.TokenizerCli apply --tokenizer-dir /models/tok
  *     --corpus-uri docs.parquet [--id-col doc_id] [--text-col text]
  *     --output-uri out.parquet
  *
  * `apply` reads the artifact's kind from its meta sidecar and
  * dispatches to the matching serving path — pointing at the wrong
  * directory is impossible by construction (the typed loads check). */
object TokenizerCli {

  final case class Config(
      mode: String = "",
      method: String = "bpe",
      corpusUri: String = "",
      idCol: String = "doc_id",
      textCol: String = "text",
      tokenizerDir: String = "",
      outputUri: String = "",
      merges: Int = 64,
      vocabSize: Int = 128,
      maxPieceLen: Int = 8,
      minCount: Long = 2L,
  )

  def parseArgs(args: Array[String]): Config = {
    require(args.nonEmpty && (args(0) == "train" || args(0) == "apply"),
      "usage: TokenizerCli train|apply --corpus-uri … --tokenizer-dir …")
    var c = Config(mode = args(0))
    val a = new Argv(args.drop(1))
    while (a.more) {
      a.flag() match {
        case "--method"        => c = c.copy(method = a.value())
        case "--corpus-uri"    => c = c.copy(corpusUri = a.value())
        case "--id-col"        => c = c.copy(idCol = a.value())
        case "--text-col"      => c = c.copy(textCol = a.value())
        case "--tokenizer-dir" => c = c.copy(tokenizerDir = a.value())
        case "--output-uri"    => c = c.copy(outputUri = a.value())
        case "--merges"        => c = c.copy(merges = a.int())
        case "--vocab-size"    => c = c.copy(vocabSize = a.int())
        case "--max-piece-len" => c = c.copy(maxPieceLen = a.int())
        case "--min-count"     => c = c.copy(minCount = a.long())
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
    }
    require(c.corpusUri.nonEmpty, "--corpus-uri is required")
    require(c.tokenizerDir.nonEmpty, "--tokenizer-dir is required")
    require(c.mode == "train" || c.outputUri.nonEmpty,
      "apply requires --output-uri")
    c
  }

  def train(spark: SparkSession, c: Config): Unit = {
    val corpus = spark.read.parquet(c.corpusUri)
    c.method match {
      case "bpe" =>
        TokenizerStore.saveBpe(spark,
          Bpe.learnMerges(corpus, c.textCol, c.merges, c.minCount),
          c.tokenizerDir)
      case "byte-bpe" =>
        // a dedicated kind, not a flag on 'bpe': the byte and char
        // alphabets must never mix at serving time
        TokenizerStore.saveByteBpe(spark,
          Bpe.learnMerges(corpus, c.textCol, c.merges, c.minCount,
            byteLevel = true), c.tokenizerDir)
      case "wordpiece" =>
        TokenizerStore.saveWordPiece(spark,
          WordPiece.learnVocab(corpus, c.textCol, c.merges, c.minCount)._2,
          c.tokenizerDir)
      case "unigram" =>
        // the serving bound travels WITH the artifact — apply reads it
        // back instead of substituting a default
        TokenizerStore.saveUnigram(spark,
          Unigram.train(corpus, c.textCol, vocabSize = c.vocabSize,
            maxPieceLen = c.maxPieceLen)._1, c.tokenizerDir,
          maxPieceLen = c.maxPieceLen)
      case other => throw new IllegalArgumentException(
        s"unknown --method $other (bpe|byte-bpe|wordpiece|unigram)")
    }
  }

  /** Segment the corpus with the stored artifact; (id, n_pieces,
    * pieces) parquet at `outputUri`. Dispatch is by the artifact's OWN
    * kind — no --method on apply. */
  def apply(spark: SparkSession, c: Config): DataFrame = {
    val corpus = spark.read.parquet(c.corpusUri)
    val segmented = TokenizerStore.kindOf(spark, c.tokenizerDir) match {
      case "bpe" =>
        Bpe.segment(corpus, c.idCol, c.textCol,
          TokenizerStore.loadBpe(spark, c.tokenizerDir))
      case "byte-bpe" =>
        Bpe.segmentByte(corpus, c.idCol, c.textCol,
          TokenizerStore.loadByteBpe(spark, c.tokenizerDir))
      case "wordpiece" =>
        WordPiece.segment(corpus, c.idCol, c.textCol,
          TokenizerStore.loadWordPiece(spark, c.tokenizerDir))
      case "unigram" =>
        Unigram.segment(corpus, c.idCol, c.textCol,
          TokenizerStore.loadUnigram(spark, c.tokenizerDir),
          maxPieceLen =
            TokenizerStore.unigramMaxPieceLen(spark, c.tokenizerDir))
      case other => throw new IllegalArgumentException(
        s"unknown tokenizer kind '$other' at ${c.tokenizerDir}")
    }
    segmented.write.mode("overwrite").parquet(c.outputUri)
    segmented
  }

  def main(args: Array[String]): Unit = {
    val c = parseArgs(args)
    val spark = Sessions.create("graft-tokenizer", Sessions.master(4))
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (c.mode == "train") train(spark, c)
      else { apply(spark, c); () }
    } finally spark.stop()
  }
}
