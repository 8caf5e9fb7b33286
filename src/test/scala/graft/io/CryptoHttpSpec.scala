package graft.io

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import java.nio.file.{Files, Paths}

class CryptoHttpSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("encrypt/decrypt round trip, wrong passphrase garbles") {
    val pt = "hello graft éü".getBytes("UTF-8")
    val ct = Crypto.encrypt(pt, "pw", "salt")
    assert(!(ct.drop(16) sameElements pt))
    assert(Crypto.decrypt(ct, "pw", "salt") sameElements pt)
    assert(!(Crypto.decrypt(ct, "wrong", "salt") sameElements pt))
    // distinct IVs: same plaintext encrypts differently
    assert(!(Crypto.encrypt(pt, "pw", "salt") sameElements ct))
    // empty payload round-trips (ciphertext is exactly the 16-byte IV)
    val emptyCt = Crypto.encrypt(Array.emptyByteArray, "pw", "salt")
    assert(emptyCt.length == 16)
    assert(Crypto.decrypt(emptyCt, "pw", "salt").isEmpty)
  }

  test("column protection: GCM round-trips, ECB is deterministic and joinable") {
    import org.apache.spark.sql.functions._
    val key = "0123456789abcdef" // 16 bytes → AES-128
    val df = Seq((1L, "alice@x.io"), (2L, "bob@y.io"), (3L, "alice@x.io"),
      (4L, null.asInstanceOf[String])).toDF("id", "email")
    // GCM: round-trip exact, ciphertexts differ per value (random IV)
    val gcm = df.withColumn("p", ColumnCrypto.protect($"email", key))
    val back = gcm.withColumn("r", ColumnCrypto.reveal($"p", key))
      .select("id", "email", "r").collect()
    back.foreach(r => assert(r.get(1) == r.get(2)))
    val gTokens = gcm.filter($"email" === "alice@x.io")
      .select("p").as[String].collect()
    assert(gTokens.distinct.length == 2, "GCM tokens must not repeat")
    // ECB: equal plaintexts seal to equal tokens — protected columns
    // still group (the pseudonymization contract)
    val ecb = df.withColumn("p", ColumnCrypto.protect($"email", key, "ECB"))
    val eTokens = ecb.filter($"email" === "alice@x.io")
      .select("p").as[String].collect()
    assert(eTokens.distinct.length == 1)
    val groups = ecb.groupBy("p").count().filter($"p".isNotNull)
      .select("count").as[Long].collect().sorted.toSeq
    assert(groups == Seq(1L, 2L))
    // NULLs stay NULL through both directions
    assert(gcm.filter($"id" === 4L).select("p").head().isNullAt(0))
    // wrong key size rejected eagerly
    intercept[IllegalArgumentException] {
      ColumnCrypto.protect($"email", "short")
    }
  }

  test("encrypted jsonl write + read through DataStoreIO") {
    val dir = Files.createTempDirectory("graft-enc").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    DataStoreIO.writeEncrypted(df, s"$dir/data.jsonl.enc", "pw")
    val back = DataStoreIO.read(spark, s"$dir/data.jsonl.enc",
      DataStoreIO.ReadOptions(passphrase = "pw"))
    assert(back.orderBy("id").select("v").as[String].collect().toSeq == Seq("a", "b"))
  }

  test("encrypted csv with explicit header") {
    val dir = Files.createTempDirectory("graft-enc").toString
    val bytes = Crypto.encrypt("1,x\n2,y\n".getBytes("UTF-8"), "pw", "graft")
    Files.write(Paths.get(s"$dir/data.csv.enc"), bytes)
    val back = DataStoreIO.read(spark, s"$dir/data.csv.enc",
      DataStoreIO.ReadOptions(passphrase = "pw", header = Some(Seq("id", "v"))))
    assert(back.columns.toSeq == Seq("id", "v"))
    assert(back.count() == 2)
  }

  test("http endpoint reads as a table") {
    val server = graft.server.Server.newHttpServer(new java.net.InetSocketAddress(0))
    server.createContext("/api/data", (x: com.sun.net.httpserver.HttpExchange) => {
      val body = """[{"id":1,"name":"a"},{"id":2,"name":"b"},{"id":3,"name":"c"}]"""
        .getBytes("UTF-8")
      x.getResponseHeaders.set("Content-Type", "application/json")
      x.sendResponseHeaders(200, body.length)
      val os = x.getResponseBody
      try os.write(body) finally os.close()
    })
    server.start()
    try {
      val url = s"http://localhost:${server.getAddress.getPort}/api/data"
      val df = DataStoreIO.read(spark, url)
      assert(df.count() == 3)
      assert(df.orderBy("id").select("name").as[String].collect().toSeq == Seq("a", "b", "c"))
      // limit applies
      assert(DataStoreIO.read(spark, url,
        DataStoreIO.ReadOptions(limit = Some(2))).count() == 2)
    } finally server.stop(0)
  }
}
