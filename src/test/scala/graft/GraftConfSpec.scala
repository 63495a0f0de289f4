package graft

/** A malformed numeric `spark.graft.*` value fails where the query reads
  * it, with an IllegalArgumentException naming the key and the value —
  * one case per parse shape (long, int, byte size).
  */
class GraftConfSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def rejects(key: String, value: String)(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$value'"),
      e.getMessage)
  }

  test("a long knob rejects a malformed value, naming the key") {
    val key = "spark.graft.hardNegatives.exactMax"
    withConf(key -> "5k") {
      rejects(key, "5k")(SparkEntry.queries("q69_hard_negatives")(spark, sf))
    }
  }

  test("an int knob rejects a malformed value, naming the key") {
    val key = "spark.graft.hardNegatives.nprobe"
    withConf("spark.graft.hardNegatives.exactMax" -> "0", key -> "eight") {
      rejects(key, "eight")(SparkEntry.queries("q69_hard_negatives")(spark, sf))
    }
  }

  test("a byte-size knob takes plain bytes or a unit, and rejects anything else") {
    val key = "spark.graft.broadcastFrontMaxBytes"
    withConf(key -> "1024") { assert(GraftConf.bytes(spark, key).contains(1024L)) }
    withConf(key -> "160m") { assert(GraftConf.bytes(spark, key).contains(160L << 20)) }
    withConf(key -> "lots") {
      rejects(key, "lots")(SparkEntry.queries("q152_kcore")(spark, sf).collect())
    }
  }
}
