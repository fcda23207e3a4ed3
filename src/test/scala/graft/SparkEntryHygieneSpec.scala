package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gates share one driver session, so a gate that mutates session conf must
  * leave it as found (VERDICT r4 "what's wrong" #3) — and the shipped CLI
  * must reject bad arguments before it starts a session.
  */
class SparkEntryHygieneSpec extends AnyFunSuite {
  import SharedSpark.spark

  private val sfDir = "/root/testdata/sf0.001"
  private val MaintKey = "spark.sql.streaming.stateStore.maintenanceInterval"

  test("q_stream_sketch_restore restores an explicitly-set maintenance interval") {
    val prev = spark.conf.getOption(MaintKey)
    try {
      spark.conf.set(MaintKey, "95s")
      val rows = SparkEntry.queries("q_stream_sketch_restore")(spark, sfDir).collect()
      assert(rows.nonEmpty, "gate produced no rows")
      assert(spark.conf.get(MaintKey) == "95s",
        s"gate leaked $MaintKey = ${spark.conf.get(MaintKey)}")
    } finally prev match {
      case Some(v) => spark.conf.set(MaintKey, v)
      case None => spark.conf.unset(MaintKey)
    }
  }

  test("q_stream_dedup_restore leaves the maintenance interval exactly as found") {
    val before = spark.conf.getOption(MaintKey)
    val rows = SparkEntry.queries("q_stream_dedup_restore")(spark, sfDir).collect()
    assert(rows.nonEmpty, "gate produced no rows")
    assert(spark.conf.getOption(MaintKey) == before,
      s"gate changed $MaintKey: $before -> ${spark.conf.getOption(MaintKey)}")
  }

  test("CLI rejects an unknown command or a short argument list before any session starts") {
    // Main.main runs checkArgs before getOrCreate(); calling checkArgs
    // directly keeps this test away from Main's spark.stop()
    val unknown = intercept[IllegalArgumentException](
      Main.checkArgs(Array("dedup-minhash", "a", "b")))
    assert(unknown.getMessage.contains("unknown command: dedup-minhash"), unknown.getMessage)
    val short = intercept[IllegalArgumentException](Main.checkArgs(Array("ivf-probe", "idx")))
    assert(short.getMessage.contains(
      "usage: ivf-probe <indexPath> <queriesParquet> <idCol> <vecCol> <outPath> [k] [nProbe]"),
      short.getMessage)
    Main.checkArgs(Array("ivf-compact", "idx"))
  }
}
