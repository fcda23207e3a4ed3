package graft.streaming

import java.sql.Timestamp

import graft.SharedSpark
import graft.core.CardinalitySketch

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructType}
import org.scalatest.funsuite.AnyFunSuite

class SketchStreamsSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private implicit def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("streaming groupBy with sketch aggregate: incremental exact counts") {
    val input = MemoryStream[(String, Long)]
    val agg = SketchStreams.sketchPerKey(input.toDF().toDF("lang", "v"), Seq("lang"), "v")
    assert(agg.schema.fieldNames.toSeq == Seq("lang", "sketch", "approx_distinct"))
    val query = agg.writeStream.format("memory").outputMode("complete")
      .queryName("stream_sketch").start()
    try {
      input.addData((0 until 50).map(i => ("en", i.toLong % 30)): _*)
      query.processAllAvailable()
      val r1 = spark.table("stream_sketch").collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(r1("en") == 30L)
      // second micro-batch: new values merge into the state-store sketch
      input.addData((0 until 50).map(i => ("en", 20L + i % 40)): _*)
      input.addData(("de", 1L), ("de", 2L), ("de", 1L))
      query.processAllAvailable()
      val r2 = spark.table("stream_sketch").collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(r2("en") == 60L, s"0..29 union 20..59 = 60 distinct, got ${r2("en")}")
      assert(r2("de") == 2L)
      // the emitted sketch bytes are valid and agree with the estimate
      val skBytes = spark.table("stream_sketch").filter($"lang" === "en")
        .collect()(0).getAs[Array[Byte]](1)
      assert(CardinalitySketch.deserialize(skBytes).estimate == 60L)
    } finally query.stop()
  }

  test("sketch state survives a streaming query restart (state-store round trip)") {
    // p14: "de" holds 3000 distinct values, HLL mode above p12
    val batches = Seq(
      (0 until 40).map(i => ("en", i.toLong)) ++ (0 until 2000).map(i => ("de", i.toLong)),
      (20 until 70).map(i => ("en", i.toLong)) ++ (1000 until 3000).map(i => ("de", i.toLong)))
    def query(input: MemoryStream[(String, Long)], name: String, ckpt: String) =
      SketchStreams.sketchPerKey(input.toDF().toDF("lang", "v"), Seq("lang"), "v", p = 14)
        .writeStream.format("memory").outputMode("complete")
        .option("checkpointLocation", ckpt)
        .queryName(name).start()
    def sketches(name: String): Map[String, Seq[Byte]] = spark.table(name).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap

    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt_").toString
    val input = MemoryStream[(String, Long)]
    val q1 = query(input, "stream_restart", ckpt)
    try {
      input.addData(batches(0): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the checkpoint: state (serialized sketches) must reload
    val q2 = query(input, "stream_restart", ckpt)
    try {
      input.addData(batches(1): _*)
      q2.processAllAvailable()
      val est = spark.table("stream_restart").collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(est("en") == 70L, s"0..39 union 20..69 = 70 distinct, got ${est("en")}")
    } finally q2.stop()
    // the same rows in one batch, without a restart, end in the same bytes
    val straight = MemoryStream[(String, Long)]
    val q3 = query(straight,
      "stream_straight", java.nio.file.Files.createTempDirectory("graft_stream_ckpt_").toString)
    try {
      straight.addData(batches.flatten: _*)
      q3.processAllAvailable()
    } finally q3.stop()
    val (restarted, uninterrupted) = (sketches("stream_restart"), sketches("stream_straight"))
    assert(restarted.keySet == Set("en", "de") && uninterrupted.keySet == restarted.keySet)
    assert(restarted("de")(5) == CardinalitySketch.ModeHll)
    val differ = restarted.keys.filter(k => restarted(k) != uninterrupted(k))
    assert(differ.isEmpty, s"sketch bytes differ after the restart for ${differ.mkString(", ")}")
    // the state keeps one sketch buffer per key; the estimate is read from it
    val value = spark.read.format("statestore").load(ckpt).schema("value")
    assert(value.dataType.asInstanceOf[StructType].map(_.dataType) == Seq(BinaryType),
      value.dataType.simpleString)
  }

  test("streaming exact dedup within watermark: duplicates dropped across batches") {
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = SketchStreams.streamingExactDedup(
      input.toDF().toDF("ts", "id", "text"), "text", "ts", "10 minutes")
    val query = out.writeStream.format("memory").outputMode("append")
      .queryName("stream_dedup").start()
    try {
      val base = 1700000000000L
      input.addData(
        (new Timestamp(base), 1L, "alpha doc"),
        (new Timestamp(base + 1000), 2L, "alpha doc"), // dup in same batch
        (new Timestamp(base + 2000), 3L, "beta doc"))
      query.processAllAvailable()
      input.addData(
        (new Timestamp(base + 3000), 4L, "alpha doc"), // dup across batches
        (new Timestamp(base + 4000), 5L, "gamma doc"))
      query.processAllAvailable()
      val kept = spark.table("stream_dedup").collect().map(_.getString(2)).toSeq.sorted
      assert(kept == Seq("alpha doc", "beta doc", "gamma doc"),
        s"got $kept")
      // state keys are hashes: output schema carries no helper column
      assert(spark.table("stream_dedup").schema.fieldNames.toSeq == Seq("ts", "id", "text"))
    } finally query.stop()
  }

  test("windowed streaming distinct with watermark") {
    val input = MemoryStream[(Timestamp, Long)]
    val agg = SketchStreams.distinctPerWindow(
      input.toDF().toDF("ts", "user"), "ts", "user", "10 minutes", "5 minutes")
    val query = agg.writeStream.format("memory").outputMode("complete")
      .queryName("stream_window").start()
    try {
      val base = 1700000000000L
      input.addData(
        (0 until 40).map(i => (new Timestamp(base + (i % 2) * 600000L), i.toLong % 25)): _*)
      query.processAllAvailable()
      val rows = spark.table("stream_window").collect()
        .map(r => r.getStruct(0).getTimestamp(0).getTime -> r.getLong(1)).toMap
      assert(rows.size == 2, s"expected 2 windows, got $rows")
      // window 0 sees even i -> users {0,2,..,24,1,3,..} mod 25: i%2==0 -> i%25 over evens
      val w0 = (0 until 40).filter(_ % 2 == 0).map(_ % 25).distinct.size.toLong
      val w1 = (0 until 40).filter(_ % 2 == 1).map(_ % 25).distinct.size.toLong
      assert(rows.values.toSeq.sorted == Seq(w0, w1).sorted, s"got $rows want $w0/$w1")
    } finally query.stop()
  }
}
