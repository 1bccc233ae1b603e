package graft.streaming

import graft.SparkSpec
import graft.operators.Redact
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** PII scrubbing is an INGEST-time transform — at 100 TB you scrub the
  * stream once on the way in, not the lake afterwards. [[Redact]] is
  * a pure stateless expression chain, so the same column expressions
  * must run unmodified inside a streaming query with batch-identical
  * results (no watermark, no state store — row-local redaction).
  */
class StreamScrubSpec extends SparkSpec {
  import spark.implicits._

  test("streaming scrub output is row-identical to the batch scrub") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "mail alice@example.com from 10.0.0.7"),
      (2L, "call +1 (415) 555-0137 re 2024-01-01"),
      (3L, "clean row, nothing to redact"))
    val mem = MemoryStream[(Long, String)]
    val scrubbed = Redact.scrub(mem.toDF().toDF("doc_id", "text"))
    val q = scrubbed.writeStream.format("memory")
      .queryName("scrub_sink").outputMode("append").start()
    try {
      mem.addData(rows.take(2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("scrub_sink")
        .orderBy("doc_id").collect().toSeq
      val batch = Redact.scrub(rows.toDF("doc_id", "text"))
        .orderBy("doc_id").collect().toSeq
      assert(streamed == batch)
      assert(batch.map(_.getAs[String]("text")) == Seq(
        s"mail ${Redact.EmailTok} from ${Redact.IpTok}",
        s"call ${Redact.PhoneTok} re 2024-01-01",
        "clean row, nothing to redact"))
    } finally q.stop()
  }

  test("streaming Gopher gate matches the batch gate row for row " +
       "(ingest-time quality filtering, no state)") {
    implicit val sqlCtx = spark.sqlContext
    val fluent = "the quick cat sat near the tall tree and " +
      "the small dog ran to the old house with joy"
    val rows = Seq(
      1L -> fluent,                                   // passes every rule
      2L -> ("el gato la casa de los perros que corren el sol " +
        "la luna los vientos de la tarde que pasa"),  // wrong language
      3L -> Seq.fill(10)("the cat sat").mkString(" "), // repetition-capped
      4L -> "the a of",                               // too short
      5L -> fluent.replace("joy", "glee"))            // passes
    val mem = MemoryStream[(Long, String)]
    val gated = graft.operators.Corpus.gopherGate(
      mem.toDF().toDF("doc_id", "text"))
    val q = gated.writeStream.format("memory")
      .queryName("gate_sink").outputMode("append").start()
    try {
      mem.addData(rows.take(3): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("gate_sink").orderBy("doc_id").collect().toSeq
      val batch = graft.operators.Corpus.gopherGate(rows.toDF("doc_id", "text"))
        .collect().toSeq
      assert(streamed == batch, s"stream $streamed vs batch $batch")
      assert(streamed.map(_.getAs[Long]("doc_id")) == Seq(1L, 5L))
    } finally q.stop()
  }
}
