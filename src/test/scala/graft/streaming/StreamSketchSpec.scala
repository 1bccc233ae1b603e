package graft.streaming

import graft.SparkSpec
import graft.operators.Sketches
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming Count–Min: the sketch's cell-wise-additive merge is
  * exactly what makes it streamable — each micro-batch emits its own
  * ≤depth×width-row sketch (bounded state, no vocabulary ever held),
  * and the read side folds the appended sketches into the corpus
  * sketch. The spec proves fold-of-batches == one-pass over the whole
  * stream — the CMS twin of the streaming-HLL register-merge spec.
  */
class StreamSketchSpec extends SparkSpec {
  import spark.implicits._

  test("per-micro-batch CMS sketches fold to the one-pass corpus sketch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cms").toString
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("item").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        Sketches.cmsSketch(batch, depth = 2, width = 64)
          .cells.write.mode("overwrite").parquet(s"$dir/batch=$id")
      }
      .start()
    val all = Seq("alpha", "beta", "alpha", "gamma", "alpha", "beta",
      "delta", "alpha")
    try {
      mem.addData(all.take(3): _*); q.processAllAvailable()
      mem.addData(all.slice(3, 6): _*); q.processAllAvailable()
      mem.addData(all.drop(6): _*); q.processAllAvailable()
    } finally q.stop()

    // rebind the persisted cells to their geometry, as a reader would
    val folded = Sketches.cmsMerge(Sketches.Cms(
        spark.read.parquet(dir).select("row", "bucket", "cnt"),
        depth = 2, width = 64))
      .cells.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val onePass = Sketches.cmsSketch(all.toDF("item"), depth = 2, width = 64)
      .cells.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(folded === onePass)

    // and the folded sketch answers point queries like the one-pass one
    val est = Sketches.cmsEstimate(
      Sketches.cmsMerge(Sketches.Cms(
        spark.read.parquet(dir).select("row", "bucket", "cnt"),
        depth = 2, width = 64)),
      Seq("alpha", "delta", "absent").toDF("item"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("alpha") >= 4L && est("delta") >= 1L)
    assert(est("absent") <= est("alpha")) // collisions only ever inflate
  }
}
