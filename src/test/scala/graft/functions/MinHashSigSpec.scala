package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MinHashSigSpec extends SparkSpec {
  import spark.implicits._

  test("native minhash signature matches the declarative affine-min formulation") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "a b"),            // no 3-shingles -> null / dropped
      (4L, "x y z")           // exactly one shingle
    ).toDF("doc_id", "text")
    val k = 8
    val native = docs
      .select(col("doc_id"), GraftFunctions.minhashSig(col("text"), 3, k).as("sig"))
      .filter(col("sig").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // Independent formulation: Horner polynomial + avalanche per
    // shingle (higher-order-function fold), then min of each affine
    // permutation — MinHashSig's spec, declared in Column algebra.
    val x = {
      import org.apache.spark.sql.Column
      val h = aggregate(split(col("s"), ""), lit(0L),
        (acc, c) => (acc * SimHash64.BaseA + ascii(c)) % SimHash64.Mod)
      def xsr(v: Column, s: Int) =
        v.bitwiseXOR(call_function("shiftright", v, lit(s)))
      def mul(v: Column, c: Long) = (v * c).bitwiseAND(lit(SimHash64.Mask))
      xsr(mul(xsr(mul(xsr(h, 16), SimHash64.MixC1), 13), SimHash64.MixC2), 16)
    }
    val declarative = docs
      .select(col("doc_id"),
        explode(graft.operators.TextOps.shinglesHof(split(col("text"), " "), 3)).as("s"))
      .select(col("doc_id"), x.as("x"))
      .groupBy("doc_id")
      .agg(min((col("x") * MinHashSig.coeffA(0) + MinHashSig.coeffB(0)) %
          MinHashSig.Mod).cast("int").as("mh0"),
        (1 until k).map(i =>
          min((col("x") * MinHashSig.coeffA(i) + MinHashSig.coeffB(i)) %
            MinHashSig.Mod).cast("int").as(s"mh$i")): _*)
      .collect()
      .map(r => r.getLong(0) -> (0 until k).map(i => r.getInt(i + 1))).toMap
    assert(native.keySet == Set(1L, 2L, 4L))
    assert(native.view.mapValues(_.toSeq).toMap ==
      declarative.view.mapValues(_.toSeq).toMap)
  }

  test("minhash_sig is nullable over a non-nullable child and compiles " +
       "under whole-stage codegen with fallback off") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // non-nullable input through an RDD scan: a local relation would be
    // folded at optimization time and never reach generated code
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "the quick brown fox jumps over the lazy dog"),
      Row(2L, "a b"))), schema) // shorter than n = 3 tokens -> null
    val out = docs.select(col("doc_id"), GraftFunctions.minhashSig(
      graft.operators.TextOps.segmentIfUnspaced(col("text")), 3, 32).as("sig"))
    assert(out.schema("sig").nullable)
    val key = "spark.sql.codegen.fallback"
    spark.conf.set(key, "false")
    try {
      val sig = out.collect()
        .map(r => r.getLong(0) -> Option(r.getSeq[Int](1))).toMap
      assert(sig(1L).map(_.size).contains(32))
      assert(sig(2L).isEmpty)
    } finally spark.conf.unset(key)
  }
}
