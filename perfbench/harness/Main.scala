package org.apache.spark.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Mart, WeatherMart}
import graft.functions.GraftFunctions
import graft.operators.{Corpus, Dedup, Redact, Similarity, TextAnalysis, TextOps}
import graft.streaming.{CurationPipeline, StreamSink}

/** Benchmark harness: one process runs one workload against graft's
  * public functions, with one client thread in a closed loop, and writes
  * its raw measurements as JSON for `perfbench/run.py` to check and
  * reduce.
  *
  * Usage: Main <workload> <inputs dir> <work dir> <out json> <seconds> <trace 0|1> <cores>
  *        Main oracle-sql <data dir> <out json>
  */
object Main {

  final case class Opts(workload: String, inputs: String, work: String,
                        out: String, seconds: Double, trace: Boolean, cores: Int)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def countFiles(f: File, suffix: String): Long =
    if (f.isFile) { if (f.getName.endsWith(suffix)) 1L else 0L }
    else Option(f.listFiles()).map(_.map(countFiles(_, suffix)).sum).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    if (args(0) == "oracle-sql") return dumpOracleSql(args(1), args(2))
    val o = Opts(args(0), args(1), args(2), args(3), args(4).toDouble,
      args(5) == "1", args(6).toInt)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val counters = if (o.trace) Some(new Counters(spark.sparkContext)) else None
    counters.foreach(_.register(spark))
    val tracer = new Tracer(counters, s"${o.workload}-${ProcessHandle.current().pid()}")
    val res = new Result
    res.put("session_s", sessionS)
    val w: Workload = o.workload match {
      case "mart_build" => new MartBuild(spark, o, tracer, res)
      case "corpus_dedup" => new CorpusDedup(spark, o, tracer, res)
      case other => sys.error(s"unknown workload $other")
    }
    try {
      Driver.run(o, w, tracer, res)
      res.putStr("spark_version", spark.version)
    } finally {
      Files.write(Paths.get(o.out), res.json.getBytes(StandardCharsets.UTF_8))
      if (o.trace) Files.write(Paths.get(o.out + ".spans.jsonl"),
        tracer.toJsonLines.getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  /** The DuckDB oracle SQL for the inputs in `data`, resolved the way
    * Verify resolves it, as one JSON object.
    */
  def dumpOracleSql(data: String, out: String): Unit = {
    val spark = SparkSession.builder().master("local[1]").appName("perfbench-oracle")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val sql = graft.SparkEntry.oracleSqlFor(spark, data)
      Files.write(Paths.get(out), sql.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Result.q(k)}: ${Result.q(v)}" }
        .mkString("{", ",\n", "}\n").getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}

/** Raw measurements of one run, serialised as one JSON object. */
final class Result {
  private val scalars = mutable.LinkedHashMap[String, String]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val digests = mutable.LinkedHashMap[String, String]()
  val batches = mutable.ArrayBuffer[String]()
  val errors = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def put(k: String, v: Double): Unit = scalars(k) = java.lang.Double.toString(v)
  def putStr(k: String, v: String): Unit = scalars(k) = Result.q(v)
  def putList(k: String, vs: Seq[Double]): Unit =
    scalars(k) = vs.map(java.lang.Double.toString).mkString("[", ", ", "]")

  def json: String = {
    val parts = mutable.ArrayBuffer[String]()
    scalars.foreach { case (k, v) => parts += s"${Result.q(k)}: $v" }
    parts += s""""attempted": $attempted, "failed": $failed"""
    parts += "\"errors\": " + errors.map(Result.q).mkString("[", ", ", "]")
    parts += "\"digests\": " + digests.map { case (k, v) => s"${Result.q(k)}: ${Result.q(v)}" }
      .mkString("{", ", ", "}")
    parts += "\"batches\": " + batches.mkString("[", ", ", "]")
    parts += "\"layer\": " + layer.map { case (k, v) =>
      s"${Result.q(k)}: ${if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)}"
    }.mkString("{", ", ", "}")
    parts.mkString("{", ", ", "}\n")
  }
}

object Result {
  def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Order-insensitive digest of a result: each row canonicalised (columns
  * sorted by name, numbers rounded half-even to 4 decimals, trailing
  * zeros stripped), hashed with SHA-256, and the first 8 bytes summed
  * mod 2^64. `perfbench/oracle.py` computes the same digest over the
  * DuckDB oracle's rows.
  */
object Digest {
  def value(v: Any): String = v match {
    case null => "\\N"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => dec(b)
    case b: scala.math.BigDecimal => dec(b.bigDecimal)
    case b: Boolean => if (b) "true" else "false"
    case n: java.lang.Number => n.toString
    case s: String => s
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case other => other.toString
  }
  private def num(d: Double): String =
    if (d.isNaN) "\\N" else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else dec(new java.math.BigDecimal(d))
  private def dec(b: java.math.BigDecimal): String = {
    val r = b.setScale(4, java.math.RoundingMode.HALF_EVEN)
    if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
  }

  def rows(columns: Array[String], rs: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rs.foreach { r =>
      val line = order.map(i => value(r.get(i))).mkString("\u001f")
      val h = md.digest(line.getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    f"${rs.length}:${java.lang.Long.toUnsignedString(sum, 16)}"
  }

  def of(df: DataFrame): String = rows(df.columns, df.collect())
}

/** One benchmark workload: a repeatable set-up and a fixed pass of work. */
trait Workload {
  /** Rows of input one pass processes (recorded with the run). */
  def items: Long
  /** The workload's set-up; run several times, the median is reported. */
  def setup(rep: Int): Unit
  /** One pass; `i` = 0 is the warm-up. Each call goes through `Driver.op`. */
  def pass(i: Int): Unit
  /** Extra per-layer decomposition, traced runs only, after the passes. */
  def probes(): Unit = ()
  /** Checks run once after the last pass (untimed). */
  def finish(): Unit = ()
}

object Driver {
  private var ctx: (Tracer, Result) = _
  private val t0 = System.nanoTime()
  /** Progress line on stderr (the run's log), with seconds since start. */
  def phase(what: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - t0) / 1e9}%.1fs $what")
  /** Per op name: durations of timed passes; cold = warm-up duration. */
  val opTimes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val coldTimes = mutable.LinkedHashMap[String, Double]()
  var currentPass = 0

  val heap = new HeapWatch
  /** Per pass: summed wall and process CPU seconds of its calls. */
  var passOpS = 0.0
  var passCpuS = 0.0
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** One checked call: timed (a span when tracing), failures counted.
    * `digest` (untimed) reduces the call's output to its digest, or None
    * when the call is checked elsewhere; the warm-up digest is the
    * reference every later pass must reproduce, and the one run.py
    * checks against the oracle.
    */
  def op[T](name: String)(body: => T)(digest: T => Option[String]): Unit = {
    val (tracer, res) = ctx
    res.attempted += 1
    try {
      val c0 = os.getProcessCpuTime
      val (out, secs) = tracer.span(name)(body)
      passCpuS += (os.getProcessCpuTime - c0) / 1e9
      heap.sample()
      passOpS += secs
      if (currentPass == 0) coldTimes(name) = secs
      else opTimes.getOrElseUpdate(name, mutable.ArrayBuffer()) += secs
      digest(out).foreach { d =>
        res.digests.get(name) match {
          case None => res.digests(name) = d
          case Some(ref) if ref != d =>
            res.failed += 1
            res.errors += s"$name: pass $currentPass digest $d differs from warm-up $ref"
          case _ =>
        }
      }
    } catch {
      case e: Throwable =>
        res.failed += 1
        res.errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    }
  }

  /** A failed check outside an op. */
  def fail(msg: String): Unit = { ctx._2.failed += 1; ctx._2.errors += msg }

  def run(o: Main.Opts, w: Workload, tracer: Tracer, res: Result): Unit = {
    ctx = (tracer, res)

    // Set-up runs once cold, before the warm-up pass that needs it, and
    // six more times warm; the median of the seven is setup_s.
    val wasTracing = tracer.enabled
    def setupOnce(r: Int): Double = {
      tracer.enabled = false
      val t0 = System.nanoTime(); w.setup(r)
      tracer.enabled = wasTracing
      (System.nanoTime() - t0) / 1e9
    }
    val cold = setupOnce(0)
    phase("set up")
    currentPass = 0
    val (_, warmS) = tracer.span("pass")(w.pass(0))
    phase("warm-up pass")
    res.put("warmup_s", warmS)
    val setupReps = cold +: (1 until 7).map(setupOnce)
    res.putList("setup_reps_s", setupReps)
    res.put("setup_s", Main.median(setupReps))

    // Timed passes: closed loop until the time budget is spent. A traced
    // run alternates traced and untraced passes so the tracing overhead
    // is measured in the same process.
    val passS = mutable.ArrayBuffer[Double]()
    val tracedS = mutable.ArrayBuffer[Double]()
    val untracedS = mutable.ArrayBuffer[Double]()
    val cpuS = mutable.ArrayBuffer[Double]()
    val loopStart = System.nanoTime()
    var i = 1
    def spent = (System.nanoTime() - loopStart) / 1e9
    val minPasses = if (o.trace) 2 else 1
    while (i <= minPasses || spent < o.seconds) {
      currentPass = i
      tracer.enabled = wasTracing && i % 2 == 1
      heap.armed = true
      passOpS = 0.0; passCpuS = 0.0
      tracer.span("pass")(w.pass(i))
      heap.armed = false
      val s = passOpS
      cpuS += passCpuS
      passS += s
      if (tracer.enabled) tracedS += s else untracedS += s
      i += 1
    }
    tracer.enabled = wasTracing
    phase(s"${passS.size} timed passes")
    res.putList("pass_s", passS.toSeq)
    res.putList("cpu_s", cpuS.toSeq)
    res.put("peak_heap_mb", heap.peakMb)
    opTimes.foreach { case (n, ts) => res.putList(s"op_s.$n", ts.toSeq) }
    coldTimes.foreach { case (n, s) => res.put(s"cold_s.$n", s) }
    res.put("items", w.items.toDouble)

    if (o.trace) {
      res.put("traced_pass_s", Main.median(tracedS.toSeq))
      res.put("untraced_pass_s", Main.median(untracedS.toSeq))
      Layers.engine(tracer, res, o.cores)
      try w.probes()
      catch { case e: Throwable => fail(s"probes: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      coldTimes.foreach { case (n, s) => res.layer(s"$n.cold_s") = s }
      res.layer("trace.spans") = tracer.spans.size.toDouble
      phase("probes")
    }
    currentPass = -1
    w.finish()
    phase("finished")
  }
}

/** Live heap at call boundaries: a full GC as each timed call returns
  * (its output still referenced), then the heap in use. The largest such
  * value is the run's peak live set; sampling at fixed points keeps it
  * independent of when the collector happened to run.
  */
final class HeapWatch {
  private val mem = ManagementFactory.getMemoryMXBean
  var armed = false
  private var peak = 0L
  def sample(): Unit = if (armed) {
    // the second collection runs after Spark's ContextCleaner has dropped
    // the blocks of RDDs the first one found unreachable
    System.gc()
    Thread.sleep(100)
    System.gc()
    peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / 1048576.0
}

/** Engine-level per-layer metrics, from the traced passes' spans. */
object Layers {
  def passSpans(t: Tracer): Seq[Span] = t.spans.filter(s => s.name == "pass" && s.parent == -1).drop(1).toSeq

  /** Engine counters summed over each traced pass's calls, median over
    * passes. Only the calls' own spans count: the pass span also holds the
    * harness's checks and heap sampling.
    */
  def engine(t: Tracer, res: Result, cores: Int): Unit = {
    val ps = passSpans(t).map { p =>
      val calls = t.spans.filter(_.parent == p.id)
      Span(p.id, -1, "calls", p.run, 0L, calls.map(c => c.endNs - c.startNs).sum,
        calls.flatMap(_.counts.keys).distinct.map(k => k -> calls.map(_.counts.getOrElse(k, 0L)).sum).toMap,
        calls.map(_.idleMs).sum)
    }
    def med(f: Span => Double): Double = Main.median(ps.map(f))
    def c(s: Span, k: String): Double = s.counts.getOrElse(k, 0L).toDouble
    res.layer("spark.jobs") = med(c(_, "jobs"))
    res.layer("spark.tasks") = med(c(_, "tasks"))
    res.layer("spark.task_s") = med(c(_, "task_ms") / 1000)
    res.layer("spark.gc_s") = med(c(_, "gc_ms") / 1000)
    res.layer("spark.core_busy") = med(s => c(s, "task_ms") / 1000 / (s.seconds * cores))
    res.layer("spark.spill_mb") = med(c(_, "spill_b") / 1048576)
    res.layer("spark.codegen_compiles") = med(c(_, "codegen"))
    res.layer("spark.driver_s") = med(_.idleMs / 1000.0)
    res.layer("exchange.shuffle_write_mb") = med(c(_, "shuffle_write_b") / 1048576)
    res.layer("exchange.shuffle_read_mb") = med(c(_, "shuffle_read_b") / 1048576)
    res.layer("exchange.fetch_wait_s") = med(c(_, "fetch_wait_ms") / 1000)
    res.layer("core.scan_mb") = med(c(_, "scan_b") / 1048576)
    res.layer("core.scan_rows") = med(c(_, "scan_rows"))
  }

  /** Per-call metrics from the traced passes' child spans named `op`. */
  def opSpans(t: Tracer, op: String): Seq[Span] = {
    val passIds = passSpans(t).map(_.id).toSet
    t.spans.filter(s => s.name == op && passIds.contains(s.parent)).toSeq
  }
}

/** `mart_build`: Mart.materialize, WeatherMart.validateFact, then
  * Mart.mergeFact of the seeded update feed.
  */
final class MartBuild(spark: SparkSession, o: Main.Opts, t: Tracer, res: Result)
    extends Workload {
  private val data = s"${o.inputs}/data"
  private val mart = s"${o.work}/mart"
  private var feed: DataFrame = _
  lazy val items: Long = spark.read.parquet(s"$data/lineitem.parquet").count()

  /** Load the update feed (fact-shaped rows) and size the input. */
  def setup(rep: Int): Unit = {
    if (feed != null) feed.unpersist(true)
    feed = spark.read.parquet(s"${o.inputs}/feed.parquet").cache()
    feed.count()
    items
  }

  /** The feed conformed to the stored fact's schema, as a loader would. */
  private def conformedFeed: DataFrame = {
    val stored = Mart.table(spark, mart, Mart.FactTable).schema.fields
      .filter(_.name != "year")
    feed.select(stored.toIndexedSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  def pass(i: Int): Unit = {
    Driver.op("etl.mart.materialize")(Mart.materialize(spark, data, mart))(_ => None)
    Driver.op("etl.validate") {
      val df = WeatherMart.validateFact(spark, data); (df.columns, df.collect())
    }(r => Some(Digest.rows(r._1, r._2)))
    Driver.op("etl.mart.merge_fact")(
      Mart.mergeFact(spark, mart, conformedFeed))(_ => None)
    // untimed per-pass check: the merged fact keeps its row count
    val n = Mart.table(spark, mart, Mart.FactTable).count()
    res.digests.get("fact_rows") match {
      case None => res.digests("fact_rows") = n.toString
      case Some(ref) if ref != n.toString => Driver.fail(s"fact rows $n != warm-up $ref in pass $i")
      case _ =>
    }
  }

  override def probes(): Unit = {
    def force(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    val reps = 2
    val staging = (0 until reps).map(_ => t.span("etl.staging")(force(WeatherMart.staging(spark, data)))._2)
    val dims = (0 until reps).map { _ =>
      t.span("etl.dims") {
        Seq(WeatherMart.dimDate(spark, data), WeatherMart.dimLocation(spark, data),
          WeatherMart.dimBand(spark, data), WeatherMart.dimPrecipType(spark, data),
          WeatherMart.dimSource(spark), WeatherMart.normalizedLocation(spark, data))
          .foreach(force)
      }._2
    }
    val build = (0 until reps).map { _ =>
      t.span("plans.running_window.build")(WeatherMart.fact(spark, data))
    }
    val buildSpans = t.spans.filter(_.name == "plans.running_window.build").toSeq
    val fact = (0 until reps).map(_ => t.span("etl.fact")(force(WeatherMart.fact(spark, data)))._2)
    res.layer("etl.staging_s") = Main.median(staging)
    res.layer("etl.dims_s") = Main.median(dims)
    res.layer("etl.fact_s") = Main.median(fact)
    res.layer("plans.running_window.build_s") = Main.median(build.map(_._2))
    res.layer("plans.running_window.build_jobs") =
      Main.median(buildSpans.map(_.counts.getOrElse("jobs", 0L).toDouble))
    Seq("etl.mart.materialize", "etl.validate", "etl.mart.merge_fact").foreach { n =>
      res.layer(n + "_s") = Main.median(Driver.opTimes.getOrElse(n, Nil).toSeq)
    }
    res.layer("etl.mart.fact_files") =
      Main.countFiles(new File(s"$mart/${Mart.FactTable}"), ".parquet").toDouble
  }

  override def finish(): Unit = res.putStr("mart_dir", mart)
}

/** `corpus_dedup`: the seven corpus calls, each forced to completion by
  * collecting its result (which is then digested for the check).
  */
final class CorpusDedup(spark: SparkSession, o: Main.Opts, t: Tracer, res: Result)
    extends Workload {
  private val data = s"${o.inputs}/data"
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var nDocs = 0L
  private var nEmb = 0L
  def items: Long = nDocs + nEmb

  def setup(rep: Int): Unit = {
    if (docs != null) { docs.unpersist(true); emb.unpersist(true) }
    docs = graft.core.Tables(spark, data, "documents").cache()
    emb = graft.core.Tables(spark, data, "embeddings").cache()
    nDocs = docs.count(); nEmb = emb.count()
  }

  val ops: Seq[(String, () => DataFrame)] = Seq(
    "operators.minhash_lsh" -> (() => Dedup.minhashLsh(docs)),
    "operators.simhash" -> (() => Dedup.simhash(docs)),
    "operators.ngram_jaccard" -> (() => Dedup.ngramJaccard(docs)),
    "operators.gopher_gate" -> (() => Corpus.gopherGate(docs)),
    "operators.text_normalize" -> (() => TextAnalysis.normalize(docs)),
    "operators.knn_graph" -> (() => Similarity.knnGraph(emb, bands = 8,
      rowsPerBand = Similarity.AutoWidth)),
    "operators.semantic_dedup" -> (() => Similarity.semanticDedup(emb, bands = 8,
      rowsPerBand = Similarity.AutoWidth)))

  /** Per op, (verified pairs, candidate pairs) from traced passes. */
  private val yields = mutable.Map[String, (Long, Long)]()

  def pass(i: Int): Unit = ops.foreach { case (name, f) =>
    Driver.op(name) { val df = f(); (df.columns, df.collect()) } { r =>
      // candidates: the largest join output of the call's executed plan
      if (t.enabled) t.counters.foreach(c => yields(name) = (r._2.length.toLong, c.lastMaxJoinRows.get))
      Some(Digest.rows(r._1, r._2))
    }
  }

  override def probes(): Unit = {
    ops.foreach { case (name, _) =>
      val ss = Layers.opSpans(t, name)
      def med(k: String, scale: Double) =
        Main.median(ss.map(_.counts.getOrElse(k, 0L) / scale))
      res.layer(s"$name.wall_s") = Main.median(Driver.opTimes.getOrElse(name, Nil).toSeq)
      res.layer(s"$name.shuffle_mb") = Main.median(ss.map(s =>
        (s.counts.getOrElse("shuffle_write_b", 0L) + s.counts.getOrElse("shuffle_read_b", 0L)) / 1048576.0))
      if (Seq("minhash_lsh", "simhash", "knn_graph").exists(name.endsWith)) {
        res.layer(s"$name.exchanges") = med("exchanges", 1.0)
      }
    }
    Seq("operators.minhash_lsh", "operators.simhash", "operators.knn_graph").foreach { name =>
      val (out, cand) = yields.getOrElse(name, (0L, 0L))
      res.layer(s"$name.pair_yield") = if (cand > 0) out.toDouble / cand else 0.0
    }
    Kernels.measure(spark, docs.select("doc_id", "text"), Some(emb.select("vec_id", "embedding")), t, res)
    docs.unpersist(true); emb.unpersist(true)
    new StreamingProbe(spark, o, t, res).run()
  }
}

/** `functions.<kernel>.ns_per_row`: each graft expression over the
  * workload's own cached columns, net of a pass-through select of the
  * same columns.
  */
object Kernels {
  def measure(spark: SparkSession, docs0: DataFrame, emb0: Option[DataFrame], t: Tracer,
              res: Result): Unit = {
    // 4 copies of the workload's rows: enough work per job to see the
    // kernel above the job overhead
    val reps = spark.range(4).select(col("id").as("__r"))
    val docs = docs0.crossJoin(reps).select(col("text"),
      GraftFunctions.shingleHashes(col("text"), 3).as("sh"),
      split(col("text"), " ").as("toks")).cache()
    val emb = emb0.getOrElse(spark.range(1).select(array(lit(1.0f)).as("embedding")))
      .crossJoin(reps).select(col("embedding"), reverse(col("embedding")).as("other")).cache()
    val nd = docs.count().toDouble
    val ne = emb.count().toDouble
    val dim = emb.head().getSeq[Float](0).size
    val rnd = new scala.util.Random(7)
    val m = if (dim % 8 == 0) 8 else 1
    val k = 16
    val codebook = Array.fill(m * k * (dim / m))(rnd.nextFloat() - 0.5f)
    val present = Array.fill(m * k)(true)
    val cells = 16
    val centroids = Array.fill(cells * dim)(rnd.nextFloat() - 0.5f)
    val cellIds = (0L until cells.toLong).toArray
    val T = col("text"); val E = col("embedding")
    val SH = col("sh"); val O = col("other")
    // (name, input, kernel, pass-through select of the same input columns)
    val kernels: Seq[(String, DataFrame, Column, Column)] = Seq(
      ("rolling_fingerprint", docs, GraftFunctions.rollingFingerprint(T), length(T)),
      ("word_shingles", docs, GraftFunctions.wordShingles(T, 3), length(T)),
      ("simhash64", docs, GraftFunctions.simhash64(T), length(T)),
      ("repetition_stats", docs, GraftFunctions.repetitionStats(T, 3), length(T)),
      ("string_hash31", docs, GraftFunctions.stringHash31(T), length(T)),
      ("marker_counts", docs, GraftFunctions.markerCounts(T, Seq(Seq("the", "and"), Seq("of"))),
        length(T)),
      ("minhash_sig", docs, GraftFunctions.minhashSig(T, 3, 32), length(T)),
      ("shingle_hashes", docs, GraftFunctions.shingleHashes(T, 3), length(T)),
      ("sorted_array_jaccard", docs, GraftFunctions.sortedArrayJaccard(SH, reverse(SH)),
        size(SH) + size(reverse(SH))),
      ("shingles_hof", docs, TextOps.shinglesHof(col("toks"), 3), size(col("toks"))),
      ("segment_if_unspaced_hof", docs, TextOps.segmentIfUnspacedHof(T), length(T)),
      ("vector_dot", emb, GraftFunctions.vectorDot(E, O), size(E) + size(O)),
      ("vector_cosine", emb, GraftFunctions.vectorCosine(E, O), size(E) + size(O)),
      ("vector_sub", emb, GraftFunctions.vectorSub(E, O), size(E) + size(O)),
      ("pq_codes", emb, GraftFunctions.pqCodes(E, codebook, present, m, k), size(E)),
      ("nearest_cells", emb, GraftFunctions.nearestCells(E, cellIds, centroids, dim, 2), size(E)))
    // best of two runs: the first also compiles the query
    def time(df: DataFrame, c: Column): Double = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      df.select(c).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }.min
    val baselines = mutable.Map[String, Double]()
    kernels.filter(k => (k._2 eq docs) || emb0.isDefined).foreach { case (name, df, c, base) =>
      val n = if (df eq docs) nd else ne
      val b = baselines.getOrElseUpdate(base.toString, time(df, base))
      val (s, _) = t.span(s"functions.$name")(time(df, c) - b)
      // may read slightly below 0 when a kernel costs less than the noise
      res.layer(s"functions.$name.ns_per_row") = s / n * 1e9
    }
    docs.unpersist(); emb.unpersist()
  }
}

/** The streaming layer, measured in traced corpus_dedup runs: indexes
  * seeded with the seed documents, two 500-doc micro-batches through
  * CurationPipeline.sinkTo(out, Some(stats)) (the first one cold), then a
  * third batch through the pipeline's stages one at a time.
  */
final class StreamingProbe(spark: SparkSession, o: Main.Opts, t: Tracer, res: Result) {
  private val batchDir = s"${o.inputs}/batches"
  private val dir = s"${o.work}/curation"
  private val sink = s"$dir/sink"
  private val stats = s"$dir/stats"
  private val pipe = new CurationPipeline(spark, dir)
  private def batch(i: Int): DataFrame = spark.read.parquet(s"$batchDir/b$i.parquet")
  private def indexBytes: Long =
    Seq("exact", "near", "spans").map(d => Main.dirBytes(new File(s"$dir/$d"))).sum

  def run(): Unit = {
    val seed = spark.read.parquet(s"${o.inputs}/seed_docs.parquet")
    pipe.sinkTo(sink, Some(stats))(seed, 0L)
    res.layer("streaming.seed_docs") = seed.count().toDouble
    val growth = mutable.ArrayBuffer[Double]()
    val keep = mutable.ArrayBuffer[Double]()
    var batchDocs = 0L
    for (i <- 0 until 2) {
      val b = batch(i).localCheckpoint()
      batchDocs = b.count()
      val before = indexBytes
      val id = i + 1L
      Driver.currentPass = i
      Driver.op("streaming.batch")(pipe.sinkTo(sink, Some(stats))(b, id))(_ => None)
      // untimed: read back the funnel and the sink for the check
      growth += (indexBytes - before) / 1048576.0
      try {
        val st = spark.read.parquet(stats).filter(col("batch_id") === id).head()
        val funnel = (1 to 6).map(st.getLong)
        val sinkDigest = Digest.of(spark.read.parquet(s"$sink/batch=$id")
          .select("doc_id", "clean_text", "n_removed"))
        keep += funnel(4).toDouble / funnel(0)
        res.batches += s"""{"batch": $i, "id": $id, """ +
          s""""funnel": ${funnel.mkString("[", ", ", "]")}, "sink": "$sinkDigest"}"""
      } catch { case e: Throwable => Driver.fail(s"batch $id read-back: ${e.getMessage}") }
    }
    val warm = t.spans.filter(_.name == "streaming.batch").drop(1).toSeq
    def med(f: Span => Double) = Main.median(warm.map(f))
    res.layer("streaming.batch_s") = Main.median(Driver.opTimes.getOrElse("streaming.batch", Nil).toSeq)
    res.layer("streaming.jobs_per_batch") = med(_.counts.getOrElse("jobs", 0L).toDouble)
    res.layer("streaming.probe_read_mb") = med(_.counts.getOrElse("scan_b", 0L) / 1048576.0)
    res.layer("streaming.shuffle_mb") = med(s =>
      (s.counts.getOrElse("shuffle_write_b", 0L) + s.counts.getOrElse("shuffle_read_b", 0L)) / 1048576.0)
    res.layer("streaming.index_growth_mb") = Main.median(growth.toSeq)
    res.layer("streaming.keep_ratio") = Main.median(keep.toSeq)
    res.layer("streaming.batch_docs") = batchDocs.toDouble

    // The stages one at a time, through their public entry points in the
    // pipeline's documented order.
    val b = batch(2).localCheckpoint()
    b.count()
    val id = 3L
    val (gated, gateS) = t.span("streaming.gate") {
      val g = Corpus.gopherGateKeep(Redact.scrub(b)).localCheckpoint(); g.count(); g
    }
    val (unique, exactS) = t.span("streaming.exact") { val u = pipe.exact.accept(gated, id); u.count(); u }
    val (novel, nearS) = t.span("streaming.near") { val n = pipe.near.accept(unique, id); n.count(); n }
    val (out, spanS) = t.span("streaming.span") { val s = pipe.spans.scrub(novel, id); s.count(); s }
    val (_, sinkS) = t.span("streaming.sink")(StreamSink.idempotentParquet(s"$dir/probe_sink")(out, id))
    res.layer("streaming.gate_s") = gateS
    res.layer("streaming.exact_s") = exactS
    res.layer("streaming.near_s") = nearS
    res.layer("streaming.span_s") = spanS
    res.layer("streaming.sink_s") = sinkS
  }
}
