package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  RDDScanExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper, BroadcastQueryStageExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import java.nio.file.Files

class MartSpec extends SparkSpec {

  test("materialized mart round-trips and the fact prunes by partition") {
    val out = Files.createTempDirectory("graft_mart").toString
    Mart.materialize(spark, sf(), out)

    // every table lands and is readable
    (Mart.DimTables :+ Mart.FactTable).foreach { t =>
      assert(Mart.table(spark, out, t).count() > 0, s"table $t is empty")
    }
    // every written table equals its standalone builder as a row
    // multiset — the shared pinned dim_location changes no output
    def sameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
      val g = got.select(want.columns.map(col).toIndexedSeq: _*)
      assert(g.count() == want.count() &&
        g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty,
        s"$what diverged from its standalone builder")
    }
    Seq(
      "dim_date" -> WeatherMart.dimDate(spark, sf()),
      "dim_location" -> WeatherMart.dimLocation(spark, sf()),
      "dim_band" -> WeatherMart.dimBand(spark, sf()),
      "dim_precip_type" -> WeatherMart.dimPrecipType(spark, sf()),
      "dim_source" -> WeatherMart.dimSource(spark),
      "normalized_location" -> WeatherMart.normalizedLocation(spark, sf())
    ).foreach { case (t, want) => sameRows(Mart.table(spark, out, t), want, t) }
    // fact content round-trips (modulo the derived partition column)
    val direct = WeatherMart.fact(spark, sf())
    val mart = Mart.table(spark, out, Mart.FactTable)
    assert(mart.columns.toSet == direct.columns.toSet + "year")
    sameRows(mart, direct, Mart.FactTable)

    // referential integrity across the WRITTEN tables (reference §3.6):
    // every fact foreign key resolves in its written dimension
    Seq("location_key" -> "dim_location", "date_key" -> "dim_date")
      .foreach { case (k, dim) =>
        val orphans = mart.join(Mart.table(spark, out, dim), Seq(k), "left_anti")
        assert(mart.filter(col(k).isNull).isEmpty && orphans.isEmpty,
          s"fact $k does not resolve in $dim")
      }

    // a date-ranged read prunes year partitions before opening files
    val pruned = Mart.factBetween(spark, out, "1995-01-01", "1995-12-31")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("year"),
      s"expected partition filters on year in:\n$plan")
    val years = pruned.select("year").distinct().collect().map(_.getInt(0)).toSet
    assert(years == Set(1995))
    // and the pruned read agrees with filtering the full fact
    val expected = direct
      .filter(org.apache.spark.sql.functions.col("date_key")
        .between("1995-01-01", "1995-12-31")).count()
    assert(pruned.count() == expected)

    // dashboard queries produce identical results over the
    // materialized tables and the inline-derived mart
    val q1Mart = Dashboard.avgByDate(
      Mart.table(spark, out, Mart.FactTable),
      Mart.table(spark, out, "dim_date")).collect().toSeq
    val q1Direct = Dashboard.avgByDate(spark, sf()).collect().toSeq
    assert(q1Mart == q1Direct)
    val q4Mart = Dashboard.bandCounts(
      Mart.table(spark, out, Mart.FactTable)).collect().toSeq
    assert(q4Mart == Dashboard.bandCounts(spark, sf()).collect().toSeq)
  }

  test("refreshFact overwrites only the touched year partitions") {
    val out = Files.createTempDirectory("graft_mart_refresh").toString
    Mart.materialize(spark, sf(), out)
    val fact = Mart.table(spark, out, Mart.FactTable)
    val years = fact.select("year").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(years.length >= 2, s"need ≥2 year partitions, got ${years.toSeq}")
    val (touched, untouched) = (years.head, years.last)

    val before = fact.filter(col("year") === untouched).count()
    // simulate a corrected reload of the oldest year: drop half its rows
    val corrected = WeatherMart.fact(spark, sf())
      .filter(year(col("date_key")) === touched &&
        pmod(col("l_orderkey"), lit(2)) === 0)
    val expected = corrected.count()
    Mart.refreshFact(spark, out, corrected)

    val after = Mart.table(spark, out, Mart.FactTable)
    assert(after.filter(col("year") === touched).count() == expected,
      "touched partition was not replaced")
    assert(after.filter(col("year") === untouched).count() == before,
      "untouched partition changed under dynamic overwrite")
  }

  test("mergeFact: key-level copy-on-write — updates replace, new keys " +
       "insert, merged mart ≡ recompute, untouched year files " +
       "byte-identical") {
    val out = Files.createTempDirectory("graft_mart_merge").toString
    Mart.materialize(spark, sf(), out)
    val factDir = s"$out/${Mart.FactTable}"
    val years = Mart.table(spark, out, Mart.FactTable)
      .select("year").distinct().collect().map(_.getInt(0)).sorted
    assert(years.length >= 2)
    val touched = years.head

    def listing(): Map[String, (Long, Long)] = {
      val fs = new org.apache.hadoop.fs.Path(factDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
        fs.listStatus(p).flatMap(st =>
          if (st.isDirectory) walk(st.getPath) else Seq(st)).toSeq
      walk(new org.apache.hadoop.fs.Path(factDir))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => st.getPath.toString ->
          (st.getLen, st.getModificationTime)).toMap
    }
    val storedBefore = Mart.table(spark, out, Mart.FactTable)
      .drop("year").localCheckpoint()
    val filesBefore = listing()

    // the feed: every 5th row of the oldest year gets its measure
    // corrected (UPDATE), plus one brand-new key (INSERT)
    val updatesPart = storedBefore
      .filter(year(col("date_key")) === touched &&
        pmod(col("l_orderkey"), lit(5)) === 0)
      .withColumn("avg_temp_f", col("avg_temp_f") + 100.0)
    val insertRow = storedBefore
      .filter(year(col("date_key")) === touched).limit(1)
      .withColumn("l_orderkey", lit(999999990L))
    val feed = updatesPart.unionByName(insertRow).localCheckpoint()
    Mart.mergeFact(spark, out, feed)

    // merged ≡ recompute: stored∖feed-keys ∪ feed, row for row
    val keys = Seq("date_key", "l_orderkey", "l_linenumber")
    val expect = storedBefore
      .join(feed.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(feed)
    val got = Mart.table(spark, out, Mart.FactTable).drop("year")
    assert(got.count() == expect.count() &&
      got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "merged mart diverged from recompute")

    // untouched years' files are the ORIGINAL bytes
    val filesAfter = listing()
    val untouchedFiles = filesBefore.keys
      .filterNot(_.contains(s"year=$touched"))
    assert(untouchedFiles.nonEmpty)
    untouchedFiles.foreach { f =>
      assert(filesAfter.get(f).contains(filesBefore(f)),
        s"untouched year file rewritten: $f")
    }

    // replaying the SAME feed converges (anti-join removes its own
    // previous application)
    Mart.mergeFact(spark, out, feed)
    val replay = Mart.table(spark, out, Mart.FactTable).drop("year")
    assert(replay.count() == expect.count() &&
      replay.exceptAll(expect).isEmpty, "merge replay diverged")

    // a NULL date_key in the feed is a CONTRACT error named up front
    // (year(NULL) is NULL — before the guard this surfaced as an
    // opaque NPE mid-merge), and the mart is left untouched
    val before = Mart.table(spark, out, Mart.FactTable).count()
    val bad = feed.limit(1)
      .withColumn("date_key", lit(null).cast("date"))
    val ex = intercept[IllegalArgumentException] {
      Mart.mergeFact(spark, out, bad)
    }
    assert(ex.getMessage.contains("date_key"),
      s"error must name the violated contract: ${ex.getMessage}")
    assert(Mart.table(spark, out, Mart.FactTable).count() == before,
      "failed merge mutated the mart")
  }

  /** Every file under `dir` with its (length, mtime), and every
    * directory by name only (adding a file touches its mtime).
    */
  private def tree(dir: String): Map[String, (Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap(st =>
        if (st.isDirectory) st +: walk(st.getPath) else Seq(st))
    walk(root).map(st => st.getPath.toString ->
      (if (st.isDirectory) (-1L, 0L) else (st.getLen, st.getModificationTime))).toMap
  }

  /** A materialized mart and a feed correcting every 5th row of its
    * oldest year: (mart dir, touched year, feed).
    */
  private def martAndFeed(name: String): (String, Int, DataFrame) = {
    val out = Files.createTempDirectory(name).toString
    Mart.materialize(spark, sf(), out)
    val fact = Mart.table(spark, out, Mart.FactTable)
    val touched = fact.select(min("year")).head().getInt(0)
    val feed = fact.filter(col("year") === touched &&
        pmod(col("l_orderkey"), lit(5)) === 0)
      .drop("year")
      .withColumn("avg_temp_f", col("avg_temp_f") + 100.0)
      .localCheckpoint()
    (out, touched, feed)
  }

  test("mergeFact streams the stored fact into its write: one query " +
       "scans, anti-joins, unions and writes, no pinned merged frame") {
    val (out, _, feed) = martAndFeed("graft_mart_stream")
    val plans = new AdaptiveSparkPlanHelper {}
    val writes = collection.mutable.ArrayBuffer[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (plans.find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).nonEmpty)
          writes.synchronized(writes += qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Mart.mergeFact(spark, out, feed)
      graft.core.GraftSession.drainListeners(spark)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 1, s"expected one write query, saw ${writes.size}")
    val write = writes.head
    // the stored side is a partition-pruned parquet scan of the fact,
    // read by the write query itself (a pinned merged frame shows as
    // one Scan ExistingRDD and no file scan)
    val factScans = plans.collect(write) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == Mart.FactTable) => s
    }
    assert(factScans.nonEmpty && factScans.forall(_.partitionFilters.nonEmpty),
      s"the write does not scan the stored fact by year:\n$write")
    // the merged side is the planned union; outside the broadcast feed
    // keys, its stored branch streams from the file scan, not an RDD
    val unions = plans.collect(write) { case u: UnionExec => u }
    assert(unions.size == 1, s"the write does not read the union:\n$write")
    def streamed(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: BroadcastQueryStageExec | _: BroadcastExchangeLike => Nil
      case a: AdaptiveSparkPlanExec => streamed(a.executedPlan)
      case q: QueryStageExec => streamed(q.plan)
      case _ => p +: p.children.flatMap(streamed)
    }
    val storedBranch = unions.head.children.map(streamed)
      .filter(_.exists(_.isInstanceOf[FileSourceScanExec]))
    assert(storedBranch.size == 1 &&
      !storedBranch.head.exists(_.isInstanceOf[RDDScanExec]),
      s"the stored branch of the merge reads an RDD:\n$write")
  }

  test("mergeFact failing mid-write leaves the stored fact as it was: " +
       "files, row count, no staging directory") {
    val (out, touched, feed) = martAndFeed("graft_mart_abort")
    val factDir = s"$out/${Mart.FactTable}"
    val before = tree(factDir)
    val rows = Mart.table(spark, out, Mart.FactTable).count()
    // a touched-year file whose footer reads (schema inference passes)
    // but whose row groups do not decode: the write job fails only
    // once its tasks read the stored side
    val yearDir = new java.io.File(s"$factDir/year=$touched")
    val good = yearDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val bytes = Files.readAllBytes(good.toPath)
    val footer = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    java.util.Arrays.fill(bytes, 4, bytes.length - 8 - footer, 0xff.toByte)
    val corrupt = new java.io.File(yearDir, "part-99999-corrupt.snappy.parquet")
    Files.write(corrupt.toPath, bytes)

    val ex = intercept[Exception](Mart.mergeFact(spark, out, feed))
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(corrupt.getName)),
      s"the merge failed before reading the stored side: $ex")
    assert(corrupt.delete())
    val after = tree(factDir)
    assert(after.keys.forall(!_.contains(".spark-staging")),
      s"a staging directory survived the failed merge: ${after.keys}")
    assert(after == before, "the failed merge changed the stored fact: " +
      s"${(after.toSet diff before.toSet) ++ (before.toSet diff after.toSet)}")
    assert(Mart.table(spark, out, Mart.FactTable).count() == rows)
  }
}
