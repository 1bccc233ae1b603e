package graft.core

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one local session every graft main runs on (Bench, Verify and
  * the `graft.tools` harnesses), plus the task-byte counter the
  * measuring mains share.
  *
  * `local[n]` with `n` = `SPARK_GRAFT_CPUS`, or the host's core count
  * when unset; the shuffle width starts at `n` and the mains that read an
  * SF directory resize it with [[Tuning.autoShufflePartitions]]. Shuffle
  * files are removed synchronously inside the ContextCleaner thread
  * (`blocking.shuffle`) so a cleanup cannot race the IO of the next
  * timed query; no main relies on asynchronous shuffle cleanup.
  */
object GraftSession {
  def apply(): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Deliver every pending listener event (task ends, SQL executions)
    * before a counter or a captured plan is read. A failed flush is
    * reported: the bytes of the tasks still queued would be credited
    * to whatever is measured next.
    */
  def drainListeners(spark: SparkSession): Unit =
    try org.apache.spark.graft.BenchBus.waitUntilEmpty(spark.sparkContext)
    catch { case e: Throwable =>
      System.err.println("[session] WARNING: listener flush failed " +
        s"(${e.getClass.getSimpleName}: ${e.getMessage}); task bytes may " +
        "be credited to the next measurement")
    }

  /** Cumulative task input bytes and shuffle read+write bytes of every
    * task that ends on `spark` after construction.
    */
  final class TaskBytes(spark: SparkSession) {
    private val read = new AtomicLong
    private val shuffle = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          read.addAndGet(m.inputMetrics.bytesRead)
          shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })

    /** (read bytes, shuffle bytes) so far, after a listener flush. */
    def snapshot(): (Long, Long) = {
      drainListeners(spark)
      (read.get(), shuffle.get())
    }

    /** Run `f`: (result, read bytes, shuffle bytes, seconds). The
      * seconds exclude the listener flushes. */
    def measured[T](f: => T): (T, Long, Long, Double) = {
      val (r0, s0) = snapshot()
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      val (r1, s1) = snapshot()
      (r, r1 - r0, s1 - s0, dt)
    }
  }
}
